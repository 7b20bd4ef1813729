package pipeline.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Real whole-stage-codegen glue for the native expressions: the generated
 * Java calls the expression's public `compute` with the CHILD'S GENERATED
 * VALUE. CodegenFallback (the r1 form) instead embeds
 * `references[i].eval(row)`, which forces the enclosing operator to
 * materialize an InternalRow per call and re-evaluate the child through the
 * interpreted path — this keeps the hot parse/hash/cosine expressions inside
 * the fused codegen span with zero row churn.
 */
object NativeCodegen {

  /** Snippet: `ev.value = unbox(ref.compute(childVal))`, nulling on a null
    * compute() result. Use inside nullSafeCodeGen. When the expression is
    * NON-nullable, `ev.isNull` is the literal `false` (not a variable) —
    * assigning it would generate uncompilable Java (`false = true;`) and
    * silently fall back to interpreted execution — so the null branch is
    * only emitted for nullable expressions (whose compute() may return
    * null); non-nullable computes never do, by contract. */
  def callCompute(ctx: CodegenContext, ev: ExprCode, expr: Expression,
                  dt: DataType, args: String): String = {
    val ref = ctx.addReferenceObj("nativeExpr", expr, expr.getClass.getName)
    val r = ctx.freshName("res")
    val unbox = dt match {
      case LongType => s"((java.lang.Long) $r).longValue()"
      case DoubleType => s"((java.lang.Double) $r).doubleValue()"
      case IntegerType => s"((java.lang.Integer) $r).intValue()"
      case BooleanType => s"((java.lang.Boolean) $r).booleanValue()"
      case _ => s"(${CodeGenerator.javaType(dt)}) $r"
    }
    if (expr.nullable)
      s"""
         |Object $r = $ref.compute($args);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $unbox; }
       """.stripMargin
    else
      s"""
         |Object $r = $ref.compute($args);
         |${ev.value} = $unbox;
       """.stripMargin
  }
}

/**
 * Native Catalyst expressions for the hash-heavy training-data operators.
 *
 * Why these exist: the Column/higher-order-function formulations in
 * pipeline.ops are correct and oracle-checked, but HOFs are not
 * whole-stage-codegen'd and projection collapse inlines their (large)
 * expression trees many times over — measured 40s+ for MinHash over 500
 * docs. Each expression below does the whole per-row computation in ONE
 * tight Scala pass with a reused MessageDigest: same results (bit-for-bit,
 * spec-tested against the HOF versions and the DuckDB oracle), orders of
 * magnitude faster, and the per-row work stays narrow (no shuffle).
 *
 * Semantics shared with pipeline.ops.Portable:
 *   hash32(s)      = first 4 bytes of md5(utf8(s)) as unsigned big-endian
 *   permuted(x, j) = ((2j+1)·x + 7919j + 1) mod (2^31 − 1)
 *   tokens(s)      = split(trim_spaces(s), \s+)   [Spark split semantics]
 */
object PortableHash {

  val P: Long = 2147483647L

  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  def hash32(bytes: Array[Byte]): Long = {
    val d = mdLocal.get()
    d.reset()
    val h = d.digest(bytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  def hash32(s: String): Long =
    hash32(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def permuted(x: Long, j: Int): Long = ((2L * j + 1L) * x + 7919L * j + 1L) % P

  /** Spark `trim` trims 0x20 only (not all Java whitespace) — match it. */
  def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** Matches Spark `split(trim(s), "\\s+")` (Java regex, limit -1). */
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  def tokens(s: String): Array[String] = Ws.split(trimSpaces(s), -1)

  /** Distinct word n-gram shingles in first-occurrence order. */
  def shingles(words: Array[String], n: Int): Array[String] = {
    if (words.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var k = 1
      while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }
}

/** MinHash signature: array<long> of `numHashes` minima over word
  * `nGram`-shingles; null when the text has no shingles (parity with
  * array_min over an empty array yielding an all-null signature, which
  * downstream filters drop). */
case class MinHashSigExpr(child: Expression, nGram: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    val shs = PortableHash.shingles(words, nGram)
    if (shs.isEmpty) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shs.length) {
      val h = PortableHash.hash32(shs(i))
      var j = 0
      while (j < numHashes) {
        val p = PortableHash.permuted(h, j)
        if (p < sig(j)) sig(j) = p
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
}

/** SimHash over word tokens, `bits` bits — same value as Dedup.simhash. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    val counts = new Array[Long](bits)
    var i = 0
    while (i < words.length) {
      val h = PortableHash.hash32(words(i))
      var b = 0
      while (b < bits) {
        counts(b) += ((h >> b) & 1L) * 2L - 1L
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    java.lang.Long.valueOf(out)
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}

/** One-pass repetition stats over word bigrams — same values as the
  * sort+run-length HOF formulation in CorpusRefine.repetitionFeatures
  * (a hash count's max == the max run length of ANY total order, so the
  * counting method is parity-irrelevant). Null when the text has fewer
  * than 2 words (parity with the HOF path's `size(words) >= 2` filter:
  * callers drop null rows). */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false),
    StructField("n_distinct_words", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false)))
  override def nullable: Boolean = true

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    if (words.length < 2) return null
    val distinct = new java.util.HashSet[String](words.length * 2)
    var i = 0
    while (i < words.length) { distinct.add(words(i)); i += 1 }
    // tokens are \\s+-split so they contain no whitespace — the
    // space-joined key is injective per (left, right) pair and is
    // byte-identical to the HOF path's concat_ws(" ", l, r) bigram string
    val counts = new java.util.HashMap[String, Long](words.length * 2)
    var top = 0L
    i = 0
    while (i < words.length - 1) {
      val key = words(i) + " " + words(i + 1)
      val c = counts.merge(key, 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((words.length - 1).toLong, top, distinct.size.toLong,
        words.length.toLong))
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr = copy(child = c)
}

/** Rolling word-level fingerprint — same value as TextAnalysis.fingerprint. */
case class FingerprintExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    var acc = 0L
    var i = 0
    while (i < words.length) {
      acc = (acc * 31L + PortableHash.hash32(words(i))) % PortableHash.P
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): FingerprintExpr = copy(child = c)
}

/** Stopword-marker language ID — same value as TextAnalysis.langIdHof
  * (the HOF twin, kept for the generated-SQL-oracle parity spec): argmax
  * of marker hits over TextAnalysis.LangMarkers, first-listed language
  * wins ties, "und" when nothing hits. ONE pass per row: each token looks
  * up a per-word language BITMASK (a word may mark several languages —
  * nl/fr/es/pt share stopwords) and increments every set language's
  * count — vs the interpreted HOF's #langs × #markers membership tests
  * per token (measured 3.4× slower at 10×20 on the driver bench; the 4th
  * instance of the native-over-HOF rule). */
case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  @transient private lazy val langs: Array[UTF8String] =
    pipeline.ops.TextAnalysis.LangMarkers.map(l => UTF8String.fromString(l._1)).toArray
  @transient private lazy val masks: java.util.HashMap[String, Integer] = {
    val lm = pipeline.ops.TextAnalysis.LangMarkers
    // Int bitmask: language 32 would alias bit 0 (1 << 32 wraps) and
    // silently corrupt counts — fail loudly if the spec table outgrows it
    require(lm.size <= 32, s"LangIdExpr bitmask supports <= 32 languages, got ${lm.size}")
    val m = new java.util.HashMap[String, Integer]()
    lm.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue) | (1 << i)))
      }
    }
    m
  }
  @transient private lazy val Und = UTF8String.fromString("und")

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    val counts = new Array[Long](langs.length)
    var i = 0
    while (i < words.length) {
      val mk = masks.get(words(i))
      if (mk != null) {
        var b = mk.intValue
        while (b != 0) {
          counts(java.lang.Integer.numberOfTrailingZeros(b)) += 1
          b &= b - 1
        }
      }
      i += 1
    }
    var best = 0L
    var j = 0
    while (j < counts.length) { if (counts(j) > best) best = counts(j); j += 1 }
    if (best == 0L) Und
    else {
      var k = 0
      while (counts(k) != best) k += 1
      langs(k)
    }
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): LangIdExpr = copy(child = c)
}

/** Random-hyperplane LSH bucket for a float vector — same value as
  * Similarity.hyperplaneSig. Plane weights (±1) are precomputed once per
  * (planes, dim) from the same portable-hash formula. */
case class HyperplaneSigExpr(child: Expression, planes: Int, dim: Int,
                             planeOffset: Int = 0)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  @transient private lazy val weights: Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, i) =>
      (PortableHash.hash32(s"${p + planeOffset}:$i") % 2L) * 2.0 - 1.0
    }

  def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toFloatArray()
    // HOF twin: v.getItem(i) past the end null-poisons every plane's dot,
    // so when(dot > 0) falls to the otherwise(0) branch -> bucket 0
    if (v.length < dim) return java.lang.Long.valueOf(0L)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val w = weights(p)
      var dot = 0.0
      var i = 0
      val n = math.min(v.length, dim)
      while (i < n) { dot += v(i).toDouble * w(i); i += 1 }
      if (dot > 0) bucket |= 1L << p
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): HyperplaneSigExpr = copy(child = c)
}

/** Cosine similarity of two float vectors in double precision — the native
  * twin of Portable.cosine: identical sequential (left-to-right) double
  * accumulation after exact float→double widening, so results are
  * bit-identical (parity-tested) while evaluation is one tight loop
  * instead of three interpreted higher-order folds per pair. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  // can return null on a vector-length mismatch even for non-null inputs
  override def nullable: Boolean = true

  def compute(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData].toFloatArray()
    val vb = b.asInstanceOf[ArrayData].toFloatArray()
    // HOF twin (zip_with) null-pads a length mismatch and the fold returns
    // null — mirror that instead of silently truncating
    if (va.length != vb.length) return null
    val n = va.length
    // one fused pass: each accumulator's addition order is unchanged vs
    // three separate loops, so results stay bit-identical at a third of
    // the array traversals (this runs per candidate pair in the exact
    // verify stage — the hot inner loop)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = va(i).toDouble
      val y = vb(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => NativeCodegen.callCompute(ctx, ev, this, dataType, s"$a, $b"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

/** Distinct word n-gram shingles as array<string> — the fast feeder for
  * the exact-Jaccard join. */
case class ShinglesExpr(child: Expression, nGram: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(input: Any): Any = {
    val words = PortableHash.tokens(input.asInstanceOf[UTF8String].toString)
    val shs = PortableHash.shingles(words, nGram)
    new GenericArrayData(shs.map(UTF8String.fromString): Array[Any])
  }
  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): ShinglesExpr = copy(child = c)
}

/** Column-API bindings. */
object PortableExprs {
  import org.apache.spark.sql.GraftColumnBridge

  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def e(col: Column): Expression = GraftColumnBridge.expression(col)

  def minhashSig(text: Column, nGram: Int, numHashes: Int): Column =
    c(MinHashSigExpr(e(text), nGram, numHashes))
  def simhash(text: Column, bits: Int): Column = c(SimHashExpr(e(text), bits))
  def fingerprint(text: Column): Column = c(FingerprintExpr(e(text)))
  // cast: the HOF twin coerced non-string columns through trim/split's
  // StringType expectations; the native expr restores that at the seam
  def langId(text: Column): Column = c(LangIdExpr(e(text.cast("string"))))
  def repetitionStats(text: Column): Column = c(RepetitionStatsExpr(e(text)))
  def hyperplaneSig(vec: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    c(HyperplaneSigExpr(e(vec), planes, dim, planeOffset))
  def shingles(text: Column, nGram: Int): Column = c(ShinglesExpr(e(text), nGram))
  def parseEvent(url: Column, text: Column): Column =
    c(ParseEventExpr(e(url), e(text)))
  def cosine(a: Column, b: Column): Column = c(CosineSimExpr(e(a), e(b)))
}
