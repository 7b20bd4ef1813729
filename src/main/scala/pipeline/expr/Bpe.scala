package pipeline.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic merge-table byte-pair encoding: a REAL BPE tokenizer,
 * replacing the pretokenizer-regex ESTIMATE
 * (pipeline.ops.TextAnalysis.bpeTokenCount — kept alongside for
 * comparison) where an actual subword count matters: token budgets drive
 * shard packing (CorpusRefine.packTokenShards) and corpus pricing, and a
 * regex estimate miscounts code/UTF-8-heavy text.
 *
 * Two merge-table sources:
 *
 *  - the EMBEDDED FIXTURE table, learned at class load from an embedded
 *    corpus by the classic BPE procedure (count adjacent symbol pairs over
 *    the word frequency table; merge the most frequent, ties broken
 *    lexicographically; repeat) — a pure function of the corpus constant,
 *    so every executor and every rerun derives the identical table: no
 *    model file, no RNG, no network;
 *  - a LOADED table in the GPT-2 `merges.txt` format ([[Bpe.load]] /
 *    [[Bpe.parseMerges]]): one `left right` pair per line in rank order,
 *    `#version` header lines and blanks skipped (ONLY those — real
 *    GPT-2 vocabularies contain merges whose symbols start with '#') —
 *    how production vocabularies (32k–100k merges) enter the pipeline.
 *
 * Two PRETOKENIZER modes per table ([[BpeTable.byteLevel]]):
 *
 *  - CHAR-LEVEL (default): our three-class regex ([[Bpe.PretokenRe]] —
 *    ASCII letter runs, digit runs, punct runs; whitespace separates and
 *    is never counted), symbols = characters. A verbatim GPT-2 file
 *    parses fine here but its `Ġ` space-marker entries never fire,
 *    because char-level pretokens never carry the marker.
 *  - BYTE-LEVEL (GPT-2's own convention): the GPT-2 pretokenizer regex
 *    (contraction suffixes, space-attached letter/number/punct runs,
 *    whitespace-run tokens — hand-rolled in [[Bpe.gpt2TokenEnd]],
 *    spec-pinned equal to the published pattern with Python-regex `\s`
 *    semantics spelled out: Unicode White_Space plus U+001C–001F), then
 *    each pretoken's UTF-8 bytes map
 *    through the GPT-2 `bytes_to_unicode` table ([[Bpe.ByteEnc]]:
 *    0x20→`Ġ`, 0x0A→`Ċ`, printable bytes→themselves), symbols = mapped
 *    bytes. Under this mode a VERBATIM upstream GPT-2-family merges.txt
 *    prices text exactly — every `Ġ` entry fires — so token budgets match
 *    the training-side tokenizer byte for byte. Whitespace itself
 *    tokenizes (multi-space runs, code indentation), unlike char level.
 *
 * Encoding applies merges in learned-rank order (lowest rank first),
 * exactly like GPT-2-style tokenizers apply their merges.txt.
 */
object Bpe {

  /** GPT-2-style pretokenizer (the SAME regex as the estimate in
    * TextAnalysis.bpeTokenCount): letter runs, digit runs, punctuation
    * runs; whitespace separates and is not counted. */
  val PretokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+".r

  /** Embedded training fixture: deterministic English+code+number text,
    * plus a stem×suffix morphology block ([[MorphBlock]]) that widens the
    * learned vocabulary to production-shaped subword merges (round-4
    * verdict: a ~500-merge table under-merges real text and overcounts
    * tokens). Still small by design — the point is a REAL merge procedure
    * with stable results; swap in a merges.txt for linguistic coverage. */
  val TrainingCorpus: String = (BaseCorpusLines ++ Seq(MorphBlock, MorphBlock))
    .mkString(" ")

  private def BaseCorpusLines: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog and the cat sat on the mat",
    "in the beginning the web page loaded the server returned the status",
    "request response header body content length type encoding charset utf",
    "error warning info debug trace log level message timestamp source sink",
    "select from where group by order limit join union distinct count sum",
    "function return value string integer double boolean array struct map",
    "http https ftp smtp imap pop dns tcp udp tls ssl ipv4 ipv6 localhost",
    "parse enrich route aggregate batch flush retry deadletter checkpoint",
    "123 456 789 1024 2048 4096 8192 100 200 301 404 500 502 503 2026",
    "ing tion ed er est ly ness ment able ible ous ful less ish es s",
    "pre post un re de over under out up down inter trans sub super anti",
    "the of and to in is was for on as with by at from it an be this that",
    "spark scala parquet iceberg shuffle partition executor driver codegen",
    "document corpus token shard budget sample stratum language quality",
    "loading loaded loader parsing parsed parser encoding encoded encoder",
    "requesting requested responses responding processed processing",
    "partitions partitioned executors drivers documents corpora tokens",
    "warnings errors messages timestamps sources sinks batches flushes",
    "selected selecting grouped grouping ordered ordering joined joining",
    "counted counting summed summing limited limiting united uniting",
    "strings integers doubles booleans arrays structs mappings functions",
    "checkpoints checkpointing retried retrying aggregated aggregating",
    "enriched enriching routed routing batched batching sampled sampling",
    "statuses headers bodies contents lengths types charsets levels",
    "quicker quickest browner brownest lazier laziest slower slowest",
    "distinctly distinctive distinction partitioner repartitioning",
    "international internationally transformation transformations",
    "understandable understanding misunderstanding underestimated",
    "the web pages were loaded and the servers returned their statuses",
    "all the requests and responses were logged with their timestamps",
    "every document in the corpus was tokenized sharded and sampled",
    "languages and qualities were estimated for each of the documents")

  /** Deterministic morphology block: every stem×suffix crossing, emitted
    * TWICE in the corpus so each crossing's adjacent pairs clear the
    * min-frequency-2 learning bar. Pure data, no RNG — reruns and
    * executors derive the identical table. */
  private def MorphBlock: String = {
    val stems = Vector(
      "load", "pars", "process", "request", "respond", "encod", "decod",
      "partition", "execut", "aggregat", "stream", "batch", "rout",
      "enrich", "filter", "sampl", "shard", "token", "index", "cach",
      "serializ", "compress", "schedul", "monitor", "validat", "transform",
      "normaliz", "digest", "cluster", "replicat", "migrat", "deploy",
      "configur", "authentic", "authoriz", "connect", "disconnect",
      "subscrib", "publish", "consum", "produc", "transmit", "receiv",
      "archiv", "restor", "snapshot", "compact", "merg", "split", "shuffl")
    val suffixes = Vector(
      "e", "es", "ed", "er", "ers", "ing", "ings", "ion", "ions",
      "able", "ement", "ation")
    stems.flatMap(st => suffixes.map(st + _)).mkString(" ")
  }

  /** Classic BPE learning over a word-frequency table. Deterministic:
    * ties on pair frequency break by the lexicographically smallest
    * (left, right). Stops early when no adjacent pair occurs twice.
    * `byteLevel` learns over GPT-2 pretokens mapped through [[ByteEnc]]
    * (so the table carries `Ġ`-prefixed merges, the production shape);
    * default is char-level over [[PretokenRe]]. */
  def learn(corpus: String, numMerges: Int,
            byteLevel: Boolean = false): Vector[(String, String)] = {
    val pretokens: Seq[String] =
      if (byteLevel) gpt2Pretokens(corpus).map(toByteSymbols).toSeq
      else PretokenRe.findAllIn(corpus).toSeq
    learnFromCounts(
      pretokens
        .groupBy(w => w.map(_.toString).toVector)
        .map { case (syms, ws) => syms -> ws.size.toLong },
      numMerges)
  }

  /** The merge-learning loop over a word-frequency table — the shared
    * core of [[learn]] (in-memory corpus) and [[train]] (distributed
    * word counting). Word keys are SYMBOL vectors (single chars initially;
    * byte-level words arrive already mapped through [[ByteEnc]]). */
  def learnFromCounts(words0: Map[Vector[String], Long],
                      numMerges: Int): Vector[(String, String)] = {
    // INDEXED INCREMENTAL form (the HF-tokenizers shape). The naive loop -
    // recount every pair over every word, scan for the argmax, rebuild
    // every word, once PER MERGE - is O(merges x total word length): fine
    // for the embedded fixture corpus, hours for a 1M-entry word table
    // (measured: the 1M-doc drill sat single-threaded 25+ min before
    // this). Here each merge touches only the words that CONTAIN the
    // merged pair: their old adjacent pairs are decremented, the word is
    // rebuilt, its new pairs incremented, and an ordered set keyed by
    // (-count, left, right) keeps the argmax O(log P). The selection rule
    // is bit-identical to the naive form (max count, ties to the
    // lexicographically smallest pair; stop when no pair occurs twice) -
    // pinned in BpeSpec against an in-spec naive reimplementation.
    import scala.collection.mutable
    type Pair = (String, String)
    val entries = words0.toArray
    val syms = entries.map { case (v, _) => mutable.ArrayBuffer.from(v) }
    val freq = entries.map(_._2)
    val pairCount = mutable.HashMap.empty[Pair, Long]
    // pair -> indices of words that (possibly stale - cleaned lazily on
    // the next touch, and tolerating occasional duplicates - both are
    // skipped by the has-occurrence check at merge time) contained it
    // when last rebuilt. A compact growable int buffer, NOT a BitSet:
    // BitSet is dense (bits up to the max word index, per pair), and at
    // ~1M words x millions of pairs that is a heap bomb - measured OOM
    // at the 1M-doc drill's first attempt.
    val pairWords = mutable.HashMap.empty[Pair, mutable.ArrayBuffer[Int]]
    val byCountThenPair: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1) // count DESC
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2)
            if (l != 0) l else a._3.compareTo(b._3)
          }
        }
      }
    val order = mutable.TreeSet.empty[(Long, String, String)](byCountThenPair)
    def bump(p: Pair, delta: Long, w: Int): Unit = {
      val old = pairCount.getOrElse(p, 0L)
      if (old > 0) order.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw > 0) {
        pairCount(p) = nw
        order.add((nw, p._1, p._2))
      } else {
        pairCount.remove(p)
        pairWords.remove(p)
      }
      if (delta > 0 && w >= 0 && nw > 0) {
        val buf = pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int])
        // consecutive-duplicate guard: one word bumps the same pair once
        // per occurrence within a single scan
        if (buf.isEmpty || buf(buf.length - 1) != w) buf += w
      }
    }
    var w = 0
    while (w < syms.length) {
      val s = syms(w)
      var i = 0
      while (i < s.length - 1) { bump((s(i), s(i + 1)), freq(w), w); i += 1 }
      w += 1
    }
    val merges = Vector.newBuilder[Pair]
    var n = 0
    var done = false
    while (n < numMerges && !done) {
      if (order.isEmpty || order.head._1 < 2) done = true
      else {
        val h = order.head
        val pair = (h._2, h._3)
        merges += pair
        val joined = pair._1 + pair._2
        val affected = pairWords.get(pair).map(_.toArray).getOrElse(Array.empty[Int])
        affected.foreach { wi =>
          val s = syms(wi)
          // stale-membership check: the word may have been rebuilt since
          // it registered for this pair
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            has = s(i) == pair._1 && s(i + 1) == pair._2; i += 1
          }
          if (has) {
            val f = freq(wi)
            i = 0
            while (i < s.length - 1) { bump((s(i), s(i + 1)), -f, -1); i += 1 }
            // leftmost non-overlapping rebuild - the naive replace rule
            val out = mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == pair._1 && s(i + 1) == pair._2) {
                out += joined; i += 2
              } else { out += s(i); i += 1 }
            }
            syms(wi) = out
            i = 0
            while (i < out.length - 1) { bump((out(i), out(i + 1)), f, wi); i += 1 }
          }
        }
        // the merged pair itself must be fully gone after the rebuilds
        pairCount.remove(pair).foreach(c => order.remove((c, pair._1, pair._2)))
        pairWords.remove(pair)
        n += 1
      }
    }
    merges.result()
  }

  /** The embedded-fixture table (learned once per JVM, identical on every
    * executor) — the default everywhere no merges.txt is configured. */
  lazy val Fixture: BpeTable =
    BpeTable.intern(new BpeTable(learn(TrainingCorpus, 8192)))

  /** Byte-level twin of [[Fixture]]: the same embedded corpus learned over
    * GPT-2 pretokens + [[ByteEnc]] symbols, so `Ġ`-marker merges are
    * learned and FIRE — byte-level mode works out of the box in a
    * zero-egress environment with no real merges.txt to load (and the
    * spec exercises the exact production table shape). */
  lazy val FixtureByteLevel: BpeTable =
    BpeTable.intern(new BpeTable(learn(TrainingCorpus, 8192, byteLevel = true),
      byteLevel = true))

  /** Fixture merge list (back-compat alias). */
  def Merges: Vector[(String, String)] = Fixture.merges

  /** Total fixture-table BPE token count for a text (driver-side twin of
    * the expression; specs compare against it). */
  def countTokens(text: String): Int = Fixture.countTokens(text)

  /**
   * Parse GPT-2 `merges.txt` content: one `left right` merge per line in
   * rank order; `#version`-prefixed header lines and blank lines skip
   * (the GPT-2 file opens with `#version: 0.2`). ONLY the version header
   * skips — real GPT-2-family vocabularies contain merges whose symbols
   * START with '#' (`# #`, `## #` — the merges that build multi-# code
   * tokens), and a blanket '#' comment rule would silently drop them,
   * exactly the truncation this parser exists to refuse. Malformed lines
   * (not exactly two space-separated non-empty fields) fail fast with
   * the line number.
   */
  def parseMerges(lines: IterableOnce[String]): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var ln = 0
    lines.iterator.foreach { raw =>
      ln += 1
      val line = raw.stripLineEnd
      if (line.nonEmpty && !line.startsWith("#version")) {
        val parts = line.split(" ", -1)
        if (parts.length != 2 || parts(0).isEmpty || parts(1).isEmpty)
          throw new IllegalArgumentException(
            s"merges.txt line $ln: expected 'left right', got '$line'")
        out += ((parts(0), parts(1)))
      }
    }
    out.result()
  }

  /** Render a merge table back to GPT-2 `merges.txt` format (with the
    * version header) — parseMerges∘renderMerges is identity. */
  def renderMerges(merges: Vector[(String, String)]): String =
    ("#version: 0.2" +: merges.map { case (l, r) => s"$l $r" }).mkString("\n") + "\n"

  /** Load a GPT-2-format merges.txt from a local/shared path. Driver-side:
    * the parsed table ships to executors inside the expression tree, so
    * only the driver needs to see the file (spark-submit `--files` lands
    * it in the driver cwd on a cluster). `byteLevel = true` for a
    * verbatim upstream GPT-2-family vocabulary (symbols are
    * [[ByteEnc]]-mapped bytes, `Ġ` markers fire); default char-level. */
  def load(path: String, byteLevel: Boolean = false): BpeTable =
    load(path, byteLevel, "")

  /** [[load]] plus a GPT-2-format `vocab.json` id map (`{"token": id}`,
    * [[parseVocab]]): the table then emits the UPSTREAM ids — what a
    * trainer that shipped the vocabulary actually consumes. Only
    * meaningful in byte-level mode (GPT-2 ids are defined over
    * byte-symbol strings); validated eagerly for full coverage — all 256
    * base byte symbols and every merge product must carry an id, the
    * GPT-2 invariant that makes encode total (no UNK at runtime).
    * `vocabPath = ""` keeps rank-derived ids ([[BpeTable.vocab]]). */
  def load(path: String, byteLevel: Boolean, vocabPath: String): BpeTable = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    val merges =
      parseMerges(scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala)
    val explicit =
      if (vocabPath.isEmpty) None
      else {
        require(byteLevel,
          "vocab.json ids are defined over byte-level symbols (the GPT-2 " +
            "format); load with byteLevel = true or drop vocabPath")
        val v = loadVocab(vocabPath)
        validateVocabCoverage(merges, v, vocabPath)
        Some(v)
      }
    BpeTable.intern(new BpeTable(merges, byteLevel, explicit))
  }

  /** [[load]] with a per-(path, mode, vocabPath) cache: config compilation
    * and SQL function resolution may build the same expression many times
    * per session, and a 50k-merge production table should parse once, not
    * per query. Deliberately no invalidation — a vocabulary file is
    * immutable for the life of a training run; editing it in place
    * mid-session is a user error this cache makes visible rather than
    * hides. */
  def loadCached(path: String, byteLevel: Boolean = false,
                 vocabPath: String = ""): BpeTable =
    loadedTables.computeIfAbsent((path, byteLevel, vocabPath),
      _ => load(path, byteLevel, vocabPath))

  private val loadedTables =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean, String), BpeTable]()

  /** Parse GPT-2 `vocab.json`: one JSON object mapping token string → id.
    * Field order is preserved; ids must be distinct non-negative integers
    * and tokens distinct (a duplicate on either side corrupts the
    * encode/decode bijection — fail fast, never last-wins). Non-integral
    * ids fail too: Jackson's asInt() would silently coerce. */
  def parseVocab(json: String): Vector[(String, Int)] = {
    // STRICT_DUPLICATE_DETECTION: plain readTree keeps the LAST duplicate
    // key silently — a duplicated token in a vocab file is corruption that
    // must fail, not last-wins
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    val root =
      try mapper.readTree(json)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IllegalArgumentException(s"vocab.json parse: ${e.getMessage}", e)
      }
    require(root != null && root.isObject,
      "vocab.json must be a single JSON object {\"token\": id}")
    val out = Vector.newBuilder[(String, Int)]
    val it = root.fields()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (!v.isIntegralNumber || !v.canConvertToInt || v.asLong() < 0)
        throw new IllegalArgumentException(
          s"vocab.json id for '${e.getKey}' must be a non-negative int, got $v")
      out += ((e.getKey, v.intValue))
    }
    val vs = out.result()
    val dupTok = vs.groupBy(_._1).collect { case (t, g) if g.size > 1 => t }
    require(dupTok.isEmpty, s"vocab.json duplicate token(s): ${dupTok.take(3).mkString(", ")}")
    val dupId = vs.groupBy(_._2).collect { case (i, g) if g.size > 1 => i }
    require(dupId.isEmpty, s"vocab.json duplicate id(s): ${dupId.take(3).mkString(", ")}")
    vs
  }

  def loadVocab(path: String): Vector[(String, Int)] =
    parseVocab(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8))

  /** Render a vocabulary back to `vocab.json` format —
    * parseVocab∘renderVocab is identity (symbols like `Ġ` escape through
    * Jackson's standard JSON string rules). */
  def renderVocab(vocab: Vector[(String, Int)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    vocab.foreach { case (t, i) => node.put(t, i) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
  }

  /** The GPT-2 coverage invariant an explicit vocab must satisfy for
    * byte-level encode to be TOTAL: an id for each of the 256 base byte
    * symbols and for every merge product. Checked at load, never at
    * encode — a missing entry is a corrupt vocabulary, not a data error. */
  private def validateVocabCoverage(merges: Vector[(String, String)],
                                    vocab: Vector[(String, Int)],
                                    path: String): Unit = {
    val toks = vocab.iterator.map(_._1).toSet
    var b = 0
    while (b < 256) {
      val s = String.valueOf(ByteEnc(b))
      require(toks.contains(s),
        s"$path: missing base byte symbol '$s' (byte $b) — not a full GPT-2 vocab")
      b += 1
    }
    merges.foreach { case (l, r) =>
      require(toks.contains(l + r), s"$path: missing merge product '${l + r}'")
    }
  }

  /** Number of BPE symbols for ONE pretoken: start from characters, then
    * per pass find the lowest-ranked adjacent pair present and merge ALL
    * its (leftmost-first, non-overlapping) occurrences — the published
    * GPT-2 word loop. For any rank-ordered table (every learned table,
    * and any merges.txt recorded in learn order) this is provably
    * identical to merging one occurrence at a time: a pair containing a
    * composite symbol was necessarily learned after that symbol, so no
    * merge can create a pair that undercuts the current minimum, and a
    * pair cannot recreate itself. Merge-all also bounds degenerate
    * uniform runs — a byte-level pretoken of n padding spaces with
    * space-run merges collapses in O(log n) passes (O(n log n) work)
    * where one-at-a-time paid O(n) passes (O(n²)) — the junk-doc shape
    * (whitespace padding, minified JS, base64) a web crawl actually
    * contains. */
  def encodeLen(token: String, ranks: java.util.HashMap[String, Integer]): Int =
    if (token.length <= 1) token.length else encodeSyms(token, ranks).size

  /** The merged SYMBOL SEQUENCE for one pretoken — the id-emission twin of
    * [[encodeLen]] (same merge loop; length == encodeLen by construction,
    * spec-pinned). Callers map each symbol through a vocabulary to get the
    * token-id sequence a trainer consumes. */
  def encodeSyms(token: String,
                 ranks: java.util.HashMap[String, Integer]): java.util.ArrayList[String] = {
    var syms = new java.util.ArrayList[String](token.length)
    var i = 0
    while (i < token.length) { syms.add(String.valueOf(token.charAt(i))); i += 1 }
    var merging = true
    while (merging && syms.size > 1) {
      var bestRank = Int.MaxValue
      var bestL: String = null
      var bestR: String = null
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + "\u0000" + syms.get(j + 1))
        if (r != null && r < bestRank) {
          bestRank = r; bestL = syms.get(j); bestR = syms.get(j + 1)
        }
        j += 1
      }
      if (bestL == null) merging = false
      else {
        val merged = bestL + bestR
        val out = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k < syms.size - 1 && syms.get(k) == bestL && syms.get(k + 1) == bestR) {
            out.add(merged); k += 2
          } else { out.add(syms.get(k)); k += 1 }
        }
        syms = out
      }
    }
    syms
  }

  // the pretokenizer's three character classes, exactly as the regex
  // defines them: Java \s is ASCII-only ([ \t\n\f\r]); everything
  // neither \s nor alnum (incl. unicode letters/spaces) is a punct run
  @inline private[expr] def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  @inline private[expr] def isAl(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  @inline private[expr] def isDg(c: Char): Boolean = c >= '0' && c <= '9'

  // ---------------------------------------------------------------------
  // Byte-level (GPT-2) mode
  // ---------------------------------------------------------------------

  /** GPT-2 `bytes_to_unicode`: a bijection byte → printable BMP char.
    * Bytes that are already printable-and-unambiguous (0x21–0x7E,
    * 0xA1–0xAC, 0xAE–0xFF) map to themselves; the 68 remaining bytes map,
    * in increasing byte order, to 0x100 + n — hence 0x20 (space) → `Ġ`
    * (U+0120), 0x0A (LF) → `Ċ` (U+010A), 0x09 (tab) → `ĉ` (U+0109).
    * This is the published GPT-2 encoder table (a pure arithmetic rule,
    * derived here, not copied data), and it is what makes merges.txt
    * symbols plain text: a merge file can carry any byte as a printable
    * character, whitespace included. */
  val ByteEnc: Array[Char] = {
    val a = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      val keeps = (b >= 0x21 && b <= 0x7E) || (b >= 0xA1 && b <= 0xAC) ||
        (b >= 0xAE && b <= 0xFF)
      if (keeps) a(b) = b.toChar
      else { a(b) = (0x100 + n).toChar; n += 1 }
      b += 1
    }
    a
  }

  /** Inverse of [[ByteEnc]]: char code → byte value, −1 for chars outside
    * the bijection's image (max image char is 0x100+67 = 0x143). Decoding
    * ids → text walks each vocab symbol's chars through this table. */
  val ByteDec: Array[Int] = {
    val a = Array.fill(0x144)(-1)
    var b = 0
    while (b < 256) { a(ByteEnc(b).toInt) = b; b += 1 }
    a
  }

  /** UTF-8 bytes of a pretoken mapped through [[ByteEnc]] — the symbol
    * string byte-level merges operate on (one char per BYTE). */
  def toByteSymbols(token: String): String = {
    val bytes = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = ByteEnc(bytes(i) & 0xFF); i += 1 }
    new String(out)
  }

  // GPT-2 pretokenizer character classes, by CODEPOINT (the pattern is
  // codepoint-wise; supplementary-plane letters must class as letters):
  // \s = PYTHON-regex whitespace — the Unicode White_Space property PLUS
  // the four information separators U+001C–001F (str.isspace semantics,
  // which the upstream tokenizer's `regex` module follows; Java's \s under
  // UNICODE_CHARACTER_CLASS excludes them, so the spec's oracle pattern
  // spells the class out explicitly), \p{L} = the five L categories,
  // \p{N} = Nd|Nl|No.
  @inline private[expr] def isWsU(cp: Int): Boolean =
    (cp >= 0x09 && cp <= 0x0D) || (cp >= 0x1C && cp <= 0x1F) || cp == 0x20 ||
      cp == 0x85 || cp == 0xA0 ||
      cp == 0x1680 || (cp >= 0x2000 && cp <= 0x200A) || cp == 0x2028 ||
      cp == 0x2029 || cp == 0x202F || cp == 0x205F || cp == 0x3000
  @inline private[expr] def isLu(cp: Int): Boolean = Character.isLetter(cp)
  @inline private[expr] def isNu(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** End (char index) of codepoints satisfying `p`, starting at `from`. */
  @inline private def runEnd(text: String, from: Int, p: Int => Boolean): Int = {
    var j = from
    while (j < text.length) {
      val cp = text.codePointAt(j)
      if (!p(cp)) return j
      j += Character.charCount(cp)
    }
    j
  }

  /** End of the GPT-2 pretoken starting at `start` — a hand-rolled scanner
    * for the published GPT-2 pattern
    * `'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+`
    * (the regex-module MatchIterator cost dominated the 1M-doc drill for
    * the char-level scanner; same rule here). Alternation order is the
    * pattern's: contraction suffixes (lowercase only — the upstream
    * pattern is case-sensitive) first; then an optional LITERAL space
    * attached to a letter/number/punct run; last the whitespace forms,
    * where `\s+(?!\S)` makes a run of k≥2 whitespace chars followed by
    * non-whitespace yield its first k−1 chars (the final one attaches to
    * the next token if it is 0x20, else stands alone). Spec-pinned
    * token-for-token equal to the compiled pattern on adversarial text. */
  private[expr] def gpt2TokenEnd(text: String, start: Int): Int = {
    val len = text.length
    val c = text.charAt(start)
    if (c == '\'' && start + 1 < len) {
      val c1 = text.charAt(start + 1)
      if (c1 == 's' || c1 == 't' || c1 == 'm' || c1 == 'd') return start + 2
      if (start + 2 < len) {
        val c2 = text.charAt(start + 2)
        if ((c1 == 'r' && c2 == 'e') || (c1 == 'v' && c2 == 'e') ||
            (c1 == 'l' && c2 == 'l')) return start + 3
      }
    }
    val k = if (c == ' ') start + 1 else start
    if (k < len) {
      val cp = text.codePointAt(k)
      if (isLu(cp)) return runEnd(text, k, isLu)
      if (isNu(cp)) return runEnd(text, k, isNu)
      if (!isWsU(cp)) return runEnd(text, k, p => !isWsU(p) && !isLu(p) && !isNu(p))
    }
    // whitespace by elimination (c == ' ' with nothing attachable, or a
    // non-space whitespace char)
    val e = runEnd(text, start, isWsU)
    if (e >= len || e - start == 1) e else e - 1
  }

  /** GPT-2 pretokens of `text`, in order (driver/spec surface; the hot
    * path inlines [[gpt2TokenEnd]] in [[BpeTable.countTokens]]). */
  def gpt2Pretokens(text: String): Iterator[String] =
    new scala.collection.AbstractIterator[String] {
      private var i = 0
      def hasNext: Boolean = i < text.length
      def next(): String = {
        val e = gpt2TokenEnd(text, i)
        val s = text.substring(i, e)
        i = e
        s
      }
    }

  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Column form: real BPE token count with the fixture table (null text →
    * null). Non-string columns coerce via the cast, like the estimate. */
  def bpeCount(text: Column): Column = bpeCount(text, Fixture)

  /** Column form against an explicit merge table (e.g. [[load]]ed from a
    * GPT-2 merges.txt) — the production-vocabulary path. */
  def bpeCount(text: Column, table: BpeTable): Column =
    column(BpeCountExpr(expression(text.cast("string")), table))

  /** Column form: token-ID sequence (`array<int>`) — see
    * [[BpeTable.encodeIds]]. Null text → null. */
  def bpeEncode(text: Column, table: BpeTable = Fixture): Column =
    column(BpeEncodeExpr(expression(text.cast("string")), table))

  /** Column form: ids → text — see [[BpeTable.decodeIds]]. Null ids (or
    * an array with null elements, or out-of-vocabulary ids) → null. */
  def bpeDecode(ids: Column, table: BpeTable = Fixture): Column =
    column(BpeDecodeExpr(expression(ids.cast("array<int>")), table))

  /** Column form: the pretoken stream (`array<string>`), symbol-mapped —
    * byte-level pretokens arrive as [[ByteEnc]] symbol strings, exactly
    * the unit the trainer and encoder operate on. Null text → null. */
  def pretokens(text: Column, byteLevel: Boolean): Column =
    column(BpePretokensExpr(expression(text.cast("string")), byteLevel))

  /**
   * DISTRIBUTED BPE TRAINING — corpus → merge table, closing the
   * tokenizer loop (train here, then [[bpeEncode]] /
   * [[pipeline.ops.CorpusRefine.writeSequenceShards]] consume the
   * result; `BpeTable.render`/`loadMerges` round-trip it as a standard
   * merges.txt).
   *
   * The industry-standard two-phase shape (how HF tokenizers /
   * SentencePiece train at scale): phase 1 is data-sized and
   * DISTRIBUTED — one explode + map-side-combined count produces the
   * word-frequency table, the only pass over the corpus; phase 2 is
   * vocabulary-sized and runs on the driver — [[learnFromCounts]] over
   * the collected word-frequency map (BPE merge selection is inherently
   * sequential: merge i+1's counts depend on merge i). `maxWords` bounds
   * the driver set (top by frequency, ties by word — deterministic):
   * the dropped long tail is single-occurrence noise that cannot win a
   * pair-count argmax against the head at real corpus sizes, the same
   * cap every production trainer applies.
   *
   * Deterministic end to end: counts are exact, the cap ordering is
   * total, and merge ties break lexicographically ([[learnFromCounts]]).
   */
  def train(corpus: org.apache.spark.sql.DataFrame, textCol: String,
            numMerges: Int, byteLevel: Boolean = false,
            maxWords: Int = 1 << 22): BpeTable = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    val wordCounts = corpus
      .select(explode(pretokens(col(textCol), byteLevel)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect()
    val freq = wordCounts.iterator
      // Long counts end to end: a stopword past 2^31 occurrences (real at
      // corpus scale) must not wrap negative and corrupt merge selection
      .map(r => r.getString(0).map(_.toString).toVector -> r.getLong(1))
      .toMap
    new BpeTable(learnFromCounts(freq, numMerges), byteLevel)
  }
}

/**
 * An immutable BPE merge table + encoder. Serializable — the table ships
 * to executors inside the expression tree (serialized once per stage into
 * the broadcast task binary, NOT per row); the rank lookup and the
 * per-thread memo rebuild lazily after deserialization. Equality is by
 * the merge list, so two plans over the same vocabulary stay
 * canonically equal (exchange reuse, semanticEquals).
 */
final class BpeTable(val merges: Vector[(String, String)],
                     val byteLevel: Boolean,
                     val explicitVocab: Option[Vector[(String, Int)]])
    extends Serializable {

  /** Char-level table (the default mode). */
  def this(merges: Vector[(String, String)]) = this(merges, false, None)

  /** Rank-derived ids (no vocab.json). */
  def this(merges: Vector[(String, String)], byteLevel: Boolean) =
    this(merges, byteLevel, None)

  /** Deserialization interns into the per-JVM cache: the table ships in
    * every task binary, and WITHOUT interning each task would rebuild the
    * transient ranks map (50k entries for a production vocabulary) and
    * start a cold memo — the cross-task Zipf hit rate the 1M-doc drill
    * measured depends on tasks sharing one instance per executor. */
  private def readResolve: Any = BpeTable.intern(this)

  @transient lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      // first occurrence wins, like GPT-2's dict(zip(merges, range(n)))
      // would NOT — it keeps the last; rank order makes lower win anyway
      if (!m.containsKey(l + "\u0000" + r)) m.put(l + "\u0000" + r, i)
    }
    m
  }

  /**
   * The vocabulary (token symbol → id): the loaded vocab.json when one was
   * given, else DERIVED deterministically from the table itself:
   *
   *  - byte-level: ids 0..255 are the 256 [[Bpe.ByteEnc]] symbols in byte
   *    order, then each NEW merge product takes the next id in rank order
   *    (two merges can build the same product string; the first keeps the
   *    id). Every encodable symbol has an id — encode is total, no UNK.
   *  - char-level: the base alphabet is the sorted distinct chars of the
   *    merge symbols, products follow in rank order, and one extra UNK id
   *    ([[unkId]], one past the last) catches chars outside the training
   *    alphabet — a finite char-level vocabulary cannot cover Unicode.
   */
  lazy val vocab: Vector[(String, Int)] = explicitVocab.getOrElse {
    val base: Vector[String] =
      if (byteLevel) (0 until 256).map(b => String.valueOf(Bpe.ByteEnc(b))).toVector
      else merges.iterator.flatMap { case (l, r) => (l + r).iterator }
        .map(String.valueOf(_)).toVector.distinct.sorted
    val out = Vector.newBuilder[(String, Int)]
    val seen = new java.util.HashSet[String]()
    var id = 0
    (base.iterator ++ merges.iterator.map { case (l, r) => l + r }).foreach { s =>
      if (seen.add(s)) { out += ((s, id)); id += 1 }
    }
    out.result()
  }

  /** UNK id for derived char-level tables (one past the largest vocab id);
    * −1 for byte-level and explicit vocabularies, whose coverage is total
    * (encode throws on a gap there — it would mean a corrupt vocab, not a
    * data condition). */
  lazy val unkId: Int =
    if (byteLevel || explicitVocab.isDefined) -1
    else vocab.iterator.map(_._2).maxOption.getOrElse(-1) + 1

  /** Ids a trainer must size its embedding matrix for (UNK included). */
  def vocabSize: Int =
    math.max(vocab.iterator.map(_._2).maxOption.getOrElse(-1), unkId) + 1

  @transient private lazy val idOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.foreach { case (t, i) => m.put(t, Integer.valueOf(i)) }
    m
  }

  // id → symbol; dense array (GPT-2 vocabularies are dense; derived ones
  // are by construction). UNK decodes to U+FFFD, the standard replacement.
  @transient private lazy val symAt: Array[String] = {
    val a = new Array[String](vocabSize)
    vocab.foreach { case (t, i) => a(i) = t }
    if (unkId >= 0) a(unkId) = "�"
    a
  }

  /** Per-thread LRU memo of pretoken → encoded length: word frequency is
    * Zipfian on real text, so most pretokens repeat constantly and the
    * O(len²) merge loop re-derives the same answer (measured 16.8s → see
    * BASELINE.md for the 1M-doc before/after). ThreadLocal because
    * expression instances can be shared across task threads in local
    * mode; per-TABLE so two vocabularies never cross-contaminate entries;
    * memoizing a pure function keeps results bit-identical. */
  @transient private lazy val cacheLocal =
    ThreadLocal.withInitial[java.util.LinkedHashMap[String, Integer]](() =>
      new java.util.LinkedHashMap[String, Integer](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Integer]): Boolean = size > 65536
      })

  def encodeLen(token: String): Int = Bpe.encodeLen(token, ranks)

  /** Total BPE token count for a text (sum over pretokens), in this
    * table's mode. */
  def countTokens(text: String): Int =
    if (byteLevel) countTokensByteLevel(text) else countTokensCharLevel(text)

  /** Byte-level count: GPT-2 pretokens ([[Bpe.gpt2TokenEnd]]), symbols =
    * [[Bpe.ByteEnc]]-mapped UTF-8 bytes. Memo key is the RAW pretoken
    * (mapping is injective; the memo is per-table, so modes never
    * cross-contaminate); same >64-char whole-document bypass as char
    * level. */
  /** Encode length for one CHAR-LEVEL pretoken through the per-thread
    * memo (symbols == the raw pretoken). Long tokens bypass the memo: a
    * whitespace-free document (CJK, base64, minified JS) is ONE pretoken,
    * and caching whole documents per pooled thread would pin unbounded
    * heap; >64-char tokens rarely repeat Zipf-style anyway. */
  @inline private def memoLen(
      tok: String,
      rk: java.util.HashMap[String, Integer],
      cache: java.util.LinkedHashMap[String, Integer]): Int = {
    if (tok.length > 64) return Bpe.encodeLen(tok, rk)
    var n = cache.get(tok)
    if (n == null) {
      n = Integer.valueOf(Bpe.encodeLen(tok, rk))
      cache.put(tok, n)
    }
    n.intValue
  }

  private def countTokensByteLevel(text: String): Int = {
    val rk = ranks
    val cache = cacheLocal.get()
    var total = 0
    var i = 0
    val len = text.length
    while (i < len) {
      val e = Bpe.gpt2TokenEnd(text, i)
      val tok = text.substring(i, e)
      i = e
      // memo key is the RAW pretoken, checked BEFORE byte-encoding: a hit
      // must skip the O(len) UTF-8 symbol mapping too, not just the merge
      // loop — that's where the Zipf-repeat savings are
      if (tok.length > 64) total += Bpe.encodeLen(Bpe.toByteSymbols(tok), rk)
      else {
        var n = cache.get(tok)
        if (n == null) {
          n = Integer.valueOf(Bpe.encodeLen(Bpe.toByteSymbols(tok), rk))
          cache.put(tok, n)
        }
        total += n.intValue
      }
    }
    total
  }

  /** Char-level count: hand-rolled scanner over the SAME three classes as
    * [[Bpe.PretokenRe]] (spec-pinned equal on adversarial strings): the
    * Scala MatchIterator dominated the 1M-doc drill (regex scan ≈ the
    * whole 16.8s; see BASELINE.md). */
  private def countTokensCharLevel(text: String): Int = {
    import Bpe.{isAl, isDg, isWs}
    val rk = ranks
    val cache = cacheLocal.get()
    var total = 0
    var i = 0
    val len = text.length
    while (i < len) {
      val c = text.charAt(i)
      if (isWs(c)) i += 1
      else {
        val start = i
        if (isAl(c)) { i += 1; while (i < len && isAl(text.charAt(i))) i += 1 }
        else if (isDg(c)) { i += 1; while (i < len && isDg(text.charAt(i))) i += 1 }
        else {
          i += 1
          while (i < len && { val x = text.charAt(i); !isWs(x) && !isAl(x) && !isDg(x) }) i += 1
        }
        val tok = text.substring(start, i)
        total += memoLen(tok, rk, cache)
      }
    }
    total
  }

  // -------------------------------------------------------------------
  // Token-ID emission (the trainer-consumable form)
  // -------------------------------------------------------------------

  /** Per-thread LRU memo of pretoken → id array (the ids twin of the
    * count memo; separate so counting jobs never evict for encoding jobs
    * and vice versa). Entries are ≤64-element int arrays; smaller cap
    * than the count memo since each entry is ~30× an Integer. */
  @transient private lazy val idsCacheLocal =
    ThreadLocal.withInitial[java.util.LinkedHashMap[String, Array[Int]]](() =>
      new java.util.LinkedHashMap[String, Array[Int]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Int]]): Boolean = size > 16384
      })

  private def computeIds(tok: String): Array[Int] = {
    val syms = Bpe.encodeSyms(if (byteLevel) Bpe.toByteSymbols(tok) else tok, ranks)
    val out = new Array[Int](syms.size)
    var i = 0
    while (i < syms.size) {
      val id = idOf.get(syms.get(i))
      out(i) =
        if (id != null) id.intValue
        else if (unkId >= 0) unkId
        else throw new IllegalStateException(
          s"no id for symbol '${syms.get(i)}' — vocabulary coverage broken")
      i += 1
    }
    out
  }

  @inline private def pretokenIds(
      tok: String, cache: java.util.LinkedHashMap[String, Array[Int]]): Array[Int] = {
    if (tok.length > 64) return computeIds(tok) // same no-whole-doc-pinning rule
    var a = cache.get(tok)
    if (a == null) { a = computeIds(tok); cache.put(tok, a) }
    a
  }

  /** Token-ID sequence for a text — what a trainer actually consumes
    * (`size(encodeIds(t)) == countTokens(t)`, spec-pinned: same pretokens,
    * same merge loop, ids are just the symbols mapped through [[vocab]]).
    * Char-level drops whitespace like the count does; byte-level keeps
    * every byte, so [[decodeIds]] round-trips the exact text. */
  def encodeIds(text: String): Array[Int] = {
    val cache = idsCacheLocal.get()
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    out.sizeHint(text.length / 4 + 4)
    val len = text.length
    if (byteLevel) {
      var i = 0
      while (i < len) {
        val e = Bpe.gpt2TokenEnd(text, i)
        out ++= pretokenIds(text.substring(i, e), cache)
        i = e
      }
    } else {
      import Bpe.{isAl, isDg, isWs}
      var i = 0
      while (i < len) {
        val c = text.charAt(i)
        if (isWs(c)) i += 1
        else {
          val start = i
          if (isAl(c)) { i += 1; while (i < len && isAl(text.charAt(i))) i += 1 }
          else if (isDg(c)) { i += 1; while (i < len && isDg(text.charAt(i))) i += 1 }
          else {
            i += 1
            while (i < len && { val x = text.charAt(i); !isWs(x) && !isAl(x) && !isDg(x) }) i += 1
          }
          out ++= pretokenIds(text.substring(start, i), cache)
        }
      }
    }
    out.result()
  }

  /** Inverse of [[encodeIds]]. Byte-level round-trips LOSSLESSLY
    * (`decodeIds(encodeIds(t)) == t` — the byte symbols cover every
    * input, whitespace included); char-level rebuilds the pretoken
    * concatenation (whitespace was never tokenized; UNK decodes U+FFFD) —
    * lossy by construction. Returns null for any id outside the
    * vocabulary, or byte symbols that don't form valid UTF-8 framing
    * (corrupt shard data is a data condition, not an exception). */
  def decodeIds(ids: Array[Int]): String = {
    val sa = symAt
    val sb = new java.lang.StringBuilder(ids.length * 4)
    var i = 0
    while (i < ids.length) {
      val id = ids(i)
      if (id < 0 || id >= sa.length || sa(id) == null) return null
      sb.append(sa(id))
      i += 1
    }
    if (!byteLevel) sb.toString
    else {
      val n = sb.length()
      val bytes = new Array[Byte](n)
      var j = 0
      while (j < n) {
        val c = sb.charAt(j).toInt
        val b = if (c < Bpe.ByteDec.length) Bpe.ByteDec(c) else -1
        if (b < 0) return null
        bytes(j) = b.toByte
        j += 1
      }
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  override def equals(o: Any): Boolean = o match {
    case t: BpeTable =>
      (t eq this) || (t.byteLevel == byteLevel &&
        t.explicitVocab == explicitVocab && t.merges == merges)
    case _ => false
  }
  override val hashCode: Int =
    (merges.hashCode * 31 + byteLevel.hashCode) * 31 + explicitVocab.hashCode
  override def toString: String =
    s"BpeTable(${merges.size} merges, ${if (byteLevel) "byte" else "char"}-level" +
      s"${if (explicitVocab.isDefined) ", vocab.json ids" else ""})"
}

object BpeTable {
  /** Per-JVM canonical instance per (merge list, mode, explicit vocab)
    * ([[BpeTable.readResolve]]): bounded by the number of DISTINCT
    * vocabularies in use (one or two in any real job), so no eviction. */
  private val interned = new java.util.concurrent.ConcurrentHashMap[
    (Vector[(String, String)], Boolean, Option[Vector[(String, Int)]]), BpeTable]()
  def intern(t: BpeTable): BpeTable =
    interned.computeIfAbsent((t.merges, t.byteLevel, t.explicitVocab), _ => t)
}

/** text → real merge-table BPE token count, one tight per-row pass (the
  * native-over-HOF rule: any per-row loop lives in an Expression). The
  * table is a constructor value — fixture by default, loaded merges.txt
  * on the config surface — and participates in case-class equality. */
/** text → pretoken array (symbol-mapped: byte-level elements are ByteEnc
  * symbol strings) — the trainer's word-count front-end. One tight
  * per-row pass over the same scanners the counters inline. */
case class BpePretokensExpr(child: Expression, byteLevel: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(input: Any): Any = {
    val text = input.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    if (byteLevel) {
      val it = Bpe.gpt2Pretokens(text)
      while (it.hasNext) out += UTF8String.fromString(Bpe.toByteSymbols(it.next()))
    } else {
      val it = Bpe.PretokenRe.findAllIn(text)
      while (it.hasNext) out += UTF8String.fromString(it.next())
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): BpePretokensExpr =
    copy(child = c)
}

case class BpeCountExpr(child: Expression, table: BpeTable) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  def compute(input: Any): Any =
    Integer.valueOf(table.countTokens(input.toString))

  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): BpeCountExpr =
    copy(child = c)
}

/** text → BPE token-id sequence (`array<int>`), one tight per-row pass —
  * the emission twin of [[BpeCountExpr]] (same pretokens, same merge
  * loop; `size(result) == graft_bpe_count(text)` by construction). */
case class BpeEncodeExpr(child: Expression, table: BpeTable) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(input: Any): Any =
    new GenericArrayData(table.encodeIds(input.toString))

  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
}

/** id sequence → text ([[BpeTable.decodeIds]]): the shard-reader /
  * detokenizer side. Nullable beyond its child: out-of-vocabulary ids or
  * null elements decode to null, never throw — corrupt shard data is a
  * data condition. */
case class BpeDecodeExpr(child: Expression, table: BpeTable) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  def compute(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      ids(i) = arr.getInt(i)
      i += 1
    }
    val s = table.decodeIds(ids)
    if (s == null) null else UTF8String.fromString(s)
  }

  override def nullSafeEval(input: Any): Any = compute(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => NativeCodegen.callCompute(ctx, ev, this, dataType, c))
  override protected def withNewChildInternal(c: Expression): BpeDecodeExpr =
    copy(child = c)
}
