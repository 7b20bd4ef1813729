package pipeline.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Whole-event parse as ONE native Catalyst expression (url, text) → struct.
 *
 * Why: the Column-built Parse (pipeline.stages.Parse.columns) is correct but
 * pays per-field expression overhead — profiled at ~500µs/row (substring-cap
 * + regex split + 4 regexp_extracts + from_json, several re-evaluated) vs
 * ~3µs/row here. One pass: indexOf-based line split (no regex), compiled-once
 * field regexes, one streaming Jackson parse, zero intermediate arrays.
 * Semantics, `norm` included, are pinned to pipeline.ref.RefNormalizer (the
 * executable spec; ParsePathParitySpec) and spec-tested equal to the Column
 * formulation.
 *
 * Every row takes the same byte-level parse ([[ParseEventExpr.parseBytes]]).
 * A text over the cap ([[ParseEventExpr.MaxChars]] UTF-16 code units, the
 * reference's maxLineLenKB=200) is first cut exactly as
 * RefNormalizer.truncate cuts it, then re-encoded as UTF-8.
 *
 * Returns a struct:
 *   host, title, status, bytes, method, extracted_text, is_corrupt, has_json,
 *   norm: struct<ts timestamp, req_method, uri, resp_status int,
 *               body_bytes_sent long, response_length long, up_bytes_sent long>
 * `norm` applies the reference's empty-string→0 numeric coalescing
 * (`examples/nginx_json.conf:15-48`); null unless a valid nginx record is
 * present.
 */
case class ParseEventExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ParseEventExpr.schema
  override def nullable: Boolean = false
  // left = url, right = text

  /** Whole computation from child VALUES (null-tolerant) — shared by the
    * interpreted eval and the generated code. Public for codegen. */
  def compute(urlAny: Any, textAny: Any): InternalRow = {
    val url = if (urlAny == null) "" else urlAny.toString
    ParseEventExpr.parseBytes(url, ParseEventExpr.capped(textAny.asInstanceOf[UTF8String]))
  }

  override def eval(input: InternalRow): Any =
    compute(left.eval(input), right.eval(input))

  /** Real codegen (not CodegenFallback): the surrounding operators stay in
    * whole-stage codegen and the call receives the children's generated
    * VALUES — no per-call InternalRow materialization + re-eval. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("parseEventExpr", this, classOf[ParseEventExpr].getName)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(
      code = code"""
        ${l.code}
        ${r.code}
        final $row ${ev.value} = $ref.compute(
          ${l.isNull} ? null : ${l.value},
          ${r.isNull} ? null : ${r.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ParseEventExpr =
    copy(left = l, right = r)
}

object ParseEventExpr {

  val normSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("req_method", StringType),
    StructField("uri", StringType),
    StructField("resp_status", IntegerType),
    StructField("body_bytes_sent", LongType),
    StructField("response_length", LongType),
    StructField("up_bytes_sent", LongType)))

  val schema: StructType = StructType(Seq(
    StructField("host", StringType),
    StructField("title", StringType),
    StructField("status", IntegerType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("method", StringType),
    StructField("extracted_text", StringType),
    StructField("is_corrupt", BooleanType, nullable = false),
    StructField("has_json", BooleanType, nullable = false),
    StructField("norm", normSchema)))

  /** The reference's `maxLineLenKB: 200` cap
    * (`examples/journald_to_s3batch_config.json:5`), in UTF-16 code units —
    * the unit of RefNormalizer.truncate. */
  val MaxChars: Int = 200 * 1024

  /** The UTF-8 bytes [[parseBytes]] reads: a null text is empty; a text of
    * at most MaxChars bytes cannot exceed MaxChars UTF-16 units and is
    * passed as is; a longer one is decoded, cut to its first MaxChars UTF-16
    * units and re-encoded. A cut inside a surrogate pair leaves a lone high
    * surrogate, which the encoder writes as `?`; invalid UTF-8 decodes to
    * U+FFFD. */
  def capped(t: UTF8String): Array[Byte] =
    if (t == null) Array.emptyByteArray
    else if (t.numBytes() <= MaxChars) t.getBytes
    else {
      val s = t.toString
      (if (s.length > MaxChars) s.substring(0, MaxChars) else s)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }

  private val StatusRe = java.util.regex.Pattern.compile("status=([0-9]+)")
  private val BytesRe = java.util.regex.Pattern.compile("bytes=([0-9]+)")
  private val MethodRe = java.util.regex.Pattern.compile("method=([A-Z]+)")

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private val TitlePrefix = "title: ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Byte-level parse of an already-capped text: scans `\n` positions in
    * the UTF-8 bytes (0x0A never occurs inside a multibyte sequence),
    * slices lines without decoding, regexes only the small kv line, and
    * feeds Jackson the json-line byte range directly. The line-split/field
    * rules of RefNormalizer.parse. */
  def parseBytes(url: String, b: Array[Byte]): InternalRow = {
    // up to 4 line ranges
    var e1 = -1; var e2 = -1; var e3 = -1; var e4 = -1
    var i = 0
    while (i < b.length && e4 < 0) {
      if (b(i) == '\n') {
        if (e1 < 0) e1 = i else if (e2 < 0) e2 = i
        else if (e3 < 0) e3 = i else e4 = i
      }
      i += 1
    }
    val l0s = 0; val l0e = if (e1 < 0) b.length else e1
    val l1s = if (e1 < 0) -1 else e1 + 1
    val l1e = if (e1 < 0) -1 else if (e2 < 0) b.length else e2
    val l2s = if (e2 < 0) -1 else e2 + 1
    val l2e = if (e2 < 0) -1 else if (e3 < 0) b.length else e3
    val l3s = if (e3 < 0) -1 else e3 + 1
    val l3e = if (e3 < 0) -1 else if (e4 < 0) b.length else e4

    def startsWithTitle: Boolean = {
      if (l0e - l0s < TitlePrefix.length) return false
      var k = 0
      while (k < TitlePrefix.length) {
        if (b(l0s + k) != TitlePrefix(k)) return false
        k += 1
      }
      true
    }
    val titleS = if (startsWithTitle) l0s + TitlePrefix.length else -1
    val titleLen = if (titleS < 0) 0 else l0e - titleS

    // kv line is small and ASCII — a String here is cheap
    val kv = if (l1s < 0) "" else new String(b, l1s, l1e - l1s,
      java.nio.charset.StandardCharsets.UTF_8)
    val mS = StatusRe.matcher(kv)
    val status = if (mS.find()) mS.group(1).toInt else 0
    val mB = BytesRe.matcher(kv)
    val bytes = if (mB.find()) mB.group(1).toLong else 0L
    val mM = MethodRe.matcher(kv)
    val method = if (mM.find()) mM.group(1) else ""

    val hasJson = l3s >= 0 && l3e > l3s && b(l3s) == '{'
    var corrupt = false
    var norm: InternalRow = null
    if (hasJson) {
      norm = streamNorm(b, l3s, l3e - l3s)
      corrupt = norm == null
    }

    // extracted_text = title + "\n" + body, assembled at byte level
    val bodyS = if (l2s < 0) 0 else l2s
    val bodyLen = if (l2s < 0) 0 else l2e - l2s
    val ext = new Array[Byte](titleLen + 1 + bodyLen)
    if (titleLen > 0) System.arraycopy(b, titleS, ext, 0, titleLen)
    ext(titleLen) = '\n'
    if (bodyLen > 0) System.arraycopy(b, bodyS, ext, titleLen + 1, bodyLen)

    InternalRow(
      Option(hostOf(url)).map(u).orNull,
      if (titleLen > 0) UTF8String.fromBytes(b, titleS, titleLen) else UTF8String.EMPTY_UTF8,
      status,
      bytes,
      u(method),
      UTF8String.fromBytes(ext),
      corrupt,
      hasJson,
      norm)
  }

  /**
   * Streaming-parser norm extraction (hot path): walks the record once with
   * Jackson's token stream — no tree allocation — pulling exactly the norm
   * fields. Returns null when the record is malformed or lacks `ts`
   * (the accept/reject set of RefNormalizer.nginxNorm, whose JSON tree also
   * requires the full root object to tokenize cleanly). Duplicate keys:
   * last occurrence wins, as in that tree.
   */
  private def streamNorm(b: Array[Byte], off: Int, len: Int): InternalRow = {
    import com.fasterxml.jackson.core.JsonToken
    var ts: String = null
    var reqMethod: String = null; var uri: String = null
    var respStatus: Integer = null
    var bbs: String = null; var rl: String = null
    var upBytesSent: java.lang.Long = null
    try {
      val p = jsonFactory.createParser(b, off, len)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        var depth = 1
        // Category of the CURRENT depth-2 object (1=request 2=upstream
        // 3=response 9=other). Set only on the 1→2 transition and left
        // untouched while inside nested depth≥3 objects, so fields appearing
        // after a nested sibling (e.g. {"response":{"hdr":{},"status":500}})
        // still attribute to their section — matching the spec's tree reads,
        // which only ever look at direct depth-2 children. Scalar reads below
        // all guard on depth == 2, so a stale value at other depths is inert.
        var section2 = 0
        while (depth > 0) {
          val t = p.nextToken()
          if (t == null) return null
          t match {
            case JsonToken.FIELD_NAME =>
              val f = p.currentName()
              val v = p.nextToken()
              // Duplicate keys: LAST occurrence wins INCLUDING null values,
              // matching the spec's tree (a later binding replaces the earlier
              // one wholesale) — so bindings assign/reset rather than skip.
              // The tree's re-binding corner cases, mirrored exactly:
              //  - "ts" bound to an object/array: asText() == "" → accepted
              //    with a null timestamp (not corrupt);
              //  - a section key re-bound to a scalar/array/null: its fields
              //    read as absent;
              //  - a section object re-entered: fields cleared first (a
              //    second {"request":{...}} must not inherit "method").
              def resetSection(sec: Int): Unit = sec match {
                case 1 => reqMethod = null; uri = null
                case 2 => rl = null; upBytesSent = null
                case 3 => respStatus = null; bbs = null
                case _ =>
              }
              def sectionOf(name: String): Int = name match {
                case "request" => 1
                case "upstream" => 2
                case "response" => 3
                case _ => 9
              }
              // A TRACKED FIELD bound to a container coerces like the spec's
              // tree: asText(container) == "" and asInt/asLong(container)
              // == 0 — so {"response":{"status":[500]}} reads status 0, not
              // null.
              def coerceContainerField(): Unit =
                if (section2 == 1) {
                  if (f == "method") reqMethod = ""
                  else if (f == "uri") uri = ""
                } else if (section2 == 2) {
                  if (f == "response_length") rl = ""
                  else if (f == "bytes_sent") upBytesSent = java.lang.Long.valueOf(0L)
                } else if (section2 == 3) {
                  if (f == "status") respStatus = Integer.valueOf(0)
                  else if (f == "body_bytes_sent") bbs = ""
                }
              if (v == JsonToken.START_OBJECT) {
                depth += 1
                if (depth == 2) {
                  if (f == "ts") ts = ""
                  section2 = sectionOf(f)
                  resetSection(section2)
                } else if (depth == 3) {
                  coerceContainerField()
                }
              } else if (v == JsonToken.START_ARRAY) {
                if (depth == 1) {
                  if (f == "ts") ts = "" else resetSection(sectionOf(f))
                } else if (depth == 2) {
                  coerceContainerField()
                }
                p.skipChildren()
              } else {
                val isNull = v == JsonToken.VALUE_NULL
                if (depth == 1) {
                  if (f == "ts") ts = if (isNull) null else p.getText
                  else resetSection(sectionOf(f))
                } else if (depth == 2 && section2 == 1) {
                  if (f == "method") reqMethod = if (isNull) null else p.getText
                  else if (f == "uri") uri = if (isNull) null else p.getText
                } else if (depth == 2 && section2 == 2) {
                  if (f == "response_length") rl = if (isNull) null else p.getText
                  // getValueAsLong applies Jackson's string->number coercion,
                  // matching the spec's asLong
                  else if (f == "bytes_sent")
                    upBytesSent = if (isNull) null else java.lang.Long.valueOf(p.getValueAsLong(0L))
                } else if (depth == 2 && section2 == 3) {
                  if (f == "status")
                    respStatus = if (isNull) null else Integer.valueOf(p.getValueAsInt(0))
                  else if (f == "body_bytes_sent") bbs = if (isNull) null else p.getText
                }
              }
            case JsonToken.END_OBJECT =>
              depth -= 1
            case _ => return null
          }
        }
      } finally p.close()
    } catch { case _: Exception => return null }
    if (ts == null) return null
    // numeric coercion must stay inside a guard: a non-long string here must
    // mark the row corrupt (null), exactly like the spec — not crash the job
    try {
      def coalesceNum(v: String): Long = if (v == null || v.isEmpty) 0L else v.toLong
      val micros = DateTimeUtils.stringToTimestamp(u(ts), java.time.ZoneOffset.UTC)
        .getOrElse(null)
      InternalRow(
        micros,
        if (reqMethod == null) null else u(reqMethod),
        if (uri == null) null else u(uri),
        respStatus,
        java.lang.Long.valueOf(coalesceNum(bbs)),
        java.lang.Long.valueOf(coalesceNum(rl)),
        upBytesSent)
    } catch { case _: NumberFormatException => null }
  }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** RefNormalizer.host — scheme://host/... slice. */
  def hostOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return null
    val rest = url.substring(i + 3)
    val j = rest.indexOf('/')
    if (j < 0) rest else rest.substring(0, j)
  }
}
