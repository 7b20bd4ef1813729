package pipeline.ref

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

import pipeline.model.{NginxNorm, ParsedEvent, Sinks, WebDoc}

/**
 * The executable specification (SURVEY.md §5.2.1): a direct, single-threaded,
 * per-event implementation of the normalizer + router semantics. The Spark
 * stages must agree with this byte-for-byte on `extracted_text` per url and
 * exactly on routed-sink multiplicity — that is the correctness gate
 * (BASELINE.json north_rule).
 *
 * Semantics mirrored from the reference's declared surface:
 *  - truncation at maxLineLenKB (reference `examples/journald_to_s3batch_config.json:5`),
 *    counted in UTF-16 code units (`String.length`) — a documented deviation
 *    from the byte cap, SURVEY.md §7.5.1. pipeline.expr.ParseEventExpr cuts
 *    in the same unit. Spark `substring` (Sources.truncate, Parse.columns)
 *    counts code points instead, so those differ on astral characters;
 *  - nginx `json_combined` parse into the `norm` record with
 *    empty-string→0 numeric coalescing
 *    (reference `examples/nginx_json.conf:15-48,50-79`);
 *  - grok-style field extraction from the `status=… bytes=… method=…` line;
 *  - failed parses divert to the deadletter sink, never dropped
 *    (kawa deadletter path; BASELINE.json "batcher/deadletter accounting").
 */
object RefNormalizer {

  val MaxLineLenKB = 200
  val MaxChars: Int = MaxLineLenKB * 1024

  private val mapper = new ObjectMapper()

  private val StatusRe = "status=([0-9]+)".r
  private val BytesRe = "bytes=([0-9]+)".r
  private val MethodRe = "method=([A-Z]+)".r

  /** A null text parses as the empty text. */
  def truncate(text: String): String =
    if (text == null) ""
    else if (text.length > MaxChars) text.substring(0, MaxChars)
    else text

  def host(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) null
    else {
      val rest = url.substring(i + 3)
      val j = rest.indexOf('/')
      if (j < 0) rest else rest.substring(0, j)
    }
  }

  /** Parse the embedded nginx record; None = line present but corrupt
    * (unparseable, or missing the mandatory `ts`). */
  def parseNginx(line: String): Option[JsonNode] =
    try {
      val n = mapper.readTree(line)
      if (n != null && n.isObject && n.hasNonNull("ts")) Some(n) else None
    } catch { case _: Exception => None }

  /** Empty-string→0 coalescing of `examples/nginx_json.conf:15-48`. */
  def coalesceNum(s: String): Long =
    if (s == null || s.isEmpty) 0L else s.toLong

  /** The `norm` record of an nginx line; None = corrupt: unparseable,
    * missing the mandatory `ts`, or a coalesced numeric that is not a long.
    * Tree semantics: duplicate keys keep the last binding; only direct
    * children of `request`/`upstream`/`response` are read; a field bound to
    * a container reads as "" (text) or 0 (number); a `ts` that is no
    * timestamp leaves `ts` null without making the record corrupt. */
  def nginxNorm(line: String): Option[NginxNorm] =
    parseNginx(line).flatMap { node =>
      val req = node.get("request")
      val up = node.get("upstream")
      val resp = node.get("response")
      def s(n: JsonNode, f: String): String =
        if (n == null || !n.has(f) || n.get(f).isNull) null else n.get(f).asText()
      def nonNull(n: JsonNode, f: String): Option[JsonNode] =
        if (n != null && n.hasNonNull(f)) Some(n.get(f)) else None
      try Some(NginxNorm(
        ts = DateTimeUtils.stringToTimestamp(
          UTF8String.fromString(node.get("ts").asText()), java.time.ZoneOffset.UTC),
        req_method = s(req, "method"),
        uri = s(req, "uri"),
        resp_status = nonNull(resp, "status").map(_.asInt),
        body_bytes_sent = coalesceNum(s(resp, "body_bytes_sent")),
        response_length = coalesceNum(s(up, "response_length")),
        up_bytes_sent = nonNull(up, "bytes_sent").map(_.asLong)))
      catch { case _: NumberFormatException => None }
    }

  def parse(doc: WebDoc): ParsedEvent = {
    val t = truncate(doc.text)
    // split with limit -1: keep trailing empties, matching Spark's split()
    val lines = t.split("\n", -1)
    val titleLine = if (lines.length > 0) lines(0) else ""
    val title =
      if (titleLine.startsWith("title: ")) titleLine.substring(7) else ""
    val kv = if (lines.length > 1) lines(1) else ""
    val body = if (lines.length > 2) lines(2) else ""
    val jsonLine =
      if (lines.length > 3 && lines(3).startsWith("{")) Some(lines(3)) else None
    val norm = jsonLine.flatMap(nginxNorm)
    val isCorrupt = jsonLine.isDefined && norm.isEmpty
    val status = StatusRe.findFirstMatchIn(kv).map(_.group(1).toInt).getOrElse(0)
    val bytes = BytesRe.findFirstMatchIn(kv).map(_.group(1).toLong).getOrElse(0L)
    val method = MethodRe.findFirstMatchIn(kv).map(_.group(1)).getOrElse("")
    ParsedEvent(
      url = doc.url,
      warc_ts = doc.warc_ts,
      lang = doc.lang,
      host = host(doc.url),
      title = title,
      status = status,
      bytes = bytes,
      method = method,
      extracted_text = title + "\n" + body,
      is_corrupt = isCorrupt,
      norm = norm)
  }

  /** Routing rules fixture (FIXTURES.md §3), evaluated in stable sink order.
    * Corrupt → [deadletter]; en → +runreveal; status≥500 → +printer,+runreveal;
    * s3 always. Every row gets ≥1 sink. */
  def route(e: ParsedEvent): Seq[String] =
    if (e.is_corrupt) Seq(Sinks.DeadLetter)
    else {
      val printer = if (e.status >= 500) Seq(Sinks.Printer) else Nil
      val rr = if (e.lang == "en" || e.status >= 500) Seq(Sinks.RunReveal) else Nil
      printer ++ rr ++ Seq(Sinks.S3)
    }

  /** End-to-end oracle: per-sink routed counts for a set of docs. */
  def routedCounts(docs: Iterator[WebDoc]): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { d => route(parse(d)).foreach(s => m(s) += 1) }
    m.toMap
  }
}
