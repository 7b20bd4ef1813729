package pipeline.model

import org.apache.spark.sql.types._

/**
 * Core data model for the pipeline engine.
 *
 * The unit of data is a web document ("event" in the reference's terms): a
 * bounded payload with provenance. Shape fixed by the driver's input hint:
 * `(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)`.
 *
 * Reference grounding (see /root/repo/SURVEY.md §1):
 *  - events are bounded byte strings (reference `examples/journald_to_s3batch_config.json:5`
 *    caps at maxLineLenKB=200)
 *  - events carry provenance (source ids, reference `examples/config.json:6-7`)
 *  - the one fully-typed record is the nginx `json_combined` document
 *    (reference `examples/nginx_json.conf:50-79`), a nested struct.
 */
final case class WebDoc(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A parsed event: the structured view the parse stage extracts from a WebDoc. */
final case class ParsedEvent(
    url: String,
    warc_ts: java.sql.Timestamp,
    lang: String,
    host: String,
    title: String,
    status: Int,
    bytes: Long,
    method: String,
    extracted_text: String,
    is_corrupt: Boolean,
    norm: Option[NginxNorm])

/** The normalized nginx record (the parse's `norm` struct); `None` and
  * `null` stand for SQL NULL. `ts` is microseconds since the epoch. */
final case class NginxNorm(
    ts: Option[Long],
    req_method: String,
    uri: String,
    resp_status: Option[Int],
    body_bytes_sent: Long,
    response_length: Long,
    up_bytes_sent: Option[Long])

object Schemas {

  /** Input-hint schema of the webtext table (BASELINE.json input_hint). */
  val webtext: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /**
   * nginx `json_combined` record, transcribed 1:1 from reference
   * `examples/nginx_json.conf:51-79`.
   *
   * `response_length` and `body_bytes_sent` are STRING here on purpose: the
   * producer's map-coalescing (`examples/nginx_json.conf:15-48`) rewrites
   * empty-string numerics to 0 *before* serialization; we model the raw wire
   * form as string and apply `coalesce(nullif(x,''),0)::long` in the
   * normalize stage — so the default-value rule lives in one visible place.
   */
  val nginx: StructType = StructType(Seq(
    StructField("ts", StringType),
    StructField("remote_addr", StringType),
    StructField("remote_user", StringType),
    StructField("request_time", DoubleType),
    StructField("request", StructType(Seq(
      StructField("http_referrer", StringType),
      StructField("http_user_agent", StringType),
      StructField("method", StringType),
      StructField("scheme", StringType),
      StructField("host", StringType),
      StructField("server_addr", StringType),
      StructField("uri", StringType),
      StructField("query", StringType),
      StructField("request_uri", StringType),
      StructField("xfwd", StringType)))),
    StructField("upstream", StructType(Seq(
      StructField("addr", StringType),
      StructField("bytes_received", LongType),
      StructField("bytes_sent", LongType),
      StructField("response_time", DoubleType),
      StructField("response_length", StringType)))),
    StructField("response", StructType(Seq(
      StructField("status", IntegerType),
      StructField("body_bytes_sent", StringType))))))

  /** nginx schema + the PERMISSIVE corrupt-record column used by Parse. */
  val nginxWithCorrupt: StructType = nginx.add(StructField("_corrupt", StringType))
}

/** Well-known sink names (reference `examples/config.json:21-37`,
  * `examples/mqtt_config.json:17-31`: s3 / runreveal / printer destinations;
  * deadletter is the kawa failure path). */
object Sinks {
  val S3 = "s3"
  val RunReveal = "runreveal"
  val Printer = "printer"
  val DeadLetter = "deadletter"
  /** Stable evaluation order for routing-tag construction. */
  val All: Seq[String] = Seq(Printer, RunReveal, S3, DeadLetter)
}
