package pipeline.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pipeline.model.Schemas

/**
 * Source adapters (SURVEY.md §2.1). Every source yields the same shape —
 * a payload column plus provenance — so fan-in is a `unionByName`:
 * the reference's N-sources→1-pipeline wiring
 * (`examples/windows/config_windows.json:3-27`).
 */
object Sources {

  /** S1 batch form over the webtext table (the 10^12-row analog). */
  def webtext(spark: SparkSession, path: String, sourceId: String): DataFrame =
    spark.read.schema(Schemas.webtext).parquet(path)
      .withColumn("source", lit(sourceId))

  /**
   * S3 `nginx_syslog`: strip the RFC3164-ish syslog envelope
   * `<PRI>MMM dd HH:mm:ss host tag: payload` and keep the JSON payload
   * (reference `examples/config.json:16-19`; transport contract
   * `examples/nginx_json.conf:8` — nginx logs via
   * `access_log syslog:server=127.0.0.1:5514 json_combined`).
   * Non-matching lines keep their original payload (pass-through), so a
   * mis-framed event still reaches the deadletter path instead of
   * vanishing.
   */
  val SyslogRe = "^<[0-9]{1,3}>[A-Z][a-z]{2} [ 0-9][0-9] [0-9:]{8} \\S+ \\S+?: (.*)$"

  def stripSyslog(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn(payloadCol,
      // rlike, not an empty-capture heuristic: an envelope with an EMPTY
      // message must yield an empty payload, not the raw envelope
      when(col(payloadCol).rlike(SyslogRe),
        regexp_extract(col(payloadCol), SyslogRe, 1))
        .otherwise(col(payloadCol)))

  /** S2 `journald`-style guard: cap payload size (`maxLineLenKB`,
    * reference `examples/journald_to_s3batch_config.json:5`). Spark
    * `substring` counts code points, so an astral character counts once
    * here but twice (two UTF-16 code units) in RefNormalizer.truncate and
    * pipeline.expr.ParseEventExpr. */
  def truncate(df: DataFrame, maxLineLenKB: Int, payloadCol: String = "payload"): DataFrame =
    df.withColumn(payloadCol, substring(col(payloadCol), 1, maxLineLenKB * 1024))

  /** S6 `eventlog`-style source-side filter: the XPath-equivalent predicate
    * is a Column pushed by Catalyst into the scan (PLANS.md shows the
    * PushedFilters). `query = None` ≙ the reference's `"query": "*"`. */
  def filtered(df: DataFrame, query: Option[org.apache.spark.sql.Column]): DataFrame =
    query.fold(df)(df.filter)

  /** S7 fan-in: union N tagged sources; missing columns null-filled, like
    * the reference's per-source heterogeneous metadata. */
  def fanIn(sources: Seq[DataFrame]): DataFrame = {
    require(sources.nonEmpty, "fan-in needs at least one source (empty config?)")
    sources.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
