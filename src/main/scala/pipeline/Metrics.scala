package pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * In-flight pipeline metrics via `Dataset.observe` — the Spark-native form
 * of the reference's per-source/per-sink counters and batcher/deadletter
 * accounting (`examples/config.json:6-7` "used to reference them when
 * logging or in metrics"; kawa deadletter path).
 *
 * `observe` attaches aggregates to the plan that are computed DURING the
 * action (no extra pass, unlike a separate count job); the Observation
 * hands them back once the action ran. Works identically in batch and
 * streaming (streaming surfaces them in StreamingQueryProgress).
 */
object Metrics {

  val ObservationName = "graft_pipeline"

  /** events_in / parsed_ok / corrupt (deadletter-bound) / oversize, counted
    * inline on the parsed stream; read back with [[parsedCounts]]. */
  def observeParsed(parsed: DataFrame, obs: Observation): DataFrame =
    parsed.observe(
      obs,
      count(lit(1)).as("events_in"),
      sum(when(!col("is_corrupt"), 1L).otherwise(0L)).as("parsed_ok"),
      sum(when(col("is_corrupt"), 1L).otherwise(0L)).as("deadletter"),
      max(octet_length(col("text"))).as("max_event_bytes"))

  /** [[observeParsed]] under a fresh observation named [[ObservationName]]. */
  def observeParsed(parsed: DataFrame): DataFrame =
    observeParsed(parsed, Observation(ObservationName))

  /** The four parse counts once the observed action ran; an empty input's
    * null sums and max read as 0. */
  def parsedCounts(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> Option(v).fold(0L)(_.asInstanceOf[Number].longValue) }
}
