package pipeline.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import pipeline.io.Ledger
import pipeline.io.Ledger.Record

/**
 * Queryable streaming metrics table — the streaming twin of the batch
 * path's observe()+ledger accounting (the reference exposes per-source/
 * sink counters as its ops surface, `examples/config.json:6-7`).
 *
 * A view of the outDir's run record ([[pipeline.io.Ledger]]), one row per
 * (micro-batch, metric):
 *
 *   seq, batch_id, query, kind = input|late|sink, name, rows, ts
 *
 *  - `input`: the observed `graft_stream_in` events_in of the micro-batch
 *    (from StreamingQueryProgress.observedMetrics — exact, computed
 *    during the batch, no second action), a listener record ([[attach]]);
 *  - `late`: Σ state-operator numRowsDroppedByWatermark — rows an
 *    event-time stateful op dropped this batch (0 when stateless), a
 *    listener record;
 *  - `sink`: the per-sink counts of the `batch-<id>` commit — the SAME
 *    record the ledger's commit readers read, so the two cannot diverge.
 *
 * `seq` is the record's position in the ledger, after the ledger's
 * last-wins rule dropped the records a replay superseded.
 */
object StreamMetrics {

  val schema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("batch_id", LongType),
    StructField("query", StringType),
    StructField("kind", StringType),
    StructField("name", StringType),
    StructField("rows", LongType),
    StructField("ts", StringType)))

  /** The metrics table of `dir`'s ledger as a DataFrame (empty-safe). */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val rows = new Ledger(dir).records().zipWithIndex.flatMap {
      case (Record(None, Some(kind @ ("input" | "late")), Some(b), Some(q), Some(name), n, _, ts), i) =>
        Seq(Row(i.toLong, b, q, kind, name, n, ts))
      case (Record(Some(_), None, Some(b), Some(q), None, _, counts, ts), i) =>
        counts.toSeq.map { case (sink, n) => Row(i.toLong, b, q, "sink", sink, n, ts) }
      case _ => Nil
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /**
   * Attach a progress listener feeding the metrics table: one `input` row
   * (observed events_in) and one `late` row (Σ numRowsDroppedByWatermark)
   * per micro-batch of every query on this session, appended to `dir`'s
   * ledger. Remove with `spark.streams.removeListener` when done —
   * listener delivery is ASYNCHRONOUS (an event bus), so tests must await
   * the expected rows, not assume them on awaitTermination.
   */
  def attach(spark: SparkSession, dir: String): StreamingQueryListener = {
    val ledger = new Ledger(dir)
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def note(kind: String, name: String, rows: Long): Unit =
          ledger.append(Record(kind = Some(kind), batchId = Some(p.batchId),
            query = Some(Option(p.name).getOrElse(p.id.toString)), name = Some(name),
            rows = rows))
        val obs = p.observedMetrics
        if (obs.containsKey("graft_stream_in"))
          note("input", "events_in", obs.get("graft_stream_in").getAs[Long]("events_in"))
        note("late", "dropped_by_watermark", p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
    }
    spark.streams.addListener(l)
    l
  }
}
