package pipeline.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * The reference's count/time destination batcher as EXPLICIT streaming
 * state (A1/D2: flush a sink's buffer when it holds `batchSize` events OR
 * `flushMs` has passed since the buffer's first event —
 * `examples/journald_to_s3batch_config.json:11-12` batchSize=100 +
 * flushFrequency=30s; `examples/windows/config_windows.json:33-34`).
 *
 * Built on `flatMapGroupsWithState` + event-time timeout: per-(sink, shard)
 * state is (buffered payload lines, first event-time, flush sequence),
 * count-triggered flushes emit inline, time-triggered flushes fire when the
 * WATERMARK passes firstTs + flushMs (event-time, so replays are
 * deterministic), and a timeout flush drains state that stopped receiving
 * events.
 *
 * The state transition is a PURE function ([[Batcher.transition]]) so flush
 * semantics are unit-testable without a streaming harness; the GroupState
 * shell only feeds it and stores the remainder.
 */
object Batcher {

  /** One flushed EVENT batch: the JSON payload lines themselves — the
    * reference's destination semantics (buffer events, send the batch:
    * `examples/journald_to_s3batch_config.json:11-12`). `seq` is dense per
    * (sink, shard); [[batchId]] folds the shard in for a per-sink-unique
    * Transport batch id. `trigger` ∈ count | time | timeout. */
  final case class EventFlush(sink: String, shard: Int, seq: Long,
                              trigger: String, first_ts_ms: Long,
                              payload: Seq[String]) {
    /** Per-sink-unique transport id: dense `seq` when unsharded (shard 0),
      * shard-prefixed otherwise. */
    def batchId: Long = (shard.toLong << 40) | seq
  }

  /** Buffered-event state: ≤ batchSize−1 payload lines per sink (count
    * flushes drain full batches inline, so state is bounded by CONFIG, not
    * by traffic). */
  final case class EBState(buffer: Seq[String], firstTsMs: Long, seq: Long)

  /** Internal wire row for [[eventFlushes]] (public: encoder codegen needs
    * constructor access from generated projections). */
  final case class EvIn(sink: String, shard: Int,
                        warc_ts: java.sql.Timestamp, line: String)

  /**
   * Pure transition for one (sink, shard) key: previous state + this
   * micro-batch's events (or a timeout) + the current watermark →
   * (flushes, next state; None = remove the state).
   *
   *  - timeout: the watermark passed the buffer's deadline with no new
   *    events — flush whatever is held;
   *  - otherwise every event joins the buffer, which flushes by count the
   *    moment it holds `batchSize` lines; the remainder flushes by time
   *    when the watermark has passed firstTs + flushMs, else it carries
   *    over.
   *
   * firstTs is PER BUFFER and resets when a count flush drains it, so a
   * remainder's deadline counts from its own earliest event — exact, since
   * the events are in hand.
   */
  def transition(sink: String, shard: Int, prev: Option[EBState],
           events: Iterator[EvIn], timedOut: Boolean, batchSize: Int,
           flushMs: Long, watermarkMs: Long): (Seq[EventFlush], Option[EBState]) =
    if (timedOut) prev match {
      case Some(st) if st.buffer.nonEmpty =>
        (Seq(EventFlush(sink, shard, st.seq, "timeout", st.firstTsMs, st.buffer)),
          Some(EBState(Vector.empty, 0L, st.seq + 1)))
      case _ => (Nil, prev)
    } else {
      val out = Seq.newBuilder[EventFlush]
      var firstTs = prev.map(_.firstTsMs).filter(_ > 0).getOrElse(Long.MaxValue)
      var seq = prev.map(_.seq).getOrElse(0L)
      var buf = prev.map(_.buffer.toVector).getOrElse(Vector.empty)
      def flush(trigger: String): Unit = {
        out += EventFlush(sink, shard, seq, trigger, firstTs, buf)
        seq += 1
        buf = Vector.empty
        firstTs = Long.MaxValue
      }
      events.foreach { e =>
        firstTs = math.min(firstTs, e.warc_ts.getTime)
        buf :+= e.line
        if (buf.length >= batchSize) flush("count")
      }
      if (buf.nonEmpty && watermarkMs >= firstTs + flushMs) flush("time")
      // an empty buffer keeps only the sequence counter
      val next =
        if (buf.nonEmpty) Some(EBState(buf, firstTs, seq))
        else if (seq == 0) None
        else Some(EBState(Vector.empty, 0L, seq))
      (out.result(), next)
    }

  /**
   * EVENT batcher: routed doc stream → per-sink batches of the actual
   * payload lines, flushed on the count/time/timeout triggers of
   * [[transition]] — this is what gives a streaming PUSH sink the reference's
   * batchSize+flushFreq semantics (each [[EventFlush]] becomes ONE
   * Transport batch in pipeline.Streaming.startPushFlushes, so delivered
   * counts reconcile exactly with the batcher's accounting).
   *
   * Scale note: buffering REAL events forces every routed row of a sink
   * through that sink's stateful task — inherent to a single ordered
   * buffer per destination (the reference daemon has the same structure).
   * `shards > 1` splits each hot sink into (sink, shard) keys —
   * deterministic per-line hash assignment — so a hot destination's
   * buffering parallelizes across `shards` state tasks, each with its own
   * dense `seq` (the Transport id folds the shard in,
   * [[EventFlush.batchId]]). State stays bounded at batchSize−1 lines per
   * key either way.
   *
   * Rows without an event time (undecodable lines keep null warc_ts and
   * route to deadletter) cannot participate in TIME-based flushing — they
   * stay on the ledger/deadletter accounting path, and dereferencing the
   * null here would kill the query.
   *
   * `watermarkDelay` tunes DEADLINE timing under cross-micro-batch
   * disorder. Measured (Spark 4.1.2, StreamingSpec): flatMapGroupsWithState
   * has NO late-input filter — out-of-order events are always admitted and
   * buffered, at any delay (unlike windowed aggregations, which drop and
   * count late rows; the watermark here only drives time/timeout flushes).
   * With the "0 seconds" default and disorder, the watermark rides the max
   * event time seen, so a buffer opened by an out-of-order event can
   * time-flush IMMEDIATELY (earlier than flushFreq after its own arrival —
   * undersized batches, never data loss; the latency bound "flush at most
   * flushFreq after buffering" still holds). A delay covering the source's
   * disorder restores full batches at the cost of deadlines lagging by up
   * to that delay.
   */
  def eventFlushes(routed: DataFrame, batchSize: Int, flushMs: Long,
                   shards: Int = 1,
                   watermarkDelay: String = "0 seconds"): Dataset[EventFlush] = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = routed.sparkSession
    import spark.implicits._
    val payloadCols = routed.columns.filterNot(c => c == "html").map(col).toSeq
    val in = routed
      .filter(col("warc_ts").isNotNull)
      .select(col("sink"), col("warc_ts"),
        to_json(struct(payloadCols: _*)).as("line"))
      // xxhash64 is a physical concern here (shard routing), never a result
      .withColumn("shard", pmod(xxhash64(col("line")), lit(shards)).cast("int"))
      .withWatermark("warc_ts", watermarkDelay)
      .as[EvIn]
    in.groupByKey(e => (e.sink, e.shard))
      .flatMapGroupsWithState[EBState, EventFlush](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (String, Int), events: Iterator[EvIn], state: GroupState[EBState]) =>
          val (out, next) = transition(key._1, key._2, state.getOption, events,
            state.hasTimedOut, batchSize, flushMs, state.getCurrentWatermarkMs())
          next match {
            case Some(st) =>
              state.update(st)
              if (st.buffer.nonEmpty) state.setTimeoutTimestamp(st.firstTsMs + flushMs)
            case None => state.remove()
          }
          out.iterator
      }
  }
}
