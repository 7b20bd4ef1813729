package pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import pipeline.model.Schemas
import pipeline.stages.Aggregate

/**
 * Structured-Streaming variant of the pipeline (SURVEY.md §3.2): the
 * reference's supervised-service mode. The batch stages are reused
 * verbatim inside `foreachBatch` — stages are pure DataFrame functions,
 * so batch and streaming cannot drift.
 *
 * Restart semantics: `checkpointLocation` stores source offsets + batch
 * ids; restarting a daemon after a kill resumes exactly where the stream
 * stopped (the Spark-native form of the reference's `Restart=always`
 * + at-least-once redelivery, `examples/reveald.service:10`). foreachBatch
 * writes are idempotent per (batchId, sink, day) path, so redelivered
 * batches overwrite rather than duplicate.
 */
object Streaming {

  /** File-source stream over a landing directory of webtext parquet. */
  def readWebtext(spark: SparkSession, landingDir: String,
                  maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(Schemas.webtext)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)

  /**
   * Streaming EXACT dedup: drop repeated payloads (same text digest)
   * arriving within the watermark delay — the streaming twin of
   * pipeline.ops.Dedup.exact / dropExactDuplicates, with the same null
   * semantics (null-text rows pass through unconditionally: they belong to
   * the deadletter path, and a shared null digest must not conflate
   * distinct corrupt rows — dropDuplicates treats nulls as equal).
   *
   * Rows WITHOUT an event time (a malformed timestamp nulls warc_ts while
   * text survives — e.g. decodeJournald's try_to_timestamp) also pass
   * through: a null event time inside an event-time stateful operator is
   * silently treated as infinitely late once the watermark moves — the
   * same guard Batcher.eventFlushes applies before ITS stateful op.
   *
   * NEAR-duplicates: see pipeline.streaming.NearDedup — the approximate
   * single-pass twin of the batch `dedup_near` chain (band-owner state +
   * per-micro-batch finalize), with its divergences from the batch
   * closure documented there.
   *
   * State shape at scale: one digest per UNIQUE payload inside the
   * watermark horizon, expired as the watermark passes (bounded by
   * unique-rate × delay, not by traffic); only the 32-byte digest keys the
   * state store, never the text.
   */
  def dedupDocs(docStream: DataFrame, delay: String = "1 hour"): DataFrame = {
    val withDigest = docStream
      .withColumn("digest", md5(col("text").cast("binary")))
      .withWatermark("warc_ts", delay)
    val canDedup = col("digest").isNotNull && col("warc_ts").isNotNull
    withDigest.filter(canDedup)
      .dropDuplicatesWithinWatermark("digest")
      .unionByName(withDigest.filter(!canDedup))
      .drop("digest")
  }

  /** The shell every doc daemon ([[startDocs]], [[startDocsNearDedup]],
    * [[startImagesNearDedup]]) runs in: query `<prefix>_%08x` of
    * `outDir.hashCode`, checkpoint `outDir/_checkpoint`, AvailableNow, and
    * per micro-batch `writeBatch`'s per-sink counts committed to the ledger
    * as unit "batch-<id>", with this query's name — the `sink` rows of
    * streaming.StreamMetrics.load.
    *
    * The query name lets the metrics table's `query` column correlate the
    * listener's input/late records (keyed by progress.name) with the
    * batch commits. Derived from outDir so it is (a) STABLE across
    * restarts — a re-executed micro-batch after a crash must supersede its
    * old commit under the ledger's last-wins rule — and (b) distinct for
    * concurrent streams (distinct outDirs — they cannot legally share one:
    * same checkpointLocation). */
  private def startDaemon(stream: DataFrame, outDir: String, prefix: String)(
      writeBatch: (DataFrame, Long) => Map[String, Long]): StreamingQuery = {
    val qname = f"${prefix}_${outDir.hashCode & 0x7fffffff}%08x"
    val ledger = new io.Ledger(outDir)
    stream.writeStream
      .queryName(qname)
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val counts = writeBatch(batch, batchId)
        ledger.append(io.Ledger.Record(unit = Some(s"batch-$batchId"),
          batchId = Some(batchId), query = Some(qname), rows = counts.values.sum,
          counts = counts))
      }
      .start()
  }

  /** The shared routed-write stream over ANY doc-shaped stream (file tap,
    * bus tap, socket dev source): per micro-batch, the batch stage chain +
    * a partitioned write + a ledger commit. Per-sink counts come from
    * observe() metrics computed DURING the write — the sink set is static
    * (rules + deadletter), so they are plain conditional aggregates; the
    * old persist + separate sinkCounts action doubled the per-batch work. */
  def startDocs(docStream: DataFrame, outDir: String,
                rules: Seq[stages.RouteRule] = stages.Route.defaultRules): StreamingQuery =
    startDaemon(
      docStream
        // streaming metrics surface: the same observe() counters as the
        // batch path, reported per micro-batch in StreamingQueryProgress
        .observe("graft_stream_in",
          count(lit(1)).as("events_in"),
          max(octet_length(col("text"))).as("max_event_bytes")),
      outDir, "routed_docs")(routedBatchWriter(outDir, rules))

  /** The micro-batch body of every routed-docs daemon ([[startDocs]],
    * [[startDocsNearDedup]]): the batch stage chain and a partitioned
    * write under `routed_stream/batch=<id>`; returns the non-zero per-sink
    * counts. */
  private def routedBatchWriter(outDir: String, rules: Seq[stages.RouteRule])
      : (DataFrame, Long) => Map[String, Long] = {
    val sinkNames = Pipeline.sinkNamesFor(rules)
    (batch, batchId) => {
      val obs = org.apache.spark.sql.Observation()
      val routed = Pipeline.observeSinkCounts(
        Pipeline.transform(batch, rules = rules)
          .select(col("url"), col("warc_ts"), col("lang"), col("source"),
            col("host"), col("title"), col("status"), col("extracted_text"),
            col("is_corrupt"), col("sink"), col("day")),
        obs, sinkNames)
      routed.write.mode("overwrite")
        .partitionBy("sink")
        .parquet(s"$outDir/routed_stream/batch=$batchId")
      Pipeline.observedSinkCounts(obs, sinkNames).filter(_._2 > 0)
    }
  }

  /**
   * Streaming corpus-assembly daemon: approximate NEAR-DUP dedup before
   * routing — `streaming.NearDedup.verdicts` (the stateful band-owner
   * pass) feeds a foreachBatch that [[streaming.NearDedup.finalize]]s the
   * per-doc keep decision and then runs the SAME batch stage chain +
   * partitioned write + ledger commit as [[startDocs]]. The config
   * transform `dedup_near` refuses streaming frames (its transitive
   * closure iterates driver-side); THIS is its delivery-level streaming
   * twin, with NearDedup's documented approximations (no cross-band
   * transitive merges; first-arrival keeper; watermark horizon).
   */
  def startDocsNearDedup(docStream: DataFrame, outDir: String,
                         delayMs: Long = 3600000L, nGram: Int = 3,
                         bands: Int = 4, rowsPerBand: Int = 4,
                         rules: Seq[stages.RouteRule] = stages.Route.defaultRules)
      : StreamingQuery = {
    val writeBatch = routedBatchWriter(outDir, rules)
    startDaemon(
      streaming.NearDedup.verdicts(docStream, delayMs, nGram, bands, rowsPerBand).toDF,
      outDir, "neardedup_docs") { (batch, batchId) =>
      writeBatch(streaming.NearDedup.finalize(batch), batchId)
    }
  }

  /**
   * Streaming IMAGE near-dup daemon — the multimodal twin of
   * [[startDocsNearDedup]]: `streaming.NearDedup.imageVerdicts` (dHash
   * band-owner state with the batch `bit_count(xor)` verify) feeds a
   * foreachBatch that [[streaming.NearDedup.finalizeImage]]s the keep
   * decision and lands kept docs (binary payload intact) partitioned by
   * day, with the same ledger accounting every other
   * daemon uses. No parse→route chain here: an image corpus does not run
   * the html text extractors — curation IS the delivery.
   */
  def startImagesNearDedup(docStream: DataFrame, outDir: String,
                           delayMs: Long = 3600000L, bands: Int = 8,
                           maxHamming: Int = 3): StreamingQuery =
    startDaemon(
      streaming.NearDedup.imageVerdicts(docStream, delayMs, bands, maxHamming).toDF,
      outDir, "neardedup_images") { (batch, batchId) =>
      val kept = streaming.NearDedup.finalizeImage(batch)
        .withColumn("day", to_date(col("warc_ts")))
      val obs = org.apache.spark.sql.Observation()
      kept.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(s"$outDir/kept_stream/batch=$batchId")
      Map("kept" -> obs.get("rows").asInstanceOf[Long])
    }

  /**
   * Streaming PUSH delivery with the reference's exact count/time batch
   * semantics: routed stream → pipeline.streaming.Batcher.eventFlushes
   * (stateful batchSize/flushFreq buffering of the actual payload lines) →
   * each flush record becomes ONE Transport batch (EventFlush.batchId)
   * via Push.sendWithRetry, with retry + deadletter. Delivered line counts
   * therefore reconcile exactly with the batcher's flush accounting —
   * the streaming twin of the batch path's Push.deliver. `shards > 1`
   * parallelizes a hot destination's buffering across that many state
   * tasks (Batcher.eventFlushes scale note).
   */
  def startPushFlushes(routedStream: DataFrame, outDir: String,
                       batchSize: Int, flushMs: Long,
                       transport: io.Push.Transport, shards: Int = 1,
                       watermarkDelay: String = "0 seconds"): StreamingQuery = {
    val flushes = streaming.Batcher.eventFlushes(
      routedStream, batchSize, flushMs, shards, watermarkDelay)
    flushes.writeStream
      .option("checkpointLocation", s"$outDir/_push_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[streaming.Batcher.EventFlush], _: Long) =>
          b.foreachPartition {
            (it: Iterator[streaming.Batcher.EventFlush]) =>
              it.foreach(f => io.Push.sendWithRetry(
                transport, f.sink, f.batchId, f.payload, io.Push.MaxRetries,
                deadletterDir = s"$outDir/deadletter"))
          }
          ()
      }
      .start()
  }

  /**
   * S5 streaming form: a stream of bus messages in pipeline.sources.Bus
   * .message shape — Kafka's source columns plus the mqtt qos/retained
   * fields (`examples/mqtt_config.json:5-15`). In the sandbox the tap is a
   * landing directory of message files; on a real cluster the SAME chain
   * binds `spark.readStream.format("kafka").option("subscribe", topic)` —
   * every transform downstream of the tap is shared, so the broker swap
   * touches one line.
   */
  def readBus(spark: SparkSession, landingDir: String,
              maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(pipeline.sources.Bus.message)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)

  /** Bus tap → doc decode (topic subscription + metadata columns, the
    * config id as provenance) → the shared routed-write stream. */
  def startBus(spark: SparkSession, landingDir: String, outDir: String,
               topic: Option[String], sourceId: String = "mqtt"): StreamingQuery = {
    val docs = pipeline.sources.Bus.decodeDocs(readBus(spark, landingDir), topic)
      .withColumn("source", lit(sourceId))
    startDocs(docs, outDir)
  }

  /**
   * Event-time windowed per-sink counts with a watermark (SURVEY.md §2.5):
   * tumbling 1-hour windows on warc_ts; late rows beyond 1 hour are
   * dropped by the watermark and surface in the `late` metric of the
   * batch accounting instead of silently vanishing.
   */
  def windowedCounts(webtextStream: DataFrame): DataFrame =
    Pipeline.transform(webtextStream)
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"), col("sink"), col("n_rows"))

  /**
   * STREAMING sessionization (§2.5 stateful merging windows): the exact
   * batch `q_sessionize` shape — `session_window` merges a key's events
   * while each arrives within `gap` of the session so far — run as a
   * streaming aggregate. The watermark closes sessions: append mode emits
   * a session only once `watermark > session end + gap` can no longer
   * extend it, so every emitted row is final (no retraction needed —
   * Spark's state store merges windows as rows arrive out of order within
   * the watermark delay). The default `delay` of 1 hour tolerates
   * cross-micro-batch disorder (a 0-second watermark silently drops any
   * event at or before the max timestamp already seen — only use it when
   * the source is strictly ordered). Rows without an event time cannot
   * sessionize and are excluded here; their counting stays on the main
   * pipeline's deadletter accounting.
   */
  def sessionCounts(parsedStream: DataFrame, keyCol: String = "host",
                    gap: String = "30 minutes",
                    delay: String = "1 hour"): DataFrame =
    parsedStream
      .filter(col("warc_ts").isNotNull)
      .withWatermark("warc_ts", delay)
      .groupBy(col(keyCol), session_window(col("warc_ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
}
