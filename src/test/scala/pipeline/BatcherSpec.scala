package pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.fixtures.Webtext
import pipeline.streaming.Batcher
import pipeline.streaming.Batcher.{EBState, EvIn, EventFlush}

/** The count/time batcher (reference batchSize+flushFreq semantics):
  * pure-transition unit tests + a streaming run over the routed stream. */
class BatcherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "batcher-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  /** `n` events at event time `ts`, payload lines `<tag>0`..`<tag>n-1`. */
  private def evs(tag: String, n: Int, ts: Long): Seq[EvIn] =
    (0 until n).map(i => EvIn("s3", 0, new java.sql.Timestamp(ts), s"$tag$i"))
  private def lines(e: Seq[EvIn]): Seq[String] = e.map(_.line)
  private def step(prev: Option[EBState], events: Seq[EvIn], watermarkMs: Long,
                   timedOut: Boolean = false) =
    Batcher.transition("s3", 0, prev, events.iterator, timedOut,
      batchSize = 100, flushMs = 30000L, watermarkMs = watermarkMs)

  test("pure step: count flushes, time flush, carry-over, sequence") {
    // 250 events, batch 100 → two count flushes + 50 carried
    val a = evs("a", 250, 1000L)
    val (f1, s1) = step(None, a, watermarkMs = 0L)
    assert(f1.map(_.payload) == Seq(lines(a.take(100)), lines(a.slice(100, 200))))
    assert(f1.forall(_.trigger == "count") && f1.map(_.seq) == Seq(0, 1))
    assert(s1.contains(EBState(lines(a.drop(200)), 1000L, 2)))
    // +30 more events, watermark still early → nothing flushes
    val b = evs("b", 30, 2000L)
    val (f2, s2) = step(s1, b, watermarkMs = 5000L)
    assert(f2.isEmpty && s2.contains(EBState(lines(a.drop(200) ++ b), 1000L, 2)))
    // watermark passes firstTs+flushMs → time flush of the remainder
    val c = evs("c", 5, 40000L)
    val (f3, s3) = step(s2, c, watermarkMs = 31000L)
    assert(f3 == Seq(EventFlush("s3", 0, 2, "time", 1000L, lines(a.drop(200) ++ b ++ c))))
    assert(s3.contains(EBState(Vector.empty, 0, 3)))
    // exact multiple leaves an empty buffer, sequence preserved
    val (f4, s4) = step(s3, evs("d", 200, 50000L), 0L)
    assert(f4.map(_.payload.size).sum == 200 && s4.contains(EBState(Vector.empty, 0, 5)))
    // flush clock starts at the EARLIEST buffered event, even if a later
    // micro-batch delivers an earlier (late) event
    val e = evs("e", 10, 9000L)
    val f = evs("f", 10, 3000L)
    val (_, s5) = step(None, e, 0L)
    val (f6, _) = step(s5, f, 33001L)
    assert(f6 == Seq(EventFlush("s3", 0, 0, "time", 3000L, lines(e ++ f))))
    // after a count drain the remainder's deadline counts from ITS OWN
    // earliest event, not the drained buffer's: 100 events at 1s drain by
    // count, 20 at 20s stay held at a watermark of 31s (1s+30s passed,
    // 20s+30s not)
    val g = evs("g", 100, 1000L) ++ evs("h", 20, 20000L)
    val (f7, s7) = step(None, g, 31000L)
    assert(f7.map(_.trigger) == Seq("count") && f7.head.first_ts_ms == 1000L)
    assert(s7.contains(EBState(lines(g.drop(100)), 20000L, 1)))
    val (f8, _) = step(s7, Nil, 50000L)
    assert(f8 == Seq(EventFlush("s3", 0, 1, "time", 20000L, lines(g.drop(100)))))
    // timeout drains a held buffer; a timeout on an empty buffer is a no-op
    val (f9, s9) = step(s7, Nil, 50000L, timedOut = true)
    assert(f9 == Seq(EventFlush("s3", 0, 1, "timeout", 20000L, lines(g.drop(100)))))
    assert(s9.contains(EBState(Vector.empty, 0, 2)))
    assert(step(s9, Nil, 90000L, timedOut = true) == ((Nil, s9)))
  }

  test("streaming: flushes respect batchSize; totals reconcile with routed counts") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("batcher-landing").toString
    // four appends into ONE landing dir (the file source does not recurse);
    // increasing mtimes + maxFilesPerTrigger=1 → one micro-batch per file,
    // so the watermark advances between them and time/timeout flushes fire
    Webtext.dataset(s, 600, 1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 600, 1) // same rows: doubles counts, same time span
      .map(d => d.copy(url = d.url + "?b"))
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // sentinel far in the future pushes the watermark past every deadline
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?s",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 365L * 86400000L)))
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // second sentinel: the watermark lags one micro-batch, so one more
    // batch is needed for the first sentinel's advance to take effect
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?t",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 730L * 86400000L)))
      .write.mode("append").parquet(landing)

    val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val routed = Pipeline.transform(stream)
    val out = Batcher.eventFlushes(routed, batchSize = 100, flushMs = 60 * 60000L)
    val q = out.writeStream.format("memory").queryName("flushes")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("bck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val flushes = s.sql("SELECT * FROM flushes").as[EventFlush].collect()
    assert(flushes.nonEmpty)
    // no flush ever exceeds batchSize; count-triggered are exactly batchSize
    assert(flushes.forall(_.payload.size <= 100))
    assert(flushes.filter(_.trigger == "count").forall(_.payload.size == 100))
    // time/timeout flushes happened (the fixture spans 30 days at 1 row/min,
    // far beyond the 1h flush window)
    assert(flushes.exists(f => f.trigger == "time" || f.trigger == "timeout"))
    // per-(sink, shard) sequence numbers are dense from 0 (exactly-once
    // bookkeeping)
    flushes.groupBy(f => (f.sink, f.shard)).foreach { case (_, fs) =>
      assert(fs.map(_.seq).sorted.toSeq == (0L until fs.length).toSeq)
    }
    // reconciliation: everything routed before the sentinels flushed (the
    // sentinels themselves may still sit in open buffers when the stream
    // ends — at-least-once state, drained on the next run)
    val expected = pipeline.ref.RefNormalizer
      .routedCounts((0L until 600L).iterator.map(Webtext.row))
      .map { case (k, v) => k -> v * 2 } // two identical files
    val flushed = flushes.groupBy(_.sink).view.mapValues(_.map(_.payload.size.toLong).sum).toMap
    expected.foreach { case (sink, n) =>
      val got = flushed.getOrElse(sink, 0L)
      assert(got >= n && got <= n + 2, s"sink $sink: flushed $got, routed $n (+<=2 sentinels)")
    }
  }
}
