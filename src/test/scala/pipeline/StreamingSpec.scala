package pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.fixtures.Webtext
import pipeline.io.Ledger
import pipeline.ref.RefNormalizer

/** Streaming variant: foreachBatch stage reuse, checkpoint resume after a
  * stop (the reference's Restart=always + redelivery), event-time windows. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "streaming-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  val N = 3000L

  test("streamed routed counts equal batch pipeline and RefNormalizer") {
    val s = sc
    val landing = Files.createTempDirectory("graft-landing").toString
    val out = Files.createTempDirectory("graft-stream-out").toString
    // land the fixture as several files so multiple micro-batches fire
    Webtext.df(s, N, 6).write.mode("overwrite").parquet(landing)

    val q = Streaming.startDocs(Streaming.readWebtext(s, landing), out)
    q.awaitTermination() // AvailableNow terminates when caught up

    val got = s.read.parquet(s"$out/routed_stream").groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = RefNormalizer.routedCounts((0L until N).iterator.map(Webtext.row))
    assert(got == ref)
    // ledger: one commit per micro-batch, totals add up
    val ledger = new Ledger(out).committedRows()
    assert(ledger.nonEmpty)
    assert(ledger.values.sum == ref.values.sum)
  }

  test("stream metrics table reconciles with the ledger (listener + sinks)") {
    val s = sc
    val landing = Files.createTempDirectory("graft-metrics-landing").toString
    val out = Files.createTempDirectory("graft-metrics-out").toString
    Webtext.df(s, 1200, 4).write.mode("overwrite").parquet(landing)

    val listener = pipeline.streaming.StreamMetrics.attach(s, out)
    try {
      val q = Streaming.startDocs(Streaming.readWebtext(s, landing), out)
      q.awaitTermination()
      // listener delivery is ASYNC (event bus): await the input rows
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def inputRows() = pipeline.streaming.StreamMetrics.load(s, out)
        .filter(col("kind") === "input")
      while (inputRows().count() == 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
      val m = pipeline.streaming.StreamMetrics.load(s, out)
      // input: observed events_in across micro-batches == landed fixture rows
      val totalIn = m.filter(col("kind") === "input")
        .agg(sum(col("rows"))).head().getLong(0)
      assert(totalIn == 1200L, s"observed input $totalIn")
      // sink rows: exactly the ledger's per-sink totals (the table reads
      // the batch commits' counts)
      val perSink = m.filter(col("kind") === "sink").groupBy("name")
        .agg(sum(col("rows")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ledger = new Ledger(out).committedRows()
      assert(perSink.values.sum == ledger.values.sum,
        s"metrics $perSink vs ledger $ledger")
      assert(perSink.nonEmpty && perSink.values.forall(_ > 0))
      // stateless query: late-drop counter exists and is zero
      val late = m.filter(col("kind") === "late")
        .agg(sum(col("rows"))).head().getLong(0)
      assert(late == 0L, s"stateless stream dropped $late rows")
      // and per-batch: every metrics sink batch has a ledger twin
      val mBatches = m.filter(col("kind") === "sink")
        .select("batch_id").distinct().count()
      assert(mBatches.toInt == ledger.size,
        s"$mBatches metric batches vs ${ledger.size} ledger commits")
      // correlation: listener (input) and foreachBatch (sink) rows carry
      // the SAME query label — per-query input-vs-delivered accounting
      val qIn = m.filter(col("kind") === "input")
        .select("query").distinct().collect().map(_.getString(0)).toSet
      val qSink = m.filter(col("kind") === "sink")
        .select("query").distinct().collect().map(_.getString(0)).toSet
      assert(qIn == qSink && qIn.size == 1, s"query labels: in=$qIn sink=$qSink")
      // replay semantics: a re-executed micro-batch commits batch-0 again;
      // the later commit SUPERSEDES the first (the ledger's last-wins rule)
      // in both the commit readers and the table, adding no row
      val before = pipeline.streaming.StreamMetrics.load(s, out).count()
      val first = new Ledger(out).commits().find(_.unit.contains("batch-0")).get
      val replayed = first.counts.updated("s3", first.counts("s3") + 1000L)
      new Ledger(out).append(pipeline.io.Ledger.Record(unit = Some("batch-0"),
        batchId = Some(0L), query = Some(qIn.head), rows = replayed.values.sum,
        counts = replayed))
      val rows = new Ledger(out).committedRows()
      assert(rows.size == ledger.size && rows("batch-0") == first.rows + 1000L,
        s"replayed ledger $rows vs $ledger")
      val after = pipeline.streaming.StreamMetrics.load(s, out)
      assert(after.count() == before, "replays must not add rows")
      assert(after.filter(col("batch_id") === 0 && col("kind") === "sink" &&
        col("name") === "s3").head().getAs[Long]("rows") == replayed("s3"),
        "the latest replay's value must win")
      // the ledger is the outDir's one accounting file
      val files = Files.list(java.nio.file.Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSet
      assert(files == Set("ledger.jsonl"), s"outDir files $files")
    } finally s.streams.removeListener(listener)
  }

  test("a sink named like a ledger field round-trips through the ledger and the table") {
    val s = sc
    val landing = Files.createTempDirectory("graft-fieldsink-landing").toString
    val out = Files.createTempDirectory("graft-fieldsink-out").toString
    Webtext.df(s, 600, 2).write.mode("overwrite").parquet(landing)
    // destination ids become sink names; `rows` and `unit` are also the
    // names of a commit record's own fields
    val rules = Seq(stages.RouteRule(col("status") >= 500, "rows"),
      stages.RouteRule(lit(true), "unit"))
    val q = Streaming.startDocs(
      Streaming.readWebtext(s, landing, maxFilesPerTrigger = 1), out, rules)
    q.awaitTermination()
    val written = s.read.parquet(s"$out/routed_stream").groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(written.keySet == Set("rows", "unit", "deadletter"), s"written $written")
    val ledger = new Ledger(out)
    val batches = ledger.committedRows()
    assert(batches.keySet.forall(_.startsWith("batch-")) && batches.size == 2,
      s"commits $batches")
    assert(batches.values.sum == written.values.sum)
    // a standard reader sees each commit's own total, not a sink's count
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out, "ledger.jsonl"))
      .forEach { l =>
        val o = om.readTree(l)
        assert(o.get("rows").asLong == batches(o.get("unit").asText), s"line $l")
      }
    assert(ledger.commits().flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _) == written)
    val table = pipeline.streaming.StreamMetrics.load(s, out)
      .filter(col("kind") === "sink").groupBy("name").agg(sum("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(table == written, s"table $table vs written $written")
  }

  test("stream metrics: watermark-dropped rows surface in the late counter") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("graft-late-landing").toString
    val out = Files.createTempDirectory("graft-late-out").toString
    val ck = Files.createTempDirectory("graft-late-ck").toString
    // file 1 carries a FUTURE event, so the watermark jumps past every
    // later file's rows; maxFilesPerTrigger=1 processes the files as
    // separate micro-batches in mtime order. Measured (round 4): the
    // late-filter watermark LAGS one micro-batch — file 2's late row is
    // still ADMITTED in batch 1 (its window count includes it), and file
    // 3's late row is the one dropped and counted in batch 2 (×2 rows
    // after the route fan-out, so lateSum is 2). A windowed AGGREGATION
    // late-filters; dropDuplicatesWithinWatermark does NOT — its
    // watermark only evicts state (also measured).
    def doc(id: Long, ts: String) = (s"u$id", java.sql.Timestamp.valueOf(ts),
      Array[Byte](), s"text $id", "en")
    val cols = Seq("url", "warc_ts", "html", "text", "lang")
    Seq(doc(1, "2026-01-01 00:00:00"), doc(2, "2026-01-03 00:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100) // distinct mtimes → deterministic trigger order
    Seq(doc(3, "2026-01-01 00:30:00")).toDF(cols: _*)
      .coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Seq(doc(4, "2026-01-01 00:40:00")).toDF(cols: _*)
      .coalesce(1).write.mode("append").parquet(landing)

    val listener = pipeline.streaming.StreamMetrics.attach(s, out)
    try {
      val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val q = Streaming.windowedCounts(stream)
        .writeStream.format("memory").queryName("late_probe")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def lateSum() = pipeline.streaming.StreamMetrics.load(s, out)
        .filter(col("kind") === "late").agg(coalesce(sum(col("rows")), lit(0L)))
        .head().getLong(0)
      while (lateSum() == 0 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(lateSum() >= 1,
        "the 2026-01-01T00:30 row behind the 2026-01-03 watermark must be " +
          "counted as dropped-by-watermark in the metrics table")
    } finally s.streams.removeListener(listener)
  }

  test("event batcher watermarkDelay: out-of-order events admitted at ANY delay") {
    val s = sc
    import s.implicits._
    // file 1 = one FUTURE sentinel (jumps the watermark); file 2 = 200
    // ordinary docs, now BEHIND the watermark when their micro-batch runs.
    // batchSize=1 flushes every admitted event by count immediately, so
    // delivered line counts measure ADMISSION only (no deadline coupling).
    val landing = Files.createTempDirectory("graft-wmd-landing").toString
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?s",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 365L * 86400000L)))
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 200, 1).write.mode("append").parquet(landing)

    def run(delay: String): Long = {
      val out = Files.createTempDirectory(s"graft-wmd-out").toString
      val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      val q = Streaming.startPushFlushes(Pipeline.transform(stream), out,
        batchSize = 1, flushMs = 60 * 60000L,
        transport = new io.Push.LocalFileTransport(s"$out/pushed"),
        watermarkDelay = delay)
      q.awaitTermination()
      val pushed = new java.io.File(s"$out/pushed")
      if (!pushed.exists) 0L
      else pushed.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
        .map(f => scala.io.Source.fromFile(f, "UTF-8").getLines().size.toLong).sum
    }
    val withDelay = run("400 days")
    val zeroDelay = run("0 seconds")
    // every timestamped routed row is admitted under a covering delay
    val expected = RefNormalizer.routedCounts((0L until 200L).iterator.map(Webtext.row))
    val timestamped = expected.filter(_._1 != "deadletter").values.sum
    assert(withDelay >= timestamped,
      s"covering delay delivered $withDelay of >= $timestamped routed lines")
    // MEASURED (round 4): flatMapGroupsWithState has NO late-input filter —
    // admission is delay-invariant (the round-3 review's data-loss premise
    // does not hold on Spark 4.1.2; the watermark only drives time/timeout
    // deadlines, see Batcher scaladoc). Pin that so a Spark upgrade that
    // starts dropping late FMGWS input fails loudly here.
    assert(zeroDelay == withDelay,
      s"0s delay delivered $zeroDelay vs $withDelay — admission must not depend on the delay")
  }

  test("checkpoint resume: new files after a stop are processed exactly once") {
    val s = sc
    val landing = Files.createTempDirectory("graft-landing2").toString
    val out = Files.createTempDirectory("graft-stream-out2").toString
    Webtext.dataset(s, 1000, 2).write.mode("overwrite").parquet(s"$landing/p1")

    // Spark's file stream needs one directory; use the parent with glob-less
    // layout: write batches as separate files inside `landing`
    val fs = new java.io.File(landing)
    fs.listFiles().foreach(f => ()) // keep dir as-is

    val q1 = Streaming.startDocs(Streaming.readWebtext(s, s"$landing/p1"), out)
    q1.awaitTermination()
    val after1 = s.read.parquet(s"$out/routed_stream").count()

    // second run on the same checkpoint: nothing new → no new rows
    val q2 = Streaming.startDocs(Streaming.readWebtext(s, s"$landing/p1"), out)
    q2.awaitTermination()
    val after2 = s.read.parquet(s"$out/routed_stream").count()
    assert(after1 == after2, "restart with no new data must not duplicate")

    // add new rows to the same dir → only the delta is appended
    Webtext.dataset(s, 1500, 2).filter(col("url").isNotNull)
      .write.mode("append").parquet(s"$landing/p1")
    val q3 = Streaming.startDocs(Streaming.readWebtext(s, s"$landing/p1"), out)
    q3.awaitTermination()
    val after3 = s.read.parquet(s"$out/routed_stream").count()
    assert(after3 > after2)
  }

  test("bus (kafka/mqtt-shaped) streaming source: decode + route == ref; off-topic ignored") {
    val s = sc
    val landing = Files.createTempDirectory("graft-bus-landing").toString
    val out = Files.createTempDirectory("graft-bus-out").toString
    // two topics land interleaved; the subscription must only consume one
    pipeline.sources.Bus.fixture(s, 800, "reveald/src", 4)
      .write.mode("overwrite").parquet(landing)
    pipeline.sources.Bus.fixture(s, 300, "other/noise", 2)
      .write.mode("append").parquet(landing)

    val q = Streaming.startBus(s, landing, out, Some("reveald/src"), sourceId = "mqtt_src")
    q.awaitTermination()

    val routed = s.read.parquet(s"$out/routed_stream")
    val got = routed.groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = RefNormalizer.routedCounts((0L until 800L).iterator.map(Webtext.row))
    assert(got == ref, s"got=$got ref=$ref")
    // provenance: every routed row carries the configured source id
    assert(routed.select("source").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("mqtt_src"))
    // observe() metrics surface per micro-batch (StreamingQueryProgress):
    // on-topic rows only, summed across progress events
    val observedIn = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_stream_in")))
      .map(_.getAs[Long]("events_in")).sum
    assert(observedIn == 800L, s"observed events_in=$observedIn")
  }

  test("streaming push: batcher event flushes drive Transport batches, counts reconcile") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("graft-push-landing").toString
    val out = Files.createTempDirectory("graft-push-out").toString
    // same landing choreography as BatcherSpec: one micro-batch per file
    // (mtime-ordered), two far-future sentinels to drive the watermark past
    // every open buffer's deadline so time/timeout flushes drain
    Webtext.dataset(s, 500, 1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?s",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 365L * 86400000L)))
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?t",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 730L * 86400000L)))
      .write.mode("append").parquet(landing)

    val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val routed = Pipeline.transform(stream)
    val q = Streaming.startPushFlushes(routed, out, batchSize = 64,
      flushMs = 60 * 60000L, transport = new io.Push.LocalFileTransport(s"$out/pushed"))
    q.awaitTermination()

    // every flush landed as ONE durable transport batch per (sink, seq)
    val pushedDir = new java.io.File(s"$out/pushed")
    assert(pushedDir.exists, "no pushed batches")
    val perSink = pushedDir.listFiles().filter(_.isDirectory).map { d =>
      val files = d.listFiles().sortBy(_.getName)
      val lines = files.map(f => scala.io.Source.fromFile(f, "UTF-8").getLines().size)
      // batch files are dense from seq 0 and each holds ≤ batchSize lines
      assert(files.map(_.getName).toSeq ==
        files.indices.map(i => f"batch-$i%016d.jsonl"))
      assert(lines.forall(_ <= 64))
      d.getName -> lines.sum.toLong
    }.toMap
    // reconciliation: everything routed before the sentinels was delivered
    // (sentinels may remain in open buffers when AvailableNow ends)
    val expected = RefNormalizer.routedCounts((0L until 500L).iterator.map(Webtext.row))
      .filter(_._2 > 0) // deadletter rows have null warc_ts → excluded below
    expected.foreach { case (sink, n) =>
      // corrupt rows carry a null warc_ts and stay on the deadletter/ledger
      // path (Batcher scaladoc); every timestamped routed row must push
      if (sink != "deadletter") {
        val got = perSink.getOrElse(sink, 0L)
        assert(got >= n && got <= n + 2, s"sink $sink: pushed $got, routed $n")
      }
    }
    // payloads are real JSON event lines (the Push.deliver wire shape)
    val one = pushedDir.listFiles().filter(_.isDirectory).head.listFiles().head
    val firstLine = scala.io.Source.fromFile(one, "UTF-8").getLines().next()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(om.readTree(firstLine).hasNonNull("url"))
  }

  test("sharded push: hot-sink batching splits across shards, totals unchanged") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("graft-shard-landing").toString
    val out = Files.createTempDirectory("graft-shard-out").toString
    Webtext.dataset(s, 500, 1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?s",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 365L * 86400000L)))
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Webtext.dataset(s, 1, 1)
      .map(d => d.copy(url = d.url + "?t",
        warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + 730L * 86400000L)))
      .write.mode("append").parquet(landing)

    val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val routed = Pipeline.transform(stream)
    val q = Streaming.startPushFlushes(routed, out, batchSize = 64,
      flushMs = 60 * 60000L,
      transport = new io.Push.LocalFileTransport(s"$out/pushed"), shards = 3)
    q.awaitTermination()

    val pushedDir = new java.io.File(s"$out/pushed")
    assert(pushedDir.exists, "no pushed batches")
    val perSink = pushedDir.listFiles().filter(_.isDirectory).map { d =>
      val files = d.listFiles().sortBy(_.getName)
      // batch ids are shard-prefixed (shard << 40 | seq): at least two
      // distinct shards must appear on the busy sinks
      val shards = files.map(_.getName.stripPrefix("batch-")
        .stripSuffix(".jsonl").toLong >> 40).distinct
      val lines = files.map(f => scala.io.Source.fromFile(f, "UTF-8").getLines().size)
      assert(lines.forall(_ <= 64))
      (d.getName, shards.length, lines.sum.toLong)
    }
    // same reconciliation as the unsharded test: totals per sink unchanged
    val expected = RefNormalizer.routedCounts((0L until 500L).iterator.map(Webtext.row))
    perSink.foreach { case (sink, nShards, got) =>
      if (sink != "deadletter") {
        val n = expected.getOrElse(sink, 0L)
        assert(got >= n && got <= n + 2, s"sink $sink: pushed $got, routed $n")
        assert(nShards >= 2, s"sink $sink used only $nShards shard(s)")
      }
    }
  }

  test("streaming exact dedup drops repeats within the watermark") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("graft-dedup-landing").toString
    // file 2 repeats file 1's payloads exactly (only urls differ) → every
    // non-null text in file 2 is a duplicate within the watermark horizon.
    // Both files also carry corrupt rows: null TEXT (no digest) and null
    // WARC_TS (no event time) — each must pass through UNCOLLAPSED even
    // though their digests/texts repeat across the two files.
    def file(tag: String) = Webtext.dataset(s, 400, 1)
      .map { d =>
        val dd = d.copy(url = d.url + tag)
        if (d.url.hashCode % 29 == 0) dd.copy(text = null)
        else if (d.url.hashCode % 31 == 0) dd.copy(warc_ts = null)
        else dd
      }
    file("?a").write.mode("append").parquet(landing)
    Thread.sleep(1100)
    file("?b").write.mode("append").parquet(landing)

    val all = s.read.parquet(landing)
    val dedupable = all.filter(col("text").isNotNull && col("warc_ts").isNotNull)
    val expectUnique = dedupable
      .select(md5(col("text").cast("binary"))).distinct().count()
    val expectPassthrough = all.count() - dedupable.count()
    assert(expectPassthrough >= 4, // both corrupt kinds present in both files
      s"fixture must exercise the passthrough branch: $expectPassthrough")

    val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = Streaming.dedupDocs(stream, delay = "90 days").writeStream
      .format("memory").queryName("dedup_stream").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("gdd").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = s.sql("SELECT * FROM dedup_stream")
    assert(out.filter(col("text").isNotNull && col("warc_ts").isNotNull)
      .count() == expectUnique)
    // null-text AND null-warc_ts (deadletter-path) rows pass through
    // uncollapsed — they must not enter the event-time stateful operator
    assert(out.filter(col("text").isNull || col("warc_ts").isNull)
      .count() == expectPassthrough)
    // schema is unchanged (digest is internal)
    assert(out.columns.sorted.toSeq == all.columns.sorted.toSeq)
  }

  test("streaming sessionization == batch session_window (closed sessions)") {
    val s = sc
    import s.implicits._
    val landing = Files.createTempDirectory("graft-sess-landing").toString
    Webtext.dataset(s, 500, 1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // two far-future sentinels drive the watermark past every session end
    // (the watermark lags one micro-batch)
    for (off <- Seq(365L, 730L)) {
      Webtext.dataset(s, 1, 1)
        .map(d => d.copy(url = d.url + s"?s$off",
          warc_ts = new java.sql.Timestamp(d.warc_ts.getTime + off * 86400000L)))
        .write.mode("append").parquet(landing)
      Thread.sleep(1100)
    }
    val stream = s.readStream.schema(pipeline.model.Schemas.webtext)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = Streaming.sessionCounts(Pipeline.transform(stream)).writeStream
      .format("memory").queryName("sessions").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("gsc").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // batch ground truth over the same files, same expression
    val batch = Pipeline.transform(s.read.parquet(landing))
      .filter(col("warc_ts").isNotNull)
      .groupBy(col("host"), session_window(col("warc_ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("host"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
    val maxTs = batch.agg(max(col("session_end"))).head().getTimestamp(0)
    // every session the watermark could close must have been emitted,
    // with identical (key, bounds, count); only the sentinels' own
    // (still-open) sessions may be absent
    val closed = batch.filter(col("session_end") < lit(maxTs))
    val streamed = s.sql("SELECT * FROM sessions")
    assert(closed.count() > 10)
    assert(streamed.exceptAll(closed).isEmpty &&
      closed.exceptAll(streamed).isEmpty,
      "streaming sessions must equal batch closed sessions")
  }

  test("config-driven pipeline binds to a STREAMING source unchanged (daemon mode)") {
    val s = sc
    val landing = Files.createTempDirectory("graft-cfgstream").toString
    pipeline.sources.LineCodec.encode(Webtext.df(s, 600, 2))
      .write.mode("overwrite").parquet(landing)
    val spec = pipeline.config.PipelineSpec(
      sources = Seq(pipeline.config.SourceSpec("in", "file")),
      sinks = Seq(pipeline.config.SinkSpec("s3", "s3"),
        pipeline.config.SinkSpec("printer", "printer")),
      rules = Nil,
      // streaming-safe transforms only (dedup_exact needs batch semantics)
      transforms = Seq(
        pipeline.config.TransformSpec("pii_redact"),
        pipeline.config.TransformSpec("lang_allowlist", Map("langs" -> "en,de,zh"))))

    val batch = pipeline.config.ConfigRunner.routed(spec,
      Map("in" -> s.read.parquet(landing)))
      .groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // the SAME spec + stages bound to a readStream source — the reference's
    // daemon loop shape; stages are pure DataFrame functions, so the config
    // compiles identically for both execution modes
    val stream = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = pipeline.config.ConfigRunner.routed(spec, Map("in" -> stream)).writeStream
      .format("memory").queryName("cfg_stream").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("gcs").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = s.sql("SELECT sink, count(*) AS n FROM cfg_stream GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch && batch.values.sum > 0,
      s"streaming config run must equal batch: $streamed vs $batch")
  }

  /** Shared near-dup stream harness: landing dir → kept-docs frame via
    * verdicts → per-micro-batch finalize → parquet (maxFilesPerTrigger=1,
    * so file arrival order IS event order). */
  private def runNearDedup(landing: String, delayMs: Long, nGram: Int,
                           bands: Int, rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    val s = sc
    val out = Files.createTempDirectory("graft-nd-out").toString
    val stream = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = pipeline.streaming.NearDedup
      .verdicts(stream, delayMs, nGram, bands, rowsPerBand)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[pipeline.streaming.NearDedup.Verdict], _: Long) =>
        pipeline.streaming.NearDedup.finalize(b.toDF)
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", Files.createTempDirectory("ndck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  test("streaming near-dup: reconciles with batch dedup_near on clique components") {
    val s = sc
    import s.implicits._
    // duplicate CLASSES = docs sharing full text (every band collides);
    // singletons use disjoint vocabularies (no band collides). On such
    // clique-or-nothing structure the streaming single-pass form must keep
    // EXACTLY one representative per class + all singletons + all bypass
    // rows — the same CLASS STRUCTURE the batch closure computes (keeper
    // identity differs by contract: first-arrival vs min hash id).
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "red orange yellow green blue indigo violet crimson amber teal navy rose"
    val t3 = "oak elm birch maple cedar willow aspen spruce fir larch rowan yew"
    val t4 = "flour sugar butter yeast salt honey cocoa vanilla almond walnut raisin date"
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    def doc(url: String, sec: Int, text: String) =
      (url, ts(sec), text, "en", "src")
    val fileA = Seq(
      doc("u/d1", 1, t1),
      doc("u/d2", 2, t2), doc("u/d2b", 3, t2), // intra-batch dup: d2 earlier
      doc("u/d3", 4, t3),
      doc("u/d7", 5, t4), doc("u/d7", 5, t4),  // IDENTICAL rows: one nid
      ("u/null-text", ts(6), null.asInstanceOf[String], "en", "src"),
      ("u/null-ts", null.asInstanceOf[java.sql.Timestamp],
        "tiny", "en", "src")) // 1 word < nGram → null sig → bypass too
    val fileB = Seq(
      doc("u/d4", 30, t1),  // dup of d1 across batches
      doc("u/d5", 31, "quark lepton boson gluon photon neutrino muon tau hadron meson baryon spin"),
      doc("u/d6", 32, t2))  // dup of d2 across batches
    val landing = Files.createTempDirectory("graft-neardup-landing").toString
    val schemaCols = Seq("url", "warc_ts", "text", "lang", "source")
    // ONE part file per logical arrival: maxFilesPerTrigger=1 must see
    // fileA strictly before fileB (multi-part writes split a batch
    // nondeterministically by listing order)
    fileA.toDF(schemaCols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    fileB.toDF(schemaCols: _*).coalesce(1).write.mode("append").parquet(landing)

    val all = s.read.parquet(landing)
    // fixture precondition: the band-collision graph is exactly the
    // same-text cliques (disjoint vocabularies collide on no band)
    val pairs = pipeline.ops.Dedup.minhashLsh(
      all.filter(col("text").isNotNull && col("warc_ts").isNotNull)
        .withColumn("id", xxhash64(col("url"), col("warc_ts").cast("string"),
          col("source"), col("text"))),
      "id", "text", nGram = 3, bands = 2, rowsPerBand = 4)
    val idText = all.withColumn("id", xxhash64(col("url"),
      col("warc_ts").cast("string"), col("source"), col("text")))
      .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.collect().foreach { r =>
      assert(idText(r.getLong(0)) == idText(r.getLong(1)),
        "band collisions must stay inside same-text classes")
    }

    val kept = runNearDedup(landing, delayMs = 86400000L,
      nGram = 3, bands = 2, rowsPerBand = 4)
    val keptUrls = kept.select("url").as[String].collect().sorted.toSeq
    // first-arrival keeper per class + singletons + both identical copies
    // + both bypass rows
    assert(keptUrls == Seq("u/d1", "u/d2", "u/d3", "u/d5", "u/d7", "u/d7",
      "u/null-text", "u/null-ts"), s"got $keptUrls")
    // batch twin on the same frame: same kept COUNT and same kept TEXT
    // multiset (clique structure ⇒ one representative per class; keeper
    // identity is the documented difference)
    val batchKept = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near", Map(
        "nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))(all)
    assert(batchKept.count() == kept.count())
    def textMultiset(df: org.apache.spark.sql.DataFrame) = df.select("text")
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>")).sorted.toSeq
    assert(textMultiset(batchKept) == textMultiset(kept))
  }

  test("near-dup finalize: identical copies keep their OWN lang (no first() stamp)") {
    val s = sc
    import s.implicits._
    // lang is OUTSIDE the node id: rows identical in (url, warc_ts,
    // source, text) share one nid and one fate, but each re-emitted copy
    // must carry its own lang — batch left_anti preserves per-row lang,
    // so a first(lang) collapse in finalize would diverge (ADVICE r5)
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val rows = Seq(
      ("u/x", ts(1), t, "en", "src"),
      ("u/x", ts(1), t, "de", "src"),
      ("u/x", ts(1), t, null.asInstanceOf[String], "src"))
    val landing = Files.createTempDirectory("graft-nd-lang").toString
    rows.toDF("url", "warc_ts", "text", "lang", "source").coalesce(1)
      .write.mode("append").parquet(landing)
    val kept = runNearDedup(landing, delayMs = 86400000L,
      nGram = 3, bands = 2, rowsPerBand = 4)
    def langsOf(df: org.apache.spark.sql.DataFrame) = df.select("lang")
      .collect().map(r => Option(r.getString(0))).toSeq.sortBy(_.getOrElse(""))
    assert(kept.count() == 3)
    assert(langsOf(kept) == Seq(None, Some("de"), Some("en")))
    // batch twin: identical per-row lang multiset
    val batch = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near", Map(
        "nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))(
      s.read.parquet(landing))
    assert(langsOf(batch) == langsOf(kept))
  }

  test("near-dup daemon: dedup→parse→route→write counts == batch dedup_near chain") {
    val s = sc
    import s.implicits._
    // clique fixture (dup classes share FULL text) so batch closure and
    // streaming arrival-roots agree on kept COUNTS; routing depends only
    // on text/lang (status/is_corrupt parse from text; rules never read
    // url), so which representative survives cannot move per-sink counts
    val t1 = "title: alpha beta status=503 bytes=10 method=GET gamma delta epsilon zeta"
    val t2 = "title: red orange status=200 bytes=20 method=GET yellow green blue indigo"
    val t3 = "oak elm birch maple cedar willow aspen spruce"
    val t4 = "quark lepton boson gluon photon neutrino muon tau"
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    val cols = Seq("url", "warc_ts", "text", "lang", "source")
    val fileA = Seq(
      ("u/a1", ts(1), t1, "en", "src"), ("u/a2", ts(2), t2, "de", "src"),
      ("u/a3", ts(3), t3, "en", "src"))
    val fileB = Seq(
      ("u/b1", ts(30), t1, "en", "src"),  // dup of a1 → dropped
      ("u/b2", ts(31), t4, "ja", "src"),  // new → kept
      ("u/b3", ts(32), t2, "de", "src"))  // dup of a2 → dropped
    val landing = Files.createTempDirectory("graft-nddaemon-landing").toString
    fileA.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    fileB.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val out = Files.createTempDirectory("graft-nddaemon-out").toString
    val stream = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = Streaming.startDocsNearDedup(stream, out,
      delayMs = 86400000L, nGram = 3, bands = 2, rowsPerBand = 4)
    q.awaitTermination()
    val got = s.read.parquet(s"$out/routed_stream").groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch twin: the dedup_near transform + the same stage chain
    val all = s.read.parquet(landing)
    val deduped = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near", Map(
        "nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))(all)
    assert(deduped.count() == 4) // one rep per class + both singletons
    val batchCounts = pipeline.stages.Aggregate
      .sinkCounts(Pipeline.transform(deduped))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batchCounts && got.values.sum > 0,
      s"streaming $got vs batch $batchCounts")
    // ledger commits reconcile with the written rows
    val ledger = new Ledger(out).committedRows()
    assert(ledger.values.sum == got.values.sum)
  }

  test("streaming near-dup: rows below the watermark are ADMITTED (measured)") {
    val s = sc
    import s.implicits._
    // file 1 carries a far-future sentinel: after batch 1 the watermark
    // sits at sentinel − delay, far above file 2's rows. MEASURES whether
    // FMGWS(EventTimeTimeout) admits or drops sub-watermark input on
    // Spark 4.1.2 — the Batcher admission test pinned "admitted" for ITS
    // fixture (watermark below the late rows at processing time); this
    // fixture forces the watermark ABOVE them first.
    val cols = Seq("url", "warc_ts", "text", "lang", "source")
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    val fileA = Seq(
      ("u/early", ts("2026-01-01 00:00:01"), "one two three four five six", "en", "s"),
      ("u/sentinel", ts("2026-02-01 00:00:00"), "seven eight nine ten eleven twelve", "en", "s"))
    val fileB = Seq( // below the post-batch-1 watermark by weeks
      ("u/late", ts("2026-01-01 00:00:05"), "alpha beta gamma delta epsilon zeta", "en", "s"))
    val landing = Files.createTempDirectory("graft-latnd-landing").toString
    fileA.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    fileB.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val kept0 = runNearDedup(landing, delayMs = 60000L, nGram = 3, bands = 2, rowsPerBand = 4)
    val kept = kept0.select("url").as[String].collect().toSet
    // MEASURED Spark 4.1.2 behavior, pinned: FMGWS(EventTimeTimeout) has
    // NO late-input filter — the sub-watermark row is ADMITTED and judged
    // against current state (the same result the Batcher admission-
    // invariance test measured on its fixture; a code reviewer's claim
    // that the late-events predicate fires here did not reproduce). The
    // monotone-timeout fold in NearDedup exists precisely because late
    // claims are admitted: an older-ts claim must never pull a band's
    // expiry earlier. If a Spark upgrade starts dropping late input,
    // this assert fires and the class doc must be revisited.
    assert(kept == Set("u/early", "u/sentinel", "u/late"), s"got $kept")
  }

  test("streaming near-dup: horizon expiry re-admits far-apart duplicates") {
    val s = sc
    import s.implicits._
    // delay = 1 min. file 1 plants the original at T0; file 2 moves the
    // watermark past T0+delay (sentinel at T0+1h, watermark = sentinel −
    // delay); after batch 2's timeout sweep the band state is EXPIRED, so
    // file 3's exact duplicate of the original is re-admitted — the
    // documented HORIZON approximation (the batch closure over all time
    // would drop it)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val cols = Seq("url", "warc_ts", "text", "lang", "source")
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    val landing = Files.createTempDirectory("graft-hzn-landing").toString
    Seq(("u/orig", ts("2026-01-01 00:00:00"), t1, "en", "s"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Seq(("u/sentinel", ts("2026-01-01 01:00:00"),
      "one two three four five six seven eight", "en", "s"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Seq(("u/readmitted", ts("2026-01-01 01:00:01"), t1, "en", "s"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val kept0 = runNearDedup(landing, delayMs = 60000L, nGram = 3, bands = 2, rowsPerBand = 4)
    val kept = kept0.select("url").as[String].collect().toSet
    // the duplicate re-enters because its original's state expired — and
    // within-horizon dedup (the other tests) still drops near-in-time dups
    assert(kept == Set("u/orig", "u/sentinel", "u/readmitted"), s"got $kept")
  }

  test("streaming near-dup: cross-band transitive merges are the documented miss") {
    val s = sc
    import s.implicits._
    // craft a BRIDGE component with nGram=1, bands=2, rowsPerBand=1:
    // find words wa, wb whose two permuted-hash mins INVERT (h0(wa) <
    // h0(wb) but h1(wb) < h1(wa)); then A="wa", B="wb", C="wa wb" gives
    // sig(C) = [h0(wa), h1(wb)] — C shares band 0 with A and band 1 with
    // B, while A and B share nothing. Deterministic: Spark's hash is fixed.
    val words = (1 to 40).map(i => s"w${i}q")
    val sigs = words.toDF("w").select(col("w"),
      pipeline.expr.PortableExprs.minhashSig(col("w"), 1, 2).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val pair = (for {
      wa <- words; wb <- words if wa != wb
      sa = sigs(wa); sb = sigs(wb)
      if sa(0) < sb(0) && sb(1) < sa(1)
    } yield (wa, wb)).headOption
    assert(pair.isDefined, "no inverting word pair in the probe vocabulary")
    val (wa, wb) = pair.get
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    val fileA = Seq(("u/A", ts(1), wa, "en", "src"), ("u/B", ts(2), wb, "en", "src"))
    val fileB = Seq(("u/C", ts(30), s"$wa $wb", "en", "src"))
    val landing = Files.createTempDirectory("graft-bridge-landing").toString
    val cols = Seq("url", "warc_ts", "text", "lang", "source")
    fileA.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    fileB.toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val all = s.read.parquet(landing)
    // precondition: the collision graph is exactly A–C and B–C
    val ids = all.withColumn("id", xxhash64(col("url"),
      col("warc_ts").cast("string"), col("source"), col("text")))
    val pairSet = pipeline.ops.Dedup.minhashLsh(ids, "id", "text",
      nGram = 1, bands = 2, rowsPerBand = 1).count()
    assert(pairSet == 2L, s"bridge fixture must yield exactly 2 pairs, got $pairSet")

    val kept0 = runNearDedup(landing, delayMs = 86400000L, nGram = 1, bands = 2, rowsPerBand = 1)
    val streamingKept = kept0.select("url").as[String].collect().sorted.toSeq
    val batchKept = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near", Map(
        "nGram" -> "1", "bands" -> "2", "rowsPerBand" -> "1")))(all).count()
    // THE DOCUMENTED APPROXIMATION: the batch closure merges {A,B,C} into
    // one component (keeps 1); the single-pass form keeps both arrival
    // roots A and B and drops only the bridge C (keeps 2)
    assert(streamingKept == Seq("u/A", "u/B"), s"got $streamingKept")
    assert(batchKept == 1L)
  }

  test("event-time window counts with watermark") {
    val s = sc
    val landing = Files.createTempDirectory("graft-landing3").toString
    Webtext.df(s, 500, 2).write.mode("overwrite").parquet(landing)
    val stream = Streaming.readWebtext(s, landing)
    val q = Streaming.windowedCounts(stream).writeStream
      .format("memory").queryName("wincounts").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = s.sql("SELECT sum(n_rows) FROM wincounts").head.getLong(0)
    // append mode emits only windows sealed by the watermark; with 500
    // minutes of data and a 1h watermark, all but the last ~2 windows seal
    val ref = RefNormalizer.routedCounts((0L until 500L).iterator.map(Webtext.row))
    assert(rows > 0 && rows <= ref.values.sum)
  }

  // ---------- streaming IMAGE near-dup (dHash band-owner twin) ----------

  /** Image-doc row: html = a real PNG whose dHash is exactly `bits`
    * (PngFromBitsExpr round-trips bit-for-bit, pinned in OpsSpec). */
  private def imgDoc(url: String, sec: Int, bits: Long,
                     lang: String = "en"): (String, java.sql.Timestamp,
                     Array[Byte], String, String, String) =
    (url, java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d"),
      pipeline.expr.PngFromBitsExpr.encode(bits), null, lang, "img")

  private val imgCols = Seq("url", "warc_ts", "html", "text", "lang", "source")

  /** Shared image near-dup stream harness, the runNearDedup twin. */
  private def runImageNearDedup(landing: String, delayMs: Long,
                                bands: Int, maxHamming: Int): org.apache.spark.sql.DataFrame = {
    val s = sc
    val out = Files.createTempDirectory("graft-ind-out").toString
    val stream = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = pipeline.streaming.NearDedup
      .imageVerdicts(stream, delayMs, bands, maxHamming)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[pipeline.streaming.NearDedup.ImgVerdict], _: Long) =>
        pipeline.streaming.NearDedup.finalizeImage(b.toDF)
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", Files.createTempDirectory("indck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
  }

  test("streaming image near-dup: drops within-ball, keeps far/bypass/undecodable; edges == batch pairs") {
    val s = sc
    import s.implicits._
    // hashes: a ball of three around hA (hamming 0/1/2 ≤ max 3) plus one
    // far hash; bands=8 over 64 bits, so hamming ≤ 2 leaves ≥ 6 shared
    // band slices — every within-ball image collides with the original
    val hA = 0x0123456789ABCDEFL
    val hB = hA ^ (1L << 7)               // hamming 1
    val hC = hA ^ (1L << 13) ^ (1L << 40) // hamming 2
    val hFar = ~hA                        // hamming 64
    val fileA = Seq(
      imgDoc("i/a", 1, hA),
      imgDoc("i/a-exact", 2, hA),         // exact twin, different url/nid
      imgDoc("i/b", 3, hB))
    val fileB = Seq(
      imgDoc("i/c", 30, hC),              // cross-micro-batch near-dup
      imgDoc("i/far", 31, hFar),
      ("i/null-html", java.sql.Timestamp.valueOf("2026-01-01 10:00:32"),
        null.asInstanceOf[Array[Byte]], "caption only", "en", "img"),
      ("i/undecodable", java.sql.Timestamp.valueOf("2026-01-01 10:00:33"),
        "not a png".getBytes, null, "en", "img"))
    val landing = Files.createTempDirectory("graft-ind-landing").toString
    fileA.toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    fileB.toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)

    val kept = runImageNearDedup(landing, delayMs = 86400000L,
      bands = 8, maxHamming = 3)
    val keptUrls = kept.select("url").as[String].collect().sorted.toSeq
    // first-arrival keeper of the ball + the far singleton + never-vanish
    assert(keptUrls == Seq("i/a", "i/far", "i/null-html", "i/undecodable"),
      s"got $keptUrls")
    // kept payloads survive byte-intact (the binary column rides band 0)
    val keptPng = kept.filter(col("url") === "i/a").select("html")
      .as[Array[Byte]].head()
    assert(java.util.Arrays.equals(keptPng,
      pipeline.expr.PngFromBitsExpr.encode(hA)))
    // batch twin on the same frame: imageNearDup's verified pairs are
    // exactly the streaming drop edges (every dropped url near-pairs the
    // kept original; far/bypass rows pair with nothing)
    val all = s.read.parquet(landing)
      .withColumn("id", col("url"))
    val pairs = pipeline.ops.Dedup.imageNearDup(all, "id", "html",
      bands = 8, maxHamming = 3)
      .select("a", "b").as[(String, String)].collect()
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    assert(pairs == Set(("i/a", "i/a-exact"), ("i/a", "i/b"), ("i/a", "i/c"),
      ("i/a-exact", "i/b"), ("i/a-exact", "i/c"), ("i/b", "i/c")),
      s"got $pairs")
  }

  test("streaming image near-dup: owner-only verify divergence is the documented miss") {
    val s = sc
    import s.implicits._
    // A owns every slice of 0x00; B differs from A in band 7 only
    // (hamming 8 > max 3, kept); C = B with one band-7 bit flipped:
    // hamming(B,C)=1 — a BATCH pair (they share bands 0-6) — but C's
    // shared bands are all OWNED BY A (hamming(A,C)=7 > 3, no edge) and
    // its band-7 slice differs from B's, so the streaming form keeps C.
    // Batch keeps one of {B,C}; streaming keeps both — the image-twin
    // analog of the text cross-band-bridge divergence.
    val hA = 0x0L
    val hB = 0xFF00000000000000L
    val hC = hB ^ (1L << 56)
    val landing = Files.createTempDirectory("graft-ind-own").toString
    Seq(imgDoc("i/a", 1, hA), imgDoc("i/b", 2, hB), imgDoc("i/c", 3, hC))
      .toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)
    val kept = runImageNearDedup(landing, delayMs = 86400000L,
      bands = 8, maxHamming = 3)
    val keptUrls = kept.select("url").as[String].collect().sorted.toSeq
    assert(keptUrls == Seq("i/a", "i/b", "i/c"), s"got $keptUrls")
    // the batch pair the stream missed — pinned, not hidden
    val all = s.read.parquet(landing).withColumn("id", col("url"))
    val pairs = pipeline.ops.Dedup.imageNearDup(all, "id", "html",
      bands = 8, maxHamming = 3).select("a", "b")
      .as[(String, String)].collect().toSet
    assert(pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) } ==
      Set(("i/b", "i/c")), s"got $pairs")
  }

  test("streaming image near-dup: horizon expiry re-admits; identical copies share fate with own lang") {
    val s = sc
    import s.implicits._
    val h = 0x5A5A5A5A5A5A5A5AL
    def at(secs: Int, url: String, lang: String = "en") =
      (url, new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime + secs * 1000L),
        pipeline.expr.PngFromBitsExpr.encode(h), null.asInstanceOf[String],
        lang, "img")
    val landing = Files.createTempDirectory("graft-ind-hz").toString
    // batch 1: the original + an IDENTICAL copy pair differing only in lang
    Seq(at(0, "i/orig"), at(0, "i/twin", "en"), at(0, "i/twin", "de"))
      .toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // batch 2: within-horizon dup (dropped) at +30s
    Seq(at(30, "i/near")).toDF(imgCols: _*).coalesce(1)
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // batch 3: an unrelated sentinel at +1h moves the watermark past the
    // 60s horizon behind batch 2's claim (text-twin test structure)
    Seq((("i/sentinel", new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2026-01-01 11:00:00").getTime),
      pipeline.expr.PngFromBitsExpr.encode(~h), null.asInstanceOf[String],
      "en", "img"))).toDF(imgCols: _*).coalesce(1)
      .write.mode("append").parquet(landing)
    Thread.sleep(1100)
    // batch 4: the far-apart duplicate re-enters (state expired)
    Seq(at(3601, "i/late-dup")).toDF(imgCols: _*).coalesce(1)
      .write.mode("append").parquet(landing)
    val kept = runImageNearDedup(landing, delayMs = 60000L,
      bands = 8, maxHamming = 3)
    val keptRows = kept.select("url", "lang").as[(String, String)]
      .collect().sorted.toSeq
    // identical copies (same nid): kept together, each with ITS OWN lang;
    // i/twin(en/de) and i/orig have different nids (url differs) — orig
    // first-arrival wins, twin copies drop... unless twin IS the first
    // by nid sort at equal ts. Pin the actual contract instead: exactly
    // ONE nid-class survives batch 1, and identical copies never split.
    val b1Kept = keptRows.map(_._1).filter(u => u == "i/orig" || u == "i/twin")
    assert(b1Kept.distinct.size == 1, s"one nid-class survives batch 1: $keptRows")
    if (b1Kept.head == "i/twin")
      assert(keptRows.filter(_._1 == "i/twin").map(_._2).sorted == Seq("de", "en"),
        s"copies keep their own lang: $keptRows")
    assert(!keptRows.map(_._1).contains("i/near"), s"within-horizon dup drops: $keptRows")
    assert(keptRows.map(_._1).contains("i/sentinel"), s"unrelated image kept: $keptRows")
    assert(keptRows.map(_._1).contains("i/late-dup"), s"expired horizon re-admits: $keptRows")
  }

  test("image near-dup daemon: written rows == ledger == stream metrics") {
    val s = sc
    import s.implicits._
    val hA = 0x1111222233334444L
    val landing = Files.createTempDirectory("graft-inddaemon-landing").toString
    Seq(imgDoc("i/a", 1, hA), imgDoc("i/b", 2, ~hA))
      .toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Seq(imgDoc("i/a-dup", 30, hA ^ 1L), imgDoc("i/new", 31, 0x00FF00FF00FF00FFL))
      .toDF(imgCols: _*).coalesce(1).write.mode("append").parquet(landing)
    val out = Files.createTempDirectory("graft-inddaemon-out").toString
    val stream = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val q = Streaming.startImagesNearDedup(stream, out, delayMs = 86400000L)
    q.awaitTermination()
    val written = s.read.parquet(s"$out/kept_stream")
    val urls = written.select("url").as[String].collect().sorted.toSeq
    assert(urls == Seq("i/a", "i/b", "i/new"), s"got $urls")
    // day partitioning materialized; payloads intact through the write
    assert(written.columns.contains("day"))
    val ledger = new Ledger(out).committedRows()
    assert(ledger.values.sum == 3L, s"ledger $ledger")
    val m = pipeline.streaming.StreamMetrics.load(s, out)
      .filter(col("kind") === "sink")
      .agg(sum("rows")).head.getLong(0)
    assert(m == 3L, s"metrics $m")
  }
}
