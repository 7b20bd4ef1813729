package pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.fixtures.Webtext
import pipeline.model.WebDoc
import pipeline.ref.RefNormalizer
import pipeline.stages.{Aggregate, Parse, Route}

/** The binding correctness gates (BASELINE.json north_rule):
  * per-url byte-identical extracted text vs the RefNormalizer spec, and
  * per-sink aggregate counts == routed-row counts, plus ledger resume. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "pipeline-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  val N = 5000L

  test("extracted text is byte-identical per url vs RefNormalizer") {
    val s = sc
    import s.implicits._
    val parsed = Parse(Webtext.df(s, N, 8))
      .select("url", "extracted_text", "title", "status", "bytes", "method", "is_corrupt")
      .as[(String, String, String, Int, Long, String, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(parsed.size == N)
    var corrupt = 0
    (0L until N).foreach { i =>
      val doc = Webtext.row(i)
      val ref = RefNormalizer.parse(doc)
      val got = parsed(doc.url)
      // byte equality, not string equality
      assert(java.util.Arrays.equals(
        got._2.getBytes("UTF-8"), ref.extracted_text.getBytes("UTF-8")),
        s"extracted_text mismatch for ${doc.url}:\n got=${got._2}\n ref=${ref.extracted_text}")
      assert(got._3 == ref.title && got._4 == ref.status && got._5 == ref.bytes
        && got._6 == ref.method && got._7 == ref.is_corrupt,
        s"field mismatch for ${doc.url}: got=$got ref=$ref")
      if (ref.is_corrupt) corrupt += 1
    }
    assert(corrupt > 0, "fixture must exercise the corrupt/deadletter branch")
  }

  test("per-sink aggregate counts equal RefNormalizer routed counts exactly") {
    val s = sc
    val routed = Pipeline.transform(Webtext.df(s, N, 8))
    val got = Aggregate.sinkCounts(routed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = RefNormalizer.routedCounts((0L until N).iterator.map(Webtext.row))
    assert(got == ref, s"got=$got ref=$ref")
    assert(got.keySet.contains("deadletter"))
    // every row lands in >=1 sink, fan-out only adds
    assert(got.values.sum >= N)
  }

  test("truncation: oversize events are capped, parse still agrees with ref") {
    val s = sc
    import s.implicits._
    val big = "title: big doc\nstatus=200 bytes=1 method=GET\n" + ("x" * 300000)
    // >200KB WITH a json line before the padding: exercises the over-cap
    // branch (cut to 204,800 UTF-16 units, re-encoded, then the same byte
    // parse) including its nginx/norm branch
    val bigJson = "title: j\nstatus=504 bytes=2 method=GET\nbody words\n" +
      pipeline.fixtures.Webtext.nginxJson(7L) + "\n" + ("y" * 300000)
    val bigCorrupt = "title: c\nstatus=200 bytes=3 method=GET\nbody\n" +
      "{\"broken\": " + "\n" + ("z" * 300000)
    val docs = Seq(
      WebDoc("https://x.example.com/1", new java.sql.Timestamp(0L), null, big, "en"),
      WebDoc("https://x.example.com/2", new java.sql.Timestamp(0L), null, "no structure at all", "de"),
      WebDoc("https://x.example.com/3", new java.sql.Timestamp(0L), null, bigJson, "en"),
      WebDoc("https://x.example.com/4", new java.sql.Timestamp(0L), null, bigCorrupt, "en"))
    val got = Parse(docs.toDF())
      .select("url", "extracted_text", "is_corrupt", "status")
      .as[(String, String, Boolean, Int)].collect().map(r => r._1 -> r).toMap
    docs.foreach { d =>
      val ref = RefNormalizer.parse(d)
      assert(got(d.url)._2 == ref.extracted_text)
      assert(got(d.url)._3 == ref.is_corrupt, s"corrupt mismatch for ${d.url}")
      assert(got(d.url)._4 == ref.status)
      assert(ref.extracted_text.length <= RefNormalizer.MaxChars + 1)
    }
    assert(!got("https://x.example.com/3")._3 && got("https://x.example.com/4")._3)
  }

  test("native parse fast path == Column formulation, field by field") {
    val s = sc
    val docs = Webtext.df(s, 3000, 4)
    val cols = Seq("url", "host", "title", "status", "bytes", "method",
      "extracted_text", "is_corrupt", "norm", "day").map(col)
    val fast = Parse(docs).select(cols: _*)
    val slow = pipeline.stages.Parse.columns(docs).select(cols: _*)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    // norm coalescing is exercised: some rows carry empty-string numerics
    assert(fast.filter(col("norm").isNotNull &&
      col("norm.body_bytes_sent") === 0L).count() > 0)
  }

  test("host semantics keep port/userinfo in BOTH parse formulations") {
    val s = sc
    import s.implicits._
    val docs = Seq(
      WebDoc("https://h.example.com:8443/p/1", new java.sql.Timestamp(0L), null, "title: x\nstatus=200 bytes=1 method=GET\nbody", "en"),
      WebDoc("https://u@h.example.com/p/2", new java.sql.Timestamp(0L), null, "t", "en"),
      WebDoc("no-scheme-at-all", new java.sql.Timestamp(0L), null, "t", "en")).toDF()
    val fast = Parse(docs).select("url", "host").as[(String, String)].collect().toMap
    val cols = pipeline.stages.Parse.columns(docs).select("url", "host")
      .as[(String, String)].collect().toMap
    assert(fast == cols)
    assert(fast("https://h.example.com:8443/p/1") == "h.example.com:8443")
    assert(fast("https://u@h.example.com/p/2") == "u@h.example.com")
    assert(fast("no-scheme-at-all") == null)
    docs.collect() // noop
  }

  test("rows matching no routing rule divert to deadletter, never vanish") {
    val s = sc
    val parsed = Parse(Webtext.df(s, 1000, 4))
    val total = parsed.count()
    val never = Seq(pipeline.stages.RouteRule(col("status") === -1, "s3"))
    val bySink = Route(parsed, never).groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySink.values.sum == total, s"rows vanished: $bySink vs $total")
    assert(bySink.keySet == Set("deadletter"))
    // explicit opt-in to kawa filter semantics drops them
    val dropped = Route(parsed, never, unmatchedTo = None)
      .filter(!col("is_corrupt")).count()
    assert(dropped == 0)
  }

  test("salted repartition never changes row multiplicity") {
    val s = sc
    val routed = Pipeline.transform(Webtext.df(s, 2000, 4))
    val before = routed.count()
    val after = routed
      .withColumn("salt", pmod(xxhash64(col("url")), lit(Pipeline.Salts)))
      .repartition(col("sink"), col("day"), col("salt"))
      .count()
    assert(before == after)
  }

  test("incremental run resumes from ledger after a kill, equals clean run") {
    val s = sc
    val docs = Webtext.df(s, 3000, 4) // spans >=3 days (1 row/min)
    val cleanDir = Files.createTempDirectory("graft-clean").toString
    val crashDir = Files.createTempDirectory("graft-crash").toString
    val clean = Pipeline.runIncremental(s, docs, cleanDir)
    assert(clean.size >= 2, s"need multiple day units, got $clean")
    // crash after the first day unit (staging is its own ledger unit)...
    intercept[RuntimeException] {
      Pipeline.runIncremental(s, docs, crashDir, failAfterUnits = 1)
    }
    val partial = new pipeline.io.Ledger(crashDir).committedUnits() - Pipeline.StageUnit
    assert(partial.size == 1)
    // ...resume: must complete the rest and match the clean run exactly
    val resumed = Pipeline.runIncremental(s, docs, crashDir)
    assert(resumed == clean)
    val a = s.read.parquet(s"$cleanDir/routed_days").groupBy("sink").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val b = s.read.parquet(s"$crashDir/routed_days").groupBy("sink").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("fused run: observed counts match ref AND the written files (audit)") {
    val s = sc
    val out = Files.createTempDirectory("graft-fused").toString
    // audit = true re-reads the written output and cross-checks the
    // observe()-derived counts — both gates in one run
    val counts = Pipeline.runFused(s, Webtext.df(s, 2000, 4), out, audit = true)
    val ref = RefNormalizer.routedCounts((0L until 2000L).iterator.map(Webtext.row))
    assert(counts == ref)
    val ledger = new pipeline.io.Ledger(out).committedRows()
    assert(ledger.values.sum == ref.values.sum)
  }

  test("per-source accounting: tagged fan-in counts match ref per (source, sink)") {
    val s = sc
    val a = Webtext.df(s, 1000, 4).withColumn("source", lit("src_a"))
    val b = Webtext.df(s, 500, 4).withColumn("source", lit("src_b"))
    val routed = Pipeline.transform(pipeline.sources.Sources.fanIn(Seq(a, b)))
    val got = pipeline.stages.Aggregate.sourceSinkCounts(routed).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val refA = RefNormalizer.routedCounts((0L until 1000L).iterator.map(Webtext.row))
      .map { case (k, v) => ("src_a", k) -> v }
    val refB = RefNormalizer.routedCounts((0L until 500L).iterator.map(Webtext.row))
      .map { case (k, v) => ("src_b", k) -> v }
    assert(got == refA ++ refB, s"got=$got")
    // untagged input gets the default provenance, never a null group
    val untagged = Pipeline.transform(Webtext.df(s, 200, 2))
    assert(pipeline.stages.Aggregate.sourceSinkCounts(untagged)
      .select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("webtext"))
  }

  test("incremental day units scan ONLY their own partition") {
    val s = sc
    val out = Files.createTempDirectory("graft-prune").toString
    Pipeline.runIncremental(s, Webtext.df(s, 3000, 4), out)
    val days = new java.io.File(s"$out/staging").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).map(_.getName)
    assert(days.length >= 2)
    // the unit read pattern: a day's frame lists only its partition's files
    val d = days.head
    val unit = s.read.parquet(s"$out/staging/$d")
    assert(unit.inputFiles.nonEmpty && unit.inputFiles.forall(_.contains(s"/$d/")),
      s"unit reads outside its partition: ${unit.inputFiles.take(3).mkString(",")}")
    // and a root read with a day filter partition-prunes to the same files
    val pruned = s.read.parquet(s"$out/staging")
      .filter(col("day") === d.stripPrefix("day="))
    assert(pruned.count() == unit.count())
  }
}
