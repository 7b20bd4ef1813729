package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import pipeline.{Metrics, Pipeline, Streaming}
import pipeline.config.{ConfigRunner, PipelineConfig, TransformCompiler}
import pipeline.fixtures.Webtext
import pipeline.io.{Ledger, ParquetTableIO, Push}
import pipeline.model.WebDoc
import pipeline.ref.RefNormalizer
import pipeline.sources.{LineCodec, Sources}
import pipeline.stages.{Enrich, Parse, Route}
import pipeline.streaming.StreamMetrics

/** What one unit of work did: operations attempted, the violations its
  * checks found (or the operations that threw), and the input docs it read. */
final case class UnitResult(attempted: Int, failed: Seq[String], docs: Long)

/** Seeded inputs: seed `s` selects rows [s·Stride, s·Stride + n) of the
  * fixed-seed Webtext generator, whose every row is a pure function of its
  * index, so a new seed gives fresh documents of the same shape. Row `i` is
  * stamped `i mod 43200` minutes into a 30-day cycle; Stride is a multiple of
  * that cycle, so every window covers the same days and the (sink, day)
  * partitions, hence the files a write makes, do not change with the seed. */
object Inputs {
  val Stride: Long = 232L * 43200L
  def first(seed: Long): Long = (seed % 1000000L) * Stride

  def webtext(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(first(seed), first(seed) + n, 1, parts)
      .mapPartitions(_.map(i => Webtext.row(i.longValue))).toDF()
  }

  def docs(seed: Long, n: Long): Iterator[WebDoc] =
    Iterator.range(0, n.toInt).map(k => Webtext.row(first(seed) + k))
}

/** Files under a directory, skipping Spark's hidden and marker files. */
object Fs {
  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.toList finally s.close()
    }
  }
  def bytes(ps: Seq[Path]): Long = ps.map(Files.size).sum
  def lines(ps: Seq[Path]): Long = ps.map { p =>
    val s = Files.lines(p, UTF_8)
    try s.count() finally s.close()
  }.sum
  def rm(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/**
 * One workload: staged inputs plus a closed-loop unit of work that calls the
 * product's public entry points. [[Main]] stages, warms, then
 * runs units back to back; unit `i` writes under `out(i)`, and [[check]]
 * verifies and then deletes it.
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val tiny: Boolean,
                        val dir: String) {
  def name: String
  /** The product call one unit makes; also the traced unit's span name. */
  def unitName: String
  /** Stage the inputs (overwriting); returns facts to record. */
  def stage(): Seq[(String, String)]
  /** One timed unit. */
  def run(i: Int): Unit
  /** Untimed: verify unit `i`, note its output size, delete its output. */
  def check(i: Int): UnitResult
  /** Warm-up units, counted in set-up: the JIT needs a few units before
    * unit times stop falling. */
  def warmUnits: Int = if (tiny) 1 else 2
  def warm(): Unit = (1 to warmUnits).foreach { k => run(-k); check(-k) }
  /** Untimed checks made once per invocation, after the warm-up. */
  def prepare(): Seq[String] = Nil
  /** Extra end-to-end numbers for the human-readable report. */
  def extraEndToEnd: Seq[Metric] = Nil
  /** Run one unit under a span (listeners attached) and return that span. */
  def traced(t: Tracer): Span = { t(unitName)(run(1000)); t.named(unitName).last }
  /** The per-layer numbers of this workload's layers (trace runs only). */
  def layers(t: Tracer, unit: Span): Seq[Metric]
  /** Violations found by [[layers]] (trace runs only). */
  def layerChecks: Seq[String] = Nil

  def out(i: Int): String = s"$dir/out/u$i"
  var outputFiles = 0L
  var outputBytes = 0L
  protected def noteOutput(path: String): Unit = {
    val fs = Fs.files(path)
    outputFiles = fs.size
    outputBytes = Fs.bytes(fs)
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** noop action that also counts the rows (one pass). */
  protected def noopRows(df: DataFrame): Long = {
    val obs = Observation()
    noop(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  protected def sinkCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  protected def ledgerCounts(o: String, prefix: String): Map[String, Long] =
    new Ledger(o).committedRows().collect {
      case (u, n) if u.startsWith(prefix) && n > 0 => u.stripPrefix(prefix) -> n
    }

  protected def inputFacts(path: String, n: Long, df: DataFrame): Seq[(String, String)] = {
    val fs = Fs.files(path)
    Seq("seed" -> seed.toString, "first_row" -> Inputs.first(seed).toString,
      "rows" -> n.toString, "files" -> fs.size.toString, "bytes" -> Fs.bytes(fs).toString,
      "input_splits" -> df.rdd.getNumPartitions.toString, "location" -> path)
  }

  /** Median time of each rung over repeated ladders, and self time = the
    * rung minus the rung below it. */
  protected def ladder(t: Tracer, rungs: Seq[String]): Seq[(String, Double, Double)] = {
    val med = rungs.map(r => r -> Stats.median(t.named(r).map(_.seconds)))
    med.zipWithIndex.map { case ((r, m), k) => (r, m, if (k == 0) m else m - med(k - 1)._2) }
  }
}

/** `Pipeline.runFused` over staged webtext parquet: scan → parse → enrich →
  * route → salted exchange → partitioned write, with per-sink accounting. */
final class FusedWrite(spark: SparkSession, seed: Long, tiny: Boolean, dir: String)
    extends Workload(spark, seed, tiny, dir) {
  val name = "fused_write"
  val unitName = "Pipeline.runFused"
  val n: Long = if (tiny) 3000L else 8000L
  private val input = s"$dir/input"
  private var reference = Map.empty[String, Long]
  private var observed = Map.empty[String, Long]
  private var ladderCheck = Seq.empty[String]

  def stage(): Seq[(String, String)] = {
    Inputs.webtext(spark, seed, n, 4).write.mode("overwrite").parquet(input)
    inputFacts(input, n, spark.read.parquet(input))
  }
  override def prepare(): Seq[String] = {
    reference = RefNormalizer.routedCounts(Inputs.docs(seed, n))
    Nil
  }
  def run(i: Int): Unit = observed = Pipeline.runFused(spark, spark.read.parquet(input), out(i))
  def check(i: Int): UnitResult = {
    val o = out(i)
    val errs = if (reference.isEmpty) Nil // the warm-up unit runs before prepare()
      else Checks.fused(observed, sinkCounts(spark.read.parquet(s"$o/routed")),
        ledgerCounts(o, "fused/sink="), reference)
    noteOutput(s"$o/routed")
    Fs.rm(o)
    UnitResult(1, errs, n)
  }

  private val rungs = Seq("scan", "stages.Parse", "stages.Enrich", "stages.Route",
    "Pipeline.saltedWritePartitioning", "Pipeline.countedWrite")

  def layers(t: Tracer, unit: Span): Seq[Metric] = {
    val writeTasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sinks = Pipeline.sinkNamesFor(Route.defaultRules)
    val fanout = observed.values.sum.toDouble / n
    for (rep <- 1 to (if (tiny) 1 else 3)) t("ladder") {
      // html is never read by the fused plan (its projection prunes it);
      // dropping it up front keeps every noop rung to the same columns
      val base = spark.read.parquet(input).drop("html").withColumn("source", lit("webtext"))
      t("scan")(noop(base))
      val parsed = Metrics.observeParsed(Parse(base))
      t("stages.Parse")(noop(parsed))
      val enriched = Enrich(parsed, Webtext.langMetaDf(spark), Webtext.geoDf(spark))
      t("stages.Enrich")(noop(enriched))
      t("stages.Route")(noop(Route(enriched)))
      t("Pipeline.saltedWritePartitioning")(noop(Pipeline.fusedPlan(base, writeTasks, observed = true)))
      val o = out(2000 + rep)
      t("Pipeline.countedWrite")(Pipeline.countedWrite(
        Pipeline.fusedPlan(base, writeTasks, observed = true), sinks, new ParquetTableIO(o), "routed"))
      Fs.rm(o)
      // the product call on the same input, equally warm, for the ladder's sum check
      t(unitName)(Pipeline.runFused(spark, spark.read.parquet(input), o))
      Fs.rm(o)
    }
    val l = ladder(t, rungs)
    val self = l.map(r => r._1 -> r._3).toMap
    // the self times telescope to the full rung; that rung must reproduce
    // the product call it was rebuilt from
    val ratio = l.map(_._3).sum / Stats.median(t.named(unitName).drop(1).map(_.seconds))
    ladderCheck = Checks.ladder(ratio, Checks.LadderBound)
    Seq(
      Metric("ladder.scan_s", self("scan"), "s", "median rung"),
      Metric("stages.parse_s", self("stages.Parse"), "s", "self time"),
      Metric("stages.enrich_s", self("stages.Enrich"), "s", "self time"),
      Metric("stages.route_s", self("stages.Route"), "s", "self time"),
      Metric("stages.fanout_ratio", fanout, "ratio", "routed rows / docs"),
      Metric("pipeline.exchange_s", self("Pipeline.saltedWritePartitioning"), "s", "self time"),
      Metric("io.write_s", self("Pipeline.countedWrite"), "s", "self time"),
      Metric("ladder.full_s", l.last._2, "s", "median full rung"),
      Metric("ladder.self_sum_vs_unit", ratio, "ratio",
        "sum of self times / median runFused in the ladder"))
  }
  override def layerChecks: Seq[String] = ladderCheck
}

/** The `--config` path: `ConfigRunner.routed` + `ConfigRunner.deliver` over
  * line-encoded docs, with the corpus-assembly transform chain and a
  * runreveal push sink (perfbench/corpus_push.json). */
final class ConfigCorpus(spark: SparkSession, seed: Long, tiny: Boolean, dir: String)
    extends Workload(spark, seed, tiny, dir) {
  val name = "config_corpus"
  val unitName = "ConfigRunner.routed+deliver"
  val n: Long = if (tiny) 600L else 800L
  private val input = s"$dir/input"
  private val spec = PipelineConfig.parse(new String(
    getClass.getResourceAsStream("/perfbench/corpus_push.json").readAllBytes(), UTF_8))
  private val pushSinks = spec.sinks.filter(_.kind == "runreveal").map(_.id)
  private var routed = Map.empty[String, Long]

  def stage(): Seq[(String, String)] = {
    LineCodec.encode(Inputs.webtext(spark, seed, n, 4)).write.mode("overwrite").text(input)
    inputFacts(input, n, spark.read.text(input))
  }
  def run(i: Int): Unit = {
    val r = ConfigRunner.routed(spec, Map("crawl" -> spark.read.text(input)))
    routed = ConfigRunner.deliver(spec, r, out(i), new Push.LocalFileTransport(s"${out(i)}/pushed"))
  }
  def check(i: Int): UnitResult = {
    val o = out(i)
    def lines(sub: String => String) =
      pushSinks.map(s => s -> Fs.lines(Fs.files(s"$o/${sub(s)}"))).toMap
    val errs = Checks.config(routed, sinkCounts(spark.read.parquet(s"$o/routed")),
      ledgerCounts(o, "config/sink="), pushSinks,
      lines(s => s"pushed/$s"), lines(s => s"deadletter/$s-deadletter"))
    noteOutput(o)
    Fs.rm(o)
    UnitResult(1, errs, n)
  }

  def layers(t: Tracer, unit: Span): Seq[Metric] = {
    val rows = mutable.LinkedHashMap.empty[String, Long]
    var push: Push.Delivery = null
    val reps = if (tiny) 1 else 2
    for (rep <- 1 to reps) t("ladder") {
      val raw = spark.read.text(input)
      rows("scan") = t("scan")(noopRows(raw))
      val decoded = Sources.fanIn(spec.sources.map(s => ConfigRunner.fromSource(s, raw)))
      rows("sources.decode") = t("sources.decode")(noopRows(decoded))
      var df = decoded.withColumn(TransformCompiler.BypassCol,
        col("text").isNull && col("url").isNull && col("lang").isNull)
      spec.transforms.foreach { tr =>
        val apply = TransformCompiler.one(tr)
        // dedup_near runs its connected-components loop eagerly, at apply
        df = if (tr.kind == "dedup_near") t("ops.cc_apply")(apply(df)) else apply(df)
        rows(s"config.${tr.kind}") = t(s"config.${tr.kind}")(noopRows(df))
      }
      val parsed = Parse(df.drop(TransformCompiler.BypassCol))
      t("stages.Parse")(noop(parsed))
      val enriched = Enrich(parsed, Webtext.langMetaDf(spark), Webtext.geoDf(spark))
      t("stages.Enrich")(noop(enriched))
      val routedDf = Route(enriched, ConfigRunner.rules(spec))
      t("stages.Route")(noop(routedDf))
      val pre = Pipeline.saltedWritePartitioning(
        routedDf.select(routedDf.columns.filterNot(_ == "html").map(col).toSeq: _*), None)
      t("Pipeline.saltedWritePartitioning")(noop(pre))
      val o = out(2000 + rep)
      val io = new ParquetTableIO(o)
      val sinkIds = (spec.sinks.map(_.id) :+ pipeline.model.Sinks.DeadLetter).distinct
      val counts = t("Pipeline.countedWrite")(Pipeline.countedWrite(pre, sinkIds, io, "routed"))
      val sliceSchema = StructType(pre.schema.filterNot(f => f.name == "sink" || f.name == "day").toArray)
      pushSinks.filter(counts(_) > 0).foreach { s =>
        val slice = spark.read.schema(sliceSchema).parquet(s"${io.path("routed")}/sink=$s")
          .withColumn("sink", lit(s))
        push = t("Push.deliver")(Push.deliver(slice, s, spec.sinks.find(_.id == s).get.batchSize.getOrElse(100),
          new Push.LocalFileTransport(s"$o/pushed"), s"$o/deadletter"))
      }
      Fs.rm(o)
    }
    val names = Seq("scan", "sources.decode") ++ spec.transforms.map(tr => s"config.${tr.kind}") ++
      Seq("stages.Parse", "stages.Enrich", "stages.Route", "Pipeline.saltedWritePartitioning",
        "Pipeline.countedWrite")
    val self = ladder(t, names).map(r => r._1 -> r._3).toMap
    val cc = t.named("ops.cc_apply")
    val ccS = Stats.median(cc.map(_.seconds))
    val filters = Set("dedup_exact", "dedup_near", "lang_allowlist", "quality_filter",
      "repetition_filter", "stratified_sample")
    val keys = rows.keys.toSeq
    Seq(Metric("sources.decode_s", self("sources.decode") + self("scan"), "s", "scan + decode rung")) ++
      spec.transforms.map { tr =>
        val k = s"config.${tr.kind}"
        Metric(s"${k}_s", self(k) + (if (tr.kind == "dedup_near") ccS else 0.0), "s", "self time")
      } ++
      spec.transforms.filter(tr => filters(tr.kind)).map { tr =>
        val k = s"config.${tr.kind}"
        val before = rows(keys(keys.indexOf(k) - 1))
        Metric(s"${k}_keep", rows(k).toDouble / math.max(1L, before), "ratio", "rows kept / rows in")
      } ++ Seq(
      Metric("ops.cc_apply_s", ccS, "s", "eager dedup_near apply"),
      Metric("ops.cc_jobs", Stats.median(cc.map(_.counts.getOrElse("jobs", 0L).toDouble)), "count",
        "Spark jobs inside the apply call"),
      Metric("stages.parse_s", self("stages.Parse"), "s", "self time"),
      Metric("stages.enrich_s", self("stages.Enrich"), "s", "self time"),
      Metric("stages.route_s", self("stages.Route"), "s", "self time"),
      Metric("pipeline.exchange_s", self("Pipeline.saltedWritePartitioning"), "s", "self time"),
      Metric("io.write_s", self("Pipeline.countedWrite"), "s", "self time"),
      Metric("io.push_s", Stats.median(t.named("Push.deliver").map(_.seconds)), "s", "Push.deliver call"),
      Metric("io.push_batches", push.batches.toDouble, "count", "delivered push batches"),
      Metric("io.push_deadletter", push.deadlettered.toDouble, "count", "deadlettered rows"))
  }
}

/** `Streaming.startDocs` draining a staged backlog with Trigger.AvailableNow,
  * one file per micro-batch: a restarted daemon catching up. */
final class StreamBacklog(spark: SparkSession, seed: Long, tiny: Boolean, dir: String)
    extends Workload(spark, seed, tiny, dir) {
  val name = "stream_backlog"
  val unitName = "Streaming.startDocs"
  val files: Int = 3
  val perFile: Long = if (tiny) 200L else 500L
  val n: Long = files * perFile
  private val landing = s"$dir/landing"
  private var progress = Seq.empty[StreamingQueryProgress]
  private val batchMs = mutable.ArrayBuffer.empty[Double]

  def stage(): Seq[(String, String)] = {
    Inputs.webtext(spark, seed, n, files).write.mode("overwrite").parquet(landing)
    inputFacts(landing, n, spark.read.parquet(landing))
  }
  def run(i: Int): Unit = {
    val q = Streaming.startDocs(Streaming.readWebtext(spark, landing, maxFilesPerTrigger = 1), out(i))
    q.awaitTermination()
    progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
  }
  override def warm(): Unit = { super.warm(); batchMs.clear() }
  def check(i: Int): UnitResult = {
    val o = out(i)
    batchMs ++= progress.map(_.durationMs.get("triggerExecution").doubleValue)
    val eventsIn = progress.map(p => Option(p.observedMetrics.get("graft_stream_in"))
      .map(_.getAs[Long]("events_in")).getOrElse(0L)).sum
    val ledger = new Ledger(o).committedRows().collect { case (u, r) if u.startsWith("batch-") => r }.sum
    val metrics = StreamMetrics.load(spark, o).filter(col("kind") === "sink")
      .agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)
    val readBack = spark.read.parquet(s"$o/routed_stream").count()
    val errs = Checks.stream(eventsIn, n, ledger, metrics, readBack) ++
      (if (progress.size == files) Nil else Seq(s"stream: ${progress.size} batches, expected $files"))
    noteOutput(s"$o/routed_stream")
    Fs.rm(o)
    UnitResult(1, errs, n)
  }
  override def extraEndToEnd: Seq[Metric] = Seq(
    Metric("batch_p50_ms", Stats.median(batchMs.toSeq), "ms", s"median of ${batchMs.size}"),
    Metric("batch_p90_ms", Stats.quantile(batchMs.toSeq, 0.9), "ms", s"p90 of ${batchMs.size}"))

  private val reports = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) reports.add(e.progress)
  }
  // MicroBatchExecution order: plan the batch (latestOffset, walCommit),
  // run it (getBatch, queryPlanning, addBatch), then commit its offsets
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  override def traced(t: Tracer): Span = {
    spark.streams.addListener(Listener)
    try super.traced(t) finally spark.streams.removeListener(Listener)
  }

  def layers(t: Tracer, unit: Span): Seq[Metric] = {
    val ps = reports.asScala.toSeq
    val toNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + toNano
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val b = t.record(s"microbatch ${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L, unit.id)
      phases.foldLeft(start) { (s, ph) =>
        val e = s + d.getOrElse(ph, 0L) * 1000000L
        t.record(s"streaming.$ph", s, e, b)
        e
      }
    }
    def mean(ph: String) = ps.map(_.durationMs.asScala.get(ph).map(_.doubleValue).getOrElse(0.0)).sum / ps.size
    val nb = math.max(1, ps.size).toDouble
    Seq("addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
      "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
      "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms").map {
      case (ph, m) => Metric(s"streaming.$m", mean(ph), "ms", s"mean of ${ps.size} batches")
    } ++ Seq(
      Metric("streaming.batches", ps.size.toDouble, "count", "micro-batches with input"),
      Metric("streaming.jobs_per_batch", unit.counts.getOrElse("jobs", 0L) / nb, "count", "mean"),
      Metric("streaming.files_per_batch", outputFiles / nb, "count", "mean"))
  }
}

/** A fixed subset of `graft.SparkEntry.queries` ([[QuerySuite.Names]]), each
  * with a noop write action (every output column computed), over seeded
  * tables (perfbench/tables.py). The warm-up pass writes each result as
  * parquet, and once per invocation the repo's oracle check compares that
  * dump against DuckDB. */
final class QuerySuite(spark: SparkSession, seed: Long, tiny: Boolean, dir: String, root: String)
    extends Workload(spark, seed, tiny, dir) {
  val name = "query_suite"
  val unitName = "SparkEntry.queries pass"
  private val tables = s"$dir/tables"
  private val dump = s"$dir/dump"
  private val queries = QuerySuite.Names.map(q => q -> graft.SparkEntry.queries(q))
  private var thrown = Seq.empty[String]
  private var dumpThrown = Seq.empty[String]
  val perQuery: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap(queries.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)

  private def python(args: String*): (Int, String) = {
    val p = new ProcessBuilder(("python3" +: args): _*).directory(new File(root))
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    (p.waitFor(), out)
  }

  def stage(): Seq[(String, String)] = {
    val (rc, out) = python("perfbench/tables.py", "--seed", seed.toString, "--out", tables)
    require(rc == 0, s"table generation failed: $out")
    val fs = Fs.files(tables)
    Seq("seed" -> seed.toString, "tables" -> fs.size.toString, "bytes" -> Fs.bytes(fs).toString,
      "rows" -> queries.size.toString, "location" -> tables)
  }

  override def warm(): Unit = {
    Fs.rm(dump)
    dumpThrown = queries.flatMap { case (q, fn) =>
      try { fn(spark, tables).write.mode("overwrite").parquet(s"$dump/$q"); None }
      catch { case e: Exception => System.err.println(s"[perfbench] $q: ${e.getMessage}"); Some(q) }
    }
    Files.write(Paths.get(dump, "oracle_sql.json"), Json.obj(QuerySuite.Names
      .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> Json.str(_)))).getBytes(UTF_8))
    // the noop write plans differ from the dump's in their last stage;
    // without a noop pass the first timed pass still compiles them
    run(-1)
    perQuery.values.foreach(_.clear())
  }

  override def prepare(): Seq[String] = {
    val (rc, out) = python("tools/check_oracle.py", tables, dump)
    Checks.queries((dumpThrown ++ thrown).distinct, rc, out)
  }

  def run(i: Int): Unit = thrown = queries.flatMap { case (q, fn) =>
    val t0 = System.nanoTime()
    val ok = try { noop(fn(spark, tables)); true }
      catch { case e: Exception => System.err.println(s"[perfbench] $q: ${e.getMessage}"); false }
    perQuery(q) += (System.nanoTime() - t0) / 1e9
    if (ok) None else Some(q)
  }

  def check(i: Int): UnitResult = UnitResult(queries.size, thrown.map(q => s"query $q threw"), 0L)

  override def traced(t: Tracer): Span = {
    t(unitName) {
      queries.foreach { case (q, fn) => t(s"graft.$q")(noop(fn(spark, tables))) }
    }
    t.named(unitName).last
  }

  def layers(t: Tracer, unit: Span): Seq[Metric] =
    queries.map { case (q, _) =>
      Metric(s"graft.${q}_s", Stats.median(perQuery(q).toSeq), "s", s"median of ${perQuery(q).size} untraced")
    } ++ Seq("analysis", "optimization", "planning").map { ph =>
      Metric(s"graft.${ph}_s", unit.counts.getOrElse(s"${ph}_ms", 0L) / 1000.0, "s", "summed tracker phases")
    }
}

object QuerySuite {
  /** The ops outside the corpus chain (ANN, the pack family, dup-spans,
    * tfidf, grok, the multimodal exprs) plus short planning-dominated
    * leaves, one query per family; connected components are measured by
    * config_corpus's dedup_near. A pass over all 69
    * entries takes about 25 s warm at `local[4]` (it evicts its own codegen
    * cache) and 50 s cold, which does not fit one benchmark run. */
  val Names: Seq[String] = Seq("q1_agg", "q_map_filter", "q_ann_ivf", "q_pack_sequences",
    "q_dup_spans_apply", "q_tfidf", "q_grok_httpd", "q_multimodal_image")
}

/** Minimal JSON rendering for the result line and the oracle SQL file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
