package pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import pipeline.fixtures.Webtext
import pipeline.io.{Ledger, NioLocalFileSystem, NioLocalFs, ParquetTableIO}
import pipeline.model.Sinks
import pipeline.stages.{Aggregate, Enrich, Parse, Route, RouteRule}

/** SparkSession factory with the scale-oriented defaults used everywhere. */
object Sessions {

  /** Entries in the JVM-wide compiled-class cache of Catalyst's code
    * generator, keyed by (class loader, generated source). Spark's default
    * of 100 is below the working set of one unit of work — a corpus config
    * run needs ~130 classes, a 69-query pass ~670 — so the LRU evicted every
    * class before its reuse and each batch recompiled all of them. 2000 is
    * about 3× the largest working set measured. */
  private val CodegenCacheEntries = 2000

  def local(cores: Int, shufflePartitions: Int = -1,
            app: String = "graft-pipeline"): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cores
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Artifact isolation gives every cloned session (each streaming
      // query runs on one) its own executor class loader, hence new
      // codegen cache keys: a restarted stream recompiled every
      // executor-side class. The program adds no per-session jars or
      // classes, so isolation buys it nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Hadoop's `file:` scheme without a forked chmod/readlink per file
      // (this Hadoop has no libhadoop); checksums and modes as stock.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
  }
}

/**
 * End-to-end pipeline: scan → parse → enrich → route → write + aggregate.
 *
 * Two run modes (SURVEY.md §7.3 step 5):
 *  - `runFused`: ONE job — narrow parse/enrich/route fuse into a single
 *    codegen stage, a single pre-write repartition on (sink, day, salt) is
 *    the only exchange in the hot path (SURVEY.md §4.2). Per-sink counts
 *    come from `observe()` metrics computed DURING the write (no read-back
 *    pass); `audit = true` additionally re-reads the written files and
 *    cross-checks — the opt-in integrity mode.
 *  - `runIncremental`: one job per day-unit with a Ledger commit after
 *    each — the resumable form; a killed run resumes exactly where the
 *    ledger says it stopped, re-staging the incomplete unit. Units read
 *    ONLY their own day partition (see [[runIncremental]]).
 *
 * Skew: hot domains concentrate rows into one (sink, day) write partition;
 * `pmod(xxhash64(url), SALTS)` spreads each write partition over SALTS
 * tasks without changing row multiplicity (property-tested).
 */
object Pipeline {

  val Salts = 8

  /** The shared narrow stage chain: parse → enrich → route.
    * Provenance: a `source` column is REQUIRED downstream (per-source
    * accounting, `examples/config.json:6-7`); inputs without one get the
    * default tag. `parseObs` attaches the batcher/deadletter accounting
    * metrics (pipeline.Metrics) to the parse stage — computed inline
    * during the action, no extra pass. */
  def transform(webtext: DataFrame, parseObs: Option[Observation] = None,
                rules: Seq[RouteRule] = Route.defaultRules): DataFrame = {
    val spark = webtext.sparkSession
    val tagged =
      if (webtext.columns.contains("source")) webtext
      else webtext.withColumn("source", lit("webtext"))
    val parsed0 = Parse(tagged)
    val parsed = parseObs.fold(parsed0)(Metrics.observeParsed(parsed0, _))
    val enriched = Enrich(parsed, Webtext.langMetaDf(spark), Webtext.geoDf(spark))
    Route(enriched, rules)
  }

  /** Columns actually persisted per sink (keeps `html` out of the write). */
  private val outCols = Seq("url", "warc_ts", "lang", "source", "host", "title",
    "status", "bytes", "method", "extracted_text", "is_corrupt", "lang_family",
    "region", "sink", "day").map(col)

  /** Salted pre-write partitioning on (sink, day): spreads hot write
    * partitions over [[Salts]] tasks without changing row multiplicity
    * (property-tested). An explicit `writeTasks` count pins write
    * parallelism to the session's shuffle setting — without it AQE
    * coalesces to ~the same task count at every cluster size, capping
    * scale-up (measured: efficiency 0.36→ok). */
  def saltedWritePartitioning(df: DataFrame, writeTasks: Option[Int]): DataFrame = {
    val s = df.withColumn("salt", pmod(xxhash64(col("url")), lit(Salts)))
    (writeTasks match {
      case Some(t) => s.repartition(t, col("sink"), col("day"), col("salt"))
      case None => s.repartition(col("sink"), col("day"), col("salt"))
    }).drop("salt")
  }

  /** The sink-name set a rule list can route to (incl. deadletter). */
  def sinkNamesFor(rules: Seq[RouteRule]): Seq[String] =
    (rules.map(_.sink) :+ Sinks.DeadLetter).distinct

  /** Attach per-sink row counters to `df`, computed DURING its next action
    * (the sink set is static, so plain conditional aggregates suffice; a
    * separate count pass — or the r1 read-back — would double the I/O).
    * Shared by [[countedWrite]] and the streaming ledger path. */
  def observeSinkCounts(df: DataFrame, obs: Observation,
                        sinkNames: Seq[String]): DataFrame =
    df.observe(obs,
      count(when(col("sink") === sinkNames.head, true)).as(sinkNames.head),
      sinkNames.tail.map(s => count(when(col("sink") === s, true)).as(s)): _*)

  /** Read the observed per-sink counts back out after the action ran. */
  def observedSinkCounts(obs: Observation, sinkNames: Seq[String]): Map[String, Long] = {
    val row = obs.get
    sinkNames.map(s => s -> row(s).asInstanceOf[Long]).toMap
  }

  /** Partitioned (sink, day) write with per-sink counts observed ON the
    * write pass. Shared by [[runFused]] and the config runner. */
  def countedWrite(prePartitioned: DataFrame, sinkNames: Seq[String],
                   io: ParquetTableIO, table: String,
                   maxRecordsPerFile: Long = 1000000L): Map[String, Long] = {
    val obs = Observation()
    io.write(observeSinkCounts(prePartitioned, obs, sinkNames),
      table, Seq("sink", "day"), maxRecordsPerFile)
    observedSinkCounts(obs, sinkNames)
  }

  /** The exact pre-write plan: transform → project (prunes `html` from the
    * scan) → salted repartition. `observed = true` observes the parse
    * stage under [[Metrics.ObservationName]]. */
  def fusedPlan(webtext: DataFrame, writeTasks: Int, observed: Boolean = false,
                rules: Seq[RouteRule] = Route.defaultRules): DataFrame =
    fusedPlan(webtext, writeTasks,
      Option.when(observed)(Observation(Metrics.ObservationName)), rules)

  private def fusedPlan(webtext: DataFrame, writeTasks: Int,
                        parseObs: Option[Observation], rules: Seq[RouteRule]): DataFrame =
    saltedWritePartitioning(
      transform(webtext, parseObs, rules).select(outCols: _*), Some(writeTasks))

  def runFused(spark: SparkSession, webtext: DataFrame, outDir: String,
               rules: Seq[RouteRule] = Route.defaultRules,
               audit: Boolean = false): Map[String, Long] = {
    val writeTasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parseObs = Observation(Metrics.ObservationName)
    val routed = fusedPlan(webtext, writeTasks, Some(parseObs), rules)
    val sinkNames = sinkNamesFor(rules)
    val io = new ParquetTableIO(outDir)
    val schema = routed.schema // explicit on read-back: empty writes have no files to infer from
    val counts = countedWrite(routed, sinkNames, io, "routed").filter(_._2 > 0)
    if (audit) {
      val readBack = Aggregate.sinkCounts(
        spark.read.schema(schema).parquet(s"$outDir/routed"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(readBack == counts,
        s"audit mismatch: files=$readBack observed=$counts")
    }
    val ledger = new Ledger(outDir)
    counts.foreach { case (s, n) => ledger.commit(s"fused/sink=$s", n) }
    val parsed = Metrics.parsedCounts(parseObs)
    ledger.append(Ledger.Record(kind = Some("parse"), rows = parsed("events_in"),
      counts = parsed))
    counts
  }

  /** Ledger unit name for the one-time staging pass. */
  val StageUnit = "_staged"

  /**
   * Resumable variant: work unit = one day; skip units the ledger has.
   *
   * ONE staging pass day-partitions the input (the in-sandbox stand-in for
   * an Iceberg `days(warc_ts)` partition transform — on a real cluster the
   * 10^12-row table is already partitioned and this pass disappears). Each
   * day unit then reads ONLY its partition directory: unit scan I/O is one
   * day, not the whole table (the r1 per-day filter on an unpartitioned
   * table re-scanned the full input once per unit ≈ days× read
   * amplification). Staging is itself a ledger unit, so a crash mid-staging
   * restages on resume.
   */
  def runIncremental(spark: SparkSession, webtext: DataFrame, outDir: String,
                     failAfterUnits: Int = Int.MaxValue): Map[String, Long] = {
    val ledger = new Ledger(outDir)
    val stagePath = s"$outDir/staging"
    if (!ledger.committedUnits().contains(StageUnit)) {
      val obs = Observation("graft_staged")
      val staged = webtext
        .withColumn("day", to_date(col("warc_ts")))
        .withColumn("salt", pmod(xxhash64(col("url")), lit(Salts)))
        .repartition(col("day"), col("salt"))
        .drop("salt")
        .observe(obs, count(lit(1)).as("rows"))
      staged.write.mode("overwrite").partitionBy("day").parquet(stagePath)
      ledger.commit(StageUnit, obs.get("rows").asInstanceOf[Long])
    }
    val done = ledger.committedUnits()
    val days = Option(new java.io.File(stagePath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    val io = new ParquetTableIO(outDir)
    var unitsRun = 0
    days.filterNot(done.contains).foreach { d =>
      if (unitsRun >= failAfterUnits)
        throw new RuntimeException(s"injected failure before unit $d")
      // partition-path read: the unit's scan touches one day's files only
      val dayDf = spark.read.parquet(s"$stagePath/day=$d")
      val obs = Observation(s"graft_day_$d")
      val routed = transform(dayDf).select(outCols: _*)
        .observe(obs, count(lit(1)).as("rows"))
      io.write(routed, s"routed_days/day=$d", Seq("sink"))
      ledger.commit(d, obs.get("rows").asInstanceOf[Long])
      unitsRun += 1
    }
    ledger.committedRows().removed(StageUnit)
  }

  def main(args: Array[String]): Unit = {
    val conf = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val cores = conf.getOrElse("--cores", "8").toInt
    val n = conf.getOrElse("--rows", "100000").toLong
    val out = conf.getOrElse("--out", "/tmp/graft-pipeline-out")
    val spark = Sessions.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    conf.get("--config") match {
      case Some(cfgPath) =>
        // config-driven entry: the reference's sole UX is
        // `reveald run --config config.json` (`examples/reveald.service:8`);
        // `--stream <landingDir>` runs the supervised-daemon form
        // (ConfigRunner.runStream — honors the top-level streamDedupNear block)
        val counts =
          if (conf.contains("--stream"))
            pipeline.config.ConfigRunner.runStream(spark, cfgPath, conf)
          else pipeline.config.ConfigRunner.run(spark, cfgPath, conf, n, cores)
        println(counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
      case None =>
        val webtext = conf.get("--input")
          .map(spark.read.parquet(_))
          .getOrElse(Webtext.df(spark, n, cores * 4))
        val counts = runFused(spark, webtext, out,
          audit = conf.get("--audit").exists(_.toBoolean))
        println(counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }
}
