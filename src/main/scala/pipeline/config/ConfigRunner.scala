package pipeline.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import pipeline.Pipeline
import pipeline.fixtures.{EventLog, Webtext}
import pipeline.io.{Ledger, ParquetTableIO, Push}
import pipeline.model.Sinks
import pipeline.sources.{Bus, LineCodec, Sources}
import pipeline.stages.{Aggregate, Route, RouteRule}

/**
 * Config-driven entry point: the reference's sole UX is
 * `reveald run --config config.json` (`examples/reveald.service:8`,
 * `examples/windows/README.md:177`). This compiles a [[PipelineSpec]] to the
 * same stage chain the programmatic API uses:
 *
 *   sources (per-kind adapters, tagged with their config id) → fan-in →
 *   parse/enrich → route (config rules, or reveald's actual default: every
 *   event to EVERY destination) → per-kind sinks.
 *
 * Source kinds: `file`/`scanner`/`journald` (JSON-line decode; journald
 * honors maxLineLenKB and an optional journalctl-MATCHES `query` over its
 * fielded entries map), `nginx_syslog`/`syslog` (envelope strip first),
 * `eventlog` (XPath `query` compiled to a pushed Column predicate),
 * `mqtt` (bus-message decode with topic subscription + metadata columns).
 *
 * Sink kinds: `s3`/`s3b` (partitioned table write; file sizing is
 * independent of the push-batch `batchSize` — see [[deliver]]), `printer`
 * (stdout sample), `runreveal`/`webhook`/`mqtt` (batched push via
 * pipeline.io.Push with retry + deadletter; `batchSize` bounds THOSE
 * batches).
 */
object ConfigRunner {

  /** Normalize one configured source's raw frame to the doc shape, tagged
    * with the config id (the reference uses source keys "when logging or in
    * metrics", `examples/config.json:6-7`). */
  def fromSource(src: SourceSpec, raw: DataFrame): DataFrame = {
    val docs = src.kind match {
      case "file" | "scanner" | "stdin" =>
        LineCodec.decode(raw)
      case "journald" =>
        // fielded decode: journald entries are key→value records, kept
        // addressable as an `entries` map (SURVEY.md §1.3 — the same shape
        // as eventlog EventData); an optional `query` is a journalctl(1)
        // MATCHES expression over the entries map — the journald twin of
        // eventlog's XPath filter. The match runs BEFORE truncation, like
        // journalctl itself (its MATCHES see full field values): a
        // FIELD=VALUE match against content past the size cap must still
        // hit. maxLineLenKB then caps the event payload
        // (`examples/journald_to_s3batch_config.json:5`) on BOTH
        // projections: `text` AND every entries value (a multi-MB MESSAGE
        // must not bypass the size bound by riding the map). The cap
        // counts CHARACTERS against a KB option — exact for journald's
        // mostly-ASCII fields, and never truncating too early (a UTF-8
        // value may exceed the byte bound by up to 3×, erring permissive).
        val matched = Sources.filtered(
          LineCodec.decodeJournald(raw), JournaldMatch.compileOpt(src.query))
        src.maxLineLenKB.foldLeft(matched) { (d, kb) =>
          Sources.truncate(d, kb, "text")
            .withColumn("entries", transform_values(col("entries"),
              (_, v) => substring(v, 1, kb * 1024)))
        }
      case "nginx_syslog" | "syslog" =>
        LineCodec.decode(Sources.stripSyslog(raw, "value"))
      case "eventlog" =>
        Sources.filtered(raw, XPathCompiler.compileOpt(src.query))
          .select("url", "warc_ts", "html", "text", "lang")
      case "mqtt" =>
        Bus.decodeDocs(raw, src.topic)
      case other =>
        throw new IllegalArgumentException(s"unknown source type '$other' (source '${src.id}')")
    }
    // multiline record joining BEFORE grok (our extension, the filebeat
    // `multiline` UX): continuation lines rejoin their header so the grok
    // below sees whole records (the Java throwable family's contract).
    // Batch-only — the window needs the full per-source history (frames
    // cross micro-batches); refuse streaming frames config-shaped, the
    // dedup_near precedent.
    val lineShaped = Set("file", "scanner", "stdin", "nginx_syslog", "syslog")
    val joined =
      if (!src.multiline.getOrElse(false)) docs
      else if (!lineShaped.contains(src.kind))
        throw new IllegalArgumentException(
          s"source '${src.id}': multiline joining applies to line-shaped " +
            s"sources (${lineShaped.toSeq.sorted.mkString(", ")}); a " +
            s"'${src.kind}' source carries per-record columns (entries/" +
            "metadata) that cannot survive a record merge")
      else if (docs.isStreaming)
        throw new IllegalArgumentException(
          s"source '${src.id}': multiline joining needs the full per-source " +
            "line history and cannot run on a streaming source (a record's " +
            "continuation lines can cross micro-batches); run this source " +
            "in batch mode")
      else pipeline.stages.Multiline.joinDocs(docs,
        src.multilineContinuation
          .map(re => (l: org.apache.spark.sql.Column) => l.rlike(re))
          .getOrElse(pipeline.stages.Multiline.javaContinuation))
    // normalizer plugin point: an optional per-source grok pattern extracts
    // a typed struct from the payload in one pass (SURVEY.md §7.4)
    val grokked = src.grok.foldLeft(joined)((d, pat) =>
      d.withColumn("grok", pipeline.expr.Grok.extract(col("text"), pat)))
    grokked.withColumn("source", lit(src.id))
  }

  /** Reveald's routing default: no routing block = every event is delivered
    * to every configured destination (the daemon fans out, it does not
    * select). A `routing` block (our extension) compiles via RuleCompiler. */
  def rules(spec: PipelineSpec): Seq[RouteRule] =
    if (spec.rules.nonEmpty) RuleCompiler.rules(spec)
    else spec.sinks.map(d => RouteRule(lit(true), d.id))

  /** Build the full routed frame from a spec + per-source raw inputs. */
  def routed(spec: PipelineSpec, inputs: Map[String, DataFrame]): DataFrame = {
    // grok'd sources all contribute a shared `grok` struct column; fan-in's
    // unionByName(allowMissingColumns) null-fills MISSING columns but does
    // not reconcile TYPE conflicts, so two sources grokking to different
    // struct schemas would fail deep inside the union with an opaque
    // AnalysisException — validate here with a config-shaped error instead
    val grokSchemas = spec.sources.flatMap(s =>
      s.grok.map(p => s.id -> pipeline.expr.Grok.compile(p).schema))
    if (grokSchemas.map(_._2).distinct.size > 1)
      throw new IllegalArgumentException(
        "grok patterns across sources must extract the same fields " +
          "(fan-in unions the shared 'grok' column); got: " +
          grokSchemas.map { case (id, sch) =>
            s"$id -> ${sch.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}"
          }.mkString("; "))
    val srcs = spec.sources.map { s =>
      val raw = inputs.getOrElse(s.id,
        throw new IllegalArgumentException(s"no input bound for source '${s.id}'"))
      fromSource(s, raw)
    }
    Pipeline.transform(applyTransforms(spec, Sources.fanIn(srcs)), rules = rules(spec))
  }

  /** The ordered corpus transforms (our extension) over the fanned-in doc
    * frame, BEFORE parse/route — compiled eagerly so a bad config fails
    * here, not mid-job on an executor. UNDECODED rows (decode produced NO
    * fields at all) bypass the filtering transforms via a per-row marker
    * column — not a frame split, so each source is scanned once — because
    * a lang/sample gate evaluating null must not silently delete a row
    * the route stage guarantees to account ("a row matching NO rule must
    * never vanish", stages.Route). Rows that decoded real fields are
    * subject to the configured filters like any other row. */
  private def applyTransforms(spec: PipelineSpec, docs: DataFrame): DataFrame =
    if (spec.transforms.isEmpty) docs
    else {
      val undecoded =
        col("text").isNull && col("url").isNull && col("lang").isNull
      TransformCompiler(spec)(
        docs.withColumn(TransformCompiler.BypassCol, undecoded))
        .drop(TransformCompiler.BypassCol)
    }

  /**
   * Deliver the routed frame according to each sink's kind. ONE partitioned
   * write materializes every sink's slice (the fused pattern — fan-out
   * without recompute and without a full-table cache); per-sink counts are
   * observed DURING that write. Push sinks then read back only their own
   * `sink=` partition (partition-pruned scan — read amplification is the
   * pushed slice, never the table). Returns exact per-sink delivered counts
   * (== routed rows per sink).
   */
  def deliver(spec: PipelineSpec, routedDf: DataFrame, outDir: String,
              transport: Push.Transport): Map[String, Long] = {
    val spark = routedDf.sparkSession
    val io = new ParquetTableIO(outDir)
    val ledger = new Ledger(outDir)
    val sinkIds = (spec.sinks.map(_.id) :+ Sinks.DeadLetter).distinct
    val outCols = routedDf.columns.filterNot(_ == "html").map(col).toSeq
    val prePartitioned = Pipeline.saltedWritePartitioning(
      routedDf.select(outCols: _*), writeTasks = None)
    // `batchSize` is a PUSH-batch bound (events per webhook POST / raw-event
    // S3 object — `examples/stdin_to_s3_config.json:14` says 100), NOT a
    // columnar-file row bound: mapping it onto maxRecordsPerFile would write
    // 100-row parquet files (~10^10 files at 10^12 rows — the classic
    // object-store/namenode small-file catastrophe). Table files are sized
    // independently (the TableIO default, ~10^6 rows/file); batchSize binds
    // only Push.deliver batches below.
    val schema = prePartitioned.schema
    val counts = Pipeline.countedWrite(prePartitioned, sinkIds, io, "routed")

    // Reading one sink= partition directory: 'sink' is gone (it was the
    // partition path) and 'day' comes back via partition discovery appended
    // AFTER the explicit schema — re-attach 'sink' so the pushed/printed
    // record shape equals the routed row exactly.
    def slice(id: String): DataFrame =
      spark.read.schema(new org.apache.spark.sql.types.StructType(
        schema.filterNot(f => f.name == "sink" || f.name == "day").toArray))
        .parquet(s"${io.path("routed")}/sink=$id")
        .withColumn("sink", lit(id))

    spec.sinks.foreach { d =>
      d.kind match {
        case "s3" | "s3b" => // the partition IS the delivery (columnar table)
        case "printer" =>
          // the reference's printer writes events to stdout; sample here
          if (counts(d.id) > 0)
            slice(d.id).select(to_json(struct(col("*")))).limit(5)
              .collect().foreach(r => println(r.getString(0)))
        case "runreveal" | "webhook" | "mqtt" =>
          if (counts(d.id) > 0) {
            val del = Push.deliver(slice(d.id), d.id,
              d.batchSize.getOrElse(100), transport,
              deadletterDir = s"$outDir/deadletter")
            require(del.delivered + del.deadlettered == counts(d.id),
              s"push delivery lost rows for ${d.id}: $del vs ${counts(d.id)}")
          }
        case other =>
          throw new IllegalArgumentException(s"unknown sink type '$other' (sink '${d.id}')")
      }
      ledger.commit(s"config/sink=${d.id}", counts(d.id))
    }
    if (counts(Sinks.DeadLetter) > 0)
      ledger.commit(s"config/sink=${Sinks.DeadLetter}", counts(Sinks.DeadLetter))
    counts.filter(_._2 > 0)
  }

  /** CLI form: synthesize a deterministic fixture input for each configured
    * source (the sandbox stand-in for live taps — same frames a shipper
    * would emit) and run the spec end-to-end. */
  def run(spark: SparkSession, cfgPath: String, conf: Map[String, String],
          n: Long, cores: Int): Map[String, Long] = {
    val spec = PipelineConfig.load(cfgPath)
    val outDir = conf.getOrElse("--out", "/tmp/graft-config-out")
    val readPaths = conf.get("--read-paths").exists(_.toBoolean)
    val inputs = spec.sources
      .map(s => s.id -> fixtureInput(spark, s, n, cores, readPaths)).toMap
    val r = routed(spec, inputs)
    deliver(spec, r, outDir, new Push.LocalFileTransport(s"$outDir/pushed"))
  }

  /**
   * Streaming config entry (`Main --config cfg.json --stream <landingDir>`):
   * the supervised-daemon form of [[run]]. The landing directory is a
   * file-source tap of doc-shaped parquet (the shipper's landing zone —
   * `Streaming.readWebtext`); each micro-batch runs the batch stage chain
   * and lands per-sink partitioned files + ledger commits, and the
   * top-level `streamDedupNear` block (if present) routes through the
   * approximate near-dup daemon ([[pipeline.streaming.NearDedup]])
   * instead of the plain chain.
   *
   * Delivery model: a micro-batch's write IS the delivery (every sink's
   * slice is a `sink=` partition — the fused fan-out pattern). Push-kind
   * sinks are refused config-shaped here: their streaming form is the
   * count/time push-flush daemon (Streaming.startPushFlushes), which
   * buffers payload lines statefully and must not be silently conflated
   * with a table write.
   *
   * Config `transforms` apply to the doc stream BEFORE the dedup daemon —
   * narrow transforms (quality_filter, pii_redact, token_count, …) bind
   * to streaming frames unchanged; stateful ones (dedup_near itself)
   * raise their own config-shaped refusal, pointing here.
   *
   * Returns exact per-sink delivered counts summed over all micro-batches
   * (from the ledger's batch commits — no read-back scan of the written
   * data).
   */
  def runStream(spark: SparkSession, cfgPath: String,
                conf: Map[String, String]): Map[String, Long] = {
    val spec = PipelineConfig.load(cfgPath)
    val landing = conf.getOrElse("--stream",
      throw new IllegalArgumentException("--stream requires a landing directory"))
    val outDir = conf.getOrElse("--out", "/tmp/graft-config-stream-out")
    spec.sinks.foreach { d =>
      d.kind match {
        case "s3" | "s3b" | "printer" => ()
        case other => throw new IllegalArgumentException(
          s"sink '${d.id}' of type '$other' is not deliverable in --stream mode: " +
            "the streaming write materializes table sinks only; push sinks " +
            "need the push-flush daemon (Streaming.startPushFlushes)")
      }
    }
    // schema from the landing zone's existing files: the daemon tails
    // whatever shape the shipper lands (a streaming file source needs an
    // explicit schema; inferring once at start is the standard tap shape)
    val schema = spark.read.parquet(landing).schema
    // image-mode dedup fingerprints the binary payload (and keys verdicts
    // by url); text mode (and the plain chain) needs the text column.
    // Transforms additionally reference text/url/lang via the bypass
    // marker — require them here so a mis-shaped landing zone fails with
    // a config-shaped error, not an unresolved-column AnalysisException
    // at stream start.
    val imageMode = spec.streamDedupNear.exists(_.mode == "image")
    val need = (Seq("warc_ts") ++
      (if (imageMode) Seq("html", "url") else Seq("text")) ++
      (if (spec.transforms.nonEmpty) Seq("text", "url", "lang") else Nil)).distinct
    val missing = need.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"--stream landing docs need columns ${need.mkString(", ")} " +
        s"(missing: ${missing.mkString(", ")}); found: ${schema.fieldNames.mkString(", ")}")
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", conf.getOrElse("--max-files-per-trigger", "4").toInt)
      .parquet(landing)
    // shippers commonly land TIMESTAMP_NTZ parquet (DuckDB/arrow writers
    // default to it); event-time watermarks require TIMESTAMP — coerce at
    // the tap (session TZ is pinned UTC, so the reinterpretation is exact)
    val docs0 = schema.find(_.name == "warc_ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        raw.withColumn("warc_ts", col("warc_ts").cast("timestamp"))
      case _ => raw
    }
    val docs = applyTransforms(spec, docs0)
    val rs = rules(spec)
    val q = spec.streamDedupNear match {
      case Some(nd) if nd.mode == "image" =>
        pipeline.Streaming.startImagesNearDedup(docs, outDir,
          delayMs = nd.delayMs, bands = nd.bands, maxHamming = nd.maxHamming)
      case Some(nd) => pipeline.Streaming.startDocsNearDedup(docs, outDir,
        delayMs = nd.delayMs, nGram = nd.nGram, bands = nd.bands,
        rowsPerBand = nd.rowsPerBand, rules = rs)
      case None => pipeline.Streaming.startDocs(docs, outDir, rules = rs)
    }
    q.awaitTermination()
    // exact per-sink totals from the batch commits (a replayed batch
    // supersedes its old commit, never double-counts)
    new Ledger(outDir).commits().flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Raw frame in the wire shape each source kind consumes. With
    * `readPaths = true` (EXPLICIT opt-in: the CLI's `--read-paths true`), a
    * line-shaped source whose configured `path` exists is read from disk —
    * one event per line, honoring the `extension` filter
    * (`examples/config.json:8-12` kubernetes file source, ".log").
    * Default is the deterministic fixture, so golden tests and demo runs
    * never silently depend on what happens to exist at the config's host
    * paths (e.g. a real /var/log/pods). */
  def fixtureInput(spark: SparkSession, src: SourceSpec, n: Long,
                   partitions: Int, readPaths: Boolean = false): DataFrame = src.kind match {
    case "eventlog" => EventLog.df(spark, n, partitions, src.channel)
    case "mqtt" => Bus.fixture(spark, n, src.topic.getOrElse("reveald/src"), partitions)
    case "nginx_syslog" | "syslog" =>
      LineCodec.encode(Webtext.df(spark, n, partitions))
        .select(concat(lit("<190>Jan  1 00:00:01 web01 nginx: "), col("value")).as("value"))
    case _ =>
      src.path.filter(p => readPaths && new java.io.File(p).exists()) match {
        case Some(p) =>
          val r = spark.read
          src.extension.foreach(ext => r.option("pathGlobFilter", s"*$ext"))
          r.option("recursiveFileLookup", "true").text(p)
        case None => LineCodec.encode(Webtext.df(spark, n, partitions))
      }
  }
}
