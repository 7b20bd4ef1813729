package pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.config.{ConfigRunner, PipelineConfig, XPathCompiler}
import pipeline.fixtures.{EventLog, Webtext}
import pipeline.io.Push
import pipeline.ref.RefNormalizer
import pipeline.stages.Aggregate

/**
 * Golden tests: every reference example config runs END-TO-END through
 * PipelineConfig → ConfigRunner (sources → parse/enrich/route → sinks), and
 * per-(source,sink) counts match the single-threaded RefNormalizer
 * expectation exactly. Reveald's routing semantic: every event reaches
 * every destination; corrupt events divert to deadletter.
 */
class ConfigRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "config-runner-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  private val RefDir = "/root/reference/examples"
  val N = 400L

  /** Driver-side expectation: docs per source (eventlog channels subset the
    * fixture), corrupt → deadletter, else → every destination. */
  private def expected(spec: pipeline.config.PipelineSpec): Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    spec.sources.foreach { s =>
      (0L until N).foreach { i =>
        val inChannel = s.kind != "eventlog" ||
          s.channel.forall(_ == EventLog.channelOf(i))
        if (inChannel) {
          val corrupt = RefNormalizer.parse(Webtext.row(i)).is_corrupt
          if (corrupt) m((s.id, "deadletter")) += 1
          else spec.sinks.foreach(d => m((s.id, d.id)) += 1)
        }
      }
    }
    m.toMap
  }

  private def runConfig(cfgFile: String, env: Map[String, String] = Map.empty): Unit = {
    val s = sc
    val spec = PipelineConfig.load(s"$RefDir/$cfgFile", env)
    assert(spec.sources.nonEmpty && spec.sinks.nonEmpty, s"$cfgFile parsed empty")
    val inputs = spec.sources.map(src =>
      src.id -> ConfigRunner.fixtureInput(s, src, N, 4)).toMap
    val routed = ConfigRunner.routed(spec, inputs)

    val got = Aggregate.sourceSinkCounts(routed).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = expected(spec)
    assert(got == exp.filter(_._2 > 0), s"$cfgFile: got=$got exp=$exp")

    val out = Files.createTempDirectory(
      "cfg-" + cfgFile.takeWhile(_ != '.').replace('/', '_')).toString
    val counts = ConfigRunner.deliver(spec, routed, out,
      new Push.LocalFileTransport(s"$out/pushed"))
    val expPerSink = exp.groupBy(_._1._2).view.mapValues(_.values.sum)
      .filter(_._2 > 0).toMap
    assert(counts == expPerSink, s"$cfgFile deliver: $counts vs $expPerSink")
  }

  test("examples/config.json runs end-to-end (file + journald → s3 + webhook)") {
    runConfig("config.json")
  }

  test("examples/mqtt_config.json runs end-to-end (mqtt → mqtt + printer)") {
    runConfig("mqtt_config.json")
  }

  test("examples/windows/config_windows.json runs end-to-end (5 eventlog channels)") {
    runConfig("windows/config_windows.json")
  }

  test("examples/journald_to_s3batch_config.json honors maxLineLenKB + s3b nesting") {
    val s = sc
    val spec = PipelineConfig.load(s"$RefDir/journald_to_s3batch_config.json")
    assert(spec.sources.head.maxLineLenKB.contains(200))
    assert(spec.sinks.head.kind == "s3b" &&
      spec.sinks.head.pathPrefix.contains("logs") &&
      spec.sinks.head.batchSize.contains(100))
    runConfig("journald_to_s3batch_config.json")
  }

  test("examples/stdin_to_s3_config.json runs end-to-end (scanner → s3)") {
    runConfig("stdin_to_s3_config.json")
  }

  test("sink batchSize does NOT cap parquet file rows (small-file guard)") {
    // the reference's canonical configs say batchSize=100
    // (`examples/stdin_to_s3_config.json:14`) — that bounds PUSH batches,
    // not columnar files; a faithful config run must not write 100-row
    // parquet files (≈10^10 files at 10^12 rows)
    val s = sc
    val spec = PipelineConfig.load(s"$RefDir/stdin_to_s3_config.json")
    assert(spec.sinks.head.batchSize.contains(100))
    val n = 2000L
    val inputs = spec.sources.map(src =>
      src.id -> ConfigRunner.fixtureInput(s, src, n, 4)).toMap
    val out = Files.createTempDirectory("cfg-filesize").toString
    ConfigRunner.deliver(spec, ConfigRunner.routed(spec, inputs), out,
      new Push.LocalFileTransport(s"$out/pushed"))
    val rowsPerFile = s.read.parquet(s"$out/routed")
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    // file count stays O(write partitions), and at least one file proves
    // the 100-row cap is gone
    assert(rowsPerFile.length <= 40, s"too many files: ${rowsPerFile.length}")
    assert(rowsPerFile.max > 100, s"files still capped at batchSize: ${rowsPerFile.max}")
  }

  test("journald source decodes fielded entries map (EventData-shaped)") {
    val s = sc
    val src = pipeline.config.SourceSpec("jd", "journald", maxLineLenKB = Some(200))
    val docs = ConfigRunner.fromSource(src, ConfigRunner.fixtureInput(s, src, 50, 2))
    assert(docs.columns.contains("entries"))
    // every decoded entry is addressable by key, like EventData['K']
    val langs = docs.filter(try_element_at(col("entries"), lit("lang")) === col("lang"))
    assert(langs.count() == docs.filter(col("lang").isNotNull).count())
    // and the map holds the full fielded record
    assert(docs.filter(try_element_at(col("entries"), lit("url")) === col("url"))
      .count() == docs.filter(col("url").isNotNull).count())
  }

  test("journald query compiles journalctl MATCHES over the entries map") {
    val s = sc
    val base = pipeline.config.SourceSpec("jd", "journald")
    val raw = ConfigRunner.fixtureInput(s, base, 60, 2)
    val all = ConfigRunner.fromSource(base, raw)
    val langEn = all.filter(try_element_at(col("entries"), lit("lang")) === "en").count()
    val langDe = all.filter(try_element_at(col("entries"), lit("lang")) === "de").count()
    assert(langEn > 0 && langDe > 0)

    // single term
    val q1 = ConfigRunner.fromSource(base.copy(query = Some("lang=en")), raw)
    assert(q1.count() == langEn)
    // same field twice = OR
    val q2 = ConfigRunner.fromSource(base.copy(query = Some("lang=en lang=de")), raw)
    assert(q2.count() == langEn + langDe)
    // distinct fields = AND (url never equals the lang value → empty)
    val q3 = ConfigRunner.fromSource(
      base.copy(query = Some("lang=en url=nope")), raw)
    assert(q3.count() == 0)
    // '+' = disjunction of groups
    val q4 = ConfigRunner.fromSource(
      base.copy(query = Some("lang=en url=nope + lang=de")), raw)
    assert(q4.count() == langDe)
    // missing field never matches (journalctl semantics)
    val q5 = ConfigRunner.fromSource(
      base.copy(query = Some("NO_SUCH_FIELD=x")), raw)
    assert(q5.count() == 0)
    // malformed terms fail config-shaped
    val e = intercept[IllegalArgumentException] {
      pipeline.config.JournaldMatch.compile("not-a-term")
    }
    assert(e.getMessage.contains("FIELD=VALUE"))
    // quoted values carry spaces (journalctl argv-quoting equivalent) and
    // a quoted " + " must NOT split disjunction groups
    import org.apache.spark.sql.functions.{map_from_arrays, array, lit => l}
    val m = s.range(1).select(map_from_arrays(
      array(l("MESSAGE"), l("U")), array(l("Started a + b"), l("x"))).as("entries"))
    assert(m.filter(pipeline.config.JournaldMatch.compile(
      """MESSAGE="Started a + b" U=x""")).count() == 1)
    assert(m.filter(pipeline.config.JournaldMatch.compile(
      """MESSAGE="nope" + U=x""")).count() == 1)
    intercept[IllegalArgumentException] {
      pipeline.config.JournaldMatch.compile("""MESSAGE="unterminated""")
    }
    // a quote NOT at value start is an ordinary character (journald values
    // are arbitrary byte strings); "" inside a quoted value is a literal "
    val m2 = s.range(1).select(map_from_arrays(
      array(l("A"), l("B"), l("C")),
      array(l("va\"lue"), l("say \"hi\""), l("--opt=\"a b\""))).as("entries"))
    assert(m2.filter(pipeline.config.JournaldMatch.compile(
      """A=va"lue""")).count() == 1)
    assert(m2.filter(pipeline.config.JournaldMatch.compile(
      "B=\"say \"\"hi\"\"\"")).count() == 1)
    // a quote after a NON-first '=' is mid-value → stays byte-literal
    // (compiles to equality on '--opt="a'; matches nothing here)
    assert(m2.filter(pipeline.config.JournaldMatch.compile(
      "C=--opt=\"a")).count() == 0)
    // the full spaced value with mid-value quotes is written start-quoted
    // with the inner quotes doubled
    assert(m2.filter(pipeline.config.JournaldMatch.compile(
      "C=\"--opt=\"\"a b\"\"\"")).count() == 1)
  }

  test("journald MATCHES runs before maxLineLenKB truncation (journalctl semantics)") {
    val s = sc
    import s.implicits._
    // MARKER's value extends past the 1 KB cap; the journalctl MATCH
    // compares the FULL value — truncate-then-match would silently drop
    // the row (round-3 ADVICE finding)
    val longVal = "a" * 1030 + "zzz"
    val raw = Seq(
      s"""{"url":"u1","MARKER":"$longVal"}""",
      s"""{"url":"u2","MARKER":"other"}""").toDF("value")
    val src = pipeline.config.SourceSpec("jd", "journald",
      maxLineLenKB = Some(1), query = Some(s"MARKER=$longVal"))
    val docs = ConfigRunner.fromSource(src, raw)
    assert(docs.count() == 1, "match must see the un-truncated value")
    assert(docs.filter(try_element_at(col("entries"), lit("url")) === "u1").count() == 1)
    // the size cap still applies to the delivered record AFTER matching
    assert(docs.select(length(try_element_at(col("entries"), lit("MARKER"))))
      .head().getInt(0) == 1024)
  }

  test("config transforms clean the corpus before routing (ordered, end-to-end)") {
    val s = sc
    val spec = pipeline.config.PipelineSpec(
      sources = Seq(pipeline.config.SourceSpec("in", "file")),
      sinks = Seq(pipeline.config.SinkSpec("s3", "s3")),
      rules = Nil,
      transforms = Seq(
        pipeline.config.TransformSpec("pii_redact"),
        pipeline.config.TransformSpec("lang_allowlist", Map("langs" -> "en,de")),
        pipeline.config.TransformSpec("stratified_sample",
          Map("rates" -> "en:50", "default" -> "100")),
        pipeline.config.TransformSpec("truncate", Map("maxChars" -> "64"))))
    import s.implicits._
    // 5 undecodable lines: LineCodec nulls every column → these must BYPASS
    // the transforms (a lang/sample gate over nulls would silently eat them)
    val garbage = Seq.tabulate(5)(i => s"not json at all {{{$i").toDF("value")
    val inputs = Map("in" ->
      ConfigRunner.fixtureInput(s, spec.sources.head, 400, 2).unionByName(garbage))
    val routed = ConfigRunner.routed(spec, inputs)

    // baseline: same config without transforms
    val base = ConfigRunner.routed(spec.copy(transforms = Nil), inputs)
    val baseN = base.count()
    val gotN = routed.count()
    assert(gotN > 0 && gotN < baseN, s"transforms must filter: $gotN vs $baseN")
    // lang allowlist holds on the routed output
    assert(routed.filter(!col("lang").isin("en", "de")).count() == 0)
    // en rows are hash-sampled at 50%: strictly fewer than the allowlisted base
    val baseEn = base.filter(col("lang") === "en").count()
    val gotEn = routed.filter(col("lang") === "en").count()
    assert(gotEn > 0 && gotEn < baseEn)
    // de rows pass at default=100%
    assert(routed.filter(col("lang") === "de").count() ==
      base.filter(col("lang") === "de").count())
    // truncate capped the payload before parse
    assert(routed.agg(max(length(col("extracted_text")))).head().getInt(0) <= 64)
    // DECODE-corrupt rows (all-null after LineCodec) BYPASS the transforms
    // and survive into the routed output — the never-vanish guarantee (a
    // lang/sample gate over nulls would silently eat them). PARSE-corrupt
    // rows carry real lang/url columns and are legitimately subject to the
    // configured allowlist/sample filters like any other row.
    val nullSurvivors = routed.filter(col("url").isNull)
      .select(countDistinct(col("extracted_text")).as("d"), count(lit(1)).as("n"))
      .head()
    assert(nullSurvivors.getAs[Long]("n") >= 5L,
      s"all 5 undecodable lines must survive the transforms: $nullSurvivors")
    assert(base.filter(col("url").isNull).count() ==
      routed.filter(col("url").isNull).count(),
      "transforms must not change the decode-corrupt row count")
  }

  test("dedup_exact transform: deterministic min-url keeper; streaming refuses loudly") {
    val s = sc
    import s.implicits._
    val d = Seq(
      ("b.example/2", "same text", "de"),
      ("a.example/1", "same text", "en"),
      (null.asInstanceOf[String], "same text", "fr"),
      ("c.example/3", null.asInstanceOf[String], "xx"))
      .toDF("url", "text", "lang")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("source", lit("src"))
    val stage = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_exact"))
    val out = stage(d).select("url", "lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // keeper = min url (nulls last); null-TEXT row passes uncollapsed
    assert(out == Set(("a.example/1", "en"), ("c.example/3", "xx")))
    assert(stage(d).select("url", "lang").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == out) // rerun-stable
    // a streaming frame fails AT START (unwatermarked window is not a
    // streaming operator) instead of silently growing unbounded state
    val landing = java.nio.file.Files.createTempDirectory("dedup-stream").toString
    d.write.mode("overwrite").parquet(landing)
    val stream = s.readStream.schema(d.schema).parquet(landing)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      stage(stream).writeStream.format("memory").queryName("ddx")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ddxc").toString)
        .start()
    }
    assert(ex.getMessage.toLowerCase.contains("window") ||
      ex.getMessage.toLowerCase.contains("streaming"))
  }

  test("quality_filter transform: score gate, null text kept, bad config rejected") {
    val s = sc
    import s.implicits._
    val d = Seq(
      ("u1", "the quick brown fox and the lazy dog ran over the hill"),
      ("u2", "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"), // pure punctuation
      ("u3", null.asInstanceOf[String]))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src"))
    val stage = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("quality_filter", Map("minScore" -> "0.5")))
    val urls = stage(d).select("url").collect().map(_.getString(0)).toSet
    assert(urls.contains("u1"), "clean English must pass the gate")
    assert(!urls.contains("u2"), "punctuation soup must drop")
    assert(urls.contains("u3"), "null text carries no signal and is kept")
    // null text scores the CONSTANT 0.5 (ratio defaults), so the keep must
    // come from the explicit text.isNull gate — pin it above that score
    val strict = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("quality_filter", Map("minScore" -> "0.9")))
    assert(strict(d).select("url").collect().map(_.getString(0)).toSet
      .contains("u3"), "null text must survive a gate above 0.5")
    val e = intercept[IllegalArgumentException] {
      pipeline.config.TransformCompiler.one(
        pipeline.config.TransformSpec("quality_filter", Map("minScore" -> "1.5")))
    }
    assert(e.getMessage.contains("minScore"))
  }

  test("token_count transform: real/estimate/whitespace modes, mergesPath, bad config") {
    val s = sc
    import s.implicits._
    val d = Seq(("u1", "the quick brown fox"), ("u2", "who is who"),
      ("u3", null.asInstanceOf[String])).toDF("url", "text")
    def run(opts: Map[String, String]) = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("token_count", opts))(d)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else r.get(2))).toMap
    // default: real fixture-table BPE into n_tokens; null text → null
    val real = run(Map.empty)
    assert(real("u1") == pipeline.expr.Bpe.countTokens("the quick brown fox"))
    assert(real("u3") == null)
    // whitespace mode matches the ws splitter; custom output column
    val ws = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("token_count",
        Map("mode" -> "whitespace", "as" -> "n_ws")))(d)
    assert(ws.columns.contains("n_ws"))
    assert(ws.filter(col("url") === "u1").head().getAs[Int]("n_ws") == 4)
    // estimate mode = pretokenizer regex count
    assert(run(Map("mode" -> "estimate"))("u2") == 3)
    // mergesPath: a loaded production-style vocabulary changes the counts
    val dir = java.nio.file.Files.createTempDirectory("tc-merges")
    val mpath = dir.resolve("merges.txt")
    java.nio.file.Files.writeString(mpath, "#version: 0.2\nw h\nwh o\n")
    val loaded = run(Map("mergesPath" -> mpath.toString))
    assert(loaded("u2") == 1 + 2 + 1) // who=1 (w-h,wh-o), is=2, who=1
    assert(loaded("u2") != real("u2"))
    // pretokenizer=byte: GPT-2 byte-level pricing (whitespace counts, Ġ
    // merges fire) — distinct from char-level on multi-space text
    val byteLvl = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("token_count",
        Map("pretokenizer" -> "byte")))(d)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else r.get(2))).toMap
    assert(byteLvl("u1") ==
      pipeline.expr.Bpe.FixtureByteLevel.countTokens("the quick brown fox"))
    assert(byteLvl("u3") == null)
    // config-shaped failures at COMPILE time, not mid-job
    intercept[IllegalArgumentException] { run(Map("mode" -> "nope")) }
    intercept[IllegalArgumentException] {
      run(Map("mergesPath" -> "/does/not/exist.txt"))
    }
    intercept[IllegalArgumentException] {
      run(Map("mode" -> "estimate", "mergesPath" -> mpath.toString))
    }
    intercept[IllegalArgumentException] { run(Map("pretokenizer" -> "nope")) }
    intercept[IllegalArgumentException] {
      run(Map("mode" -> "whitespace", "pretokenizer" -> "byte"))
    }
  }

  test("decontaminate transform: benchmark shingle overlap drops docs; null text safe") {
    val s = sc
    import s.implicits._
    val benchDir = java.nio.file.Files.createTempDirectory("decon-bench").toString
    Seq("the capital of france is paris and everyone knows it",
      "water boils at one hundred degrees celsius at sea level")
      .toDF("text").write.mode("overwrite").parquet(benchDir)
    val d = Seq(
      // contains a full benchmark sentence → many shared shingles → drop
      ("u1", "prefix words the capital of france is paris and everyone knows it suffix"),
      // clean doc, disjoint vocabulary → keep
      ("u2", "oak elm birch maple cedar willow aspen spruce fir larch"),
      // shares fewer than minShared shingles → keep
      ("u3", "the capital of norway is oslo which is quite different"),
      ("u4", null.asInstanceOf[String])) // null text → never vanishes
      .toDF("url", "text")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("source", lit("src"))
    def run(opts: Map[String, String]) = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("decontaminate", opts))(d)
    val kept = run(Map("benchmarkPath" -> benchDir, "minShared" -> "5"))
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept == Set("u2", "u3", "u4"), s"got $kept")
    // == the programmatic apply on the same id rule
    val withId = d.withColumn("_nid", when(col("text").isNotNull,
      xxhash64(col("url"), col("warc_ts").cast("string"), col("source"), col("text"))))
    val prog = pipeline.ops.CorpusRefine.decontaminateApply(
      withId.filter(col("_nid").isNotNull),
      s.read.parquet(benchDir), "_nid", "text", nGram = 3, minShared = 5L)
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept - "u4" == prog)
    // minShared=1: even u3's few shared shingles ("the capital of", ...) drop it
    val strict = run(Map("benchmarkPath" -> benchDir))
      .select("url").collect().map(_.getString(0)).toSet
    assert(strict == Set("u2", "u4"), s"got $strict")
    // config-shaped failures
    intercept[IllegalArgumentException] { run(Map.empty) }
    intercept[IllegalArgumentException] {
      run(Map("benchmarkPath" -> "/does/not/exist"))
    }
    intercept[IllegalArgumentException] {
      run(Map("benchmarkPath" -> benchDir, "minShared" -> "0"))
    }
    intercept[IllegalArgumentException] {
      run(Map("benchmarkPath" -> benchDir, "benchmarkColumn" -> "nope")).count()
    }
  }

  test("dup_span_filter / dup_span_apply transforms: gate and rewrite; never-vanish") {
    val s = sc
    import s.implicits._
    val d = Seq(
      ("u1", ("a b c d e f g h " * 3).trim),                  // fully periodic → frac 1.0
      ("u2", "p q a b c d e f g h r"),                        // loses the shared window
      ("u3", "oak elm birch maple cedar willow aspen spruce fir larch"),
      ("u4", null.asInstanceOf[String]))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("source", lit("src"))
    def one(kind: String, opts: Map[String, String]) =
      pipeline.config.TransformCompiler.one(
        pipeline.config.TransformSpec(kind, opts))
    // FILTER: the periodic doc drops; null text never vanishes
    val kept = one("dup_span_filter", Map("maxFrac" -> "0.5"))(d)
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept == Set("u2", "u3", "u4"), s"got $kept")
    // APPLY: u1's canonical copy survives its internal repeats; u2 loses
    // the 8-token run it shares with u1 (u1 holds the keeper); untouched
    // and null docs pass through byte-original
    val applied = one("dup_span_apply", Map())(d)
      .select("url", "text").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(applied("u1") == Some("a b c d e f g h"), s"got ${applied("u1")}")
    assert(applied("u2") == Some("p q r"), s"got ${applied("u2")}")
    assert(applied("u3") == Some("oak elm birch maple cedar willow aspen spruce fir larch"))
    assert(applied("u4").isEmpty)
    // identical copies share one nid: rewritten identically, never cut
    // against each other, and both survive
    val twins = d.unionByName(d.filter(col("url") === "u2"))
    val twinOut = one("dup_span_apply", Map())(twins)
      .filter(col("url") === "u2").select("text")
      .collect().map(_.getString(0)).toSeq
    assert(twinOut == Seq("p q r", "p q r"), s"got $twinOut")
    // config-shaped failures
    intercept[IllegalArgumentException] { one("dup_span_filter", Map())(d) }
    intercept[IllegalArgumentException] {
      one("dup_span_filter", Map("maxFrac" -> "1.5"))(d) }
    intercept[IllegalArgumentException] {
      one("dup_span_apply", Map("k" -> "0"))(d) }
  }

  test("dedup_near transform: minhash→components→apply chain == programmatic") {
    val s = sc
    import s.implicits._
    // the three-copy cluster uses IDENTICAL text (jaccard 1 → every band
    // collides → candidate pairs are GUARANTEED, no recall roll of the
    // dice in a correctness test; the LSH recall curve itself is
    // OpsSpec/BASELINE territory). u4 is unrelated; u5 has no text.
    val clusterText = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      ("u1.example/a", clusterText),
      ("u2.example/b", clusterText),
      ("u3.example/c", clusterText),
      ("u4.example/d", "completely different words entirely unrelated content"),
      ("u5.example/e", null.asInstanceOf[String]))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src"))
    val stage = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near",
        Map("nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))
    val urls = stage(d).select("url").collect().map(_.getString(0)).toSet
    // exactly ONE cluster member survives; the unrelated doc and the
    // null-text row pass through untouched (never-vanish)
    assert(Set("u1.example/a", "u2.example/b", "u3.example/c")
      .intersect(urls).size == 1, s"got $urls")
    assert(urls.contains("u4.example/d") && urls.contains("u5.example/e"))
    // rerun-stable (hash-canonical keeper, no RNG)
    assert(stage(d).select("url").collect().map(_.getString(0)).toSet == urls)
    // parity with the programmatic minhashLsh → connectedComponents → anti
    val withId = d.withColumn("_nid", xxhash64(col("url"),
      col("warc_ts").cast("string"), col("source"), col("text")))
    val pairs = pipeline.ops.Dedup.minhashLsh(
      withId.filter(col("text").isNotNull), "_nid", "text", 3, 2, 4, 10000)
    val comps = pipeline.ops.Dedup.connectedComponents(pairs)
    val expect = withId.join(
      comps.filter(col("node") =!= col("comp")).select(col("node").as("_nid")),
      Seq("_nid"), "left_anti").select("url")
      .collect().map(_.getString(0)).toSet
    assert(urls == expect)
    // malformed options fail at compile with a config-shaped error
    val e = intercept[IllegalArgumentException] {
      pipeline.config.TransformCompiler.one(
        pipeline.config.TransformSpec("dedup_near", Map("bands" -> "0")))
    }
    assert(e.getMessage.contains("dedup_near"))
  }

  test("dedup_near: fully identical rows share one node — chain dedup_exact first") {
    val s = sc
    import s.implicits._
    val textX = "alpha beta gamma delta epsilon zeta eta theta"
    // a1 == a2 byte-for-byte (one xxhash64 node); b is the same text at a
    // different url (a distinct node, guaranteed candidate pair)
    val d = Seq(
      ("u1.example/a", textX), ("u1.example/a", textX), ("u2.example/b", textX))
      .toDF("url", "text")
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src"))
    val near = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near",
        Map("nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))
    val urls = near(d).select("url").collect().map(_.getString(0)).toSeq
    // the documented behavior: identical rows are kept or dropped TOGETHER
    // (dedup_near alone never thins exact copies)
    assert(urls.count(_ == "u1.example/a") != 1,
      s"identical rows must share one graph fate, got $urls")
    assert(urls.toSet.size == 1, s"one cluster → one surviving url: $urls")
    // the documented chain order collapses exact copies first: one row out
    val exact = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_exact", Map.empty))
    assert(near(exact(d)).count() == 1L)
  }

  test("examples/corpus_assembly_config.json: flagship chain golden, per-stage counts") {
    val s = sc
    val cfgPath = "examples/corpus_assembly_config.json"
    assert(new java.io.File(cfgPath).exists(), s"missing $cfgPath")
    val spec = PipelineConfig.load(cfgPath, Map.empty)
    // pin the chain CONTENT (order + options), not just that it parses —
    // this is the committed flagship example; silent edits must fail here
    // truncate precedes token_count: n_tokens prices the SHIPPED text
    assert(spec.transforms.map(_.kind) == Seq("pii_redact", "dedup_exact",
      "dedup_near", "lang_allowlist", "quality_filter", "repetition_filter",
      "stratified_sample", "truncate", "token_count"))
    assert(spec.transforms(2).options == Map("nGram" -> "3", "bands" -> "4",
      "rowsPerBand" -> "4", "maxBucketSize" -> "10000"))
    assert(spec.sinks.map(_.kind) == Seq("s3"))
    val input = ConfigRunner.fixtureInput(s, spec.sources.head, N, 4)
    // per-stage row counts: fold TransformCompiler.one over the same
    // fanned + bypass-marked frame ConfigRunner.routed builds internally
    val fanned = pipeline.sources.Sources.fanIn(
      Seq(ConfigRunner.fromSource(spec.sources.head, input)))
      .withColumn(pipeline.config.TransformCompiler.BypassCol,
        col("text").isNull && col("url").isNull && col("lang").isNull)
    val stages = spec.transforms.scanLeft(("fanin",
      fanned: org.apache.spark.sql.DataFrame)) { case ((_, df), t) =>
      (t.kind, pipeline.config.TransformCompiler.one(t)(df))
    }.toIndexedSeq
    val counts = stages.map { case (k, df) => k -> df.count() }
    def at(kind: String): Long = counts.find(_._1 == kind).get._2
    // annotation stages preserve row counts; filter stages only shrink —
    // and the fixture guarantees STRICT shrinkage where seeded (~2% exact
    // dups; ja/es/und rows outside the allowlist; en sampled at 60%)
    assert(at("pii_redact") == at("fanin"))
    assert(at("dedup_exact") < at("pii_redact"))
    assert(at("dedup_near") <= at("dedup_exact"))
    assert(at("lang_allowlist") < at("dedup_near"))
    assert(at("quality_filter") <= at("lang_allowlist"))
    assert(at("repetition_filter") <= at("quality_filter"))
    assert(at("stratified_sample") < at("repetition_filter"))
    assert(at("truncate") == at("stratified_sample"))
    assert(at("token_count") == at("truncate"))
    // token_count annotated real BPE counts on every decoded surviving row
    val annotated = stages.find(_._1 == "token_count").get._2
    assert(annotated.columns.contains("n_tokens"))
    assert(annotated.filter(col("text").isNotNull &&
      col("n_tokens").isNull).count() == 0)
    // end-to-end: the config run routes exactly the chain's survivors —
    // one destination, so routed rows == final chain rows, with both the
    // s3 sink and the deadletter (bypass + parse-corrupt) populated
    val routed = ConfigRunner.routed(spec, Map(spec.sources.head.id -> input))
    assert(routed.count() == counts.last._2)
    val bySink = routed.groupBy(col("sink")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySink.keySet == Set("shards", "deadletter") &&
      bySink.values.forall(_ > 0), s"got $bySink")
  }

  test("examples/stream_neardedup_config.json: --stream daemon counts == batch dedup_near chain") {
    val s = sc
    import s.implicits._
    val cfgPath = "examples/stream_neardedup_config.json"
    assert(new java.io.File(cfgPath).exists(), s"missing $cfgPath")
    val spec = PipelineConfig.load(cfgPath, Map.empty)
    // pin the committed example's block content (duration string parsed)
    assert(spec.streamDedupNear.contains(pipeline.config.StreamNearDedupSpec(
      delayMs = 86400000L, nGram = 3, bands = 2, rowsPerBand = 4)))
    assert(spec.sinks.map(_.kind) == Seq("s3"))
    // landing zone: two shipper files; the second re-ships two first-file
    // texts (→ near-dup dropped) plus one new doc. coalesce(1): multi-part
    // files split micro-batch arrival order nondeterministically
    val t1 = "title: alpha beta status=503 bytes=10 method=GET gamma delta epsilon zeta"
    val t2 = "title: red orange status=200 bytes=20 method=GET yellow green blue indigo"
    val t3 = "oak elm birch maple cedar willow aspen spruce"
    val t4 = "quark lepton boson gluon photon neutrino muon tau"
    def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")
    val cols = Seq("url", "warc_ts", "text", "lang", "source")
    val landing = Files.createTempDirectory("graft-cfgstream-landing").toString
    Seq(("u/a1", ts(1), t1, "en", "src"), ("u/a2", ts(2), t2, "de", "src"),
      ("u/a3", ts(3), t3, "en", "src"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100) // mtime spacing: maxFilesPerTrigger=1 goes oldest-first
    Seq(("u/b1", ts(30), t1, "en", "src"), ("u/b2", ts(31), t4, "ja", "src"),
      ("u/b3", ts(32), t2, "de", "src"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val out = Files.createTempDirectory("graft-cfgstream-out").toString
    val got = ConfigRunner.runStream(s, cfgPath, Map(
      "--stream" -> landing, "--out" -> out, "--max-files-per-trigger" -> "1"))
    // batch twin: the dedup_near transform with the SAME knobs, then the
    // config's routing (no routing block → every event to every sink)
    val deduped = pipeline.config.TransformCompiler.one(
      pipeline.config.TransformSpec("dedup_near", Map(
        "nGram" -> "3", "bands" -> "2", "rowsPerBand" -> "4")))(
      s.read.parquet(landing))
    assert(deduped.count() == 4) // one rep per dup class + both singletons
    val batchCounts = Aggregate.sinkCounts(
      Pipeline.transform(deduped, rules = ConfigRunner.rules(spec)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batchCounts && got.values.sum > 0,
      s"stream $got vs batch $batchCounts")
    // the commits' totals agree with the per-sink counts runStream returned,
    // and the ledger is the outDir's one accounting file
    assert(new pipeline.io.Ledger(out).committedRows().values.sum == got.values.sum)
    assert(!Files.exists(java.nio.file.Paths.get(out, "stream_metrics.jsonl")) &&
      Files.exists(java.nio.file.Paths.get(out, "ledger.jsonl")))
    // push-kind sinks are refused config-shaped in --stream mode
    val pushSpec = spec.copy(sinks = spec.sinks :+
      pipeline.config.SinkSpec("hook", "webhook"))
    val pushCfg = Files.createTempFile("graft-cfgstream", ".json")
    Files.write(pushCfg, PipelineConfig.render(pushSpec).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      ConfigRunner.runStream(s, pushCfg.toString, Map(
        "--stream" -> landing, "--out" -> out))
    }
    assert(e.getMessage.contains("hook") && e.getMessage.contains("push-flush"))
  }

  test("examples/stream_imagededup_config.json: --stream image daemon dedups binary payloads") {
    val s = sc
    import s.implicits._
    val cfgPath = "examples/stream_imagededup_config.json"
    assert(new java.io.File(cfgPath).exists(), s"missing $cfgPath")
    val spec = PipelineConfig.load(cfgPath, Map.empty)
    // pin the committed example's block (mode-dependent keys parsed)
    assert(spec.streamDedupNear.contains(pipeline.config.StreamNearDedupSpec(
      delayMs = 86400000L, bands = 8, mode = "image", maxHamming = 3)))
    // landing zone: original + far image, then a near-dup (hamming 1) and
    // a fresh one — real PNGs whose dHash is pinned by PngFromBitsExpr
    val h = 0x0F0F0F0F0F0F0F0FL
    def img(url: String, sec: Int, bits: Long) =
      (url, java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d"),
        pipeline.expr.PngFromBitsExpr.encode(bits),
        null.asInstanceOf[String], "en", "img")
    val cols = Seq("url", "warc_ts", "html", "text", "lang", "source")
    val landing = Files.createTempDirectory("graft-cfgimg-landing").toString
    Seq(img("i/a", 1, h), img("i/far", 2, ~h))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    Thread.sleep(1100)
    Seq(img("i/a-dup", 30, h ^ 2L), img("i/new", 31, 0x00FF00FF00FF00FFL))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(landing)
    val out = Files.createTempDirectory("graft-cfgimg-out").toString
    val got = ConfigRunner.runStream(s, cfgPath, Map(
      "--stream" -> landing, "--out" -> out, "--max-files-per-trigger" -> "1"))
    assert(got == Map("kept" -> 3L), s"got $got")
    val urls = s.read.parquet(s"$out/kept_stream").select("url")
      .as[String].collect().sorted.toSeq
    assert(urls == Seq("i/a", "i/far", "i/new"), s"got $urls")
    assert(new pipeline.io.Ledger(out).committedRows().values.sum == 3L)
    // cross-mode keys are rejected at LOAD, config-shaped
    val bad = Files.createTempFile("graft-cfgimg", ".json")
    Files.write(bad, PipelineConfig.render(spec.copy(streamDedupNear =
      spec.streamDedupNear)).replace("\"mode\" : \"image\"",
      "\"mode\" : \"image\", \"nGram\" : 3").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](PipelineConfig.load(bad.toString))
    assert(e.getMessage.contains("nGram") && e.getMessage.contains("image"))
    // bands must divide 64 in image mode
    val bad2 = Files.createTempFile("graft-cfgimg2", ".json")
    Files.write(bad2, PipelineConfig.render(spec).replace("\"bands\" : 8",
      "\"bands\" : 7").getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](PipelineConfig.load(bad2.toString))
    assert(e2.getMessage.contains("divide 64"))
  }

  test("conflicting grok schemas across sources fail with a config-shaped error") {
    val s = sc
    val spec = pipeline.config.PipelineSpec(
      sources = Seq(
        pipeline.config.SourceSpec("a", "file", grok = Some("n=%{INT:n:int}")),
        pipeline.config.SourceSpec("b", "file", grok = Some("w=%{WORD:w}"))),
      sinks = Seq(pipeline.config.SinkSpec("s3", "s3")),
      rules = Nil)
    val inputs = spec.sources.map(src =>
      src.id -> ConfigRunner.fixtureInput(s, src, 10, 2)).toMap
    val e = intercept[IllegalArgumentException](ConfigRunner.routed(spec, inputs))
    assert(e.getMessage.contains("grok") && e.getMessage.contains("a ->"))
    // same schema from both sources is fine
    val ok = spec.copy(sources = spec.sources.map(_.copy(grok = Some("n=%{INT:n:int}"))))
    val okInputs = ok.sources.map(src =>
      src.id -> ConfigRunner.fixtureInput(s, src, 10, 2)).toMap
    assert(ConfigRunner.routed(ok, okInputs).count() > 0)
  }

  test("multiline source option: throwables rejoin before grok; guards reject") {
    val s = sc
    import s.implicits._
    // config surface: hujson file with multiline + grok on a file source
    val dir = Files.createTempDirectory("graft-ml-cfg")
    val cfg = dir.resolve("cfg.json")
    java.nio.file.Files.writeString(cfg,
      """{
        |  // applog ships one LINE per event; rejoin before grok
        |  "sources": {"applog": {"type": "file", "multiline": true,
        |                         "grok": "%{JAVATHROWABLE}"}},
        |  "destinations": {"s3": {"type": "s3"}},
        |}""".stripMargin)
    val spec = pipeline.config.PipelineConfig.load(cfg.toString)
    assert(spec.sources.head.multiline.contains(true))
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$i%02d")
    val lines = Seq(
      ("app-1", 0, "com.app.Err: boom"),
      ("app-1", 1, "\tat com.app.A.m(A.java:1)"),
      ("app-1", 2, "\tat com.app.B.n(B.java:2)"),
      ("app-1", 3, "com.app.Err2: later"),
      ("app-2", 0, "\tat orphan.F.g(F.java:3)"), // tail-truncated stream start
      ("app-2", 1, "com.app.Err3: other"))
    val docs = lines.toDF("url", "off", "line").select(col("url"),
      udf((i: Int) => ts(i)).apply(col("off")).as("warc_ts"),
      lit(null).cast("binary").as("html"),
      col("line").as("text"), lit("en").as("lang"))
    val routed = ConfigRunner.routed(spec,
      Map("applog" -> pipeline.sources.LineCodec.encode(docs)))
    val recs = routed.filter(col("sink") === "s3")
      .select(col("url"), col("text"), col("grok").getField("jt_exception"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(recs == Set(
      ("app-1", "com.app.Err: boom\n\tat com.app.A.m(A.java:1)\n\tat com.app.B.n(B.java:2)",
        "com.app.Err"),
      ("app-1", "com.app.Err2: later", "com.app.Err2"),
      // the orphan record survives (never-vanish); its frame line still
      // groks a class ref, which is fine — it has no header to claim
      ("app-2", "\tat orphan.F.g(F.java:3)", "orphan.F.g"),
      ("app-2", "com.app.Err3: other", "com.app.Err3")), s"got $recs")
    // custom continuation regex ('| ' continuation style)
    val spec2 = spec.copy(sources = Seq(spec.sources.head.copy(
      grok = None, multilineContinuation = Some("^\\| "))))
    val docs2 = Seq(("u", 0, "first"), ("u", 1, "| cont"), ("u", 2, "second"))
      .toDF("url", "off", "line").select(col("url"),
        udf((i: Int) => ts(i)).apply(col("off")).as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("line").as("text"), lit("en").as("lang"))
    val recs2 = ConfigRunner.routed(spec2,
      Map("applog" -> pipeline.sources.LineCodec.encode(docs2)))
      .filter(col("sink") === "s3").select("text").collect().map(_.getString(0)).toSet
    assert(recs2 == Set("first\n| cont", "second"))
    // guards: non-line-shaped source kinds reject config-shaped
    val eJ = intercept[IllegalArgumentException](ConfigRunner.fromSource(
      pipeline.config.SourceSpec("j", "journald", multiline = Some(true)),
      ConfigRunner.fixtureInput(s, pipeline.config.SourceSpec("j", "journald"), 5, 2)))
    assert(eJ.getMessage.contains("line-shaped"))
    // streaming frames reject loudly (continuations cross micro-batches)
    val landing = Files.createTempDirectory("graft-ml-stream")
    pipeline.sources.LineCodec.encode(docs).write.mode("overwrite")
      .parquet(landing.toString)
    val streamRaw = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .parquet(landing.toString)
    val eS = intercept[IllegalArgumentException](ConfigRunner.fromSource(
      pipeline.config.SourceSpec("applog", "file", multiline = Some(true)), streamRaw))
    assert(eS.getMessage.contains("streaming"))
    // a bad continuation regex fails at config LOAD, not at runtime
    val badCfg = dir.resolve("bad.json")
    java.nio.file.Files.writeString(badCfg,
      """{"sources": {"a": {"type": "file", "multiline": true,
        |               "multilineContinuation": "[unclosed"}},
        | "destinations": {"s3": {"type": "s3"}}}""".stripMargin)
    val eR = intercept[IllegalArgumentException](
      pipeline.config.PipelineConfig.load(badCfg.toString))
    assert(eR.getMessage.contains("multilineContinuation"))
  }

  test("examples/multiline_applog_config.json runs end-to-end (golden)") {
    val s = sc
    val cfgPath = "examples/multiline_applog_config.json"
    assert(new java.io.File(cfgPath).exists(), s"missing $cfgPath")
    val spec = PipelineConfig.load(cfgPath, Map.empty)
    assert(spec.sources.head.multiline.contains(true) &&
      spec.sources.head.grok.contains("%{JAVATHROWABLE}"))
    // fixture lines have unique urls, so each doc is its own record and
    // the routed per-(source,sink) counts must equal the standard golden
    // expectation — multiline joining must never change row accounting
    // on single-line-per-stream input
    val inputs = spec.sources.map(src =>
      src.id -> ConfigRunner.fixtureInput(s, src, N, 4)).toMap
    val routed = ConfigRunner.routed(spec, inputs)
    val got = Aggregate.sourceSinkCounts(routed).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected(spec).filter(_._2 > 0), s"got=$got")
  }

  test("file source with existing path + extension reads from disk, filtered") {
    val s = sc
    val dir = Files.createTempDirectory("cfg-file-src").toString
    val lines = ConfigRunner.fixtureInput(s,
      pipeline.config.SourceSpec("k8s", "file"), 40, 2)
      .collect().map(_.getString(0))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pod1.log"),
      lines.take(25).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pod2.log"),
      lines.drop(25).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/scratch.tmp"),
      "not a log line".getBytes("UTF-8"))
    val src = pipeline.config.SourceSpec("k8s", "file",
      path = Some(dir), extension = Some(".log"))
    val docs = ConfigRunner.fromSource(src,
      ConfigRunner.fixtureInput(s, src, 999, 2, readPaths = true))
    // read from disk (40 lines, not 999 fixture rows); .tmp file excluded
    assert(docs.count() == 40)
    // WITHOUT the opt-in, the same spec synthesizes the fixture (golden
    // tests must never depend on what exists at the config's host paths)
    assert(ConfigRunner.fixtureInput(s, src, 999, 2).count() == 999)
    assert(docs.filter(col("url").isNull).count() == 0)
    // decoded docs match the originals byte-for-byte
    val orig = Webtext.df(s, 40, 2).select("url", "text")
    assert(docs.select("url", "text").exceptAll(orig).isEmpty)
  }

  test("push sink batches respect batchSize, retry, and deadletter diversion") {
    val s = sc
    val docs = Webtext.df(s, 300, 4)
    val out = Files.createTempDirectory("push-test").toString
    val flaky = new Push.FlakyTransport(new Push.LocalFileTransport(s"$out/pushed"), 2)
    val del = Push.deliver(docs.select("url", "lang"), "hook", 50, flaky,
      deadletterDir = s"$out/dead")
    assert(del.delivered == 300 && del.deadlettered == 0, s"$del")
    val files = new java.io.File(s"$out/pushed/hook").listFiles()
    assert(files.nonEmpty)
    val lineCounts = files.map(f =>
      scala.io.Source.fromFile(f).getLines().size)
    assert(lineCounts.sum == 300 && lineCounts.forall(_ <= 50))

    // a transport that never succeeds → whole batches divert to deadletter
    val broken = new Push.FlakyTransport(new Push.LocalFileTransport(s"$out/p2"), Int.MaxValue)
    val del2 = Push.deliver(docs.select("url"), "hook2", 50, broken,
      deadletterDir = s"$out/dead", maxRetries = 1)
    assert(del2.delivered == 0 && del2.deadlettered == 300)
    assert(new java.io.File(s"$out/dead/hook2-deadletter").listFiles().nonEmpty)
  }

  test("ledger round-trips unit names with quotes/backslashes/control chars") {
    val dir = Files.createTempDirectory("ledger-esc").toString
    val ledger = new pipeline.io.Ledger(dir)
    val units = Seq("plain", """with"quote""", """back\slash""", "tab\there", "nl\nline")
    units.zipWithIndex.foreach { case (u, i) => ledger.commit(u, i + 1L) }
    // every committed name resolves on resume — no re-staging loop
    assert(new pipeline.io.Ledger(dir).committedUnits() == units.toSet)
    assert(new pipeline.io.Ledger(dir).committedRows() ==
      units.zipWithIndex.map { case (u, i) => u -> (i + 1L) }.toMap)
    // and every line is still valid JSON
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "ledger.jsonl"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.forEach(l => assert(om.readTree(l).hasNonNull("unit")))
  }

  test("ledger: commits interleaved with input/late/parse records resume as commits alone") {
    import pipeline.io.Ledger
    val plain = Files.createTempDirectory("ledger-plain").toString
    val mixed = Files.createTempDirectory("ledger-mixed").toString
    val commits = Seq("_staged" -> 300L, "2026-01-01" -> 120L, "batch-0" -> 7L,
      "2026-01-02" -> 180L, "2026-01-01" -> 121L) // a rerun unit: last wins
    val others = Seq(
      Ledger.Record(kind = Some("input"), batchId = Some(0L), query = Some("q"),
        name = Some("events_in"), rows = 5L),
      Ledger.Record(kind = Some("late"), batchId = Some(0L), query = Some("q"),
        name = Some("dropped_by_watermark"), rows = 0L),
      Ledger.Record(kind = Some("parse"), rows = 300L,
        counts = Map("events_in" -> 300L, "parsed_ok" -> 297L, "deadletter" -> 3L)))
    commits.zipWithIndex.foreach { case ((u, n), i) =>
      new Ledger(plain).commit(u, n)
      new Ledger(mixed).append(others(i % others.size))
      new Ledger(mixed).commit(u, n)
    }
    others.foreach(new Ledger(mixed).append(_))
    val (p, m) = (new Ledger(plain), new Ledger(mixed))
    assert(m.committedUnits() == p.committedUnits())
    assert(m.committedRows() == p.committedRows())
    assert(p.committedRows() == commits.toMap)
    assert(m.records().count(_.unit.isEmpty) == others.size)
  }

  test("mqtt source carries bus metadata columns through decode") {
    val s = sc
    val msgs = pipeline.sources.Bus.fixture(s, 100, "reveald/src", 4)
    val docs = pipeline.sources.Bus.decodeDocs(msgs, Some("reveald/src"))
    assert(docs.count() == 100)
    assert(docs.columns.toSet.intersect(Set("bus_topic", "bus_qos", "bus_retained")).size == 3)
    assert(docs.filter(col("bus_topic") === "reveald/src" && col("bus_qos") === 1).count() == 100)
    // off-topic messages are not consumed
    assert(pipeline.sources.Bus.decodeDocs(msgs, Some("other/topic")).count() == 0)
    // decoded docs are byte-identical to the originals
    val orig = Webtext.df(s, 100, 4).select("url", "text")
    assert(docs.select("url", "text").exceptAll(orig).isEmpty)
  }
}

/** XPath-subset compiler: semantics vs driver-side reference + pushdown. */
class XPathCompilerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "xpath-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  val N = 500L

  private def refCount(p: Long => Boolean): Long =
    (0L until N).count(p).toLong

  test("the README's documented query compiles and matches the reference") {
    val s = sc
    val docs = EventLog.df(s, N, 4)
    // `examples/windows/README.md:165-170`
    val q = "*[EventData[Data[@Name='LogonType']='2'] and System[(EventID=4624)]]"
    val got = docs.filter(XPathCompiler.compile(q)).count()
    val exp = refCount(i => EventLog.logonType(i) == 2 && EventLog.eventId(i) == 4624)
    assert(got == exp && exp > 0, s"got=$got exp=$exp")
  }

  test("'*' and empty compile to always-true; or/comparison forms work") {
    val s = sc
    val docs = EventLog.df(s, N, 4)
    assert(docs.filter(XPathCompiler.compile("*")).count() == N)
    assert(XPathCompiler.compileOpt(Some("*")).isEmpty)
    assert(XPathCompiler.compileOpt(None).isEmpty)
    val got = docs.filter(XPathCompiler.compile(
      "*[System[EventID=4624 or EventID=4625] or EventData[Data[@Name='LogonType']!='0']]")).count()
    val exp = refCount(i => EventLog.eventId(i) == 4624 || EventLog.eventId(i) == 4625 ||
      EventLog.logonType(i) != 0)
    assert(got == exp)
    val lt = docs.filter(XPathCompiler.compile("*[System[Level<=2]]")).count()
    assert(lt == refCount(i => EventLog.level(i) <= 2))
    intercept[IllegalArgumentException](XPathCompiler.compile("*[Bogus[x=1]]"))
    // a lone '-' literal errs through the parser (positioned message),
    // never a raw NumberFormatException
    val e = intercept[IllegalArgumentException](
      XPathCompiler.compile("*[System[EventID=-]]"))
    assert(e.getMessage.contains("bad eventlog query"), e.getMessage)
  }

  test("System[...] predicates push down to the parquet scan") {
    val s = sc
    val dir = Files.createTempDirectory("eventlog-pq").toString
    EventLog.df(s, N, 4).write.mode("overwrite").parquet(dir)
    val df = s.read.parquet(dir)
      .filter(XPathCompiler.compile("*[System[(EventID=4624)]]"))
      .select("url")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("system.EventID"),
      s"EventID predicate not pushed:\n$plan")
  }
}
