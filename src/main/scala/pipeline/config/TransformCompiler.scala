package pipeline.config

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import pipeline.ops.Portable

/**
 * Compiles config `transforms` entries ([[TransformSpec]]) to DataFrame
 * stages, exposing the pipeline.ops corpus operators on the config surface
 * (our extension — the reference daemon has no processor pipeline, but a
 * corpus-assembly user needs cleaning between source and destination).
 *
 * Stages run IN CONFIG ORDER on the fanned-in doc frame (url, warc_ts,
 * html, text, lang, source, …), before parse/route. Kinds:
 *
 *  - `pii_redact`            — redact emails/phones/IPv4 in `column`
 *                              (default text)
 *  - `dedup_exact`           — drop duplicate-text rows, keeping the
 *                              DETERMINISTIC first copy (min url, then
 *                              warc_ts, then source); null text passes
 *                              through uncollapsed
 *  - `lang_allowlist`        — keep rows whose lang is in `langs` ("en,de")
 *  - `repetition_filter`     — drop docs whose top-bigram fraction exceeds
 *                              `maxTopBigramFraction`; docs with < 2 words
 *                              carry no repetition signal and are KEPT
 *  - `stratified_sample`     — deterministic hash sample keyed by url (all
 *                              copies of a url share one verdict; null-url
 *                              rows key by text+timestamp); `rates`
 *                              = "en:50,de:30", `default` = percent
 *  - `quality_filter`        — drop docs with qualityScore < `minScore`
 *                              (null text carries no signal and is kept)
 *  - `dedup_near`            — MinHash+LSH → connected components →
 *                              drop non-representatives (`nGram`, `bands`,
 *                              `rowsPerBand`, `maxBucketSize`); BATCH
 *                              frames only (the closure iterates)
 *  - `decontaminate`         — drop docs sharing ≥ `minShared` distinct
 *                              `nGram`-shingles with the benchmark table
 *                              at `benchmarkPath` (`benchmarkColumn`,
 *                              default text)
 *  - `token_count`           — annotate `as` (default n_tokens) with a
 *                              token count of `column`: `mode` real
 *                              (merge-table BPE; optional `mergesPath`
 *                              GPT-2 merges.txt) | estimate | whitespace
 *  - `truncate`              — cap `column` (default text) at `maxChars`
 *
 * UNDECODED rows bypass the filtering stages: when the caller marks them
 * (a true [[BypassCol]] column — ConfigRunner sets it for rows where
 * decode produced NO fields at all), every filter keeps them so the route
 * stage can account them on the deadletter path. The bypass is a per-row
 * predicate, not a frame split, so each source is still scanned ONCE.
 *
 * Unknown kinds and malformed options fail at compile time with a
 * config-shaped error (never mid-job on an executor).
 */
object TransformCompiler {

  /** Marker column (added by the caller, dropped after the stages): true =
    * undecoded row, exempt from filtering transforms. */
  val BypassCol = "_t_bypass"

  private def bypass(df: DataFrame): Column =
    if (df.columns.contains(BypassCol)) col(BypassCol) else lit(false)

  /** `df` + `_nid`, the row id the id-keyed corpus transforms (dedup_near,
    * decontaminate, dup_span_*) join on: 128-bit `Dedup.nid128` for rows
    * that participate (not bypass-marked, non-null text), NULL otherwise —
    * a null join key matches nothing, so a non-participating row can never
    * be dropped (the never-vanish guarantee). Identical rows share one id. */
  private def withNid(df: DataFrame): DataFrame =
    df.withColumn("_nid",
      when(!bypass(df) && col("text").isNotNull,
        pipeline.ops.Dedup.nid128(col("url"), col("warc_ts").cast("string"),
          col("source"), col("text"))))

  def apply(spec: PipelineSpec): DataFrame => DataFrame =
    spec.transforms.map(one).foldLeft(identity[DataFrame] _)(_ andThen _)

  def one(t: TransformSpec): DataFrame => DataFrame = {
    def opt(key: String): Option[String] = t.options.get(key)
    def intOpt(key: String): Option[Int] = opt(key).map { s =>
      s.toIntOption.getOrElse(err(s"option '$key' must be an integer, got '$s'"))
    }
    def err(msg: String): Nothing = throw new IllegalArgumentException(
      s"transform '${t.kind}': $msg")

    t.kind match {
      case "pii_redact" =>
        val c = opt("column").getOrElse("text")
        df => df.withColumn(c, pipeline.ops.CorpusRefine.redactPii(col(c)))

      case "dedup_exact" =>
        // digest-keyed with a DETERMINISTIC keeper (min url → warc_ts →
        // source): rerunning the same config on the same input must route
        // identical rows — dropDuplicates' arbitrary survivor would make
        // downstream url-keyed sampling verdicts flap. The unwatermarked
        // window also fails ANALYSIS on a streaming frame, which is the
        // honest behavior (streaming dedup is Streaming.dedupDocs, with
        // bounded state). Null digests (null text) pass uncollapsed.
        df => {
          val w = Window.partitionBy(col("_digest")).orderBy(
            col("url").asc_nulls_last, col("warc_ts").asc_nulls_last,
            col("source").asc_nulls_last)
          df.withColumn("_digest", md5(col("text").cast("binary")))
            .withColumn("_rn", row_number().over(w))
            .filter(bypass(df) || col("_digest").isNull || col("_rn") === 1)
            .drop("_digest", "_rn")
        }

      case "lang_allowlist" =>
        val langs = opt("langs").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(err("needs 'langs' (comma-separated)"))
        if (langs.isEmpty) err("empty 'langs'")
        df => df.filter(bypass(df) || col("lang").isin(langs: _*))

      case "repetition_filter" =>
        val maxFrac = opt("maxTopBigramFraction")
          .map(s => s.toDoubleOption.getOrElse(
            err(s"bad maxTopBigramFraction '$s'")))
          .getOrElse(err("needs 'maxTopBigramFraction'"))
        df => {
          val st = pipeline.expr.PortableExprs.repetitionStats(col("text"))
          // null stats = < 2 words = no repetition signal → keep
          df.withColumn("_rep", st)
            .filter(bypass(df) || col("_rep").isNull ||
              col("_rep.top_bigram_n").cast("double") /
                col("_rep.n_bigrams").cast("double") <= maxFrac)
            .drop("_rep")
        }

      case "stratified_sample" =>
        val rates = opt("rates").map(_.split(",").toSeq.map { kv =>
          kv.split(":") match {
            case Array(k, v) => k.trim -> v.trim.toIntOption.getOrElse(
              err(s"bad rate '$kv'"))
            case _ => err(s"bad rate '$kv' (want lang:percent)")
          }
        }.toMap).getOrElse(Map.empty[String, Int])
        val default = intOpt("default").getOrElse(
          if (rates.isEmpty) err("needs 'rates' and/or 'default'") else 100)
        val strata = opt("strata").getOrElse("lang")
        df => {
          // keyed by url — consistent per document (all copies of a url
          // share one verdict, stable under redelivery); a null-url row
          // keys by its content+timestamp so the null-url CLASS still
          // converges to the configured rate instead of sharing one
          // all-or-nothing constant-key verdict
          val key = coalesce(col("url"),
            concat_ws("\u0000", col("text"), col("warc_ts").cast("string")))
          val rate = rates.foldRight(lit(default)) { case ((k, r), acc) =>
            when(col(strata) === k, lit(r)).otherwise(acc)
          }
          df.filter(bypass(df) ||
            pmod(Portable.hash32(key.cast("string")), lit(100L)) < rate)
        }

      case "truncate" =>
        val maxChars = intOpt("maxChars").getOrElse(err("needs 'maxChars'"))
        if (maxChars <= 0) err(s"maxChars must be positive, got $maxChars")
        val c = opt("column").getOrElse("text")
        df => df.withColumn(c, substring(col(c), 1, maxChars))

      case "token_count" =>
        // annotate rows with a token count (an annotation, not a filter —
        // bypass rows just get a null/harmless count): `mode` = real
        // (merge-table BPE, default) | estimate (pretokenizer regex) |
        // whitespace; `mergesPath` loads a GPT-2-format merges.txt for
        // mode=real (the production-vocabulary path; the embedded fixture
        // table is the default), and `pretokenizer` = char (default) |
        // byte selects GPT-2 byte-level symbols — byte + a verbatim
        // upstream merges.txt prices text exactly as the training-side
        // tokenizer (pipeline.expr.Bpe). The path resolves on the DRIVER
        // at config compile time — fail here, config-shaped, not mid-job.
        val c = opt("column").getOrElse("text")
        val outCol = opt("as").getOrElse("n_tokens")
        val mode = opt("mode").getOrElse("real")
        val mergesPath = opt("mergesPath")
        if (mergesPath.isDefined && mode != "real")
          err(s"'mergesPath' only applies to mode=real, got mode=$mode")
        val pretok = opt("pretokenizer").getOrElse("char")
        if (pretok != "char" && pretok != "byte")
          err(s"pretokenizer must be 'char' or 'byte', got '$pretok'")
        if (opt("pretokenizer").isDefined && mode != "real")
          err(s"'pretokenizer' only applies to mode=real, got mode=$mode")
        val counter: Column => Column = mode match {
          case "real" =>
            val byteLevel = pretok == "byte"
            val table = mergesPath.map { p =>
              try pipeline.expr.Bpe.loadCached(p, byteLevel)
              catch { case e: Exception => err(s"bad mergesPath '$p': ${e.getMessage}") }
            }.getOrElse(
              if (byteLevel) pipeline.expr.Bpe.FixtureByteLevel
              else pipeline.expr.Bpe.Fixture)
            pipeline.ops.TextAnalysis.bpeTokenCountReal(_, table)
          case "estimate" => pipeline.ops.TextAnalysis.bpeTokenCount(_)
          case "whitespace" => pipeline.ops.TextAnalysis.tokenCount(_)
          case other => err(s"unknown mode '$other' (real|estimate|whitespace)")
        }
        df => df.withColumn(outCol, counter(col(c)))

      case "quality_filter" =>
        // drop docs below a composite quality score (stopword presence,
        // sane token length, low punctuation — TextAnalysis.qualityScore,
        // [0,1]); null text carries no quality signal and is KEPT — gated
        // on text.isNull EXPLICITLY, because the score's when/otherwise
        // ratio defaults make a null-text doc score the constant 0.5
        // rather than null (the repetition_filter rule: a no-signal row
        // must never be eaten by a quality gate)
        val minScore = opt("minScore")
          .map(v => v.toDoubleOption.getOrElse(err(s"bad minScore '$v'")))
          .getOrElse(err("needs 'minScore'"))
        if (minScore < 0.0 || minScore > 1.0)
          err(s"minScore must be in [0,1], got $minScore")
        df => {
          val q = pipeline.ops.TextAnalysis.qualityScore(col("text"))
          df.withColumn("_q", q)
            .filter(bypass(df) || col("text").isNull || col("_q") >= minScore)
            .drop("_q")
        }

      case "dedup_near" =>
        // the flagship LLM-pipeline chain on the config surface:
        // MinHash+LSH candidate pairs → connected components (transitive
        // closure) → drop every non-representative member. Keeper = the
        // component's minimum hash id — deterministic across reruns (the
        // dedup_exact contract), hash-canonical rather than min-url. Node
        // ids are 128-bit (Dedup.nid128, struct of two seeded xxhash64
        // halves): at the 10¹²-doc target a 64-bit id expects ~N²/2⁶⁵ ≈
        // 27k birthday collisions — each a silently wrongly-dropped doc —
        // where 128 bits expect ~10⁻¹⁵ (the r5 VERDICT item).
        //
        // NOTE exact duplicates: node id = a hash of the full row, so
        // FULLY identical rows collapse to ONE graph node and are kept or
        // dropped together — dedup_near alone does not thin exact copies.
        // Chain `dedup_exact` BEFORE `dedup_near` (the order the flagship
        // corpus_assembly config uses); ConfigRunnerSpec pins the
        // identical-rows-survive-together behavior.
        val nGram = intOpt("nGram").getOrElse(3)
        val bands = intOpt("bands").getOrElse(4)
        val rows = intOpt("rowsPerBand").getOrElse(4)
        val maxBucket = intOpt("maxBucketSize").getOrElse(10000)
        if (nGram <= 0 || bands <= 0 || rows <= 0 || maxBucket <= 0)
          err(s"nGram/bands/rowsPerBand/maxBucketSize must be positive, " +
            s"got $nGram/$bands/$rows/$maxBucket")
        df => {
          // rows that cannot carry a signature (bypass-marked undecoded
          // rows, null text, < nGram words → null sig handled inside
          // minhashLsh) never enter the pair graph; their _nid is NULL so
          // the left-anti can never alias them onto a dropped id (null
          // join keys match nothing → kept) — the never-vanish guarantee
          val withId = withNid(df)
          val sigSrc = withId.filter(col("_nid").isNotNull)
          // NOTE eager: connectedComponents iterates with driver-side
          // convergence checks, so this transform RUNS Spark jobs at
          // apply time — batch frames only (a streaming frame fails
          // analysis inside the iteration, the dedup_exact behavior).
          // The STREAMING twin is pipeline.streaming.NearDedup (single-
          // pass band-owner state + per-micro-batch finalize, documented
          // approximation of the transitive closure) — it cannot live on
          // this surface because its finalize step must run inside
          // foreachBatch, after the stateful pass, not mid-chain.
          val pairs = pipeline.ops.Dedup.minhashLsh(
            sigSrc, "_nid", "text", nGram, bands, rows, maxBucket)
          val comps = pipeline.ops.Dedup.connectedComponents(pairs)
          val drops = comps.filter(col("node") =!= col("comp"))
            .select(col("node").as("_nid"))
          withId.join(drops, Seq("_nid"), "left_anti").drop("_nid")
        }

      case "decontaminate" =>
        // benchmark decontamination on the config surface: drop docs
        // sharing >= minShared distinct nGram-shingles with ANY document
        // in the `benchmarkPath` parquet (column `benchmarkColumn`,
        // default text) — the held-out-eval hygiene step of corpus
        // assembly. The benchmark side collapses to distinct shingles and
        // broadcasts (CorpusRefine.decontaminate); the corpus never
        // shuffles for the join. Bypass/null-text rows carry a null _nid
        // and can never be dropped (the dedup_near never-vanish pattern);
        // identical rows share one _nid and drop together.
        val benchPath = opt("benchmarkPath").getOrElse(err("needs 'benchmarkPath'"))
        if (!benchPath.contains("://") && !new java.io.File(benchPath).exists())
          err(s"benchmarkPath '$benchPath' does not exist")
        val benchCol = opt("benchmarkColumn").getOrElse("text")
        val dNGram = intOpt("nGram").getOrElse(3)
        val minShared = opt("minShared")
          .map(v => v.toLongOption.getOrElse(err(s"bad minShared '$v'")))
          .getOrElse(1L)
        if (dNGram <= 0 || minShared <= 0)
          err(s"nGram/minShared must be positive, got $dNGram/$minShared")
        df => {
          val bench = df.sparkSession.read.parquet(benchPath)
          if (!bench.columns.contains(benchCol))
            err(s"benchmark table has no column '$benchCol' " +
              s"(columns: ${bench.columns.mkString(", ")})")
          // 128-bit id for the same reason as dedup_near: a 64-bit
          // conflation here would drop an unrelated doc as "contaminated"
          val withId = withNid(df)
          val contaminated = pipeline.ops.CorpusRefine.decontaminate(
            withId.filter(col("_nid").isNotNull),
            bench.select(col(benchCol).as("text")),
            "_nid", "text", dNGram, minShared)
            .select(col("_nid"))
          withId.join(contaminated, Seq("_nid"), "left_anti").drop("_nid")
        }

      case "dup_span_filter" =>
        // exact-substring quality gate (Lee et al. family, the RefinedWeb
        // shape): drop docs whose fraction of k-token windows occurring
        // ≥2 times corpus-wide exceeds maxFrac. Bypass/null-text rows
        // carry a null _nid and can never be dropped; short docs have
        // zero windows and always pass (Dedup.duplicateSpanStats).
        val fK = intOpt("k").getOrElse(8)
        val maxFrac = opt("maxFrac")
          .map(v => v.toDoubleOption.getOrElse(err(s"bad maxFrac '$v'")))
          .getOrElse(err("needs 'maxFrac'"))
        if (fK <= 0) err(s"k must be positive, got $fK")
        if (maxFrac < 0.0 || maxFrac > 1.0)
          err(s"maxFrac must be in [0,1], got $maxFrac")
        df => {
          val withId = withNid(df)
          val bad = pipeline.ops.Dedup.duplicateSpanStats(
            withId.filter(col("_nid").isNotNull), "_nid", "text", fK)
            .filter(col("dup_frac") > maxFrac)
            .select(col("_nid"))
          withId.join(bad, Seq("_nid"), "left_anti").drop("_nid")
        }

      case "dup_span_apply" =>
        // exact-substring REMOVAL (Dedup.duplicateSpanApply): one
        // canonical occurrence of each duplicated k-token window survives
        // corpus-wide; other occurrences' tokens are cut and the doc
        // keeps its remainder (whitespace-normalized only when rewritten;
        // a fully-covered doc becomes empty text, never vanishes).
        // Identical rows share one _nid: they rewrite identically and
        // never cut against EACH OTHER (their occurrences share the
        // keeper key) — chain dedup_exact first to thin exact copies,
        // the dedup_near note.
        val aK = intOpt("k").getOrElse(8)
        if (aK <= 0) err(s"k must be positive, got $aK")
        df => {
          val withId = withNid(df)
          val rewritten = pipeline.ops.Dedup.duplicateSpanApply(
            withId.filter(col("_nid").isNotNull), "_nid", "text", aK)
            .drop("n_removed_tokens").drop("_nid")
          rewritten.unionByName(
            withId.filter(col("_nid").isNull).drop("_nid"))
        }

      case other =>
        err(s"unknown transform kind '$other' (known: decontaminate, " +
          "dedup_exact, dedup_near, dup_span_apply, dup_span_filter, " +
          "lang_allowlist, pii_redact, " +
          "quality_filter, repetition_filter, stratified_sample, " +
          "token_count, truncate)")
    }
  }
}
