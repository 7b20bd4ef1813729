package pipeline.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Portable.tokens

/**
 * Distributed word n-gram language model with STUPID BACKOFF scoring
 * (Brants et al. 2007, "Large Language Models in Machine Translation" —
 * the scoring rule built for exactly this setting: corpus-scale counts,
 * no held-out smoothing pass), the quality-scoring component of
 * CCNet-style corpus curation (Wenzek et al. 2020 score a web corpus
 * with a KenLM model and bucket by perplexity; here the model itself is
 * also trained on-cluster).
 *
 * Model = the (order, gram, c) count table for orders 1..n plus one
 * order-0 total-token row — a plain DataFrame, persistable as parquet
 * like any other table. Scoring joins the corpus's positional grams
 * against it once per order (left joins, highest order wins):
 *
 *   P(w | ctx) = c(ctx·w) / c(ctx)            if c(ctx·w) > 0
 *              = 0.4 · P(w | shorter ctx)      otherwise (per level drop)
 *   P(w)       = c(w) / total                  (unigram base)
 *   OOV        = 0.4^(n-1) · 1 / (total + 1)   (one more backoff step)
 *
 * DETERMINISM SPLIT: [[scoreDetail]] emits only INTEGERS — per doc, the
 * token count, per-level match counts, and per-level numerator/
 * denominator count sums — so the DuckDB oracle reproduces the join and
 * backoff logic bit-for-bit. The IEEE-log step ([[perplexity]]) is a
 * deterministic scalar map over that detail, spec-pinned against a
 * plain-Scala reference instead (cross-engine log() agreement is not a
 * contract worth betting the oracle on).
 *
 * Scale shape: training is one narrow positional-gram explode (rows =
 * tokens × n orders, strings ride once) into a map-side-combined count —
 * the inverted-index family. Scoring shuffles the corpus grams once per
 * order for the count joins; `minCount` prunes the model's long tail
 * (the standard LM cutoff), and a pruned model small enough to broadcast
 * turns every scoring join into a broadcast-hash join — pass
 * `broadcastModel = true` when it fits (CCNet's KenLM models are a few
 * GB; per-order slices often fit executor memory).
 */
object NgramLm {

  /**
   * Train: count tables for orders 1..n (+ the order-0 total), pruned at
   * `minCount` (orders ≥ 2 only — unigrams keep their full vocabulary so
   * the OOV rule stays honest). One pass, one shuffle.
   */
  def train(docs: DataFrame, textCol: String, n: Int,
            minCount: Long = 1L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // bind the token array once (the dup-span lesson: referencing the raw
    // split() from the per-order lambdas would re-split per order)
    val allGrams = element_at(
      transform(array(tokens(col(textCol))), ws =>
        when(col(textCol).isNotNull,
          flatten(transform(sequence(lit(1), lit(n)), o =>
            transform(
              // zero_based order index into per-order gram arrays, tagged
              when(size(ws) >= o, sequence(lit(1), size(ws) - o + 1))
                .otherwise(array().cast("array<int>")),
              i => struct(o.as("order"), concat_ws(" ",
                // order is a runtime Column; build the max-width slice and
                // trim: slice(ws, i, o) joined by space
                slice(ws, i, o)).as("gram"))))))
        .otherwise(array().cast("array<struct<order:int,gram:string>>"))),
      1)
    val counts = docs
      .select(explode(allGrams).as("g"))
      .groupBy(col("g.order").as("order"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("order") === 1 || col("c") >= minCount)
    val total = docs
      .select(when(col(textCol).isNotNull, size(tokens(col(textCol))))
        .otherwise(lit(0)).as("k"))
      .agg(sum(col("k")).cast("long").as("c"))
      .select(lit(0).as("order"), lit("").as("gram"), col("c"))
    counts.unionByName(total)
  }

  /**
   * Score detail — INTEGER-valued per-doc aggregates of the stupid-
   * backoff join (the oracle surface):
   *
   *   n_scored          tokens scored (== token count; null text → 0)
   *   n_l<o>            tokens whose HIGHEST matching order is o (a token
   *                     at position p can match at most order
   *                     min(n, p+1) — doc starts have short histories)
   *   n_oov             tokens matching no order (not even unigram)
   *   num_l<o> / den_l<o>  sums of the matched numerator / denominator
   *                     counts at that level — [[perplexity]] needs the
   *                     per-token ratio, so the LOG-SUM rides separately
   *                     as sum_log_q6: Σ round(ln(num/den)·10⁶) per
   *                     token, an integer (round-to-long of a product
   *                     with one ulp of slack — pinned portable by the
   *                     oracle using the same expression shape)
   *
   * The den for order o ≥ 2 is the (o−1)-context count; for o = 1 it is
   * the corpus total.
   */
  def scoreDetail(docs: DataFrame, idCol: String, textCol: String,
                  model: DataFrame, n: Int,
                  broadcastModel: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val mdl = if (broadcastModel) broadcast(model) else model
    def cnt(order: Int) = mdl.filter(col("order") === order)
      .select(col("gram"), col("c"))
    val totalDf = mdl.filter(col("order") === 0).select(col("c").as("_total"))
    // one row per token, carrying its gram at every order it can form
    val ws = tokens(col(textCol))
    val tokRows = docs
      .select(col(idCol).as("id"),
        posexplode(when(col(textCol).isNotNull, ws)
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "w")),
        when(col(textCol).isNotNull, ws).otherwise(array()).as("_ws"))
      .select(Seq(col("id"), col("pos"), col("w")) ++
        (2 to n).map(o =>
          when(col("pos") >= o - 1,
            concat_ws(" ", slice(col("_ws"), col("pos") - (o - 2), lit(o))))
            .as(s"g$o")) ++
        (2 to n).map(o =>
          when(col("pos") >= o - 1,
            concat_ws(" ", slice(col("_ws"), col("pos") - (o - 2), lit(o - 1))))
            .as(s"ctx$o")): _*)
    // join counts per order (gram + its context), highest order first
    var joined = tokRows
    for (o <- 2 to n) {
      joined = joined
        .join(cnt(o).withColumnRenamed("gram", s"g$o")
          .withColumnRenamed("c", s"c$o"), Seq(s"g$o"), "left")
        .join(cnt(o - 1).withColumnRenamed("gram", s"ctx$o")
          .withColumnRenamed("c", s"cctx$o"), Seq(s"ctx$o"), "left")
    }
    joined = joined
      .join(cnt(1).withColumnRenamed("gram", "w")
        .withColumnRenamed("c", "c1"), Seq("w"), "left")
      .crossJoin(broadcast(totalDf)) // 1-row scalar frame
    // highest matched level: order o matches iff c_o AND its context
    // count exist (a pruned context denominator means the ratio is not
    // computable at that order — back off, the standard cutoff rule)
    val level = (n to 2 by -1).foldRight(
      when(col("c1").isNotNull, lit(1)).otherwise(lit(0))) {
      case (o, lower) =>
        when(col(s"c$o").isNotNull && col(s"cctx$o").isNotNull, lit(o))
          .otherwise(lower)
    }
    val lv = joined.withColumn("_lv", level)
    val num = (2 to n).foldRight(coalesce(col("c1"), lit(1L))) {
      case (o, lower) => when(col("_lv") === o, col(s"c$o")).otherwise(lower)
    }
    val den = (2 to n).foldRight(
      when(col("_lv") === 1, col("_total")).otherwise(col("_total") + 1L)) {
      case (o, lower) => when(col("_lv") === o, col(s"cctx$o")).otherwise(lower)
    }
    // per-token integer log score (micro-nats): round(ln(q)·1e6) where
    // q = 0.4^(drops) · num/den; drops = (highest formable order) − lv,
    // +1 more for OOV. Both engines compute round(ln(x)*1e6) identically
    // on these rational inputs in practice; the pure-integer columns
    // beside it keep the oracle decisive even if a boundary ulp ever
    // disagreed (they pin the join/backoff logic exactly).
    val formable = least(lit(n), col("pos") + 1)
    // drops: formable→lv backoff steps; OOV = one past unigram, i.e.
    // (formable − 1) ladder steps + 1 = formable total
    val drops = formable - greatest(col("_lv"), lit(1)) +
      when(col("_lv") === 0, lit(1)).otherwise(lit(0))
    val logq = round(
      (log(num.cast("double")) - log(den.cast("double")) +
        drops.cast("double") * log(lit(0.4))) * lit(1000000.0))
      .cast("long")
    val perTok = lv
      .withColumn("_num", num)
      .withColumn("_den", den)
      .withColumn("_logq6", logq)
    val levelAggs = (1 to n).flatMap { o =>
      Seq(
        sum(when(col("_lv") === o, 1L).otherwise(0L)).as(s"n_l$o"),
        sum(when(col("_lv") === o, col("_num")).otherwise(0L)).as(s"num_l$o"),
        sum(when(col("_lv") === o, col("_den")).otherwise(0L)).as(s"den_l$o"))
    }
    val agg = perTok.groupBy(col("id"))
      .agg(count(lit(1)).as("n_scored"),
        (levelAggs :+
          sum(when(col("_lv") === 0, 1L).otherwise(0L)).as("n_oov") :+
          sum(col("_logq6")).as("sum_log_q6")): _*)
    // never-vanish: docs with no tokens (null/empty text) report zeros
    docs.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .na.fill(0L)
      .withColumnRenamed("id", idCol)
  }

  /** Perplexity from the integer detail: exp(−Σ logq / N), per doc —
    * the IEEE step, spec-pinned against a plain-Scala reference (not an
    * oracle surface; see the class doc). Tokenless docs → null. */
  def perplexity(detail: DataFrame): DataFrame =
    detail.withColumn("ppl",
      when(col("n_scored") > 0,
        exp(-col("sum_log_q6").cast("double") /
          (col("n_scored").cast("double") * 1000000.0))))

  /**
   * CCNet head/middle/tail bucketing: per-language perplexity terciles
   * (Wenzek et al. §4.3 — lower perplexity = more fluent = "head").
   * Thresholds from ONE `percentile_approx` pass under `groupBy(lang)`
   * plus a broadcast join of the (≤ #langs)-row cuts frame — the r6
   * shape drove one sequential `approxQuantile` JOB per language from a
   * driver loop (100+ jobs at CCNet's language count), and crashed on a
   * null language value (the empty-filter quantile returned an empty
   * array). Null-language docs now form their own quantile group and
   * bucket among themselves; the join key is null-safe (`<=>`).
   * Deterministic given the detail frame and its partitioning.
   *
   * Threshold shift vs round 6: the cuts now come from a merged
   * `percentile_approx` sketch (accuracy 10000, i.e. rank error ≤ 1/10000
   * of a language's docs) instead of per-language `approxQuantile` at
   * relative error 0.001. Docs within that rank error of a tercile cut can
   * change head/middle/tail assignment against round-6 output, and since
   * sketch merge order follows the partitioning, a repartitioned detail
   * frame can move them too. Docs away from the cuts bucket identically.
   */
  def pplBuckets(detail: DataFrame, langCol: String): DataFrame = {
    val withPpl = perplexity(detail).filter(col("ppl").isNotNull)
    val cuts = withPpl.groupBy(col(langCol))
      .agg(percentile_approx(col("ppl"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("_cuts"))
      .select(col(langCol).as("_lang"),
        col("_cuts").getItem(0).as("_lo"),
        col("_cuts").getItem(1).as("_hi"))
    withPpl.join(broadcast(cuts), col(langCol) <=> col("_lang"), "left")
      .withColumn("bucket",
        when(col("ppl") <= col("_lo"), lit("head"))
          .when(col("ppl") <= col("_hi"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("_lang", "_lo", "_hi")
  }
}
