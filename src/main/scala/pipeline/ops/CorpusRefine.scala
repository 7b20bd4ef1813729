package pipeline.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import Portable._

/**
 * Corpus-refinement operators for training-data pipelines: PII redaction,
 * URL canonicalization + URL-keyed dedup, Gopher-style repetition features,
 * corpus-wide paragraph dedup (CCNet-shaped), and deterministic stratified
 * sampling.
 *
 * Design constraints shared with the rest of pipeline.ops:
 *  - regexes live in the Java∩RE2 dialect so the DuckDB oracle executes the
 *    SAME pattern (no backreferences in replacements — `$1` vs `\1` differ
 *    between engines, so every rewrite is expressed without groups);
 *  - per-row ops are narrow Column expressions (whole-stage codegen);
 *  - the two corpus-wide ops ([[urlDedup]], [[paragraphDedup]]) shuffle
 *    exactly once, on a canonical-string / paragraph-hash key, and never
 *    carry full document text through the exchange.
 */
object CorpusRefine {

  // ---------- PII redaction ----------

  /** Java∩RE2 PII patterns. Order of redaction: email → phone → ip (an
    * email's local part can contain digit runs an ip/phone pattern could
    * nibble at; nothing in a redaction token re-matches a later pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Per-kind match counts (computed BEFORE redaction; null text → null). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"))

  /** Replace every PII match with a fixed token. Narrow, codegen'd. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  // ---------- URL canonicalization + dedup ----------

  /**
   * Canonical URL: lowercase scheme+host, strip `www.`, drop default ports
   * (`:443` for https, `:80` for http), drop the fragment, remove tracking
   * params (`utm_*`, `fbclid`), strip the path's trailing slash. Pure
   * regex/string Column arithmetic — no UDF, no backreference replacements.
   */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val noPort = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noPort, "^www\\.", "")
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    // tracking params: mid/list ("&k=v"), leading-with-follower ("?k=v&"),
    // lone ("?k=v$") — three group-free rewrites cover every position
    val r1 = regexp_replace(rest, "&(utm_[A-Za-z0-9_]*|fbclid)=[^&]*", "")
    val r2 = regexp_replace(r1, "\\?(utm_[A-Za-z0-9_]*|fbclid)=[^&]*&", "?")
    val r3 = regexp_replace(r2, "\\?(utm_[A-Za-z0-9_]*|fbclid)=[^&]*$", "")
    val r4 = regexp_replace(regexp_replace(r3, "/+\\?", "?"), "/+$", "")
    // malformed input — scheme-less ("example.com/x") OR empty-host
    // ("http:///a", where the scheme regex matches but the hostport regex
    // cannot): fall back to the RAW value rather than canonicalizing
    // everything to a constant ("://" / "http://") — which would collapse
    // ALL malformed URLs into ONE dedup group and silently drop all but
    // one of them in the left-semi apply pattern (qCorpusAssemble)
    when(scheme === "" || hostport === "", u)
      .otherwise(concat(scheme, lit("://"), host, r4))
  }

  /** URL-keyed exact dedup: canonicalize, group, keep the lowest id. ONE
    * shuffle on the canonical string (at 100 TB: the canonical URL is tiny
    * and high-cardinality — no skew guard needed, unlike text shingles). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("url_canon"))
      .groupBy("url_canon")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------- repetition features (Gopher-style) ----------

  /**
   * Within-document repetition features: distinct-word ratio and the
   * fraction of all word bigrams taken by the most frequent bigram (the
   * Gopher "top n-gram fraction" filter). FULLY NARROW — a per-document
   * feature must not shuffle: ONE tight pass per row via the native
   * [[pipeline.expr.RepetitionStatsExpr]] (HOFs run interpreted; measured
   * 67s → 2.3s at 1M docs). Documents with < 2 words have no bigrams and
   * drop, matching [[repetitionFeaturesHof]] and the oracle's `len(w) >= 2`.
   */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = pipeline.expr.PortableExprs.repetitionStats(col(textCol))
    df.select(col(idCol), st.as("_st"))
      .filter(col("_st").isNotNull)
      .select(col(idCol),
        col("_st.n_bigrams").as("n_bigrams"),
        col("_st.top_bigram_n").as("top_bigram_n"),
        (col("_st.top_bigram_n").cast("double") /
          col("_st.n_bigrams").cast("double")).as("top_bigram_fraction"),
        (col("_st.n_distinct_words").cast("double") /
          col("_st.n_words").cast("double")).as("distinct_word_ratio"))
  }

  /** HOF twin of [[repetitionFeatures]] — kept for the cross-engine parity
    * spec (the oracle mirrors THIS formulation symbol-for-symbol): the
    * top-bigram count as array_sort + max run-length fold (any total order
    * groups equal bigrams contiguously, so comparator details are
    * parity-irrelevant), zero exchanges. */
  def repetitionFeaturesHof(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // STAGED projections: each expensive array (words, sorted bigrams) is
    // aliased once and referenced from the next select — HOFs run
    // interpreted (outside codegen's subexpression elimination), so
    // inlining them into every output column would re-tokenize and re-sort
    // per column; CollapseProject keeps non-cheap aliases referenced more
    // than once in their own Project, preserving single evaluation.
    val words = tokens(col(textCol))
    def bigramsOf(w: Column): Column =
      transform(sequence(lit(1), greatest(size(w) - 1, lit(1))),
        i => concat_ws(" ", get(w, i - 1), get(w, i)))
    // (prev, current-run, best-run) left fold over the sorted bigrams;
    // "" is never a bigram (concat_ws over two tokens emits the separator)
    def runLenBest(sb: Column): Column =
      aggregate(sb,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        }).getField("best")
    df.select(col(idCol), words.as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(col(idCol), col("_w"),
        array_sort(bigramsOf(col("_w"))).as("_sb"))
      .select(col(idCol),
        size(col("_sb")).cast("long").as("n_bigrams"),
        runLenBest(col("_sb")).as("top_bigram_n"),
        size(array_distinct(col("_w"))).cast("long").as("_ndw"),
        size(col("_w")).cast("long").as("_nw"))
      .select(col(idCol), col("n_bigrams"), col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_fraction"),
        (col("_ndw").cast("double") / col("_nw").cast("double"))
          .as("distinct_word_ratio"))
  }

  // ---------- corpus-wide paragraph dedup (CCNet-shaped) ----------

  /** Fixed-size word-window "paragraphs": k-word chunks, space-joined (the
    * fixture corpus is single-line, so newline paragraphs degenerate; the
    * operator itself only needs SOME deterministic segmentation).
    * The words array is BOUND once via a single-element transform (the
    * gramHashArray pattern): referencing the raw `split()` expression from
    * the chunk lambda would re-tokenize the whole text once per chunk —
    * ⌈n/k⌉ times per doc, quadratic in doc length (the dup-spans
    * token-bind lesson, measured 17× there). */
  def wordChunks(words: Column, k: Int): Column =
    element_at(
      transform(array(words), ws => {
        val nPar = floor((size(ws) + lit(k - 1)) / lit(k)).cast("int")
        when(size(ws) >= 1,
          transform(sequence(lit(0), greatest(nPar - 1, lit(0))),
            i => array_join(slice(ws, i * k + 1, lit(k)), " ")))
          .otherwise(array().cast("array<string>"))
      }),
      1)

  /**
   * Corpus-wide paragraph dedup: a paragraph survives only at its FIRST
   * occurrence (ordered by doc id, then position) — every later copy in any
   * document drops. Returns per-document (n_paras, n_kept).
   *
   * PRECONDITION: `idCol` is unique per input row (the corpus schema
   * contract — run dedup_exact first if in doubt). The winner-marking
   * equijoin keys on (d, id, pos), which is unique only under unique ids;
   * two input rows sharing an id with identical text would BOTH match the
   * firsts row and both count in n_kept, where the round-3 row_number form
   * kept exactly one. ParagraphDedup's spec pins this precondition.
   *
   * Scale shape (skew-safe): first occurrence per digest is a
   * `groupBy(d).agg(min(struct(id, pos)))` — map-side combinable, so a
   * ubiquitous boilerplate paragraph's copies partial-reduce inside each
   * input partition and no task ever sees a hot digest's full row set (the
   * round-3 rank window did: with no rank filter, WindowGroupLimit cannot
   * prune, and every copy of a hot digest sorted in ONE task). Winners are
   * then marked by an equijoin on (d, id, pos) — a key that is UNIQUE per
   * exploded row, so the join itself has no hot key either (and is
   * AQE-skew-splittable regardless). Only digests ride the shuffles, never
   * paragraph text. The exploded frame is consumed by both the firsts
   * aggregate and the join probe under one materialization barrier; both
   * consumers use the identical (id, pos, d) column set, so ColumnPruning
   * cannot specialize the barrier exchange per consumer.
   */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    val exploded = df
      .select(col(idCol), posexplode(wordChunks(tokens(col(textCol)), k))
        .as(Seq("pos", "para")))
      // digest, not the paragraph text, rides the shuffle
      .select(col(idCol), col("pos"), md5(col("para").cast("binary")).as("d"))
      // semantically a no-op (md5 of a non-null chunk is never null): the
      // left-outer join below infers isnotnull(d) on its BUILD side only,
      // and that filter pushed under one branch's exchange would break the
      // canonical equality AQE stage reuse needs — state it on BOTH
      .filter(col("d").isNotNull)
      .repartition(col(idCol))
    val firsts = exploded.groupBy(col("d"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
      .select(col("d"), col("f").getField(idCol).as(idCol),
        col("f").getField("pos").as("pos"), lit(true).as("is_first"))
    exploded.join(firsts, Seq("d", idCol, "pos"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"))
  }

  /**
   * Paragraph-dedup APPLY: the rewritten corpus — each document keeps only
   * the paragraphs surviving [[paragraphDedup]]'s first-occurrence rule,
   * re-joined in original order. Unlike the stats form, the paragraph TEXT
   * must ride the digest shuffle here (rewriting requires moving it);
   * reassembly sorts (pos, para) structs inside the per-doc aggregate, so
   * collect order never matters. Documents whose every paragraph dropped
   * disappear (they contribute nothing to the cleaned corpus).
   */
  def paragraphDedupApply(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 3): DataFrame = {
    val exploded = df
      .select(col(idCol), posexplode(wordChunks(tokens(col(textCol)), k))
        .as(Seq("pos", "para")))
    val w = Window.partitionBy(md5(col("para").cast("binary")))
      .orderBy(col(idCol), col("pos"))
    exploded
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), " ").as("clean_text"))
  }

  /**
   * Rational TF-IDF top-k: per document, the k terms with the highest
   * `tf · N / df` score (N = participating docs, df = docs containing the
   * term). The log-free rational form is deliberate: IEEE multiply/divide
   * of exact integers is bit-deterministic across engines, while libm
   * `ln` is not guaranteed identical — and within a document the ranking
   * power is comparable. Ties break by term ascending.
   *
   * Shape (skew-safe): (1) the (id, term) tf aggregate (map-side combined;
   * the only explode) under a materialization barrier; (2) df via a
   * `groupBy(term)` COUNT aggregate over that barrier — partial counts
   * combine inside each input partition, so no task ever sees a stop-term's
   * full (doc, term) row set (the round-3 `count().over(partitionBy(term))`
   * window did exactly that: at web scale df("the") ≈ corpus size through
   * ONE reducer); (3) df joins back on `term` — an equijoin AQE can
   * skew-split, unlike a window partition; (4) the scalar N from a second
   * NARROW pass (tokenize + distinct-id count, no explode); (5) the per-doc
   * top-k window (rank-filtered → WindowGroupLimit prunes map-side).
   *
   * `maxDocFreq` (optional) additionally drops terms with df > cap from
   * RANKING entirely — semantically safe for top-k salience (score =
   * tf·N/df → ~tf for ubiquitous terms, which can never be top-k salient)
   * and it kills the hot join keys outright. Default = unlimited, exact
   * parity with the SQL oracle.
   *
   * Both consumers of `pairs` (the df aggregate and the join probe) use
   * the identical (id, term, tf) column set — `count(when(tf >= 1, id))`
   * ≡ `count(*)` here (tf ≥ 1 by construction, id non-null by the filter
   * below) and exists solely so ColumnPruning cannot specialize the
   * barrier exchange per consumer.
   *
   * Null-id documents are filtered out up front (the packTokenShards
   * posture): a per-document ranking is meaningless for an unidentified
   * document, and — because `count(col)` skips nulls — a term occurring
   * only in null-id docs would otherwise get df=0 and score tf·N/0 =
   * +Infinity, ranking garbage first.
   */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int, maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val docs = df.filter(col(idCol).isNotNull)
    val pairs = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col(idCol))
    val dfAgg = pairs.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1, col(idCol))).as("df"))
    val dfKept =
      if (maxDocFreq == Long.MaxValue) dfAgg
      else dfAgg.filter(col("df") <= maxDocFreq)
    // participating docs = DISTINCT ids in `pairs` (a doc contributes a
    // pair row iff it has ≥1 nonempty token). Counting them FROM the
    // barrier exchange makes this the third ReusedExchange consumer —
    // zero extra corpus passes (the previous form re-tokenized the whole
    // corpus in a separate narrow scan). The tf/term references are
    // semantically vacuous (tf ≥ 1 by construction, term never null) and
    // exist so ColumnPruning cannot specialize this consumer's copy of
    // the barrier exchange — the dfAgg precedent above.
    val n = pairs.agg(countDistinct(when(
      col("tf") >= 1 && col("term").isNotNull, col(idCol)))
      .as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    // df attach = the BARE term equijoin, deliberately. A salted variant
    // (probe salted by hash(id), df side exploded ×32) was built and
    // MEASURED on the hot-corpus drill (1M docs, 10 df=N stop terms per
    // doc, 916k distinct terms): bare join 17.0 s wall / 3.96 s max task —
    // no straggler — vs salted 29.3 s / 11.1 s, because replicating a
    // web-scale vocabulary (one df row per DISTINCT term) ×salt adds more
    // shuffle volume (~29M rows here) than the sub-threshold skew costs.
    // Salting is dominated in both regimes: small vocabularies auto-
    // broadcast under AQE (no term shuffle at all), and a stop term whose
    // partition outgrows AQE's skew threshold at true corpus scale is
    // split by AQE's skewed-join rule (equijoin, unlike a term-partitioned
    // window — the reason df is a join here in the first place). The
    // structural kill switch for ranking use-cases stays `maxDocFreq`.
    pairs.join(dfKept, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  /**
   * Token-budget shard packing: assign documents (in id order) to training
   * shards of ≈`budget` tokens each — greedy sequential packing, the step
   * that turns a cleaned corpus into fixed-size training files.
   *
   * A naive `sum over (order by id)` is an UNPARTITIONED window — one task
   * for the whole corpus. This is the classic distributed prefix sum
   * instead: (1) bucket rows by id range, (2) per-bucket local cumsum
   * (partitioned window), (3) per-bucket totals → tiny cumulative-offset
   * frame (≤ `buckets` rows, broadcast join), (4) global cumsum = offset +
   * local. Every stage is bucket-parallel; the only full pass over the
   * data is the one local window.
   *
   * Bucket width derives from the OBSERVED id span (one 1-row driver agg,
   * the broadcast-centroid pattern), so the offsets frame stays ≤ `buckets`
   * rows however sparse the ids are. Ids must be integral with a span
   * < 2^62 — full-range hash ids are rejected (their "order" is arbitrary;
   * re-key before packing). Bucketing uses integer `div`, never double
   * division (precision breaks past 2^53).
   *
   * `equalize = true` derives bucket boundaries from the id QUANTILES
   * (one extra column-pruned pass via approxQuantile; the driver holds ≤
   * `buckets`−1 longs) instead of uniform span slices: bucket population
   * then tracks ROW COUNT, not span coverage, so adversarially clustered
   * ids (tenant ranges, timestamp bursts, hash prefixes packed into a
   * narrow sub-span) no longer funnel most rows into one local-window
   * task. The SHARD OUTPUT IS IDENTICAL either way — any boundary set
   * that respects id order produces the same global prefix sum (ties
   * never straddle a boundary: `>=` sends equal ids to the same bucket)
   * — equalize only re-balances task-level parallelism, which is why it
   * can default off (zero extra passes) and be flipped on for skewed id
   * spaces without re-validating results.
   */
  def packTokenShards(df: DataFrame, idCol: String, tokenCol: String,
                      budget: Long, buckets: Int = 256,
                      equalize: Boolean = false,
                      carryCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"bad budget=$budget")
    exclusiveCumSum(df, idCol, tokenCol, buckets, equalize, carryCols)
      // integer div, like the bucketing: a cumulative token count past
      // 2^53 would round through a double and misassign boundary docs
      .withColumn("shard", expr(s"_cum_excl div ${budget}L"))
      .select((Seq(idCol, tokenCol) ++ carryCols).map(col) :+ col("shard"): _*)
  }

  /**
   * Distributed EXCLUSIVE prefix sum of `tokenCol` in `idCol` order — the
   * shared core of [[packTokenShards]] (shard = cum div budget) and
   * [[packSequences]] (global token positions). Returns the input columns
   * (+ `carryCols`) plus `_cum_excl`: the sum of `tokenCol` over all
   * strictly-smaller ids. All scale/contract notes in the
   * [[packTokenShards]] scaladoc (bucketed two-level window, observed-span
   * or quantile boundaries, null-id and hash-id rejection) live HERE.
   */
  private def exclusiveCumSum(df: DataFrame, idCol: String, tokenCol: String,
                              buckets: Int, equalize: Boolean,
                              carryCols: Seq[String],
                              nullGuard: Option[(String, String)] = None): DataFrame = {
    require(buckets > 0, s"bad buckets=$buckets")
    // the reuse guard below hashes every carry column, and Spark rejects
    // hash() over map values: fail here, naming the column, not in analysis
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    (idCol +: carryCols).foreach { c =>
      val t = df.schema(c).dataType
      require(!hasMap(t), s"carry column '$c' has type ${t.simpleString}: " +
        "map values cannot be carried (Spark cannot hash them); convert with " +
        "map_entries or drop the column before packing")
    }
    // nullGuard (column, message): callers that must reject null payload
    // rows (packSequences) ride the validation on THIS one-row aggregate
    // instead of a separate filter+count job — that job was a full extra
    // pass evaluating the (possibly expensive — tokenize/BPE-encode)
    // payload expression over the whole corpus
    val aggs = Seq(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi"),
      count(lit(1)).as("n_rows"), count(col(idCol)).as("n_ids")) ++
      nullGuard.map { case (c, _) =>
        count(when(col(c).isNull, lit(1))).as("n_null") }
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    if (mm.isNullAt(0) && mm.getLong(2) == 0) // empty input: shape-stable empty result
      return df.select((Seq(idCol, tokenCol) ++ carryCols).map(col) :+
        lit(0L).as("_cum_excl"): _*).limit(0)
    nullGuard.foreach { case (_, msg) => require(mm.getLong(4) == 0, msg) }
    // null ids would vanish silently: min/max ignore them, their bucket is
    // null, and the inner offsets join drops them — reject up front (same
    // config-shaped contract as the id-span check below). Rides the one
    // 1-row driver agg already here, no extra pass.
    require(mm.getLong(2) == mm.getLong(3),
      s"packTokenShards: ${mm.getLong(2) - mm.getLong(3)} row(s) with null " +
        "id — sequential packing needs a total id order; assign ids (or " +
        "filter nulls) before packing")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = BigInt(hi) - BigInt(lo) + 1
    require(span <= (BigInt(1) << 62),
      s"id span $span too large for range bucketing — ids look like " +
        "full-range hashes, whose order is arbitrary; re-key before packing")
    val bucketed = if (equalize) {
      // interior quantiles of the observed id distribution; floor-to-long
      // keeps the boundary comparison in exact integer space (a double
      // compare would fuzz order past 2^53), and monotonicity of floor
      // preserves the id order the prefix sum depends on
      val probs = (1 until buckets).map(_.toDouble / buckets).toArray
      val bounds =
        if (probs.isEmpty) Array.empty[Long]
        else df.select(col(idCol).cast("double").as("_q"))
          .stat.approxQuantile("_q", probs, 0.001)
          .map(q => math.floor(q).toLong).distinct.sorted
      if (bounds.isEmpty) df.withColumn("_b", lit(0L))
      else {
        val arr = array(bounds.map(lit(_)): _*)
        df.withColumn("_b",
          size(filter(arr, b => col(idCol).cast("long") >= b)).cast("long"))
      }
    } else {
      val width = ((span + buckets - 1) / buckets).toLong.max(1L)
      // coalesce makes _b provably NON-NULL (vacuous at runtime: null ids
      // were rejected by the eager require above). Without it the
      // offsets join's inferred isnotnull(_b) lands at the WINDOW side's
      // scan only, the two barrier-exchange copies stop being canonically
      // equal, and stage reuse silently dies (plan-verified r7).
      df.withColumn("_d", col(idCol).cast("long") - lit(lo))
        .withColumn("_b", coalesce(expr(s"_d div ${width}L"), lit(0L)))
        .drop("_d")
    }
    // ONE payload exchange shared by the local window and the offsets
    // aggregate (r7): `keyed` is explicitly repartitioned by bucket, the
    // window rides that partitioning without its own exchange, and the
    // offsets aggregate reads the SAME exchange via runtime stage reuse.
    // Without the barrier the offsets branch re-evaluated the whole
    // payload expression tree in a second scan — for emitTokenShards
    // that is a second full BPE-encode pass over the corpus.
    val keyed = bucketed.repartition(col("_b"))
    val localW = Window.partitionBy(col("_b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = keyed
      .withColumn("_cum_local", sum(col(tokenCol)).over(localW))
    // zero-valued reference to every non-aggregated column (id + carries):
    // pmod(hash(c), 1) is 0 on every row (hash never returns null) and is
    // not constant-folded, so ColumnPruning cannot specialize the offsets
    // copy of the barrier exchange — stage reuse needs both copies
    // canonically identical (the tfidf/paragraphDedup precedent).
    val reuseGuard = (idCol +: carryCols)
      .map(c => pmod(hash(col(c)), lit(1)).cast("long")).reduce(_ + _)
    // cumulative total of all PRIOR buckets: tiny frame (#buckets rows),
    // its own unpartitioned window is over bucket ids, not documents
    val offW = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = keyed.groupBy(col("_b"))
      .agg(sum(col(tokenCol) + reuseGuard).as("_btot"))
      .withColumn("_off", coalesce(sum(col("_btot")).over(offW), lit(0L)))
      .select(col("_b"), col("_off"))
    local.join(broadcast(offsets), "_b")
      // carryCols ride the same rows through bucket/window/join — payload
      // columns (e.g. token-id arrays) reach the consumer without a
      // second data-sized join back onto the packed frame
      .withColumn("_cum_excl",
        col("_off") + col("_cum_local") - col(tokenCol))
      .select((Seq(idCol, tokenCol) ++ carryCols).map(col) :+ col("_cum_excl"): _*)
  }

  /**
   * Fixed-context SEQUENCE packing — the trainer's actual input shape:
   * documents' token-id arrays are concatenated in `idCol` order (an
   * `eosId` separator appended to each document when `appendEos`) and the
   * global id stream is chunked into rows of exactly `seqLen` ids. The
   * GPT-style packed-batch layout: sequences cross document boundaries,
   * nothing is padded, and the one trailing partial chunk is dropped by
   * default (`dropRemainder = false` keeps it, shorter).
   *
   * Distributed shape — no driver materialization, no per-TOKEN rows:
   *  1. global EXCLUSIVE offsets via [[exclusiveCumSum]] (the
   *     packTokenShards two-level window; id arrays ride as a carry
   *     column, shuffled once);
   *  2. each document explodes into ≤ ⌈n/seqLen⌉+1 SLICE pieces, one per
   *     overlapping target sequence — `slice()` arithmetic on the rider
   *     array, fully narrow;
   *  3. one shuffle keyed by sequence number reassembles each row:
   *     `array_sort(collect_list(struct(pos, piece)))` then flatten.
   *     Per-group memory is exactly seqLen ids — uniform by construction,
   *     skew-free at any corpus size.
   *
   * Rows with a NULL id array are rejected like null ids (they have no
   * position in the token stream; encode or filter first). Empty arrays
   * contribute only their EOS (or nothing with `appendEos = false`).
   *
   * Output: (`seq`, `ids`, `n_ids`) — seq is the 0-based global sequence
   * number; interior sequences always have n_ids == seqLen.
   */
  def packSequences(docs: DataFrame, idCol: String, idsCol: String,
                    seqLen: Int, eosId: Long = -1L,
                    appendEos: Boolean = true,
                    dropRemainder: Boolean = true,
                    buckets: Int = 256,
                    equalize: Boolean = false): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val asLongs = col(idsCol).cast("array<long>")
    val withEos = docs.select(col(idCol),
      (if (appendEos) concat(asLongs, array(lit(eosId))) else asLongs).as("_ids"))
    val off = exclusiveCumSum(
      withEos.withColumn("_n", size(col("_ids")).cast("long")),
      idCol, "_n", buckets, equalize, carryCols = Seq("_ids"),
      nullGuard = Some(("_ids",
        s"packSequences: null $idsCol array(s) — a row without an id array " +
          "has no position in the token stream; encode or filter first")))
    // piece k covers global positions [max(off, k·L), min(off+n, (k+1)·L))
    val pieces = off.filter(col("_n") > 0) // sequence(a,b) descends if b<a
      .select(explode(transform(
        sequence(expr(s"_cum_excl div ${seqLen}L"),
          expr(s"(_cum_excl + _n - 1) div ${seqLen}L")),
        k => {
          val start = greatest(k * seqLen - col("_cum_excl"), lit(0L))
          val len = least((k + 1) * seqLen - col("_cum_excl"), col("_n")) - start
          struct(
            k.as("seq"),
            // position of this piece inside its sequence — the reassembly
            // sort key (pieces of one sequence come from distinct docs)
            (greatest(k * seqLen, col("_cum_excl")) - k * seqLen).as("pos"),
            slice(col("_ids"), start + 1, len).as("piece"))
        })).as("p"))
    val seqs = pieces
      .groupBy(col("p.seq").as("seq"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("p.pos"), col("p.piece")))),
        s => s.getField("piece"))).as("ids"))
      .withColumn("n_ids", size(col("ids")).cast("long"))
    if (dropRemainder) seqs.filter(col("n_ids") === seqLen) else seqs
  }

  /**
   * Token-ID training shards: the last link of the corpus → training-data
   * story. Encodes each document to its BPE id sequence
   * ([[pipeline.expr.Bpe.bpeEncode]] — byte-level for a verbatim GPT-2
   * vocabulary), budgets shards on the REAL id count (`size(ids)`, not the
   * whitespace estimate), and assigns shard numbers via the
   * [[packTokenShards]] distributed prefix sum with the id arrays riding
   * as a carry column. Result: `(idCol, n_tokens, ids, shard)` — one
   * narrow encode pass + the pack's single data-sized window, no extra
   * shuffle for the payload.
   */
  def emitTokenShards(docs: DataFrame, idCol: String, textCol: String,
                      table: pipeline.expr.BpeTable, budget: Long,
                      buckets: Int = 256, equalize: Boolean = false): DataFrame = {
    val enc = docs.select(col(idCol),
      pipeline.expr.Bpe.bpeEncode(col(textCol), table).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
    packTokenShards(enc, idCol, "n_tokens", budget, buckets, equalize,
      carryCols = Seq("ids"))
  }

  /** [[emitTokenShards]] + a partitioned parquet write: one directory per
    * shard (`shard=K/`), rows `(idCol, n_tokens, ids)` — the layout a
    * trainer's data loader scans shard-by-shard, and the same
    * file-sizing/`partitionBy` path every other sink in the library uses.
    * Returns the emitted frame (pre-write plan) for count reconciliation. */
  def writeTokenShards(docs: DataFrame, idCol: String, textCol: String,
                       table: pipeline.expr.BpeTable, budget: Long,
                       outDir: String, buckets: Int = 256,
                       equalize: Boolean = false): DataFrame = {
    val shards = emitTokenShards(docs, idCol, textCol, table, budget, buckets, equalize)
    shards.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    shards
  }

  /**
   * Fixed-context PACKED-SEQUENCE shards — the other trainer layout
   * ([[writeTokenShards]] keeps document boundaries; this one emits the
   * GPT-style packed batches): BPE-encode each doc
   * ([[pipeline.expr.Bpe.bpeEncode]]), concatenate in id order with
   * `eosId` separators, chunk into rows of exactly `seqLen` ids
   * ([[packSequences]]), and land them partitioned by
   * `shard = seq div seqsPerShard` (per-sequence dirs would be millions
   * of partitions; a shard is one loader unit of `seqsPerShard`
   * sequences ≈ seqsPerShard·seqLen tokens). Returns the emitted frame
   * (pre-write plan) for count reconciliation.
   */
  def writeSequenceShards(docs: DataFrame, idCol: String, textCol: String,
                          table: pipeline.expr.BpeTable, seqLen: Int,
                          eosId: Long, outDir: String,
                          seqsPerShard: Long = 8192L,
                          buckets: Int = 256,
                          equalize: Boolean = false): DataFrame = {
    require(seqsPerShard >= 1, s"seqsPerShard must be >= 1, got $seqsPerShard")
    val enc = docs.select(col(idCol),
      pipeline.expr.Bpe.bpeEncode(col(textCol), table).as("ids"))
    val seqs = packSequences(enc, idCol, "ids", seqLen, eosId,
      buckets = buckets, equalize = equalize)
      .withColumn("shard", expr(s"seq div ${seqsPerShard}L"))
    seqs.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    seqs
  }

  /**
   * Benchmark DECONTAMINATION: flag corpus documents sharing ≥ `minShared`
   * distinct word n-gram shingles with ANY benchmark document — the
   * standard train/test-overlap check a training corpus runs before
   * shipping (exact-substring family; MinHash handles the fuzzy tail).
   *
   * Shape: the benchmark side collapses to DISTINCT shingles and is
   * BROADCAST (benchmark suites are tiny next to a training corpus), so
   * the corpus side stays fully narrow — explode + broadcast-semi-join +
   * per-doc count, ONE data-sized shuffle (the per-doc aggregate, which
   * map-side combines). Returns (id, n_shared) for contaminated docs.
   */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, nGram: Int = 3,
                    minShared: Long = 1L): DataFrame = {
    // native ShinglesExpr, not the HOF twin: interpreted HOFs cost ~16ms/doc
    // here (measured 8.4s for 500 docs; native: well under 1s)
    val benchSh = bench
      .select(explode(
        pipeline.expr.PortableExprs.shingles(col(textCol), nGram)).as("sh"))
      .distinct()
    corpus
      .select(col(idCol), explode(
        pipeline.expr.PortableExprs.shingles(col(textCol), nGram)).as("sh"))
      .join(broadcast(benchSh), "sh")
      .groupBy(col(idCol))
      // shingles() is per-doc distinct already, so plain count = distinct
      // shared shingles
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Decontamination APPLY: the corpus minus contaminated docs. */
  def decontaminateApply(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, nGram: Int = 3,
                         minShared: Long = 1L): DataFrame =
    corpus.join(
      decontaminate(corpus, bench, idCol, textCol, nGram, minShared)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  // ---------- deterministic stratified sampling ----------

  /**
   * Hash-gated stratified sample: keep a row iff
   * `h32(id) % 100 < rate(stratum)` — deterministic (reruns and both
   * engines agree), uniform within a stratum, and fully narrow (no
   * shuffle, no RNG state). The standard downsampling step for
   * overrepresented languages/sources in corpus assembly.
   */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate)) { case ((k, r), acc) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(pmod(hash32(col(idCol).cast("string")), lit(100L)) < rate)
  }
}
