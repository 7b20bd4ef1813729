package pipeline.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Portable._

/**
 * Deduplication operators for large-scale text corpora.
 *
 * Scale design notes (the part that matters at 10^12 rows):
 *  - exact dedup is one hash-shuffle on a 32-byte digest, never on the text;
 *  - MinHash signatures are computed PER ROW with higher-order functions
 *    (one md5 per shingle, H permutations by arithmetic) — no explode, no
 *    per-shingle shuffle; the only exchange is the band-bucket self-join,
 *    whose keys are ~uniform by construction (hash values), so no skew;
 *  - candidate verification (exact Jaccard) runs only on LSH candidates,
 *    via the standard shingle-equijoin formulation — never a cross join.
 */
object Dedup {

  /**
   * 128-bit node identity: two independently-seeded xxhash64 halves as a
   * `struct<h1,h2>` — the id the near-dup graph (config `dedup_near` /
   * `decontaminate`, streaming NearDedup) keys nodes by. 64 bits are NOT
   * enough at the design scale: by the birthday bound a 10¹²-doc corpus
   * expects ~(10¹²)²/2⁶⁵ ≈ 27,000 silent id collisions, each one an
   * unrelated document conflated with another and wrongly dropped as its
   * "duplicate"; at 128 bits the same bound is ~10²⁴/2¹²⁹ ≈ 1.5·10⁻¹⁵ —
   * never. Struct ids flow through every consumer unchanged (joins,
   * `<`, min/least, distinct are all struct-orderable in Spark), and
   * orderings stay deterministic (lexicographic on (h1, h2)). State and
   * shuffle cost per id: 16 bytes instead of 8 — bounded, and cheap next
   * to the signatures riding beside it.
   */
  def nid128(cols: Column*): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    val es = cols.map(expression)
    struct(column(XxHash64(es, 42L)).as("h1"),
      column(XxHash64(es, 7919L)).as("h2"))
  }

  /** Exact dedup: groups by md5(text). Returns one row per distinct text:
    * (keep = min id, n_dups). Shuffles 8-byte ids + 32-byte digests only.
    * NULL-text rows are excluded — md5(null) is null, and grouping them
    * would conflate every null-text document into one "duplicate" group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol).cast("binary")).as("digest"))
      .filter(col("digest").isNotNull)
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Apply exact dedup: return the corpus with only the keeper row (min id)
    * of each duplicate-text group — the "clean the corpus" form of [[exact]].
    * One digest shuffle + a semi-join back; text bytes are never shuffled.
    * Null-text rows pass through unconditionally (no content = nothing to
    * deduplicate on; dropping them would silently delete distinct docs). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.filter(col(textCol).isNotNull).join(keepers, Seq(idCol), "left_semi")
      .unionByName(df.filter(col(textCol).isNull))
  }

  /** MinHash signature as an array column — computed narrowly per row.
    * sig[j] = min over shingles s of ((2j+1)·h32(s) + 7919j+1) mod P. */
  def minhashSig(textCol: String, nGram: Int, numHashes: Int) = {
    val shs = shingles(tokens(col(textCol)), nGram)
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(shs, s => permuted(hash32(s), j))))
  }

  /** LSH band keys for a MinHash signature column: md5 hex of each
    * rowsPerBand slice, as array<string> (position = band index). The ONE
    * derivation shared by the batch pair join below and the streaming
    * pipeline.streaming.NearDedup state key — their collision structures
    * are identical by construction, not by parallel copies. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))
        .cast("binary")))

  /**
   * MinHash + LSH near-duplicate candidate pairs.
   * Bands the signature into `bands` groups of `rowsPerBand`, buckets each
   * band by md5 of its slice, and self-joins buckets.
   * Output: (a, b) candidate id pairs, a < b, distinct.
   */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 nGram: Int = 3, bands: Int = 2, rowsPerBand: Int = 4,
                 maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val numHashes = bands * rowsPerBand
    // fast native expression (pipeline.expr); returns null when no shingles —
    // same surviving set as the HOF all-null-signature filter (parity-tested).
    // The repartition is a MATERIALIZATION BARRIER, not a distribution need:
    // signature computation (one md5 per shingle) dominates this operator,
    // and without a barrier Catalyst re-inlines the expression into the
    // filter, the band projection, and BOTH self-join sides (4 evaluations,
    // r1 PLANS.md). Below one exchange it evaluates exactly once, and the
    // self-join's two sides share it as a ReusedExchange. Shuffled rows are
    // narrow: id + numHashes longs.
    val sig = df.select(col(idCol).as("id"),
      pipeline.expr.PortableExprs.minhashSig(col(textCol), nGram, numHashes).as("sig"))
      .repartition(col("id"))
    // one row per (id, band): bucket key = md5 of the band's slice. No-shingle
    // rows (null sig) drop STRUCTURALLY: the band array is null for them and
    // posexplode generates zero rows — an isNotNull filter here would be
    // predicate-pushed below the exchange and re-evaluate the signature.
    val banded = sig.select(col("id"), posexplode(
      when(col("sig").isNotNull, bandKeys(col("sig"), bands, rowsPerBand)))
      .as(Seq("band", "bkey")))
    // scale guard: a bucket of k ids yields k(k-1)/2 pairs — low-entropy
    // corpora (or adversarial keys) can blow the self-join up quadratically.
    // Buckets above maxBucketSize are dropped (standard LSH practice; the
    // dropped count is what a caller would log). Default = unlimited, which
    // keeps exact parity with the SQL oracle.
    val eligible =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.join(
        banded.groupBy("band", "bkey").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize)
          .select("band", "bkey"),
        Seq("band", "bkey"), "left_semi")
    val l = eligible.select(col("band"), col("bkey"), col("id").as("a"))
    val r = eligible.select(col("band"), col("bkey"), col("id").as("b"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** SimHash over word tokens with `bits` bits (≤32).
    * bit_i(doc) = sign of Σ_tokens (2·((h32(t)>>i)&1) − 1).
    * Computed per row via higher-order functions — fully narrow. */
  def simhash(textCol: String, bits: Int = 16) = {
    val hs = transform(tokens(col(textCol)), t => hash32(t))
    aggregate(
      sequence(lit(0), lit(bits - 1)),
      lit(0L),
      (acc, i) => {
        val bitSum = aggregate(hs, lit(0L),
          (s, h) => s + call_function("shiftright", h, i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        acc + when(bitSum > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
      })
  }

  /** SimHash near-dup buckets: docs sharing the full simhash value.
    * (With 16 bits over skewed text this groups aggressively — callers
    * verify with exact Jaccard.) */
  def simhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
      pipeline.expr.PortableExprs.simhash(col(textCol), bits).as("simhash"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_id"))

  /**
   * SimHash HAMMING-BALL near-dup pairs: banded multi-probe — the
   * full-value bucket above only finds hamming-0 twins; this one finds
   * pairs within `maxHamming` bits. The simhash splits into `bands`
   * contiguous bit-slices; docs sharing ANY slice are candidates, and by
   * PIGEONHOLE the recall is EXACT for maxHamming ≤ bands − 1 (k
   * differing bits can dirty at most k bands, leaving a clean shared one).
   * Candidates verify with `bit_count(a XOR b) ≤ maxHamming` — exact, and
   * portable to the SQL oracle (both engines ship bit_count).
   *
   * Shape: one narrow sig pass behind a barrier (ReusedExchange feeds both
   * self-join sides), band equijoin on an 8-byte slice key, the 8-byte
   * signatures ride the pair dedup (two longs — unlike embedding vectors,
   * cheap enough to carry, saving two re-join shuffles). `maxBucketSize`
   * guards the low-entropy quadratic hazard exactly as in minhashLsh.
   */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = 16, bands: Int = 4, maxHamming: Int = 3,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bits >= 2 && bits <= 32, s"bits must be 2..32, got $bits")
    val sig = df.select(col(idCol).as("id"),
      pipeline.expr.PortableExprs.simhash(col(textCol), bits).as("sh"))
    hammingBandPairs(sig, bits, bands, maxHamming, maxBucketSize)
  }

  /**
   * Image near-duplicate pairs: 64-bit dHash (difference hash —
   * pipeline.expr.ImageDhashExpr's decode → 8×9 grayscale grid →
   * horizontal-gradient bits) through the SAME banded hamming multi-probe
   * as [[simhashNearDup]]. Recall is pigeonhole-EXACT for
   * maxHamming ≤ bands − 1, and the verify is `bit_count(xor) ≤
   * maxHamming` — exact hamming on the real fingerprints.
   *
   * Undecodable / too-small images hash to null and simply generate no
   * pairs (an image that cannot be fingerprinted has no near-duplicates;
   * this is pair-space, so nothing "vanishes" — apply-side callers union
   * them back untouched, as dedup_near does for null signatures).
   *
   * Scale shape: the decode is the expensive part and runs ONCE per row
   * behind the barrier (narrow — image bytes never shuffle; only the
   * 8-byte hash rides the band exchange), then everything downstream is
   * the skinny (id, band, bkey, sh) probe of simhashNearDup.
   */
  def imageNearDup(df: DataFrame, idCol: String, bytesCol: String,
                   bands: Int = 8, maxHamming: Int = 3,
                   maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // NO isNotNull filter here: it would be predicate-pushed below the
    // projection and re-run the decode per row (the minhashLsh hazard,
    // plan-guard-caught on this very operator); null hashes instead drop
    // STRUCTURALLY in hammingBandPairs' null-gated band explode
    val sig = df.select(col(idCol).as("id"),
      pipeline.expr.ImageExprs.dhash(col(bytesCol)).as("sh"))
    hammingBandPairs(sig, 64, bands, maxHamming, maxBucketSize)
  }

  /**
   * Shared banded hamming multi-probe over an (id, sh) long-signature
   * frame: slice the `bits`-bit signature into `bands` contiguous
   * bit-slices, bucket on each slice, self-join buckets, verify candidates
   * with exact `bit_count(xor)`. Pigeonhole: recall is EXACT for
   * maxHamming ≤ bands − 1 (k differing bits dirty ≤ k bands, leaving a
   * clean shared one). The input frame is re-partitioned on id as a
   * MATERIALIZATION BARRIER so the signature computes once and feeds both
   * self-join sides as a ReusedExchange; signatures (8 bytes) ride the
   * pair dedup, saving two re-join shuffles. `maxBucketSize` guards the
   * low-entropy quadratic hazard exactly as in [[minhashLsh]].
   */
  /** Contiguous bit-slice band keys for a ≤64-bit hamming signature:
    * slice b = `(sh >> b·(bits/bands)) & mask`, as array<long> (position =
    * band index). The ONE derivation shared by [[hammingBandPairs]] and the
    * streaming image twin (pipeline.streaming.NearDedup.imageVerdicts) —
    * their collision structures are identical by construction, the
    * [[bandKeys]] precedent. NOTE: `sh` is referenced once per band; a
    * caller whose `sh` is an expensive expression (image decode!) must
    * evaluate it behind a barrier or a bound lambda variable first. */
  def hammingBandSlices(sh: Column, bits: Int, bands: Int): Column = {
    require(bits >= 2 && bits <= 64, s"bits must be 2..64, got $bits")
    require(bands >= 1 && bits % bands == 0,
      s"bands must divide bits, got $bands over $bits")
    val bandBits = bits / bands
    // bandBits == 64 (bands=1 over a 64-bit sig) would make the mask
    // arithmetic wrap (1L<<64 == 1L); the full-width "band" is the whole
    // signature, mask −1
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    transform(sequence(lit(0), lit(bands - 1)),
      b => call_function("shiftright", sh, b * bandBits).bitwiseAND(lit(mask)))
  }

  private def hammingBandPairs(sigFrame: DataFrame, bits: Int, bands: Int,
                               maxHamming: Int, maxBucketSize: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val sig = sigFrame.repartition(col("id"))
    // null signatures (undecodable image, null text) drop STRUCTURALLY:
    // the band array is null for them and posexplode generates zero rows —
    // an isNotNull filter would be pushed below the exchange and
    // re-evaluate the (possibly expensive) signature per row
    val banded = sig.select(col("id"), col("sh"),
      posexplode(when(col("sh").isNotNull,
        hammingBandSlices(col("sh"), bits, bands))).as(Seq("band", "bkey")))
    val eligible =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.join(
        banded.groupBy("band", "bkey").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize)
          .select("band", "bkey"),
        Seq("band", "bkey"), "left_semi")
    val l = eligible.select(col("band"), col("bkey"),
      col("id").as("a"), col("sh").as("sha"))
    val r = eligible.select(col("band"), col("bkey"),
      col("id").as("b"), col("sh").as("shb"))
    l.join(r, Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b", "sha", "shb").distinct()
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))).cast("int"))
      // null-TOLERANT verify (same rows: null hamming cannot pass either
      // form). A bare `hamming <= maxHamming` is null-intolerant, so
      // constraint inference derives isnotnull(sh) from it and PUSHES the
      // re-derived `isnotnull(<sig expr>)` below the barrier to the scan —
      // re-running the possibly-expensive signature (image decode!) once
      // more per row in a filter. coalesce blocks the inference chain;
      // plan-guarded on imageNearDup (decode-once).
      .filter(coalesce(col("hamming") <= maxHamming, lit(false)))
      .select("a", "b", "hamming")
  }

  /**
   * Embedding-cosine near-duplicate pairs, LSH-gated — the PRODUCTION form
   * (the all-pairs `a.join(b, a<b)` variant is an O(N²)
   * BroadcastNestedLoopJoin, kept only as a small-scale oracle fixture in
   * graft.Queries). Here: hyperplane signatures bucket the corpus narrowly
   * (one pass computes all `tables` OR-construction buckets), candidate
   * pairs come from a bucket equijoin and are deduplicated as BARE ID PAIRS
   * (16 bytes/row — vectors never ride the distinct shuffle), then vectors
   * attach to the surviving candidates only for the exact cosine ≥ τ check.
   * Recall is the standard OR bound: 1 − (1 − p^planes)^tables.
   */
  def embedNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, planes: Int, dim: Int,
                      tables: Int = 1,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // barrier: one signature pass feeds both self-join sides (ReusedExchange)
    val sigged = df.select(col(idCol).as("id"), posexplode(array(
        (0 until tables).map(t => pipeline.expr.PortableExprs
          .hyperplaneSig(col(vecCol), planes, dim, planeOffset = t * planes)): _*))
        .as(Seq("table", "bucket")))
      .repartition(col("id"))
    // same quadratic hazard as minhashLsh's band buckets — degenerate
    // vectors (shorter than `dim`) all land in bucket 0 of EVERY table, so
    // an unguarded self-join over them is O(N²). Default unlimited keeps
    // oracle parity; production callers set the cap.
    val eligible =
      if (maxBucketSize == Int.MaxValue) sigged
      else sigged.join(
        sigged.groupBy("table", "bucket").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxBucketSize).select("table", "bucket"),
        Seq("table", "bucket"), "left_semi")
    val pairs = eligible.select(col("table"), col("bucket"), col("id").as("a"))
      .join(eligible.select(col("table"), col("bucket"), col("id").as("b")),
        Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct() // OR across tables; ids only
    val va = df.select(col(idCol).as("a"), col(vecCol).as("va"))
    val vb = df.select(col(idCol).as("b"), col(vecCol).as("vb"))
    pairs.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos", pipeline.expr.PortableExprs.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /**
   * Connected components over a candidate-pair graph by iterative min-label
   * propagation — the TRANSITIVE canonicalization of near-duplicate pairs
   * (greedy drop-the-higher-id, as in q_dedup_near_apply, is not transitive:
   * a~b, b~c leaves {a, c} both kept even though they share a cluster).
   *
   * Scale shape: each iteration is one join + one aggregate over (node,
   * comp) pairs — label size is the node set, never the closure; hot
   * components converge in O(log diameter) iterations for the
   * near-dup-cluster graphs this feeds on (tiny diameters). Each iteration
   * localCheckpoints to cut lineage (iterative Spark jobs otherwise stack
   * plans). Deterministic: component id = min node id reachable.
   *
   * Returns (node, component).
   */
  def connectedComponents(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
                          maxIter: Int = 25,
                          onRound: Int => Unit = _ => ()): DataFrame = {
    val sess = pairs.sparkSession
    // ---- phase 1 (SESSION confs, AQE untouched): the one-shot pair
    // pipeline + symmetric-closure distinct. The upstream (often LSH +
    // exact-verify) is a normal one-pass query where adaptive planning
    // helps; only the LOOP below needs it off. Symmetric closure in ONE
    // pass over `pairs`: exploding both directions from a single scan
    // halves the upstream work vs the union-of-two-selects form.
    val edges0 = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint()
    // one cheap job over the cached blocks — the input-size measurement
    // the loop's partitioning derives from (guide §2.2: partitions sized
    // from data, not a constant tuned for either local mode or a cluster)
    val edgeCount = edges0.count()

    // Scale-adaptive loop partitioning: every per-round frame (labels,
    // frontier, propagated) is O(|V|) ≤ O(|E|) rows of fixed-width ids,
    // so ceil(|E| / rowsPerPartition) partitions keeps partitions in the
    // tens-of-MB range. Clamped at the session default so a cluster-sized
    // setting is never raised by this heuristic — at the target scale the
    // clamp binds and behavior is identical to before. Below the clamp a
    // TOY graph (the common "canonicalize this near-dup batch" case) no
    // longer pays `default × stages × rounds` empty-task scheduling: at
    // sf0.1 (≈3k edges) the loop ran 14 rounds × ~5 exchanges × 32 tasks
    // of ~0 rows each — measured 30–60 s of pure scheduling floor, ~4 s
    // with partitions derived from size (OPTIMIZATION_r07.md).
    val defaultPartitions =
      sess.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val rowsPerPartition =
      sess.conf.get("spark.graft.cc.rowsPerPartition", "2000000").toLong
    val loopPartitions = math.max(1L, math.min(defaultPartitions.toLong,
      (edgeCount + rowsPerPartition - 1) / rowsPerPartition)).toInt

    // ---- phase 2 (LOOP confs, restored after): adaptive planning is
    // DISABLED for the iteration — measured at the 1M-node drill
    // (DedupBench --mode cc, BASELINE.md round 6), AQE made the closure
    // 4–5× slower: its runtime stats see the ≲25 MB label map and flip
    // the per-round shuffle joins into driver-built broadcasts (a
    // single-threaded 1M-row HashedRelation build, twice per round:
    // 305–410 s wall, CPU ~80% idle), and its per-stage coordination adds
    // a driver round-trip to every one of the ~3 jobs × rounds. Neither
    // can help here: label rows are fixed-width ids (no skew, nothing to
    // coalesce), and at the target scale the label map is never
    // broadcastable anyway — the shuffle join IS the scale-correct plan.
    // Session-scoped confs, so concurrent queries on this session during
    // the loop see them too — acceptable for a batch backfill operator.
    // That includes spark.sql.shuffle.partitions, which drops to
    // loopPartitions (down to 1 for a small graph): a query planned on this
    // session while the loop runs shuffles that narrowly too. All three
    // are restored in the finally below.
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = sess.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions", "200")
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.shuffle.partitions", loopPartitions.toString)
    try connectedComponentsLoop(edges0, loopPartitions, maxIter, onRound)
    finally {
      sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      sess.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  private def connectedComponentsLoop(edges0: DataFrame, loopPartitions: Int,
                                      maxIter: Int,
                                      onRound: Int => Unit): DataFrame = {
    // pre-partitioned by src ONCE, at the loop's partition count:
    // localCheckpoint preserves the output partitioning, so the
    // per-iteration edges⋈frontier join re-shuffles only the (shrinking)
    // frontier — never the full edge set again. At corpus scale that is
    // the difference between shuffling |E| once and shuffling it every
    // round. (The explicit numPartitions matches every loop shuffle, so
    // co-partitioning is recognised round after round.)
    val edges = edges0
      .repartition(loopPartitions, col("src"))
      .localCheckpoint()
    releaseCheckpoint(edges0)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint()
    // FRONTIER-pruned delta propagation: only labels that CHANGED last
    // round can lower a neighbor this round (an unchanged neighbor already
    // delivered its min when it last changed — base case: round 0 starts
    // with every node in the frontier). The expensive edges-side join
    // therefore shrinks with the active set; converged regions stop
    // costing anything but the narrow all-nodes projections.
    var frontier = labels
    var converged = false
    var iter = 0
    // superseded-checkpoint lifecycle: each round materializes ONE frame
    // (next); without explicit release the block manager accumulates
    // rounds × full label maps — measured at the 10M-node drill as a
    // round-~10 heap OOM (8 GiB driver). A checkpoint is dead as soon as
    // the frame that superseded it is materialized (lineage is truncated,
    // nothing re-reads it): the previous round's next dies when this
    // round's lands. Release must happen at the RDD level
    // ([[releaseCheckpoint]]): `Dataset.unpersist()` on a
    // localCheckpointed frame is a storage NO-OP (it uncaches by plan in
    // the CacheManager, where a checkpoint is never registered —
    // measured: blocks survive, getPersistentRDDs unchanged).
    var prevRound: DataFrame = labels
    while (!converged && iter < maxIter) {
      // ONE materialization per round (r7; the r6 shape checkpointed an
      // intermediate `propagated` frame too — 2 jobs + 2 full label-map
      // materializations per round): because the pointer jump reads the
      // ALREADY-CHECKPOINTED labels on both sides, jump and propagation
      // compose into a single plan with every input read from cache.
      // (1) pointer jumping: comp := comp(comp) — halves the remaining
      //     path length every round, so a diameter-D chain converges in
      //     O(log D) rounds instead of O(D). The jump reads the FULL
      //     current map (not the frontier): a change at v must reach
      //     every node whose pointer lands on v, frontier member or not.
      val jumped = labels
        .join(labels.select(col("node").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("node"), col("comp").as("old"),
          coalesce(col("comp2"), col("comp")).as("jc"))
      // (2) candidate label for dst = min over CHANGED neighbors' comps.
      //     Propagation uses the round-START labels (not the jumped ones)
      //     — both are sound lowerings of the same monotone system (every
      //     change still reaches neighbors next round via the frontier
      //     and pointer-followers via the full-map jump), and the
      //     fixpoint — component-constant at the component min — is
      //     unchanged, so the result is label-identical; only the round
      //     count can shift by ~1.
      val viaNeighbors = edges
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("comp")).as("ncomp"))
      // (3) convergence rides the SAME materialization: `chg` is a column
      //     of the checkpointed frame, so the converged check is a
      //     trivial scan of already-materialized partitions.
      val next = jumped.join(viaNeighbors, Seq("node"), "left")
        .select(col("node"), col("old"),
          least(col("jc"), coalesce(col("ncomp"), col("jc"))).as("comp"))
        .withColumn("chg", col("comp") =!= col("old"))
        .select("node", "comp", "chg")
        .localCheckpoint()
      labels = next.select("node", "comp")
      frontier = next.filter(col("chg")).select("node", "comp")
      converged = frontier.isEmpty // a job over next's blocks — BEFORE release
      releaseCheckpoint(prevRound)
      prevRound = next
      iter += 1
      // observation hook (bench/drill instrumentation): called once per
      // completed round, AFTER this round's jobs — a no-op by default
      onRound(iter)
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    // the returned labels reference only the LAST round's blocks; the edge
    // checkpoint is session-lifetime garbage otherwise
    releaseCheckpoint(edges)
    labels
  }

  /**
   * Actually release a localCheckpointed frame's storage. A released
   * frame must NEVER be read again: its lineage is truncated, so a read
   * fails loudly with "checkpoint block not found" (pinned in OpsSpec) —
   * the loop above releases only frames whose last reader has already
   * materialized. `Dataset.unpersist()` does NOT do this job: it
   * uncaches by logical plan through the CacheManager, where a
   * checkpoint is never registered, leaving every block in place.
   */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /**
   * Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle,
   * thresholded. The relational formulation: |A∩B| from a shingle
   * equijoin, |A∪B| = |A|+|B|−|A∩B|.
   *
   * Skew guard: on real web text the top shingles ("of the …") are
   * near-ubiquitous, so an unguarded shingle equijoin degenerates toward
   * O(N²) on those keys. `maxDocFreq` applies the standard DF-cap — a
   * shingle appearing in more than `maxDocFreq` docs is dropped from
   * CANDIDATE GENERATION only; surviving candidate pairs are then verified
   * over their FULL shingle sets, so every emitted jaccard score is exact
   * (identical to the uncapped value — spec-tested). The only loss is
   * recall for pairs whose every common shingle is ubiquitous — the same
   * candidates any LSH/DF-capped system trades away. Default = unlimited
   * (exact parity with the SQL oracle).
   */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   nGram: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // barrier: shingles explode ONCE below one exchange. The per-doc size
    // |A| is attached with a window over the SAME (id) partitioning — no
    // extra exchange, and no separate `sizes` aggregate branch (a separate
    // branch carries different self-join-disambiguation metadata, defeats
    // ReusedExchange, and recomputes the shingles; plan-guard-tested).
    val sh = df.select(col(idCol).as("id"),
      explode(pipeline.expr.PortableExprs.shingles(col(textCol), nGram)).as("sh"))
      .repartition(col("id"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val scored =
      if (maxDocFreq == Int.MaxValue) {
        sh.select(col("id").as("a"), col("sh"), col("n").as("na"))
          .join(sh.select(col("id").as("b"), col("sh"), col("n").as("nb")), Seq("sh"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("n_common"))
      } else {
        // 1) candidates from RARE shingles only (df ≤ maxDocFreq): the
        //    equijoin keys are bounded, so no key fans out quadratically
        val rare = sh.join(
          sh.groupBy("sh").agg(count(lit(1)).as("_df"))
            .filter(col("_df") <= maxDocFreq).select("sh"),
          Seq("sh"), "left_semi")
        val cand = rare.select(col("id").as("a"), col("sh"))
          .join(rare.select(col("id").as("b"), col("sh")), Seq("sh"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        // 2) exact verify over FULL shingle sets, restricted to candidates:
        //    attach a's shingles, then match b's — the equijoin now runs
        //    only on candidate-pair rows, never the whole corpus
        cand
          .join(sh.select(col("id").as("a"), col("sh"), col("n").as("na")), Seq("a"))
          .join(sh.select(col("id").as("b"), col("sh"), col("n").as("nb")), Seq("b", "sh"))
          .groupBy("a", "b", "na", "nb").agg(count(lit(1)).as("n_common"))
      }
    scored
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /**
   * EXACT-SUBSTRING duplication stats — the Spark-relational form of the
   * suffix-array pass in "Deduplicating Training Data Makes Language
   * Models Better" (Lee et al. 2022, arXiv:2107.06499 §4.1): a length-`k`
   * token window that occurs ≥2 times ANYWHERE in the corpus (another
   * document or the same one) is a duplicated span. Per document this
   * reports `n_grams` (token windows), `n_dup_grams` (windows whose
   * k-gram occurs ≥2 times corpus-wide) and `dup_frac` — the
   * memorization-risk signal the paper removes at 50 tokens; the
   * RefinedWeb-style quality gate is [[duplicateSpanFilter]].
   *
   * Scale shape: the inverted-index family (decontaminate, tfidf) — one
   * narrow positional k-gram-hash pass per row (h32 of the space-joined
   * window; NON-distinct, unlike [[shingles]] — every occurrence counts),
   * then two map-side-combined aggregates: per-(doc, gram) counts, and
   * corpus-wide gram occurrence counts reusing that exchange. Only 8-byte
   * gram hashes and ids shuffle; text never does. Choose k large enough
   * that natural-language grams are rare (the paper uses 50; ≥8 in
   * practice) — a stopword-scale k would make the gram-count aggregate a
   * hot-key problem, which is inherent to the statistic, not the plan
   * (every engine must count the ubiquitous gram).
   *
   * Docs with fewer than `k` tokens (or null text) have zero windows:
   * reported with n_grams = 0, dup_frac = 0 — never-vanish, and a
   * downstream filter keeps them (no spans → nothing duplicated).
   */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // positional k-gram hashes: window i (1-based) = tokens[i, i+k).
    //  - the token array is BOUND once via a single-element transform —
    //    referencing the raw split() expression from the window lambda
    //    re-evaluates the O(|text|) split once per `get` (8·windows
    //    times/doc ⇒ quadratic in doc length; measured 54 s at sf0.1 vs
    //    ~1 s bound — the decode-once lesson, string edition);
    //  - size guard FIRST: sequence(1, n-k+1) DESCENDS when n < k (the
    //    shingles() precedent) — short docs yield zero windows;
    //  - gram key = full md5 (16 bytes of entropy): a 32-bit key would
    //    collide at corpus scale (600k windows already expect ~40
    //    birthday pairs), every collision a false "duplicate"; md5 is
    //    portable (identical hex in the SQL oracle).
    val grams = df
      .select(col(idCol).as("id"), gramHashArray(col(textCol), k).as("gs"))
      .select(col("id"), explode(col("gs")).as("g"))
    // corpus-wide occurrence per gram as a PARTITIONED window DIRECTLY
    // over the occurrence rows — one linear chain, so the token-scale
    // explode runs exactly once (plan-guarded). Two rejected shapes, both
    // measured at the 1M-doc drill: per-(doc,gram) groupBy feeding an occ
    // aggregate via a second branch (exchange reuse does NOT fire across
    // branches — 2× the explode+md5, the minhashLsh barrier lesson), and
    // groupBy(id,g) + window + regroup (the intermediate aggregate barely
    // shrinks word-soup occurrences and added a full extra exchange: 102 s
    // vs the 25 s this occurrence-window shape costs in duplicateSpanApply
    // on the same data).
    val dupPerDoc = grams
      .withColumn("occ",
        count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("occ") >= 2)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_grams"))
    df.select(col(idCol).as("id"),
        coalesce(
          when(col(textCol).isNotNull,
            greatest(size(tokens(col(textCol))) - lit(k - 1), lit(0))),
          lit(0)).cast("long").as("n_grams"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Exact-substring quality gate: drop documents whose duplicated-window
    * fraction exceeds `maxFrac` (RefinedWeb-style). Windowless docs
    * (short/null text) always pass — never-vanish. */
  def duplicateSpanFilter(df: DataFrame, idCol: String, textCol: String,
                          k: Int, maxFrac: Double): DataFrame = {
    require(maxFrac >= 0.0, s"maxFrac must be >= 0, got $maxFrac")
    val bad = duplicateSpanStats(df, idCol, textCol, k)
      .filter(col("dup_frac") > maxFrac)
      .select(col(idCol))
    df.join(bad, Seq(idCol), "left_anti")
  }

  /**
   * Exact-substring REMOVAL — the actual rewrite from Lee et al. 2022
   * §4.1 (ExactSubstr dedup): of all corpus occurrences of a duplicated
   * k-token window, ONE canonical copy survives (the minimum (id, pos) —
   * deterministic, engine-independent) and every token covered by a
   * non-canonical occurrence is removed; the document keeps its
   * non-duplicated remainder. Per-row contracts:
   *
   *  - docs with nothing to remove keep their ORIGINAL text byte-exact
   *    (only rewritten docs are whitespace-normalized — the token rejoin
   *    uses single spaces, the tokens() contract);
   *  - short/null-text docs pass through untouched (never-vanish);
   *  - overlapping windows: the surviving canonical copy's tokens can
   *    still be removed when another duplicated window's non-canonical
   *    occurrence covers them — the same byte-range-overlap behavior as
   *    the paper's suffix-array cuts (documented, pinned in spec).
   *
   * Scale shape: the stats pass stays skinny (md5 keys only); the apply
   * additionally pays the REWRITE cost — the kept tokens of rewritten
   * docs ride one explode + one per-doc reassembly shuffle (unavoidable:
   * the output is new text). Everything is hash-keyed; per-group memory
   * is one document.
   *
   * Output: the input columns with `textCol` rewritten, plus
   * `n_removed_tokens`.
   */
  def duplicateSpanApply(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gs = gramHashArray(col(textCol), k)
    // (id, pos, g): positional window rows — pos is the 0-based first
    // covered token index
    val occs = df.select(col(idCol).as("id"), posexplode(gs).as(Seq("pos", "g")))
    val wG = Window.partitionBy(col("g"))
    val removable = occs
      .withColumn("occ", count(lit(1)).over(wG))
      .withColumn("keeper", min(struct(col("id"), col("pos"))).over(wG))
      .filter(col("occ") >= 2 &&
        !(col("keeper.id") === col("id") && col("keeper.pos") === col("pos")))
    // covered token indices of non-canonical occurrences, per doc
    val covered = removable
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(k - 1)))
        .as("tpos"))
      .distinct()
    // rewrite ONLY docs that lost tokens: their kept tokens reassemble in
    // position order; untouched docs never enter the token-scale path's
    // output and keep their original text via the left join below
    val toks = df
      .join(covered.select(col("id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("tpos", "tok")))
    val rebuilt = toks
      .join(covered, Seq("id", "tpos"), "left_anti")
      .groupBy(col("id"))
      // collect_SET, not list: when the id is a row-content identity
      // (the config transform keys on nid128), identical copies explode
      // identical (tpos, tok) rows — a list would double every token of
      // the rebuilt text; the set collapses them map-side for free and is
      // identical to the list under unique ids (tpos is unique per doc)
      .agg(array_join(transform(
        array_sort(collect_set(struct(col("tpos"), col("tok")))),
        s => s.getField("tok")), " ").as("_rewritten"))
    val removedCounts = covered.groupBy(col("id"))
      .agg(count(lit(1)).as("_n_removed"))
    df.join(rebuilt.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(removedCounts.withColumnRenamed("id", idCol), Seq(idCol), "left")
      // a doc with removals whose EVERY token was covered rewrites to the
      // empty string (no rebuilt row exists for it) — falling back to the
      // original text there would silently undo the removal
      .withColumn(textCol,
        when(col("_n_removed").isNotNull, coalesce(col("_rewritten"), lit("")))
          .otherwise(col(textCol)))
      .withColumn("n_removed_tokens", coalesce(col("_n_removed"), lit(0L)))
      .drop("_rewritten", "_n_removed")
  }

  /** Positional k-gram md5 keys of `textCol` as an array (element j = the
    * window starting at token j) — shared by [[duplicateSpanStats]] and
    * [[duplicateSpanApply]]. See the stats scaladoc for the binding and
    * key-width rationale. */
  private[ops] def gramHashArray(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), ws =>
        when(text.isNotNull && size(ws) >= k,
          transform(
            sequence(lit(1), size(ws) - lit(k - 1)),
            // unhex(md5): 16 BYTES on the wire instead of 32 hex chars —
            // the gram key is the dominant shuffle payload of the whole
            // family (one per token), so the binary form halves it; the
            // oracle never sees the key (it counts gram strings), only
            // the counts must match
            i => unhex(md5(concat_ws(" ",
              (0 until k).map(j => get(ws, i + lit(j) - lit(1))): _*)
              .cast("binary")))))
        .otherwise(array().cast("array<binary>"))),
      1)
}
