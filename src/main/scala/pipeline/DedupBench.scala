package pipeline

import org.apache.spark.sql.functions._

import pipeline.fixtures.Webtext
import pipeline.ops.Dedup

/** Training-data-ops scale benchmark: dedup family over an N-row webtext
  * corpus (seeded ~2% exact dups). Prints one JSON line per op. */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val conf = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val cores = conf.getOrElse("--cores", "32").toInt
    val n = conf.getOrElse("--rows", "1000000").toLong
    val explicitInput = conf.get("--input")
    val input = explicitInput.getOrElse(s"/tmp/graft-dedup-$n")
    val spark = Sessions.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    /** Default-path fixture reuse: regenerate unless a COMPLETE corpus
      * (_SUCCESS marker — a killed generation must regenerate, not feed a
      * truncated corpus) already sits at `path`; an EXPLICIT user path is
      * reused as-is (rsync'd copies legitimately lack _SUCCESS). */
    def materialized(path: String, explicit: Boolean = false)(
        gen: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      if (!explicit && !new java.io.File(s"$path/_SUCCESS").exists())
        gen.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","rows":$n,"sec":${sec}%.2f,"docs_per_sec":${(n / sec).toLong},"result_rows":$r}""")
    }
    // --mode recall: measured MinHash-LSH recall against EXACT n-gram
    // Jaccard ground truth (J >= 0.5) on a bounded subset, across
    // (bands, rowsPerBand) settings — the empirical counterpart of the
    // 1-(1-J^r)^b S-curve.
    if (conf.get("--mode").contains("recall")) {
      val nr = conf.getOrElse("--recallRows", "2000").toLong
      val base = Webtext.df(spark, nr, 16)
        .select(xxhash64(col("url")).as("id"), col("text"))
      // the fixture corpus has only exact duplicates, so the borderline
      // Jaccard region is synthesized: a variant replaces every k-th token
      // (each replacement kills ~nGram shingles → k tunes the overlap)
      def mutated(k: Int) = base.select(
        (col("id") + lit(k.toLong)).as("id"),
        array_join(transform(split(col("text"), " "),
          (w, i) => when(pmod(i, lit(k)) === 0, concat(lit(s"mut$k"), i))
            .otherwise(w)), " ").as("text"))
      val sub = base.unionByName(mutated(4)).unionByName(mutated(8))
        .unionByName(mutated(16)).cache()
      sub.count()
      // ground truth down to J >= 0.2 so the borderline region (where the
      // 1-(1-J^r)^b S-curve actually discriminates) is populated — at the
      // usual 0.5 threshold this fixture's truth is dominated by exact
      // duplicates (J = 1), which every setting catches
      val truth = Dedup.ngramJaccard(sub, "id", "text", nGram = 3, threshold = 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val bandsOfJ = Seq(
        "j20_50" -> truth.filter { case (_, j) => j < 0.5 }.keySet,
        "j50_80" -> truth.filter { case (_, j) => j >= 0.5 && j < 0.8 }.keySet,
        "j80_100" -> truth.filter { case (_, j) => j >= 0.8 }.keySet)
      Seq((2, 4), (4, 2), (4, 4), (8, 2), (8, 4)).foreach { case (bands, rows) =>
        val t0 = System.nanoTime()
        val cand = Dedup.minhashLsh(sub, "id", "text", 3, bands, rows)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val per = bandsOfJ.map { case (name, ts) =>
          f""""$name":${if (ts.isEmpty) -1.0 else ts.intersect(cand).size.toDouble / ts.size}%.3f"""
        }.mkString(",")
        println(f"""{"bench":"minhash_recall","rows":$nr,"bands":$bands,"rowsPerBand":$rows,"truth_pairs":${truth.size},"candidate_pairs":${cand.size},$per,"sec":$sec%.2f}""")
      }
      spark.stop()
      return
    }

    // --mode skew: the hot-digest straggler drill — the round-3/4 fixes to
    // paragraphDedup and tfidfTopK claim "no task ever sees a hot key's
    // full row set"; this MEASURES it. Two corpora at the same N:
    //   uniform — the plain webtext fixture;
    //   hot     — ~30% of docs share ONE 16-word boilerplate paragraph
    //             (one md5 digest carried by 0.3·N exploded rows) and EVERY
    //             doc ends with 10 stop terms (df = N join keys for tfidf).
    // Per op we report wall sec AND the MAX single-task time: a skew-unsafe
    // plan shows up as max_task ≈ wall (one straggler doing all the work),
    // a combinable plan keeps max_task flat between uniform and hot.
    if (conf.get("--mode").contains("skew")) {
      import pipeline.ops.CorpusRefine
      val maxTask = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null)
            maxTask.getAndUpdate(m => math.max(m, e.taskInfo.duration))
      })
      def timeSkew(name: String, corpus: String)(f: => Long): Unit = {
        maxTask.set(0L)
        val t0 = System.nanoTime()
        val r = f
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener bus drains asynchronously
        println(f"""{"bench":"skew","op":"$name","corpus":"$corpus","rows":$n,"sec":$sec%.2f,"max_task_sec":${maxTask.get() / 1e3}%.2f,"result_rows":$r}""")
      }
      // 16 words = exactly two k=8 chunks, so the hot share yields two
      // ubiquitous digests; stop terms give tfidf ten df=N join keys
      val boiler = "subscribe to our newsletter for updates and follow " +
        "us on all social media channels every single day"
      val stops = "the of and to in is was for on as"
      def corpus(skewed: Boolean): org.apache.spark.sql.DataFrame = {
        val base = Webtext.df(spark, n, 64)
          .select(xxhash64(col("url")).as("id"), col("text"))
        if (!skewed) base
        else base.select(col("id"),
          concat(
            when(pmod(col("id"), lit(10L)) < 3, lit(boiler + " ")).otherwise(lit("")),
            col("text"), lit(" " + stops)).as("text"))
      }
      Seq(false, true).foreach { skewed =>
        val label = if (skewed) "hot" else "uniform"
        val c = corpus(skewed).cache()
        c.count() // materialize outside the timings
        timeSkew("paragraph_dedup", label)(
          CorpusRefine.paragraphDedup(c, "id", "text", k = 8).count())
        timeSkew("paragraph_apply", label)(
          CorpusRefine.paragraphDedupApply(c, "id", "text", k = 8).count())
        timeSkew("tfidf_uncapped", label)(
          CorpusRefine.tfidfTopK(c, "id", "text", k = 5).count())
        timeSkew("tfidf_capped", label)(
          CorpusRefine.tfidfTopK(c, "id", "text", k = 5,
            maxDocFreq = math.max(n / 5, 1L)).count())
        c.unpersist()
      }
      spark.stop()
      return
    }

    // --mode cc: connected-components scale drill — the closure is the one
    // flagship op whose per-round localCheckpoint + driver-side convergence
    // never ran past driver-bench scale. Adversarial component mix at N
    // nodes (~N edges):
    //   giant — nodes [0, 0.3N): each i attaches to a pseudo-random earlier
    //           node (random recursive tree, O(log N) diameter) — stresses
    //           the min-label fan-IN (0.3N nodes converge onto comp 0);
    //   chains — the remaining 0.7N nodes in paths of --chainLen (default
    //           10k) — stresses ROUND COUNT (pointer jumping must close a
    //           10k-diameter path in ~log2 rounds, not 10k).
    // Reports wall, rounds, and per-round max single-task time: a skew
    // broken round shows max_task ≈ its wall share; healthy rounds stay
    // flat as the frontier shrinks.
    if (conf.get("--mode").contains("cc")) {
      val giant = n * 3 / 10
      val chainLen = conf.getOrElse("--chainLen", "10000").toLong
      val input = s"/tmp/graft-cc-$n-$chainLen"
      val pairs = materialized(input) {
        val giantEdges = spark.range(1, giant).select(col("id").as("a"),
          pmod(xxhash64(col("id")), col("id")).as("b"))
        val chainEdges = spark.range(giant, n)
          .filter(pmod(col("id") - giant, lit(chainLen)) =!= 0)
          .select(col("id").as("a"), (col("id") - 1).as("b"))
        giantEdges.unionByName(chainEdges).repartition(64)
      }
      // diagnostic knobs (the 1M drill showed rounds driver-bound, CPU
      // ~80% idle): AQE per-stage coordination and driver-built broadcast
      // hash relations are the suspects — both toggleable to attribute
      conf.get("--aqe").foreach(v =>
        spark.conf.set("spark.sql.adaptive.enabled", v))
      conf.get("--broadcast").foreach(v =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          if (v == "off") "-1" else v))
      val nEdges = pairs.count() // warm + the real edge count
      val maxTask = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null)
            maxTask.getAndUpdate(m => math.max(m, e.taskInfo.duration))
      })
      val roundStats = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
      var lastT = System.nanoTime()
      val t0 = lastT
      val cc = Dedup.connectedComponents(pairs, "a", "b", maxIter = 25,
        onRound = { it =>
          val now = System.nanoTime()
          Thread.sleep(200) // listener bus drains asynchronously
          roundStats += ((it, (now - lastT) / 1e9, maxTask.get() / 1e3))
          maxTask.set(0L)
          lastT = System.nanoTime()
        })
      // correctness gate on the drill itself: exactly 1 giant component of
      // 0.3N nodes + ceil(0.7N/chainLen) chain components
      val sizes = cc.groupBy("comp").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)), max(col("c"))).head()
      val sec = (System.nanoTime() - t0) / 1e9 - 0.2 * roundStats.size
      val nChains = (n - giant + chainLen - 1) / chainLen
      require(sizes.getLong(0) == 1 + nChains && sizes.getLong(1) == giant,
        s"cc drill wrong: ${sizes.getLong(0)} comps (want ${1 + nChains}), " +
          s"giant ${sizes.getLong(1)} (want $giant)")
      val perRound = roundStats.map { case (it, w, mt) =>
        f"""{"round":$it,"sec":$w%.2f,"max_task_sec":$mt%.2f}"""
      }.mkString("[", ",", "]")
      println(f"""{"bench":"cc","nodes":$n,"edges":$nEdges,"giant":$giant,"chain_len":$chainLen,"rounds":${roundStats.size},"sec":$sec%.2f,"nodes_per_sec":${(n / sec).toLong},"per_round":$perRound}""")
      spark.stop()
      return
    }

    // --mode streamnear: streaming approximate near-dup throughput — the
    // NearDedup stateful band-owner pass + per-micro-batch finalize over a
    // landing directory, sink writes excluded (this isolates the OPERATOR;
    // what slowed the write path at small scale was forked chmod/readlink
    // processes, not the disk: BASELINE.md, "write-phase-forks" note).
    // Run at two --cores levels for the N→4N story.
    if (conf.get("--mode").contains("streamnear")) {
      val landing = s"/tmp/graft-streamnear-$n"
      val landed = materialized(landing) {
        Webtext.df(spark, n, 64)
          .select(col("url"), col("warc_ts"), col("text"), col("lang"))
          .withColumn("source", lit("bench"))
      }
      val schema = landed.schema
      landed.limit(1000).count() // warm
      // large-state knob: the default HDFSBackedStateStore keeps every
      // band key in JVM maps and re-snapshots per micro-batch; RocksDB
      // spills to native storage — measured (--stateStore rocksdb): no
      // better at this state shape, BASELINE.md
      if (conf.get("--stateStore").contains("rocksdb"))
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val keptTotal = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger",
          conf.getOrElse("--filesPerTrigger", "16").toInt).parquet(landing)
      val q = pipeline.streaming.NearDedup
        .verdicts(stream, delayMs = 365L * 86400000L)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[pipeline.streaming.NearDedup.Verdict], _: Long) =>
            keptTotal.addAndGet(pipeline.streaming.NearDedup.finalize(b.toDF).count())
            ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("snck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"bench":"stream_neardup","rows":$n,"cores":$cores,"sec":$sec%.2f,"docs_per_sec":${(n / sec).toLong},"kept":${keptTotal.get()}}""")
      spark.stop()
      return
    }

    // --mode corpus: the corpus-refinement family at scale (url column kept)
    if (conf.get("--mode").contains("corpus")) {
      import pipeline.ops.CorpusRefine
      val explicitC = conf.get("--cinput")
      val cinput = explicitC.getOrElse(s"/tmp/graft-corpus-$n")
      val cdocs = materialized(cinput, explicitC.isDefined) {
        Webtext.df(spark, n, 64).select(
          xxhash64(col("url")).as("id"), col("url"), col("text"), col("lang"))
      }
      cdocs.limit(1000).count() // warm
      // force both BPE fixture learns OUTSIDE the timed blocks: class-load
      // learning is one-time driver cost, not the per-row pricing the
      // bpe_count rows compare — on a cold JVM it would land inside
      // whichever row touched its fixture first
      pipeline.expr.Bpe.Fixture.ranks
      pipeline.expr.Bpe.FixtureByteLevel.ranks
      time("pii_redact")(cdocs
        .select(CorpusRefine.redactPii(col("text")).as("r"),
          CorpusRefine.piiCounts(col("text")).as("c"))
        .filter(length(col("r")) > 0).count())
      time("url_canonical")(cdocs
        .select(CorpusRefine.canonicalizeUrl(col("url")).as("u"))
        .filter(length(col("u")) > 0).count())
      time("url_dedup")(CorpusRefine.urlDedup(cdocs, "id", "url").count())
      time("repetition")(CorpusRefine.repetitionFeatures(cdocs, "id", "text")
        .filter(col("top_bigram_fraction") > 0.2).count())
      time("paragraph_dedup")(
        CorpusRefine.paragraphDedup(cdocs, "id", "text", k = 8).count())
      time("stratified_sample")(CorpusRefine.stratifiedSample(
        cdocs, "id", "lang", Map("en" -> 50, "de" -> 30), 10).count())
      time("bpe_count")(cdocs
        .select(pipeline.ops.TextAnalysis.bpeTokenCountReal(col("text")).as("n"))
        .filter(col("n") > 0).count())
      // byte-level twin: GPT-2 pretokenizer + ByteEnc symbols — more
      // pretokens per doc (whitespace tokenizes) and a byte-symbol encode,
      // so the memo-hit-rate story differs from char level; measured here
      time("bpe_count_byte")(cdocs
        .select(pipeline.ops.TextAnalysis
          .bpeTokenCountReal(col("text"), pipeline.expr.Bpe.FixtureByteLevel).as("n"))
        .filter(col("n") > 0).count())
      // id EMISSION costs more than counting (per-pretoken int arrays
      // materialize + ship through the projection instead of one int) —
      // the corpus→training-shards story prices at this rate, measure it
      time("bpe_encode_ids")(cdocs
        .select(pipeline.expr.Bpe.bpeEncode(col("text"),
          pipeline.expr.Bpe.FixtureByteLevel).as("ids"))
        .filter(size(col("ids")) > 0).count())
      // the full emit: encode + size() budget + distributed prefix-sum
      // pack. The corpus id is a full-range hash, which packTokenShards
      // rejects by design (arbitrary order) — re-key with monotonic ids
      // (partition-clustered, the adversarial shape equalize=true exists
      // for)
      time("emit_token_shards")(CorpusRefine.emitTokenShards(
        cdocs.withColumn("seq", monotonically_increasing_id()),
        "seq", "text", pipeline.expr.Bpe.FixtureByteLevel,
        budget = 1L << 22, buckets = 256, equalize = true)
        .filter(col("shard") >= 0).count())
      time("lang_id_native")(cdocs
        .select(pipeline.ops.TextAnalysis.langId(col("text")).as("l"))
        .filter(col("l") =!= "und").count())
      // fixed-context sequence packing (the GPT packed-batch layout):
      // encode + EOS-joined global stream + 2048-id rows — the id arrays
      // ride the prefix-sum carry and one seq-keyed reassembly shuffle
      time("pack_sequences")(CorpusRefine.packSequences(
        cdocs.withColumn("seq", monotonically_increasing_id())
          .select(col("seq"), pipeline.expr.Bpe.bpeEncode(col("text"),
            pipeline.expr.Bpe.FixtureByteLevel).as("ids")),
        "seq", "ids", seqLen = 2048, buckets = 256, equalize = true).count())
      // exact-substring family, k=8: stats = the skinny md5 inverted
      // index; apply adds the canonical-keeper rewrite path
      time("dup_span_stats")(pipeline.ops.Dedup
        .duplicateSpanStats(cdocs, "id", "text", 8)
        .filter(col("n_dup_grams") > 0).count())
      time("dup_span_apply")(pipeline.ops.Dedup
        .duplicateSpanApply(cdocs, "id", "text", 8)
        .filter(col("n_removed_tokens") > 0).count())
      // distributed BPE training: ONE data-sized pass (pretoken explode +
      // map-side-combined word count) + the driver merge loop — the
      // word-soup fixture's vocabulary is tiny, so this prices phase 1
      time("bpe_train")(pipeline.expr.Bpe
        .train(cdocs, "text", 2000, byteLevel = true).merges.size.toLong)
      spark.stop()
      return
    }

    val docs = materialized(input, explicitInput.isDefined) {
      Webtext.df(spark, n, 64).select(
        xxhash64(col("url")).as("id"), col("text"))
    }
    docs.limit(1000).count() // warm
    time("dedup_exact")(Dedup.exact(docs, "id", "text").filter(col("n_copies") > 1).count())
    time("dedup_exact_apply")(Dedup.dropExactDuplicates(docs, "id", "text").count())
    // the word-soup fixture's shingle entropy is unrealistically low, so
    // bucket sizes grow ~linearly with the corpus and UNCAPPED pair counts
    // grow quadratically (1M docs → 14.6M pairs; 10M → ~1.4B). The uncapped
    // run exists to demonstrate exactly that hazard — skip it past 2M rows
    // (on real web text buckets stay small and uncapped is the default).
    if (n <= 2000000L)
      time("minhash_lsh_pairs")(Dedup.minhashLsh(docs, "id", "text").count())
    time("minhash_lsh_capped")(
      Dedup.minhashLsh(docs, "id", "text", maxBucketSize = 100).count())
    time("simhash_buckets")(Dedup.simhashBuckets(docs, "id", "text").count())
    time("fingerprint")(docs.select(
      pipeline.expr.PortableExprs.fingerprint(col("text")).as("fp"))
      .filter(col("fp") =!= 0L).count())
    spark.stop()
  }
}
