package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A tiny-size pass over every workload (traced, so both metric sets are
  * produced), and each correctness checker fed a tampered result. */
class BenchSpec extends AnyFunSuite {

  private val engine = Set("spark.cpu_util", "spark.gc_s", "spark.tasks", "spark.task_skew",
    "spark.jobs", "spark.stages", "spark.input_mb", "spark.spill_mb", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "plan.optimization_s", "plan.planning_s",
    "io.files_written", "io.bytes_written_mb", "trace.overhead", "jvm.peak_heap_mb")
  private val common = Set("setup_s", "wall_s", "cpu_s", "fail_ratio")
  private val pipelineLayers = Set("stages.parse_s", "stages.enrich_s", "stages.route_s",
    "pipeline.exchange_s", "io.write_s")
  private val transforms = Seq("pii_redact", "dedup_exact", "dedup_near", "lang_allowlist",
    "quality_filter", "repetition_filter", "stratified_sample", "truncate", "token_count")
  private val filters = Seq("dedup_exact", "dedup_near", "lang_allowlist", "quality_filter",
    "repetition_filter", "stratified_sample")

  private val expected: Map[String, (Set[String], Set[String])] = Map(
    "fused_write" -> (common + "docs_per_s",
      pipelineLayers ++ Set("stages.fanout_ratio", "ladder.scan_s", "ladder.full_s",
        "ladder.self_sum_vs_unit")),
    "config_corpus" -> (common + "docs_per_s",
      pipelineLayers ++ Set("sources.decode_s", "ops.cc_apply_s", "ops.cc_jobs", "io.push_s",
        "io.push_batches", "io.push_deadletter") ++ transforms.map(t => s"config.${t}_s") ++
        filters.map(t => s"config.${t}_keep")),
    "stream_backlog" -> (common ++ Set("docs_per_s", "batch_p50_ms", "batch_p90_ms"),
      Set("streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
        "streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.query_planning_ms",
        "streaming.jobs_per_batch", "streaming.files_per_batch")),
    "query_suite" -> (common,
      QuerySuite.Names.map(q => s"graft.${q}_s").toSet ++
        Set("graft.analysis_s", "graft.optimization_s", "graft.planning_s")))

  expected.toSeq.sortBy(_._1).foreach { case (w, (e2e, layers)) =>
    test(s"$w: tiny traced run is correct and emits every metric with its unit") {
      val base = Files.createDirectories(java.nio.file.Paths.get("target", "bench-spec"))
      val work = Files.createTempDirectory(base, w).toAbsolutePath.toString
      val r = Main.run(Main.Args(w, seed = 7, seconds = 0.1, trace = true, tiny = true,
        work = work, root = ".."))
      assert(r.errors.isEmpty && r.correct && r.failed == 0 && r.attempted >= 1, r.errors)
      val units = (r.endToEnd ++ r.perLayer ++ r.layers).map(m => m.name -> m.unit).toMap
      assert((e2e ++ engine ++ layers).filterNot(units.contains).isEmpty)
      assert(units.values.forall(_.nonEmpty))
      assert(r.perLayer.map(_.name).toSet == engine)
      val untraced = r.json(trace = false)
      Main.Gated.foreach(g => assert(untraced.contains(s""""$g":{"value":""")))
      assert(r.json(trace = true).startsWith("""{"correct":true,"attempted":"""))
      assert(Files.size(java.nio.file.Paths.get(work, "spans.json")) > 0)
      Fs.rm(work)
    }
  }

  private val sinks = Map("s3" -> 100L, "runreveal" -> 40L, "printer" -> 5L, "deadletter" -> 1L)
  private def minusOne(m: Map[String, Long], k: String) = m.updated(k, m(k) - 1)

  test("fused check rejects one routed row removed from any view") {
    assert(Checks.fused(sinks, sinks, sinks, sinks).isEmpty)
    assert(Checks.fused(sinks, minusOne(sinks, "s3"), sinks, sinks).nonEmpty)
    assert(Checks.fused(sinks, sinks, minusOne(sinks, "runreveal"), sinks).nonEmpty)
    assert(Checks.fused(minusOne(sinks, "printer"), sinks, sinks, sinks).nonEmpty)
    assert(Checks.fused(Map.empty, Map.empty, Map.empty, Map.empty).nonEmpty)
  }

  test("config check rejects a lost push line and a missing routed row") {
    val pushed = Map("runreveal" -> 40L)
    val none = Map("runreveal" -> 0L)
    assert(Checks.config(sinks, sinks, sinks, Seq("runreveal"), pushed, none).isEmpty)
    assert(Checks.config(sinks, sinks, sinks, Seq("runreveal"), Map("runreveal" -> 39L), none).nonEmpty)
    assert(Checks.config(sinks, minusOne(sinks, "s3"), sinks, Seq("runreveal"), pushed, none).nonEmpty)
    assert(Checks.config(sinks, sinks, minusOne(sinks, "s3"), Seq("runreveal"), pushed, none).nonEmpty)
  }

  test("stream check rejects a dropped event or a disagreeing count") {
    assert(Checks.stream(1000, 1000, 1480, 1480, 1480).isEmpty)
    assert(Checks.stream(999, 1000, 1480, 1480, 1480).nonEmpty)
    assert(Checks.stream(1000, 1000, 1480, 1480, 1479).nonEmpty)
    assert(Checks.stream(1000, 1000, 1479, 1480, 1480).nonEmpty)
  }

  test("ladder check rejects a full rung that does not reproduce the product call") {
    assert(Checks.ladder(0.94, Checks.LadderBound).isEmpty)
    assert(Checks.ladder(1.2, Checks.LadderBound).isEmpty)
    assert(Checks.ladder(0.7, Checks.LadderBound).nonEmpty)
    assert(Checks.ladder(1.3, Checks.LadderBound).nonEmpty)
  }

  test("query check rejects a thrown query and a failed oracle comparison") {
    assert(Checks.queries(Nil, 0, "[ OK ] q1_agg: 3 rows\n\nALL OK").isEmpty)
    assert(Checks.queries(Seq("q1_agg"), 0, "ALL OK").nonEmpty)
    assert(Checks.queries(Nil, 1, "[FAIL] q1_agg: rows 3 vs 2\n\n1 FAILURES").nonEmpty)
  }
}
