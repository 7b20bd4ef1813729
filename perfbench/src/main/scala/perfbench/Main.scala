package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

/**
 * One benchmark run: one workload, one JVM, `local[4]`.
 *
 *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
 *                  --work DIR --root CHECKOUT
 *
 * Set-up (timed as `setup_s`): session start, input staging (done
 * [[StageReps]] times, median taken) and the workload's warm-up units. Then units run
 * back to back (a closed loop) for `--seconds`, each checked for
 * correctness and followed by a GC so the next starts from the same heap.
 * With `--trace 1` one more unit runs under spans and listeners, and the
 * workload's layer ladder follows; spans go to DIR/spans.json.
 *
 * Standard output: `[perfbench]` report lines (every metric with its unit),
 * then one JSON result line.
 */
object Main {

  val Cores = 4
  val StageReps = 3

  /** `tiny` shrinks every workload's inputs for the benchmark's own tests. */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, root: String, tiny: Boolean = false)

  final case class Report(correct: Boolean, attempted: Long, failed: Long,
                          endToEnd: Seq[Metric], perLayer: Seq[Metric], layers: Seq[Metric],
                          facts: Seq[(String, String)], errors: Seq[String]) {
    /** The result line: end-to-end metrics untraced, per-layer traced. */
    def json(trace: Boolean): String = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj((if (trace) perLayer else endToEnd.filter(m => Main.Gated(m.name)))
        .map(m => m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
  }

  /** The end-to-end metrics every workload reports in its result line. */
  val Gated: Set[String] = Set("setup_s", "wall_s", "cpu_s")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("root"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) }
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(a: Args): Report = {
    // keep the warehouse and Spark's scratch space inside the work dir
    System.setProperty("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    System.setProperty("spark.local.dir", s"${a.work}/local")
    val t0 = System.nanoTime()
    val spark = pipeline.Sessions.local(Cores, app = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    try measure(a, spark, sessionS) finally spark.stop()
  }

  private def measure(a: Args, spark: org.apache.spark.sql.SparkSession, sessionS: Double): Report = {
    val probe = new Probe(spark, phases = a.trace)
    val dir = s"${a.work}/data"
    val w: Workload = a.workload match {
      case "fused_write" => new FusedWrite(spark, a.seed, a.tiny, dir)
      case "config_corpus" => new ConfigCorpus(spark, a.seed, a.tiny, dir)
      case "stream_backlog" => new StreamBacklog(spark, a.seed, a.tiny, dir)
      case "query_suite" => new QuerySuite(spark, a.seed, a.tiny, dir, a.root)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Fs.rm(s"$dir/out")
    var facts = Seq.empty[(String, String)]
    val stageS = (1 to StageReps).map(_ => timed { facts = w.stage() })
    val warmS = timed(w.warm())
    val setupS = sessionS + Stats.median(stageS) + warmS
    val errors = ArrayBuffer.empty[String] ++= w.prepare()
    var attempted = if (errors.nonEmpty) 1L else 0L
    var failed = attempted

    val wall, cpu, heap = ArrayBuffer.empty[Double]
    var docs = 0L
    // closed loop measuring --seconds of unit time: a unit starts only if
    // one as long as the last would still fit (checks and GC run outside it)
    var i = 1
    while (i == 1 || wall.sum + wall.last <= a.seconds) {
      val m = probe.mark()
      val t = System.nanoTime()
      val thrown = try { w.run(i); None } catch { case e: Exception => Some(e) }
      wall += secs(t)
      cpu += probe.since(m)("cpu_ns") / 1e9
      val r = thrown match {
        case None => w.check(i)
        case Some(e) => Fs.rm(w.out(i)); UnitResult(1, Seq(s"unit $i threw: $e"), 0L)
      }
      heap += heapAfterGcMb()
      System.err.println(f"[perfbench] unit $i wall ${wall.last}%.3f s cpu ${cpu.last}%.3f s")
      docs = r.docs
      attempted += r.attempted
      failed += math.min(r.attempted, r.failed.size)
      errors ++= r.failed
      i += 1
    }

    val endToEnd = Seq(Metric("setup_s", setupS, "s",
      f"session $sessionS%.2f + median of $StageReps stagings ${Stats.median(stageS)}%.2f + warm-up $warmS%.2f")) ++
      (if (docs > 0) Seq(Metric("docs_per_s", Stats.median(wall.map(docs / _).toSeq), "1/s",
        s"median of ${wall.size}")) else Nil) ++
      Stats.timing("wall_s", wall.toSeq, "s") ++
      Seq(Metric("cpu_s", Stats.median(cpu.toSeq), "s", s"median of ${cpu.size}, executor CPU")) ++
      w.extraEndToEnd ++
      Seq(Metric("fail_ratio", failed.toDouble / math.max(1L, attempted), "ratio", s"$failed of $attempted"))

    val (perLayer, layers) = if (!a.trace) (Nil, Nil) else {
      val tracer = new Tracer(probe)
      val unit = w.traced(tracer)
      val r = w.check(1000)
      attempted += r.attempted
      failed += math.min(r.attempted, r.failed.size)
      errors ++= r.failed
      val specific = w.layers(tracer, unit)
      attempted += 1
      if (w.layerChecks.nonEmpty) failed += 1
      errors ++= w.layerChecks
      tracer.write(s"${a.work}/spans.json")
      (engine(unit, Stats.median(wall.toSeq), w) :+
        Metric("jvm.peak_heap_mb", heap.max, "MB", s"max of ${heap.size} untraced units, heap after GC"),
        specific)
    }
    Report(errors.isEmpty, attempted, failed, endToEnd, perLayer, layers, facts, errors.toSeq)
  }

  /** Per-layer metrics every workload has, over the traced unit. */
  def engine(unit: Span, untracedWallS: Double, w: Workload): Seq[Metric] = {
    val c = unit.counts.withDefaultValue(0L)
    val mb = 1048576.0
    Seq(
      Metric("spark.cpu_util", c("cpu_ns") / 1e9 / (unit.seconds * Cores), "ratio", "CPU / (wall x cores)"),
      Metric("spark.gc_s", c("gc_ms") / 1000.0, "s"),
      Metric("spark.tasks", c("tasks").toDouble, "count"),
      Metric("spark.task_skew", c("skew_milli") / 1000.0, "ratio", "max / median task, widest stage"),
      Metric("spark.jobs", c("jobs").toDouble, "count"),
      Metric("spark.stages", c("stages").toDouble, "count"),
      Metric("spark.input_mb", c("input_bytes") / mb, "MB"),
      Metric("spark.spill_mb", c("spill_bytes") / mb, "MB"),
      Metric("spark.shuffle_read_mb", c("shuffle_read_bytes") / mb, "MB"),
      Metric("spark.shuffle_write_mb", c("shuffle_write_bytes") / mb, "MB"),
      Metric("plan.optimization_s", c("optimization_ms") / 1000.0, "s", "summed tracker phases"),
      Metric("plan.planning_s", c("planning_ms") / 1000.0, "s", "summed tracker phases"),
      Metric("io.files_written", w.outputFiles.toDouble, "count"),
      Metric("io.bytes_written_mb", w.outputBytes / mb, "MB"),
      Metric("trace.overhead", unit.seconds / untracedWallS, "ratio", "traced unit / untraced median"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val r = run(a)
    def show(kind: String, m: Metric): Unit =
      println(f"[perfbench] ${a.workload} $kind%-10s ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-6s ${m.note}")
    r.facts.foreach { case (k, v) => println(s"[perfbench] ${a.workload} input      $k=$v") }
    r.endToEnd.foreach(show("end2end", _))
    (r.perLayer ++ r.layers).foreach(show("layer", _))
    r.errors.foreach(e => println(s"[perfbench] ${a.workload} FAILED     $e"))
    println(r.json(a.trace))
  }
}
