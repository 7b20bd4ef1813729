package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters at a boundary (or their change over an interval), the
  * task times of each stage in the interval (for the skew ratio), and the
  * stage sequence number at the boundary. Keys are [[Probe.Keys]]. */
final case class Counters(c: Map[String, Long], stageTaskMs: Seq[Seq[Long]], stageSeq: Long) {
  def apply(k: String): Long = c.getOrElse(k, 0L)
  /** Max ÷ median task time in the stage with the most tasks (1 if none). */
  def taskSkew: Double = if (stageTaskMs.isEmpty) 1.0 else {
    val widest = stageTaskMs.maxBy(_.size).map(_.toDouble)
    val med = Stats.median(widest)
    if (med <= 0) 1.0 else widest.max / med
  }
}

/**
 * Task-metric counters from a SparkListener, plus, when tracing, the planning
 * phases of every QueryExecution (QueryPlanningTracker) from a
 * QueryExecutionListener. Read with [[mark]] before a unit of work and
 * [[since]] after it; both drain the listener bus first, so a unit's
 * counters hold exactly its own jobs (units run one at a time).
 */
final class Probe(spark: SparkSession, phases: Boolean) extends SparkListener {
  private val counters = Probe.Keys.map(k => k -> new LongAdder).toMap
  // per stage attempt: the order it was first seen in, and its task times
  private val stages = new ConcurrentHashMap[(Int, Int), (Long, ConcurrentHashMap[Long, Long])]()
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong()
  private def add(k: String, v: Long): Unit = counters(k).add(v)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(e.taskInfo).foreach { ti =>
      stages.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => (stageSeq.getAndIncrement(), new ConcurrentHashMap[Long, Long]()))._2
        .put(ti.taskId, ti.duration)
    }
    Option(e.taskMetrics).foreach { m =>
      add("cpu_ns", m.executorCpuTime)
      add("run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  private object PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("queries", 1)
      qe.tracker.phases.foreach { case (name, p) =>
        if (counters.contains(s"${name}_ms")) add(s"${name}_ms", p.durationMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  if (phases) spark.listenerManager.register(PhaseListener)

  /** Boundary before a unit of work. */
  def mark(): Counters = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    Counters(counters.map { case (k, v) => k -> v.sum() }, Nil, stageSeq.get())
  }

  /** Counters of the work since `m`, with the task times of the stages
    * first seen after it. */
  def since(m: Counters): Counters = {
    val now = mark()
    Counters(now.c.map { case (k, v) => k -> (v - m(k)) },
      stages.values.asScala.collect {
        case (seq, ts) if seq >= m.stageSeq => ts.values.asScala.map(_.longValue).toSeq
      }.toSeq, now.stageSeq)
  }
}

object Probe {
  val Keys: Seq[String] = Seq("tasks", "jobs", "stages", "cpu_ns", "run_ms", "gc_ms",
    "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
    "output_bytes", "queries", "analysis_ms", "optimization_ms", "planning_ms")
}

/** One span: a layer's interval, the span that contains it, and the engine
  * counters of the work inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory while the workload runs, written out once at the
  * end. A span opened inside another span's body is its child. */
final class Tracer(probe: Probe) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0)
  private var nextId = 1
  val originNs: Long = System.nanoTime()

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.head
    val m = probe.mark()
    val t0 = System.nanoTime()
    open = id :: open
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      val c = probe.since(m)
      spans += Span(id, parent, name, t0, t1,
        c.c.filter(_._2 != 0) + ("skew_milli" -> (c.taskSkew * 1000).round))
    }
  }

  /** Record an interval measured elsewhere (a streaming progress report)
    * as a child of `parent`; returns its id. */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, startNs, endNs, Map.empty)
    id
  }
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: String): Unit = {
    def ms(ns: Long) = f"${(ns - originNs) / 1e6}%.3f"
    val body = spans.map { s =>
      val counts = s.counts.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${ms(s.startNs)},""" +
        s""""end_ms":${ms(s.endNs)},"counts":{$counts}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(UTF_8))
  }
}
