package pipeline

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import pipeline.config.{ConfigRunner, PipelineConfig}
import pipeline.fixtures.Webtext
import pipeline.io.Push

/**
 * The daemon repeats the same work batch after batch, so once a unit has
 * run, repeating it must not compile generated code again. Every Janino
 * compile adds one sample to `CodegenMetrics.METRIC_COMPILATION_TIME`, so
 * the sample-count delta over a unit is the number of classes it compiled.
 * Both cases recompile with Spark's defaults: a corpus config run's working
 * set exceeds the default 100-entry codegen cache, and artifact isolation
 * gives each restarted stream a new class loader, hence new cache keys.
 */
class CodegenReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "codegen-reuse-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The metric is live: a never-seen literal forces one new class. */
  private def assertCounting(): Unit = {
    val s = sc
    val n = compiles(s.range(4).selectExpr(s"id * ${System.nanoTime()}L").collect())
    assert(n > 0, "a query with a fresh literal must compile")
  }

  test("a repeated corpus config run compiles no classes") {
    val s = sc
    assertCounting()
    val spec = PipelineConfig.load("examples/corpus_assembly_config.json", Map.empty)
    val src = spec.sources.head
    val input = ConfigRunner.fixtureInput(s, src, 400L, 4)
    val dir = Files.createTempDirectory("codegen-config").toString
    def unit(i: Int): Unit = {
      val routed = ConfigRunner.routed(spec, Map(src.id -> input))
      val counts = ConfigRunner.deliver(spec, routed, s"$dir/u$i",
        new Push.LocalFileTransport(s"$dir/u$i/pushed"))
      assert(counts.values.sum > 0)
    }
    unit(1)
    val again = compiles(unit(2))
    assert(again == 0, s"second config run compiled $again classes")
  }

  test("a restarted AvailableNow stream compiles no classes") {
    val s = sc
    assertCounting()
    val dir = Files.createTempDirectory("codegen-stream").toString
    Webtext.df(s, 600L, 3).write.parquet(s"$dir/landing")
    def unit(i: Int): Unit = {
      val q = Streaming.startDocs(
        Streaming.readWebtext(s, s"$dir/landing", maxFilesPerTrigger = 1), s"$dir/out$i")
      q.awaitTermination()
      assert(q.exception.isEmpty && q.recentProgress.exists(_.numInputRows > 0))
    }
    unit(1)
    // fresh output dir, so a fresh checkpoint: the restart re-drains the backlog
    val again = compiles(unit(2))
    assert(again == 0, s"restarted stream compiled $again classes")
  }
}
