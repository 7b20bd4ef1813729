package graft

import java.nio.file.{Files, Paths}

/**
 * Optimization-round measurement harness (guide §1) — SEPARATE from the
 * frozen graft.Bench: per-query min-of-N timing (noise-robust on a
 * co-tenant host), optional noop-sink action (§1.4: computes every column,
 * no count-pruning), optional formatted-plan dump for the plans/ evidence
 * files. Same per-query `count()` action as Bench by default, but on the
 * product's session (`pipeline.Sessions.local`), so it measures the
 * settings the product runs with; the frozen Bench keeps its own builder.
 *
 * Env knobs:
 *   SPARK_GRAFT_SF_DIR    data dir (default /root/testdata/sf0.1)
 *   SPARK_GRAFT_CPUS      local core count (default 4)
 *   SPARK_GRAFT_REPS      runs per query, min reported (default 3)
 *   SPARK_GRAFT_ONLY      comma-separated query-name filter (default all)
 *   SPARK_GRAFT_ACTION    count | noop (default count)
 *   SPARK_GRAFT_PLANS_DIR if set, write <query>.txt explain("formatted")
 */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val action = sys.env.getOrElse("SPARK_GRAFT_ACTION", "count")
    val plansDir = sys.env.get("SPARK_GRAFT_PLANS_DIR")
    val spark = pipeline.Sessions.local(cpus, app = "graft-bench-extra")
    spark.sparkContext.setLogLevel("WARN")

    // warm-up (JIT + codegen + FS), excluded from all timings — as Bench
    spark.read.parquet(s"$sfDir/region.parquet").count()
    SparkEntry.queries("q1_agg")(spark, sfDir).count()

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // untimed plan dump, executed FIRST so AQE's final plan (with
      // runtime stage reuse and coalescing) is what lands in the file —
      // the pre-run adaptive plan hides both (guide §7.2)
      plansDir.foreach { d =>
        spark.sparkContext.setJobDescription(s"$name plan dump")
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        Files.createDirectories(Paths.get(d))
        Files.write(Paths.get(d, s"$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .getBytes("UTF-8"))
      }
      val samples = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name run $i/$reps")
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        action match {
          case "noop" => df.write.format("noop").mode("overwrite").save()
          case _ => df.count()
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      name -> samples
    }
    val mins = results.map { case (n, ss) => n -> ss.min }
    def j(xs: Seq[(String, String)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(
      s"""{"metric":"min_of_$reps","action":"$action",""" +
        s""""value":${mins.map(_._2).sum},"unit":"sec",""" +
        s""""queries_min":${j(mins.map { case (k, v) => k -> v.toString })},""" +
        s""""queries_samples":${j(results.map { case (k, ss) =>
          k -> ss.mkString("[", ",", "]") })},""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
