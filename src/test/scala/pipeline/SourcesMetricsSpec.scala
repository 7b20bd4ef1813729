package pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.fixtures.Webtext
import pipeline.ref.RefNormalizer
import pipeline.sources.Sources

/** Source adapters (S1–S7) + observe()-based delivery metrics (A2/D7). */
class SourcesMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "sources-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  test("syslog envelope strip keeps payload; non-syslog passes through") {
    val s = sc
    import s.implicits._
    val json = """{"ts":"2026-01-01T00:00:00Z","response":{"status":200}}"""
    val df = Seq(
      s"""<190>Jan  1 00:00:01 web01 nginx: $json""",
      s"""<13>Feb 12 13:59:59 host-2 app[77]: $json""",
      "not a syslog line at all",
      json).toDF("payload")
    val out = Sources.stripSyslog(df).as[String].collect()
    assert(out(0) == json)
    assert(out(1) == json)
    assert(out(2) == "not a syslog line at all")
    assert(out(3) == json)
    // an envelope with an EMPTY message yields an empty payload,
    // not the raw envelope
    val empty = Seq("<13>Aug 16 12:00:00 web01 nginx: ").toDF("payload")
    assert(Sources.stripSyslog(empty).as[String].head == "")
  }

  test("fan-in unions heterogeneous sources with null-filled columns") {
    val s = sc
    import s.implicits._
    val a = Seq(("x", "fileA")).toDF("payload", "source")
    val b = Seq(("y", "mq", 1)).toDF("payload", "source", "qos") // extra col
    val u = Sources.fanIn(Seq(a, b))
    assert(u.count() == 2)
    assert(u.columns.toSet == Set("payload", "source", "qos"))
    assert(u.filter(col("qos").isNull).count() == 1)
    // per-source accounting
    val counts = u.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("fileA" -> 1L, "mq" -> 1L))
  }

  test("truncate guard caps payloads at maxLineLenKB chars") {
    val s = sc
    import s.implicits._
    // an astral character is one code point (Spark substring's unit) but
    // two UTF-16 code units (String.length)
    val emoji = "\uD83D\uDE00"
    val df = Seq("a" * 300000, "short", emoji * 300000).toDF("payload")
    val out = Sources.truncate(df, 200).as[String].collect()
    assert(out(0).length == 200 * 1024 && out(1) == "short")
    assert(out(2) == emoji * (200 * 1024) && out(2).length == 2 * 200 * 1024)
  }

  test("source-side filter pushes to the scan (eventlog XPath analog)") {
    val s = sc
    val dir = java.nio.file.Files.createTempDirectory("src-filter").toString
    Webtext.df(s, 2000, 4).write.mode("overwrite").parquet(dir)
    val df = Sources.filtered(
      Sources.webtext(s, dir, "eventlog1"),
      Some(col("lang") === "en"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,en)"),
      s"filter not pushed:\n$plan")
    assert(df.count() > 0)
  }

  test("observe metrics: events_in / parsed_ok / deadletter match ref counts") {
    val s = sc
    val n = 4000L
    val out = java.nio.file.Files.createTempDirectory("metrics-out").toString
    Pipeline.runFused(s, Webtext.df(s, n, 4), out)
    // the run's parse observation is one non-commit record in its ledger
    val parse = new pipeline.io.Ledger(out).records().filter(_.kind.contains("parse"))
    assert(parse.size == 1 && parse.head.unit.isEmpty, s"parse records $parse")
    val m = parse.head.counts
    assert(parse.head.rows == n)
    val refCorrupt = (0L until n).count(i => RefNormalizer.parse(Webtext.row(i)).is_corrupt)
    assert(m("events_in") == n)
    assert(m("deadletter") == refCorrupt.toLong)
    assert(m("parsed_ok") == n - refCorrupt)
    assert(m("max_event_bytes") > 0)
  }
}
