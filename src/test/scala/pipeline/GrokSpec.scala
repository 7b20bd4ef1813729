package pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import pipeline.expr.Grok

/** Grok named-pattern library: compile semantics, one-pass typed
  * extraction, SQL surface, config wiring (SURVEY.md §7.4). */
class GrokSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, 4, "grok-spec")
  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  test("compile: expansion, group order, unnamed refs, recursion, unknowns") {
    val c = Grok.compile("x=%{INT:x:int} %{SPACE}y=%{WORD:y}")
    assert(c.fields.map(_.name) == Seq("x", "y"))
    assert(c.regex == "x=([+-]?[0-9]+) (?:\\s+)y=(\\w+)")
    // custom patterns may reference the dictionary (one-level recursion)
    val c2 = Grok.compile("%{KV:kv}",
      extraPatterns = Map("KV" -> "%{WORD}=%{INT}"))
    assert(c2.fields.map(_.name) == Seq("kv"))
    assert(c2.regex == "((?:\\w+)=(?:[+-]?[0-9]+))")
    // a named ref INSIDE a custom pattern keeps group order outer-first
    val c3 = Grok.compile("%{PAIR:pair}",
      extraPatterns = Map("PAIR" -> "%{WORD:k}=%{INT:v:int}"))
    assert(c3.fields.map(_.name) == Seq("pair", "k", "v"))
    intercept[IllegalArgumentException](Grok.compile("%{NOPE:z}"))
    intercept[IllegalArgumentException](
      Grok.compile("%{A:a}", extraPatterns = Map("A" -> "%{A}")))
  }

  test("extract: typed struct in one pass; no match → null; bad cast → null field") {
    val s = sc
    import s.implicits._
    val df = Seq(
      "2026-02-03T04:05:06Z ERROR nginx 10.1.2.3 status=404 took=1.25 msg=boom",
      "no structure here",
      // status overflows Int → that FIELD nulls, row survives
      "2026-02-03T04:05:06Z WARN app 10.0.0.1 status=99999999999 took=0.5 msg=x"
    ).toDF("line")
    val pat = "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{WORD:app} " +
      "%{IPV4:ip} status=%{INT:status:int} took=%{NUMBER:took:double} msg=%{GREEDYDATA:msg}"
    val out = df.select(Grok.extract(col("line"), pat).as("g")).collect()
    val r0 = out(0).getStruct(0)
    assert(r0.getString(0) == "2026-02-03T04:05:06Z" && r0.getString(1) == "ERROR")
    assert(r0.getString(3) == "10.1.2.3" && r0.getInt(4) == 404)
    assert(r0.getDouble(5) == 1.25 && r0.getString(6) == "boom")
    assert(out(1).isNullAt(0))
    val r2 = out(2).getStruct(0)
    assert(r2.isNullAt(4) && r2.getDouble(5) == 0.5)
  }

  test("classic compositions: COMBINEDAPACHELOG and SYSLOGLINE") {
    val s = sc
    import s.implicits._
    // combined log: full 11-field schema from ONE dictionary reference
    val c = Grok.compile("%{COMBINEDAPACHELOG}")
    assert(c.fields.map(_.name) == Seq("clientip", "ident", "auth", "timestamp",
      "verb", "request", "httpversion", "response", "bytes", "referrer", "agent"))
    val logs = Seq(
      """192.168.1.9 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://ref/x" "Mozilla/4.08 [en] (Win98)"""",
      // dashed bytes → null long field, row survives
      """10.0.0.1 - - [01/Jan/2026:00:00:00 +0000] "POST /p?q=1 HTTP/1.1" 404 - "-" "curl/8.0"""",
      "not an access log").toDF("line")
    val out = logs.select(Grok.extract(col("line"), "%{COMBINEDAPACHELOG}").as("g"))
      .collect()
    val r0 = out(0).getStruct(0)
    assert(r0.getString(0) == "192.168.1.9" && r0.getString(2) == "frank")
    assert(r0.getString(3) == "10/Oct/2000:13:55:36 -0700")
    assert(r0.getString(4) == "GET" && r0.getString(5) == "/apache_pb.gif")
    assert(r0.getInt(7) == 200 && r0.getLong(8) == 2326L)
    assert(r0.getString(9) == "http://ref/x" && r0.getString(10).startsWith("Mozilla"))
    val r1 = out(1).getStruct(0)
    assert(r1.getInt(7) == 404 && r1.isNullAt(8)) // '-' bytes → null field
    assert(out(2).isNullAt(0))
    // syslog line: optional [pid] participates or nulls cleanly
    val sys = Seq(
      "Jan  1 00:00:01 web01 sshd[4321]: Accepted publickey for root",
      "Jan  1 00:00:02 web01 kernel: oom-killer invoked").toDF("line")
    val so = sys.select(Grok.extract(col("line"), "%{SYSLOGLINE}").as("g")).collect()
    val s0 = so(0).getStruct(0)
    assert(s0.getString(1) == "web01" && s0.getString(2) == "sshd" &&
      s0.getInt(3) == 4321 && s0.getString(4).startsWith("Accepted"))
    val s1 = so(1).getStruct(0)
    assert(s1.getString(2) == "kernel" && s1.isNullAt(3) &&
      s1.getString(4).startsWith("oom-killer"))
    // RFC 5424: nil procid and nil structured-data both leave their named
    // groups non-participating (leftmost-first '-' alternative)
    val v = Grok.compile("%{SYSLOG5424LINE}")
    assert(v.fields.map(_.name) == Seq("s5_pri", "s5_ver", "s5_ts", "s5_host",
      "s5_app", "s5_proc", "s5_msgid", "s5_sd", "s5_msg"))
    val s54 = Seq(
      """<165>1 2026-01-01T00:00:05Z web01 app2 1042 id7 [ex@32473 iut="3"] hello msg""",
      """<34>1 2026-01-01T00:00:06Z web02 app0 - id1 - all nil here""").toDF("line")
    val vo = s54.select(Grok.extract(col("line"), "%{SYSLOG5424LINE}").as("g")).collect()
    val v0 = vo(0).getStruct(0)
    assert(v0.getInt(0) == 165 && v0.getInt(1) == 1)
    assert(v0.getString(2) == "2026-01-01T00:00:05Z" && v0.getString(3) == "web01")
    assert(v0.getString(5) == "1042" && v0.getString(7) == """[ex@32473 iut="3"]""")
    assert(v0.getString(8) == "hello msg")
    val v1 = vo(1).getStruct(0)
    assert(v1.getInt(0) == 34 && v1.isNullAt(5) && v1.isNullAt(7) &&
      v1.getString(8) == "all nil here")
    // HAProxy httplog: all 24 fields from one reference, typed timers
    val h = Grok.compile("%{HAPROXYHTTPLINE}")
    assert(h.fields.size == 24 && h.fields.head.name == "ha_client_ip" &&
      h.fields.last.name == "ha_request")
    val hl = Seq(
      """192.168.9.7:51234 [01/Jan/2026:12:00:03.123] fe1 be2/srv3 """ +
        """0/1/2/3/45 200 5120 - - ---- 9/8/7/6/0 1/0 "GET /x HTTP/1.1"""")
      .toDF("line")
    val ho = hl.select(Grok.extract(col("line"), "%{HAPROXYHTTPLINE}").as("g"))
      .collect()(0).getStruct(0)
    assert(ho.getString(0) == "192.168.9.7" && ho.getInt(1) == 51234)
    assert(ho.getString(2) == "01/Jan/2026:12:00:03.123")
    assert(ho.getString(3) == "fe1" && ho.getString(4) == "be2" &&
      ho.getString(5) == "srv3")
    assert(ho.getInt(6) == 0 && ho.getInt(10) == 45) // tq, tt
    assert(ho.getInt(11) == 200 && ho.getLong(12) == 5120L)
    assert(ho.getString(15) == "----")
    assert(ho.getInt(16) == 9 && ho.getInt(20) == 0) // actconn, retries
    assert(ho.getInt(21) == 1 && ho.getInt(22) == 0) // queues
    assert(ho.getString(23) == "GET /x HTTP/1.1")
  }

  test("classic compositions #2: POSTGRESQLLOG and the Java family") {
    val s = sc
    import s.implicits._
    // postgres: stock '%m [%p] ' prefix, optional user@db, level-tagged
    val p = Grok.compile("%{POSTGRESQLLOG}")
    assert(p.fields.map(_.name) == Seq("pg_ts", "pg_tz", "pg_pid", "pg_user",
      "pg_db", "pg_level", "pg_message"))
    val pg = Seq(
      "2026-01-03 12:00:07.123 UTC [4242] alice@orders LOG:  duration: 12 ms",
      "2026-01-03 12:00:08.456 CEST [99] ERROR:  relation \"x\" does not exist",
      "2026-01-03 12:00:09.000 UTC [7] bob@app STATEMENT:  SELECT 1",
      "not a postgres line").toDF("line")
    val po = pg.select(Grok.extract(col("line"), "%{POSTGRESQLLOG}").as("g")).collect()
    val p0 = po(0).getStruct(0)
    assert(p0.getString(0) == "2026-01-03 12:00:07.123" && p0.getString(1) == "UTC")
    assert(p0.getInt(2) == 4242 && p0.getString(3) == "alice" &&
      p0.getString(4) == "orders")
    assert(p0.getString(5) == "LOG" && p0.getString(6) == "duration: 12 ms")
    val p1 = po(1).getStruct(0)
    // background line: no user@db → both fields nil, not misparsed
    assert(p1.getString(1) == "CEST" && p1.getInt(2) == 99 &&
      p1.isNullAt(3) && p1.isNullAt(4) && p1.getString(5) == "ERROR")
    assert(po(2).getStruct(0).getString(5) == "STATEMENT")
    assert(po(3).isNullAt(0))
    // numeric-offset timezone (log_timezone without an abbreviation)
    val pgOff = Seq("2026-01-03 12:00:10.001 +0545 [12] LOG:  ready").toDF("line")
      .select(Grok.extract(col("line"), "%{POSTGRESQLLOG}").as("g"))
      .collect()(0).getStruct(0)
    assert(pgOff.getString(1) == "+0545" && pgOff.getInt(2) == 12)
    // Java stack frames: SINGLE-LINE contract — one row per `at ...` frame
    // (line-oriented sources never deliver multi-line records; header↔frame
    // re-association is a downstream stateful concern, documented in Grok)
    val j = Grok.compile("%{JAVASTACKTRACEPART}")
    assert(j.fields.map(_.name) == Seq("jst_class", "jst_method", "jst_file", "jst_line"))
    val frames = Seq(
      "\tat com.example.svc.Handler.handle(Handler.java:42)",
      "\tat java.base/x", // malformed → null (checked below via no-match)
      "\tat com.example.Gen$1.<init>(Native Method)",
      "\tat org.x.Y.run(Unknown Source)").toDF("line")
    val jo = frames.select(Grok.extract(col("line"), "%{JAVASTACKTRACEPART}").as("g")).collect()
    val j0 = jo(0).getStruct(0)
    assert(j0.getString(0) == "com.example.svc.Handler" && j0.getString(1) == "handle")
    assert(j0.getString(2) == "Handler.java" && j0.getInt(3) == 42)
    assert(jo(1).isNullAt(0))
    val j2 = jo(2).getStruct(0)
    assert(j2.getString(0) == "com.example.Gen$1" && j2.getString(1) == "<init>" &&
      j2.isNullAt(2) && j2.isNullAt(3))
    val j3 = jo(3).getStruct(0)
    assert(j3.getString(1) == "run" && j3.isNullAt(2))
    // throwable header lines, incl. the Caused-by continuation
    val th = Seq(
      "java.lang.IllegalStateException: boom at startup",
      "Caused by: java.io.IOException",
      "plain words only").toDF("line")
    val to = th.select(Grok.extract(col("line"), "%{JAVATHROWABLE}").as("g")).collect()
    assert(to(0).getStruct(0).getString(0) == "java.lang.IllegalStateException" &&
      to(0).getStruct(0).getString(1) == "boom at startup")
    assert(to(1).getStruct(0).getString(0) == "java.io.IOException" &&
      to(1).getStruct(0).isNullAt(1))
    assert(to(2).isNullAt(0))
    // log4j/logback application line
    val l4 = Seq("2026-01-03T09:15:00.123Z [worker-3] WARN  com.example.App - slow query")
      .toDF("line")
    val lo = l4.select(Grok.extract(col("line"), "%{LOG4JLINE}").as("g"))
      .collect()(0).getStruct(0)
    assert(lo.getString(1) == "worker-3" && lo.getString(2) == "WARN")
    assert(lo.getString(3) == "com.example.App" && lo.getString(4) == "slow query")
  }

  test("multiline joiner: full throwable reconstructed from split lines, order-free") {
    val s = sc
    import s.implicits._
    // a real multi-line throwable as a line-oriented source delivers it:
    // one row per line, order encoded in the offset (not row order)
    val rec1 = Seq(
      "Exception in thread \"main\" com.app.UpstreamException: timeout calling billing",
      "\tat com.app.Client.call(Client.java:42)",
      "\tat com.app.Service.handle(Service.java:17)",
      "Caused by: java.net.SocketTimeoutException: read timed out",
      "\tat java.base.sun.nio.ch.NioSocketImpl.timedRead(NioSocketImpl.java:288)",
      "... 2 more")
    val rec2 = Seq(
      "2026-01-02T03:04:05 [main] ERROR com.app.Service - request failed",
      "  details: order=7 attempt=2")
    val rec3 = Seq("plain single-line event")
    // source B starts MID-throwable (tail-truncated stream): leading
    // continuations have no header yet must not vanish
    val orphan = Seq(
      "\tat com.app.Worker.run(Worker.java:9)",
      "... 5 more")
    val allLines =
      (rec1 ++ rec2 ++ rec3).zipWithIndex.map { case (l, i) => ("A", i.toLong, l) } ++
        (orphan ++ rec1).zipWithIndex.map { case (l, i) => ("B", i.toLong, l) }
    // shuffle the input rows: the joiner must order by offset, not arrival
    val shuffled = new scala.util.Random(7).shuffle(allLines)
    val recs = pipeline.stages.Multiline.joinLines(
      shuffled.toDF("src", "off", "line"), "src", "off", "line")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getString(5))).toMap
    assert(recs.size == 5, s"expected 5 records, got ${recs.keySet}")
    assert(recs(("A", 1L)) == (0L, 6L, true, rec1.mkString("\n")))
    assert(recs(("A", 2L)) == (6L, 2L, true, rec2.mkString("\n")))
    assert(recs(("A", 3L)) == (8L, 1L, true, rec3.mkString("\n")))
    // the orphan record: rec_id 0, no header, still emitted (never-vanish)
    assert(recs(("B", 0L)) == (0L, 2L, false, orphan.mkString("\n")))
    assert(recs(("B", 1L)) == (2L, 6L, true, rec1.mkString("\n")))
    // grok over the REJOINED record: every frame line parses as a
    // JAVASTACKTRACEPART with class/method/file/line typed out
    val frames = recs(("A", 1L))._4.split("\n").filter(_.startsWith("\tat "))
      .toSeq.toDF("line")
      .select(Grok.extract(col("line"), "%{JAVASTACKTRACEPART}").as("g"))
      .collect().map(_.getStruct(0))
    assert(frames.length == 3 && frames.forall(_ != null))
    assert(frames.head.getString(0) == "com.app.Client" &&
      frames.head.getString(1) == "call" &&
      frames.head.getString(2) == "Client.java" &&
      frames.head.getInt(3) == 42)
    // and the Caused-by chain line parses as a JAVATHROWABLE
    val caused = Seq(recs(("A", 1L))._4.split("\n")(3)).toDF("line")
      .select(Grok.extract(col("line"), "%{JAVATHROWABLE}").as("g"))
      .collect()(0).getStruct(0)
    assert(caused.getString(0) == "java.net.SocketTimeoutException" &&
      caused.getString(1) == "read timed out")
  }

  test("joinDocs: same-instant frames follow their header; duplicate " +
    "headers stay two records") {
    val s = sc
    import s.implicits._
    val before = java.sql.Timestamp.valueOf("2026-01-02 03:04:04")
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    val later = java.sql.Timestamp.valueOf("2026-01-02 03:04:06")
    // one url: an earlier event, then a throwable whose frames share the
    // HEADER's timestamp (coarse shipper ts — the flagship case). The
    // raw (lang, text) tiebreak sorted '\t'-indented frames BEFORE the
    // header, gluing them to the PREVIOUS record.
    val docs = Seq(
      ("u1", before, "zz earlier event", "en"),
      ("u1", ts, "com.app.Err: boom", "en"),
      ("u1", ts, "\tat com.app.A.f(A.java:1)", "en"),
      ("u1", ts, "\tat com.app.B.g(B.java:2)", "en"),
      // exact-duplicate headers at a later instant: a RANGE frame made
      // them running-count PEERS and merged them into one record
      ("u1", later, "com.app.Other: dup", "en"),
      ("u1", later, "com.app.Other: dup", "en"),
      // a trailing frame of the boom throwable whose coarse ts ticked over
      // to the NEXT header's instant: header-first glues it FORWARD onto
      // that header (pinned; the doc shape cannot tell the two apart)
      ("u1", later, "\tat com.app.C.h(C.java:3)", "en"))
      .toDF("url", "warc_ts", "text", "lang")
      .withColumn("html", lit(null).cast("binary"))
    val got = pipeline.stages.Multiline.joinDocs(docs)
      .collect().map(_.getAs[String]("text")).sorted
    assert(got.toSeq == Seq(
      "com.app.Err: boom\n\tat com.app.A.f(A.java:1)\n\tat com.app.B.g(B.java:2)",
      "com.app.Other: dup",
      "com.app.Other: dup\n\tat com.app.C.h(C.java:3)",
      "zz earlier event"), got.mkString("|"))
  }

  test("SQL surface graft_grok == Column API; config grok wiring") {
    val s = sc
    import s.implicits._
    pipeline.expr.Functions.registerAll(s)
    Seq("a=1 b=two", "a=42 b=x").toDF("t").createOrReplaceTempView("gt")
    val viaSql = s.sql(
      """SELECT g.a, g.b FROM (
        |  SELECT graft_grok(t, 'a=%{INT:a:long} b=%{WORD:b}') AS g FROM gt)""".stripMargin)
      .collect()
    assert(viaSql.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "two"), (42L, "x")))
    // config-driven: a source with a grok pattern grows the typed column
    val spec = pipeline.config.PipelineConfig.parse(
      """{"sources": {"app": {"type": "file",
        |  "grok": "status=%{INT:status:int} bytes=%{INT:bytes:long}"}},
        |"destinations": {"printer": {"type": "printer"}}}""".stripMargin)
    assert(spec.sources.head.grok.isDefined)
    val raw = pipeline.sources.LineCodec.encode(
      pipeline.fixtures.Webtext.df(s, 50, 2))
    val docs = pipeline.config.ConfigRunner.fromSource(spec.sources.head, raw)
    assert(docs.columns.contains("grok"))
    val hit = docs.filter(col("grok").isNotNull)
    assert(hit.count() > 0)
    // grok'd status equals the reference regex's status on matching rows
    assert(hit.filter(col("grok.status") =!=
      regexp_extract(col("text"), "status=([0-9]+)", 1).cast("int")).count() == 0)
  }
}
