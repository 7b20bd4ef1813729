package pipeline.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import pipeline.model.{Schemas, Sinks}

/**
 * The four pipeline stages, each a pure `DataFrame => DataFrame`.
 *
 * All four are narrow (no shuffle) except Aggregate; Catalyst fuses
 * Parse∘Enrich∘Route into one whole-stage-codegen span, so one row flows
 * scan → parse → enrich-probe → route-explode without materialization —
 * the columnar analog of the reference's per-event path (SURVEY.md §3.3).
 *
 * Every expression is a built-in `functions._` Column (codegen'd); no UDFs
 * in the hot path. Semantics are pinned by pipeline.ref.RefNormalizer.
 */
object Parse {

  /**
   * T1/T2: truncation guard + grok-style extraction + nginx JSON parse
   * (reference `examples/journald_to_s3batch_config.json:5`,
   * `examples/nginx_json.conf:50-79`).
   *
   * Input: webtext shape (url, warc_ts, html?, text, lang).
   * Adds: host, title, status, bytes, method, norm struct (coalesced
   * numerics), extracted_text, is_corrupt, day.
   * Never touches `html` — column pruning keeps the binary out of the scan.
   *
   * ONE native expression (pipeline.expr.ParseEventExpr) does the whole
   * per-event parse in a single pass (~3µs/row vs ~500µs/row for the Column
   * formulation, profiled at 2M rows), truncation included: the cap is the
   * reference's 200 KB, counted in UTF-16 code units like
   * RefNormalizer.truncate ([[pipeline.expr.ParseEventExpr.MaxChars]]).
   * [[columns]] keeps the built-ins-only formulation as the cross-checked
   * reference.
   */
  def apply(df: DataFrame): DataFrame = {
    val p = pipeline.expr.PortableExprs.parseEvent(col("url"), col("text"))
    df.withColumn("p", p)
      .withColumn("host", col("p.host"))
      .withColumn("title", col("p.title"))
      .withColumn("status", col("p.status"))
      .withColumn("bytes", col("p.bytes"))
      .withColumn("method", col("p.method"))
      .withColumn("extracted_text", col("p.extracted_text"))
      .withColumn("is_corrupt", col("p.is_corrupt"))
      .withColumn("norm", col("p.norm"))
      .withColumn("day", to_date(col("warc_ts")))
      .drop("p")
  }

  /** Column/built-ins-only formulation of [[apply]] (plus the full `nginx`
    * struct) — the Spark-idiomatic reference implementation, spec-tested
    * equal to the fast path. It agrees with the spec only below the cap:
    * Spark `substring` counts code points, the spec UTF-16 code units. */
  def columns(df: DataFrame): DataFrame = {
    val lines = split(
      substring(col("text"), 1, pipeline.expr.ParseEventExpr.MaxChars), "\n")
    val kv = coalesce(get(lines, lit(1)), lit(""))
    val jsonLineRaw = get(lines, lit(3))
    val jsonLine = when(jsonLineRaw.startsWith("{"), jsonLineRaw)
    // NOT parse_url: that strips ports/userinfo; the spec (RefNormalizer
    // .host) keeps everything between :// and the first '/'
    df.withColumn("host",
        nullif(regexp_extract(col("url"), "^(.*?)://([^/]*)", 2), lit("")))
      .withColumn("_lines", lines)
      .withColumn("title",
        regexp_extract(coalesce(get(col("_lines"), lit(0)), lit("")), "^title: (.*)$", 1))
      .withColumn("status",
        coalesce(nullif(regexp_extract(kv, "status=([0-9]+)", 1), lit("")).cast("int"), lit(0)))
      .withColumn("bytes",
        coalesce(nullif(regexp_extract(kv, "bytes=([0-9]+)", 1), lit("")).cast("long"), lit(0L)))
      .withColumn("method", regexp_extract(kv, "method=([A-Z]+)", 1))
      .withColumn("_json_line", jsonLine)
      // PERMISSIVE + corrupt-record column: a malformed line yields a struct
      // with `_corrupt` set (it may still carry fields parsed before the
      // error — so `ts IS NULL` alone cannot detect corruption)
      .withColumn("nginx_raw", from_json(col("_json_line"), Schemas.nginxWithCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
      .withColumn("is_corrupt",
        col("_json_line").isNotNull &&
          (col("nginx_raw").isNull || col("nginx_raw._corrupt").isNotNull ||
            col("nginx_raw.ts").isNull))
      .withColumn("nginx",
        when(!col("is_corrupt"), col("nginx_raw").dropFields("_corrupt")))
      // empty-string→0 numeric coalescing (`nginx_json.conf:15-48`)
      .withColumn("norm", when(col("nginx").isNotNull, struct(
        to_timestamp(col("nginx.ts")).as("ts"),
        col("nginx.request.method").as("req_method"),
        col("nginx.request.uri").as("uri"),
        col("nginx.response.status").as("resp_status"),
        coalesce(nullif(col("nginx.response.body_bytes_sent"), lit("")), lit("0"))
          .cast("long").as("body_bytes_sent"),
        coalesce(nullif(col("nginx.upstream.response_length"), lit("")), lit("0"))
          .cast("long").as("response_length"),
        col("nginx.upstream.bytes_sent").as("up_bytes_sent"))))
      .withColumn("extracted_text",
        concat(col("title"), lit("\n"), coalesce(get(col("_lines"), lit(2)), lit(""))))
      .withColumn("day", to_date(col("warc_ts")))
      .drop("_lines", "_json_line", "nginx_raw")
  }
}

object Enrich {

  /**
   * T4: broadcast-join enrichment against small dims (the reference's
   * lookup/metadata-attach pattern; SURVEY.md §2.3 T4). Left joins so no
   * row is ever lost; `broadcast()` guarantees no shuffle on the fact side.
   */
  def apply(df: DataFrame, langMeta: DataFrame, geo: DataFrame): DataFrame =
    df.join(broadcast(langMeta), Seq("lang"), "left")
      .join(broadcast(geo), df("host") === geo("domain"), "left")
      .drop("domain")
}

/** One routing rule: a Column predicate → sink tag. */
final case class RouteRule(predicate: Column, sink: String)

object Route {

  /** Default rules = FIXTURES.md §3, in stable Sinks order. */
  def defaultRules: Seq[RouteRule] = Seq(
    RouteRule(col("status") >= 500, Sinks.Printer),
    RouteRule(col("lang") === "en" || col("status") >= 500, Sinks.RunReveal),
    RouteRule(lit(true), Sinks.S3))

  /**
   * D6/D7: routing-tag fan-out. Each row gets an array of sink tags built
   * with `when/otherwise` (corrupt rows divert to deadletter exclusively),
   * then ONE `explode` multiplies the row per destination — one scan, one
   * downstream write, vs M re-scans (SURVEY.md §4.1 "fan-out without
   * recompute"). Adds `sink`; row multiplicity = Σ |sinks(row)|.
   */
  def apply(df: DataFrame, rules: Seq[RouteRule] = defaultRules,
            unmatchedTo: Option[String] = Some(Sinks.DeadLetter)): DataFrame = {
    val tagged = array_distinct(array_compact(array(
      rules.map(r => when(r.predicate, lit(r.sink))): _*)))
    // a row matching NO rule must never vanish silently: it diverts to
    // `unmatchedTo` (deadletter by default) and stays visible in the
    // accounting. Pass None for kawa's filter semantics (handler -> 0
    // events) where dropping is the intent.
    val safeTagged = unmatchedTo match {
      case Some(sink) =>
        when(size(tagged) === 0, array(lit(sink))).otherwise(tagged)
      case None => tagged
    }
    val sinks = when(col("is_corrupt"), array(lit(Sinks.DeadLetter)))
      .otherwise(safeTagged)
    df.withColumn("sink", explode(sinks))
  }
}

object Aggregate {

  /** A2: per-sink delivery accounting — must equal routed-row counts
    * exactly (BASELINE.json north_rule). Partial (map-side) aggregation
    * is automatic for hash aggregates. */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy("sink").agg(count(lit(1)).as("n_rows"))

  /** Per-source delivery accounting: the reference's source ids exist to be
    * "referenced when logging or in metrics" (`examples/config.json:6-7`),
    * so counts key on provenance too. */
  def sourceSinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy("source", "sink").agg(count(lit(1)).as("n_rows"))
}

/**
 * Multi-line record joiner — the batch answer to the Java-family grok
 * contract (pipeline.expr.Grok "SINGLE-LINE CONTRACT"): line-oriented
 * sources deliver a multi-line throwable as its header row plus one row
 * per frame; this operator re-associates them by the prefix rule before
 * grok runs, so `JAVATHROWABLE` + `JAVASTACKTRACEPART` see whole records.
 *
 * Semantics (the classic logstash/filebeat `multiline` pattern, expressed
 * relationally): within a source, lines sort by their offset; a line
 * matching the CONTINUATION predicate glues to the most recent
 * non-continuation line (the record header) above it. Record identity is
 * therefore a running count of headers — `sum(is_header) over (partition
 * by source order by offset)` — and the record body is the
 * offset-ordered join of its lines. Leading continuations with no header
 * (rec_id 0 — a tail-truncated stream start) still emit as a record with
 * `has_header = false`: never-vanish, the deadletter contract.
 *
 * Scale shape: ONE shuffle on the source key; the window and the
 * array_agg ride the same partitioning (plan-guard: a single Exchange).
 * Within a source, ordering is a sort, not a collect — but a source IS a
 * sequential log, so per-source order is inherent to the semantics; at
 * 100 TB the parallelism unit is the (many) sources, exactly like the
 * reference tailing N files. Streaming twin would need a stateful
 * session (frames can cross micro-batches) — deliberately batch-only,
 * like the dedup_near transform.
 */
object Multiline {

  /** Java-throwable continuation rule: indented lines (`\tat frame`,
    * indented messages), `Caused by:` chains, and the `... N more`
    * elision — everything that belongs to the record above it. */
  def javaContinuation(line: Column): Column =
    line.rlike("^[ \\t]") || line.startsWith("Caused by: ") ||
      line.rlike("^\\.\\.\\. [0-9]+ more")

  /**
   * Join continuation lines into records: (sourceCol, orderCol, lineCol) →
   * one row per record with (source, rec_id, first_offset, n_lines,
   * has_header, rec_text). `rec_text` joins the lines with '\n' in offset
   * order. Extra columns are dropped (records aggregate many lines; pick
   * header-line attributes downstream by re-grokking rec_text's first
   * line, which is by construction the header when has_header).
   */
  /**
   * Doc-shaped form (the config-surface `multiline: true` source option,
   * ConfigRunner.fromSource): joins line-per-event docs back into
   * record-per-event docs IN the doc shape, so the rest of the chain
   * (grok, parse, route) is untouched. Stream identity = `url` (the
   * shipper's file/unit key), line order = `warc_ts` with HEADER-FIRST
   * tie-break (then (lang, text) — deterministic): a same-instant
   * header's continuations follow it instead of gluing to the previous
   * record. When several same-instant headers share a url the frames
   * attach to the (lex-)last of them — inherently ambiguous without a
   * line sequence; use [[joinLines]] when an offset exists.
   * The joined record keeps its FIRST
   * line's event time and lang; html stays null (line protocols carry no
   * binary). Rows that cannot join — null url or null warc_ts (the
   * undecodable-line deadletter path) — BYPASS unchanged rather than
   * conflating into one null-key record: never-vanish.
   *
   * Batch-only, like the dedup_near transform: the window needs the full
   * per-source history (a throwable's frames can cross micro-batches);
   * ConfigRunner refuses streaming frames config-shaped.
   */
  def joinDocs(docs: DataFrame,
               continuation: Column => Column = javaContinuation): DataFrame = {
    val can = col("url").isNotNull && col("warc_ts").isNotNull
    val joined = docs.filter(can)
      .withColumn("_hdr", !continuation(col("text")))
      // Order: event time, then HEADER-FIRST among same-instant lines,
      // then (lang, text). Same-instant batches are the flagship case
      // (a throwable's frames log in one instant with a coarse shipper
      // ts); the raw (lang, text) tiebreak sorted '\t'-indented frames
      // BEFORE their header, gluing them to the previous record. With
      // header-first, a same-instant header opens its record and its
      // frames follow. (Multiple same-instant headers in one url remain
      // ambiguous — inherent: the doc shape carries no line sequence;
      // joinLines is the exact form when an offset exists.) The frame is
      // ROWS, not the default RANGE: RANGE counts all PEERS of the
      // current row, so exact-duplicate header lines saw each other's
      // count, merged into one record, and silently lost a record.
      .withColumn("_rec", sum(when(col("_hdr"), 1L).otherwise(0L)).over {
        import org.apache.spark.sql.expressions.Window
        Window.partitionBy("url")
          .orderBy(col("warc_ts"), col("_hdr").desc, col("lang"), col("text"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      })
      .groupBy(col("url"), col("_rec"))
      .agg(array_sort(collect_list(
        struct(col("warc_ts"), (!col("_hdr")).as("_cont"), col("lang"),
          col("text")))).as("_ls"))
      .select(col("url"),
        element_at(col("_ls"), 1).getField("warc_ts").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        array_join(transform(col("_ls"), s => s.getField("text")), "\n").as("text"),
        element_at(col("_ls"), 1).getField("lang").as("lang"))
    joined.unionByName(
      docs.filter(!can).select("url", "warc_ts", "html", "text", "lang"))
  }

  def joinLines(df: DataFrame, sourceCol: String, orderCol: String,
                lineCol: String,
                continuation: Column => Column = javaContinuation): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("_off")
    df.select(col(sourceCol).as("source"), col(orderCol).as("_off"),
        col(lineCol).as("_line"))
      .withColumn("_hdr", !continuation(col("_line")))
      .withColumn("rec_id",
        sum(when(col("_hdr"), 1L).otherwise(0L)).over(w))
      .groupBy(col("source"), col("rec_id"))
      // array_agg of (offset, line) structs + array_sort: struct ordering
      // is lexicographic on (offset, …), so the join is offset-ordered
      // without a second window pass
      .agg(
        min(col("_off")).as("first_offset"),
        count(lit(1)).as("n_lines"),
        max(col("_hdr")).as("has_header"),
        array_join(transform(
          array_sort(collect_list(struct(col("_off"), col("_line")))),
          s => s.getField("_line")), "\n").as("rec_text"))
  }
}
