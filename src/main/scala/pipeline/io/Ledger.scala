package pipeline.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/**
 * The run record (BASELINE.json north_rule: "resumable from checkpoint
 * with per-partition lineage + metrics"): `ledger.jsonl`, one JSON line
 * per [[Ledger.Record]], the only accounting file of an outDir.
 *
 * A commit record is appended by the driver *after* its unit's files land
 * — the Spark-native form of the reference's flush→ack cycle (kawa
 * at-least-once; `examples/reveald.service:10` Restart=always +
 * redelivery). A rerun skips committed units and re-stages incomplete
 * ones, so writes are exactly-once-visible even though tasks are
 * at-least-once. The other records (the streaming listener's `input`/
 * `late` rows, the fused run's `parse` counts) ride in the same file and
 * the commit readers skip them.
 *
 * One rule resolves duplicates: a later record with the same key (a
 * commit's unit; otherwise kind, batch, query and name) supersedes an
 * earlier one, in file order. A replayed micro-batch or a rerun unit
 * therefore replaces its old record instead of double-counting.
 *
 * Driver-side and append-only by design: commit coordination is the
 * driver's job in Spark (same role as FileFormatWriter's commit
 * protocol); executors never touch the ledger.
 */
final class Ledger(dir: String) {

  import Ledger.Record

  private val file: Path = Paths.get(dir, Ledger.FileName)

  /** Every record in file order, minus those a later record supersedes. */
  def records(): Seq[Record] = {
    // under the append lock: a listener append never shows half a line
    val lines = Ledger.synchronized {
      if (!Files.exists(file)) Seq.empty else Files.readAllLines(file, UTF_8).asScala.toSeq
    }
    val all = lines.map(Ledger.decode)
    val lastAt = all.iterator.zipWithIndex.map { case (r, i) => r.key -> i }.toMap
    all.zipWithIndex.collect { case (r, i) if lastAt(r.key) == i => r }
  }

  /** The commit records: those naming a unit. */
  def commits(): Seq[Record] = records().filter(_.unit.isDefined)

  /** Work units already committed (survives restarts). */
  def committedUnits(): Set[String] = commits().flatMap(_.unit).toSet

  /** Total rows recorded per unit — the delivery accounting trail. */
  def committedRows(): Map[String, Long] = commits().map(r => r.unit.get -> r.rows).toMap

  /** Append a commit record for `unit`. */
  def commit(unit: String, rows: Long): Unit = append(Record(unit = Some(unit), rows = rows))

  /** Append one record. All ledgers in the JVM append under one lock, so
    * the streaming listener and a query's commits never interleave within
    * a line; O_APPEND of one small line is atomic enough for a single
    * driver (Iceberg snapshot commit on a cluster). */
  def append(r: Record): Unit = Ledger.synchronized {
    Files.createDirectories(file.getParent)
    Files.write(file, (Ledger.encode(r) + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

object Ledger {

  val FileName = "ledger.jsonl"

  /** One line of the run record. A commit names its `unit`; a streaming
    * `batch-<id>` commit also carries its `batchId`, `query` and per-sink
    * `counts`. Any other record names its `kind` instead: `input` and
    * `late` (per batch, query and `name`, from streaming.StreamMetrics'
    * listener) or `parse` (the fused run's four parse `counts`). */
  final case class Record(unit: Option[String] = None, kind: Option[String] = None,
      batchId: Option[Long] = None, query: Option[String] = None,
      name: Option[String] = None, rows: Long = 0L,
      counts: Map[String, Long] = Map.empty,
      ts: String = java.time.Instant.now().toString) {
    private[Ledger] def key: Any = unit.getOrElse((kind, batchId, query, name))
  }

  private val mapper = new ObjectMapper()

  private def encode(r: Record): String = {
    val o = mapper.createObjectNode()
    r.unit.foreach(o.put("unit", _))
    r.kind.foreach(o.put("kind", _))
    r.batchId.foreach(b => o.put("batch_id", b))
    r.query.foreach(o.put("query", _))
    r.name.foreach(o.put("name", _))
    o.put("rows", r.rows)
    // nested, so a sink named like a field (`rows`, `unit`) stays a sink
    if (r.counts.nonEmpty) {
      val c = o.putObject("counts")
      r.counts.foreach { case (k, v) => c.put(k, v) }
    }
    o.put("ts", r.ts)
    mapper.writeValueAsString(o)
  }

  private def decode(line: String): Record = {
    val o = mapper.readTree(line)
    def text(f: String) = Option(o.get(f)).map(_.asText)
    Record(text("unit"), text("kind"), Option(o.get("batch_id")).map(_.asLong),
      text("query"), text("name"), o.path("rows").asLong,
      o.path("counts").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      o.path("ts").asText)
  }
}
