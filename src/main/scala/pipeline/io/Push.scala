package pipeline.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * D3/D4: push-delivery sinks (the reference's runreveal webhook and mqtt
 * destinations, `examples/config.json:27-36`, `examples/mqtt_config.json:17-31`).
 *
 * Semantics mirrored from the reference's destination contract:
 *  - events are delivered in batches of `batchSize` (the count bound;
 *    `flushFreq` is the TIME bound, which only binds in streaming — see
 *    pipeline.Streaming's trigger; a batch job is one flush by definition);
 *  - a failed batch retries `maxRetries` times with backoff, then diverts
 *    to the deadletter directory — delivery is at-least-once, never silent
 *    loss (kawa's flush→ack cycle);
 *  - delivery runs per PARTITION on executors (`foreachPartition`), so push
 *    throughput scales with the cluster, and per-batch acknowledgements are
 *    counted with accumulators (no read-back pass).
 *
 * The wire call is behind [[Transport]]: the sandbox has zero egress, so the
 * default transport lands each batch as one local file (same durability
 * contract as a 200-OK webhook). An HTTP/MQTT client binds the same seam on
 * a real deployment.
 */
object Push {

  /** One delivery attempt of one batch. Throw to signal failure. */
  trait Transport extends Serializable {
    def send(sinkId: String, batchIndex: Long, lines: Seq[String]): Unit
  }

  /** Batch → one durable local file (atomic rename), the egress-free
    * stand-in for a webhook POST / mqtt publish. */
  final class LocalFileTransport(dir: String) extends Transport {
    override def send(sinkId: String, batchIndex: Long, lines: Seq[String]): Unit = {
      val d = Paths.get(dir, sinkId)
      Files.createDirectories(d)
      val tmp = d.resolve(s".batch-$batchIndex.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, d.resolve(f"batch-$batchIndex%016d.jsonl"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Transport that fails the first `failures` attempts GLOBALLY — retry
    * testing. The budget lives in a JVM-static map keyed by a per-instance
    * token: a plain instance field would deserialize into a fresh counter
    * copy per task closure, injecting `failures` per PARTITION rather than
    * per transport (local mode shares the JVM, so the static map is exact;
    * a second FlakyTransport gets its own token, so instances stay
    * independent). */
  final class FlakyTransport(inner: Transport, failures: Int) extends Transport {
    private val token = java.util.UUID.randomUUID().toString
    override def send(sinkId: String, batchIndex: Long, lines: Seq[String]): Unit = {
      if (FlakyTransport.attempts(token).incrementAndGet() <= failures)
        throw new RuntimeException(s"injected transport failure")
      inner.send(sinkId, batchIndex, lines)
    }
  }

  object FlakyTransport {
    private val counters =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    private def attempts(token: String) =
      counters.computeIfAbsent(token, _ => new java.util.concurrent.atomic.AtomicLong(0))
  }

  final case class Delivery(delivered: Long, deadlettered: Long, batches: Long)

  /** Retries per batch before it diverts to the deadletter directory. */
  val MaxRetries = 3

  /** Send ONE batch with capped-backoff retry; on final failure divert the
    * whole batch to the deadletter directory (at-least-once, never silent
    * loss). Executor-side. Returns true iff delivered. Shared by the batch
    * path ([[deliver]]) and the streaming flush path
    * (pipeline.streaming.Batcher event flushes → Transport batches). */
  def sendWithRetry(transport: Transport, sinkId: String, batchId: Long,
                    lines: Seq[String], maxRetries: Int,
                    deadletterDir: String): Boolean = {
    var attempt = 0
    while (attempt <= maxRetries) {
      try {
        transport.send(sinkId, batchId, lines)
        return true
      } catch {
        case _: Exception if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(math.min(1000L, 10L << attempt)) // capped backoff
        case _: Exception =>
          new LocalFileTransport(deadletterDir)
            .send(s"$sinkId-deadletter", batchId, lines)
          return false
      }
    }
    false
  }

  /**
   * Deliver `df`'s rows (JSON-encoded) to `transport` in batches of
   * `batchSize`. Batch ids are (partitionId << 40 | seq) so concurrent
   * partitions never collide — 2^40 batches per partition (a partition
   * would need >10^12 rows at batchSize=1 to bleed into the next id
   * space) × 2^23 partitions. Returns exact counts via accumulators.
   */
  def deliver(df: DataFrame, sinkId: String, batchSize: Int,
              transport: Transport, deadletterDir: String,
              maxRetries: Int = MaxRetries): Delivery = {
    require(batchSize > 0, "batchSize must be positive")
    val spark = df.sparkSession
    val delivered = spark.sparkContext.longAccumulator(s"push_${sinkId}_delivered")
    val dead = spark.sparkContext.longAccumulator(s"push_${sinkId}_deadletter")
    val batches = spark.sparkContext.longAccumulator(s"push_${sinkId}_batches")
    val lines = df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("line"))
    lines.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var seq = 0L
      it.map(_.getString(0)).grouped(batchSize).foreach { batch =>
        val batchId = (pid << 40) | seq
        seq += 1
        if (sendWithRetry(transport, sinkId, batchId, batch, maxRetries, deadletterDir)) {
          delivered.add(batch.size)
          batches.add(1)
        } else dead.add(batch.size)
      }
    }
    Delivery(delivered.value, dead.value, batches.value)
  }
}
