package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** S6/S7 — message-queue and job-state sinks.
  *
  * The reference publishes JSON to a durable RabbitMQ queue with persistent
  * delivery and no publisher confirms (main.py:208-230) — i.e. at-least-once.
  * Engine shape: a [[MessageSink]] trait written to from
  * `foreachBatch`/`foreachPartition`, so one connection per partition and
  * no driver funnel — except for a frame whose rows are already on the
  * driver, which the driver publishes itself with no Spark job (see
  * [[QueueSink.publishBatch]]). Duplicates are possible by contract;
  * downstream dedup keys (exchange, isin, ts) — the explicit operator
  * property the reference leaves implicit (SURVEY.md §0.2). */
trait MessageSink extends Serializable {
  /** Publish one JSON payload; true on success (reference returns only a
    * bool, main.py:229-230). Must be idempotence-tolerant downstream. */
  def publish(queue: String, payload: String): Boolean

  /** Release what this copy holds (a connection). Spark deserializes one
    * copy of the sink per task, so the partition writers below close
    * their copy when the partition is done; a driver-local publish closes
    * the caller's own sink the same way, and its next publish re-dials. */
  def close(): Unit = ()
}

/** The real AMQP `MessageSink` impl is [[AmqpSink]] (round 16): the
  * reference's pika BasicPublish dialogue (delivery_mode=2 to a durable
  * queue, main.py:208-230) spoken directly in the AMQP 0-9-1 wire
  * grammar over a raw JDK socket — zero client jars — and exercised
  * in-process against an independently-decoding loopback broker
  * (SourcesSpec). It follows exactly the deployment seam described
  * here: one connection per partition (a @transient connection re-dials
  * on the executor side; a driver-local frame uses the caller's sink
  * once), durable declare once per queue, persistent
  * JSON per message — at-least-once, with `dedupForPublish` below as
  * the engine-side idempotence layer. InMemorySink remains the fast
  * test double for the non-wire specs. */

/** Test/local sink: a process-global in-memory queue registry (executors
  * and driver share a JVM in local mode, like `memory` sink). */
object InMemoryQueues {
  private val queues =
    new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def queue(name: String): ConcurrentLinkedQueue[String] =
    queues.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[String]())
  def drain(name: String): Seq[String] = {
    val q = queue(name)
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
  }
  def clear(): Unit = queues.clear()
}

final class InMemorySink extends MessageSink {
  def publish(queue: String, payload: String): Boolean = {
    InMemoryQueues.queue(queue).add(payload)
    true
  }
}

object QueueSink {

  /** S6 — publish every row's `envelope` column to the queue (usable
    * directly and from streaming foreachBatch). The selection is planned
    * once: if its rows are already on the driver (a `LocalTableScanExec`,
    * as for [[RestSource.fetchTickers]]' frames), the driver publishes them
    * through `sink` and closes it, and no Spark job runs; otherwise each
    * partition publishes through its own copy of `sink`. */
  def publishBatch(df: DataFrame, sink: MessageSink, queue: String): Unit =
    publishRows(df.select(col("envelope")), sink) { (s, r) =>
      s.publish(queue, r.getString(0))
    }

  /** The publish path is at-least-once by contract (no publisher confirms,
    * like the reference) — this is the explicit dedup the reference
    * silently delegates downstream (SURVEY.md §0.2): keep exactly one row
    * per idempotence key, deterministically (first by `orderCol`), before
    * publishing. At scale this is one shuffle on the idempotence key. */
  def dedupForPublish(df: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** S7 — job-state writeback: one `[{"action": a}]` message per transition
    * row, keyed by job id (the reference PUTs
    * set_downloader_jobs_state/{id} fire-and-forget, main.py:186-205).
    * Same driver-local/per-partition split as [[publishBatch]]. */
  def writebackStates(transitions: DataFrame, sink: MessageSink,
      queue: String): Unit =
    publishRows(transitions.select(col("job_id"), col("action")), sink) {
      (s, r) => s.publish(s"$queue/${r.getLong(0)}",
        s"""[{"action": ${r.getInt(1)}}]""")
    }

  /** Runs `each` over `df`'s rows under ONE `QueryExecution` and one SQL
    * execution id: `Dataset.foreachPartition` would plan a second one of
    * its own after the plan check, and deserialize each row to a `Row`. */
  private def publishRows(df: DataFrame, sink: MessageSink)(
      each: (MessageSink, InternalRow) => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("publish")) {
      qe.executedPlan match {
        case local: LocalTableScanExec =>
          try local.executeCollect().foreach(each(sink, _))
          finally sink.close()
        case _ =>
          qe.toRdd.foreachPartition { rows =>
            try rows.foreach(each(sink, _))
            finally sink.close()
          }
      }
    }
  }
}
