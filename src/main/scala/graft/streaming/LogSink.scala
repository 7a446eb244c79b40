package graft.streaming

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** S12 — rotating file log sink (ops-plane).
  *
  * The reference wires a size-rotating file handler as its service log —
  * 10 MB per file, 5 backups (reference downloader/main.py:98-105). The
  * Spark-first twin is NOT a per-row appender (a data-plane log would be
  * O(rows) driver I/O — exactly what a distributed engine must never
  * funnel through one file): it is a pure-JVM size-rotated JSONL writer
  * fed by a [[StreamingQueryListener]], so what lands in the bounded
  * local files is the engine's own lifecycle/progress telemetry — one
  * line per micro-batch / query event, O(batches) regardless of data
  * volume. Data-plane egress stays in `sources.QueueSink`.
  *
  * Rotation contract (same as the reference's handler): the active file
  * is `base.log`; when an append would push it past `maxBytes` it rolls
  * to `base.log.1`, existing backups shift up, and `base.log.maxBackups`
  * falls off. A single line larger than `maxBytes` still lands (alone,
  * in a fresh file) — size is a rotation trigger, not a write limit.
  */
final class RotatingJsonlLogger(dir: String, base: String = "graft",
    maxBytes: Long = 10L * 1024 * 1024, maxBackups: Int = 5) {
  require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
  require(maxBackups >= 1, s"maxBackups must be >= 1, got $maxBackups")

  private val root = new File(dir)
  root.mkdirs()

  private def fileAt(i: Int): File =
    new File(root, if (i == 0) s"$base.log" else s"$base.log.$i")

  // base.log -> .1 -> ... -> .maxBackups (oldest deleted first so the
  // rename chain never collides)
  private def rotate(): Unit = {
    fileAt(maxBackups).delete()
    var i = maxBackups - 1
    while (i >= 0) {
      val f = fileAt(i)
      if (f.exists()) { f.renameTo(fileAt(i + 1)); () }
      i -= 1
    }
  }

  def appendLine(json: String): Unit = synchronized {
    val bytes = (json + "\n").getBytes(StandardCharsets.UTF_8)
    val cur = fileAt(0)
    if (cur.exists() && cur.length() > 0 && cur.length() + bytes.length > maxBytes)
      rotate()
    val out = new FileOutputStream(fileAt(0), true)
    try out.write(bytes)
    finally out.close()
  }

  /** Existing log files, newest first (`base.log`, `.1`, `.2`, ...). */
  def files: Seq[File] = (0 to maxBackups).map(fileAt).filter(_.exists())

  /** All retained lines in chronological order (oldest backup first). */
  def retainedLines: Seq[String] = synchronized {
    files.reverse.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList
      finally src.close()
    }
  }
}

/** Wires query lifecycle + per-batch progress into the rotating log —
  * register via `spark.streams.addListener(new RotatingLogListener(l))`.
  * Event volume is one line per micro-batch per query (plus start/stop),
  * so the log grows with TIME, not data size — the property that makes a
  * driver-local service log legitimate at 100 TB. */
final class RotatingLogListener(logger: RotatingJsonlLogger)
    extends StreamingQueryListener {
  import graft.Bench.esc

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    logger.appendLine(s"""{"event":"started","id":"${e.id}",""" +
      s""""name":"${esc(Option(e.name).getOrElse(""))}",""" +
      s""""ts":"${esc(e.timestamp)}"}""")

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    logger.appendLine(s"""{"event":"progress","id":"${p.id}",""" +
      s""""batch":${p.batchId},${TriggerFields(p)},""" +
      s""""ts":"${esc(p.timestamp)}"}""")
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    logger.appendLine(s"""{"event":"terminated","id":"${e.id}","error":""" +
      e.exception.map(x => "\"" + esc(x) + "\"").getOrElse("null") + "}")
}

/** A trigger's input rows and its `durationMs` split, as JSON fields for
  * the progress log line and the heartbeat. A phase the trigger did not
  * run (an idle trigger plans and adds no batch) reads null. */
private[streaming] object TriggerFields {
  val Phases: Seq[String] = Seq("latestOffset", "queryPlanning", "addBatch",
    "walCommit", "triggerExecution")

  def apply(p: StreamingQueryProgress): String =
    s""""rows":${p.numInputRows},"durationMs":{""" + Phases.map { k =>
      s""""$k":${Option(p.durationMs.get(k)).getOrElse("null")}"""
    }.mkString(",") + "}"
}
