package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One time base for the benchmark's own clocks (nanoTime) and Spark's
  * listener timestamps (epoch milliseconds). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
  /** nanoTime of this JVM's start, from the runtime's own record. */
  def jvmStart: Long =
    fromEpochMs(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
}

/** In-memory spans (name, start, end, parent), written out when the run
  * ends. With tracing off, [[span]] runs its body and records nothing. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def currentSpan: Int = stack.get().headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = currentSpan
      stack.set(id :: stack.get())
      val t0 = Clock.now
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, name, parent, t0, Clock.now))
      }
    }

  /** A span measured elsewhere (a listener record); returns its id. */
  def add(name: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, start, end))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in ms of the spans called `name` that lie in [from, until]. */
  def durationsMs(name: String, from: Long, until: Long): Seq[Double] =
    all.filter(s => s.name == name && s.start >= from && s.end <= until)
      .map(s => (s.end - s.start) / 1e6)

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
}

/** Spark listener records for the traced run: jobs (with the benchmark
  * operation that started them), SQL executions, per-stage task time and
  * shuffle bytes, and each streaming trigger's progress. */
final class SparkRecorder extends SparkListener {
  import SparkRecorder.Progress
  final class Job(val id: Int, val start: Long, val op: String,
      val stages: Seq[Int]) { @volatile var end: Option[Long] = None }
  final class Exec(val id: Long, val start: Long) {
    @volatile var end: Option[Long] = None
  }

  val jobs = TrieMap.empty[Int, Job]
  val execs = TrieMap.empty[Long, Exec]
  /** stage -> (task run time in ms, shuffle bytes written) */
  val stageWork = TrieMap.empty[Int, (Long, Long)]
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(SparkRecorder.OpKey))
      .flatMap(Option(_)).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, Clock.fromEpochMs(e.time), op, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = Some(Clock.fromEpochMs(e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageWork.synchronized {
      val (t, b) = stageWork.getOrElse(e.stageId, (0L, 0L))
      stageWork(e.stageId) =
        (t + m.executorRunTime, b + m.shuffleWriteMetrics.bytesWritten)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = new Exec(s.executionId, Clock.fromEpochMs(s.time))
    case s: SparkListenerSQLExecutionEnd =>
      execs.get(s.executionId).foreach(_.end = Some(Clock.fromEpochMs(s.time)))
    case _ => ()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(Clock.fromEpochMs(
        java.time.Instant.parse(p.timestamp).toEpochMilli),
        p.numInputRows, p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap))
    }
  }

  /** Completed jobs started inside [from, until] (by their op tag when
    * one is given). */
  def jobsIn(from: Long, until: Long, op: Option[String] = None): Seq[Job] =
    jobs.values.filter(j => j.end.isDefined && j.start >= from &&
      j.start <= until && op.forall(_ == j.op)).toSeq

  def execsIn(from: Long, until: Long): Seq[Exec] =
    execs.values.filter(x => x.end.isDefined && x.start >= from &&
      x.start <= until).toSeq

  /** (task ms, shuffle bytes) summed over the given jobs' stages. */
  def work(js: Seq[Job]): (Long, Long) =
    js.flatMap(_.stages).distinct.flatMap(stageWork.get)
      .foldLeft((0L, 0L)) { case ((a, b), (t, s)) => (a + t, b + s) }

  def split(from: Long, until: Long): Attribution.Split =
    Attribution.split(from, until,
      jobs.values.toSeq.map(j => Attribution.Rec(j.start, j.end)),
      execs.values.toSeq.map(x => Attribution.Rec(x.start, x.end)))

  /** Listener records as child spans of the operation spans that
    * contain them. */
  def emitSpans(trace: Trace, ops: Seq[Trace.Span]): Unit = {
    def parentOf(t: Long): Int =
      ops.find(o => o.start <= t && t <= o.end).map(_.id).getOrElse(0)
    execs.values.foreach(x => x.end.foreach(e =>
      trace.add("spark.sql_exec", parentOf(x.start), x.start, e)))
    jobs.values.foreach(j => j.end.foreach(e =>
      trace.add("spark.job", parentOf(j.start), j.start, e)))
    progress.asScala.foreach { p =>
      val total = p.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val id = trace.add("streaming.trigger", 0, p.at, p.at + total)
      p.durations.foreach { case (k, v) =>
        if (k != "triggerExecution")
          trace.add(s"streaming.$k", id, p.at, p.at + v * 1000000L)
      }
    }
  }
}

object SparkRecorder {
  val OpKey = "perfbench.op"
  final case class Progress(at: Long, rows: Long, durations: Map[String, Long])
}
