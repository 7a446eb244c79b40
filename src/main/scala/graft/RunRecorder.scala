package graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The run profiler: records, for the window since its last [[reset]],
  * every Spark job (interval, stage ids, local properties), every SQL
  * execution (interval, description) and every stage's task totals.
  *
  * Listener events arrive asynchronously, so records are read after
  * [[flush]], which returns once the listener bus has delivered every
  * event posted before the call. An action posts all its job, stage, task
  * and execution-end events before it returns, so one flush after it
  * completes its records, and [[reset]] (which flushes, then clears) leaks
  * none of them into the next window. Registers itself on construction,
  * after a reset; [[close]] removes it. */
final class RunRecorder(sc: SparkContext) extends SparkListener
    with AutoCloseable {
  import RunRecorder._

  private val jobRecs = TrieMap.empty[Int, Job]
  private val execRecs = TrieMap.empty[Long, Exec]
  private val stageRecs = TrieMap.empty[Int, Stage]

  def jobs: Map[Int, Job] = jobRecs.toMap
  def execs: Map[Long, Exec] = execRecs.toMap
  def stages: Map[Int, Stage] = stageRecs.toMap

  /** A task total summed over every stage of the window. */
  def sum(f: Stage => Long): Long = stageRecs.values.map(f).sum

  /** [[RunRecorder.split]] of the window [from, until] (epoch ms). */
  def split(from: Long, until: Long): Split = RunRecorder.split(from, until,
    jobRecs.map { case (id, j) => id -> j.span }.toMap,
    execRecs.map { case (id, x) => id -> x.span }.toMap)

  def flush(): Unit = GraftSqlShim.awaitListeners(sc)

  def reset(): Unit = {
    flush()
    jobRecs.clear(); execRecs.clear(); stageRecs.clear()
  }

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).map(p => p.stringPropertyNames.asScala
      .map(k => k -> p.getProperty(k)).toMap).getOrElse(Map.empty)
    jobRecs(e.jobId) = Job(Span(e.time), e.stageIds, props)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobRecs.get(e.jobId).foreach(j =>
      jobRecs(e.jobId) = j.copy(span = j.span.copy(end = e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      stageRecs(e.stageId) = stageRecs.getOrElse(e.stageId, Stage()).add(m)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val wall = si.completionTime.zip(si.submissionTime).fold(0L)(t => t._1 - t._2)
    stageRecs(si.stageId) =
      stageRecs.getOrElse(si.stageId, Stage()).copy(name = si.name, wallMs = wall)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execRecs(s.executionId) = Exec(Span(s.time), s.description)
    case s: SparkListenerSQLExecutionEnd =>
      execRecs.get(s.executionId).foreach(x =>
        execRecs(s.executionId) = x.copy(span = x.span.copy(end = s.time)))
    case _ => ()
  }

  sc.addSparkListener(this)
  reset()
}

object RunRecorder {

  /** A record's interval on the listener clock (epoch ms); `end` stays 0
    * until its end event arrives. */
  final case class Span(start: Long, end: Long = 0L) {
    def finished: Boolean = end > 0
  }

  final case class Job(span: Span, stageIds: Seq[Int],
      props: Map[String, String])

  final case class Exec(span: Span, description: String)

  /** One stage's task totals: executor CPU in ns, run time in ms, shuffle
    * bytes and records written, shuffle records read (in total and per
    * task), input rows and bytes. `name` and `wallMs` (submission to
    * completion) arrive when the stage completes; `wallMs` is -1 before. */
  final case class Stage(tasks: Int = 0, cpuNs: Long = 0L, runMs: Long = 0L,
      shuffleBytes: Long = 0L, shuffleRecords: Long = 0L,
      taskShuffleRecordsRead: Vector[Long] = Vector.empty,
      inputRows: Long = 0L, inputBytes: Long = 0L,
      name: String = "", wallMs: Long = -1L) {
    def finished: Boolean = wallMs >= 0
    def shuffleRecordsRead: Long = taskShuffleRecordsRead.sum

    private[graft] def add(m: TaskMetrics): Stage =
      copy(tasks = tasks + 1, cpuNs = cpuNs + m.executorCpuTime,
        runMs = runMs + m.executorRunTime,
        shuffleBytes = shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleRecords = shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
        taskShuffleRecordsRead =
          taskShuffleRecordsRead :+ m.shuffleReadMetrics.recordsRead,
        inputRows = inputRows + m.inputMetrics.recordsRead,
        inputBytes = inputBytes + m.inputMetrics.bytesRead)
  }

  /** One SQL execution's wall: its jobs' union, each clipped to the
    * execution's end, and the rest (planning and broadcast builds). */
  final case class ExecSplit(id: Long, start: Long, wallMs: Long,
      jobs: Seq[Int], jobMs: Long, planMs: Long)

  /** One window's wall split in ms: `jobMs` + `planMs` + `glueMs` =
    * `wallMs` (see [[split]]). `inJobsMs` sums the finished jobs' own
    * walls, `unfinished` counts records with no end event, and `jobGaps`
    * is each finished job's idle time since the previous jobs ended. */
  final case class Split(wallMs: Long, jobMs: Long, planMs: Long,
      glueMs: Long, inJobsMs: Long, unfinished: Int, execs: Seq[ExecSplit],
      jobGaps: Seq[(Int, Long)])

  /** Length of the union of intervals: overlapping spans count once. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var curS = 0L; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) tot += curE - curS; curS = a; curE = b }
      else curE = curE.max(b)
    }
    if (curE > curS) tot + curE - curS else tot
  }

  /** Splits the window [from, until] over the finished job and SQL
    * execution records clipped to it: job time is the union of the jobs,
    * plan time the union of jobs and executions less the job time, glue
    * the wall less that union. No part is negative, and a job outside
    * every execution is job time. Records with no end event are counted
    * in `unfinished` and left out. In `execs` a job belongs to every
    * execution its start falls in. */
  def split(from: Long, until: Long, jobs: Map[Int, Span],
      execs: Map[Long, Span]): Split = {
    val wall = (until - from).max(0L)
    val done = jobs.toSeq.filter(_._2.finished).sortBy(_._1)
    val doneExecs = execs.toSeq.filter(_._2.finished).sortBy(_._2.start)
    val unfinished = jobs.size - done.size + execs.size - doneExecs.size
    def clip(ss: Seq[Span]) = ss.map(s => (s.start.max(from), s.end.min(until)))
    val jobIv = clip(done.map(_._2))
    val jobMs = covered(jobIv)
    val busy = covered(jobIv ++ clip(doneExecs.map(_._2)))
    val perExec = doneExecs.map { case (id, e) =>
      val inside = done.filter(j => j._2.start >= e.start && j._2.start <= e.end)
      val inMs = covered(inside.map(j => (j._2.start, j._2.end.min(e.end))))
      val w = (e.end - e.start).max(0L)
      ExecSplit(id, e.start, w, inside.map(_._1), inMs, (w - inMs).max(0L))
    }
    var prevEnd = 0L
    val jobGaps = done.map { case (id, j) =>
      val gap = if (prevEnd == 0L) 0L else (j.start - prevEnd).max(0L)
      prevEnd = prevEnd.max(j.end)
      id -> gap
    }
    Split(wall, jobMs, busy - jobMs, wall - busy,
      done.map(j => (j._2.end - j._2.start).max(0L)).sum, unfinished,
      perExec, jobGaps)
  }
}
