package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import scala.collection.concurrent.TrieMap

/** Per-lane job/stage timeline profiler: runs each named lane once untimed
  * (warm: JIT + codegen + parquet footers) and once timed under a listener
  * that records every job's wall interval, every SQL execution's interval
  * and every stage's task-time roll-up, then prints the timeline. The point
  * is to see WHERE a composite lane (snapshot build + v0 history + maintain
  * + judged equality) spends its wall: which jobs, which stages, and how
  * much of the wall is driver-side gaps between jobs (planning/codegen) vs
  * task time. A stage with ≤ 8 tasks and ≥ 1.5 s of CPU is marked
  * `narrow+hot` — the AQE coalesce-before-expansion signature first found
  * on x10_linkpred (BASELINE.md "Width guards").
  *
  * `--explain` also prints each lane's formatted plan and, after one more
  * run, the executed adaptive plan's parquet scan, exchange, reused
  * exchange and AQE shuffle read counts — the runtime reuse that only the
  * final adaptive plan shows.
  *
  * `Test/runMain graft.Probe lane1,lane2 [--explain] [--sf DIR] [--cpus N]`
  * (defaults: the sf0.1 test tables, all cores). */
object Probe {

  /** A listener record's interval in epoch ms; `end` stays 0 until its end
    * event arrives. */
  private[graft] final case class Span(start: Long, end: Long = 0L) {
    def finished: Boolean = end > 0
  }

  /** One SQL execution's share of the wall: its jobs' merged time, clipped
    * to the execution, and the rest (planning + broadcast builds). */
  private[graft] final case class ExecSplit(id: Long, start: Long,
      wallMs: Long, jobs: Seq[Int], jobMs: Long, planMs: Long)

  /** One timed run's wall split (ms). `gapsMs` is wall outside every job,
    * `planMs` execution time outside jobs, `outsideMs` wall outside every
    * SQL execution (pure driver glue); `jobGaps` is each finished job's
    * idle time since the previous jobs ended. */
  private[graft] final case class Split(inJobsMs: Long, jobSpanMs: Long,
      execSpanMs: Long, gapsMs: Long, planMs: Long, outsideMs: Long,
      unfinished: Int, execs: Seq[ExecSplit], jobGaps: Seq[(Int, Long)])

  /** Length of the union of intervals: overlapping spans count once. */
  private def mergedSpan(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var curS = 0L; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) tot += curE - curS; curS = a; curE = b }
      else curE = curE.max(b)
    }
    if (curE > curS) tot + curE - curS else tot
  }

  /** Splits a timed run's wall over its job and SQL execution records. A
    * record with no end event has no wall, so it is counted in
    * `unfinished` and left out; a job belongs to every execution its start
    * falls in and is clipped to that execution's end. No field can be
    * negative. */
  private[graft] def split(wallMs: Long, jobs: Map[Int, Span],
      execs: Map[Long, Span]): Split = {
    val done = jobs.toSeq.filter(_._2.finished).sortBy(_._1)
    val doneExecs = execs.toSeq.filter(_._2.finished).sortBy(_._2.start)
    val unfinished = jobs.size - done.size + execs.size - doneExecs.size
    val jobSpan = mergedSpan(done.map(j => (j._2.start, j._2.end)))
    val execSpan = mergedSpan(doneExecs.map(e => (e._2.start, e._2.end)))
    val perExec = doneExecs.map { case (id, e) =>
      val inside = done.filter(j => j._2.start >= e.start && j._2.start <= e.end)
      val jobMs = mergedSpan(inside.map(j => (j._2.start, j._2.end.min(e.end))))
      val wall = (e.end - e.start).max(0L)
      ExecSplit(id, e.start, wall, inside.map(_._1), jobMs, (wall - jobMs).max(0L))
    }
    var prevEnd = 0L
    val jobGaps = done.map { case (id, j) =>
      val gap = if (prevEnd == 0L) 0L else (j.start - prevEnd).max(0L)
      prevEnd = prevEnd.max(j.end)
      id -> gap
    }
    Split(done.map(j => (j._2.end - j._2.start).max(0L)).sum, jobSpan,
      execSpan, (wallMs - jobSpan).max(0L), (execSpan - jobSpan).max(0L),
      (wallMs - execSpan).max(0L), unfinished, perExec, jobGaps)
  }

  def main(args: Array[String]): Unit = {
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val lanes = args.head.split(",").map(_.trim).filter(_.nonEmpty)
    val explain = args.contains("--explain")
    val dir = flag("--sf").getOrElse("/root/testdata/sf0.1")
    val cpus = flag("--cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkEntry.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = TrieMap.empty[Int, Span]
    val stageToJob = TrieMap.empty[Int, Int]
    val stageLines = TrieMap.empty[Int, TrieMap[Int, String]]
    val execs = TrieMap.empty[Long, Span]
    val execDesc = TrieMap.empty[Long, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs(s.executionId) = Span(s.time)
          execDesc(s.executionId) = s.description.take(50)
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(end = s.time))
        case _ => ()
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs(e.jobId) = Span(e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(-1L)
        val cpuMs = m.executorCpuTime / 1000000
        val line = f"stage=${si.stageId}%4d tasks=${si.numTasks}%3d " +
          f"wall=${wall}%5d ms run=${m.executorRunTime}%6d ms " +
          f"cpu=$cpuMs%6d ms " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8d K " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d K " +
          f"in=${m.inputMetrics.bytesRead / 1024}%8d K  ${si.name.take(60)}" +
          (if (si.numTasks <= 8 && cpuMs >= 1500) "  <-- narrow+hot" else "")
        stageToJob.get(si.stageId).foreach { jid =>
          stageLines.getOrElseUpdate(jid, TrieMap.empty)(si.stageId) = line
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    lanes.foreach { name =>
      def lane() = Queries.byName(name).fn(spark, dir)
      def exec(): Unit = lane().write.format("noop").mode("overwrite").save()
      try {
        exec() // warm
        jobs.clear(); stageToJob.clear(); stageLines.clear()
        execs.clear(); execDesc.clear()
        val t0 = System.nanoTime()
        exec()
        val wallMs = (System.nanoTime() - t0) / 1000000
        Thread.sleep(800) // listener bus drain
        val s = split(wallMs, jobs.toMap, execs.toMap)
        println(f"[prof] ===== $name wall=${wallMs / 1000.0}%6.2f s " +
          f"jobs=${s.jobGaps.size} inJobs=${s.inJobsMs / 1000.0}%6.2f s " +
          f"(gaps=${s.gapsMs / 1000.0}%5.2f s driver-side)" +
          f" sqlExecs=${s.execs.size} jobSpan=${s.jobSpanMs / 1000.0}%5.2f" +
          f" execSpan=${s.execSpanMs / 1000.0}%5.2f (plan/bcast inside execs=" +
          f"${s.planMs / 1000.0}%5.2f, outside execs=" +
          f"${s.outsideMs / 1000.0}%5.2f) unfinished=${s.unfinished}")
        // per-execution table: each SQL execution's wall, its jobs, and
        // the planning/broadcast share — the direct localization for
        // "too many materializations" findings
        val t0ms = s.execs.headOption.map(_.start).getOrElse(0L)
        s.execs.foreach { x =>
          println(f"[prof] exec=${x.id}%3d t+${(x.start - t0ms) / 1000.0}%6.2f " +
            f"wall=${x.wallMs}%5d ms jobs=${x.jobs.size}%2d " +
            f"(jobWall=${x.jobMs}%5d ms, plan/bcast=${x.planMs}%5d ms) " +
            f"[${x.jobs.mkString(",")}] " +
            execDesc.getOrElse(x.id, "").replace('\n', ' '))
        }
        s.jobGaps.foreach { case (jid, gap) =>
          val j = jobs(jid)
          val st = stageLines.getOrElse(jid, TrieMap.empty[Int, String])
          println(f"[prof] job=$jid%3d wall=${j.end - j.start}%5d ms " +
            f"(gap-before=$gap%5d ms) stages=${st.size}")
          st.toSeq.sortBy(_._1).foreach(l => println("[prof]   " + l._2))
        }
        if (explain) {
          val df = lane()
          df.explain("formatted")
          // drives this DataFrame's own execution (a write would plan a
          // fresh one), so the adaptive plan below is the final one
          df.queryExecution.toRdd.foreach(_ => ())
          val nodes = SparkSpec.planNodes(df.queryExecution.executedPlan)
          println(s"[plan] $name Scans=${nodes.count(_.isInstanceOf[FileSourceScanExec])}" +
            s" Exchanges=${nodes.count(_.isInstanceOf[Exchange])}" +
            s" Reused=${nodes.count(_.isInstanceOf[ReusedExchangeExec])}" +
            s" ShuffleReads=${nodes.count(_.isInstanceOf[AQEShuffleReadExec])}")
        }
      } catch {
        case e: Exception =>
          println(s"[prof] $name FAILED: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
