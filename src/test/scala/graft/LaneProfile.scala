package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Per-lane job/stage timeline profiler (optimization round 21): runs each
  * named lane once untimed (warm: JIT + codegen + parquet footers) and once
  * timed under a listener that records every job's wall interval and every
  * stage's task-time roll-up, then prints the timeline. The point is to see
  * WHERE a composite lane (snapshot build + v0 history + maintain + judged
  * equality) spends its wall: which jobs, which stages, and how much of the
  * wall is driver-side gaps between jobs (planning/codegen) vs task time.
  * `Test/runMain graft.LaneProfile lane1,lane2 [sfDir] [cpus]` */
object LaneProfile {
  def main(args: Array[String]): Unit = {
    val lanes = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class JobRec(start: Long, var end: Long = 0L,
        stages: TrieMap[Int, String] = TrieMap.empty)
    val jobs = TrieMap.empty[Int, JobRec]
    val stageToJob = TrieMap.empty[Int, Int]
    // SQL execution intervals: planning time is executionStart → first
    // job of that execution; the rest of a gap between jobs is broadcast
    // builds / driver glue. Attributing gaps tells restructuring apart
    // from unavoidable planning.
    case class ExecRec(start: Long, var end: Long = 0L, var desc: String = "")
    val execs = TrieMap.empty[Long, ExecRec]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs(s.executionId) = ExecRec(s.time, desc = s.description.take(50))
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = s.time)
        case _ => ()
      }
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs(e.jobId) = JobRec(e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(-1L)
        val line = f"stage=${si.stageId}%4d tasks=${si.numTasks}%3d " +
          f"wall=${wall}%5d ms run=${m.executorRunTime}%6d ms " +
          f"cpu=${m.executorCpuTime / 1000000}%6d ms " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8d K " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d K " +
          f"in=${m.inputMetrics.bytesRead / 1024}%8d K  ${si.name.take(60)}"
        stageToJob.get(si.stageId).foreach { jid =>
          jobs.get(jid).foreach(_.stages(si.stageId) = line)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    lanes.foreach { name =>
      def exec(): Unit = Queries.byName(name).fn(spark, dir)
        .write.format("noop").mode("overwrite").save()
      try {
        exec() // warm
        jobs.clear(); stageToJob.clear(); execs.clear()
        val t0 = System.nanoTime()
        exec()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(800) // listener bus drain
        // a job or execution with no end event has no wall: attributing
        // it would print negative times, so it is counted and left out
        val ordered = jobs.toSeq.filter(_._2.end > 0).sortBy(_._1)
        val finishedExecs = execs.toSeq.filter(_._2.end > 0)
        val unfinished = jobs.size - ordered.size + execs.size - finishedExecs.size
        val jobWall = ordered.map(j => j._2.end - j._2.start).sum / 1000.0
        // merged union of job intervals vs merged union of exec intervals:
        // wall outside every SQL execution = pure driver glue; inside an
        // execution but before/without jobs = planning + broadcast builds
        def mergedSpan(iv: Seq[(Long, Long)]): Long = {
          val s = iv.filter(x => x._2 > x._1).sortBy(_._1)
          var tot = 0L; var curS = Long.MinValue; var curE = Long.MinValue
          s.foreach { case (a, b) =>
            if (a > curE) { tot += (curE - curS).max(0L); curS = a; curE = b }
            else curE = curE.max(b)
          }
          tot + (curE - curS).max(0L)
        }
        val jobSpan = mergedSpan(ordered.map(j => (j._2.start, j._2.end)))
        val execSpan = mergedSpan(finishedExecs.map(e => (e._2.start, e._2.end)))
        println(f"[prof] ===== $name wall=$wall%6.2f s jobs=${ordered.size} " +
          f"inJobs=$jobWall%6.2f s (gaps=${(wall - jobSpan / 1000.0).max(0.0)}%5.2f s driver-side)" +
          f" sqlExecs=${execs.size} jobSpan=${jobSpan / 1000.0}%5.2f" +
          f" execSpan=${execSpan / 1000.0}%5.2f (plan/bcast inside execs=" +
          f"${(execSpan - jobSpan).max(0L) / 1000.0}%5.2f, outside execs=" +
          f"${(wall - execSpan / 1000.0).max(0.0)}%5.2f) unfinished=$unfinished")
        // per-execution table (round 22): each SQL execution's wall, its
        // jobs, and the planning/broadcast share (exec wall minus the jobs
        // inside it) — the direct localization for "too many
        // materializations" findings. Jobs are merged and clipped to the
        // execution, so concurrent or overhanging jobs cannot push
        // plan/bcast below zero.
        val t0ms = finishedExecs.map(_._2.start).sorted.headOption.getOrElse(0L)
        finishedExecs.sortBy(_._2.start).foreach { case (eid, er) =>
          val inside = ordered.filter(j => j._2.end > 0 &&
            j._2.start >= er.start && j._2.end <= er.end + 50)
          val jw = mergedSpan(inside.map(j => (j._2.start, j._2.end.min(er.end))))
          println(f"[prof] exec=$eid%3d t+${(er.start - t0ms) / 1000.0}%6.2f " +
            f"wall=${er.end - er.start}%5d ms jobs=${inside.size}%2d " +
            f"(jobWall=$jw%5d ms, plan/bcast=${(er.end - er.start - jw).max(0L)}%5d ms) " +
            f"[${inside.map(_._1).mkString(",")}] " +
            er.desc.replace('\n', ' '))
        }
        var prevEnd = 0L
        ordered.foreach { case (jid, r) =>
          val gap = if (prevEnd == 0) 0 else (r.start - prevEnd).max(0L)
          prevEnd = prevEnd.max(r.end)
          println(f"[prof] job=$jid%3d wall=${r.end - r.start}%5d ms " +
            f"(gap-before=$gap%5d ms) stages=${r.stages.size}")
          r.stages.toSeq.sortBy(_._1).foreach(s => println("[prof]   " + s._2))
        }
      } catch {
        case e: Exception =>
          println(s"[prof] $name FAILED: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
