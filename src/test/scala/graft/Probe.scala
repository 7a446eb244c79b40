package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Per-lane job/stage timeline profiler: runs each named lane once untimed
  * (warm: JIT + codegen + parquet footers) and once timed under the
  * [[RunRecorder]], then prints the timeline: the wall split into job,
  * plan/broadcast and glue time, each SQL execution, and each job with its
  * stages' task totals. The point
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

    val rec = new RunRecorder(spark.sparkContext)

    lanes.foreach { name =>
      def lane() = Queries.byName(name).fn(spark, dir)
      def exec(): Unit = lane().write.format("noop").mode("overwrite").save()
      try {
        exec() // warm
        rec.reset()
        val from = System.currentTimeMillis()
        exec()
        val until = System.currentTimeMillis()
        rec.flush()
        val s = rec.split(from, until)
        val (jobs, execs, stages) = (rec.jobs, rec.execs, rec.stages)
        println(f"[prof] ===== $name wall=${s.wallMs / 1000.0}%6.2f s " +
          f"jobs=${s.jobGaps.size} inJobs=${s.inJobsMs / 1000.0}%6.2f s " +
          f"sqlExecs=${s.execs.size} job=${s.jobMs / 1000.0}%5.2f " +
          f"plan/bcast=${s.planMs / 1000.0}%5.2f " +
          f"glue=${s.glueMs / 1000.0}%5.2f unfinished=${s.unfinished}")
        // per-execution table: each SQL execution's wall, its jobs, and
        // the planning/broadcast share — the direct localization for
        // "too many materializations" findings
        val t0ms = s.execs.headOption.map(_.start).getOrElse(0L)
        s.execs.foreach { x =>
          println(f"[prof] exec=${x.id}%3d t+${(x.start - t0ms) / 1000.0}%6.2f " +
            f"wall=${x.wallMs}%5d ms jobs=${x.jobs.size}%2d " +
            f"(jobWall=${x.jobMs}%5d ms, plan/bcast=${x.planMs}%5d ms) " +
            f"[${x.jobs.mkString(",")}] " +
            execs.get(x.id).fold("")(_.description.take(50)).replace('\n', ' '))
        }
        // a stage listed by several jobs (skipped in the later ones) is
        // shown under the first, the job that ran it
        val stageJob = jobs.toSeq.sortBy(-_._1)
          .flatMap { case (jid, j) => j.stageIds.map(_ -> jid) }.toMap
        s.jobGaps.foreach { case (jid, gap) =>
          val j = jobs(jid).span
          val st = stages.filter(x => stageJob.get(x._1).contains(jid))
          println(f"[prof] job=$jid%3d wall=${j.end - j.start}%5d ms " +
            f"(gap-before=$gap%5d ms) stages=${st.size}")
          st.toSeq.sortBy(_._1).foreach { case (sid, x) =>
            val cpuMs = x.cpuNs / 1000000
            println(f"[prof]   stage=$sid%4d tasks=${x.tasks}%3d " +
              f"wall=${x.wallMs}%5d ms run=${x.runMs}%6d ms cpu=$cpuMs%6d ms " +
              f"shufRrec=${x.shuffleRecordsRead}%9d " +
              f"shufW=${x.shuffleBytes / 1024}%8d K " +
              f"in=${x.inputBytes / 1024}%8d K  ${x.name.take(60)}" +
              (if (x.tasks <= 8 && cpuMs >= 1500) "  <-- narrow+hot" else ""))
          }
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
