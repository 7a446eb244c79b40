package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The lane workload: closed loop, one lane at a time, in whole passes
  * over a fixed lane list (`Opts.lanes`, chosen by run.py), each lane
  * written to the `noop` sink. */
object Lanes {
  /** A run makes max(1, seconds / PassSeconds) whole passes: the same
    * lane mix and the same amount of work in every run. */
  val PassSeconds = 3

  def run(spark: SparkSession, opts: Opts, trace: Trace,
      rec: Option[SparkRecorder]): Outcome = {
    require(opts.lanes.nonEmpty, "no lanes given")
    val lanes = opts.lanes.map(_._1)
    val dir = opts.lanes.toMap
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    // Warm-up, a fixed amount of work: one pass that writes each lane's
    // result for the oracle check made after the run.
    lanes.foreach { n =>
      val t = Clock.now
      fns(n)(spark, dir(n)).coalesce(1).write.mode("overwrite")
        .parquet(s"${opts.outDir}/results/$n")
      System.err.println(f"[perfbench] warm-up $n ${(Clock.now - t) / 1e6}%.0f ms")
    }
    writeOracle(s"${opts.outDir}/results/lanes.json", dir)

    val samples = ArrayBuffer.empty[(String, String, Long, Long)]
    var failed = 0L
    val w = Meter.open()
    val t0 = Clock.now
    val passes = math.max(1, opts.seconds / PassSeconds)
    (0 until passes).foreach { pass =>
      lanes.foreach { n =>
        val tag = s"$n#$pass"
        sc.setLocalProperty(SparkRecorder.OpKey, tag)
        val s = Clock.now
        try trace.span(s"lane.$n") {
          fns(n)(spark, dir(n)).write.format("noop").mode("overwrite").save()
        } catch { case e: Exception => // a failed operation, not a wrong output
          failed += 1
          System.err.println(s"[perfbench] $n failed: $e")
        }
        samples += ((n, tag, s, Clock.now))
        System.err.println(f"[perfbench] $tag ${(samples.last._4 - s) / 1e6}%.0f ms")
      }
    }
    val end = Clock.now
    sc.setLocalProperty(SparkRecorder.OpKey, null)
    val cpu = Meter.cpuNs - w.cpuNs
    val gc = Meter.gcMs - w.gcMs
    val peak = Meter.heapPeakMb
    val live = Meter.liveHeapMb

    val layers = rec.map { r =>
      org.apache.spark.PerfbenchListeners.drain(sc)
      val perOp = samples.map { case (n, tag, s, e) =>
        val js = r.jobsIn(s, e, Some(tag))
        val (taskMs, shuffle) = r.work(js)
        val sp = r.split(s, e)
        (n, Map("wall_ms" -> (e - s) / 1e6, "jobs" -> js.size.toDouble,
          "sql_execs" -> r.execsIn(s, e).size.toDouble,
          "task_ms" -> taskMs.toDouble, "plan_ms" -> sp.plan / 1e6,
          "glue_ms" -> sp.glue / 1e6, "shuffle_bytes" -> shuffle.toDouble))
      }
      val byLane = perOp.groupBy(_._1).flatMap { case (n, xs) =>
        xs.head._2.keys.map(k =>
          s"lane.$n.$k" -> Stats.median(xs.map(_._2(k)).toSeq))
      }
      val js = r.jobsIn(t0, end)
      val (taskMs, shuffle) = r.work(js)
      val ops = samples.size.toDouble
      byLane ++ Map(
        "spark.jobs_per_op" -> js.size / ops,
        "spark.sql_execs_per_op" -> r.execsIn(t0, end).size / ops,
        "spark.task_ms_per_op" -> taskMs / ops,
        "spark.shuffle_bytes_per_op" -> shuffle / ops)
    }.getOrElse(Map.empty)

    // Fewer than forty lane executions fit a run, too few for a
    // percentile tail: the tail is the slowest lane of a pass, median
    // over the run's passes.
    val tail = Stats.median(samples.grouped(lanes.size)
      .map(_.map { case (_, _, s, e) => (e - s) / 1e6 }.max).toSeq)
    Outcome(samples.size.toLong, failed, Nil,
      samples.map { case (_, _, s, e) => e - s }.toArray, tail, t0, end - t0,
      cpu, gc, live, peak, layers)
  }

  /** Each lane's data directory and the program's DuckDB oracle text
    * (null when it declares none), for the checker. */
  private def writeOracle(path: String, dirs: Map[String, String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    dirs.foreach { case (n, d) =>
      o.putObject(n).put("data", d).put("oracle", SparkEntry.oracleSql.get(n).orNull)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      m.writeValueAsString(o))
  }
}
