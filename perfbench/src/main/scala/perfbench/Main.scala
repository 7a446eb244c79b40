package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark process: builds the Spark session and the loopback
  * peers, runs one workload's warm-up and measured phase, and writes
  * `result.json` (end-to-end metrics, per-layer metrics when traced, the
  * operation counts and any failed check) plus `spans.jsonl` when traced.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <lanes> <out dir> <spark cores> <ticks_ws offered ticks/s>
  *
  * `<lanes>` lists the lane workload's lanes in order, each with the
  * directory of the tables it reads (`name=dir,name=dir`), or `-`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traced, lanes, out, cores, rate) = args
    val laneDirs = if (lanes == "-") Nil else lanes.split(",").toSeq.map { l =>
      val Array(name, dir) = l.split("=", 2); name -> dir
    }
    val opts = Opts(workload, seed.toLong, seconds.toInt, traced == "1",
      laneDirs, out, rate.toInt)
    Files.createDirectories(Paths.get(out))
    val trace = new Trace(opts.trace)
    val spark = Session.build(cores.toInt, out)
    val rec = if (opts.trace) {
      val r = new SparkRecorder
      spark.sparkContext.addSparkListener(r)
      spark.streams.addListener(r.streaming)
      Some(r)
    } else None

    val o = try workload match {
      case "ticks_ws" => TicksWs.run(spark, opts, trace, rec)
      case "jobs_rest" => JobsRest.run(spark, opts, trace, rec)
      case "lanes" => Lanes.run(spark, opts, trace, rec)
      case other => sys.error(s"unknown workload $other")
    } catch { case e: Throwable =>
      // exit at once: Spark's non-daemon threads would keep the JVM up
      e.printStackTrace()
      sys.exit(1)
    }
    val lat = o.latNs.map(_ / 1e6).toSeq
    val n = o.latNs.length.max(1)
    val e2e = Map(
      "setup_s" -> (o.firstOpAt - Clock.jvmStart) / 1e9,
      "op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "op_tail_ms" -> o.tailMs,
      "ops_per_s" -> o.latNs.length / (o.measuredNs / 1e9),
      "cpu_ms_per_op" -> o.cpuNs / 1e6 / n,
      "live_heap_mb" -> o.liveHeapMb)
    val layers = if (!opts.trace) Map.empty[String, Double] else {
      rec.foreach(r => r.emitSpans(trace, trace.all.filter(s =>
        s.name.startsWith("lane.") || s.name == "job")))
      TimedSink.emitSpans(trace)
      trace.write(Paths.get(out, "spans.jsonl"))
      o.layers ++ Map(
        "jvm.gc_ms_per_op" -> o.gcMs.toDouble / n,
        "jvm.heap_peak_mb" -> o.heapPeakMb)
    }
    spark.stop()

    def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ",", "}")
    val problems = o.problems.map(p => "\"" + p.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\"").mkString("[", ",", "]")
    Files.writeString(Paths.get(out, "result.json"),
      s"""{"workload":"$workload","attempted":${o.attempted},"failed":${o.failed},""" +
        s""""problems":$problems,""" +
        s""""e2e":${obj(e2e)},"layers":${obj(layers)}}""" + "\n")
  }
}
