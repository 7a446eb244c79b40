package graft

import scala.util.Using

/** The FAN-OUT WIDTH gate (round 19, r18 verdict item 1): a manual
  * sweep of all bench lanes found the coalesce-before-expansion plan
  * class in r18 (BASELINE.md "Width guards"); this spec makes the next variant a failing test.
  *
  * The property pinned: for every known fan-out lane, the lane's
  * heaviest stage — by task CPU and, independently, by shuffle records
  * written — must run at the session's full shuffle parallelism. AQE
  * sizes exchanges from PRE-expansion bytes, so losing the numbered
  * repartition re-coalesces the expansion input to 1-2 tasks and the
  * d² work runs nearly serial (the r18 x10_linkpred 14.5 s → 3.7 s
  * finding); both detectors see that as the heavy stage's width
  * collapsing.
  *
  * The gate is proven RED, in CI, against the deliberate pessimization:
  * the -Dgraft.fanout.disable seam strips the numbered repartition and
  * the same detector must then FAIL for the lanes whose width collapses
  * at sf0.01 (linkpred, betweenness, basket_rules — BASELINE.md
  * "Retired probe mains", StageWidthProbe; lpa and span_pairs inherit width from their
  * checkpoint's partition count at this scale, so their red case only
  * manifests at larger SF and they are pinned in the green direction
  * only). CPU time, not wall: host load cannot flip the verdict. */
class WidthGateSpec extends SparkSpec {

  private val fanoutLanes = Seq("x10_linkpred", "x10_betweenness",
    "x10_lpa", "x12_basket_rules", "x2_span_pairs")
  private val collapseLanes = Seq("x10_linkpred", "x10_betweenness",
    "x12_basket_rules")

  /** (width of hottest-CPU stage, width of max-records-written stage). */
  private def heavyStageWidths(name: String): (Int, Int) =
    Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
      rec.flush()
      val stages = rec.stages
      val byCpu = stages.values.maxBy(_.cpuNs)
      // the record detector only ranks CPU-SIGNIFICANT stages (>= 30%
      // of the hottest): a parquet scan's map side legitimately runs at
      // the file's split count (1 at sf0.01) while writing the numbered
      // exchange's full record volume — narrow AND record-heavy but
      // cheap, the opposite of the serialized-expansion signature this
      // gate hunts (narrow, record-heavy AND hot)
      val significant = stages.values.filter(_.cpuNs * 10 >= byCpu.cpuNs * 3)
      val byRec = significant.maxBy(_.shuffleRecords)
      (byCpu.tasks, byRec.tasks)
    }

  test("every fan-out lane's heaviest stage (by CPU and by shuffle " +
      "records) runs at full shuffle parallelism") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val width = spark.sessionState.conf.numShufflePartitions
    // fixture warm pass (oncePerDir writes, codegen) outside the gate
    fanoutLanes.foreach(n =>
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save())
    val bad = fanoutLanes.flatMap { n =>
      val (cpuW, recW) = heavyStageWidths(n)
      if (cpuW < width || recW < width)
        Some(s"$n: hottest-CPU stage width $cpuW, max-recW stage width " +
          s"$recW — expansion coalesced below $width")
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("the gate is RED against the deliberate pessimization: stripping " +
      "the numbered repartition collapses the heavy-stage width") {
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val width = spark.sessionState.conf.numShufflePartitions
    sys.props.put("graft.fanout.disable", "true")
    try {
      val stillWide = collapseLanes.filter { n =>
        val (cpuW, recW) = heavyStageWidths(n)
        cpuW >= width && recW >= width
      }
      assert(stillWide.isEmpty,
        s"pessimized lanes NOT caught by the width detector: $stillWide " +
          "— the gate would miss a real coalesce-before-expansion " +
          "regression")
    } finally sys.props.remove("graft.fanout.disable")
  }
}
