package graft.ops

import graft.{RunRecorder, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import scala.util.Using

/** X6c — Spark's OWN skew-join rewrite (AQE OptimizeSkewedJoin) judged
  * as a first-class lever next to the manual salt (x6_salted_join):
  * plant a hot key carrying ~80% of the fact side, force the shuffled
  * sort-merge shape, drop the skew thresholds to the planted scale, and
  * pin that the runtime rewrite actually FIRES (`isSkewJoin` on the
  * executed SortMergeJoin) while producing row-for-row the salted
  * twin's results. This is the production path at 100 TB — a skewed
  * shuffle partition is split into advisory-sized sub-partitions and
  * the matching build partition replicated, no query rewrite — with
  * manual salting the fallback for un-splittable key-group aggs.
  *
  * The suite also pins the SUPPRESSION rule that shaped the judged
  * query: when the operator directly downstream reuses the join's hash
  * distribution (groupBy on the join key), OptimizeSkewedJoin declines
  * the rewrite — splitting would force an extra exchange — unless
  * `forceOptimizeSkewedJoin` overrides the tradeoff.
  *
  * Thresholds are bracketed (save/restore) so the shared suite session
  * is untouched for other specs.
  */
class AqeSkewSpec extends SparkSpec {

  /** All SortMergeJoin nodes in the FINAL adaptive plan. */
  private def smjNodes(sp: SparkPlan): Seq[SortMergeJoinExec] = {
    val self = sp match {
      case j: SortMergeJoinExec => Seq(j)
      case _ => Seq.empty
    }
    val nested = sp match {
      case a: AdaptiveSparkPlanExec => smjNodes(a.executedPlan)
      case q: QueryStageExec => smjNodes(q.plan)
      case _ => Seq.empty
    }
    self ++ nested ++ sp.children.flatMap(smjNodes)
  }

  private def withSkewConfs[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production-shaped RATIOS at test scale: the hot partition is
      // >2x the median and far over the byte threshold, so the planted
      // skew is what trips the rewrite, not a degenerate zero threshold
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** ~400k facts, 80% on 'HOT' (same shape as the judged x6 lanes); a
    * 98-row dim so the join MUST shuffle (broadcast disabled). */
  private def facts: DataFrame = spark.range(0, 400000L).select(
    when(col("id") % 10 < 8, lit("HOT"))
      .otherwise((col("id") % 97).cast("string")).as("skew_key"),
    (col("id") % 50 + 1).as("qty"))

  private def dim: DataFrame = spark.range(98).select(
    when(col("id") === 97, lit("HOT")).otherwise(col("id").cast("string"))
      .as("skew_key"),
    (col("id") * 2 + 1).as("weight"))

  /** The judged x6_aqe_skew shape: agg keyed on the DIM side, so the
    * join's output distribution is NOT reused downstream. */
  private def aqeShape: DataFrame =
    facts.join(dim.hint("MERGE"), Seq("skew_key"))
      .groupBy(col("weight"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("total_qty"))

  test("X6c AQE OptimizeSkewedJoin fires on the planted hot key " +
      "(isSkewJoin pinned on the executed SortMergeJoin)") {
    withSkewConfs {
      val joined = aqeShape
      joined.collect() // AQE finalizes only on execution
      val smjs = smjNodes(joined.queryExecution.executedPlan)
      assert(smjs.nonEmpty, "expected a SortMergeJoin in the executed plan")
      assert(smjs.exists(_.isSkewJoin),
        "OptimizeSkewedJoin did not fire: no SortMergeJoin has " +
          s"isSkewJoin=true\n${joined.queryExecution.executedPlan}")
    }
  }

  test("X6c a groupBy on the JOIN key suppresses the rewrite (exchange " +
      "reuse wins) — forceOptimizeSkewedJoin overrides, same results") {
    withSkewConfs {
      def byJoinKey = facts.join(dim.hint("MERGE"), Seq("skew_key"))
        .groupBy(col("skew_key")).agg(count(lit(1)).as("n"))
      val plain = byJoinKey
      plain.collect()
      assert(!smjNodes(plain.queryExecution.executedPlan).exists(_.isSkewJoin),
        "expected NO skew rewrite when the agg reuses the join's " +
          "distribution (forceOptimizeSkewedJoin=false)")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val forced = byJoinKey
      // collect forced ITSELF (a derived .orderBy would execute a
      // different QueryExecution and leave forced's plan un-finalized)
      val forcedRows = forced.collect()
      assert(smjNodes(forced.queryExecution.executedPlan).exists(_.isSkewJoin),
        "forceOptimizeSkewedJoin=true must fire the rewrite despite the " +
          "extra exchange")
      assert(forcedRows.sortBy(_.getString(0)).toSeq ==
        plain.collect().sortBy(_.getString(0)).toSeq)
    }
  }

  test("X6c the AQE-split join's results are row-for-row the manual " +
      "salted join's (skew handling must be invisible in values)") {
    withSkewConfs {
      val viaAqe = aqeShape.orderBy(col("weight")).collect()
      val viaSalt = Scale.saltedJoin(facts, dim.hint("SHUFFLE_HASH"),
          "skew_key")
        .groupBy(col("weight"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("total_qty"))
        .orderBy(col("weight")).collect()
      assert(viaAqe.toSeq == viaSalt.toSeq)
    }
  }

  test("X6c without the rewrite the hot key rides ONE task — the " +
      "straggler the split removes, measured") {
    // contrast point: skew-join AND coalescing off, 4 reducers — the
    // max join-stage task input must dwarf the median (per-task shuffle
    // read rows; tasks under 1k rows are other stages' and filtered)
    val sizes = withSkewConfs {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
        aqeShape.collect()
        rec.flush()
        rec.stages.values.flatMap(_.taskShuffleRecordsRead)
          .filter(_ >= 1000).toSeq.sorted
      }
    }
    assert(sizes.length >= 2, s"expected several join-stage tasks: $sizes")
    val max = sizes.last
    val med = sizes(sizes.length / 2)
    // 80% of 400k facts on one key => the hot task reads >= 320k rows;
    // the remaining 80k rows spread over the other reducers
    assert(max >= 320000L,
      s"expected the hot key's task to read >= 320k rows, got $max")
    assert(max >= 5L * med,
      s"expected >= 5x max/median imbalance without the rewrite: " +
        s"max=$max med=$med (all=${sizes.mkString(",")})")
  }
}
