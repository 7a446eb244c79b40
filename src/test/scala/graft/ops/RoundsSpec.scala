package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RoundsSpec extends SparkSpec {
  import spark.implicits._

  test("Rounds.fresh keeps a self-joining loop's plan statistics bounded (SPARK-39748)") {
    // the cut under test: a checkpoint that PRESERVES its plan's
    // statistics would compound them round over round
    val cutRound: DataFrame => DataFrame = Rounds.fresh
    // a round that joins its previous state with itself three times:
    // join size estimates are products of the children's, so preserved
    // statistics gain ~3x their digits per round
    def step(s: DataFrame): DataFrame =
      s.join(s.select(col("k"), col("v").as("v2")), Seq("k"))
        .join(s.select(col("k"), col("v").as("v3")), Seq("k"))
        .select(col("k"), least(col("v"), col("v2"), col("v3")).as("v"))
    val seed = (1L to 8L).map(i => (i, i * 10)).toDF("k", "v")
    // 6 rounds: a preserving cut reaches ~10^1600 here, still seconds to
    // plan; a few rounds more and the stats arithmetic alone runs minutes
    val states = (1 to 6).scanLeft(seed)((s, _) => cutRound(step(s)))
    val sizes = states.tail.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(sizes.forall(_ < BigInt(10).pow(40)),
      s"plan statistics grew: ${sizes.map(_.toString.length)} digits per round")
    assert(states.last.as[(Long, Long)].collect().toSet ==
      (1L to 8L).map(i => (i, i * 10)).toSet)
  }
}
