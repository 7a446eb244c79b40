package graft.ops

import graft.SparkSpec
import graft.schema.CurrencyDim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{broadcast, col}

class DimJoinsSpec extends SparkSpec {
  import spark.implicits._

  test("dim has 84 unique ISINs and pairs (currency.py:7-91)") {
    assert(CurrencyDim.rows.size == 84)
    assert(CurrencyDim.rows.map(_.isin).distinct.size == 84)
    assert(CurrencyDim.rows.map(_.pair).distinct.size == 84)
    assert(CurrencyDim.rows.forall(r => r.pair == r.base + r.quote))
    assert(CurrencyDim.rows.head.isin == "XFC000000001")
  }

  test("J1 forward join drops unknown ISINs (KeyError semantics)") {
    val facts = Seq("XFC000000001", "XFC000000999").toDF("isin")
    val out = DimJoins.forward(spark)(facts)
    assert(out.count() == 1)
    assert(out.select("pair").as[String].head() == "btceur")
  }

  test("J2 reverse join keeps unknown pairs with null isin (None semantics)") {
    val facts = Seq("btceur", "nosuchpair").toDF("pair")
    val out = DimJoins.reverse(spark)(facts)
    assert(out.count() == 2)
    val m = out.select("pair", "isin_resolved").as[(String, Option[String])]
      .collect().toMap
    assert(m("btceur").contains("XFC000000001"))
    assert(m("nosuchpair").isEmpty)
  }

  test("both dim lookups plan with no join and no exchange") {
    def joinsAndExchanges(df: DataFrame) = planNodes(df.queryExecution.executedPlan).collect {
      case p: BaseJoinExec => p
      case p: Exchange => p
    }
    val facts = Seq("XFC000000001").toDF("isin")
    assert(joinsAndExchanges(DimJoins.forward(spark)(facts)).isEmpty)
    val facts2 = Seq("btceur").toDF("pair")
    assert(joinsAndExchanges(DimJoins.reverse(spark)(facts2)).isEmpty)
  }

  test("both dim lookups return the rows and schema of the dim joins " +
      "they replace, over every key, misses and a null key") {
    val dim = CurrencyDim.rows.toDF()
    // the key sits in the middle, so the key-first reordering is checked
    def facts(keys: Seq[String], key: String) =
      (keys ++ Seq("nosuch", "", null, keys.head)).zipWithIndex
        .map { case (k, i) => (i, k, s"t$i") }.toDF("n", key, "tag")
    def same(got: DataFrame, want: DataFrame): Unit = {
      assert(got.schema == want.schema)
      assert(got.collect().map(_.toString).sorted.toSeq ==
        want.collect().map(_.toString).sorted.toSeq)
    }
    val byIsin = facts(CurrencyDim.rows.map(_.isin), "isin")
    same(DimJoins.forward(spark)(byIsin),
      byIsin.join(broadcast(dim), Seq("isin"), "inner"))
    val byPair = facts(CurrencyDim.rows.map(_.pair), "pair")
    same(DimJoins.reverse(spark)(byPair),
      byPair.join(broadcast(dim.select(col("pair"),
        col("isin").as("isin_resolved"))), Seq("pair"), "left"))
  }
}
