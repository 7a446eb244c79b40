package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.CurrencyDim

/** J1/J2 — ISIN <-> currency-pair dimension lookups.
  *
  * The reference holds the 84-row dim in-process and does dict lookups
  * (currency.py:93-99). Here the dim is a map literal built once from
  * [[CurrencyDim.rows]] and read with a map subscript, so a lookup is a
  * per-row projection: no join, no broadcast build, no extra Spark job.
  * A miss or a null key reads as null (map subscripts never raise).
  *
  * Miss semantics are part of the contract (SURVEY.md §7.4); columns come
  * out in the order and types of the equivalent `join(dim, Seq(key))`:
  *  - forward (isin -> pair) raises KeyError in the reference
  *    (currency.py:93-94)  => inner-join shape, miss rows DROP;
  *  - reverse (pair -> isin) returns None (currency.py:96-99)
  *    => left-outer shape, miss rows keep NULL isin.
  */
object DimJoins {
  private lazy val byIsin = typedLit(CurrencyDim.rows.map(r => r.isin -> r).toMap)
  private lazy val isinByPair = typedLit(CurrencyDim.rows.map(r => r.pair -> r.isin).toMap)

  private def keyFirst(facts: DataFrame, key: String): Seq[Column] =
    facts(key) +: facts.columns.toSeq.filter(_ != key).map(facts(_))

  /** J1 — forward lookup: facts must carry an `isin` column; appends
    * `base, quote, pair`. Unknown ISINs are dropped (KeyError semantics). */
  def forward(spark: SparkSession)(facts: DataFrame): DataFrame = {
    val dim = byIsin(facts("isin"))
    facts.filter(dim.isNotNull).select(keyFirst(facts, "isin") ++
      Seq("base", "quote", "pair").map(f => dim.getField(f).as(f)): _*)
  }

  /** J2 — reverse lookup: facts must carry a `pair` column; appends
    * `isin_resolved`, NULL for unknown pairs (None semantics). */
  def reverse(spark: SparkSession)(facts: DataFrame): DataFrame =
    facts.select(keyFirst(facts, "pair") :+
      isinByPair(facts("pair")).as("isin_resolved"): _*)
}
