package graft

import java.sql.Timestamp

/** `flagship_revenue_by_nation` rounds a nation's EXACT revenue half-up
  * to cents. A double sum of price × (1 − discount) lands a half-cent
  * tie on either side by summation order (0.50 × 0.93 is
  * 0.46499999999999997 as a double), so a tie must still round up. */
class FlagshipSpec extends SparkSpec {

  import spark.implicits._

  test("half-cent ties round up on the exact revenue") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flagship").toString
    def ts(d: String) = Timestamp.valueOf(s"$d 00:00:00")
    Seq((1L, ts("1996-03-01"), 0.50, 0.07), // 0.465 exactly
      (2L, ts("1996-04-01"), 1.50, 0.01),   // 1.485 exactly
      (3L, ts("1996-05-01"), 100.00, 0.10),
      (3L, ts("1996-06-01"), 0.10, 0.00),
      (3L, ts("1997-02-01"), 5.00, 0.00))   // outside the year
      .toDF("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1), (20L, 2), (30L, 3)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1, "A"), (2, "B"), (3, "C")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val got = Queries.byName("flagship_revenue_by_nation").fn(spark, dir)
      .as[(String, Double, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 0.47, 1L, 1L), ("B", 1.49, 1L, 1L),
      ("C", 90.10, 2L, 1L)))
  }
}
