package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // static conf, read from the SparkContext at session creation — set
    // here so whichever suite creates the shared context installs it
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  /** The formatted physical plan of a DataFrame (for plan-shape asserts). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Every node of a physical plan, adaptive query stages included (their
    * wrappers hide the stage plans from `children`). */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: ((p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planNodes(q.plan)
    case _ => Nil
  }) ++ p.children.flatMap(planNodes))
}
