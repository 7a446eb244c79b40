package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.builder.getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  /** The formatted physical plan of a DataFrame (for plan-shape asserts). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  def planNodes(p: SparkPlan): Seq[SparkPlan] = SparkSpec.planNodes(p)
}

object SparkSpec {
  /** The shared session shape on 4 cores plus GraftExtensions — a static
    * conf, read from the SparkContext at session creation, so whichever
    * suite creates the shared context installs it. */
  def builder: SparkSession.Builder = SparkEntry.sessionBuilder(4)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Every node of a physical plan, adaptive query stages included (their
    * wrappers hide the stage plans from `children`). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planNodes(q.plan)
    case _ => Nil
  }) ++ p.children.flatMap(planNodes))
}
