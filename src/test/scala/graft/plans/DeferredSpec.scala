package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{RunRecorder, SparkSpec}
import scala.util.Using

/** Pins the round-17 AQE-eager-checkpoint fence (r16 verdict item 6):
  * composing an iterative operator through [[Deferred.frame]] runs ZERO
  * Spark jobs, while composing it bare demonstrably runs jobs at
  * construction (the documented AQE + localCheckpoint exposure). */
class DeferredSpec extends SparkSpec {

  private def countJobs[A](f: => A): (A, Int) =
    Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      val r = f
      rec.flush()
      (r, rec.jobs.size)
    }

  private def edges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 2L), (1L, 3L))
      .toDF("src", "dst")
  }

  test("bare iterative construction runs jobs under AQE (the exposure); " +
      "Deferred.frame construction runs ZERO; first action executes " +
      "the thunk and matches the direct result") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val direct = graft.ops.Graph.pageRank(edges, 3)
      .orderBy(col("node")).collect().toSeq
    // exposure: pageRank's per-round localCheckpoint(eager = false) is
    // construction-eager under AQE — building the frame runs jobs
    val (_, bareJobs) = countJobs(graft.ops.Graph.pageRank(edges, 3))
    assert(bareJobs > 0,
      s"expected the documented construction-eager behavior, got $bareJobs")
    // the fence: same operator behind Deferred.frame — zero jobs until
    // an action runs
    val schema = StructType(Seq(StructField("node", LongType),
      StructField("score", LongType)))
    val (wrapped, fencedJobs) = countJobs {
      Deferred.frame(spark, schema)(graft.ops.Graph.pageRank(edges, 3))
    }
    assert(fencedJobs == 0,
      s"Deferred.frame construction must run zero jobs, ran $fencedJobs")
    // still composable BEFORE execution — also zero jobs
    val (composed, composeJobs) = countJobs {
      wrapped.filter(col("score") > 0L).select(col("node"), col("score"))
    }
    assert(composeJobs == 0,
      s"composing a deferred frame must run zero jobs, ran $composeJobs")
    val got = composed.orderBy(col("node")).collect().toSeq
    assert(got == direct, s"deferred result must match direct: $got")
  }

  test("a deferred frame whose build disagrees with the declared schema " +
      "fails LOUDLY at first action, not silently") {
    val schema = StructType(Seq(StructField("wrong", StringType)))
    val df = Deferred.frame(spark, schema)(
      graft.ops.Graph.pageRank(edges, 1))
    val e = intercept[Exception](df.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("does not match")), s"got: $e")
  }
}
