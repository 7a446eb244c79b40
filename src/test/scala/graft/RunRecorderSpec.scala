package graft

import scala.util.Using

/** Pins [[RunRecorder]]'s windows on a live session, with no sleep: one
  * flush after an action completes its records, and a reset straight
  * after an action leaks none of its events into the next window. */
class RunRecorderSpec extends SparkSpec {

  /** One job: a 7-task map stage shuffling into a 5-task reduce stage. */
  private def rddAction(): Unit = {
    spark.sparkContext.parallelize(0 until 700, 7).map(i => (i % 11, 1))
      .reduceByKey(_ + _, 5).collect(); ()
  }

  /** One SQL execution writing a 3-partition range. */
  private def sqlAction(): Unit =
    spark.range(0, 3000, 1, 3).write.format("noop").mode("overwrite").save()

  test("after an action and one flush every job, execution and stage " +
      "is finished and the stage task counts match the tasks run") {
    Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      (1 to 10).foreach { i =>
        rec.reset()
        rddAction()
        sqlAction()
        rec.flush()
        val (jobs, execs, stages) = (rec.jobs, rec.execs, rec.stages)
        assert(jobs.nonEmpty && jobs.values.forall(_.span.finished) &&
          execs.nonEmpty && execs.values.forall(_.span.finished) &&
          stages.values.forall(_.finished), s"pass $i: $jobs $execs $stages")
        assert(stages.values.map(_.tasks).toSeq.sorted == Seq(3, 5, 7),
          s"pass $i: $stages")
        assert(rec.sum(_.taskShuffleRecordsRead.sum) ==
          rec.sum(_.shuffleRecords), s"pass $i: $stages")
      }
    }
  }

  test("a reset straight after an action leaks none of its events into " +
      "the next window") {
    val sc = spark.sparkContext
    Using.resource(new RunRecorder(sc)) { rec =>
      (1 to 5).foreach { i =>
        sc.setLocalProperty("graft.test.window", "before")
        (1 to 20).foreach(_ => rddAction())
        rec.reset()
        sc.setLocalProperty("graft.test.window", "after")
        sqlAction()
        sc.setLocalProperty("graft.test.window", null)
        rec.flush()
        val windows = rec.jobs.values.map(_.props.get("graft.test.window"))
        assert(windows.nonEmpty && windows.forall(_.contains("after")),
          s"pass $i: $windows")
        assert(rec.execs.size == 1, s"pass $i: ${rec.execs}")
        assert(rec.stages.values.map(_.tasks).toSeq == Seq(3),
          s"pass $i: ${rec.stages}")
      }
    }
  }
}
