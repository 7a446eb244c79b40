package graft

import org.scalatest.funsuite.AnyFunSuite
import RunRecorder.{Span, split}

/** Pins [[RunRecorder.split]]'s interval arithmetic: merged spans, records
  * clipped to the window, jobs clipped to their execution, records with no
  * end event skipped, and a job, plan and glue time that sum to the wall
  * with no negative part. */
class ProbeSpec extends AnyFunSuite {

  private def nonNegative(s: RunRecorder.Split): Unit = {
    val fields = Seq(s.wallMs, s.jobMs, s.planMs, s.glueMs, s.inJobsMs,
      s.unfinished.toLong) ++
      s.execs.flatMap(x => Seq(x.wallMs, x.jobMs, x.planMs)) ++
      s.jobGaps.map(_._2)
    assert(fields.forall(_ >= 0), s"negative field in $s")
    assert(s.jobMs + s.planMs + s.glueMs == s.wallMs, s"parts != wall in $s")
  }

  test("overlapping jobs count once in the job span") {
    val s = split(0L, 1000L, Map(1 -> Span(100, 300), 2 -> Span(200, 400),
      3 -> Span(600, 700)), Map.empty)
    assert(s.inJobsMs == 500L) // per-job walls, summed
    assert(s.jobMs == 400L) // 100..400 merged, plus 600..700
    assert(s.planMs + s.glueMs == 600L)
    assert(s.jobGaps == Seq(1 -> 0L, 2 -> 0L, 3 -> 200L))
    nonNegative(s)
  }

  test("a job or execution with no end event is skipped and counted") {
    val s = split(0L, 1000L, Map(1 -> Span(100, 300), 2 -> Span(250)),
      Map(10L -> Span(50, 400), 11L -> Span(500)))
    assert(s.unfinished == 2)
    assert(s.jobGaps.map(_._1) == Seq(1))
    assert(s.execs.map(_.id) == Seq(10L))
    assert(s.execs.head.jobs == Seq(1))
    assert(s.execs.head.planMs == 150L)
    nonNegative(s)
  }

  test("a job running past its execution's end is clipped to it") {
    val s = split(0L, 500L, Map(1 -> Span(100, 200), 2 -> Span(150, 450)),
      Map(7L -> Span(50, 350)))
    val x = s.execs.head
    assert(x.jobs == Seq(1, 2))
    assert(x.wallMs == 300L)
    assert(x.jobMs == 250L) // 100..350, the overhang past 350 dropped
    assert(x.planMs == 50L)
    // job time is the jobs' union 100..450 = 350; jobs ∪ execution is
    // 50..450 = 400, so plan = 400 − 350 = 50 (the execution's 50..100
    // before its first job) and glue = 500 − 400 = 100. The window-wide
    // plan time equals the execution's own: the overhang past 350 is job
    // time, not negative plan time.
    assert(s.jobMs == 350L && s.planMs == 50L && s.glueMs == 100L)
    nonNegative(s)
  }

  test("a wall shorter than the recorded spans clamps at zero") {
    val s = split(0L, 100L, Map(1 -> Span(10, 400)), Map(1L -> Span(5, 420)))
    // clipped to the window 0..100: the job covers 10..100 = 90, the
    // execution adds 5..10 = 5 of plan time, and 0..5 = 5 is glue — the
    // parts stop at the wall instead of running past it
    assert(s.jobMs == 90L && s.planMs == 5L && s.glueMs == 5L)
    nonNegative(s)
  }

  test("a job outside every execution is job time, not plan or glue") {
    val s = split(0L, 1000L, Map(1 -> Span(100, 200), 2 -> Span(500, 700)),
      Map(5L -> Span(50, 300)))
    // jobs: 100..200 ∪ 500..700 = 300; jobs ∪ execution: 50..300 ∪
    // 500..700 = 450, so plan = 450 − 300 = 150 (50..100 and 200..300)
    // and glue = 1000 − 450 = 550
    assert(s.jobMs == 300L && s.planMs == 150L && s.glueMs == 550L)
    assert(s.execs.head.jobs == Seq(1) && s.execs.head.planMs == 150L)
    nonNegative(s)
  }
}
