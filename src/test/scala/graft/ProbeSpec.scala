package graft

import org.scalatest.funsuite.AnyFunSuite
import Probe.{Span, split}

/** Pins [[Probe.split]]'s interval arithmetic: merged spans, jobs clipped
  * to their execution, records with no end event skipped, and no
  * negative attribution. */
class ProbeSpec extends AnyFunSuite {

  private def nonNegative(s: Probe.Split): Unit = {
    val fields = Seq(s.inJobsMs, s.jobSpanMs, s.execSpanMs, s.gapsMs,
      s.planMs, s.outsideMs, s.unfinished.toLong) ++
      s.execs.flatMap(x => Seq(x.wallMs, x.jobMs, x.planMs)) ++
      s.jobGaps.map(_._2)
    assert(fields.forall(_ >= 0), s"negative field in $s")
  }

  test("overlapping jobs count once in the job span") {
    val s = split(1000L, Map(1 -> Span(100, 300), 2 -> Span(200, 400),
      3 -> Span(600, 700)), Map.empty)
    assert(s.inJobsMs == 500L) // per-job walls, summed
    assert(s.jobSpanMs == 400L) // 100..400 merged, plus 600..700
    assert(s.gapsMs == 600L)
    assert(s.jobGaps == Seq(1 -> 0L, 2 -> 0L, 3 -> 200L))
    nonNegative(s)
  }

  test("a job or execution with no end event is skipped and counted") {
    val s = split(1000L, Map(1 -> Span(100, 300), 2 -> Span(250)),
      Map(10L -> Span(50, 400), 11L -> Span(500)))
    assert(s.unfinished == 2)
    assert(s.jobGaps.map(_._1) == Seq(1))
    assert(s.execs.map(_.id) == Seq(10L))
    assert(s.execs.head.jobs == Seq(1))
    assert(s.execs.head.planMs == 150L)
    nonNegative(s)
  }

  test("a job running past its execution's end is clipped to it") {
    val s = split(500L, Map(1 -> Span(100, 200), 2 -> Span(150, 450)),
      Map(7L -> Span(50, 350)))
    val x = s.execs.head
    assert(x.jobs == Seq(1, 2))
    assert(x.wallMs == 300L)
    assert(x.jobMs == 250L) // 100..350, the overhang past 350 dropped
    assert(x.planMs == 50L)
    // the job span reaches past the execution: no negative plan time
    assert(s.jobSpanMs == 350L && s.execSpanMs == 300L && s.planMs == 0L)
    nonNegative(s)
  }

  test("a wall shorter than the recorded spans clamps at zero") {
    val s = split(100L, Map(1 -> Span(10, 400)), Map(1L -> Span(5, 420)))
    assert(s.gapsMs == 0L && s.outsideMs == 0L)
    nonNegative(s)
  }
}
