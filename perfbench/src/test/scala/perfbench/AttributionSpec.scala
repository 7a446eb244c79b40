package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Attribution.{Rec, Split}

/** Unfinished and overlapping listener records must never yield a
  * negative part, a double-counted job or a part beyond the wall. */
class AttributionSpec extends AnyFunSuite {
  private def ok(s: Split): Unit = {
    assert(s.jobs >= 0 && s.plan >= 0 && s.glue >= 0, s)
    assert(s.jobs + s.plan + s.glue == s.wall, s)
  }

  test("a synthetic sequence with unfinished and overlapping records") {
    // operation [0, 1000]; executions A [100, 600] and B [400, 900]
    // overlap; job 2 [450, 550] lies in both; job 4 and execution C never
    // end; job 5 ended before it started (a clock step)
    val execs = Seq(Rec(100, Some(600)), Rec(400, Some(900)), Rec(950, None))
    val jobs = Seq(Rec(150, Some(300)), Rec(450, Some(550)),
      Rec(700, Some(800)), Rec(850, None), Rec(820, Some(810)))
    val s = Attribution.split(0, 1000, jobs, execs)
    ok(s)
    // jobs 1-3 once each: 150 + 100 + 100; job 2 is not counted twice
    assert(s.jobs == 350)
    // inside A or B but outside jobs: [100, 900] minus the jobs
    assert(s.plan == 800 - 350)
    // outside every finished execution and job
    assert(s.glue == 200)
  }

  test("records reaching outside the operation are clipped to it") {
    val s = Attribution.split(1000, 2000,
      Seq(Rec(900, Some(1100)), Rec(1900, Some(2500))),
      Seq(Rec(0, Some(3000))))
    ok(s)
    assert(s.jobs == 200 && s.plan == 800 && s.glue == 0)
  }

  test("an operation with no finished record is all glue") {
    val s = Attribution.split(0, 500, Seq(Rec(10, None)), Seq(Rec(0, None)))
    assert(s == Split(500, 0, 0, 500))
  }

  test("random records never give a negative or over-full split") {
    val rng = new java.util.Random(7)
    (1 to 500).foreach { _ =>
      def recs(n: Int) = Seq.fill(n) {
        val s = rng.nextInt(1200) - 100
        Rec(s, if (rng.nextInt(5) == 0) None else Some(s + rng.nextInt(400) - 50))
      }
      ok(Attribution.split(0, 1000, recs(rng.nextInt(8)), recs(rng.nextInt(4))))
    }
  }
}
