package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the driver-facing bench-artifact contract (VERDICT r13 #8).
  *
  * Round 12's BENCH artifact was unparseable — four failing queries'
  * 200-char exception strings, duplicated across the two timed passes,
  * pushed the final stdout line past the driver's ~2000-char tail window —
  * and the loss was only caught a round later. These tests exercise
  * [[Bench.render]] directly against synthetic worst cases so any future
  * regression (line too long, duplicate JSON keys, unescaped control chars,
  * lost -1 sentinel) fails in `sbt test`, not in the next round's judging.
  */
class BenchContractSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** A 200-char multi-line exception string like Spark actually throws. */
  private val uglyError: String =
    ("org.apache.spark.SparkException: Job aborted due to stage failure:\n" +
      "\tat org.apache.spark.scheduler.DAGScheduler.failJobAndIndependentStages(DAGScheduler.scala:2856)\n" +
      "\"quoted\" and  control chars included for escape coverage paddingpaddingpadding").take(200)

  private def parse(line: String) = mapper.readTree(line)

  test("compact line: current benched set + r12-shaped errors fits the driver window") {
    // the r12 failure replayed: every benched query timed, several failed
    // with long multi-line errors, each failure reported by BOTH timed
    // passes (duplicate keys into render). Round 19: the set under test
    // is what a ROUND actually renders — coreBench + the LARGEST
    // rotation slice (Bench.main never emits the whole pool; the pool
    // has outgrown a single line by design, that is what the rotation
    // is for — the worst-case-round budget is the real contract)
    val names = Bench.coreBench ++
      (0 to 2).map(Bench.rotationSlice).maxBy(_.size)
    val results = names.map(n => n -> 1.2345678)
    val failing = names.take(6)
    val errors = (failing ++ failing).map(n => n -> uglyError)
    val withFailures = results.map { case (n, t) =>
      n -> (if (failing.contains(n)) -1.0 else t)
    }
    val metrics = names.map(n => n -> Seq("shuffle_bytes" -> 123456789L,
      "rows_read" -> 987654321L, "bytes_read" -> 1234567890L, "jobs" -> 12L,
      "sql_execs" -> 3L, "task_ms" -> 4567L, "wall_ms" -> 1235L,
      "job_ms" -> 1000L, "plan_ms" -> 200L, "glue_ms" -> 35L)).toMap
    val (full, compact) =
      Bench.render(withFailures, metrics, errors, "/root/testdata/sf0.1")

    assert(!compact.contains("\n"), "compact must be a single line")
    assert(compact.length <= Bench.CompactBudget,
      s"compact line ${compact.length} chars exceeds driver window budget ${Bench.CompactBudget} — " +
        "the benched set has outgrown the artifact contract; shrink names/precision or raise the fallback")
    val cj = parse(compact)
    assert(cj.get("metric").asText == "total")
    // per-query COVERAGE is the non-negotiable: every benched lane must
    // appear in the driver artifact, whatever fallback tier fires
    assert(cj.get("queries").size == names.size)
    // error DETAIL degrades before coverage (r15 contract): either the
    // deduped error map survived the budget, or it was dropped entirely
    // ({}), never truncated to garbage — -1 sentinels below carry the
    // which-failed information either way
    val errSize = cj.get("errors").size
    assert(errSize == failing.size || errSize == 0,
      s"errors map must be complete-deduped or dropped, got $errSize keys")
    // -1 failure sentinel survives whatever precision fallback was chosen
    failing.foreach { n =>
      assert(cj.get("queries").get(n).asDouble == -1.0, s"$n lost its -1 sentinel")
    }
    // full line: also one parseable line, carries the plan metrics
    assert(!full.contains("\n"))
    val fj = parse(full)
    assert(fj.get("metrics").size == names.size)
    assert(fj.get("metrics").get(names.head).get("shuffle_bytes").asLong == 123456789L)
    // control chars and quotes in error strings survived JSON escaping
    assert(fj.get("errors").get(failing.head).asText.contains("\"quoted\""))
  }

  test("compact line: every query failing still renders parseable JSON") {
    // beyond-worst case — even if the precision/err-cap fallback can't make
    // the line fit, the emitted JSON must stay structurally valid so the
    // driver records errors instead of a parse failure
    val names = SparkEntry.benchQueries
    val results = names.map(n => n -> -1.0)
    val errors = names.map(n => n -> uglyError)
    val (_, compact) = Bench.render(results, Map.empty, errors, "/sf")
    assert(!compact.contains("\n"))
    assert(compact.length <= Bench.CompactBudget)
    val cj = parse(compact)
    // with EVERY query failing, the error map cannot fit next to full
    // coverage — the r15 no-error-map fallback keeps all -1 sentinels
    // (coverage) and drops the text (stderr + bench_out.json carry it)
    assert(cj.get("queries").size == names.size)
    names.foreach { n =>
      assert(cj.get("queries").get(n).asDouble == -1.0)
    }
    assert(cj.get("errors").size == 0 || cj.get("errors").size == names.size)
    assert(cj.get("value").asDouble == 0.0) // no successful query → total 0
  }

  test("full and compact agree on query timings at full precision") {
    val results = Seq("a" -> 0.12345678, "b" -> 2.0)
    val (full, compact) = Bench.render(results, Map.empty, Nil, "/sf")
    val (fj, cj) = (parse(full), parse(compact))
    Seq("a", "b").foreach { n =>
      assert(fj.get("queries").get(n).asDouble == cj.get("queries").get(n).asDouble)
    }
    assert(fj.get("value").asDouble > 2.12 && fj.get("value").asDouble < 2.13)
  }

  test("rotation: core + pool are declared queries, slices partition the " +
      "pool with period 3, and the worst-case round fits the budget") {
    val declared = Queries.all.map(_.name).toSet
    (Bench.coreBench ++ Bench.rotationPool).foreach { n =>
      assert(declared.contains(n), s"bench lane $n is not a declared query")
    }
    // core and pool are disjoint and duplicate-free: a lane is either
    // every-round or every-3rd-round, never both/twice
    assert(Bench.coreBench.distinct.size == Bench.coreBench.size)
    assert(Bench.rotationPool.distinct.size == Bench.rotationPool.size)
    assert(Bench.coreBench.toSet.intersect(Bench.rotationPool.toSet).isEmpty)
    // every statically-declared bench lane is still covered by the split
    assert(SparkEntry.benchQueries.toSet.subsetOf(
      (Bench.coreBench ++ Bench.rotationPool).toSet))
    // the previously-unbenched heavy lanes the r15 VERDICT named are in
    assert(Seq("x4_nb_classify", "x2_winnow_pairs", "x10_scc", "x10_hits",
      "x3_ivf_pq_residual").forall(Bench.rotationPool.contains))
    // the three slices partition the pool — every lane in exactly one
    val slices = (0 to 2).map(Bench.rotationSlice)
    assert(slices.flatten.sorted == Bench.rotationPool.sorted)
    // determinism + period 3: slice(r) == slice(r + 3) for any round
    (16 to 22).foreach { r =>
      assert(Bench.rotationSlice(r) == Bench.rotationSlice(r + 3))
    }
    // budget: the compact line must fit the WORST slice at full precision
    val maxSlice = slices.maxBy(_.size)
    val names = Bench.coreBench ++ maxSlice
    val results = names.map(n => n -> 9.1234)
    val (_, compact) = Bench.render(results, Map.empty, Nil,
      "/root/testdata/sf0.1")
    assert(compact.length <= Bench.CompactBudget,
      s"compact ${compact.length} chars with ${maxSlice.size} rotation lanes")
    assert(parse(compact).get("queries").size == names.size)
  }
}
