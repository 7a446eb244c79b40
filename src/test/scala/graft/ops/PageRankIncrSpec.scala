package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round 19: incremental fixed-round PageRank maintenance
  * ([[Graph.pageRankIncremental]]) must reproduce the full recompute
  * bit for bit — the judged claim of x7_incr_pagerank. The sweep runs
  * RANDOM DIGRAPHS (not just the symmetric judged fixture): sinks,
  * sources appearing/disappearing, nodes leaving the leaky round-k
  * universe — the membership edge cases the invalidation argument
  * covers. */
class PageRankIncrSpec extends SparkSpec {

  import spark.implicits._

  private def runCase(e0: Set[(Long, Long)], e1: Set[(Long, Long)],
      iters: Int): Unit = {
    val (hist, deg0) = Graph.pageRankStateWithHistory(
      e0.toSeq.toDF("src", "dst"), iters)
    val changed = ((e1 -- e0) ++ (e0 -- e1)).toSeq.toDF("src", "dst")
    val want = Graph.pageRank(e1.toSeq.toDF("src", "dst"), iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the MAINTAINED-degree path (deg0 retained, patched from the
    // change set) must land on the full-recompute scores — every case
    // in this sweep covers it: sources losing all edges (no recount
    // row, v0 row anti-dropped), brand-new sources (recount in),
    // untouched sources (v0 row carried)
    val gotDeg = Graph.pageRankIncremental(hist,
        e1.toSeq.toDF("src", "dst"), changed, iters, deg0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotDeg == want,
      s"maintained-degree path != full recompute for e0=$e0 e1=$e1\n" +
        s" got: $gotDeg\nwant: $want")
  }

  test("edge insert, delete, source removal and brand-new node all " +
      "land on the full-recompute scores") {
    val e0 = Set[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), // cycle
      (4L, 5L), (5L, 4L),           // 2-cycle, untouched
      (6L, 7L))                     // 6 is a source, 7 a sink
    val e1 = e0 - ((6L, 7L)) + ((8L, 1L)) + ((2L, 9L))
    runCase(e0, e1, 3)
  }

  test("untouched far region carries over (change confined to one " +
      "component of a disconnected graph)") {
    val far = (100L to 110L).map(i => (i, i + 1)).toSet +
      ((111L, 100L))
    val e0 = far ++ Set((1L, 2L), (2L, 1L))
    runCase(e0, e0 + ((3L, 1L)), 3)
  }

  test("seeded randomized sweep: incremental == full on random " +
      "digraphs and random change sets") {
    val rnd = new scala.util.Random(1907)
    for (_ <- 1 to 5) {
      val n = 10 + rnd.nextInt(8)
      def randEdges(m: Int) = Set.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val e0 = randEdges(2 * n)
      var e1 = e0
      e0.foreach { e => if (rnd.nextInt(4) == 0) e1 -= e }
      e1 ++= randEdges(4)
      if (e1.nonEmpty && e0.nonEmpty && e0 != e1) runCase(e0, e1, 3)
    }
  }
}
