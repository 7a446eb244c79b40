package graft.ops

import graft.SparkSpec

/** Round 20: incremental fixed-round LPA maintenance
  * ([[Graph.labelPropagationIncremental]]) must reproduce the full
  * recompute bit for bit — the judged claim of x7_incr_lpa. The sweep
  * runs random graphs plus the membership edge cases the dirty
  * recurrence covers: nodes vanishing with their last edge, nodes born
  * in the merge, far regions the change cannot reach. */
class LpaIncrSpec extends SparkSpec {

  import spark.implicits._

  private def runCase(e0: Set[(Long, Long)], e1: Set[(Long, Long)],
      rounds: Int): Unit = {
    val (hist, votes0) = Graph.labelPropagationStateWithHistory(
      e0.toSeq.toDF("src", "dst"), rounds)
    val changed = ((e1 -- e0) ++ (e0 -- e1)).toSeq.toDF("src", "dst")
    val want = Graph.labelPropagation(e1.toSeq.toDF("src", "dst"), rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the PATCHED-votes path (votes0 retained, v1 votes derived as an
    // anti-patch + touched-pair dedup) must land on the full-recompute
    // labels — every case covers it: pairs vanishing, pairs appearing,
    // pairs changed in one direction only
    val gotPatched = Graph.labelPropagationIncremental(hist,
        e1.toSeq.toDF("src", "dst"), changed, rounds, votes0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotPatched == want,
      s"patched-votes path != full recompute for e0=$e0 e1=$e1\n" +
        s" got: $gotPatched\nwant: $want")
  }

  test("edge insert, delete, bridge removal, vanished node and " +
      "brand-new clique land on the full-recompute labels") {
    // two triangles joined by a bridge; v1 cuts the bridge, removes
    // node 7's only edge entirely, and adds a fresh 2-clique
    val e0 = Set[(Long, Long)](
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L),  // bridge
      (6L, 7L))   // 7 vanishes in v1
    val e1 = e0 - ((3L, 10L)) - ((6L, 7L)) + ((6L, 1L)) + ((20L, 21L))
    runCase(e0, e1, 3)
  }

  test("untouched far region carries over verbatim (change confined to " +
      "one component)") {
    val far = (100L to 110L).map(i => (i, i + 1)).toSet + ((111L, 100L))
    val e0 = far ++ Set((1L, 2L), (2L, 3L))
    runCase(e0, e0 + ((3L, 4L)), 3)
    runCase(e0, e0 - ((1L, 2L)), 2)
  }

  test("seeded randomized sweep: incremental == full on random graphs " +
      "and random change sets") {
    val rnd = new scala.util.Random(2016)
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
