package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Star with hub 1 (symmetrized): the hub must out-rank every leaf,
    * and leaves are symmetric so their scores are identical. */
  private def star(nLeaves: Int) = {
    val fwd = (2 to nLeaves + 1).map(l => (1L, l.toLong))
    (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
  }

  test("X10b pagerank: hub dominates, leaves tie, scores are bounded and deterministic") {
    val r = Graph.pageRank(star(8), 3)
      .as[(Long, Long)].collect().toMap
    assert(r.size == 9)
    val hub = r(1L)
    val leaves = (2L to 9L).map(r)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie")
    assert(hub > leaves.head * 4,
      s"hub $hub should dominate leaf ${leaves.head}")
    // every score carries at least the undamped base mass
    assert(r.values.forall(_ >= 150000L))
    // exact-integer arithmetic: a second run is bit-identical
    val r2 = Graph.pageRank(star(8), 3).as[(Long, Long)].collect().toMap
    assert(r2 == r)
  }

  test("X10c triangles: K4 counts, path is triangle-free, input noise normalizes") {
    // K4 on {1,2,3,4}: 4 triangles, each node in C(3,2) = 3 of them —
    // fed in MESSY form (reversed duplicates, a self-loop) to pin the
    // undirected normalization
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 3L), (3L, 3L)).toDF("src", "dst")
    val r = Graph.triangles(k4).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path has wedges but no closures: empty result, not zero rows per node
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.triangles(path).count() == 0)
  }

  test("X10c triangles: hub-and-spoke skew — wedges form at low-degree corners only") {
    // star hub 1 with 30 leaves plus ONE leaf-leaf edge: exactly 1
    // triangle. Degree orientation points every star edge INTO the hub,
    // so the hub (degree 30) generates zero wedges — the skew contract.
    val edges = ((2 to 31).map(l => (1L, l.toLong)) :+ (2L, 3L))
      .toDF("src", "dst")
    val r = Graph.triangles(edges).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("X10c co-supply edges: per-part clique, cap drops hot parts before the pair join") {
    val li = Seq(
      // part 0: suppliers 1,2,3 -> triangle clique
      (0L, 1L), (0L, 2L), (0L, 3L), (0L, 3L),
      // part 499: suppliers 4,5 -> one edge
      (499L, 4L), (499L, 5L),
      // part 7: filtered out by partMod
      (7L, 8L), (7L, 9L)).toDF("l_partkey", "l_suppkey")
    val e = Graph.coSupplyEdges(li, 499L).as[(Long, Long)].collect().toSet
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // cap 2: part 0's 3-supplier set is dropped entirely, part 499 survives
    val capped = Graph.coSupplyEdges(li, 499L, maxPerPart = 2)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((4L, 5L)))
  }

  test("X10b trade-graph edges: disjoint id spaces, symmetrized") {
    val li = Seq((10L, 3L)).toDF("l_orderkey", "l_suppkey")
    val ord = Seq((10L, 7L)).toDF("o_orderkey", "o_custkey")
    val e = Graph.tradeEdges(li, ord).as[(Long, Long)].collect().toSet
    // customer 7 -> node 14 (even), supplier 3 -> node 7 (odd), both ways
    assert(e == Set((14L, 7L), (7L, 14L)))
  }

  test("X10d k-core: chain peels by CASCADE, one hop per synchronous round") {
    // triangle {1,2,3} with a tail 3-4-5-6. For k=2 the tail unravels
    // from the end — node 6 first, then 5, then 4 — which raw-degree
    // filtering could never do (4 and 5 start with degree 2 >= k).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    def core(rounds: Int): Map[Long, Long] =
      Graph.kCore(edges, 2, rounds).as[(Long, Long)].collect().toMap
    // round 1 removes only 6; round 2 only 5; round 3 only 4
    assert(core(1).keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(core(2).keySet == Set(1L, 2L, 3L, 4L))
    assert(core(3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // fixpoint: extra rounds are no-ops
    assert(core(5) == core(3))
  }

  test("X10d k-core: over-k graph survives intact, under-k graph empties; " +
      "input orientation and duplicates normalize away") {
    // K4 is its own 3-core; duplicate/reversed input edges collapse
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (3L, 4L)).toDF("src", "dst")
    assert(Graph.kCore(k4, 3, 2).as[(Long, Long)].collect().toMap ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCore(k4, 4, 3).count() == 0)
  }

  test("X10p personalizedPageRank: mass concentrates near the source, " +
      "unreachable nodes stay exactly 0, global symmetry is broken") {
    // two symmetric stars joined by a bridge 1-11, plus an isolated
    // component {100, 101}: global pageRank cannot tell hub 1 from
    // hub 11 apart — PPR seeded at 1 must
    val s1 = (2 to 5).flatMap(l => Seq((1L, l.toLong), (l.toLong, 1L)))
    val s2 = (12 to 15).flatMap(l => Seq((11L, l.toLong), (l.toLong, 11L)))
    val edges = (s1 ++ s2 ++ Seq((1L, 11L), (11L, 1L),
      (100L, 101L), (101L, 100L))).toDF("src", "dst")
    val r = Graph.personalizedPageRank(edges, Seq(1L).toDF("node"), 3)
      .as[(Long, Long)].collect().toMap
    assert(r.size == 12)
    // the source dominates, its own leaves beat the far star's leaves,
    // and the far hub gets only propagated mass
    assert(r(1L) > r(11L), s"source ${r(1L)} must outrank far hub ${r(11L)}")
    assert(r(2L) > r(12L), "near leaves must outrank far leaves")
    // symmetric leaves of each star tie
    assert((2L to 5L).map(r).distinct.size == 1)
    assert((12L to 15L).map(r).distinct.size == 1)
    // the unreachable component carries exactly zero
    assert(r(100L) == 0L && r(101L) == 0L)
    // deterministic integer arithmetic: rerun is identical
    val r2 = Graph.personalizedPageRank(edges, Seq(1L).toDF("node"), 3)
      .as[(Long, Long)].collect().toMap
    assert(r2 == r)
  }

  test("X10f bfsHops: min-hops on a path with a shortcut, bounded depth " +
      "truncates, unreachable nodes are absent, direction is honored") {
    // path 1-2-3-4-5 plus shortcut 1-4: node 4 is 1 hop, 5 is 2 hops;
    // 9-10 is a separate component (unreachable from 1)
    val dirEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 10L))
    val und = (dirEdges ++ dirEdges.map(_.swap)).toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val hops = Graph.bfsHops(und, src, 10)
      .as[(Long, Long)].collect().toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    // maxHops truncates: depth 1 sees only the direct neighbors
    assert(Graph.bfsHops(und, src, 1).as[(Long, Long)].collect().toMap ==
      Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // directed edges: from 5 nothing is reachable on the forward graph
    val fwd = dirEdges.toDF("src", "dst")
    assert(Graph.bfsHops(fwd, Seq(5L).toDF("node"), 3)
      .as[(Long, Long)].collect().toMap == Map(5L -> 0L))
    // multi-source: two sources each claim their own component
    val multi = Graph.bfsHops(und, Seq(1L, 9L).toDF("node"), 10)
      .as[(Long, Long)].collect().toMap
    assert(multi(9L) == 0L && multi(10L) == 1L && multi(5L) == 2L)
  }

  test("X10s scc: two 3-cycles over a one-way bridge, a trimmed tail, " +
      "and a 2-cycle — hand-computed component labels") {
    // cycle A: 1→2→3→1; cycle B: 10→11→12→10; one-way bridge 3→10
    // (so A and B are NOT mutually reachable); tail 12→20→21 (trims);
    // mutual pair 30↔31
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L),
      (12L, 20L), (20L, 21L),
      (30L, 31L), (31L, 30L)).toDF("src", "dst")
    val r = Graph.scc(edges).as[(Long, Long)].collect().toMap
    assert(r.size == 10)
    assert(Seq(1L, 2L, 3L).forall(r(_) == 1L), s"cycle A: $r")
    assert(Seq(10L, 11L, 12L).forall(r(_) == 10L), s"cycle B: $r")
    assert(r(20L) == 20L && r(21L) == 21L, s"tail singletons: $r")
    assert(r(30L) == 30L && r(31L) == 30L, s"2-cycle: $r")
    // determinism: second run identical
    assert(Graph.scc(edges).as[(Long, Long)].collect().toMap == r)
  }

  test("X10s scc: a pure DAG is all singletons (trim closes it without " +
      "any coloring rounds); a long cycle is one component") {
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.scc(dag).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val r2 = Graph.scc(ring).as[(Long, Long)].collect().toMap
    assert(r2.size == 12 && r2.values.forall(_ == 0L))
  }

  test("X10s scc doubling: 200-node directed rings in BOTH id layouts " +
      "(increasing and decreasing along the walk) close inside " +
      "maxInner=40 — hook-only propagation needed one round per hop " +
      "and would abort (r16 verdict item 1)") {
    val n = 200L
    // ids increase along the walk: the forward color loop is the
    // adversarial side (color(u) = u until the wavefront arrives)
    val ringUp = spark.range(n).selectExpr("id as src",
      s"(id + 1) % $n as dst")
    val r1 = Graph.scc(ringUp).as[(Long, Long)].collect()
    assert(r1.length == n && r1.forall(_._2 == 0L), s"up-ring: ${r1.take(5).toSeq}")
    // ids decrease along the walk: the backward loop's adversarial side
    val ringDown = spark.range(n).selectExpr("id as src",
      s"(id + $n - 1) % $n as dst")
    val r2 = Graph.scc(ringDown).as[(Long, Long)].collect()
    assert(r2.length == n && r2.forall(_._2 == 0L), s"down-ring: ${r2.take(5).toSeq}")
  }

  test("X10i linkPredict: only the non-adjacent pair with >= minCommon " +
      "shared neighbors survives, with exact Jaccard; the center-degree " +
      "cap silences hub-mediated wedges") {
    // square 1-2-4-3-1 plus diagonal 2-3: Γ(1)=Γ(4)={2,3}, so (1,4)
    // shares 2 neighbors and is NOT an edge; (2,3) also shares 2 but IS
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val r = Graph.linkPredict(edges, minCommon = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 4L, 2L, 1000000L))) // union = 2+2-2 = 2 -> 1.0
    // cap at deg <= 2: centers 2 and 3 (deg 3) are dropped, so the only
    // wedges left run through 1 and 4 — and their leaf pair (2,3) is an
    // existing edge: nothing predicted
    assert(Graph.linkPredict(edges, maxDeg = 2, minCommon = 2L).isEmpty)
    // direction-insensitive: reversing every edge changes nothing
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    assert(Graph.linkPredict(rev, minCommon = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq == r)
  }

  test("X10k label propagation: disjoint cliques converge to their min " +
      "label and stay stable across extra rounds") {
    // two triangles + an isolated edge — three communities
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    val r2 = Graph.labelPropagation(edges, 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == want, s"2-round labels wrong: $r2")
    // a fixed point: further rounds change nothing
    val r5 = Graph.labelPropagation(edges, 5)
      .as[(Long, Long)].collect().toMap
    assert(r5 == want, s"labels not stable at round 5: $r5")
    // direction-insensitive (symmetrized internally)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    assert(Graph.labelPropagation(rev, 2)
      .as[(Long, Long)].collect().toMap == want)
    // self-loops are inert in BOTH symmetrization halves (review
    // finding: a loop surviving the reversed branch doubles its
    // node's self-vote). Star center 3 with loop, leaves 1 and 2:
    // round 1 at 3 sees {1, 2, self 3} all once -> takes 1, and the
    // star converges to 1 by round 2; a doubled self-vote would give
    // 3 a 2-count for its own label in round 1 and freeze the center
    // (and then the whole star) on {3 -> 3, 1 -> 1, 2 -> 2}.
    val looped = Seq((3L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    assert(Graph.labelPropagation(looped, 2)
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("X10k label propagation: the Fanout.pinned PIN branch yields " +
      "labels identical to the checkpoint branch (round-20 reshape)") {
    // the round-20 LPA carries its static frame through Fanout.pinned;
    // below the derived threshold every unit test exercises only the
    // checkpoint branch, so force the PIN branch (threshold 0) and
    // assert label equality — the same global-seam discipline as the
    // round-18 pin A/B (BASELINE.md "The static-frame pin, size-gated"),
    // scoped with try/finally. StressBench's lpa_1m is the
    // at-scale point; this pins branch equivalence in CI.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val want = Graph.labelPropagation(edges, 3)
      .as[(Long, Long)].collect().toMap
    sys.props.put("graft.fanout.pinMinBytes", "0")
    try {
      val pinned = Graph.labelPropagation(edges, 3)
        .as[(Long, Long)].collect().toMap
      assert(pinned == want,
        s"PIN-branch labels diverge from checkpoint branch: $pinned vs $want")
    } finally sys.props.remove("graft.fanout.pinMinBytes")
  }

  test("X10l modularity: two separated cliques score high, one blob " +
      "scores zero, hand-computed Q matches") {
    // two triangles joined by one bridge edge: m = 7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val lpa = Graph.labelPropagation(edges, 2)
    val q = Graph.modularity(edges, lpa)
      .select($"n_edges", $"n_communities", $"intra_edges", $"q_ppm")
      .as[(Long, Long, Long, Long)].collect().head
    // LPA labels the triangles 1 and 10; bridge is the only inter edge.
    // d_1 = {1:2, 2:2, 3:3} = 7, d_10 = 7; Q = (4·7·6 − (49+49))/(4·49)
    //     = 70/196 → floor(1e6·70/196) = 357142
    assert(q == ((7L, 2L, 6L, 357142L)), s"modularity mismatch: $q")
    // everything in ONE community: Q = (4m·m − (2m)²)/4m² = 0 exactly
    val one = edges.select($"src".as("node")).unionAll(
        edges.select($"dst".as("node"))).distinct()
      .withColumn("label", lit(0L))
    val q1 = Graph.modularity(edges, one).select($"q_ppm")
      .as[Long].collect().head
    assert(q1 == 0L, s"single-community Q must be 0: $q1")
    // every node its own community: all edges inter, Q < 0
    val singleton = one.select($"node").withColumn("label", $"node")
    val qs = Graph.modularity(edges, singleton).select($"q_ppm")
      .as[Long].collect().head
    assert(qs < 0L, s"all-singleton Q must be negative: $qs")
  }

  test("X10m sssp: bounded-hop Bellman-Ford tightens a cheaper 2-edge " +
      "path over the direct edge; unreached nodes stay absent") {
    // 0 -> 1 (5), 1 -> 2 (1), 0 -> 2 (10), 3 isolated from source
    val edges = Seq((0L, 1L, 5L), (1L, 2L, 1L), (0L, 2L, 10L),
      (3L, 1L, 1L)).toDF("src", "dst", "w")
    val src = Seq(0L).toDF("node")
    val r1 = Graph.sssp(edges, src, 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 0L, 1L -> 5L, 2L -> 10L),
      s"1 round = direct edges only: $r1")
    val r2 = Graph.sssp(edges, src, 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(0L -> 0L, 1L -> 5L, 2L -> 6L),
      s"round 2 must tighten 2 via 0->1->2: $r2")
    // node 3 never appears (no inbound path from the source set)
    assert(!r2.contains(3L))
    // multi-source: the min over seeds wins per node
    val r2m = Graph.sssp(edges, Seq(0L, 3L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(r2m(1L) == 1L && r2m(2L) == 2L && r2m(3L) == 0L, s"$r2m")
  }

  test("X10o clusteringCoeff: triangle+pendant exact ppm, K4 all-1e6, " +
      "degree-1 nodes null") {
    // triangle {1,2,3} with pendant 4 on node 1
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val r = Graph.clusteringCoeff(g)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2),
          if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(r(1L) == ((3L, 1L, 2000000L / 6L)),
      "node 1: deg 3, 1 triangle -> 2/(3*2) = 333333 ppm")
    assert(r(2L) == ((2L, 1L, 1000000L)), "node 2: both neighbors linked")
    assert(r(3L) == ((2L, 1L, 1000000L)))
    assert(r(4L) == ((1L, 0L, -1L)), "degree-1 node has no pair: null")
    // K4: every node deg 3, 3 triangles -> 6/(3*2) = exactly 1e6
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    val k = Graph.clusteringCoeff(k4)
      .select(col("cc_ppm")).as[Long].collect().toSeq
    assert(k.length == 4 && k.forall(_ == 1000000L))
  }

  test("X10p assortativity: a star is exactly -1, a clique nulls " +
      "(zero degree variance), a hub-chain lands in between") {
    // star K_{1,3}: every edge joins deg-3 to deg-1 -> r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val sr = Graph.assortativity(star)
      .as[(Long, Option[Long])].collect().head
    assert(sr._1 == 6L, "3 undirected edges = 6 endpoint pairs")
    assert(sr._2.contains(-1000000L), s"star must be -1 ppm exactly: $sr")
    // regular graph: all degrees equal -> den = 0 -> null, not a crash
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val tr = Graph.assortativity(tri)
      .as[(Long, Option[Long])].collect().head
    assert(tr._2.isEmpty, "zero degree variance nulls honestly")
    // driver-side replay on a mixed graph (path of 4 + pendant on 2)
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)).toDF("src", "dst")
    val deg = Map(1L -> 1L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 5L -> 1L)
    val ends = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L))
      .flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = ends.size.toLong
    val sx = ends.map(_._1).sum
    val sxy = ends.map(e => e._1 * e._2).sum
    val sxx = ends.map(e => e._1 * e._1).sum
    val num = n * sxy - sx * sx
    val den = n * sxx - sx * sx
    val exp = Math.floorDiv(1000000L * num, den)
    val mr = Graph.assortativity(mixed)
      .as[(Long, Option[Long])].collect().head
    assert(mr == ((n, Some(exp))), s"replay mismatch: $mr vs ($n, $exp)")
    assert(exp < 0L, "hub-to-leaf structure is disassortative")
  }

  test("X10q hits: bipartite fixture matches an exact integer replay; " +
      "the strong hub and shared authority rank top at 1e6") {
    // customers 2, 4 -> suppliers 1, 3, 5; c2 buys from all three,
    // c4 only from s1 (the shared authority)
    val es = Seq((2L, 1L), (2L, 3L), (2L, 5L), (4L, 1L))
    val df = es.toDF("src", "dst")
    // exact driver replay of 2 max-normalized rounds in BigInt
    def round(h: Map[Long, BigInt]): (Map[Long, BigInt], Map[Long, BigInt]) = {
      val aRaw = es.groupBy(_._2).map { case (v, in) =>
        v -> in.map(e => h(e._1)).sum }
      val aMax = aRaw.values.max
      val a = aRaw.map { case (v, x) => v -> x * 1000000 / aMax }
      val hRaw = es.groupBy(_._1).map { case (u, out) =>
        u -> out.map(e => a(e._2)).sum }
      val hMax = hRaw.values.max
      (hRaw.map { case (u, x) => u -> x * 1000000 / hMax }, a)
    }
    val h0 = Map(2L -> BigInt(1000000), 4L -> BigInt(1000000))
    val (h1, _) = round(h0)
    val (h2, a2) = round(h1)
    val got = Graph.hits(df, 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    es.map(_._1).distinct.foreach { u =>
      assert(got(u)._1 == h2(u).toLong, s"hub($u): ${got(u)._1} vs ${h2(u)}")
      assert(got(u)._2 == 0L, "pure hubs have no authority mass")
    }
    es.map(_._2).distinct.foreach { v =>
      assert(got(v)._2 == a2(v).toLong, s"auth($v): ${got(v)._2} vs ${a2(v)}")
      assert(got(v)._1 == 0L, "pure authorities have no hub mass")
    }
    assert(got(2L)._1 == 1000000L, "the 3-edge customer is the top hub")
    assert(got(1L)._2 == 1000000L, "the shared supplier is the top authority")
    assert(got(4L)._1 < 1000000L && got(3L)._2 < 1000000L)
  }

  test("X10t pageRankWeighted: matches an exact integer driver replay, " +
      "and weight skew steers mass where uniform split cannot") {
    // 1 sends 3x the weight to 2 vs 3; both return everything to 1
    val es = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
    val df = es.toDF("src", "dst", "w")
    // independent replay: the defining recurrence in plain Scala longs
    def replay(iters: Int): Map[Long, Long] = {
      val wsum = es.groupBy(_._1).map { case (u, out) =>
        u -> out.map(_._3).sum }
      var score = wsum.keys.map(_ -> 1000000L).toMap
      (1 to iters).foreach { _ =>
        val c = es.groupBy(_._2).map { case (v, in) =>
          v -> in.map { case (u, _, w) => score(u) * w / wsum(u) }.sum }
        score = c.map { case (v, s) => v -> (150000L + 850L * s / 1000L) }
      }
      score
    }
    val got = Graph.pageRankWeighted(df, 3).as[(Long, Long)].collect().toMap
    assert(got == replay(3))
    // iteration 1 by hand: contrib 1->2 = 750000, 1->3 = 250000
    val after1 = Graph.pageRankWeighted(df, 1).as[(Long, Long)].collect().toMap
    assert(after1(2L) == 150000L + 850L * 750000L / 1000L)
    assert(after1(3L) == 150000L + 850L * 250000L / 1000L)
    assert(after1(2L) > after1(3L), "weight skew must steer rank")
  }

  test("X10u betweenness: path graph gives the closed-form bridge masses, " +
      "split shortest paths floor-divide, truncation zeroes deep deps") {
    // path 1-2-3-4-5 symmetrized, sources {1, 5}: from source 1 the
    // Brandes recurrence gives delta(2)=3e6, delta(3)=2e6, delta(4)=1e6;
    // source 5 mirrors, so bc(2)=bc(3)=bc(4)=4e6, endpoints 0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val und = (path ++ path.map(_.swap)).toDF("src", "dst")
    val got = Graph.betweenness(und, Seq(1L, 5L).toDF("node"), 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 4000000L, 3L -> 4000000L,
      4L -> 4000000L, 5L -> 0L))
    // diamond 1-{2,3}-4: two shortest paths to 4, sigma(4)=2, so each
    // middle node gets (1 * 1e6) // 2 = 500000 — the floor-div contract
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val undD = (dia ++ dia.map(_.swap)).toDF("src", "dst")
    val gotD = Graph.betweenness(undD, Seq(1L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(gotD == Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L))
    // hop truncation: maxHops=2 on the path sees only 2 levels from each
    // end; node 3 is the level-2 leaf both ways (delta 0), node 2/4 get
    // only the one-hop dependency (1e6) from their near source
    val gotT = Graph.betweenness(und, Seq(1L, 5L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(gotT == Map(2L -> 1000000L, 3L -> 0L, 4L -> 1000000L))
  }

  test("X10w kTruss: K5 survives at full support, the pendant triangle " +
      "and bridge peel, and a shared edge CASCADES round by round") {
    // K5 on 1..5 (every edge in 3 triangles), a weak triangle {10,11,12}
    // (support 1 each), a bridge 5-10 (support 0)
    val k5 = (1L to 5L).combinations(2).map(p => (p(0), p(1))).toSeq
    val weak = Seq((10L, 11L), (10L, 12L), (11L, 12L), (5L, 10L))
    val got = Graph.kTruss((k5 ++ weak).toDF("src", "dst"), 4, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == k5.map { case (a, b) => (a, b, 3L) }.toSet)
    // cascade: triangles {1,2,3} and {2,3,4} share edge (2,3) with
    // support 2; round 1 peels the four support-1 edges, which drops
    // (2,3)'s support to 0 — round 2 peels it. The rounds contract is
    // observable mid-cascade, like the kCore chain test.
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val after1 = Graph.kTruss(twoTri, 4, 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(after1 == Set((2L, 3L, 0L)),
      s"round 1 keeps only the shared edge, now unsupported: $after1")
    assert(Graph.kTruss(twoTri, 4, 2).count() == 0,
      "round 2 must peel the stranded shared edge")
  }

  test("X10v neighborhoodFunction: exact md5-register replay of the " +
      "ball evolution on a path; the curve saturates at the component") {
    // path 1-2-3-4 symmetrized: balls grow 1,2,3,4 / 2,3,4,4 / ... and
    // saturate at the 4-node component by h=3
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val und = (p ++ p.map(_.swap)).toDF("src", "dst")
    // driver replay: exact balls by BFS, exact HLL registers from md5,
    // the engine's own float chain (identical literals and order)
    def hex(v: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def regOf(v: Long): (Int, Int) = {
      val h = hex(v)
      val bucket = Integer.parseInt(h.substring(0, 2), 16) / 4
      val nz = h.substring(2, 15).dropWhile(_ == '0')
      val zeros = if (nz.isEmpty) 52 else {
        val lead = nz.head match {
          case c if "89abcdef".contains(c) => 0
          case c if "4567".contains(c) => 1
          case c if "23".contains(c) => 2
          case _ => 3
        }
        4 * (13 - nz.length) + lead
      }
      (bucket, zeros + 1)
    }
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L, 4L),
      4L -> Set(3L))
    def ball(v: Long, h: Int): Set[Long] =
      (0 until h).foldLeft(Set(v))((b, _) => b ++ b.flatMap(adj))
    def estOf(b: Set[Long]): Long = {
      val regs = b.map(regOf).groupBy(_._1)
        .map { case (bk, rs) => bk -> rs.map(_._2).max }
      val z = 64.0 - regs.size + regs.values.map(r => math.pow(2.0, -r)).sum
      math.floor(0.7213 / (1.0 + 1.079 / 64) * 4096 / z * 1e4 + 0.5).toLong
    }
    val want = (0 to 3).map { h =>
      (h.toLong, 4L, (1L to 4L).map(v => estOf(ball(v, h))).sum)
    }
    val got = Graph.neighborhoodFunction(und, 3)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == want, s"reach replay mismatch:\n$got\nvs\n$want")
    // saturation: hop 2 -> 3 balls only grow at the path's far ends;
    // h=3 equals the full component for every node
    assert(got(3)._3 == 4L * estOf(Set(1L, 2L, 3L, 4L)))
  }
}
