package graft

/** Scale-posture asserts: the physical plans the queries produce are the
  * plans we'd want on a 1000-executor cluster — broadcasts where the build
  * side is small, pushed filters, top-k as TakeOrdered, hinted join
  * strategies honored, no accidental cartesian products. */
class PlanShapeSpec extends SparkSpec {
  private val d = sf("sf0.001")
  private def plan(name: String): String =
    planOf(Queries.byName(name).fn(spark, d))

  /** Join NODES in the executed plan, counted structurally (not "Join"
    * substrings — operator names reappear in condition/reuse/AQE
    * annotation lines). CartesianProductExec is a BaseJoinExec too. */
  private def countJoins(sp: org.apache.spark.sql.execution.SparkPlan): Int =
    planNodes(sp).count(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec])

  /** Shuffle-exchange NODES, counted structurally like [[countJoins]]
    * (reused-exchange and AQE wrapper lines would double-count a
    * substring match). BroadcastExchange deliberately NOT counted. */
  private def countShuffles(
      sp: org.apache.spark.sql.execution.SparkPlan): Int =
    planNodes(sp).count(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])

  test("flagship broadcasts the nation dim and pushes the shipdate filter") {
    val p = plan("flagship_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"))
  }

  test("flagship demotes gracefully: with broadcasts disabled the fact " +
      "joins become shuffle joins with hash-identical results") {
    // the PLANS.md claim that AQE demotion past the broadcast threshold is
    // results-invisible, pinned: only the explicitly hinted 84-row-scale
    // nation broadcast survives threshold=-1, the orders/customer joins
    // fall back to shuffle strategies, and the output is identical
    val fn = Queries.byName("flagship_revenue_by_nation").fn
    val expected = fn(spark, d).collect().map(_.toString).toSeq
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = fn(spark, d)
      assert(df.collect().map(_.toString).toSeq == expected)
      // post-execution adaptive plan; drop the "Initial Plan" echo so the
      // hinted broadcast isn't double-counted
      val p = planOf(df).split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "no shuffle join after broadcast demotion:\n" + p.take(2000))
      val hinted = "BroadcastHashJoin".r.findAllIn(p).size
      assert(hinted <= 1,
        s"only the hinted nation dim may stay broadcast, found $hinted:\n" +
          p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x7_bucketed_join re-registers its catalog tables from the " +
      "on-disk layout after a catalog drop (oncePerDir is JVM-wide)") {
    val fn = Queries.byName("x7_bucketed_join").fn
    val expected = fn(spark, d).collect().map(_.toString).toSeq // setup
    // simulate a later session with a cold catalog: the JVM-wide setup
    // cache hits, but the session tables are gone — the query must
    // recreate them as external bucketed DDL, not rewrite data
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("x7_li_bucketed_") ||
        n.startsWith("x7_ord_bucketed_"))
      .foreach(t => spark.sql(s"DROP TABLE $t"))
    val df = fn(spark, d)
    assert(df.collect().map(_.toString).toSeq == expected)
    assert(planOf(df).contains("Bucketed: true"),
      "re-registered table lost its bucketing metadata")
  }

  test("j1/j2/e2 dim lookups plan no join and only the final sort's exchange") {
    Seq("j1_dim_forward", "j2_dim_reverse", "e2_pipeline").foreach { name =>
      val nodes = planNodes(
        Queries.byName(name).fn(spark, d).queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BaseJoinExec]), name)
      val exchanges = nodes.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange =>
          e.outputPartitioning
      }
      assert(exchanges.size <= 1 && exchanges.forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
        s"$name: $exchanges")
    }
  }

  test("join hints are honored: SHUFFLE_HASH -> ShuffledHashJoin, MERGE -> SortMergeJoin") {
    assert(plan("j3_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plan("j4_sort_merge").contains("SortMergeJoin"))
  }

  test("q1 top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q1_topk").contains("TakeOrderedAndProject"))
  }

  test("q1b grouped top-k: partial ObjectHashAggregate before the " +
      "exchange, no Window operator") {
    val p = plan("q1b_grouped_topk")
    // the typed Aggregator runs map-side (partial_topkaggregator) so the
    // group exchange carries <= k rows per group per task — the whole
    // point vs the window formulation, which would shuffle every row
    assert(p.contains("ObjectHashAggregate"))
    assert(p.toLowerCase.contains("partial_topkaggregator"))
    assert(!p.contains("Window"), "grouped top-k must not fall back to a window sort")
  }

  test("x11 expectations: all rules fold into ONE aggregate pass " +
      "(single scan, no join, 1-row exchange)") {
    val df = Queries.byName("x11_expectations").fn(spark, d)
    val sp = df.queryExecution.executedPlan
    assert(countJoins(sp) == 0)
    val p = sp.toString
    // one events scan feeds the whole report
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("x2 span apply: kept tokens via doc-id-equi anti-join, no cartesian") {
    val p = plan("x2_span_apply")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"), "cut ranges should anti-join, not filter-scan")
  }

  test("x5 temperature sampling: histogram broadcast back, filter map-side") {
    val p = plan("x5_temperature")
    assert(p.contains("BroadcastHashJoin"),
      "the |strata|-row histogram must broadcast, not shuffle the corpus")
    assert(!p.contains("CartesianProduct"))
  }

  test("x3 RRF fuses two top-k lists without a cartesian product") {
    val p = plan("x3_rrf")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("FullOuter"), "fusion join must be full-outer")
  }

  test("x9 curation pipeline: one fused DAG, broadcast histogram, " +
      "no cartesian, no extra scans") {
    val p = plan("x9_curation_e2e")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "temperature histogram must broadcast back onto the survivors")
  }

  test("x3 MMR: pair frame is a query_id equi-join, no cartesian; the " +
      "only NL join is the declared broadcast exact-retrieval baseline") {
    val p = plan("x3_mmr")
    assert(!p.contains("CartesianProduct"))
    // round 17: the lane's plan is lineage-truncated per greedy round
    // (the 2^k-subtree fix), so the retrieval kernel no longer shows in
    // the FINAL plan — assert its declared shape on the kernel directly
    // (the same inputs the lane feeds it)
    import org.apache.spark.sql.functions.col
    val emb = ops.Tables.table(spark, d, "embeddings")
    val kp = planOf(graft.ops.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 10), emb, 8))
    assert(kp.contains("BroadcastNestedLoopJoin"),
      "exact retrieval kernel broadcasts the 10-query side by design")
    assert(!kp.contains("CartesianProduct"))
  }

  test("x5 CMS probe broadcasts the d*w sketch; no cartesian") {
    val p = plan("x5_cms_estimate")
    assert(p.contains("BroadcastHashJoin"),
      "sketch side should broadcast into the probe fan-out")
    assert(!p.contains("CartesianProduct"))
  }

  test("x5 weighted sample: k winners via TakeOrdered, min-key agg " +
      "partial-combines before the shuffle") {
    val p = plan("x5_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      "the k smallest race keys must not need a global sort")
    // partial min per map side: HashAggregate appears below the exchange
    assert(p.contains("partial_min") || p.contains("partial min") ||
      p.contains("HashAggregate"), "ticket min should partial-aggregate")
  }

  test("x3 brute-force pairs via broadcast NL join (queries side broadcast), never shuffle-cartesian") {
    val p = plan("x3_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("x4 decontamination matches on the shingle-hash equi-join, never " +
      "doc x benchmark") {
    val p = plan("x4_decontaminate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "decontamination must stay an equi-join:\n" + p.take(2000))
    assert(p.contains("sh#") || p.contains("[sh"),
      "join key should be the shingle hash:\n" + p.take(2000))
  }

  test("x2 span dedup candidates come from a posting-list aggregate on " +
      "the shingle hash — the only join is the cap's LEFT SEMI (r12)") {
    val p = plan("x2_span_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "span candidate generation must stay keyed:\n" + p.take(2000))
    // r12: capBuckets pre-filters over-cap shingles with a pre-count +
    // LEFT SEMI join BEFORE collect_list — the semi is the ONLY join
    // allowed in the plan (an inner/outer join of the corpus against
    // itself would be the self-join shape the posting list replaced)
    assert(p.contains("LeftSemi"),
      "the occurrence cap must pre-filter via a semi-join BEFORE the " +
        "posting list is collected:\n" + p.take(2000))
    assert(p.linesIterator.filter(_.contains("Join"))
      .forall(_.contains("LeftSemi")),
      "no corpus self-join — candidates come from the double-explode:\n" +
        p.take(2000))
    assert(p.contains("sh#") || p.contains("[sh"),
      "aggregation key should be the shingle hash:\n" + p.take(2000))
    assert(p.contains("Generate explode"),
      "posting lists must double-explode:\n" + p.take(2000))
  }

  test("x2 LSH candidate generation is a key-equi join (shuffle on bucket), not all-pairs") {
    val p = planOf(ops.Dedup.lshCandidates(
      ops.Dedup.minhash(ops.Tables.documents(spark, d), "text", "doc_id"),
      "doc_id"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash fans out few-split input (round-robin exchange) and fuses the kernel") {
    val p = plan("x2_minhash_sig")
    // fanOut guard: the compute-heavy projection must not inherit the
    // single input split of a compacted corpus file
    assert(p.contains("RoundRobinPartitioning"))
    // the n>=3 filter sits BELOW the fan-out exchange (fewer rows
    // shuffled) — by construction in Dedup.minhash, not by optimizer
    // pushdown; pin it so PLANS.md's documented shape can't drift
    val exchangeAt = p.indexOf("RoundRobinPartitioning")
    val filterAt = p.indexOf("Filter (")
    assert(filterAt > exchangeAt,
      "expected the size filter below the fan-out exchange")
    // shingling + hashing is ONE codegen'd expression — the interpreted
    // per-hash array_min folds are gone (bands still transform over the
    // 8-element sig; that is 4 tiny lambdas per row, not the hot path)
    assert(p.contains("minhashsignature"))
    assert(!p.contains("array_min"))
  }

  test("x2 cosine near-dup pairs: md5-bucket EQUI-join, not an id-block NL join") {
    val p = plan("x2_cosine_neardup")
    assert(Seq("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
      .exists(p.contains), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("x6 salted agg: the FIRST shuffle spreads the hot key over salt buckets") {
    val p = plan("x6_salted_agg")
    // partial combine keyed by (skew_key, salt) — the hot key fans out
    assert("hashpartitioning\\(skew_key#\\d+, salt#\\d+L?, \\d+\\)".r
      .findFirstIn(p).isDefined, p)
    // final combine keyed by skew_key alone — results identical to the
    // plain groupBy (the oracle is the unsalted SQL)
    assert("hashpartitioning\\(skew_key#\\d+, \\d+\\)".r
      .findFirstIn(p).isDefined, p)
  }

  test("x6 salted join: shuffled hash join keyed by (skew_key, salt)") {
    val p = plan("x6_salted_join")
    // the hinted shuffled shape (broadcast would have no skew to solve),
    // keyed by (key, salt) so the hot key's probe rows spread 16 ways
    assert("ShuffledHashJoin \\[skew_key#\\d+, salt#\\d+\\]".r
      .findFirstIn(p).isDefined, p)
  }

  test("x2 dedup e2e internals: rep candidates ride the fingerprint shuffle, equi-join only") {
    import org.apache.spark.sql.functions._
    val withRep = ops.Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .withColumn("rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
    val reps = withRep.filter(col("doc_id") === col("rep"))
      .select("doc_id", "text")
    val p = planOf(ops.Dedup.lshCandidates(
      ops.Dedup.minhash(reps, "text", "doc_id", spread = false), "doc_id", 64))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // spread=false: the fingerprint window's hash shuffle already
    // distributes the reps; no round-robin fan-out exchange on top
    assert(!p.contains("RoundRobinPartitioning"))
  }

  test("jaccard df cutoff: candidate generation stays equi-join, no cartesian") {
    val p = plan("x2_jaccard_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("multi-table LSH ANN: bucket equi-join, never corpus x corpus") {
    val p = plan("x3_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("r5 queries: bucketed equi-joins only, no cartesian anywhere") {
    for (q <- Seq("x2_simhash_pairs", "x4_tfidf", "x5_interleave")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // x4_tfidf legitimately broadcasts its one-row corpus count; the
      // others must not have any nested-loop join at all
      if (q != "x4_tfidf") assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
    // quantization is a pure narrow projection: no exchange of any kind
    assert(!plan("x3_quant").contains("Exchange hashpartitioning"))
  }

  test("projection queries prune the parquet scan to the needed columns") {
    val p = plan("q1_topk")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"))
  }

  test("x7 partition prune: the day filter becomes PartitionFilters (directory prune)") {
    val out = java.nio.file.Files.createTempDirectory("graft_part_spec").toString
    ops.Layout.writePartitioned(
      ops.Tables.events(spark, d).withColumn("day",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts"))),
      "day", out)
    val p = planOf(spark.read.parquet(out).filter(
      org.apache.spark.sql.functions.col("day") === "2024-01-03"))
    // the predicate must land in PartitionFilters (planning-time directory
    // prune), NOT PushedFilters (per-file row-group evaluation)
    assert(p.contains("PartitionFilters: [isnotnull(day"),
      "day filter not a partition filter:\n" + p.take(2000))
  }

  test("x7 dpp: the join-driven day filter becomes a DynamicPruningSubquery at the scan") {
    val p = plan("x7_dpp")
    // runtime partition pruning: the fact scan's PartitionFilters must
    // carry a dynamicpruning expression fed by the filtered dim side —
    // without it the join reads every day directory
    assert(p.contains("dynamicpruning"),
      "no DynamicPruningSubquery in the fact scan:\n" + p.take(3000))
  }

  test("x7 bloom prune: probe Filter sits on the lineitem scan below the join") {
    val p = plan("x7_bloom_prune")
    // the probe may be AND-ed with null checks, so match the Filter line,
    // not an exact node-prefix
    assert(p.linesIterator.exists(l =>
        l.contains("Filter ") && l.contains("graft_bloom_contains(l_orderkey")),
      "bloom probe missing from a Filter over the lineitem scan:\n" +
        p.take(2000))
  }

  test("sql2: EXISTS / NOT EXISTS decorrelate to semi and anti joins") {
    val p = plan("sql2_exists_subquery")
    assert(p.contains("LeftSemi"), "EXISTS not a semi join:\n" + p.take(2000))
    assert(p.contains("LeftAnti"), "NOT EXISTS not an anti join:\n" + p.take(2000))
  }

  test("sql9: the Q21-shape's EXISTS/NOT EXISTS are semi/anti joins, " +
      "supplier dim broadcast, top-k as TakeOrdered") {
    val p = plan("sql9_q21_blocked")
    assert(p.contains("LeftSemi"), "EXISTS not semi:\n" + p.take(2000))
    assert(p.contains("LeftAnti"), "NOT EXISTS not anti:\n" + p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "limit not TakeOrdered:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("sql10: the correlated scalar subquery decorrelates to an " +
      "aggregate joined on the correlation key") {
    val p = plan("sql10_q2_min_cost")
    // RewriteCorrelatedScalarSubquery leaves ONE pre-aggregated min
    // frame joined back — no per-row subquery execution survives
    assert(p.contains("min("), "no decorrelated min aggregate:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("x10_triangles: every join is an equi-join — no cartesian, " +
      "no broadcast of the corpus side") {
    val p = plan("x10_triangles")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("wedge fan-outs keep a non-coalescible REPARTITION_BY_NUM " +
      "exchange below the expansion (the round-18 AQE lesson: ENSURE_" +
      "REQUIREMENTS boundaries get coalesced from PRE-expansion bytes, " +
      "serializing the d² stage — 2 of 32 cores on x10_linkpred)") {
    for (n <- Seq("x10_linkpred", "x10_triangles", "x10_ktruss",
        "x10_clustering_coeff")) {
      val p = plan(n)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$n lost its fanoutPartition exchange:\n${p.take(2000)}")
    }
  }

  test("x4_decontaminate_bloom: corpus side carries NO join at all — " +
      "the filter rides as a literal, the only shuffle is the count agg") {
    val df = Queries.byName("x4_decontaminate_bloom").fn(spark, d)
    val p = planOf(df)
    // the doc-side membership pass must be join-free: the benchmark
    // reaches the corpus only through the collected bitset literal, so
    // the planned joins are exactly the final left-join of per-doc
    // counts back onto docs (1) — not a shingle-level equi-join.
    val joins = countJoins(df.queryExecution.executedPlan)
    assert(p.contains("shiftright"), "bitset test not in the plan:\n" + p.take(1500))
    assert(joins <= 1, s"expected only the count re-join, found $joins joins:\n" +
      p.take(2000))
  }

  test("x5_heavy_hitters: candidate set joins back by BROADCAST — the " +
      "token stream is never shuffled on the token key") {
    val df = Queries.byName("x5_heavy_hitters").fn(spark, d)
    val p = planOf(df)
    // the recount semi-join must be broadcast (candidates ≤ k·partitions
    // rows); a SortMergeJoin/ShuffledHashJoin here would mean the full
    // stream shuffled on the value key — the vocabulary-sized shuffle
    // this lane exists to avoid. (The final threshold crossJoin against
    // the 1-row N is broadcast-nested-loop by construction.)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidate recount is not a broadcast semi-join:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "token stream shuffled for a join:\n" + p.take(2000))
  }

  test("x2_winnow: fingerprint selection is join-free — one window pass " +
      "over the shingle stream") {
    val df = Queries.byName("x2_winnow").fn(spark, d)
    assert(countJoins(df.queryExecution.executedPlan) == 0,
      "winnowing must not join:\n" + planOf(df).take(2000))
    assert(planOf(df).contains("Window"),
      "window-min selection missing:\n" + planOf(df).take(1500))
  }

  test("x4_nb_classify: class fan-out broadcasts; no cartesian between " +
      "corpus-sized frames") {
    val df = Queries.byName("x4_nb_classify").fn(spark, d)
    val p = planOf(df)
    // the |classes|-row stats fan-out must ride a broadcast; the only
    // allowed non-broadcast join is the (w, cls) stats equi-join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "class fan-out not broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "corpus-sized cartesian in the classifier plan:\n" + p.take(2000))
  }

  test("r14 analytics lanes: retention prunes the qualifying-type scan, " +
      "pmi/domain-shift/ab stay cartesian-free, transitions is one window") {
    // retention: the 'purchase' filter must reach a scan (activity side
    // reads a fraction of the stream at 100 TB)
    val pr = plan("x8_retention")
    assert(pr.contains("purchase"),
      "qualifying-type filter not visible in plan:\n" + pr.take(2000))
    assert(!pr.contains("CartesianProduct"))
    // pmi pair generation is a doc-keyed equi-join, never all-pairs
    val pp = plan("x4_pmi")
    assert(!pp.contains("CartesianProduct"),
      "pmi must pair via the doc equi-join:\n" + pp.take(2000))
    // domain shift: group totals and the 1-row scalars broadcast; the
    // only shuffling joins are token-keyed
    val pd = plan("x4_domain_shift")
    assert(!pd.contains("CartesianProduct"))
    assert(pd.contains("BroadcastExchange") || pd.contains("BroadcastHashJoin"),
      "group totals should broadcast:\n" + pd.take(2000))
    // transitions: exactly one Window (the lag), no join beyond the
    // broadcast of row totals
    val dft = Queries.byName("x8_transitions").fn(spark, d)
    val pt = planOf(dft)
    assert(pt.contains("Window"))
    assert(!pt.contains("CartesianProduct"))
    // ab report collapses to a single-row aggregate — no join at all
    val dfa = Queries.byName("x9_ab_test").fn(spark, d)
    assert(countJoins(dfa.queryExecution.executedPlan) == 0,
      "ab report must be join-free:\n" + planOf(dfa).take(2000))
  }

  test("r14 late lanes: anomaly is one join-free key window, budget mix " +
      "broadcasts the mixture dim, Q4 decorrelates to a semi join, Q19's " +
      "disjunction never goes cartesian") {
    // robust anomalies: ONE window shuffle on the key, zero joins — the
    // whole median/MAD math must ride higher-order exprs on the frame
    val dfa = Queries.byName("x8_anomaly").fn(spark, d)
    assert(countJoins(dfa.queryExecution.executedPlan) == 0,
      "anomaly lane must be join-free:\n" + planOf(dfa).take(2000))
    assert(planOf(dfa).contains("Window"))
    // budget mix: the 3-row budget dim broadcasts; the cumsum is a
    // window, not a self-join
    val pm = plan("x5_budget_mix")
    assert(pm.contains("BroadcastExchange") || pm.contains("BroadcastHashJoin"),
      "budget dim should broadcast:\n" + pm.take(2000))
    assert(!pm.contains("CartesianProduct"))
    // Q4 shape: the correlated EXISTS with a non-equi conjunct must
    // decorrelate to a LeftSemi whose shuffle key is the equality alone
    val p4 = plan("sql14_q4_priority")
    assert(p4.contains("LeftSemi"),
      "Q4 EXISTS should plan as a semi join:\n" + p4.take(2000))
    // Q19 shape: the three-way disjunction must stay on the partkey
    // equi-join, never degrade to a cartesian residual
    val p19 = plan("sql17_q19_disjunct")
    assert(!p19.contains("CartesianProduct"),
      "Q19 disjunction went cartesian:\n" + p19.take(2000))
  }

  test("r14 finance/eval lanes: drawdown's per-key agg reuses the window " +
      "shuffle (ONE exchange, zero joins), index corr broadcasts the " +
      "index, AUC shuffles once on the score") {
    // drawdown: the groupBy(key) after Window.partitionBy(key) must not
    // plan a second exchange — the operator is one key shuffle (the
    // judged spec adds a presentation orderBy, pinned separately)
    import org.apache.spark.sql.functions.{col, floor, lit}
    val dd = ops.TimeSeries.maxDrawdown(ops.Tables.events(spark, d),
      "user_id", "ts", "event_id",
      floor(col("value") * 100 + lit(0.5)).cast("long"))
    assert(countJoins(dd.queryExecution.executedPlan) == 0,
      "drawdown must be join-free:\n" + planOf(dd).take(2000))
    assert(countShuffles(dd.queryExecution.executedPlan) == 1,
      "drawdown must reuse the window partitioning:\n" +
        planOf(dd).take(2000))
    // index corr: the |buckets|-row index joins back by BROADCAST —
    // never a shuffle join against the tick volume
    val pc = plan("x8_index_corr")
    assert(pc.contains("BroadcastHashJoin"),
      "index must broadcast:\n" + pc.take(2000))
    // auc: one shuffle groups by score (map-side combined); the
    // cumulative frame over distinct scores is the only window
    val auc = Queries.byName("x9_auc").fn(spark, d)
    assert(countJoins(auc.queryExecution.executedPlan) == 0,
      "auc must be join-free:\n" + planOf(auc).take(2000))
    // volatility: the (key, day) aggregate is clustered by a SUBSET of
    // the lag window's hash partitioning — one exchange, zero joins
    val rv = ops.TimeSeries.realizedVolatility(
      ops.Tables.events(spark, d), "user_id", "ts", "event_id",
      floor(col("value") * 100 + lit(0.5)).cast("long"))
    assert(countJoins(rv.queryExecution.executedPlan) == 0,
      "volatility must be join-free:\n" + planOf(rv).take(2000))
    assert(countShuffles(rv.queryExecution.executedPlan) == 1,
      "volatility's (key, day) agg must reuse the key partitioning:\n" +
        planOf(rv).take(2000))
  }

  test("r14 TPC-H shapes: Q5's cyclic join closes without a cartesian " +
      "and broadcasts the dims, Q13's right-side ON filter keeps the " +
      "join LEFT OUTER") {
    val p5 = plan("sql19_q5_local_volume")
    assert(!p5.contains("CartesianProduct"),
      "Q5's nation cycle must close as equi-joins:\n" + p5.take(2000))
    assert(p5.contains("BroadcastHashJoin"),
      "Q5's region/nation dims should broadcast:\n" + p5.take(2000))
    // Q13: the priority filter lives in the ON clause — the join must
    // REMAIN LeftOuter (a WHERE placement would have turned it inner
    // and silently dropped zero-order customers)
    val p13 = plan("sql21_q13_custdist")
    assert(p13.contains("LeftOuter"),
      "Q13 must keep the outer join:\n" + p13.take(2000))
  }

  test("r14 final lanes: cusum is ONE key shuffle into a streaming " +
      "mapPartitions (no window, no collect_list), baskets/boilerplate/" +
      "graph lanes never go cartesian") {
    import org.apache.spark.sql.functions.{col, floor, lit}
    // cusum: the secondary sort is repartition(key) + in-partition sort
    // + mapPartitions — exactly one exchange, zero joins, and NO window
    // (the O(n²) prefix-materialization alternative would show one)
    val cu = ops.TimeSeries.cusum(ops.Tables.events(spark, d),
      "user_id", "ts", "event_id",
      floor(col("value") * 100 + lit(0.5)).cast("long"), 4000L, 20000L)
    assert(countJoins(cu.queryExecution.executedPlan) == 0,
      "cusum must be join-free:\n" + planOf(cu).take(2000))
    assert(countShuffles(cu.queryExecution.executedPlan) == 1,
      "cusum is one key shuffle:\n" + planOf(cu).take(2000))
    assert(!planOf(cu).contains("Window"),
      "cusum must not plan a window (prefix state rides mapPartitions):\n"
        + planOf(cu).take(2000))
    assert(planOf(cu).contains("MapPartitions"))
    // seasonal + attribution: join-free families
    val se = ops.TimeSeries.seasonalProfile(ops.Tables.events(spark, d),
      "user_id", "ts", floor(col("value") * 100 + lit(0.5)).cast("long"))
    assert(countJoins(se.queryExecution.executedPlan) == 0,
      "seasonal profile must be join-free:\n" + planOf(se).take(2000))
    // basket pairs (round 20 reshape): the within-basket pairing is a
    // GENERATE expansion over the capped per-basket sorted array —
    // no self-join at all (the r19 bk equi-join read its fan-out
    // exchange twice), and certainly never cartesian. The only join
    // in the plan is the cap's BROADCAST anti join (visible above the
    // distinct checkpoint since the r20 reshape moved the checkpoint
    // below the cap); the cap and ceiling CONTRACTS are pinned in
    // BasketSpec and StressBench's basket_capped mega-basket plant.
    val pb = plan("x12_basket_pairs")
    assert(!pb.contains("CartesianProduct"),
      "basket pairing went cartesian:\n" + pb.take(2000))
    assert(!pb.contains("SortMergeJoin") && !pb.contains("ShuffledHashJoin"),
      "basket pairing regressed to a shuffled join (the array expansion " +
        "needs none; the only join is the broadcast anti cap):\n" +
        pb.take(2000))
    assert(pb.contains("Generate"),
      "basket pairing should be a generate over the per-basket array:\n" +
        pb.take(2000))
    // boilerplate, bfs, ppr: equi-joins only
    for (n <- Seq("x4_boilerplate", "x10_bfs", "x10_ppr")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n went cartesian:\n" + p.take(2000))
    }
  }

  test("r15 multimodal lanes: the audio/video codec operators carry NO " +
      "key shuffle — the only exchange is Scale.fanOut's deliberate " +
      "round-robin spread (absent when the scan has enough splits); " +
      "linkPredict closes without a cartesian") {
    val docs = ops.Tables.documents(spark, d)
    // the OPERATOR plans (the judged queries append an orderBy for
    // deterministic dumps — that range exchange is presentation, not
    // the operator). At sf0.001 the documents scan is ONE split, so
    // fanOut's round-robin repartition engages — that single exchange
    // spreads codec compute and is the only one allowed.
    def pinCodecPlan(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val p = planOf(df)
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning"),
        s"$name must never shuffle by key")
      assert(countShuffles(df.queryExecution.executedPlan) <= 1,
        s"$name: only the fanOut round-robin spread is allowed")
    }
    pinCodecPlan(ops.Audio.wavEnergy(spark,
      ops.Audio.wavPayload(spark, docs, "text", "doc_id"), "doc_id"),
      "wavEnergy")
    pinCodecPlan(ops.Multimodal.videoFramePhash(spark,
      ops.Multimodal.withVideoPayload(docs, "text", "doc_id"), "doc_id"),
      "videoFramePhash")
    // linkPredict: equi-joins only — the wedge join keys on the center,
    // degree joins key on endpoints; nothing degenerates to cartesian
    val lp = ops.Graph.linkPredict(
      ops.Graph.coSupplyEdges(ops.Tables.lineitem(spark, d), 41L))
    assert(!planOf(lp).contains("CartesianProduct"),
      "linkPredict must never cartesian")
  }

  test("r15 batch-2/3 lanes: KMV builds are TakeOrdered / WindowGroupLimit " +
      "shapes, the interval join never degenerates, LPA argmax is sort-free") {
    // global KMV: per-task k-minima merge, not a global sort
    assert(plan("x5_kmv").contains("TakeOrderedAndProject"),
      "kmvSketch must plan as TakeOrderedAndProject")
    // grouped KMV: the rank window prunes to <= k rows per group per task
    assert(plan("x5_kmv_by").contains("WindowGroupLimit"),
      "kmvSketchBy's rank filter must plan as WindowGroupLimit")
    // interval overlap: binned EQUI-join — the whole point is avoiding
    // the broadcast-NL/cartesian cliff of a raw theta join
    val ij = plan("j6c_interval_overlap")
    assert(!ij.contains("CartesianProduct") &&
      !ij.contains("BroadcastNestedLoopJoin"),
      "intervalOverlapJoin must stay an equi-join")
    // LPA: the per-round argmax is a hash aggregate, not a sorted window
    val lpa = planOf(ops.Graph.labelPropagation(
      ops.Graph.coSupplyEdges(ops.Tables.lineitem(spark, d), 41L), 2))
    assert(!lpa.contains("Window") && !lpa.contains("CartesianProduct"),
      "labelPropagation must be window-free and cartesian-free")
    // refint: unioned left joins only
    assert(!plan("x11_refint").contains("CartesianProduct"),
      "referentialAudit must never cartesian")
  }

  test("driver smoke: entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("x9 readout composite: ONE fact scan, join-free, exactly the unit " +
      "shuffle plus the 1-row collapse") {
    val df = Queries.byName("x9_readout_e2e").fn(spark, d)
    val sp = df.queryExecution.executedPlan
    assert(countJoins(sp) == 0,
      "the one-pass readout must not join — naive member composition would")
    val p = sp.toString
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "the event volume must be scanned exactly once")
    assert(countShuffles(sp) == 2,
      s"unit groupBy + 1-row collapse = exactly 2 exchanges, got ${countShuffles(sp)}")
  }

  test("x10 hits: no cartesian beyond the 1-row max broadcasts; the edge " +
      "frame materializes once per run") {
    val df = Queries.byName("x10_hits").fn(spark, d)
    val p = planOf(df)
    // the only nested-loop joins are the broadcast 1-row max rescales
    assert(!p.contains("CartesianProduct"),
      "hits must never shuffle-cartesian")
  }

  test("r16 graph lanes: weighted pagerank / betweenness / reach are " +
      "equi-join-only — no cartesian anywhere in the unrolled iterations") {
    Seq("x10_pagerank_weighted", "x10_betweenness", "x10_reach")
      .foreach { n =>
        val p = plan(n)
        assert(!p.contains("CartesianProduct"),
          s"$n must never shuffle-cartesian")
        assert(!p.contains("BroadcastNestedLoop"),
          s"$n has no small-side theta join to excuse a BNL")
      }
  }

  test("x8_changepoint: join-free, prefix sums and totals reuse ONE key " +
      "exchange, the argmax is a per-key aggregate not a self-join") {
    val df = Queries.byName("x8_changepoint").fn(spark, d)
    val sp = df.queryExecution.executedPlan
    assert(countJoins(sp) == 0,
      "candidate splits must not join back against the series")
    // key window (1) + final per-key agg reuses the window partitioning;
    // only the output ORDER BY adds a range exchange
    assert(countShuffles(sp) <= 3,
      s"changepoint should be window + agg + sort, got ${countShuffles(sp)}")
  }
}
