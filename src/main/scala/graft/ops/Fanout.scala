package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Full-parallelism partitioning for a frame about to FAN OUT through a
  * self-join (wedge/pair enumeration's d² expansion) — the round-18 AQE
  * lesson, shared by [[Graph]] (wedges) and [[Basket]] (basket pairs).
  *
  * AQE sizes an exchange from the bytes flowing INTO it, so a few-MB
  * adjacency/basket frame gets coalesced to 1-2 partitions and the
  * million-fold expansion on the far side of the exchange runs nearly
  * serial (measured on x10_linkpred at sf0.1: the whole 60M-wedge stage
  * on 2 of 32 cores — 20 s of CPU in a 2-way stage WAS the 14.5 s lane
  * wall; ~3.7 s with this partitioning). A user repartition with an
  * EXPLICIT partition count is exempt from AQE coalescing, but keeping
  * it in the final plan takes care on two fronts:
  * PushDownLeftSemiAntiJoin re-orders adjacent semi-joins below it, and
  * EnsureRequirements elides it as redundant whenever the child already
  * carries a compatible (coalescible!) ENSURE_REQUIREMENTS
  * partitioning. Hence: checkpoint first — a scan with unknown
  * partitioning that nothing can push through or elide against — then
  * the numbered repartition directly on the scan. All self-join sides
  * derived from the result reuse the ONE non-coalescible exchange, so
  * no coalescible boundary exists below the expansion. The checkpoint
  * cost is one materialization of the (small, pre-expansion) frame.
  *
  * At cluster scale the same plan holds: the expansion stage inherits
  * the session's configured shuffle parallelism instead of whatever
  * AQE derived from the pre-expansion byte count. */
private[ops] object Fanout {

  /** [[byKey]] minus the checkpoint — for callers whose frame is
    * ALREADY a checkpoint/scan with unknown partitioning (adding a
    * second checkpoint would re-materialize for nothing), or whose
    * child partitioning is known incompatible (nothing to elide
    * against). Multi-key for (s, v)-style composite join keys. */
  def byKeyNoCheckpoint(df: DataFrame, keys: String*): DataFrame =
    // -Dgraft.fanout.disable=true is the DELIBERATE-PESSIMIZATION seam
    // for WidthGateSpec (round 19, r18 verdict item 1): it strips the
    // numbered repartition so the gate can prove, in CI, that the
    // coalesce-before-expansion plan class actually fails the width
    // check. Never set outside the spec.
    if (sys.props.get("graft.fanout.disable").contains("true")) df
    else df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions,
      keys.map(col): _*)

  def byKey(df: DataFrame, keys: String*): DataFrame =
    byKeyNoCheckpoint(df.localCheckpoint(eager = false), keys: _*)

  /** Breakeven for the static-frame pin below, DERIVED from session
    * parallelism (round 19, r18 verdict item 7): the pin's fixed cost
    * is one extra full-width exchange plus per-round cache-read task
    * overhead across every core, so the frame size that amortizes it
    * scales with the number of tasks the exchange fans into —
    * threshold = defaultParallelism × [[pinPerTaskBytes]]. The
    * per-task constant comes from the two measured local[32] operating
    * points (sf0.1 lanes vs the 1M-node stress graph, round 18 —
    * BASELINE.md "The static-frame pin, size-gated"):
    * a 1.17M-row (~100-108 MB cached ⇒ ~3.4 MB/task) static edge
    * frame LOSES with the pin at 3-4 rounds (sssp 4.0 s pinned vs
    * 2.3 s checkpointed, ppr 1.23x, weighted pagerank 1.72x), while
    * the 3.25M-row (~280 MB ⇒ ~8.8 MB/task) stress graph WINS 2-3x
    * (sssp 13.2 -> 4.5-6.3 s, shuffle 274.8 -> 57.3 MB); 5 MB/task
    * sits between them (~1.6x margin to each) and reproduces the
    * round-18 constant (32 × 5 MB = 160 MB) at local[32]. On a
    * cluster the derived threshold grows with parallelism — and any
    * 100 TB-scale frame still clears it by orders of magnitude, so
    * the scale path always pins. Overridable for A/B probes via
    * -Dgraft.fanout.pinMinBytes. */
  private val pinPerTaskBytes: Long = 5L << 20

  private def pinMinBytes(df: DataFrame): Long =
    sys.props.get("graft.fanout.pinMinBytes").map(_.toLong)
      .getOrElse(
        df.sparkSession.sparkContext.defaultParallelism * pinPerTaskBytes)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The cached size of an EAGERLY localCheckpoint'd frame, read from
    * the block manager — ZERO extra jobs and zero extra input-metric
    * rows, which is what makes the size gate free: a count() here would
    * both show up in the rows-read regression gate (MetricsGateSpec)
    * and, for a caller passing unmaterialized lineage, silently
    * recompute it. Returns 0 (→ checkpoint branch, the safe small-frame
    * default) if the plan shape is unexpected.
    *
    * Round 19 (r18 ADVICE): executor block-status updates reach the
    * driver ASYNCHRONOUSLY — on a real cluster the first read after the
    * eager checkpoint can find the RDD absent or partially reported,
    * which would silently route a huge frame down the no-pin branch.
    * So: poll (bounded, driver-side sleep only — still zero jobs) until
    * every partition's block is reported, and WARN loudly when the
    * deadline passes with an incomplete report so the fallback is a
    * visible event, not a silent mis-branch. local[*] reports
    * synchronously and never waits here. */
  private def materializedBytes(cp: DataFrame): Long =
    cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        def info = cp.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
        val deadline = System.nanoTime() + 5_000_000_000L
        var i = info
        while (i.forall(_.numCachedPartitions < l.rdd.getNumPartitions) &&
            System.nanoTime() < deadline) {
          Thread.sleep(100)
          i = info
        }
        if (i.forall(_.numCachedPartitions < l.rdd.getNumPartitions))
          log.warn(
            s"Fanout: block report for checkpointed RDD ${l.rdd.id} still " +
              s"incomplete (${i.map(_.numCachedPartitions).getOrElse(0)} of " +
              s"${l.rdd.getNumPartitions} partitions) after 5s — size gate " +
              "will under-read and may take the no-pin branch")
        i.map(x => x.memSize + x.diskSize).getOrElse(0L)
      case _ => 0L
    }

  /** Drop a materialized localCheckpoint's executor blocks. Dataset
    * .unpersist only reaches the cache manager, not RDD-level
    * checkpoint storage — this frees the actual blocks. After this the
    * frame is UNREADABLE (a localCheckpoint cannot recompute), so only
    * call once every consumer is materialized. */
  private def freeCheckpoint(cp: DataFrame): Unit =
    cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }


  /** STATIC-FRAME strategy for iterative operators (round 18): the
    * frame an iteration joins every round (edge list, vote list),
    * materialized once — and, when it is large enough to amortize the
    * extra exchange, partitioned on the round-join key and
    * `persist()`ed.
    *
    * Why persist and not localCheckpoint for the pin: a checkpoint's
    * LogicalRDD reports UnknownPartitioning(0) under AQE — measured on
    * Spark 4.1 with BOTH eager settings — so the long-standing
    * "checkpoint captures HashPartitioning(src), rounds exchange only
    * the small frame" discipline never actually held in the plans: every
    * round's join re-exchanged the static frame (ENSURE_REQUIREMENTS,
    * and therefore also AQE-coalescible — the narrow+hot per-round
    * stages of BASELINE.md "Width guards"). An InMemoryRelation, by
    * contrast, preserves its child plan's outputPartitioning, and the
    * child here ends in a REPARTITION_BY_NUM exchange AQE cannot
    * coalesce: each round's join reads the cache co-partitioned at full
    * parallelism, exchanging nothing but the small evolving frame.
    *
    * Why the pin is SIZE-GATED: below [[pinMinBytes]] the pin's fixed
    * costs exceed what it saves (the sf0.1 numbers above), so small
    * frames keep the checkpoint form — AQE coalesces their per-round
    * exchanges to a handful of cheap tasks, which IS the right plan for
    * a frame that fits in one. The decision reads the checkpoint's
    * cached block size from the block manager ([[materializedBytes]]) —
    * the eager checkpoint is the same one-time materialization both
    * strategies need, so deciding is FREE: no extra job, no extra
    * input-metric rows. (A lazier variant that counts a caller-supplied
    * proxy and repartitions the unmaterialized plan would let
    * EnsureRequirements elide the numbered exchange against an
    * annotation join's own hash partitioning — measured 81 vs 106 MB
    * cache-fill shuffle on the 1M-node stress pagerank — but the proxy
    * count is a real pass that trips the rows-read regression gate and
    * double-computes un-checkpointed caller lineage; one bounded extra
    * exchange of already-materialized rows is the better trade.)
    *
    * Storage: default MEMORY_AND_DISK — the frame spills rather than
    * evicts under pressure, and at cluster scale the cache is exactly
    * the working set an iterative graph op needs resident. The cache
    * lives for the session (callers' results reference it lazily;
    * unpersisting inside the operator would silently recompute the
    * lineage on the caller's first action).
    *
    * Residency (round 19, r18 verdict item 4): the pin branch holds
    * ONE resident copy — the co-partitioned persist, built over the
    * ORIGINAL source lineage. Once it is materialized the sizing
    * checkpoint's blocks are freed: any later cache miss (Catalyst's
    * cache matching is not total — see [[pinnedAt]]) recomputes from
    * source instead of either dying on freed checkpoint blocks or
    * needing the second resident copy the r18 design kept around.
    * [[pinnedDual]] correspondingly holds two copies, not three, with
    * the second filled from the first's cache. Construction pays one
    * extra source pass (sizing checkpoint + pin materialization); the
    * size DECISION itself remains job-free (FanoutPolicySpec pins the
    * residency count and the job-free decision). */
  def pinned(df: DataFrame, keys: String*): DataFrame =
    pinnedAt(df, pinMinBytes(df), keys: _*)

  /** [[pinned]] with an EXPLICIT threshold — the test seam
    * (FanoutPolicySpec forces either branch without mutating the
    * global system property, r18 ADVICE).
    *
    * The pin's lineage is the ORIGINAL source, NOT the checkpoint —
    * deliberately, and it is what makes freeing the checkpoint SAFE:
    * Catalyst's cache matching is not total (measured in this round: a
    * self-join's deduplicated attribute clone misses `sameResult`
    * against the cached subtree and re-executes the cached plan's
    * child), so a consumer that misses the pinned cache must find a
    * COMPUTABLE parent — source lineage recomputes; a freed
    * localCheckpoint throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The
    * price is that the pin's materialization is a second source pass
    * (the checkpoint pass sized the frame, the pin pass fills the
    * cache) — a one-off construction cost where the retained second
    * copy was a session-long footprint. */
  private[ops] def pinnedAt(df: DataFrame, minBytes: Long,
      keys: String*): DataFrame = {
    val cp = df.localCheckpoint()
    val bytes = materializedBytes(cp)
    if (bytes >= minBytes) {
      log.info(s"Fanout.pinned: PIN branch ($bytes bytes >= $minBytes)")
      val pin = byKeyNoCheckpoint(df, keys: _*).persist()
      pin.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      freeCheckpoint(cp)
      pin
    } else {
      log.info(s"Fanout.pinned: checkpoint branch ($bytes bytes < $minBytes)")
      cp
    }
  }

  /** [[pinned]] producing TWO differently-keyed copies from ONE
    * materialization and one size decision (betweenness joins its
    * static edge frame by src in the forward walk and by dst in the
    * backward walk). Below the pin threshold both names share the one
    * checkpoint — a second copy of a frame that small buys nothing. */
  def pinnedDual(df: DataFrame, k1: String, k2: String)
      : (DataFrame, DataFrame) = {
    val cp = df.localCheckpoint()
    val bytes = materializedBytes(cp)
    if (bytes >= pinMinBytes(df)) {
      log.info(s"Fanout.pinnedDual: PIN branch ($bytes bytes)")
      // p1 rebuilds from source (the pinnedAt safety argument); p2
      // FILLS FROM p1's cache and, on any later miss, falls back
      // through it — no third pass over the source
      val p1 = byKeyNoCheckpoint(df, k1).persist()
      p1.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      val p2 = byKeyNoCheckpoint(p1, k2).persist()
      p2.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      freeCheckpoint(cp)
      (p1, p2)
    } else (cp, cp)
  }
}
