package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The round loop of the iterative operators in [[Graph]] and [[Dedup]]:
  * the Pregel/BSP superstep loop (Malewicz et al., SIGMOD 2010), with each
  * loop decision made once:
  *
  *  - the lineage cut: [[cut]] (a lazy localCheckpoint) per round, or
  *    [[fresh]]'s plan-statistics reset for loops that join their own
  *    previous output ([[freshEvery4]] spaces it out);
  *  - convergence: [[observed]] reads one `observe` metric off the
  *    round's own materialization, so a round costs one action;
  *  - non-convergence: [[Fixpoint.orFail]] refuses an unconverged state;
  *  - incremental upkeep of a fixed-round result: [[maintain]]'s
  *    dirty-frontier skeleton.
  *
  * [[fixed]] runs a fixed number of synchronous rounds, [[fixpoint]] runs
  * until the round reports convergence. */
object Rounds {

  /** The per-round lineage cut: a lazy localCheckpoint, so round k + 1
    * plans over a materialized frame instead of k rounds of lineage.
    * Local checkpoints are not reliable under executor loss — a cluster
    * run that needs fault tolerance swaps this for a reliable checkpoint
    * directory. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** localCheckpoint + plan-statistics RESET, for loops whose per-round
    * plan JOINS its own previous output. Spark's checkpoint preserves the
    * source plan's statistics (SPARK-39748), and join stats are a PRODUCT
    * of the children's sizeInBytes — so a loop that self-joins k times per
    * round grows the preserved BigInt geometrically (digits × k per
    * round); by round ~10 the stats visitor ITSELF becomes the
    * bottleneck, multiplying million-digit integers during planning
    * (measured: 980 CPU-seconds inside SizeInBytesOnlyStatsPlanVisitor on
    * a 12-node fixture). The createDataFrame round-trip rebuilds the frame
    * on a fresh leaf with default stats — an O(rows) re-encode that keeps
    * planning O(1) for every later round. */
  def fresh(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** An eager cut that resets plan statistics only every 4th round
    * (`round` counts from 0): the preserved stats grow at most ~3⁴×
    * their digits per window (harmless) while the rounds between skip
    * the createDataFrame round-trip. */
  def freshEvery4(round: Int)(df: DataFrame): DataFrame =
    if (round % 4 == 3) fresh(df) else df.localCheckpoint()

  /** The single long value of a named `observe` metric, read from the
    * dataset's EXECUTED plan after the action that materialized it:
    * CollectMetrics is accumulator-backed, so the value lands with job
    * completion — no second action per round and no wait on the async
    * listener bus (Observation.get would wait on it for the same
    * number). */
  def observed(df: DataFrame, name: String): Long =
    df.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"observed metric '$name' absent — checkpoint did not execute"))
      .getLong(0)

  /** `rounds` synchronous rounds from `seed`: round k's frame is
    * `step(frame of round k − 1, k)`, [[cut]]. Returns the frames of rounds
    * 0..rounds, round 0 being `seed` as given. */
  def fixed(seed: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to rounds).scanLeft(seed)((prev, k) => cut(step(prev, k)))

  /** The outcome of a [[fixpoint]]: the last state, the rounds run, and
    * whether the last round reported convergence. */
  final case class Fixpoint[S](state: S, rounds: Int, converged: Boolean) {
    /** The loud non-convergence contract: an unconverged state is an
      * under-propagated answer (under-merged clusters, split components)
      * that carries no signal, so refuse it and name the operator and the
      * knob that bounds its rounds. */
    def orFail(what: String, knob: String): Fixpoint[S] = {
      require(converged,
        s"$what did not converge in $rounds rounds — raise $knob")
      this
    }
  }

  /** Runs `round(state, i)` for i = 0, 1, … until it reports convergence
    * or `maxRounds` rounds ran; `converged0` is a convergence already
    * known before the first round (an empty input). */
  def fixpoint[S](seed: S, maxRounds: Int, converged0: Boolean = false)(
      round: (S, Int) => (S, Boolean)): Fixpoint[S] = {
    var state = seed
    var converged = converged0
    var i = 0
    while (!converged && i < maxRounds) {
      val (next, done) = round(state, i)
      state = next
      converged = done
      i += 1
    }
    Fixpoint(state, i, converged)
  }

  /** Dirty-frontier upkeep of a fixed-round synchronous result over
    * (node, value) frames, after an input change. A node's round-k value
    * depends only on its k-hop neighborhood, so:
    *
    *  - dirty₁ = `dirtySeed` (the nodes the change touches directly),
    *    distinct;
    *  - round k recomputes ONLY the dirty nodes: `round(dirty, mix, k)`
    *    returns their new values and the nodes one hop on from `dirty`.
    *    `mix` is v1's full round-(k − 1) frame: `mix0` for k = 1 (null
    *    when round 1 reads no frame), then retained `hist(k − 1)`
    *    anti-joined by dirtyₖ₋₁ ∪ the recomputed values — so the
    *    recompute is bit-identical to a full v1 run;
    *  - dirtyₖ₊₁ = dirty₁ ∪ the nodes one hop on from dirtyₖ;
    *  - the answer is `hist(rounds)` anti-joined by dirty_rounds ∪ the
    *    last recompute.
    *
    * The dirty sides are broadcast: the maintenance beats recompute
    * exactly when the frontier is broadcast-class, and checkpointed
    * frames carry over-estimated statistics that would otherwise plan
    * sort-merge joins shuffling the graph-sized side every round. `hist`
    * holds the retained v0 frames of rounds 0..rounds. */
  def maintain(hist: Seq[DataFrame], rounds: Int, dirtySeed: DataFrame,
      mix0: DataFrame)(
      round: (DataFrame, DataFrame, Int) => (DataFrame, DataFrame))
      : DataFrame = {
    require(hist.length == rounds + 1,
      s"history must carry rounds 0..$rounds, got ${hist.length} frames")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dirty1 = cut(dirtySeed.distinct())
    var dirty = dirty1
    var mix = mix0
    var recomputed: DataFrame = null
    (1 to rounds).foreach { k =>
      val (values, reach) = round(dirty, mix, k)
      recomputed = cut(values)
      if (k < rounds) {
        val nextDirty = cut(dirty1.unionByName(reach).distinct())
        mix = hist(k).join(broadcast(dirty), Seq("node"), "left_anti")
          .unionByName(recomputed)
        dirty = nextDirty
      }
    }
    hist(rounds).join(broadcast(dirty), Seq("node"), "left_anti")
      .unionByName(recomputed)
  }
}
