package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X3e — Lloyd k-means over the embedding column: the clustering pass a
  * corpus-curation pipeline runs for cluster-balanced sampling /
  * diversity filtering, and the principled way to train the coarse
  * centroids [[Similarity.ivfAssign]] seeds deterministically.
  *
  * Scale shape per iteration: centroids are a k-row DataFrame BROADCAST
  * against the corpus as ONE collected array row (k is small), the
  * assignment is one genuinely narrow pass (a per-row argmin fold over
  * the array — zero shuffle, zero sort, round 18), and
  * the recenter is a (cid, dim) groupBy average — shuffle volume
  * O(k × dim × partitions), independent of corpus size. The corpus
  * projection and each round's centroids are localCheckpoint'd so the
  * lineage stays flat over iterations (same discipline as
  * [[Dedup.components]]); no row data ever reaches the driver.
  *
  * Float means are summation-order-dependent across engines, so k-means
  * is spec-covered (determinism, inertia monotonicity, empty-cluster
  * retention) and declared rows-only rather than oracle-hash-judged —
  * the same honesty contract as the murmur3 ANN path. */
object Clustering {

  // graft_l2sq (r16): the codegen'd twin of the interpreted
  // aggregate(zip_with(...)) fold it replaced — identical ascending
  // accumulation, so assignments and every downstream oracle are
  // unchanged; the per-centroid distance in [[assign]]'s fold evaluates
  // it via the expression's compiled eval, not a boxed lambda per float

  /** Assign every vector to its nearest centroid (squared Euclidean,
    * cid ascending tie-break). `cents` must have (cid, cv). Returns the
    * corpus columns + (cid, dist2).
    *
    * Input contract: `v` must be NON-NULL (a NULL vector has no
    * meaningful nearest centroid). A NULL `v` yields cid = dist2 = NULL
    * — the kernel's null propagation, pinned by ArgBestCellSpec — which
    * sum()-based inertia skips; callers wanting loud failure on null
    * embeddings filter/assert before calling (the corpus tables'
    * embedding column is non-nullable by construction). */
  def assign(base: DataFrame, cents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    // round 18 made the argmin a per-row walk over the broadcast
    // centroid array — one narrow pass (no corpus x k exchange, no
    // sort, at any corpus size); round 19 made the walk the CODEGEN'D
    // graft_argmin_l2 kernel (dp = -1: raw doubles, no rounding — the
    // k-means contract), replacing the interpreted aggregate() fold.
    // Same (dist2 ASC, cid ASC) total order (ArgBestCellSpec pins
    // kernel == fold; real-data parity measured in BASELINE.md
    // "Round-19 fold-vs-kernel scaling"); a ragged
    // centroid's uncomputable distance scores the NaN sentinel and
    // loses every real comparison; a fully-ragged row ties down to
    // the lowest cid with dist2 = NaN — inertia() then propagates NaN
    // loudly instead of silently summing over a skipped row.
    val arr = broadcast(cents.select(col("cid"), col("cv"))
      .agg(collect_list(struct(col("cid").cast("long").as("cid"),
        col("cv"))).as("_cents")))
    base.crossJoin(arr)
      // empty centroid frame -> empty assignment (the window form's
      // behavior; the global collect_list still emits one empty-array
      // row, under which the kernel would return a NULL best cell)
      .filter(size(col("_cents")) > 0)
      .withColumn("_best", expr("graft_argmin_l2(v, _cents, -1)"))
      .withColumn("cid", col("_best.i"))
      .withColumn("dist2", col("_best.s"))
      .drop("_cents", "_best")
  }

  /** Lloyd iteration: deterministic seeds (lowest `k` vec_ids), `iters`
    * assign/recenter rounds, then the final assignment. A cluster that
    * loses all members keeps its previous centroid (standard
    * empty-cluster handling — k never silently shrinks). Returns
    * (vec_id, cid, dist2). */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0: $k, $iters")
    val base = corpus
      .select(col("vec_id"), Similarity.asDouble("embedding").as("v"))
      .localCheckpoint()
    assign(base, lloyd(base, k, iters))
      .select(col("vec_id"), col("cid"), col("dist2"))
  }

  /** The trained CENTROIDS themselves, (cid, cv) — what
    * [[Similarity.ivfTopKWith]] plugs in as a Lloyd-quality coarse
    * quantizer (same deterministic seeds as the sampled twin, so
    * iters = 0 degenerates to it exactly). */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0: $k, $iters")
    lloyd(corpus
      .select(col("vec_id"), Similarity.asDouble("embedding").as("v"))
      .localCheckpoint(), k, iters)
  }

  private def lloyd(base: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .localCheckpoint()
    for (_ <- 0 until iters)
      cents = recenter(cents, assign(base, cents), Seq("cid"), "v")
    cents
  }

  /** One Lloyd recenter keyed by the caller's group columns `keys`: the
    * per-dimension mean of the assigned rows' `vec` arrays (posexplode,
    * `avg`, then the dimension-sorted `collect_list`), left-joined onto
    * the (keys…, cv) centroid frame so a group that lost all its members
    * keeps its previous centroid. Returns (keys…, cv), localCheckpoint'd
    * (lineage stays flat across rounds). */
  private[ops] def recenter(cents: DataFrame, assigned: DataFrame,
      keys: Seq[String], vec: String): DataFrame = {
    val k = keys.map(col)
    val means = assigned.select(k :+ posexplode(col(vec)).as(Seq("d", "x")): _*)
      .groupBy(k :+ col("d"): _*).agg(avg(col("x")).as("m"))
      .groupBy(k: _*)
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
        .as("mv"))
    cents.join(means, keys, "left")
      .select(k :+ coalesce(col("mv"), col("cv")).as("cv"): _*)
      .localCheckpoint()
  }

  /** Total within-cluster squared distance of an assignment — the
    * quantity Lloyd provably never increases (spec-asserted). */
  def inertia(assigned: DataFrame): Double =
    assigned.agg(sum(col("dist2"))).head().getDouble(0)

  /** X5e — cluster-balanced sampling: at most `perCluster` vectors per
    * k-means cluster, nearest-to-centroid first (vec_id tie-break) —
    * the "diverse subset" selection a curation pipeline runs after
    * clustering. One window over the clustered frame; no extra scan. */
  def clusterSample(corpus: DataFrame, k: Int, iters: Int,
      perCluster: Int): DataFrame =
    kmeans(corpus, k, iters)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(col("dist2"), col("vec_id"))))
      .filter(col("rnk") <= perCluster)
      .select(col("vec_id"), col("cid"), col("rnk"))
}
