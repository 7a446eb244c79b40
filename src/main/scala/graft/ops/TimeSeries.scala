package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X8 — time-series regularization: resample an irregular tick stream
  * onto a fixed-step calendar and forward-fill gaps.
  *
  * The reference consumes irregular per-pair ticks (SURVEY §0: Bitstamp/
  * Bitfinex polls land whenever the HTTP round-trip does) and every
  * downstream consumer of such a feed — charting, bar math, feature
  * windows for model training — needs a regular grid first. This is the
  * missing half of A4 (OHLC bars): bars aggregate the buckets that HAVE
  * ticks; resampling also emits the buckets that DON'T, carrying the
  * last observation forward.
  *
  * Scale shape (one pass, three keyed shuffles, nothing quadratic):
  *   1. bucket each tick by exact integer µs division (codegen arithmetic);
  *   2. per (key, bucket) keep the CLOSING tick — one hash shuffle;
  *   3. per key, min/max bucket → `sequence()` → `explode` builds the
  *      calendar spine DISTRIBUTED (the spine is keys × buckets rows and
  *      is never collected; the explode fans out of a groupBy the size
  *      of the key space);
  *   4. spine LEFT JOIN closes on (key, bucket) — equi-join;
  *   5. forward-fill = `last(close, ignoreNulls)` over the per-key
  *      running frame — one window shuffle on key, the same partitioning
  *      a per-key series needs for ANY frame math downstream.
  *
  * Step 3 bounds memory: sequence length = per-key span / step. A key
  * idle for years at 1s steps should be resampled at a coarser step or
  * split — that is a data contract, and it is ENFORCED: any key whose
  * spine would exceed `maxBucketsPerKey` fails the job loudly, naming
  * the key, instead of materializing a giant array in one executor row.
  */
object TimeSeries {

  /** Resample `df` to a `stepUs` grid per `keyCol`, forward-filling the
    * closing `valueCol` of each bucket into empty buckets.
    *
    * Returns (keyCol, bucket_us, px, n_ticks): `px` is the last observed
    * value at-or-before the bucket (never null — each key's spine starts
    * at its first observed bucket), `n_ticks` the tick count in the
    * bucket (0 = gap row, value carried forward).
    *
    * `tsUsCol` must be epoch MICROSECONDS (long) — integer bucketing is
    * exact and replays identically in any engine; float seconds would
    * not. Ties inside a bucket break by (ts, value) descending, the same
    * deterministic close the OHLC oracle uses.
    *
    * `maxBucketsPerKey` caps any single key's calendar spine (the one
    * row-local array this operator builds). The default (4M buckets ≈
    * tens of MB of longs) is far above any sane grid and far below an
    * executor OOM; a violating key raises with the key value in the
    * message so the caller can fix the step or split the key. */
  def resampleFfill(df: DataFrame, keyCol: String, tsUsCol: String,
      valueCol: String, stepUs: Long,
      maxBucketsPerKey: Long = 4L << 20): DataFrame = {
    val k = col(keyCol)
    val bucketed = df.select(k, col(tsUsCol).as("us"), col(valueCol).as("v"))
      .withColumn("bucket_us", expr(s"(us div ${stepUs}L) * ${stepUs}L"))
    val perBucket = Window.partitionBy(k, col("bucket_us"))
    val closes = bucketed
      .withColumn("rn",
        row_number().over(perBucket.orderBy(col("us").desc, col("v").desc)))
      .withColumn("n", count(lit(1)).over(perBucket))
      .filter(col("rn") === 1)
      .select(k, col("bucket_us"), col("v").as("close"), col("n"))
    val nBuckets = (col("mx") - col("mn")) / lit(stepUs) + 1
    val spine = bucketed.groupBy(k)
      .agg(min(col("bucket_us")).as("mn"), max(col("bucket_us")).as("mx"))
      .select(k, explode(
        when(nBuckets > lit(maxBucketsPerKey),
          raise_error(concat(
            lit(s"resampleFfill: key "), k.cast("string"),
            lit(s" needs "), nBuckets.cast("string"),
            lit(s" buckets at step ${stepUs}us (max $maxBucketsPerKey); " +
              "use a coarser step or split the key")))
            .cast("array<bigint>"))
          .otherwise(sequence(col("mn"), col("mx"), lit(stepUs))))
        .as("bucket_us"))
    val ffill: Column = last(col("close"), ignoreNulls = true)
      .over(Window.partitionBy(k).orderBy(col("bucket_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spine.join(closes, Seq(keyCol, "bucket_us"), "left")
      .select(k, col("bucket_us"), ffill.as("px"),
        coalesce(col("n"), lit(0L)).as("n_ticks"))
  }

  /** X8b — batch sessionization (gaps-and-islands): per key, a new
    * session starts where the gap to the previous event exceeds
    * `gapUs`; session ids are the running count of session starts. The
    * standard user-activity segmentation, and the batch twin of the
    * streaming session windows (st4) — same semantics, replayable
    * arithmetic instead of state-store timers.
    *
    * Scale shape: ONE window shuffle on the key (lag, flag and running
    * sum all ride the same (key, ts) partitioning), then the per-session
    * aggregate partial-combines on (key, session_id). All-integer race:
    * epoch-µs gaps and a 0/1 running sum, with `tieCol` breaking
    * duplicate timestamps deterministically on both engines. */
  /** X8c — ordered event-funnel analysis (round 14): per key, the
    * earliest time each step can be reached respecting step ORDER and a
    * per-transition horizon — step i counts a user only if step i's
    * event lands within `horizonUs` AFTER their (earliest-valid) step
    * i−1 time. The product-analytics staple ("view → click → purchase
    * within a day"), and the greedy earliest-transition semantics every
    * funnel engine implements.
    *
    * Scale shape: one step = one narrow filtered scan of the events
    * table joined against the previous step's KEY-SIZED frame (shuffle
    * on the key), then a partial-combining min per key. No per-key event
    * lists are ever collected, no window over a user's full history —
    * cost is |steps| pruned scans + |steps| key-sized joins at any
    * corpus size. Each step frame is localCheckpoint'd (eager = false):
    * it feeds both the next step's join and its own count row, and the
    * frames are node-count-sized.
    *
    * Output: (step_idx, step, n_users, conv_ppm) — conv_ppm the floored
    * ppm conversion from the previous step (first step = 10^6). An
    * EMPTY intermediate step yields 0-count rows downstream and a null
    * conv (0/0) — both engines agree on the null. */
  def funnel(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], horizonUs: Long): DataFrame = {
    require(steps.size >= 2, "funnel needs at least 2 steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(horizonUs > 0, s"horizon must be positive, got $horizonUs")
    val e = events.select(col(keyCol).as("k"), col(typeCol).as("t"),
      expr(s"unix_micros($tsCol)").as("us"))
    val first = e.filter(col("t") === steps.head)
      .groupBy(col("k")).agg(min(col("us")).as("ts_prev"))
      .localCheckpoint(eager = false)
    val frames = steps.tail.scanLeft(first) { (prev, st) =>
      e.filter(col("t") === st)
        .join(prev.select(col("k"), col("ts_prev")), Seq("k"))
        .filter(col("us") >= col("ts_prev") &&
          col("us") <= col("ts_prev") + horizonUs)
        .groupBy(col("k")).agg(min(col("us")).as("ts_prev"))
        .localCheckpoint(eager = false)
    }
    val counts = frames.zip(steps).zipWithIndex.map { case ((f, name), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("int").as("step_idx"),
          lit(name).as("step"), col("n_users"))
    }.reduce(_ unionAll _)
    val w = Window.orderBy(col("step_idx"))
    counts
      .withColumn("conv_ppm",
        coalesce(floor(col("n_users") * lit(1000000L) /
            lag(col("n_users"), 1).over(w)).cast("long"),
          when(col("step_idx") === 1, 1000000L)))
      .select(col("step_idx"), col("step"), col("n_users"), col("conv_ppm"))
  }

  /** X8d — cohort retention matrix (round 14): users grouped by their
    * FIRST-SEEN day (any event), then for each (cohort, age-in-days) the
    * count and ppm share of cohort members who performed a qualifying
    * action that day — the "day-N retention" grid every product/growth
    * dashboard draws, and the curation analogue of "does a crawl
    * snapshot keep contributing documents N days after first contact".
    *
    * Scale shape: cohort assignment is ONE user-keyed
    * partial-combining min; active days are a user-keyed distinct over
    * the TYPE-PRUNED scan (the filter reaches the scan — qualifying
    * events are usually a small fraction of the stream); their join is
    * user-keyed and co-partitioned with the cohort agg, so AQE plans it
    * shuffle-free on the reused exchange. Cohort sizes are a
    * cohort-count-sized frame, broadcast back onto the (cohort, age)
    * cells. Nothing is ever per-user-history windowed; at 100 TB every
    * shuffle is user- or cohort-keyed and the output is
    * |cohorts| × |ages| cells.
    *
    * Output: (cohort DATE, age_days, n_active, n_cohort, ret_ppm) with
    * ret_ppm = floor(n_active · 10^6 / n_cohort) — age 0 is first-day
    * activity, not forced to 10^6 (a user whose first event is not a
    * qualifying one dilutes day-0 retention, which is the honest
    * reading). */
  def retention(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, activeTypes: Seq[String]): DataFrame = {
    require(activeTypes.nonEmpty, "retention needs at least one active type")
    val e = events.select(col(keyCol).as("k"), to_date(col(tsCol)).as("d"),
      col(typeCol).as("t"))
    val cohort = e.groupBy(col("k")).agg(min(col("d")).as("cohort"))
    val sizes = cohort.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_cohort"))
    val activeDays = e.filter(col("t").isin(activeTypes: _*))
      .select(col("k"), col("d")).distinct()
    activeDays.join(cohort, Seq("k"))
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("age_days"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("age_days").cast("int").as("age_days"),
        col("n_active"), col("n_cohort"),
        floor(col("n_active") * lit(1000000L) / col("n_cohort"))
          .cast("long").as("ret_ppm"))
  }

  /** X8e — event-type transition matrix (round 14): counts and
    * row-conditional probabilities of consecutive (prev → next) event
    * types per key — the first-order Markov model of user journeys
    * ("after a view, 31% click"), the navigation-flow staple next to
    * [[funnel]] (which fixes the path; this measures ALL of them).
    *
    * Scale shape: ONE window shuffle on the key (the same lag frame
    * sessionize uses, (ts, tie) ordered for determinism), then a
    * |types|²-bounded pair aggregation (partial-combining) and a
    * broadcast of the |types|-sized row totals for the conditional ppm.
    * Nothing beyond the key shuffle touches the event volume.
    *
    * p_ppm = floor(cnt · 10^6 / row_total) — conditional on the PREV
    * type (rows sum to ≤ 10^6, short of it only by flooring). */
  def transitions(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("us"), col(tieCol))
    val pairs = events
      .select(col(keyCol), col(tieCol), col(typeCol).as("next_t"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("prev_t", lag(col("next_t"), 1).over(w))
      .filter(col("prev_t").isNotNull)
      .groupBy(col("prev_t"), col("next_t"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy(col("prev_t")).agg(sum(col("cnt")).as("n_row"))
    pairs.join(broadcast(totals), Seq("prev_t"))
      .select(col("prev_t"), col("next_t"), col("cnt"),
        expr("cnt * 1000000L div n_row").as("p_ppm"))
  }

  /** X8 — robust rolling anomaly flags: per-key trailing-window MEDIAN
    * and MAD (median absolute deviation), flagging points more than
    * `k` MADs off the local median. The median/MAD pair is the robust
    * twin of mean/stddev — a single spike inflates a stddev enough to
    * mask itself (and its neighbors), but moves the median of a
    * 15-point window not at all, which is why monitoring pipelines
    * (and training-data outlier scrubbing) standardize on it.
    *
    * Exactness discipline: values are integer cents in, and both the
    * median and the MAD are LOWER medians (element (n+1)/2 of the
    * sorted window) — integers out, no float halving of even-count
    * middles, so the DuckDB oracle replays bit-identically. The flag
    * threshold `|x − med| > k·mad` stays in integer arithmetic.
    *
    * Scale shape: ONE window shuffle on the key (same frame every
    * per-key series op here uses, (ts, tie)-ordered for determinism).
    * The trailing window is materialized as an n-element array per row
    * via collect_list over a row frame — O(n) longs per row, bounded
    * by the `n` parameter, NOT by data volume — and the median/MAD
    * math is ONE custom codegen'd kernel
    * ([[graft.functions.MedianMad]]: primitive long[] sorts fused into
    * the stage; the prior array_sort/transform formulation was three
    * interpreted HigherOrderFunction passes per row and dominated the
    * 1M-tick stress wall). Rows without a
    * full window warm-up are excluded (no partial-window flags).
    * At 100 TB: cost is the key shuffle plus n longs of state per
    * row — linear, no driver involvement, skew rides the key
    * distribution exactly like [[sessionize]]. */
  def robustAnomalies(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column, n: Int = 15,
      k: Int = 7): DataFrame = {
    require(n >= 3 && n % 2 == 1, s"window must be odd and >= 3, got $n")
    graft.functions.GraftFunctions.register(events.sparkSession)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(expr(s"unix_micros($tsCol)"), col(tieCol))
      .rowsBetween(-(n - 1), Window.currentRow)
    events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        col(tsCol))
      .withColumn("win", collect_list(col("cents")).over(w))
      .filter(size(col("win")) === n)
      .withColumn("mm", expr("graft_median_mad(win)"))
      .withColumn("med", element_at(col("mm"), 1))
      .withColumn("mad", element_at(col("mm"), 2))
      .select(col(tieCol), col(keyCol), col("cents"), col("med"),
        col("mad"), (abs(col("cents") - col("med")) > col("mad") * k)
          .as("is_anom"))
  }

  /** X8 — maximum drawdown per series: the deepest peak-to-trough drop
    * of each key's price path, the risk statistic every holdings report
    * leads with (the reference's ticker feeds exist to drive exactly
    * this kind of per-pair chart math; cf.
    * /root/reference/downloader/main.py ticker pipelines). The running
    * peak is a prefix max over the (ts, tie)-ordered series; drawdown
    * at a row is peak − price, and the report keeps each key's worst
    * absolute drop and worst RELATIVE drop (ppm of the peak it fell
    * from — the financially meaningful number).
    *
    * Exactness discipline: prices are integer cents in, the prefix max
    * and differences are integers, and the relative drawdown is integer
    * ppm (`dd·10^6 div peak`, guarded null when the running peak is not
    * positive) — every column replays bit-identically in the oracle.
    * The per-row ppm is taken BEFORE the max so the reported relative
    * drop is the true max of ratios, not the ratio of maxes (they
    * differ whenever the deepest absolute drop falls from a higher
    * peak than the deepest relative one).
    *
    * Scale shape: ONE window shuffle on the key (running max over a
    * row frame — constant state, no array materialization), and the
    * final per-key aggregate reuses the window's hash partitioning, so
    * Catalyst plans NO second exchange. Linear in ticks, no driver
    * involvement; skew rides the key distribution like every per-key
    * series op here. */
  def maxDrawdown(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(expr(s"unix_micros($tsCol)"), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        col(tsCol))
      .withColumn("peak", max(col("cents")).over(w))
      .withColumn("dd", col("peak") - col("cents"))
      .withColumn("dd_ppm",
        when(col("peak") > 0, expr("dd * 1000000L div peak")))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_ticks"),
        max(col("peak")).as("peak_cents"),
        max(col("dd")).as("max_dd_cents"),
        max(col("dd_ppm")).as("max_dd_ppm"))
  }

  /** X8 — per-key correlation against the equal-weight market index:
    * each series' co-movement with the cross-section (the correlation
    * leg of a beta report). All-pairs correlation of K keys is K²/2
    * cells — the wrong first question at scale; against-the-index is
    * the linear one portfolio tools actually ask, and an all-pairs
    * follow-up should route its CANDIDATE pairs through a lane like
    * this first (same argument as the dedup generators: never
    * all-pairs).
    *
    * Alignment: close of each (key, bucket) — last tick by (ts, tie),
    * one row_number window — then the index is the per-bucket SUM of
    * closes (integer; correlation is scale-invariant, so the
    * equal-weight sum IS the equal-weight index, no division). Moment
    * sums n, Σx, Σy, Σxy, Σx², Σy² are exact BIGINTs; the numerators
    * cov = n·Σxy − Σx·Σy and var = n·Σx² − (Σx)² are exact BIGINTs
    * (judged so), and only the final normalization touches doubles —
    * `cov / sqrt(varx) / sqrt(vary)` with the division order pinned
    * textually in the oracle (IEEE divide and sqrt are correctly
    * rounded, so the doubles agree bit-for-bit cross-engine).
    * Degenerate series (zero variance, e.g. a single shared bucket)
    * report null, not NaN.
    *
    * Scale shape: one (key, bucket) window shuffle for closes, one
    * |buckets|-sized aggregate for the index (broadcast back — it is
    * time-bounded, not data-bounded), one per-key aggregate. Linear in
    * ticks; the index never routes through the driver. */
  def corrVsIndex(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column, bucketUs: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("bucket"))
      .orderBy(col("us").desc, col(tieCol).desc)
    val closes = events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("bucket", expr(s"us div ${bucketUs}L"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("bucket"), col("cents"))
      // both the index aggregate and the join probe read this frame:
      // without truncation Catalyst re-derives the scan + (key, bucket)
      // close-picking shuffle TWICE (the capBuckets/pageRank
      // re-derivation class, seen in the dumped plan); the
      // checkpointed frame is one row per (key, bucket) — tiny
      .localCheckpoint(eager = false)
    val index = closes.groupBy(col("bucket"))
      .agg(sum(col("cents")).as("idx"))
    closes.join(broadcast(index), Seq("bucket"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sx"), sum(col("idx")).as("sy"),
        sum(col("cents") * col("idx")).as("sxy"),
        sum(col("cents") * col("cents")).as("sxx"),
        sum(col("idx") * col("idx")).as("syy"))
      .select(col(keyCol), col("n"),
        expr("n * sxy - sx * sy").as("cov_num"),
        expr("n * sxx - sx * sx").as("varx_num"),
        expr("n * syy - sy * sy").as("vary_num"))
      // textually mirrored in the oracle SQL — do not re-parenthesize
      .withColumn("corr", expr(
        "CASE WHEN varx_num > 0 AND vary_num > 0 THEN " +
          "CAST(cov_num AS DOUBLE) / sqrt(CAST(varx_num AS DOUBLE)) / " +
          "sqrt(CAST(vary_num AS DOUBLE)) END"))
      // beta vs the index (the regression slope cov/var_index): the
      // numerators are exact BIGINTs above; the one division is a
      // single IEEE divide with both sides' text pinned (an integer-ppm
      // form would need cov_num·10^6, which overflows BIGINT at
      // realistic moment magnitudes — rejected, not overlooked)
      .withColumn("beta",
        expr("CASE WHEN vary_num > 0 THEN " +
          "CAST(cov_num AS DOUBLE) / CAST(vary_num AS DOUBLE) END"))
  }

  /** X8 — truncated exponential moving average, exact: the classic
    * chart smoother (α = 1/2 per tick) with the infinite tail truncated
    * at `w` observations so the whole computation stays in integer
    * arithmetic — ema = Σ_{j=1..w} x_j·2^(w−j) / (2^w − 1) over the
    * trailing window, oldest weight 2^(w−1), newest 2^0. Truncation
    * error is the dropped tail ≤ max|x| / 2^w — below one cent for any
    * w ≥ 21 at dollar prices, and DECLARED (a bounded-window contract,
    * not a hidden approximation).
    *
    * The numerator is a HORNER FOLD — `aggregate(arr, 0, (acc, x) →
    * 2·acc + x)` — one codegen'd higher-order pass over the bounded
    * array; the oracle's `list_reduce` computes the identical integer.
    * ema_milli = num·1000 div (2^w − 1) keeps thousandths-of-a-cent
    * precision without ever touching doubles.
    *
    * Scale shape: identical to [[robustAnomalies]] — ONE window shuffle
    * on the key, w longs of bounded state per row, warm-up rows
    * excluded. Overflow headroom: the fold needs |x|·2^w < 2^63 and the
    * milli scaling |x|·2^w·1000 < 2^63 — at the default w = 16 that is
    * |x| ≲ 1.4·10^11 cents (no practical ceiling); at w = 32, ~$21k
    * prices. The w ≤ 32 bound is require'd at construction. */
  def emaTrunc(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column, w: Int = 16): DataFrame = {
    require(w >= 2 && w <= 32, s"window must be in [2, 32], got $w")
    val win = Window.partitionBy(col(keyCol))
      .orderBy(expr(s"unix_micros($tsCol)"), col(tieCol))
      .rowsBetween(-(w - 1), Window.currentRow)
    val den = (1L << w) - 1
    events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        col(tsCol))
      .withColumn("arr", collect_list(col("cents")).over(win))
      .filter(size(col("arr")) === w)
      .withColumn("ema_num",
        aggregate(col("arr"), lit(0L), (acc, x) => acc * 2 + x))
      .select(col(tieCol), col(keyCol), col("cents"), col("ema_num"),
        expr(s"ema_num * 1000L div ${den}L").as("ema_milli"))
  }

  /** X8 — realized volatility per (key, day): tick-to-tick return
    * deltas aggregated into the daily risk numbers a desk report needs —
    * net move, realized variance numerator (Σd², the sum every
    * realized-vol estimator is built from), and the largest single
    * move. Deltas stay in integer cents (no ratios, no logs), so every
    * column is an exact BIGINT and the oracle replays bit-identically;
    * a consumer wanting annualized vol divides by n and scales at the
    * edge — the heavy pass stays exact.
    *
    * A delta is attributed to the day of its LATER tick (the overnight
    * gap belongs to the morning that realizes it — the standard
    * close-to-open convention), and each key's first tick has no delta
    * and is excluded rather than zero-filled.
    *
    * Scale shape: ONE window shuffle on the key (the lag), and the
    * (key, day) aggregate is clustered BY A SUBSET — hash partitioning
    * on key co-locates every (key, day) group — so Catalyst plans no
    * second exchange (plan-pinned). Linear in ticks; skew rides the
    * key distribution like every per-key series op here. */
  def realizedVolatility(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column,
      dayUs: Long = 86400000000L): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("us"), col(tieCol))
    events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("d", col("cents") - lag(col("cents"), 1).over(w))
      .filter(col("d").isNotNull)
      .withColumn("day", expr(s"us div ${dayUs}L"))
      .groupBy(col(keyCol), col("day"))
      .agg(count(lit(1)).as("n_ret"),
        sum(col("d")).as("net_cents"),
        sum(col("d") * col("d")).as("rv_cents2"),
        max(abs(col("d"))).as("max_abs_cents"))
  }

  /** X8 — CUSUM changepoint flags per key (Page 1954): the classic
    * two-sided cumulative-sum detector over tick-to-tick integer cent
    * deltas. Per key, in time order:
    *
    *   up_i = max(0, up_{i-1} + d_i − slack)
    *   dn_i = max(0, dn_{i-1} − d_i − slack)
    *
    * with d_1 = 0, alarm when either side exceeds `threshold`. The
    * recursion is a PREFIX fold with a clamp — unlike [[emaTrunc]]'s
    * bounded Horner window it cannot be expressed as a frame aggregate
    * without materializing the whole per-key prefix under every row
    * (O(n²) state), so this is the one per-key series op implemented as
    * a SECONDARY SORT: `repartition(key)` + `sortWithinPartitions(key,
    * ts, tie)` + `mapPartitions` with O(1) running state per key and a
    * reset on key change. That is the scale-correct shape — one shuffle
    * (the same key shuffle every window lane pays), then a single
    * streaming pass with constant memory regardless of ticks-per-key;
    * no `collect_list`, no per-key buffer. The oracle replays the same
    * integers with a DuckDB prefix-list fold (quadratic, fine at
    * fixture scale — the point of the oracle is the integers, not the
    * plan).
    *
    * All state is exact BIGINT; `slack` absorbs drift (deltas smaller
    * than slack decay the statistic), `threshold` sets the alarm line —
    * both in cents, both part of the declared contract. */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column, slack: Long,
      threshold: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val prepared = events
      .select(col(keyCol).cast("long").as("k"),
        expr(s"unix_micros($tsCol)").as("us"),
        col(tieCol).cast("long").as("tie"),
        valueCentsCol.cast("long").as("cents"))
      .repartition(col("k"))
      .sortWithinPartitions(col("k"), col("us"), col("tie"))
      .as[(Long, Long, Long, Long)]
    prepared.mapPartitions { it =>
      var curKey = Long.MinValue
      var haveKey = false
      var prev = 0L
      var up = 0L
      var dn = 0L
      it.map { case (k, _, tie, cents) =>
        if (!haveKey || k != curKey) {
          curKey = k; haveKey = true; prev = cents; up = 0L; dn = 0L
        }
        val row = cusumStep(k, tie, cents, prev, up, dn, slack, threshold)
        prev = cents; up = row._5; dn = row._6
        row
      }
    }.toDF(tieCol, keyCol, "cents", "d", "cusum_up", "cusum_dn", "alarm")
  }

  /** The CUSUM recursion, once for [[cusum]] and its streaming twin
    * (`streaming.TickPipeline.streamingCusum`): from a key's carried
    * (prev, up, dn) (a key's first tick carries prev = its own cents and
    * up = dn = 0), the tick's row (tie, key, cents, d, up, dn, alarm).
    * The next tick carries (cents, up, dn) of that row. */
  def cusumStep(key: Long, tie: Long, cents: Long, prev: Long, up: Long,
      dn: Long, slack: Long, threshold: Long)
      : (Long, Long, Long, Long, Long, Long, Long) = {
    val d = cents - prev
    val u = math.max(0L, up + d - slack)
    val v = math.max(0L, dn - d - slack)
    (tie, key, cents, d, u, v, if (u > threshold || v > threshold) 1L else 0L)
  }

  /** X8 — seasonal slot profile: per (key, time-slot) activity shape —
    * slot = (µs div slotUs) mod modulo, e.g. hour-of-day with the
    * defaults. Emits per slot the exact count/sum, the integer-milli
    * mean, and the deviation from the key's overall mean — the
    * "is 3am different from 3pm" table that seasonality-aware anomaly
    * detection, capacity planning and traffic shaping all start from
    * (and the additive-decomposition seasonal term, computed without
    * floats).
    *
    * Scale shape: ONE (key, slot)-grouped map-side-combined shuffle
    * collapses the tick volume to ≤ |keys|·modulo rows; the key-wide
    * mean is a window over that bounded frame (≤ modulo rows per key),
    * never a second pass over the data. All integers exact: mean_milli
    * = sum·1000 div n, dev_milli a BIGINT difference.
    *
    * Contract: `valueCentsCol` must be NON-NEGATIVE — Spark's integral
    * `div` truncates toward zero while the DuckDB oracle's `//` floors,
    * so a negative slot sum would diverge by one milli between engines.
    * Shift a signed measure up before profiling (deviation columns are
    * shift-invariant). */
  def seasonalProfile(events: DataFrame, keyCol: String, tsCol: String,
      valueCentsCol: Column, slotUs: Long = 3600000000L,
      modulo: Int = 24): DataFrame = {
    require(slotUs >= 1, s"slotUs must be >= 1, got $slotUs")
    require(modulo >= 2, s"modulo must be >= 2, got $modulo")
    val w = Window.partitionBy(col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .select(col(keyCol), valueCentsCol.as("cents"),
        expr(s"(unix_micros($tsCol) div ${slotUs}L) % $modulo").as("slot"))
      .groupBy(col(keyCol), col("slot"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .withColumn("key_n", sum(col("n")).over(w))
      .withColumn("key_sum", sum(col("sum_cents")).over(w))
      .select(col(keyCol), col("slot"), col("n"), col("sum_cents"),
        expr("sum_cents * 1000L div n").as("mean_milli"),
        expr("sum_cents * 1000L div n - key_sum * 1000L div key_n")
          .as("dev_milli"))
  }

  /** X8 — last-touch conversion attribution: each conversion event
    * credits the most recent PRECEDING non-conversion event type of the
    * same key ("which channel gets the sale"); conversions with no
    * preceding touch credit 'direct'. Output is the per-channel credit
    * table.
    *
    * Scale shape: one key-window shuffle (the `last(_, ignoreNulls)`
    * frame over strictly-preceding rows — the W4 value-window machinery
    * pointed at an attribution contract), then a |types|-bounded
    * partial-combining aggregate. First-touch attribution is the same
    * plan with `first` — the frame, not the operator, is the contract
    * here. */
  def lastTouchAttribution(events: DataFrame, keyCol: String,
      tsCol: String, tieCol: String, typeCol: String,
      convType: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(expr(s"unix_micros($tsCol)"), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("touch",
        last(when(col(typeCol) =!= convType, col(typeCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .select(coalesce(col("touch"), lit("direct")).as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** X8 — the finance-side end-to-end composite: irregular ticks →
    * per-(key, bucket) CLOSES → per-key return/risk report, in ONE scan
    * with no materialization boundary (the x9_curation_e2e argument
    * applied to the tick side — operators that each work alone must
    * also compose into the DAG a desk actually runs).
    *
    * Stages, all riding the same key partitioning:
    *   1. bucket each tick (integer µs division), keep the closing tick
    *      per (key, bucket) via one row_number window — Spark's
    *      WindowGroupLimit pushes the rn=1 cut below the exchange, so
    *      the shuffle carries ≤ 1 candidate row per (key, bucket) per
    *      map task;
    *   2. the closes frame (|keys|·|buckets| rows, localCheckpoint'd —
    *      it feeds lag AND running-peak AND the final agg) gets
    *      bucket-to-bucket deltas and the running peak in one
    *      key-window pass;
    *   3. one per-key aggregate: close count, net move, realized
    *      variance numerator Σd², worst single bucket move, and max
    *      peak-to-trough drawdown — exact BIGINTs end to end.
    */
  def closesSummary(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column,
      bucketUs: Long = 3600000000L): DataFrame = {
    require(bucketUs >= 1, s"bucketUs must be >= 1, got $bucketUs")
    val pick = Window.partitionBy(col(keyCol), col("bucket"))
      .orderBy(col("us").desc, col(tieCol).desc)
    val series = Window.partitionBy(col(keyCol))
      .orderBy(col("bucket"))
    val peakW = series.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val closes = events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("close"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("bucket", expr(s"us div ${bucketUs}L"))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("bucket"), col("close"))
      .localCheckpoint(eager = false)
    closes
      .withColumn("d", col("close") - lag(col("close"), 1).over(series))
      .withColumn("peak", max(col("close")).over(peakW))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_closes"),
        sum(col("d")).as("net_cents"),
        sum(col("d") * col("d")).as("rv_cents2"),
        max(abs(col("d"))).as("max_abs_cents"),
        max(col("peak") - col("close")).as("max_dd_cents"))
  }

  /** X8 — trailing-window distinct actives (the DAU/WAU/MAU family):
    * for every day, the count of DISTINCT keys active in the trailing
    * `windowDays` days. Distinct counts do NOT sum across days, so the
    * sliding window cannot ride a frame aggregate over daily counts;
    * the exact distributed shape is contribute-then-count:
    *
    *   1. dedupe to (key, active_day) — one map-side-combined shuffle,
    *      collapses event volume to ≤ |keys|·|days| rows;
    *   2. each active day CONTRIBUTES to `windowDays` report days via
    *      one bounded `sequence`/`explode` fan-out (≤ 7× for WAU — a
    *      constant, not a join);
    *   3. count_distinct(key) per report day — the heavy shuffle is
    *      over (report_day, key) pairs, bounded by windowDays·|actives|.
    *
    * Report days cover only days with ≥ 1 active in their window and
    * the TRAILING edge is clipped to the observed max_day (no phantom
    * report days after the data ends); the leading edge needs no clip —
    * report_day ≥ active day by construction, so nothing can precede
    * the first observed day. Exact BIGINTs. */
  def trailingActives(events: DataFrame, keyCol: String, tsCol: String,
      windowDays: Int, dayUs: Long = 86400000000L): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"windowDays must be in [1,366], got $windowDays")
    val actives = events
      .select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div ${dayUs}L").as("day"))
      .distinct()
      .localCheckpoint(eager = false)
    // only the trailing edge needs the span: report_day >= day makes a
    // leading clip vacuous (round-15 ADVICE fix — min_day was dead code)
    val span = actives.agg(max(col("day")).as("max_day"))
    actives
      .select(col("k"), explode(expr(
        s"sequence(day, day + ${windowDays - 1})")).as("report_day"))
      .crossJoin(broadcast(span))
      .filter(col("report_day") <= col("max_day"))
      .groupBy(col("report_day"))
      .agg(count_distinct(col("k")).as("n_active"))
  }

  /** X8 — exact integer time-decayed popularity: recency-weighted count
    * and value sum per group, half-life decay with the weight ladder
    * kept EXACT — age buckets of `halfLifeUs` get weight 2^(B−b) over a
    * common denominator 2^B (B = oldest bucket), so the decayed sums
    * are integer numerators with a declared scale, no pow(), no
    * doubles. score = Σ x·2^(B−b); a consumer divides by 2^B at the
    * edge. Buckets beyond `maxBuckets` half-lives contribute exactly 0
    * (their true weight is below 2^-maxBuckets — the declared floor),
    * which also bounds the numerator: Σx·2^B needs B ≤ 62−log2(Σx).
    *
    * Reference time = the corpus max timestamp (a deployment passes
    * "now"), broadcast as a 1-row frame so the plan stays lazy. ONE
    * group-keyed map-side-combined shuffle. */
  def decayedPopularity(events: DataFrame, groupCol: String,
      tsCol: String, valueCents: Column, halfLifeUs: Long,
      maxBuckets: Int = 40): DataFrame = {
    require(halfLifeUs >= 1, s"halfLifeUs must be >= 1, got $halfLifeUs")
    require(maxBuckets >= 1 && maxBuckets <= 60,
      s"maxBuckets must be in [1,60], got $maxBuckets")
    val now = events.agg(max(expr(s"unix_micros($tsCol)")).as("now_us"))
    events
      .select(col(groupCol), valueCents.as("cents"),
        expr(s"unix_micros($tsCol)").as("us"))
      .crossJoin(broadcast(now))
      .withColumn("b", expr(s"(now_us - us) div ${halfLifeUs}L"))
      .filter(col("b") < maxBuckets)
      .withColumn("w", expr(s"shiftleft(1L, ${maxBuckets - 1} - CAST(b AS INT))"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w")).as("decayed_count_num"),
        sum(col("w") * col("cents")).as("decayed_cents_num"))
      .withColumn("denom_log2", lit(maxBuckets - 1))
  }

  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(expr(s"unix_micros($tsCol)"), col(tieCol))
    events
      .withColumn("us", expr(s"unix_micros($tsCol)"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(w))
      .groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
  }

  /** X8q — lag-k autocorrelation (ACF) per key: for each lag L in
    * 1..maxLag, the Pearson correlation between the series and itself
    * shifted L observations — the standard seasonality/momentum/
    * mean-reversion diagnostic (a daily cycle shows as a peak at the
    * daily lag; negative lag-1 ACF on returns is mean reversion). Same
    * sufficient-statistics discipline as [[corrVsIndex]]: per (key,
    * lag) the EXACT BIGINT moments (n, and the cross/variance
    * numerators n·Σxy − Σx·Σy etc. over the aligned pairs), with the
    * one float correlation derived from them in a parenthesization
    * textually mirrored by the oracle. Overflow bound: |cents| ≤ c,
    * rows-per-key ≤ r needs r²·c² < 2^63 — r ≲ 10^4 at dollar prices,
    * require'd nowhere because the moments are per-key (declared
    * contract, same as corrVsIndex).
    *
    * Scale shape: ONE key-window shuffle computes ALL maxLag lag
    * columns (the frame sorts once; each lag is another pointer into
    * the same sorted buffer), a `stack` unpivots width→rows narrowly,
    * and the (key, lag) aggregate partial-combines map-side. Nothing
    * is quadratic; maxLag multiplies row volume only after projection
    * to 3 columns. */
  def acf(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCents: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 32,
      s"maxLag must be in [1, 32], got $maxLag")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("us"), col(tieCol))
    val base = events.select(col(keyCol), col(tieCol),
      valueCents.as("cents"), expr(s"unix_micros($tsCol)").as("us"))
    val withLags = (1 to maxLag).foldLeft(base) { (df, l) =>
      df.withColumn(s"lag_$l", lag(col("cents"), l).over(w))
    }
    val stackArgs = (1 to maxLag).map(l => s"$l, lag_$l").mkString(", ")
    withLags
      .select(col(keyCol), col("cents").as("x"),
        expr(s"stack($maxLag, $stackArgs) AS (lag_k, y)"))
      .filter(col("y").isNotNull)
      .groupBy(col(keyCol), col("lag_k"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col(keyCol), col("lag_k"), col("n"),
        expr("n * sxy - sx * sy").as("cov_num"),
        expr("n * sxx - sx * sx").as("varx_num"),
        expr("n * syy - sy * sy").as("vary_num"))
      // textually mirrored in the oracle SQL — do not re-parenthesize
      .withColumn("acf", expr(
        "CASE WHEN varx_num > 0 AND vary_num > 0 THEN " +
          "CAST(cov_num AS DOUBLE) / sqrt(CAST(varx_num AS DOUBLE)) / " +
          "sqrt(CAST(vary_num AS DOUBLE)) END"))
  }

  /** X8r — pairwise close-to-close correlation MATRIX over a bounded key
    * set: for every key pair (k1 < k2), the Pearson correlation of their
    * per-bucket closes across the buckets BOTH have a close in — the
    * cross-asset co-movement table behind any hedging/clustering/
    * portfolio view ([[corrVsIndex]] relates each key to one index; this
    * relates keys to each other). Exact BIGINT moments + the pinned
    * float chain, as everywhere in this family.
    *
    * Scale contract: the matrix is inherently |keys|² — the CALLER
    * bounds the key set (a watchlist, a sector, the top-N by volume;
    * require'd ≤ 1000 here as the quadratic guardrail, the capBuckets
    * discipline). The close-picking window collapses the tick volume to
    * |keys|·|buckets| first, so the quadratic runs over closes, never
    * ticks: one bucket-keyed self-join fans each bucket to its key
    * pairs, one (k1, k2) partial-combining aggregate ends it. */
  def corrMatrix(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCents: Column, bucketUs: Long,
      maxKeys: Int = 1000): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("bucket"))
      .orderBy(col("us").desc, col(tieCol).desc)
    val closes = events
      .select(col(keyCol), col(tieCol), valueCents.as("cents"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("bucket", expr(s"us div ${bucketUs}L"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("bucket"), col("cents"))
      // both self-join sides read this frame — one evaluation
      .localCheckpoint(eager = false)
    val nKeys = closes.select(col(keyCol)).distinct().count()
    require(nKeys <= maxKeys,
      s"corrMatrix is |keys|² — got $nKeys keys, cap $maxKeys; " +
        "pre-filter to a bounded watchlist")
    closes.select(col(keyCol).as("k1"), col("bucket"), col("cents").as("x"))
      .join(closes.select(col(keyCol).as("k2"), col("bucket"),
        col("cents").as("y")), Seq("bucket"))
      .filter(col("k1") < col("k2"))
      .groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("k1"), col("k2"), col("n"),
        expr("n * sxy - sx * sy").as("cov_num"),
        expr("n * sxx - sx * sx").as("varx_num"),
        expr("n * syy - sy * sy").as("vary_num"))
      // textually mirrored in the oracle SQL — do not re-parenthesize
      .withColumn("corr", expr(
        "CASE WHEN varx_num > 0 AND vary_num > 0 THEN " +
          "CAST(cov_num AS DOUBLE) / sqrt(CAST(varx_num AS DOUBLE)) / " +
          "sqrt(CAST(vary_num AS DOUBLE)) END"))
  }

  /** X8u — seasonal-forecast BACKTEST: train the same-slot seasonal
    * mean (the [[seasonalProfile]] predictor) on everything before
    * `splitUs`, score it on everything after, and report per-key MAE
    * beside the naive key-mean baseline — the skill-score table every
    * forecasting pipeline publishes (a seasonal model that can't beat
    * the key mean has no seasonality to exploit). The standard
    * temporal-holdout eval: the split is a timestamp, so no future
    * information leaks into the predictor (the leak-free-split
    * discipline, x5_split_leakfree, applied to time).
    *
    * Exact integers end to end: predictors are floored milli-cents
    * (sum·1000 div n over the train rows), errors are |actual·1000 −
    * pred_milli| BIGINTs, MAE is one floored division per key. Test
    * rows whose (key, slot) never occurred in training are EXCLUDED
    * from both models' scoring (inner join; both MAEs cover the same
    * rows — an honest comparison needs a shared support set); n_test
    * counts exactly the covered rows, so the exclusion is visible
    * against any external row count.
    *
    * Scale shape: one (key, slot) train aggregate (map-side combined,
    * ≤ |keys|·modulo rows) + one key train aggregate, both broadcast
    * back onto the test stream; one key-grouped score aggregate. The
    * fact volume is scanned twice (train, test) and shuffled once. */
  def forecastBacktest(events: DataFrame, keyCol: String, tsCol: String,
      valueCents: Column, slotUs: Long, modulo: Int,
      splitUs: Long): DataFrame = {
    val base = events.select(col(keyCol), valueCents.as("cents"),
      expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("slot", expr(s"pmod(us div ${slotUs}L, $modulo)"))
    val train = base.filter(col("us") < splitUs)
    val slotMeans = train.groupBy(col(keyCol), col("slot"))
      .agg(expr("sum(cents) * 1000L div count(1)").as("pred_slot_milli"))
    val keyMeans = train.groupBy(col(keyCol))
      .agg(expr("sum(cents) * 1000L div count(1)").as("pred_key_milli"),
        count(lit(1)).as("n_train"))
    base.filter(col("us") >= splitUs)
      .join(broadcast(slotMeans), Seq(keyCol, "slot"))
      .join(broadcast(keyMeans), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(max(col("n_train")).as("n_train"), count(lit(1)).as("n_test"),
        expr("sum(abs(cents * 1000L - pred_slot_milli)) div count(1)")
          .as("mae_seasonal_milli"),
        expr("sum(abs(cents * 1000L - pred_key_milli)) div count(1)")
          .as("mae_naive_milli"))
  }

  /** X8v — single CHANGEPOINT per key by largest mean shift (round 16):
    * the first split of binary segmentation (AMOC — "at most one
    * change" — the core step of Scott & Knott / PELT-style detectors):
    * over each key's (ts, tie)-ordered series, find the split t that
    * maximizes |mean(left) − mean(right)| — regime-change detection for
    * price level breaks, traffic migrations, metric step changes.
    *
    * Exact-integer contract: with prefix sums S_t over cents and n
    * rows, mean(left) − mean(right) = (S_t·n − S_n·t)/(t·(n−t)); the
    * judged score is the PINNED floor division
    * shift_milli = ⌊|S_t·n − S_n·t|·1000 / (t·(n−t))⌋ (magnitudes:
    * |numerator|·1000 ≤ n²·maxCents·1000 — safe in BIGINT to ~10⁶ rows
    * per key at dollar scales), and the argmax tie-breaks
    * deterministically on the EARLIEST split. `minSeg` keeps degenerate
    * 1-row segments from winning on noise (the standard AMOC guard).
    *
    * Scale shape: ONE key shuffle; prefix sums and n ride two frames
    * over the same window partitioning (no second shuffle — the w3
    * frames discipline), the per-row score is codegen'd arithmetic, and
    * the argmax is a per-key max_by — no self-join, no per-key sort
    * beyond the window's. Keys shorter than 2·minSeg are excluded
    * honestly (no split exists under the guard). */
  def changepoint(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCentsCol: Column, minSeg: Int = 3): DataFrame = {
    require(minSeg >= 1, s"minSeg must be >= 1, got $minSeg")
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col("us"), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .select(col(keyCol), col(tieCol), valueCentsCol.as("cents"),
        expr(s"unix_micros($tsCol)").as("us"))
      .withColumn("t", count(lit(1)).over(wOrd))
      .withColumn("s_t", sum(col("cents")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s_n", sum(col("cents")).over(wAll))
      .filter(col("t") >= minSeg && col("t") <= col("n") - minSeg)
      .withColumn("num", col("s_t") * col("n") - col("s_n") * col("t"))
      .withColumn("shift_milli",
        expr("abs(num) * 1000L div (t * (n - t))"))
      // sign-safe pinned floors: cents may be negative (P&L deltas), and
      // div-truncation would round the two segment means toward zero
      .withColumn("lm", expr("(s_t * 1000L - pmod(s_t * 1000L, t)) div t"))
      .withColumn("rm", expr("((s_n - s_t) * 1000L - " +
        "pmod((s_n - s_t) * 1000L, n - t)) div (n - t)"))
      .groupBy(col(keyCol))
      .agg(
        max(col("n")).as("n"),
        // earliest split wins ties: max over (score, -t)
        expr("max_by(t, struct(shift_milli, -t))").as("split_t"),
        expr("max_by(us, struct(shift_milli, -t))").as("split_us"),
        max(col("shift_milli")).as("shift_milli"),
        expr("max_by(lm, struct(shift_milli, -t))").as("left_mean_milli"),
        expr("max_by(rm, struct(shift_milli, -t))").as("right_mean_milli"))
  }
}
