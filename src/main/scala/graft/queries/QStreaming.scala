package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ops._
import graft.schema.{CurrencyDim, Transition}
import Q._

/** Streaming replay lanes (ST*) judged against batch oracles, plus the O-ST1 state machine.
  *
  * Round-17 split of the monolithic Queries.scala (r16 verdict item 8):
  * ZERO behavior change — every QuerySpec moved verbatim; shared
  * fixtures/oracle-text helpers live in [[Q]]; graft.Queries.all
  * re-exports the identical 292-name registry in the original order. */
object QStreaming {

  /** The events table as a stream source; each call of the returned
    * reader is a new source over the file. Streaming file sources need
    * an explicit schema: it comes from the batch reader (footer-only), so
    * ns-timestamp handling matches Tables.events. events.parquet is a
    * single FILE: for a NON-glob path the file stream source
    * force-injects basePath = the path itself, which then fails the "must
    * be a directory" check — a {braced} glob matching exactly that file
    * skips the injection; the explicit basePath keeps partition discovery
    * rooted at the table dir. */
  private def eventsStream(s: SparkSession, d: String): () => DataFrame = {
    val rawSchema = s.read.parquet(s"$d/events.parquet").schema
    () => Tables.normalizeTs(s.readStream.schema(rawSchema)
      .option("basePath", d).parquet(s"$d/{events.parquet}"))
  }

  /** The integer-cents (user_id, event_id, us, cents) stream of users
    * < 30 the stateful operators fold. */
  private def centsEvents(s: SparkSession, d: String)
      : Dataset[(Long, Long, Long, Long)] = {
    import s.implicits._
    eventsStream(s, d)().withColumn("us", expr("unix_micros(ts)"))
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .toDF("_1", "_2", "_3", "_4")
      .as[(Long, Long, Long, Long)]
  }

  /** Replays a stream into the memory sink `<lane>_mem` with
    * Trigger.AvailableNow and returns the sink's table. */
  private def replay(s: SparkSession, lane: String, out: DataFrame,
      mode: String = "append"): DataFrame = {
    s.catalog.dropTempView(s"${lane}_mem")
    out.writeStream.format("memory").queryName(s"${lane}_mem")
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    s.table(s"${lane}_mem")
  }

  /** ST4 as a JUDGED result (round 7): the events table replayed through
    * the REAL Structured Streaming pipeline — readStream parquet source →
    * TickPipeline.bars (watermark + tumbling event-time window + OHLC
    * aggregate) → memory sink, Trigger.AvailableNow — then the sink's
    * table returned as the query result. Streaming thereby participates
    * in the driver's DuckDB correctness artifact, not only in ScalaTest's
    * stream-batch equivalence check: the oracle recomputes the same OHLC
    * bars relationally (row_number twins of min_by/max_by with the same
    * (ts, price) tie-break). The replay is one micro-batch, so the
    * watermark drops nothing — exactly the batch-parity contract. */
  val stBarsReplay = QuerySpec("st_bars_replay",
    (s, d) => {
      val ticks = eventsStream(s, d)().select(col("ts"),
        isinFrom(col("user_id")).as("isin"),
        col("value").as("last_price"),
        col("value").as("volume"))
      // complete mode: every window in the sink table (append would hold
      // back windows the final watermark hasn't passed)
      replay(s, "st_bars_replay",
        graft.streaming.TickPipeline.bars(ticks, width = "15 minutes"),
        "complete")
        .select(expr("unix_micros(window.start)").as("start_us"), col("isin"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 4).as("volume"), col("n_ticks"))
        .orderBy(col("start_us"), col("isin"))
    },
    Some(s"""-- nonneg-div(1): epoch_us of post-1970 fixture timestamps
           |WITH t AS (
            |  SELECT epoch_us(ts) AS us, $isinSql AS isin,
            |    value AS last_price, value AS volume
            |  FROM events),
            |b AS (SELECT *, (us // 900000000) * 900000000 AS start_us FROM t),
            |r AS (
            |  SELECT start_us, isin, last_price,
            |    row_number() OVER (PARTITION BY start_us, isin
            |      ORDER BY us, last_price) AS rn_o,
            |    row_number() OVER (PARTITION BY start_us, isin
            |      ORDER BY us DESC, last_price DESC) AS rn_c
            |  FROM b),
            |agg AS (
            |  SELECT start_us, isin, max(last_price) AS high,
            |    min(last_price) AS low, round(sum(volume), 4) AS volume,
            |    count(*) AS n_ticks
            |  FROM b GROUP BY 1, 2)
            |SELECT a.start_us, a.isin, o.last_price AS open, a.high, a.low,
            |  c.last_price AS close, a.volume, a.n_ticks
            |FROM agg a
            |JOIN r o ON o.start_us = a.start_us AND o.isin = a.isin
            |  AND o.rn_o = 1
            |JOIN r c ON c.start_us = a.start_us AND c.isin = a.isin
            |  AND c.rn_c = 1
            |ORDER BY a.start_us, a.isin""".stripMargin))


  /** ST8 as a JUDGED result (round 7): two streaming sources over the
    * same events table — ticks (clicks) and job events (purchases) —
    * joined with the watermarked stream-stream INTERVAL join
    * (TickPipeline.enrichWithJobs: equi on isin, job within 30 min
    * BEFORE the tick) into a memory sink. One micro-batch replay: the
    * inner join emits every match and watermarks drop nothing, so the
    * result equals the relational time-bounded join the oracle runs. */
  val stEnrichReplay = QuerySpec("st_enrich_replay",
    (s, d) => {
      val src = eventsStream(s, d)
      val ticks = src()
        .filter(col("event_type") === "click" && col("user_id") < 30)
        .select(isinFrom(col("user_id")).as("isin"), col("ts"),
          col("event_id").as("tick_id"))
      val jobs = src()
        .filter(col("event_type") === "purchase" && col("user_id") < 30)
        .select(isinFrom(col("user_id")).as("isin"), col("ts"),
          col("event_id").as("job_id"))
      val joined = graft.streaming.TickPipeline
        .enrichWithJobs(ticks, jobs, "30 minutes")
      replay(s, "st_enrich_replay", joined.select(col("tick_id"),
          col("job_id"), expr("unix_micros(ts)").as("ts_us"),
          expr("unix_micros(job_ts)").as("job_ts_us")))
        .orderBy(col("tick_id"), col("job_id"))
    },
    Some(s"""WITH ev AS (
            |  SELECT event_id, user_id, ts, event_type FROM events
            |  WHERE user_id < 30),
            |t AS (
            |  SELECT event_id AS tick_id, $isinSql AS isin,
            |    epoch_us(ts) AS ts_us
            |  FROM ev WHERE event_type = 'click'),
            |j AS (
            |  SELECT event_id AS job_id, $isinSql AS isin,
            |    epoch_us(ts) AS job_ts_us
            |  FROM ev WHERE event_type = 'purchase')
            |SELECT t.tick_id, j.job_id, t.ts_us, j.job_ts_us
            |FROM t JOIN j ON j.isin = t.isin
            |  AND j.job_ts_us <= t.ts_us
            |  AND j.job_ts_us >= t.ts_us - 1800000000
            |ORDER BY tick_id, job_id""".stripMargin))


  /** ST5 as a JUDGED result (round 8): per-user running totals computed by
    * the REAL flatMapGroupsWithState operator (TickPipeline.runningTotals)
    * over a replayed event stream, memory sink, Trigger.AvailableNow. The
    * state's running amount is exact integer CENTS, so the changelog is
    * engine-portable (a running double sum would depend on summation
    * order); the oracle is the per-key running window. One micro-batch
    * replay: within-batch (us, event_id) ordering equals the window's
    * ORDER BY, so the emitted seq/run_cents match row for row. */
  val stStateReplay = QuerySpec("st_state_replay",
    (s, d) => {
      replay(s, "st_state_replay",
        graft.streaming.TickPipeline.runningTotals(centsEvents(s, d))
          .toDF("user_id", "event_id", "seq", "run_cents"))
        .orderBy(col("user_id"), col("seq"))
    },
    Some("""SELECT user_id, event_id,
           |  row_number() OVER w AS seq,
           |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
           |    AS BIGINT) AS run_cents
           |FROM events WHERE user_id < 30
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           |  ROWS UNBOUNDED PRECEDING)
           |ORDER BY user_id, seq""".stripMargin))


  /** ST5e — STREAMING anomaly replay: the bounded-ring
    * flatMapGroupsWithState twin of x8_anomaly
    * (TickPipeline.streamingAnomalies) replayed over the event files and
    * judged against the SAME DuckDB list-window oracle the batch lane
    * uses — streaming-equals-batch pinned through a third engine. The
    * per-key ring is n longs of constant state; the memory-sink replay
    * uses Trigger.AvailableNow like every st_* lane. */
  val stAnomalyReplay = QuerySpec("st_anomaly_replay",
    (s, d) => {
      replay(s, "st_anomaly_replay",
        graft.streaming.TickPipeline.streamingAnomalies(centsEvents(s, d))
          .toDF("event_id", "user_id", "cents", "med", "mad", "is_anom"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, ts
           |  FROM events WHERE user_id < 30),
           |w AS (
           |  SELECT event_id, user_id, cents,
           |    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS win
           |  FROM e),
           |s AS (
           |  SELECT event_id, user_id, cents, list_sort(win) AS l
           |  FROM w WHERE len(win) = 15),
           |m AS (
           |  SELECT event_id, user_id, cents, l[8] AS med,
           |    list_sort(list_transform(l, x -> abs(x - l[8])))[8] AS mad
           |  FROM s)
           |SELECT event_id, user_id, cents, med, mad,
           |  (abs(cents - med) > 7 * mad) AS is_anom
           |FROM m ORDER BY event_id""".stripMargin))


  /** ST5d — the SAME running-totals changelog computed by Spark 4's
    * transformWithState (StatefulProcessor + typed ValueState handle +
    * RocksDB state store), judged against the IDENTICAL window oracle as
    * `st_state_replay`. Having both judged pins the two stateful APIs to
    * each other through the oracle: fMGWS (the stable API) and
    * transformWithState (the one that scales state shape — named state
    * variables, TTL, timers) must produce the same changelog row for
    * row. The RocksDB provider conf is set for the query and restored
    * after (the provider is per-query-start; neighbors keep the
    * default). */
  val stStateTws = QuerySpec("st_state_tws",
    (s, d) => {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        replay(s, "st_state_tws",
          graft.streaming.TickPipeline.runningTotalsTws(centsEvents(s, d))
            .toDF("user_id", "event_id", "seq", "run_cents"))
          .orderBy(col("user_id"), col("seq"))
      } finally {
        prev match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      }
    },
    Some("""SELECT user_id, event_id,
           |  row_number() OVER w AS seq,
           |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
           |    AS BIGINT) AS run_cents
           |FROM events WHERE user_id < 30
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           |  ROWS UNBOUNDED PRECEDING)
           |ORDER BY user_id, seq""".stripMargin))


  val ost1State = QuerySpec("ost1_state_machine",
    (s, d) => {
      val log = Tables.events(s, d).select(
        col("user_id").as("job_id"),
        when(col("event_type") === "signup", Transition.NEW)
          .when(col("event_type") === "click", Transition.CLAIMED)
          .when(col("event_type") === "view", Transition.PROCESSING)
          .when(col("event_type") === "purchase", Transition.IMPORTED)
          .otherwise(Transition.ERROR).as("action"),
        col("ts"), col("event_id"))
      StateMachine.currentState(log)
        .orderBy(col("job_id"))
    },
    Some("""WITH log AS (
           |  SELECT user_id AS job_id,
           |    CASE event_type WHEN 'signup' THEN 1000 WHEN 'click' THEN 1001
           |         WHEN 'view' THEN 1100 WHEN 'purchase' THEN 1300
           |         ELSE 1900 END AS action,
           |    ts, event_id
           |  FROM events),
           |r AS (
           |  SELECT job_id, action,
           |    row_number() OVER (PARTITION BY job_id
           |      ORDER BY ts DESC, event_id DESC) AS rn,
           |    count(*) OVER (PARTITION BY job_id) AS n_transitions
           |  FROM log)
           |SELECT job_id, action AS current_action, n_transitions
           |FROM r WHERE rn = 1 ORDER BY job_id""".stripMargin))


  /** ST/X7 — the key-scoped STREAMING CDC merge as a judged result
    * (round 9): a change stream replayed through applyCdcStream in four
    * micro-batches (file source, maxFilesPerTrigger=1) maintaining a
    * bucketed manifest-versioned snapshot; the final snapshot is the
    * judged artifact, and the oracle replays the merge as ONE batch SQL
    * MERGE. Every change key appears exactly once in the stream, so any
    * micro-batch partitioning yields the same snapshot (within-batch
    * latest-wins is x7_merge_cdc's subject) — what this judges is
    * stream-batch MERGE equivalence plus the versioned snapshot
    * machinery itself. */
  val stMergeReplay = QuerySpec("st_merge_replay",
    (s, d) => {
      def p2(c: org.apache.spark.sql.Column) = floor(c * 100 + 0.5) / 100
      val o = T(s, d, "orders")
      val snapDir = java.nio.file.Files
        .createTempDirectory("graft_merge_replay").toString
      Cdc.initSnapshot(
        o.select(col("o_orderkey"), col("o_orderstatus"),
          p2(col("o_totalprice")).as("price")),
        snapDir + "/snap", Seq("o_orderkey"), nBuckets = 16)
      // disjoint change classes, each key exactly once across the stream
      val upd = o.filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
          lit("B1").as("o_orderstatus"),
          p2(col("o_totalprice") + 5).as("price"))
      val del = o.filter(col("o_orderkey") % 17 === 5 &&
          col("o_orderkey") % 9 =!= 0)
        .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("double").as("price"))
      val ins = o.filter(col("o_orderkey") % 23 === 0)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          lit(3L).as("seq"), lit("U").as("op"),
          lit("NEW").as("o_orderstatus"), lit(9.99).as("price"))
      val chDir = snapDir + "/changes"
      upd.unionByName(del).unionByName(ins)
        .repartition(4).write.mode("overwrite").parquet(chDir)
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, seq BIGINT, op STRING, " +
            "o_orderstatus STRING, price DOUBLE"))
        .option("maxFilesPerTrigger", "1")
        .parquet(chDir)
      val q = Cdc.applyCdcStream(stream, Seq("o_orderkey"), "seq", "op",
        snapDir + "/snap")
      q.awaitTermination()
      Cdc.latestSnapshot(s, snapDir + "/snap").orderBy(col("o_orderkey"))
    },
    Some("""WITH t AS (
           |  SELECT o_orderkey, o_orderstatus,
           |    floor(o_totalprice * 100 + 0.5) / 100 AS price
           |  FROM orders),
           |c AS (
           |  SELECT o_orderkey, 'U' AS op, 'B1' AS o_orderstatus,
           |    floor((o_totalprice + 5) * 100 + 0.5) / 100 AS price
           |  FROM orders WHERE o_orderkey % 9 = 0
           |  UNION ALL
           |  SELECT o_orderkey, 'D', NULL, NULL
           |  FROM orders WHERE o_orderkey % 17 = 5 AND o_orderkey % 9 <> 0
           |  UNION ALL
           |  SELECT o_orderkey + 200000000, 'U', 'NEW', 9.99
           |  FROM orders WHERE o_orderkey % 23 = 0)
           |SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
           |  coalesce(c.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           |  coalesce(c.price, t.price) AS price
           |FROM t FULL JOIN c ON t.o_orderkey = c.o_orderkey
           |WHERE c.op IS NULL OR c.op <> 'D'
           |ORDER BY o_orderkey""".stripMargin),
    // benched (round 11): the continuous merge lane — per-micro-batch
    // key-scoped rewrite + checkpointed stream, each run on a fresh
    // snapshot dir (the replay IS the operator; nothing memoizable)
    bench = true)


  /** ST5f — streaming CUSUM replay
    * (streaming/TickPipeline.streamingCusum): the x8_cusum recursion as
    * a flatMapGroupsWithState lane with O(1) carried state per key
    * ((prev, up, dn, seeded) — the carry IS the statistic), judged
    * against the SAME DuckDB prefix-fold oracle as the batch operator:
    * streaming == batch pinned through a third engine. */
  val stCusumReplay = QuerySpec("st_cusum_replay",
    (s, d) => {
      replay(s, "st_cusum_replay",
        graft.streaming.TickPipeline.streamingCusum(centsEvents(s, d),
          4000L, 20000L)
          .toDF("event_id", "user_id", "cents", "d", "cusum_up",
            "cusum_dn", "alarm"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           |    epoch_us(ts) AS us
           |  FROM events WHERE user_id < 30),
           |l AS (SELECT event_id, user_id, cents, us,
           |    coalesce(cents - lag(cents) OVER (PARTITION BY user_id
           |      ORDER BY us, event_id), 0) AS d
           |  FROM e),
           |w AS (SELECT event_id, user_id, cents, d,
           |    list(d) OVER (PARTITION BY user_id ORDER BY us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS arr
           |  FROM l),
           |f AS (SELECT event_id, user_id, cents, d,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), arr),
           |      (a, b) -> greatest(CAST(0 AS BIGINT), a + b - 4000))
           |      AS cusum_up,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), arr),
           |      (a, b) -> greatest(CAST(0 AS BIGINT), a - b - 4000))
           |      AS cusum_dn
           |  FROM w)
           |SELECT event_id, user_id, cents, d, cusum_up, cusum_dn,
           |  CAST(CASE WHEN cusum_up > 20000 OR cusum_dn > 20000
           |    THEN 1 ELSE 0 END AS BIGINT) AS alarm
           |FROM f ORDER BY event_id""".stripMargin))


  /** ST7 as a JUDGED result (round 15): streaming deduplication through
    * the REAL dropDuplicatesWithinWatermark operator
    * (TickPipeline.dedupStream) — one (isin, day) survivor per key,
    * projected to the KEY columns so the kept-row arrival
    * nondeterminism never reaches the artifact (the set of keys is
    * deterministic; which duplicate carried it is not, and is not
    * claimed). Replay contract (the streamingCusum ST5 discipline):
    * the single-file source makes AvailableNow ONE micro-batch, so
    * watermark eviction never runs between duplicates — a multi-batch
    * backfill whose duplicates straddle an advanced watermark would
    * legitimately re-emit (that is watermark semantics, not a dedup
    * bug) and needs maxFilesPerTrigger pinned to keep the SELECT
    * DISTINCT equivalence. The oracle is SELECT DISTINCT. */
  val stDedupReplay = QuerySpec("st_dedup_replay",
    (s, d) => {
      val ticks = eventsStream(s, d)()
        .select(col("ts"), isinFrom(col("user_id")).as("isin"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val dedup = graft.streaming.TickPipeline
        .dedupStream(ticks, "10 minutes", Seq("isin", "day"))
        .select(col("isin"), col("day"))
      replay(s, "st_dedup_replay", dedup).orderBy(col("isin"), col("day"))
    },
    Some(s"""-- nonneg-div(1): epoch_us of post-1970 fixture timestamps
           |SELECT DISTINCT $isinSql AS isin,
            |  epoch_us(ts) // 86400000000 AS day
            |FROM events ORDER BY isin, day""".stripMargin))
}
