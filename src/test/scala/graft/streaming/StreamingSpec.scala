package graft.streaming

import graft.{RunRecorder, SparkSpec}
import graft.ops.Tables
import graft.sources.{InMemoryQueues, InMemorySink, LoopbackWsServer, TickChannels, WsTickClient}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import scala.util.Using

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, s: Int = 0) =
    new Timestamp(1704067200000L + min * 60000L + s * 1000L)

  test("ST3/ST6 per-record transform + foreachBatch publish to the queue sink") {
    InMemoryQueues.clear()
    val in = MemoryStream[(String, String, Seq[Double], Timestamp)](spark)
    val frames = in.toDF().toDF("exchange", "isin", "frame", "ts")
    // data must exist before start: Trigger.AvailableNow snapshots the
    // available offsets when the query starts
    in.addData(("btfx", "XFC000000001",
      Seq(10.0, 0, 12.0, 0, 0.5, 0.05, 11.0, 100.0, 13.0, 9.0), ts(0)))
    val q = TickPipeline.publishStream(
      TickPipeline.normalize(frames), new InMemorySink, "ticks")
    q.processAllAvailable(); q.stop()
    val out = InMemoryQueues.drain("ticks")
    assert(out.size == 1)
    assert(out.head.contains(""""mid_cents":1100""") &&
      out.head.contains(""""exchange":"btfx""""))
  }

  test("ST2 empty micro-batch is a no-op, not an error") {
    InMemoryQueues.clear()
    val in = MemoryStream[(String, String, Seq[Double], Timestamp)](spark)
    val q = TickPipeline.publishStream(
      TickPipeline.normalize(in.toDF().toDF("exchange", "isin", "frame", "ts")),
      new InMemorySink, "empty")
    q.processAllAvailable(); q.stop() // no data ever added
    assert(InMemoryQueues.drain("empty").isEmpty)
  }

  test("ST4 watermark drops late rows beyond the delay") {
    val in = MemoryStream[(String, Double, Double, Timestamp)](spark)
    val ticks = in.toDF().toDF("isin", "last_price", "volume", "ts")
    val q = TickPipeline.bars(ticks, delay = "5 minutes", width = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("bars").start()
    in.addData(("A", 10.0, 1.0, ts(0)), ("A", 12.0, 1.0, ts(0, 30)))
    q.processAllAvailable()
    in.addData(("A", 99.0, 1.0, ts(20))) // advances watermark to 15:00
    q.processAllAvailable()
    in.addData(("A", 555.0, 1.0, ts(1))) // late beyond watermark: dropped
    q.processAllAvailable()
    q.stop()
    val bars = spark.table("bars")
      .select(col("window.start"), col("open"), col("close"), col("n_ticks"))
      .as[(Timestamp, Double, Double, Long)].collect().toSeq
    val first = bars.find(_._1 == ts(0)).get
    assert(first == ((ts(0), 10.0, 12.0, 2L))) // late 555.0 never reopened it
  }

  test("ST7 dropDuplicatesWithinWatermark suppresses redeliveries across batches") {
    val in = MemoryStream[(String, String, Double, Timestamp)](spark)
    val ticks = in.toDF().toDF("exchange", "isin", "last_price", "ts")
    val q = TickPipeline.dedupStream(ticks, delay = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    in.addData(("bx", "DE01", 10.0, ts(0)), ("bx", "DE01", 10.0, ts(0)))
    q.processAllAvailable()
    // redelivery of the same (exchange, isin, ts) in a LATER batch,
    // still inside the watermark horizon: suppressed by state
    in.addData(("bx", "DE01", 10.0, ts(0)), ("bx", "DE02", 11.0, ts(1)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup").select("exchange", "isin", "ts")
      .as[(String, String, Timestamp)].collect().toSeq
    assert(out.sorted == Seq(("bx", "DE01", ts(0)), ("bx", "DE02", ts(1))))
  }

  test("ST8 stream-stream interval join matches only in-horizon job events") {
    val tickIn = MemoryStream[(String, Double, Timestamp)](spark)
    val jobIn = MemoryStream[(String, Long, Timestamp)](spark)
    val ticks = tickIn.toDF().toDF("isin", "last_price", "ts")
    val jobs = jobIn.toDF().toDF("isin", "job_id", "ts")
    val q = TickPipeline.enrichWithJobs(ticks, jobs, horizon = "5 minutes")
      .select("isin", "last_price", "job_id")
      .writeStream.outputMode("append").format("memory").queryName("enriched")
      .start()
    jobIn.addData(("DE01", 7L, ts(0)), ("DE02", 8L, ts(0)))
    tickIn.addData(("DE01", 10.0, ts(2)))   // 2 min after job 7: in horizon
    q.processAllAvailable()
    tickIn.addData(("DE01", 11.0, ts(20)))  // 20 min after: out of horizon
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched")
      .as[(String, Double, Long)].collect().toSet
    assert(out == Set(("DE01", 10.0, 7L))) // no cross-isin, no stale match
  }

  test("ST5 mapGroupsWithState advances job state, rejecting illegal moves") {
    val in = MemoryStream[(Long, Int, Timestamp)](spark)
    val q = TickPipeline.jobStates(in.toDS())
      .toDF("job_id", "state")
      .writeStream.outputMode("update").format("memory").queryName("js").start()
    in.addData((1L, 1000, ts(0)), (2L, 1000, ts(0)))
    q.processAllAvailable()
    in.addData((1L, 1001, ts(1)), (2L, 1300, ts(1))) // 1000->1300 is illegal
    q.processAllAvailable()
    q.stop()
    val last = spark.table("js").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(last(1L) == 1001)
    assert(last(2L) == 1000) // illegal transition ignored, state kept
  }

  test("ST5b flatMapGroupsWithState emits one row per ACCEPTED transition only") {
    val in = MemoryStream[(Long, Int, Timestamp)](spark)
    val q = TickPipeline.jobTransitionLog(in.toDS())
      .toDF("job_id", "from", "to")
      .writeStream.outputMode("append").format("memory").queryName("jlog").start()
    in.addData((1L, 1000, ts(0)))
    q.processAllAvailable()
    in.addData((1L, 1001, ts(1)), (1L, 1300, ts(2))) // 1001->1300 illegal
    q.processAllAvailable()
    in.addData((2L, 1300, ts(3))) // first event always accepted (unknown start)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("jlog").as[(Long, Int, Int)].collect().toSeq.sorted
    // job 1: 1000 accepted from -1, then 1001 accepted; the illegal 1300
    // emits NOTHING (the flatMap contract mapGroups can't express)
    assert(rows == Seq((1L, -1, 1000), (1L, 1000, 1001), (2L, -1, 1300)))
  }

  test("ST5b transitions under a millisecond apart apply in timestamp " +
      "order, not arrival order") {
    def at(micros: Int) = {
      val t = ts(0); t.setNanos(micros * 1000); t
    }
    val in = MemoryStream[(Long, Int, Timestamp)](spark)
    val q = TickPipeline.jobTransitionLog(in.toDS())
      .toDF("job_id", "from", "to")
      .writeStream.outputMode("append").format("memory").queryName("jlog_us")
      .start()
    // one batch, arriving out of order within the same millisecond
    in.addData((1L, 1001, at(600)), (1L, 1000, at(100)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("jlog_us").as[(Long, Int, Int)].collect().toSeq
    assert(rows == Seq((1L, -1, 1000), (1L, 1000, 1001)))
  }

  test("ST5c runningTotals carries (seq, cents) state across micro-batches") {
    val in = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = TickPipeline.runningTotals(in.toDS())
      .toDF("user_id", "event_id", "seq", "run_cents")
      .writeStream.outputMode("append").format("memory").queryName("rt").start()
    in.addData((1L, 10L, 100L, 250L), (1L, 11L, 50L, 100L)) // out of ts order
    q.processAllAvailable()
    in.addData((1L, 12L, 200L, 7L), (2L, 20L, 10L, 5L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rt").as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(rows == Seq(
      // batch 1 applies in (us, event_id) order: event 11 (us=50) first
      (1L, 10L, 2L, 350L), (1L, 11L, 1L, 100L),
      // batch 2 RESUMES key 1's state at (2, 350) — not from zero
      (1L, 12L, 3L, 357L), (2L, 20L, 1L, 5L)))
  }

  test("ST5e streamingAnomalies: ring state carries across batches and " +
      "the flag stream equals the batch operator on the same events") {
    val in = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = TickPipeline.streamingAnomalies(in.toDS(), n = 5, k = 7)
      .toDF("event_id", "user_id", "cents", "med", "mad", "is_anom")
      .writeStream.outputMode("append").format("memory")
      .queryName("sa").start()
    // 4 quiet ticks in batch 1 (no emission — ring not full), then a
    // batch-2 quiet tick (first full ring) and a spike
    val b1 = Seq((1L, 1L, 10L, 100L), (1L, 2L, 20L, 101L),
      (1L, 3L, 30L, 102L), (1L, 4L, 40L, 101L))
    val b2 = Seq((1L, 5L, 50L, 100L), (1L, 6L, 60L, 9999L))
    in.addData(b1: _*); q.processAllAvailable()
    val afterB1 = spark.table("sa").count()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    assert(afterB1 == 0L, "ring must not emit before it is full")
    val streamed = spark.table("sa")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    // the batch operator over the concatenated input is the contract
    val batch = graft.ops.TimeSeries.robustAnomalies(
        (b1 ++ b2).toDF("k", "id", "us", "cents")
          .withColumn("ts", timestamp_micros($"us")),
        "k", "ts", "id", col("cents"), n = 5, k = 7)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    assert(streamed == batch)
    assert(streamed.map(r => (r._1, r._6)) == Seq((5L, false), (6L, true)))
  }

  test("ST5f streamingCusum: O(1) carry across batches, flags equal the " +
      "batch operator on the same events") {
    val in = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = TickPipeline.streamingCusum(in.toDS(), slack = 4L,
        threshold = 30L)
      .toDF("event_id", "user_id", "cents", "d", "cusum_up", "cusum_dn",
        "alarm")
      .writeStream.outputMode("append").format("memory")
      .queryName("sc").start()
    // split the TimeSeriesSpec fixture across two batches: the carry
    // (prev=110, up=6) crosses the boundary — a fresh-state batch 2
    // would compute d=0 at event 3 and up=21 at event 4 instead of 21/47
    val b1 = Seq((1L, 1L, 10L, 100L), (1L, 2L, 20L, 110L))
    val b2 = Seq((1L, 3L, 30L, 105L), (1L, 4L, 40L, 130L),
      (1L, 5L, 50L, 160L), (2L, 9L, 90L, 999L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("sc")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val batch = graft.ops.TimeSeries.cusum(
        (b1 ++ b2).toDF("k", "id", "us", "cents")
          .withColumn("ts", timestamp_micros($"us")),
        "k", "ts", "id", col("cents"), 4L, 30L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(streamed == batch)
    // the alarm fires exactly once, on the final ramp tick
    assert(streamed.filter(_._7 == 1L).map(_._1) == Seq(5L))
  }

  test("ST5f streamingCusum: cross-batch arrival-order regression fails " +
      "the query loudly instead of diverging (r15 verdict item 6)") {
    val in = MemoryStream[(Long, Long, Long, Long)](spark)
    val q = TickPipeline.streamingCusum(in.toDS(), slack = 4L,
        threshold = 30L)
      .toDF("event_id", "user_id", "cents", "d", "cusum_up", "cusum_dn",
        "alarm")
      .writeStream.outputMode("append").format("memory")
      .queryName("sc_ooo").start()
    // batch 1 advances key 1's high-water mark to us=20; batch 2 delivers
    // an EARLIER tick for the same key — the silently-wrong-statistic
    // case the replay contract forbids. The state function must throw,
    // failing the query, not fold the late row.
    in.addData((1L, 2L, 20L, 110L)); q.processAllAvailable()
    in.addData((1L, 1L, 10L, 100L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("arrival-order violation")))
    // same-key in-order continuation in a later batch stays legal
    val in2 = MemoryStream[(Long, Long, Long, Long)](spark)
    val q2 = TickPipeline.streamingCusum(in2.toDS(), 4L, 30L)
      .toDF("event_id", "user_id", "cents", "d", "cusum_up", "cusum_dn",
        "alarm")
      .writeStream.outputMode("append").format("memory")
      .queryName("sc_ok").start()
    in2.addData((1L, 1L, 10L, 100L)); q2.processAllAvailable()
    in2.addData((1L, 2L, 20L, 110L)); q2.processAllAvailable(); q2.stop()
    assert(spark.table("sc_ok").count() == 2)
  }

  test("ST5d transformWithState twin emits the identical changelog, " +
      "state carried across batches in RocksDB") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long, Long)](spark)
      val q = TickPipeline.runningTotalsTws(in.toDS())
        .toDF("user_id", "event_id", "seq", "run_cents")
        .writeStream.outputMode("append").format("memory").queryName("rtt").start()
      in.addData((1L, 10L, 100L, 250L), (1L, 11L, 50L, 100L))
      q.processAllAvailable()
      in.addData((1L, 12L, 200L, 7L), (2L, 20L, 10L, 5L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("rtt").as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // identical to the ST5c fMGWS expectation — the two APIs are pinned
      // to each other through the same fixture
      assert(rows == Seq(
        (1L, 10L, 2L, 350L), (1L, 11L, 1L, 100L),
        (1L, 12L, 3L, 357L), (2L, 20L, 1L, 5L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("J1 dim lookup runs unchanged on a streaming frame") {
    val in = MemoryStream[(String, String, Timestamp)](spark)
    val ticks = in.toDF().toDF("exchange", "isin", "ts")
    val joined = graft.ops.DimJoins.forward(spark)(ticks)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("dimstream").start()
    in.addData(("btfx", "XFC000000001", ts(0)),
      ("btfx", "XFC999999999", ts(1))) // unknown isin: dropped (inner)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dimstream").select("isin", "pair")
      .as[(String, String)].collect().toSeq
    assert(rows == Seq(("XFC000000001", "btceur")))
  }

  test("stream-batch equivalence: hourly counts over events match batch") {
    val d = sf("sf0.001")
    val batch = Tables.events(spark, d)
    // stream reads the file-native ts encoding (the batch-inferred schema),
    // normalized by the same rule Tables.events applies on the batch side
    val rawSchema = spark.read.parquet(s"$d/events.parquet").schema
    // FileStreamSource wants a directory; stage the single file into one
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = spark.readStream.schema(rawSchema)
      .parquet(dir.toString)
    def hourly(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
    val q = hourly(Tables.normalizeTs(stream))
      .writeStream.outputMode("complete").format("memory").queryName("sb").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sb").orderBy("h").collect().toSeq
    val want = hourly(batch).orderBy("h").collect().toSeq
    assert(got == want)
  }

  test("S5 custom DSv2 source delivers appended frames exactly once") {
    TickChannels.clear()
    TickChannels.append("c1", ("btfx", "btceur", Array(1.0, 0, 2.0), 1704067200000000L))
    val stream = spark.readStream.format("graft.sources.TickStreamSource")
      .option("channel", "c1").load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("wss").start()
    q.processAllAvailable()
    TickChannels.append("c1", ("btfx", "btceur", Array(3.0, 0, 4.0), 1704067260000000L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wss")
      .select(col("pair"), element_at(col("frame"), 1), col("ts"))
      .as[(String, Double, Timestamp)].collect().toSeq.sortBy(_._2)
    assert(rows.map(_._2) == Seq(1.0, 3.0))
    assert(rows.head._3 == new Timestamp(1704067200000L))
  }

  test("S5+ST3 composition: DSv2 source wired through fromWss end-to-end") {
    TickChannels.clear()
    TickChannels.append("c2", ("btfx", "btceur",
      Array(10.0, 0, 12.0, 0, 0, 0, 11.0, 100.0, 13.0, 9.0), 1704067200000000L))
    TickChannels.append("c2", ("btfx", "nosuchpair",
      Array(1.0, 0, 2.0, 0, 0, 0, 1.5, 10.0, 2.0, 1.0), 1704067201000000L))
    val stream = spark.readStream.format("graft.sources.TickStreamSource")
      .option("channel", "c2").load()
    val q = TickPipeline.fromWss(spark)(stream)
      .select("pair", "isin", "envelope")
      .writeStream.outputMode("append").format("memory").queryName("e2e").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("e2e")
      .as[(String, Option[String], String)].collect().sortBy(_._1).toSeq
    assert(rows.size == 2)
    val (hit, miss) = (rows.head, rows.last)
    assert(hit._1 == "btceur" && hit._2.contains("XFC000000001") &&
      hit._3.contains(""""mid_cents":1100"""))
    assert(miss._1 == "nosuchpair" && miss._2.isEmpty) // J2 null on miss
  }

  test("S5+ST3 a fromWss micro-batch runs exactly one Spark job: the " +
      "publish, with no dim broadcast beside it") {
    TickChannels.clear()
    InMemoryQueues.clear()
    // streaming jobs carry their query and batch ids as local properties
    Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      val frame = Array(10.0, 0, 12.0, 0, 0, 0, 11.0, 100.0, 13.0, 9.0)
      val q = TickPipeline.publishStream(TickPipeline.fromWss(spark)(
        spark.readStream.format("graft.sources.TickStreamSource")
          .option("channel", "c6").load()),
        new InMemorySink, "onejob", Trigger.ProcessingTime(0L))
      (0 until 3).foreach { b =>
        TickChannels.append("c6", ("btfx", if (b == 1) "nosuchpair" else "btceur",
          frame, 1704067200000000L + b))
        q.processAllAvailable()
      }
      q.stop()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.batchId.toString).toSet
      rec.flush()
      val jobsByBatch = rec.jobs.values.map(_.props)
        .filter(_.get("sql.streaming.queryId").contains(q.id.toString))
        .groupMapReduce(_.getOrElse("streaming.sql.batchId", ""))(_ => 1)(_ + _)
      assert(InMemoryQueues.drain("onejob").size == 3)
      assert(batches.nonEmpty && jobsByBatch.keySet == batches,
        s"batches $batches, jobs by batch $jobsByBatch")
      assert(jobsByBatch.values.forall(_ == 1), jobsByBatch.toString)
    }
  }

  test("S5 commit trims the channel: retained frames stay bounded across " +
      "batches, and positions past Int.MaxValue slice correctly") {
    TickChannels.clear()
    val start = Int.MaxValue.toLong - 250
    TickChannels.open("c7", start) // no 2^31 frames needed to get here
    val q = spark.readStream.format("graft.sources.TickStreamSource")
      .option("channel", "c7").load()
      .select(element_at(col("frame"), 1).as("v"))
      .writeStream.outputMode("append").format("memory").queryName("trimmed")
      .start()
    (0 until 6).foreach { b =>
      (0 until 100).foreach(i => TickChannels.append("c7",
        ("btfx", "btceur", Array((b * 100 + i).toDouble), 1L)))
      q.processAllAvailable()
      val held = TickChannels.size("c7") - TickChannels.base("c7")
      assert(held <= 200, s"batch $b: $held frames still held")
    }
    q.stop()
    assert(spark.table("trimmed").as[Double].collect().sorted.toSeq ==
      (0 until 600).map(_.toDouble))
    assert(TickChannels.size("c7") == start + 600)
    assert(TickChannels.base("c7") > Int.MaxValue.toLong)
    val end = TickChannels.size("c7")
    assert(TickChannels.slice("c7", end - 3, end).map(_._3(0)) ==
      Seq(597.0, 598.0, 599.0))
    // trimmed positions are gone: asking for them is an error, not a
    // shorter answer
    intercept[IllegalArgumentException](TickChannels.slice("c7", start, end))
  }

  /** Bitfinex v1-shaped ticker frame for the loopback server: positions
    * after the chanId are bid, bid_sz, ask, ask_sz, dchg, dchg_pct, last,
    * volume, high, low — main.py:401-405's data[0][0] indices. */
  private def tickMsg(bid: Double, ask: Double, last: Double, vol: Double,
      hi: Double, lo: Double): String =
    s"[%CID%, $bid, 1, $ask, 1, 0, 0, $last, $vol, $hi, $lo]"

  private def awaitFrames(channel: String, n: Long, timeoutMs: Long = 45000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (TickChannels.size(channel) < n &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(TickChannels.size(channel) >= n,
      s"only ${TickChannels.size(channel)}/$n frames arrived")
  }

  test("S5 live socket: WsTickClient over a real RFC6455 loopback drives " +
      "the full E3 pipeline socket -> bars -> sink") {
    TickChannels.clear()
    // two ticks inside minute 0, one in minute 1, plus a heartbeat the
    // client must drop (the reference's queue.Empty no-op)
    val server = new LoopbackWsServer(_ => Seq(
      tickMsg(10.0, 12.0, 11.0, 100.0, 13.0, 9.0),
      "[%CID%, \"hb\"]",
      tickMsg(10.0, 12.0, 11.5, 50.0, 13.0, 9.0),
      tickMsg(11.0, 13.0, 12.0, 25.0, 13.0, 9.0)))
    // deterministic event time: 0s, 30s, 60s past the fixture epoch
    val clock = new java.util.concurrent.atomic.AtomicLong(1704067200000000L)
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "ws1",
      clockMicros = () => clock.getAndAdd(30000000L))
    try {
      assert(client.start(), "subscribe ack not received")
      awaitFrames("ws1", 3)
      // a channel has one consumer, whose commits trim it: the second
      // query below reads a copy of the socket's frames
      TickChannels.slice("ws1", 0, 3).foreach(TickChannels.append("ws1b", _))
      val stream = spark.readStream.format("graft.sources.TickStreamSource")
        .option("channel", "ws1").load()
      val q = TickPipeline.bars(
          TickPipeline.fromWss(spark)(stream)
            .select(col("isin"), col("last_price"), col("volume"), col("ts")),
          delay = "10 minutes", width = "1 minute")
        .select(expr("unix_micros(window.start)").as("start_us"),
          col("isin"), col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_ticks"))
        .writeStream.outputMode("append").format("memory")
        .queryName("ws_bars").start()
      // append-mode windows emit only once the watermark passes them:
      // max event time is +60s, so with a 10-minute delay NO bar closes —
      // the correct (and asserted) late-data posture
      q.processAllAvailable(); q.stop()
      val bars = spark.table("ws_bars")
        .as[(Long, String, Double, Double, Double, Double, Double, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(bars.isEmpty) // nothing past the 10-minute watermark yet
      val q2 = TickPipeline.bars(
          TickPipeline.fromWss(spark)(
            spark.readStream.format("graft.sources.TickStreamSource")
              .option("channel", "ws1b").load())
            .select(col("isin"), col("last_price"), col("volume"), col("ts")),
          delay = "0 seconds", width = "1 minute")
        .select(expr("unix_micros(window.start)").as("start_us"),
          col("isin"), col("open"), col("close"), col("volume"), col("n_ticks"))
        .writeStream.outputMode("append").format("memory")
        .queryName("ws_bars0").start()
      q2.processAllAvailable(); q2.stop()
      val closed = spark.table("ws_bars0")
        .as[(Long, String, Double, Double, Double, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(closed.size == 1) // minute-0 closed; minute-1 still open
      val b0 = closed.head
      assert(b0._1 == 1704067200000000L && b0._2 == "XFC000000001" &&
        b0._3 == 11.0 && b0._4 == 11.5 && b0._5 == 150.0 && b0._6 == 2L)
    } finally { client.stop(); server.close() }
  }

  test("S5 reconnect: an abrupt mid-stream server drop dials again, " +
      "re-subscribes, and the buffer concatenates gap-free") {
    TickChannels.clear()
    val server = new LoopbackWsServer(
      script = c => if (c == 0) Seq(
          tickMsg(1.0, 3.0, 2.0, 10.0, 3.0, 1.0),
          tickMsg(2.0, 4.0, 3.0, 10.0, 4.0, 2.0))
        else Seq(
          tickMsg(3.0, 5.0, 4.0, 10.0, 5.0, 3.0),
          tickMsg(4.0, 6.0, 5.0, 10.0, 6.0, 4.0)),
      dropAfter = _ == 0) // kill the TCP socket after connection 0's frames
    val clock = new java.util.concurrent.atomic.AtomicLong(1L)
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "ws2",
      clockMicros = () => clock.getAndIncrement())
    try {
      assert(client.start(), "first subscribe ack not received")
      awaitFrames("ws2", 4) // 2 before the drop + 2 after the reconnect
      assert(client.reconnectCount == 1 && server.connections == 2)
      val lasts = TickChannels.slice("ws2", 0, 4).map(_._3(6))
      assert(lasts == Seq(2.0, 3.0, 4.0, 5.0)) // order preserved across the drop
      assert(TickChannels.slice("ws2", 0, 4).forall(_._2 == "btceur"))
    } finally { client.stop(); server.close() }
  }

  test("S5 wss: the client negotiates TLS from the URI scheme and frames " +
      "flow over an encrypted loopback — the production Bitfinex " +
      "transport (requirements.txt:2, btfxwss = wss)") {
    TickChannels.clear()
    val server = new LoopbackWsServer(
      _ => Seq(tickMsg(10.0, 12.0, 11.0, 100.0, 13.0, 9.0)),
      tlsContext = Some(graft.sources.TlsTestKit.context))
    assert(server.uri.getScheme == "wss")
    // sslContext overrides TRUST only (the loopback cert is self-signed);
    // scheme-driven TLS negotiation is the JDK client's own
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "wss1",
      sslContext = Some(graft.sources.TlsTestKit.context))
    try {
      assert(client.start(), "subscribe ack not received over TLS")
      awaitFrames("wss1", 1)
      assert(TickChannels.slice("wss1", 0, 1).head._3(6) == 11.0)
      assert(client.deadReason.isEmpty)
    } finally { client.stop(); server.close() }
  }

  test("S5 budget is per-outage: each successful re-subscribe resets the " +
      "reconnect counter, so repeated single-drop outages never exhaust " +
      "maxReconnects") {
    TickChannels.clear()
    // connections 0 and 1 are served then dropped; connection 2 holds.
    // With maxReconnects = 1 a LIFETIME budget dies on the second
    // outage (2 total dials > 1); the per-outage reset survives both.
    val server = new LoopbackWsServer(
      script = c => Seq(tickMsg(1.0 + c, 3.0, 2.0 + c, 10.0, 3.0, 1.0)),
      dropAfter = _ <= 1, maxConnections = 3)
    // fast ping watchdog: a drop that lands right after the last frame
    // can be swallowed by the JDK client (no onClose/onError) — the
    // watchdog is the deterministic detection path (WsTickClient doc)
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "ws5",
      maxReconnects = 1, backoffMs = 1L, pingIntervalMs = 100L)
    try {
      assert(client.start())
      awaitFrames("ws5", 3) // one tick per connection generation
      assert(server.connections == 3 && client.reconnectCount == 2,
        s"conns=${server.connections} redials=${client.reconnectCount}")
      assert(client.deadReason.isEmpty, "healthy client must not be dead")
      val lasts = TickChannels.slice("ws5", 0, 3).map(_._3(6))
      assert(lasts == Seq(2.0, 3.0, 4.0))
    } finally { client.stop(); server.close() }
  }

  test("S5 budget exhaustion is LOUD: maxReconnects consecutive failed " +
      "dials set a terminal deadReason instead of silently stopping " +
      "the tick flow") {
    TickChannels.clear()
    // connection 0 serves then drops; every later dial is slammed shut
    // before the handshake, so reconnects 1..2 fail fast and exhaust
    // the budget of 2
    val server = new LoopbackWsServer(
      script = _ => Seq(tickMsg(1.0, 3.0, 2.0, 10.0, 3.0, 1.0)),
      dropAfter = _ == 0, refuse = _ >= 1)
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "ws6",
      maxReconnects = 2, backoffMs = 1L, pingIntervalMs = 100L)
    try {
      assert(client.start())
      awaitFrames("ws6", 1)
      val deadline = System.currentTimeMillis() + 10000
      while (client.deadReason.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(client.deadReason.exists(_.contains("exhausted")),
        s"expected a loud terminal reason, got ${client.deadReason}, " +
          s"redials=${client.reconnectCount}, conns=${server.connections}")
      assert(client.reconnectCount == 2, "both budgeted dials attempted")
      // >= 3, not == 3: the JDK may internally re-dial once per refused
      // connection before surfacing the failure
      assert(server.connections >= 3, s"got ${server.connections}")
    } finally { client.stop(); server.close() }
  }

  test("S5 half-open detection: a silent partition (TCP healthy, server " +
      "never answers pings) trips the PONG DEADLINE — ping WRITES keep " +
      "succeeding, so missing pongs are the only death signal") {
    TickChannels.clear()
    // connection 0 serves one tick then HOLDS the socket open while
    // swallowing every ping: no close frame, no RST, every client write
    // succeeds. The old write-failure-only watchdog would idle forever
    // here. Reconnect dials (>= 1) are refused so the budget of 1
    // exhausts fast and the detection surfaces as a terminal deadReason.
    val server = new LoopbackWsServer(
      script = _ => Seq(tickMsg(1.0, 3.0, 2.0, 10.0, 3.0, 1.0)),
      refuse = _ >= 1, silentPings = true)
    val client = new WsTickClient(server.uri, "btfx", Seq("BTCEUR"), "ws7",
      maxReconnects = 1, backoffMs = 1L, pingIntervalMs = 100L)
    try {
      assert(client.start())
      awaitFrames("ws7", 1)
      val deadline = System.currentTimeMillis() + 10000
      while (client.deadReason.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      // a reconnect was ATTEMPTED (conns >= 2): the pong deadline saw
      // through the healthy-looking socket; then the refused dial
      // exhausted the budget loudly
      assert(client.deadReason.exists(_.contains("exhausted")),
        s"expected pong-deadline death, got ${client.deadReason}, " +
          s"redials=${client.reconnectCount}, conns=${server.connections}")
      assert(server.connections >= 2, s"got ${server.connections}")
    } finally { client.stop(); server.close() }
  }

  test("S5 checkpoint recovery: restart resumes from the committed offset") {
    TickChannels.clear()
    InMemoryQueues.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val sink = new InMemorySink
    // memory sink refuses checkpoint recovery; foreachBatch supports it
    def start() = spark.readStream.format("graft.sources.TickStreamSource")
      .option("channel", "c3").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select(element_at(col("frame"), 1).cast("string").as("envelope"))
          .foreach { r: org.apache.spark.sql.Row =>
            sink.publish("recov", r.getString(0)); () }
      }.start()
    TickChannels.append("c3", ("btfx", "btceur", Array(1.0), 1L))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(InMemoryQueues.drain("recov") == Seq("1.0"))
    // new data arrives while the query is down
    TickChannels.append("c3", ("btfx", "btceur", Array(2.0), 2L))
    val q2 = start() // offsets come from the checkpoint
    q2.processAllAvailable(); q2.stop()
    assert(InMemoryQueues.drain("recov") == Seq("2.0")) // no reprocessing
  }

  test("S8 heartbeat listener publishes lifecycle events") {
    InMemoryQueues.clear()
    val hb = new Heartbeat(new InMemorySink, "downloader", "inst-1")
    spark.streams.addListener(hb)
    try {
      val in = MemoryStream[Int](spark)
      val q = in.toDF().writeStream.format("memory").queryName("hb").start()
      in.addData(1); q.processAllAvailable(); q.stop()
      q.awaitTermination(10000)
      GraftSqlShim.awaitListeners(spark.sparkContext)
      val msgs = InMemoryQueues.drain("services/downloader")
      assert(msgs.exists(_.contains(""""state":"started"""")))
      // the data trigger's "running" beat carries its rows and phase split
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val beats = InMemoryQueues.drain("services/downloader/inst-1")
        .map(json.readTree)
      val running = beats.filter(b => b.get("state").asText == "running" &&
        b.get("rows").asLong == 1)
      assert(running.size == 1, beats.mkString("\n"))
      TriggerFields.Phases.foreach { k =>
        assert(running.head.get("durationMs").get(k).isNumber,
          s"durationMs.$k in ${running.head}")
      }
    } finally spark.streams.removeListener(hb)
  }

  test("S8 heartbeat payload stays valid JSON for an instance id with a " +
      "quote and a backslash") {
    val id = "inst\"1\\a"
    val payload = new Heartbeat(new InMemorySink, "downloader", id)
      .payload("running")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(payload)
    assert(node.get("instance_id").asText == id, payload)
    assert(node.get("state").asText == "running")
  }

  test("ST9 per-batch snapshot re-resolution: a merge landed between " +
      "micro-batches is visible to the next batch without a restart") {
    val tmp = java.nio.file.Files.createTempDirectory("snapstream").toString
    val snap = s"$tmp/snap"
    graft.ops.Cdc.initSnapshot(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), snap, Seq("k"), nBuckets = 4)
    val in = MemoryStream[Long](spark)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = TickPipeline.enrichAgainstSnapshot(
      in.toDF().toDF("k"), snap, Seq("k"),
      b => seen.synchronized {
        seen ++= b.select("k", "v").as[(Long, String)].collect()
      })
    try {
      in.addData(1L)
      q.processAllAvailable()
      assert(seen.toList == List((1L, "a")))
      // the dim moves BETWEEN batches: k=1 rewritten, k=3 inserted
      graft.ops.Cdc.mergeScoped(
        Seq((1L, 1L, "U", "a2"), (3L, 1L, "U", "c"))
          .toDF("k", "seq", "op", "v"),
        Seq("k"), "seq", "op", snap)
      in.addData(1L, 3L)
      q.processAllAvailable()
      assert(seen.toList.drop(1).toSet == Set((1L, "a2"), (3L, "c")),
        s"second batch must see v1, got ${seen.toList}")
    } finally q.stop()
  }

  test("ST10 drift monitor: in-distribution batch scores near zero, " +
      "shifted batch alarms, empty batch is zero drift") {
    val baselineData = (0 until 1000).map(i => (i % 100).toDouble).toDF("v")
    val bounds = baselineData.agg(
      min(col("v").cast("double")).as("lo"),
      max(col("v").cast("double")).as("hi"))
    val baseline = graft.ops.Sketch.histBuildWith(baselineData, "v", 10, bounds)
    val in = MemoryStream[Double](spark)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val q = DriftMonitor.monitor(in.toDF().toDF("v"), "v", baseline, 10,
      l => lines.synchronized { lines += l })
    try {
      in.addData(0 until 1000 map (i => (i % 100).toDouble): _*)
      q.processAllAvailable()
      in.addData(0 until 1000 map (i => 90.0 + (i % 10)): _*) // top decile only
      q.processAllAvailable()
      val ppm = lines.map(l =>
        "\"l1_ppm\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      assert(ppm(0) == 0L, s"identical distribution must score 0, got $ppm")
      // all mass in one of 10 bins vs uniform: L1 = 0.9 + 9*0.1 = 1.8
      assert(ppm(1) > 1500000L, s"shifted batch must alarm, got $ppm")
    } finally q.stop()
  }
}
