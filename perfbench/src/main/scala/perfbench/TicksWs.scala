package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{AmqpSink, InMemorySink, MessageSink, TickChannels, WsTickClient}
import graft.streaming.{Heartbeat, TickPipeline}

/** The streaming service path at a fixed offered rate below saturation:
  * loopback WebSocket server -> WsTickClient -> TickStreamSource ->
  * TickPipeline.fromWss -> publishStream (fixed ProcessingTime trigger)
  * -> AmqpSink -> loopback broker, with Heartbeat attached.
  *
  * Open loop: one generator (this thread) sends tick i when it is due,
  * whatever the pipeline is doing. The tick's sequence number rides in
  * `volume`, so each envelope the broker decodes is matched to its due
  * time; a tick's latency runs from due to decoded. */
object TicksWs {
  /** Subscribed but absent from the currency dimension: no ISIN. */
  val Unmapped = "btcgbp"
  val Pairs: Seq[String] =
    Seq("btcusd", "ethusd", "ltcusd", "xrpusd", "eosusd", Unmapped)

  val TriggerMs = 1000L
  /** Five seconds of ticks at the offered rate: five micro-batches, so
    * that the JIT has compiled more of the per-batch path before the
    * measured window (with two, the window's CPU per tick read 6.6 ms
    * against 4.7 ms with five, median of five runs each). */
  val WarmupSeconds = 5
  /** At 200 ticks/s and 6 s a run sends 1200 ticks: the p99 has twelve
    * beyond it. */
  val TailQ = 0.99
  private val Queue = "ticks"
  private val (user, pass) = ("perfbench", "loopback")

  /** The positional Bitfinex v1 ticker fields of one tick. */
  final case class Tick(pair: String, bid: Double, ask: Double, last: Double,
      high: Double, low: Double)

  private def cents(x: Double): Long = math.floor(x * 100 + 0.5).toLong
  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  /** Seeded ticks: a base price per pair, a random walk per tick. */
  def ticks(seed: Long, n: Int): Array[Tick] = {
    val rng = new java.util.Random(seed)
    val base = Pairs.map(p => p -> (50.0 + rng.nextDouble() * 40000)).toMap
    Array.tabulate(n) { i =>
      val p = Pairs(i % Pairs.size)
      val bid = r2(base(p) * (0.98 + rng.nextDouble() * 0.04))
      val ask = r2(bid + 0.01 + rng.nextInt(500) / 100.0)
      Tick(p, bid, ask, r2((bid + ask) / 2), r2(ask + rng.nextInt(900) / 100.0),
        r2(bid - rng.nextInt(900) / 100.0))
    }
  }

  /** The envelope the pipeline must publish for tick `seq`, computed by
    * the benchmark: integer cents as floor(x * 100 + 0.5), mid from
    * (bid + ask) / 2, volume (the sequence number) in milli-units. */
  def expected(t: Tick, seq: Int): Map[String, Any] =
    Map("exchange" -> "btfx", "bid_cents" -> cents(t.bid),
      "ask_cents" -> cents(t.ask), "mid_cents" -> cents((t.bid + t.ask) / 2),
      "last_price_cents" -> cents(t.last),
      "volume_milli" -> math.floor(seq * 1000.0 + 0.5).toLong,
      "high_cents" -> cents(t.high), "low_cents" -> cents(t.low)) ++
      Currency.isinOf.get(t.pair).map("isin" -> _)

  def run(spark: SparkSession, opts: Opts, trace: Trace,
      rec: Option[SparkRecorder]): Outcome = {
    val n = opts.ratePerS * opts.seconds
    val warmupTicks = opts.ratePerS * WarmupSeconds
    val total = warmupTicks + n
    val ts = ticks(opts.seed, total)
    val broker = new AmqpPeer(user, pass)
    val ws = new WsPeer(Pairs)
    val channel = s"perfbench-${opts.seed}"
    val client = new WsTickClient(ws.uri, "btfx", Pairs, channel)
    val heartbeats = new InMemorySink
    spark.streams.addListener(new Heartbeat(heartbeats, "perfbench"))
    val amqp = new AmqpSink("127.0.0.1", broker.port, user, pass)
    val sink: MessageSink = if (trace.enabled) new TimedSink(amqp) else amqp
    val problems = ArrayBuffer.empty[String]
    try {
      require(client.start(10000L), "the WebSocket subscription was not acked")
      // a var, dropped once stopped: a stopped query still holds its last
      // executed plans, and with them the broadcasts of its last batches
      // (32 MB each), which made live_heap_mb read 94 or 127 MB at random
      var query = TickPipeline.publishStream(
        TickPipeline.fromWss(spark)(spark.readStream.format(classOf[graft.sources.TickStreamSource].getName)
          .option("channel", channel).load()),
        sink, Queue, Trigger.ProcessingTime(TriggerMs))
      val due = new Array[Long](total)
      val period = 1000000000L / opts.ratePerS
      var lateMax = 0L
      var backlogMax = 0L
      def frame(seq: Int): String = {
        val t = ts(seq)
        s"[${ws.chanIds(t.pair)},${t.bid},1.5,${t.ask},2.5,0.1,0.001," +
          s"${t.last},$seq,${t.high},${t.low}]"
      }
      /** Sends ticks [from, until) on schedule from `start`. */
      def generate(from: Int, until: Int, start: Long, sample: Boolean): Unit =
        (from until until).foreach { seq =>
          val d = start + (seq - from) * period
          due(seq) = d
          var now = Clock.now
          while (now < d) {
            java.util.concurrent.locks.LockSupport.parkNanos(d - now)
            now = Clock.now
          }
          ws.send(frame(seq))
          if (sample) {
            lateMax = math.max(lateMax, Clock.now - d)
            if (trace.enabled && seq % 20 == 0) Option(query.lastProgress)
              .flatMap(_.sources.headOption).map(_.endOffset)
              .filter(o => o != null && o.forall(_.isDigit))
              .foreach(o => backlogMax = math.max(backlogMax,
                TickChannels.size(channel) - o.toLong))
          }
        }
      def awaitMessages(count: Int, timeoutMs: Long): Boolean = {
        val deadline = Clock.now + timeoutMs * 1000000L
        while (broker.received.get() < count && Clock.now < deadline)
          Thread.sleep(2)
        broker.received.get() >= count
      }

      // warm-up: a fixed number of ticks, fully delivered
      generate(0, warmupTicks, Clock.now + 1000000L, sample = false)
      if (!awaitMessages(warmupTicks, 30000L))
        problems += "warm-up ticks were not all delivered within 30 s"
      val framesAt0 = TickChannels.size(channel)
      val connsAt0 = broker.connections.get()
      val msgsAt0 = broker.received.get()
      val w = Meter.open()
      val t0 = Clock.now + 1000000L
      generate(warmupTicks, total, t0, sample = true)
      // CPU and GC over exactly the generation window: it always holds
      // `seconds` trigger intervals, wherever the run fell on the trigger
      // clock, where a window ending at the last delivery would hold one
      // trigger more or less from run to run.
      val windowEnd = t0 + opts.seconds * 1000000000L
      java.util.concurrent.locks.LockSupport.parkNanos(windowEnd - Clock.now)
      val cpu = Meter.cpuNs - w.cpuNs
      val gc = Meter.gcMs - w.gcMs
      awaitMessages(total, 20000L)
      val end = Clock.now
      val peak = Meter.heapPeakMb
      query.stop()
      query = null
      val live = Meter.liveHeapMb
      val retained = TickChannels.size(channel)

      // checks against the benchmark's own computation
      val first = new Array[Long](total)
      var dups = 0L
      broker.drain().foreach { m =>
        val got = Envelope.fields(m.body)
        val seq = got.get("volume_milli") match {
          case Some(v: Long) => (v / 1000).toInt
          case _ => -1
        }
        if (m.queue != Queue || seq < 0 || seq >= total)
          problems += s"unexpected message on '${m.queue}': ${m.body.take(200)}"
        else {
          if (first(seq) == 0L) first(seq) = m.arrivalNs else dups += 1
          if (got != expected(ts(seq), seq))
            problems += s"tick $seq: envelope ${m.body} != expected ${expected(ts(seq), seq)}"
          if (m.contentType != "application/json" || m.deliveryMode != 2 ||
            !m.declaredDurable)
            problems += s"tick $seq: not persistent JSON on a durable queue"
        }
      }
      problems ++= broker.protocolErrors.asScala
      if (graft.sources.InMemoryQueues.drain("services/perfbench").isEmpty)
        problems += "the Heartbeat sidecar published no registration"
      val (delivered, lost) = (warmupTicks until total).partition(first(_) != 0L)
      if (lost.nonEmpty)
        problems += s"${lost.size} measured ticks never reached the broker, " +
          s"first seqs ${lost.take(5).mkString(", ")}"
      val lat = delivered.map(s => first(s) - due(s)).toArray
      System.err.println(s"[perfbench] ticks_ws: ${delivered.size}/$n delivered, " +
        s"$dups duplicate deliveries, ${broker.connections.get()} AMQP connections")

      val layers = rec.map { r =>
        org.apache.spark.PerfbenchListeners.drain(spark.sparkContext)
        val prog = r.progress.asScala.toSeq
          .filter(p => p.at >= t0 && p.at <= end && p.rows > 0)
        def med(k: String) = Stats.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
        val js = r.jobsIn(t0, end)
        val (taskMs, shuffle) = r.work(js)
        val ops = math.max(delivered.size, 1).toDouble
        val conns = broker.connections.get() - connsAt0
        Map(
          "sources.ws.frames" -> (retained - framesAt0).toDouble,
          "sources.ws.backlog_max" -> backlogMax.toDouble,
          "sources.tickstream.retained_frames" -> retained.toDouble,
          "sources.amqp.connections" -> conns.toDouble,
          "sources.amqp.msgs_per_connection" ->
            (broker.received.get() - msgsAt0).toDouble / math.max(conns, 1),
          "sources.amqp.publish_ms" -> TimedSink.medianPerCopyMs(t0, end),
          "streaming.triggers" -> prog.size.toDouble,
          "streaming.rows_per_trigger" -> Stats.median(prog.map(_.rows.toDouble)),
          "streaming.latest_offset_ms" -> med("latestOffset"),
          "streaming.query_planning_ms" -> med("queryPlanning"),
          "streaming.add_batch_ms" -> med("addBatch"),
          "streaming.wal_commit_ms" -> med("walCommit"),
          "streaming.trigger_ms" -> med("triggerExecution"),
          "spark.jobs_per_op" -> js.size / ops,
          "spark.sql_execs_per_op" -> r.execsIn(t0, end).size / ops,
          "spark.task_ms_per_op" -> taskMs / ops,
          "spark.shuffle_bytes_per_op" -> shuffle / ops,
          "bench.generator_late_ms" -> lateMax / 1e6)
      }.getOrElse(Map.empty)

      // Delivered ticks per second as the slope of a least-squares fit of
      // delivery time against sequence number: deliveries come in
      // trigger-sized steps, and a span between the first and last of
      // them depends on where the run fell on the trigger clock.
      val xs = delivered.map(_.toDouble)
      val ys = delivered.map(first(_).toDouble)
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val nsPerTick = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      val latMs = lat.toSeq.map(_ / 1e6)
      Outcome(n.toLong, (n - delivered.size).toLong, problems.toSeq.take(20), lat,
        if (latMs.isEmpty) 0.0 else Stats.quantile(latMs, TailQ), t0,
        (nsPerTick * delivered.size).toLong, cpu, gc, live, peak, layers)
    } finally {
      client.stop()
      ws.close()
      broker.close()
    }
  }
}
