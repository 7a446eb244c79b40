package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CoreOps, DimJoins}
import graft.sources.{AmqpSink, ConfigSource, MessageSink, QueueSink, RestSource}

/** The job service's REST peer: hands out one pending job per poll,
  * records every state PUT, and serves Bitstamp-shaped tickers for the
  * job being processed (the one whose last state is 1100). */
final class HttpPeer(jobs: IndexedSeq[JobsRest.Job], seed: Long) {
  // Without TCP_NODELAY the JDK server holds a response's body segment
  // until the client acks its header segment, a delayed-ack stall of
  // ~40 ms per request that belongs to no real service.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(Loopback.addr, 0), 64)
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-http-peer"); t.setDaemon(true); t
  }
  val port: Int = server.getAddress.getPort
  val requests = new AtomicInteger(0)
  /** job id -> states PUT, in arrival order */
  val puts = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Int]]()
  /** job id -> the ticker served while it was processing */
  val served = new ConcurrentHashMap[Long, JobsRest.Ticker]()
  private val actionRe = "\"action\"\\s*:\\s*\"?(\\d+)".r
  private val rng = new java.util.Random(seed)

  private def state(id: Long): Int =
    Option(puts.get(id)).flatMap(_.asScala.lastOption).getOrElse(1000)

  private def reply(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.sendResponseHeaders(code, b.length)
    x.getResponseBody.write(b)
    x.close()
  }

  server.createContext("/", (x: HttpExchange) => {
    requests.incrementAndGet()
    val path = x.getRequestURI.getPath
    val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
    try (x.getRequestMethod, path) match {
      case ("GET", "/dbversion") =>
        reply(x, 200, """{"versions":[{"version_number":1}]}""")
      case ("GET", "/job/downloader_jobs") =>
        jobs.find(j => state(j.id) == 1000) match {
          case Some(j) => reply(x, 200, s"""{"downloader_jq_id":${j.id},""" +
            s""""action":1000,"value":"btsp#${j.isin}","type_idtype":2}""")
          case None => reply(x, 404, "{}")
        }
      case ("PUT", p) if p.startsWith("/job/set_downloader_jobs_state/") =>
        val id = p.stripPrefix("/job/set_downloader_jobs_state/").toLong
        val action = actionRe.findFirstMatchIn(body).map(_.group(1).toInt)
          .getOrElse(-1)
        puts.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[Int]()).add(action)
        reply(x, 200, "{}")
      case ("GET", p) if p.startsWith("/bitstamp/ticker/") =>
        val pair = p.stripPrefix("/bitstamp/ticker/").stripSuffix("/")
        jobs.find(j => state(j.id) == 1100) match {
          case Some(j) =>
            val t = JobsRest.Ticker.random(pair, rng)
            served.put(j.id, t)
            reply(x, 200, t.json)
          case None => reply(x, 409, "{}")
        }
      case _ => reply(x, 404, "{}")
    } catch { case e: Exception => reply(x, 500, e.toString) }
  })
  server.setExecutor(pool)
  server.start()

  def close(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** The reference's REST job lifecycle, closed loop with one job in
  * flight: claim (poll + eligibility), 1001 and 1100 PUTs, forward ISIN
  * lookup, ticker fetch from the loopback exchange, parse, envelope,
  * publish over AMQP, 1200 and 1300 PUTs. One job is one operation,
  * timed from the claim request to the acknowledgement of the last PUT. */
object JobsRest {
  final case class Job(id: Long, isin: String)

  /** A Bitstamp v2 ticker: every numeric is a two- or three-decimal
    * string, as the exchange sends them. */
  final case class Ticker(pair: String, bid: Double, ask: Double,
      last: Double, high: Double, low: Double, volume: Double) {
    private def s2(x: Double) = "\"" + f"$x%.2f" + "\""
    def json: String = s"""{"high":${s2(high)},"last":${s2(last)},""" +
      s""""timestamp":"1718000000","bid":${s2(bid)},"vwap":${s2(last)},""" +
      s""""volume":"${f"$volume%.3f"}","low":${s2(low)},"ask":${s2(ask)},""" +
      s""""open":${s2(last)}}"""
  }
  object Ticker {
    private def r(x: Double, d: Int) = BigDecimal(x).setScale(d,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    def random(pair: String, rng: java.util.Random): Ticker = {
      val bid = r(100 + rng.nextDouble() * 40000, 2)
      val ask = r(bid + 0.01 + rng.nextInt(500) / 100.0, 2)
      Ticker(pair, bid, ask, r((bid + ask) / 2, 2), r(ask + 5, 2),
        r(bid - 5, 2), r(rng.nextDouble() * 5000, 3))
    }
  }

  /** The reference README's job state codes, in lifecycle order. */
  val Lifecycle: Seq[Int] = Seq(1001, 1100, 1200, 1300)

  val WarmupJobs = 20
  /** The tail is the p75, so a run completes at least 40 jobs. */
  val TailQ = 0.75
  private val Queue = "ticks"
  private val (user, pass) = ("perfbench", "loopback")

  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  def expected(t: Ticker, isin: String): Map[String, Any] = {
    def c(x: Double) = math.floor(x * 100 + 0.5).toLong
    Map("exchange" -> "btsp", "isin" -> isin, "bid_cents" -> c(t.bid),
      "ask_cents" -> c(t.ask), "mid_cents" -> c((t.bid + t.ask) / 2),
      "last_price_cents" -> c(t.last),
      "volume_milli" -> math.floor(t.volume * 1000 + 0.5).toLong,
      "high_cents" -> c(t.high), "low_cents" -> c(t.low))
  }

  def run(spark: SparkSession, opts: Opts, trace: Trace,
      rec: Option[SparkRecorder]): Outcome = {
    val rng = new java.util.Random(opts.seed)
    val isins = Currency.pairOf.keys.toIndexedSeq.sorted
    val jobs = IndexedSeq.tabulate(100000)(k =>
      Job(10000L + k, isins(rng.nextInt(isins.size))))
    val peer = new HttpPeer(jobs, opts.seed)
    val broker = new AmqpPeer(user, pass)
    val fetcher = new LoopbackFetcher(peer.port, trace.enabled)
    val cfg = ConfigSource.defaults.copy(url = s"http://127.0.0.1:${peer.port}/")
    val amqp = new AmqpSink("127.0.0.1", broker.port, user, pass)
    val sink: MessageSink = if (trace.enabled) new TimedSink(amqp) else amqp
    val problems = ArrayBuffer.empty[String]
    val sc = spark.sparkContext

    def put(id: Long, action: Int): Unit = {
      val (status, _) = trace.span("sources.rest.state_put") {
        RestSource.updateJob(cfg, fetcher, id, action.toLong)
      }
      if (status != 200) problems += s"job $id: PUT $action answered $status"
    }
    /** One whole job; returns its id. */
    def job(): Long = trace.span("job") {
      val polled = trace.span("sources.rest.poll") {
        RestSource.pollJobs(spark, cfg, fetcher)
      }
      val claimed = trace.span("ops.eligible") {
        CoreOps.eligibleJobs(CoreOps.decodeJobValue(polled))
      }
      val Array(row) = trace.span("ops.claim") {
        claimed.select("downloader_jq_id").collect()
      }
      val id = row.getLong(0)
      put(id, 1001)
      put(id, 1100)
      val dim = trace.span("ops.dim_forward") {
        DimJoins.forward(spark)(claimed).select("exchange", "base", "quote",
          "pair", "isin").collect()
      }
      dim.foreach { d =>
        val parsed = trace.span("sources.rest.fetch") {
          RestSource.parseTicks(RestSource.fetchTickers(spark,
            Seq((d.getString(0), d.getString(1), d.getString(2))), fetcher))
        }
        val envelopes = parsed.select(CoreOps.toEnvelope(col("exchange"),
          lit(d.getString(4)).as("isin"), cents(col("bid")).as("bid_cents"),
          cents(col("ask")).as("ask_cents"), cents(col("mid")).as("mid_cents"),
          cents(col("last")).as("last_price_cents"),
          floor(col("volume") * 1000 + 0.5).cast("long").as("volume_milli"),
          cents(col("high")).as("high_cents"), cents(col("low")).as("low_cents"))
          .as("envelope"))
        trace.span("sources.amqp.publish") {
          QueueSink.publishBatch(envelopes, sink, Queue)
        }
      }
      put(id, 1200)
      put(id, 1300)
      id
    }

    try {
      if (!RestSource.versionGate(spark, cfg, fetcher))
        problems += "the version gate refused the loopback dbversion"
      (1 to WarmupJobs).foreach(_ => job())
      val minOps = Stats.minOpsForTail(TailQ)
      val reqAt0 = peer.requests.get()
      val connsAt0 = broker.connections.get()
      val msgsAt0 = broker.received.get()
      val lat = ArrayBuffer.empty[Long]
      val ids = ArrayBuffer.empty[Long]
      val w = Meter.open()
      val t0 = Clock.now
      var failed = 0L
      while (Clock.now - t0 < opts.seconds * 1000000000L || lat.size < minOps) {
        sc.setLocalProperty(SparkRecorder.OpKey, s"job#${lat.size}")
        val s = Clock.now
        try ids += job()
        catch { case e: Exception => // a failed operation, not a wrong output
          failed += 1
          System.err.println(s"[perfbench] job failed: $e")
        }
        lat += Clock.now - s
      }
      val end = Clock.now
      sc.setLocalProperty(SparkRecorder.OpKey, null)
      val cpu = Meter.cpuNs - w.cpuNs
      val gc = Meter.gcMs - w.gcMs
      val peak = Meter.heapPeakMb
      val live = Meter.liveHeapMb

      // checks: every job's PUTs follow the lifecycle; each job published
      // one envelope, matching the ticker served for it
      val envelopes = broker.drain().map { m =>
        if (m.contentType != "application/json" || m.deliveryMode != 2 ||
          !m.declaredDurable || m.queue != Queue)
          problems += s"message not persistent JSON on the durable queue: ${m.body}"
        Envelope.fields(m.body)
      }
      val done = jobs.filter(j => peer.puts.containsKey(j.id))
      done.foreach { j =>
        val seq = peer.puts.get(j.id).asScala.toSeq
        if (seq != Lifecycle)
          problems += s"job ${j.id}: states ${seq.mkString("->")} != 1000->${Lifecycle.mkString("->")}"
        Option(peer.served.get(j.id)) match {
          case None => problems += s"job ${j.id}: no ticker was fetched"
          case Some(t) =>
            if (t.pair != Currency.pairOf(j.isin))
              problems += s"job ${j.id}: fetched ${t.pair}, not ${Currency.pairOf(j.isin)}"
            val n = envelopes.count(_ == expected(t, j.isin))
            if (n != 1) problems += s"job ${j.id}: $n envelopes match its ticker"
        }
      }
      if (envelopes.size != done.size)
        problems += s"${envelopes.size} envelopes for ${done.size} jobs"
      problems ++= broker.protocolErrors.asScala

      val layers = rec.map { r =>
        org.apache.spark.PerfbenchListeners.drain(sc)
        val ops = lat.size.toDouble
        val js = r.jobsIn(t0, end)
        val (taskMs, shuffle) = r.work(js)
        val conns = broker.connections.get() - connsAt0
        Map(
          "sources.rest.requests" -> (peer.requests.get() - reqAt0) / ops,
          "sources.rest.poll_ms" ->
            Stats.median(trace.durationsMs("sources.rest.poll", t0, end)),
          "sources.rest.state_put_ms" ->
            Stats.median(trace.durationsMs("sources.rest.state_put", t0, end)),
          "sources.rest.fetch_ms" -> Stats.median(
            LoopbackFetcher.tickerGets.asScala.toSeq.takeRight(lat.size).map(_ / 1e6)),
          "sources.amqp.connections" -> conns.toDouble,
          "sources.amqp.msgs_per_connection" ->
            (broker.received.get() - msgsAt0).toDouble / math.max(conns, 1),
          "sources.amqp.publish_ms" -> TimedSink.medianPerCopyMs(t0, end),
          "spark.jobs_per_op" -> js.size / ops,
          "spark.sql_execs_per_op" -> r.execsIn(t0, end).size / ops,
          "spark.task_ms_per_op" -> taskMs / ops,
          "spark.shuffle_bytes_per_op" -> shuffle / ops,
          "bench.generator_late_ms" -> 0.0)
      }.getOrElse(Map.empty)

      val latMs = lat.toSeq.map(_ / 1e6)
      Outcome(lat.size.toLong, failed, problems.toSeq.take(20), lat.toArray,
        Stats.quantile(latMs, TailQ), t0, end - t0, cpu, gc, live, peak, layers)
    } finally {
      peer.close()
      broker.close()
    }
  }
}
