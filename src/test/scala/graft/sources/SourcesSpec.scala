package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Deterministic fake fetcher: canned responses per URL substring. */
final class FakeFetcher(responses: Map[String, (Int, String)]) extends HttpFetcher {
  def get(url: String, basicAuth: Option[(String, String)]): (Int, String) =
    responses.collectFirst { case (k, v) if url.contains(k) => v }
      .getOrElse((404, ""))
}

/** Records every GET URL in a process-wide queue (tasks and the driver
  * share the JVM in local mode), then answers like `inner`. */
final class CountingFetcher(inner: HttpFetcher) extends HttpFetcher {
  def get(url: String, basicAuth: Option[(String, String)]): (Int, String) = {
    CountingFetcher.gets.add(url)
    inner.get(url, basicAuth)
  }
}

object CountingFetcher {
  val gets = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class SourcesSpec extends SparkSpec {

  private def awaitBroker(broker: LoopbackAmqpBroker, messages: Int): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while ((broker.messages.size < messages ||
        broker.openConnections.get() > 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  test("S10 config: INI file wins over env, reference keys honored") {
    val dir = Files.createTempDirectory("cfg")
    Files.writeString(dir.resolve("config"),
      """[prod]
        |url=http://api.example/v1/
        |rabbitmq_queue=prod-queue
        |[heartbeat]
        |app_name=dl-test
        |""".stripMargin)
    val cfg = ConfigSource.load(dir.toString,
      env = Map("STOXYGEN_URL" -> "http://ignored/"))
    assert(cfg.url == "http://api.example/v1/")
    assert(cfg.rabbitmqQueue == "prod-queue")
    assert(cfg.heartbeatAppname == "dl-test")
    assert(cfg.urlUsername == "sql-user") // default fills the gap
  }

  test("S10 config: STOXYGEN_* env fallback with defaults (main.py:49-62)") {
    val cfg = ConfigSource.load("/nonexistent",
      env = Map("STOXYGEN_RABBITMQ_HOST" -> "mq.internal",
        "STOXYGEN_LOGS_MAX_SIZE" -> "1234"))
    assert(cfg.rabbitmqHost == "mq.internal")
    assert(cfg.logsMaxSize == 1234L)
    assert(cfg.url == "http://localhost/api/v1")
  }

  test("S1 job poll parses a 200 body into the typed Job row") {
    val fetcher = new FakeFetcher(Map("job/downloader_jobs" -> (200,
      """{"downloader_jq_id": 7, "action": 1000, "value": "btsp#XFC000000001", "type_idtype": 2}""")))
    val jobs = RestSource.pollJobs(spark, ConfigSource.defaults, fetcher)
    val r = jobs.select("status", "downloader_jq_id", "action", "value").head()
    assert(r.getInt(0) == 200 && r.getLong(1) == 7L && r.getInt(2) == 1000)
  }

  test("S1 job poll on non-200 yields a status row with null job fields") {
    val jobs = RestSource.pollJobs(spark, ConfigSource.defaults,
      new FakeFetcher(Map.empty))
    val r = jobs.head()
    assert(r.getInt(0) == 404 && r.isNullAt(1))
  }

  test("schema-version gate: proceeds iff versions[0].version_number >= min") {
    def gate(resp: (Int, String), min: Int = 1) = RestSource.versionGate(
      spark, ConfigSource.defaults, new FakeFetcher(Map("dbversion" -> resp)), min)
    // pass: first version meets the floor (main.py:444)
    assert(gate((200, """{"versions":[{"version_number":1}]}""")))
    assert(gate((200, """{"versions":[{"version_number":3},{"version_number":1}]}""")))
    // fail: version too low, or floor raised above it
    assert(!gate((200, """{"versions":[{"version_number":0}]}""")))
    assert(!gate((200, """{"versions":[{"version_number":1}]}"""), min = 2))
    // fail CLOSED: malformed JSON, empty versions, wrong shape, non-200
    assert(!gate((200, "not json at all {{{")))
    assert(!gate((200, """{"versions":[]}""")))
    assert(!gate((200, """{"something_else":true}""")))
    assert(!gate((500, """{"versions":[{"version_number":9}]}""")))
    assert(!RestSource.versionGate(spark, ConfigSource.defaults,
      new FakeFetcher(Map.empty))) // 404 default
  }

  test("S3/S4 ticker URLs use lowercase pairs (bitstamp/client.py:22)") {
    assert(RestSource.bitstampTickerUrl("BTC", "EUR") ==
      "https://www.bitstamp.net/api/v2/ticker/btceur/")
    assert(RestSource.bitfinexTickerUrl("btc", "usd") ==
      "https://api.bitfinex.com/v1/pubticker/btcusd")
  }

  test("S3/S4 ticker fetch: one GET per pair, string-decimal casts (F8)") {
    val fetcher = new FakeFetcher(Map(
      "ticker/btceur" -> (200,
        """{"bid": "100.5", "ask": "101.5", "last": "101.0", "high": "110.0",
          | "low": "95.0", "volume": "42.5", "timestamp": "1704067200"}""".stripMargin),
      "pubticker/ethusd" -> (503, "unavailable")))
    val raw = RestSource.fetchTickers(spark,
      Seq(("btsp", "btc", "eur"), ("btfx", "eth", "usd")), fetcher)
    assert(raw.count() == 2)
    val ticks = RestSource.parseTicks(raw) // 503 row filtered (P7)
    val r = ticks.select("pair", "bid", "mid", "ts").head()
    assert(r.getString(0) == "btceur")
    assert(r.getDouble(1) == 100.5)
    assert(r.getDouble(2) == 101.0) // (bid+ask)/2 when exchange sends no mid
    assert(ticks.count() == 1)
  }

  test("S3/S4 the ticker GETs run once, when fetchTickers is called: " +
      "count, parseTicks and head reuse them") {
    CountingFetcher.gets.clear()
    val fetcher = new CountingFetcher(new FakeFetcher(Map(
      "ticker/btceur" -> (200, """{"bid": "100.5", "ask": "101.5"}"""),
      "pubticker/ethusd" -> (200, """{"bid": "7.0", "ask": "9.0"}"""))))
    val raw = RestSource.fetchTickers(spark,
      Seq(("btsp", "btc", "eur"), ("btfx", "eth", "usd")), fetcher)
    assert(raw.count() == 2)
    val ticks = RestSource.parseTicks(raw)
    assert(ticks.count() == 2)
    assert(ticks.orderBy("pair").select("mid").head().getDouble(0) == 101.0)
    assert(raw.head().getInt(2) == 200)
    val urls = CountingFetcher.gets.asScala.toSeq
    assert(urls.sorted == Seq(RestSource.bitfinexTickerUrl("eth", "usd"),
      RestSource.bitstampTickerUrl("btc", "eur")),
      s"each ticker URL once, got $urls")
  }

  test("S6' a driver-local frame publishes with no Spark job and closes " +
      "the caller's sink; the next publishBatch re-dials") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret")
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret")
    val fetcher = new FakeFetcher(Map("ticker/btceur" -> (200,
      """{"bid": "100.5", "ask": "101.5"}""")))
    def envelopes() = RestSource.parseTicks(RestSource.fetchTickers(spark,
        Seq(("btsp", "btc", "eur")), fetcher))
      .select(to_json(struct(col("pair"), col("mid"))).as("envelope"))
    try {
      scala.util.Using.resource(new graft.RunRecorder(spark.sparkContext)) { rec =>
        QueueSink.publishBatch(envelopes(), sink, "ticks")
        rec.flush()
        assert(rec.jobs.size == 0, "Spark jobs ran")
      }
      awaitBroker(broker, 1)
      assert(broker.connections == 1 && broker.openConnections.get() == 0,
        s"${broker.connections} dialed, ${broker.openConnections.get()} open")
      QueueSink.publishBatch(envelopes(), sink, "ticks")
      awaitBroker(broker, 2)
      assert(broker.connections == 2 && broker.openConnections.get() == 0,
        s"${broker.connections} dialed, ${broker.openConnections.get()} open")
      assert(broker.messages.map(_.body).toSeq ==
        Seq.fill(2)("""{"pair":"btceur","mid":101.0}"""))
    } finally { sink.close(); broker.close() }
  }

  test("S6' a publish flushes its frames once, not once per frame") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret")
    val conn = new AmqpSink.Conn("127.0.0.1", broker.port, "guest", "s3cret",
      "/")
    try {
      conn.declareDurableQueue("q")
      val before = conn.flushes
      (1 to 3).foreach(i =>
        conn.publishPersistentJson("q", s"""{"n":$i}""".getBytes("UTF-8")))
      assert(conn.flushes - before == 3,
        s"${conn.flushes - before} flushes for 3 messages")
      val deadline = System.currentTimeMillis() + 10000
      while (broker.messages.size < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(broker.messages.map(_.body).toSeq ==
        (1 to 3).map(i => s"""{"n":$i}"""))
    } finally { conn.close(); broker.close() }
  }

  test("S6 dedupForPublish keeps one deterministic row per idempotence key") {
    import spark.implicits._
    val dup = Seq(
      ("btsp", "XFC000000001", 100L, "first"),
      ("btsp", "XFC000000001", 100L, "retry"), // redelivery of the same tick
      ("btsp", "XFC000000001", 200L, "next"))
      .toDF("exchange", "isin", "ts_us", "payload")
    val out = QueueSink.dedupForPublish(dup,
      Seq("exchange", "isin", "ts_us"), "payload")
    assert(out.count() == 2)
    val kept = out.filter($"ts_us" === 100L).select("payload").as[String].head()
    assert(kept == "first") // deterministic survivor, not arbitrary
  }

  test("S6 publish + S7 writeback deliver every row of a driver-local frame") {
    InMemoryQueues.clear()
    import spark.implicits._
    val env = Seq("""{"a":1}""", """{"a":2}""").toDF("envelope")
    QueueSink.publishBatch(env, new InMemorySink, "mq")
    assert(InMemoryQueues.drain("mq").toSet ==
      Set("""{"a":1}""", """{"a":2}"""))
    val trans = Seq((7L, 1100)).toDF("job_id", "action")
    QueueSink.writebackStates(trans, new InMemorySink, "states")
    assert(InMemoryQueues.drain("states/7") == Seq("""[{"action": 1100}]"""))
  }

  test("S7'/S8' live REST write edges: updateJob PUTs the reference's " +
      "exact action body, register POSTs, heartbeat PUTs bodyless — " +
      "method, path, auth and content-type all verified on a loopback") {
    final case class Req(method: String, path: String, body: String,
      auth: String, ctype: String)
    val reqs = new scala.collection.mutable.ArrayBuffer[Req]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
      reqs.synchronized {
        reqs += Req(x.getRequestMethod, x.getRequestURI.getPath, body,
          Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse(""),
          Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse(""))
      }
      val resp = """{"ok":true}""".getBytes("UTF-8")
      x.sendResponseHeaders(200, resp.length)
      x.getResponseBody.write(resp); x.close()
    })
    server.start()
    try {
      val cfg = ConfigSource.defaults.copy(
        url = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/",
        urlUsername = "sql-user", urlPassword = "s3cret")
      val fetcher = new JdkHttpFetcher()
      val expectAuth = "Basic " + java.util.Base64.getEncoder
        .encodeToString("sql-user:s3cret".getBytes("UTF-8"))
      assert(RestSource.updateJob(cfg, fetcher, 42L, 1100L)._1 == 200)
      assert(RestSource.registerApplication(cfg, fetcher, "downloader",
        """{"instance":"i-1"}""")._1 == 200)
      assert(RestSource.updateApplication(cfg, fetcher, "downloader",
        "i-1")._1 == 200)
      val got = reqs.toSeq
      assert(got.map(r => (r.method, r.path)) == Seq(
        ("PUT", "/api/v1/job/set_downloader_jobs_state/42"),
        ("POST", "/api/v1/services/downloader"),
        ("PUT", "/api/v1/services/downloader/i-1")))
      assert(got.forall(_.auth == expectAuth))
      // the reference's exact one-element action array (main.py:190-196)
      assert(got(0).body == """[{"action": "1100"}]""" &&
        got(0).ctype == "application/json")
      assert(got(1).body == """{"instance":"i-1"}""")
      assert(got(2).body.isEmpty && got(2).ctype.isEmpty,
        "the heartbeat PUT is bodyless with no content type")
      // a read-only fake refuses writes loudly-but-safely (status -2)
      object fake extends HttpFetcher {
        def get(url: String, auth: Option[(String, String)]) = (200, "{}")
      }
      assert(RestSource.updateJob(cfg, fake, 1L, 1L)._1 == -2)
      // transport failure -> status <= 0, never a throw
      val dead = cfg.copy(url = "http://127.0.0.1:1/api/")
      assert(RestSource.updateJob(dead, fetcher, 1L, 1L)._1 < 0)
    } finally server.stop(0)
  }

  test("S6' live AMQP: the full 0-9-1 dialogue lands durable declares and " +
      "persistent JSON messages on an independently-decoding broker") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret")
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret")
    try {
      import spark.implicits._
      // the reference publish path verbatim: declare durable once, then
      // basic.publish per message (main.py:208-230)
      assert(sink.publish("downloader_stock", """{"isin":"X1","mid":11.0}"""))
      assert(sink.publish("downloader_stock", """{"isin":"X2","mid":12.0}"""))
      // publishBatch drives the SAME sink partition-locally
      val env = Seq("""{"a":1}""").toDF("envelope")
      QueueSink.publishBatch(env.coalesce(1), sink, "downloader_stock")
      val deadline = System.currentTimeMillis() + 10000
      while (broker.messages.size < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      // 2 connections, NOT 4: one held across the driver's two publishes
      // (vs the reference's dial-per-message), plus one dialed by the
      // executor-side sink copy (@transient conn does not ride the task
      // closure — that IS the per-partition connection model)
      assert(broker.connections == 2, s"got ${broker.connections}")
      assert(broker.declares.toSeq ==
        Seq.fill(2)(broker.Declared("downloader_stock", durable = true)))
      val msgs = broker.messages.toSeq
      assert(msgs.map(_.body) == Seq("""{"isin":"X1","mid":11.0}""",
        """{"isin":"X2","mid":12.0}""", """{"a":1}"""))
      assert(msgs.forall(m => m.queue == "downloader_stock" &&
        m.contentType == "application/json" && m.deliveryMode == 2),
        s"persistent-JSON properties must ride every message: $msgs")
    } finally { sink.close(); broker.close() }
  }

  test("S6'/S7 each partition's sink copy is closed: every message lands " +
      "and no connection stays open") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret")
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret")
    try {
      import spark.implicits._
      val sc = spark.sparkContext
      val envelopes = (1 to 12).map(i => s"""{"n":$i}""")
      QueueSink.publishBatch(sc.parallelize(envelopes, 4).toDF("envelope"),
        sink, "ticks")
      QueueSink.writebackStates(sc.parallelize(Seq((1L, 1100), (2L, 1200),
        (3L, 1300)), 3).toDF("job_id", "action"), sink, "jobs")
      awaitBroker(broker, 15)
      assert(broker.messages.filter(_.queue == "ticks").map(_.body).sorted ==
        envelopes.sorted)
      assert(broker.messages.filter(_.queue.startsWith("jobs/")).size == 3)
      assert(broker.connections == 7, s"one per partition, got ${broker.connections}")
      assert(broker.openConnections.get() == 0,
        s"${broker.openConnections.get()} connections left open")
    } finally { sink.close(); broker.close() }
  }

  test("S6' live AMQP: an abrupt broker drop re-dials once and the " +
      "publish succeeds; bad credentials fail CLOSED with false") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret",
      dropAfterMessages = 1)
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret")
    try {
      assert(sink.publish("q", """{"n":1}"""))
      // the broker killed the TCP socket after message 1. Frames written
      // into the dead socket BEFORE the RST lands can flush "successfully"
      // — exactly the no-confirms at-least-once gap the reference has
      // (main.py publishes blind) — so the caller's contract is
      // retry-until-delivered; the sink notices the dead socket on the
      // next write and re-dials exactly once
      val deadline = System.currentTimeMillis() + 10000
      while (!broker.messages.exists(_.body == """{"n":2}""") &&
          System.currentTimeMillis() < deadline) {
        sink.publish("q", """{"n":2}""")
        Thread.sleep(50)
      }
      assert(broker.messages.map(_.body).headOption.contains("""{"n":1}"""))
      assert(broker.messages.exists(_.body == """{"n":2}"""))
      assert(broker.connections == 2, "exactly one re-dial")
      assert(broker.declares.size == 2,
        "the fresh connection must re-declare the durable queue")
    } finally { sink.close(); broker.close() }
    val badBroker = new LoopbackAmqpBroker("guest", "s3cret")
    val badSink = new AmqpSink("127.0.0.1", badBroker.port, "guest", "WRONG")
    try {
      // ACCESS_REFUSED -> handshake fails on dial and once more on the
      // re-dial -> false, never an exception (main.py:229-230's bool)
      assert(!badSink.publish("q", """{"n":3}"""))
      assert(badBroker.authFailures >= 1 && badBroker.messages.isEmpty)
    } finally { badSink.close(); badBroker.close() }
  }

  test("S7'' https: the REST write edge speaks TLS from the URI scheme " +
      "— the reference's production API transport — against a loopback " +
      "HttpsServer with the self-signed test cert") {
    val server = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setHttpsConfigurator(
      new com.sun.net.httpserver.HttpsConfigurator(TlsTestKit.context))
    @volatile var seen: (String, String, String) = null
    server.createContext("/", (x: com.sun.net.httpserver.HttpExchange) => {
      seen = (x.getRequestMethod, x.getRequestURI.getPath,
        new String(x.getRequestBody.readAllBytes(), "UTF-8"))
      val resp = """{"ok":true}""".getBytes("UTF-8")
      x.sendResponseHeaders(200, resp.length)
      x.getResponseBody.write(resp); x.close()
    })
    server.start()
    try {
      val cfg = ConfigSource.defaults.copy(
        url = s"https://127.0.0.1:${server.getAddress.getPort}/api/v1/",
        urlUsername = "sql-user", urlPassword = "s3cret")
      val fetcher = new JdkHttpFetcher(
        sslContextProvider = Some(() => TlsTestKit.context))
      assert(RestSource.updateJob(cfg, fetcher, 7L, 1100L)._1 == 200)
      assert(seen == (("PUT", "/api/v1/job/set_downloader_jobs_state/7",
        """[{"action": "1100"}]""")))
      // trust is NOT JVM-global: a default-trust fetcher refuses the
      // self-signed cert with the never-throws status contract
      val untrusting = new JdkHttpFetcher()
      assert(RestSource.updateJob(cfg, untrusting, 7L, 1100L)._1 < 0)
    } finally server.stop(0)
  }

  test("S6' tune negotiation + amqps: the sink replies min(server, " +
      "desired) to RabbitMQ-realistic tune values over TLS, and bodies " +
      "larger than the negotiated frame-max split into multiple frames") {
    // real RabbitMQ proposes channel-max 2047 and REJECTS a client 0
    // ('no limit' is above the proposal) — the r16 sink echoed fixed
    // constants and only ever met a broker proposing those constants
    // (the ADVICE escape); this broker validates like production
    val broker = new LoopbackAmqpBroker("guest", "s3cret",
      channelMaxProp = 2047, frameMaxProp = 4096,
      tlsContext = Some(TlsTestKit.context))
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret",
      tls = true, sslContextProvider = Some(() => TlsTestKit.context))
    try {
      val big = "x" * 10000 // > 2 x (4096 - 8): must split into 3 frames
      assert(sink.publish("q_tls", s"""{"pad":"$big"}"""))
      val deadline = System.currentTimeMillis() + 10000
      while (broker.messages.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(broker.clientChannelMax == 2047,
        s"tune-ok must echo the server's channel-max, got " +
          s"${broker.clientChannelMax}")
      assert(broker.clientFrameMax == 4096L,
        s"tune-ok must take min(server 4096, desired 131072), got " +
          s"${broker.clientFrameMax}")
      assert(broker.maxBodyFramesSeen >= 3,
        s"a 10 kB body over frame-max 4096 must split, saw " +
          s"${broker.maxBodyFramesSeen} frame(s)")
      assert(broker.messages.head.body == s"""{"pad":"$big"}""",
        "split frames must reassemble to the exact body")
      assert(broker.messages.head.deliveryMode == 2)
    } finally { sink.close(); broker.close() }
  }

  test("S6' publisher confirms (opt-in): confirm.select is negotiated, " +
      "acks gate publish success, and a broker nack is a loud false — " +
      "the effectively-once seam over dedupForPublish") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret",
      nackQueues = Set("rejected_q"))
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret",
      confirms = true)
    try {
      assert(sink.publish("ok_q", """{"n":1}"""))
      assert(sink.publish("ok_q", """{"n":2}""")) // tags advance per publish
      assert(broker.confirmsSelected >= 1, "confirm.select must be sent")
      // nack -> publish fails LOUDLY (false after the one re-dial also
      // nacks); the at-least-once default (confirms = false) is the
      // reference's contract, this path is the upgrade seam
      assert(!sink.publish("rejected_q", """{"n":3}"""))
      assert(broker.messages.count(_.queue == "ok_q") == 2)
    } finally { sink.close(); broker.close() }
  }

  test("S6' broker-initiated channel.close during a confirm wait is a " +
      "LOUD fast publish failure — the socket stays open, so only the " +
      "method decode (not TCP teardown) can unblock the wait") {
    val broker = new LoopbackAmqpBroker("guest", "s3cret",
      channelCloseQueues = Set("cursed_q"))
    val sink = new AmqpSink("127.0.0.1", broker.port, "guest", "s3cret",
      confirms = true)
    try {
      assert(sink.publish("ok_q", """{"n":1}"""), "healthy path first")
      val t0 = System.nanoTime()
      // broker answers the publish with channel.close(406) and then
      // HOLDS the TCP socket open — the pre-round-18 loop skipped the
      // method and blocked here until broker teardown
      assert(!sink.publish("cursed_q", """{"n":2}"""))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(elapsedMs < 10000L, // far under the 30 s SO_TIMEOUT backstop
        s"channel.close must fail the publish promptly, took ${elapsedMs} ms")
      // the channel error poisoned that connection; a later publish
      // re-dials and succeeds (call-scoped redial budget)
      assert(sink.publish("ok_q", """{"n":3}"""))
      assert(broker.messages.count(_.queue == "ok_q") == 2)
    } finally { sink.close(); broker.close() }
  }
}
