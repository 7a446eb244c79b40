package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.schema.Job

/** S1-S4 — REST poll sources.
  *
  * The reference fetches one job / one ticker per blocking HTTP call
  * (main.py:108-140, bitstamp/client.py:25-65, bitfinex/client.py:22-36).
  * Engine shape: a pluggable [[HttpFetcher]] does the edge I/O on the
  * driver (one tiny job-queue row; one ticker per pair, the pair list
  * bounded by the 84-row currency dimension), and the payloads
  * immediately become local DataFrames with explicit schemas + a
  * `status` column — the reference's `(status_code, json)` tuple as rows,
  * so non-200s are data (filter P7), not control flow. */
trait HttpFetcher extends Serializable {
  /** GET url -> (status code, body). Never throws; transport errors are a
    * status <= 0 row (the reference's `(status, 0)` contract). */
  def get(url: String, basicAuth: Option[(String, String)] = None): (Int, String)

  /** Write-side edge (round 16): PUT/POST with an optional JSON body —
    * the reference's updateJob / register_application / heartbeat
    * transports (main.py:155-206). Same never-throws contract as `get`.
    * Default refuses loudly-but-safely so read-only test fakes keep
    * compiling; the real [[JdkHttpFetcher]] overrides. */
  def send(method: String, url: String, body: Option[String] = None,
      basicAuth: Option[(String, String)] = None): (Int, String) =
    (-2, s"$method unsupported by ${getClass.getSimpleName}")
}

/** Real fetcher over java.net.http (edge-only; tests drive it against an
  * in-process loopback com.sun.net.httpserver — no egress needed).
  * `https://` needs nothing extra — the JDK client negotiates TLS from
  * the URI scheme (the reference's API_URL is https in production);
  * `sslContextProvider` only overrides TRUST (round 17, completing the
  * wss/amqps TLS story on the third live edge) so a test can pin a
  * self-signed loopback cert without touching JVM-global defaults —
  * a provider function rather than a context because the fetcher is
  * Serializable and rides task closures. */
final class JdkHttpFetcher(timeoutMs: Int = 10000,
    sslContextProvider: Option[() => javax.net.ssl.SSLContext] = None)
    extends HttpFetcher {
  @transient private lazy val client = sslContextProvider
    .foldLeft(java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)))(
      (b, p) => b.sslContext(p()))
    .build()
  private def base(url: String, basicAuth: Option[(String, String)]) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
    basicAuth.foreach { case (u, p) =>
      b.header("Authorization", "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes("UTF-8")))
    }
    b
  }
  def get(url: String, basicAuth: Option[(String, String)]): (Int, String) =
    try {
      val resp = client.send(base(url, basicAuth).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case e: Exception => (-1, e.getClass.getSimpleName) }
  override def send(method: String, url: String, body: Option[String],
      basicAuth: Option[(String, String)]): (Int, String) =
    try {
      val b = base(url, basicAuth)
      val pub = body match {
        case Some(j) =>
          // the reference always pairs a body with the JSON content type
          // (main.py:160,196); a bodyless PUT (heartbeat) sends neither
          b.header("Content-Type", "application/json")
          java.net.http.HttpRequest.BodyPublishers.ofString(j)
        case None => java.net.http.HttpRequest.BodyPublishers.noBody()
      }
      val resp = client.send(b.method(method, pub).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case e: Exception => (-1, e.getClass.getSimpleName) }
}

object RestSource {

  /** Bitstamp v2 ticker URL (bitstamp/client.py:8,22,34: lowercase pair in
    * the path). */
  def bitstampTickerUrl(base: String, quote: String): String =
    s"https://www.bitstamp.net/api/v2/ticker/${(base + quote).toLowerCase}/"

  /** Bitfinex v1 pubticker URL (bitfinex/client.py:30). */
  def bitfinexTickerUrl(base: String, quote: String): String =
    s"https://api.bitfinex.com/v1/pubticker/${(base + quote).toLowerCase}"

  /** S1 — poll the job queue once and produce a typed jobs DataFrame.
    * Driver-side fetch (one tiny JSON row, like the reference's
    * GET job/downloader_jobs) -> createDataFrame under Job.schema. */
  def pollJobs(spark: SparkSession, cfg: EngineConfig, fetcher: HttpFetcher,
      path: String = "job/downloader_jobs"): DataFrame = {
    val (status, body) = fetcher.get(s"${cfg.url}$path",
      Some((cfg.urlUsername, cfg.urlPassword)))
    import spark.implicits._
    val raw = Seq((status, body)).toDF("status", "body")
    raw.withColumn("job", when(col("status") === 200,
        from_json(col("body"), Job.schema)))
      .select(col("status"), col("job.*"))
  }

  /** DB schema-version gate (main.py:66,143-153,443-461): GET
    * `{url}dbversion` -> {"versions":[{"version_number":N},...]} and
    * proceed iff versions[0].version_number >= minVersion (the reference's
    * module constant database_version = 1).
    *
    * Fails CLOSED: a non-200, transport error, or malformed/missing JSON
    * means "cannot prove schema compatibility" -> false. (As written the
    * reference crashes on a failed fetch — getDatabaseVersion returns None
    * and main subscripts it; refusing to start is the intended behavior,
    * per SURVEY.md §0.2's as-written-vs-intended policy.) */
  def versionGate(spark: SparkSession, cfg: EngineConfig, fetcher: HttpFetcher,
      minVersion: Int = 1): Boolean = {
    val (status, body) = fetcher.get(s"${cfg.url}dbversion",
      Some((cfg.urlUsername, cfg.urlPassword)))
    if (status != 200) false
    else {
      import spark.implicits._
      // try_element_at: ANSI mode would throw on the empty-versions case,
      // which must read as gate-closed, not a crash
      val v = Seq(body).toDF("body")
        .select(expr(
          "try_element_at(from_json(body, " +
            "'versions array<struct<version_number:int>>').versions, 1)" +
            ".version_number").as("v"))
        .as[Option[Int]].head()
      v.exists(_ >= minVersion)
    }
  }

  /** S3/S4 — fetch each pair's ticker on the driver, once, when called:
    * one blocking GET per pair, as in the reference. The rows come back as
    * a local frame, so every action on it (or on [[parseTicks]] over it)
    * sees the same ticks without a second GET, and the projections over it
    * fold into a `LocalRelation` on the driver (no Spark job). Output:
    * (exchange, pair, status, body) with non-200/transport errors as
    * status rows. */
  def fetchTickers(spark: SparkSession, pairs: Seq[(String, String, String)],
      fetcher: HttpFetcher): DataFrame = {
    val rows = pairs.map { case (exchange, base, quote) =>
      val url = exchange match {
        case "btsp" => bitstampTickerUrl(base, quote)
        case _ => bitfinexTickerUrl(base, quote)
      }
      val (status, body) = fetcher.get(url)
      Row(exchange, (base + quote).toLowerCase, status, body)
    }
    spark.createDataFrame(rows.asJava, TickerSchema)
  }

  private val TickerSchema = StructType(Seq(
    StructField("exchange", StringType), StructField("pair", StringType),
    StructField("status", IntegerType, nullable = false),
    StructField("body", StringType)))

  /** Parse fetched Bitstamp/Bitfinex ticker bodies into the canonical tick
    * shape. Both exchanges serialize numerics as STRINGS
    * (bitstamp/client.py:39-42, bitfinex/client.py:33-36) — the casts here
    * are the load-bearing normalization step (F8). */
  def parseTicks(df: DataFrame): DataFrame = {
    val schema = "bid STRING, ask STRING, last STRING, last_price STRING, " +
      "high STRING, low STRING, volume STRING, mid STRING, timestamp STRING"
    df.filter(col("status") === 200)
      .withColumn("t", from_json(col("body"),
        org.apache.spark.sql.types.StructType.fromDDL(schema)))
      .select(
        // try_cast, not cast: a malformed numeric from an exchange must
        // become a null cell (row-level error data), not an ANSI crash
        col("exchange"), col("pair"),
        expr("try_cast(t.bid as double)").as("bid"),
        expr("try_cast(t.ask as double)").as("ask"),
        expr("try_cast(coalesce(t.last, t.last_price) as double)").as("last"),
        expr("try_cast(t.high as double)").as("high"),
        expr("try_cast(t.low as double)").as("low"),
        expr("try_cast(t.volume as double)").as("volume"),
        expr("coalesce(try_cast(t.mid as double), " +
          "(try_cast(t.bid as double) + try_cast(t.ask as double)) / 2)")
          .as("mid"),
        to_timestamp(expr("try_cast(t.timestamp as double)")).as("ts"))
  }

  /** S7' — REST job-state writeback (round 16): PUT
    * `{url}job/set_downloader_jobs_state/{id}` with the reference's
    * exact one-element body `[{"action": "<new>"}]` (main.py:186-205,
    * updateJob). Returns (status, body); a transport failure is a
    * status <= 0 result, never a throw — the reference logs-and-drops,
    * this surfaces the code so the caller's job state machine decides. */
  def updateJob(cfg: EngineConfig, fetcher: HttpFetcher, jobId: Long,
      newAction: Long): (Int, String) =
    fetcher.send("PUT", s"${cfg.url}job/set_downloader_jobs_state/$jobId",
      Some(s"""[{"action": "$newAction"}]"""),
      Some((cfg.urlUsername, cfg.urlPassword)))

  /** S8' — service registration: POST `{url}services/{appId}` with the
    * instance descriptor (main.py:155-164, register_application). */
  def registerApplication(cfg: EngineConfig, fetcher: HttpFetcher,
      appId: String, json: String): (Int, String) =
    fetcher.send("POST", s"${cfg.url}services/$appId", Some(json),
      Some((cfg.urlUsername, cfg.urlPassword)))

  /** S8'' — heartbeat: bodyless PUT `{url}services/{appId}/{instanceId}`
    * (main.py:167-182, update_application). */
  def updateApplication(cfg: EngineConfig, fetcher: HttpFetcher,
      appId: String, instanceId: String): (Int, String) =
    fetcher.send("PUT", s"${cfg.url}services/$appId/$instanceId", None,
      Some((cfg.urlUsername, cfg.urlPassword)))
}
