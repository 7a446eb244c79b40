package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.ops._
import graft.schema.{CurrencyDim, Transition}
import Q._

/** Flagship, file scans (S9), projections/filters (P), scalar functions (F), joins (J), aggregates (A), windows (W), sort/set/pivot (Q) — the SURVEY §2 core table.
  *
  * Round-17 split of the monolithic Queries.scala (r16 verdict item 8):
  * ZERO behavior change — every QuerySpec moved verbatim; shared
  * fixtures/oracle-text helpers live in [[Q]]; graft.Queries.all
  * re-exports the identical 292-name registry in the original order. */
object QCore {

  // ===========================================================================
  // Flagship + scan/filter/project family (S9, P1-P8, F1-F12)
  // ===========================================================================

  val flagship = QuerySpec("flagship_revenue_by_nation",
    (s, d) => {
      val li = T(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
      // exact revenue: cents × (100 − discount in hundredths) is a row's
      // revenue in 1e-4 units, summed as an integer and rounded half-up
      // to cents once — a double sum rounds a half-cent tie by its
      // summation order, so Spark and DuckDB could land apart
      val units = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))
      li.join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(units).as("units"), count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .select(col("n_name"),
          expr("cast((units + 50) div 100 as double) / 100").as("revenue"),
          col("n_rows"), col("n_orders"))
        .orderBy(col("n_name"))
    },
    Some("""-- nonneg-div(1): revenue units, prices >= 0 and discounts <= 1
           |SELECT n_name,
           |  CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100
           |    AS DOUBLE) / 100 AS revenue,
           |  count(*) AS n_rows,
           |  count(DISTINCT o_orderkey) AS n_orders
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |GROUP BY n_name ORDER BY n_name""".stripMargin),
    bench = true)


  /** SURVEY §3 E2 — the reference's whole REST job pipeline as ONE DAG:
    * synthesize jobs -> eligibility filter (P6) -> decode (P1) -> forward
    * dim lookup (J1, map projection) -> fetch-status filter (P7) -> derived tick
    * normalization (P3/F8) -> envelope publish payload (P5/F5). The
    * reference crosses the network 5× per record for this
    * (main.py:264-355); here it is one declarative plan with no join and
    * zero shuffles before the final sort. */
  val e2Pipeline = QuerySpec("e2_pipeline",
    (s, d) => {
      val jobs = T(s, d, "orders").select(
        col("o_orderkey").as("downloader_jq_id"),
        (lit(1000) + (col("o_orderkey") % 10) * 100).cast("int").as("action"),
        concat(lit("btsp#XFC"),
          lpad((col("o_custkey") % 84 + 1).cast("string"), 9, "0")).as("value"),
        ((col("o_orderkey") % 3) + 1).cast("int").as("type_idtype"),
        col("o_totalprice"))
      val decoded = CoreOps.decodeJobValue(CoreOps.eligibleJobs(jobs))
      val withDim = DimJoins.forward(s)(decoded)
      val fetched = withDim.withColumn("status",
        when(col("downloader_jq_id") % 7 === 0, 503).otherwise(200))
      val ticks = CoreOps.withMid(CoreOps.okStatus(fetched)
        .withColumn("bid", round(col("o_totalprice") / 1000, 4))
        .withColumn("ask", round(col("o_totalprice") / 1000 * 1.01, 4)))
      ticks.select(col("downloader_jq_id"),
          CoreOps.toEnvelope(col("exchange"), col("isin"), col("pair"),
            floor(col("mid") * 100 + 0.5).cast("long").as("mid_cents"))
            .as("envelope"))
        .orderBy(col("downloader_jq_id"))
    },
    Some(s"""WITH jobs AS (
            |  SELECT o_orderkey AS downloader_jq_id,
            |    1000 + (o_orderkey % 10) * 100 AS action,
            |    'btsp#XFC' || lpad(CAST(o_custkey % 84 + 1 AS VARCHAR), 9, '0') AS value,
            |    (o_orderkey % 3) + 1 AS type_idtype,
            |    o_totalprice
            |  FROM orders),
            |eligible AS (
            |  SELECT *, string_split(value, '#')[1] AS exchange,
            |    string_split(value, '#')[2] AS isin
            |  FROM jobs
            |  WHERE downloader_jq_id <> 0 AND action = 1000 AND type_idtype = 2),
            |withdim AS (
            |  SELECT e.*, dim.pair FROM eligible e
            |  JOIN ${CurrencyDim.sqlRelation("dim")} ON dim.isin = e.isin),
            |fetched AS (
            |  SELECT *, CASE WHEN downloader_jq_id % 7 = 0 THEN 503 ELSE 200 END AS status
            |  FROM withdim),
            |ticks AS (
            |  SELECT *, round(o_totalprice / 1000, 4) AS bid,
            |    round(o_totalprice / 1000 * 1.01, 4) AS ask
            |  FROM fetched WHERE status = 200)
            |SELECT downloader_jq_id, to_json({
            |    'exchange': exchange, 'isin': isin, 'pair': pair,
            |    'mid_cents': CAST(floor((bid + ask) / 2 * 100 + 0.5) AS BIGINT)
            |  }) AS envelope
            |FROM ticks ORDER BY downloader_jq_id""".stripMargin),
    bench = true)


  /** S9-csv — RFC4180 round trip, schema'd scan, both engines reading the
    * same file. The `tricky` column embeds separators and quotes so the
    * quote/escape contract is actually exercised (Spark's writer default
    * escape is backslash — NOT RFC4180 — hence the explicit
    * escape="\"" on both the writer and the reader; DuckDB's reader is
    * RFC4180-native). At 100 TB a CSV scan is schema'd + splittable
    * exactly like this one: explicit schema (no inference pass over the
    * corpus) and a plain projection that pushes column pruning into the
    * scan. */
  val s9CsvScan = QuerySpec("s9_csv_scan",
    (s, d) => {
      val dest = s"$s9FixtureRoot/s9_documents.csv"
      writeSingleFile(
        T(s, d, "documents").select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"),
          concat(col("lang"), lit(",\""), col("source"), lit("\" "),
            substring(col("text"), 1, 24)).as("tricky")),
        "csv", dest)
      s.read
        .schema("doc_id BIGINT, lang STRING, source STRING, " +
          "n_chars BIGINT, tricky STRING")
        .option("header", "true").option("escape", "\"")
        .csv(dest)
        .filter(col("n_chars") > 0)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, n_chars, tricky
           |FROM read_csv('/root/repo/target/graft_fixtures/s9_documents.csv',
           |  header=true,
           |  columns={'doc_id':'BIGINT','lang':'VARCHAR','source':'VARCHAR',
           |           'n_chars':'BIGINT','tricky':'VARCHAR'})
           |WHERE n_chars > 0 ORDER BY doc_id""".stripMargin))


  /** S9-json — newline-delimited JSON round trip over the events table
    * (one JSON object per line = the splittable layout; a single
    * multi-MB array would serialize the whole scan through one task).
    * ts travels as unix micros: integer-exact on any engine, the same
    * no-float/no-format-drift discipline as the ppm kernels. The props
    * column is a JSON-in-string payload, so the scan must round-trip
    * embedded quotes/escapes — with the explicit schema it stays an
    * opaque VARCHAR on both sides (f6_from_json covers parsing it). */
  val s9JsonScan = QuerySpec("s9_json_scan",
    (s, d) => {
      val dest = s"$s9FixtureRoot/s9_events.json"
      writeSingleFile(
        Tables.events(s, d).select(
          col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props")),
        "json", dest)
      s.read
        .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING")
        .json(dest)
        .filter(col("event_type") =!= "noop")
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, ts_us, user_id, event_type, value, props
           |FROM read_json('/root/repo/target/graft_fixtures/s9_events.json',
           |  format='newline_delimited',
           |  columns={'event_id':'BIGINT','ts_us':'BIGINT','user_id':'BIGINT',
           |           'event_type':'VARCHAR','value':'DOUBLE','props':'VARCHAR'})
           |WHERE event_type <> 'noop' ORDER BY event_id""".stripMargin))


  /** S9c — judged ORC scan (round 15): the third columnar-warehouse
    * format next to parquet/CSV/NDJSON. DuckDB has no ORC reader, so
    * the oracle reads the ORIGINAL parquet table — which makes the
    * judged claim exactly the right one: the ORC round-trip
    * (long/string/double/timestamp columns, Spark writer → Spark
    * vectorized reader) is VALUE-LOSSLESS, or the hash breaks. Filter
    * + projection run on the ORC side to exercise its pushdown path. */
  val s9OrcScan = QuerySpec("s9_orc_scan",
    (s, d) => {
      val dest = s"$s9FixtureRoot/s9_orders.orc"
      writeSingleFile(
        T(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate")),
        "orc", dest)
      s.read.orc(dest)
        .filter(col("o_totalprice") > 1000.0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          // Spark's ORC reader surfaces the stored timestamp as NTZ; the
          // session is pinned UTC so the NTZ->LTZ cast is the identity on
          // the stored instant
          expr("unix_micros(cast(o_orderdate as timestamp))")
            .as("o_date_us"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  epoch_us(o_orderdate) AS o_date_us
           |FROM orders WHERE o_totalprice > 1000.0
           |ORDER BY o_orderkey""".stripMargin))


  /** S9-xml — XML scan via Spark 4's NATIVE xml source: the orders
    * subset written as <order> elements (one-time, single file) and
    * read back with an explicit schema — the judged contract is
    * ROUND-TRIP FIDELITY: the oracle reads the source-of-truth parquet
    * directly, so any write-side escaping or read-side parsing defect
    * breaks the hash. The `tricky` column embeds <, &, > and a quote,
    * forcing real entity escaping through the round trip; doubles
    * round-trip exactly (Java shortest-repr toString parses back to
    * the same bits). DuckDB has no XML reader, which is exactly why
    * the oracle pins the INVERSE property instead of re-reading the
    * file (the s9 family's one inverted lane, documented here). */
  val s9XmlScan = QuerySpec("s9_xml_scan",
    (s, d) => {
      val dest = s"$s9FixtureRoot/s9_orders.xml"
      writeSingleFile(
        T(s, d, "orders").filter(col("o_orderkey") < 20000)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            concat(col("o_orderstatus"), lit("<&>\""),
              col("o_custkey").cast("string")).as("tricky")),
        "xml", dest, Map("rowTag" -> "order", "rootTag" -> "orders"))
      s.read.option("rowTag", "order")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, tricky STRING")
        .format("xml").load(dest)
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderstatus || '<&>"' || CAST(o_custkey AS VARCHAR)
           |    AS tricky
           |FROM orders WHERE o_orderkey < 20000
           |ORDER BY o_orderkey""".stripMargin))


  /** S9-binary — RAW FILE ingestion via Spark's `binaryFile` source
    * (round 15): the entry point of every real multimodal pipeline —
    * a directory of media files becomes (path, length, content) rows.
    * Fixture: 64 deterministic P6 images (the mm_decode payload
    * generator, written out as actual .p6 files, stale fixtures cleaned
    * so an earlier sf run cannot pollute the glob); the judged result
    * is (doc_id parsed from the filename, byte length, md5-over-hex
    * fingerprint — DuckDB's md5 takes VARCHAR only, and hex(blob) is
    * uppercase on BOTH engines, so the fingerprint is cross-engine
    * exact). The oracle reads the IDENTICAL files via read_blob — the
    * s9_csv_scan same-bytes discipline. Scale: binaryFile is a
    * splittable DSv2 source — one task per file group, no driver
    * bottleneck; the 64-file fixture stands in for the million-file
    * prod layout. */
  val s9BinaryScan = QuerySpec("s9_binary_scan",
    (s, d) => {
      val dest = new java.io.File(s"$s9FixtureRoot/s9_ppm")
      if (dest.exists) dest.listFiles.foreach(_.delete())
      dest.mkdirs()
      // bounded-by-contract collect (64 rows, ~0.5 KB each) — the
      // bloomBits class, not a fact-volume collect
      graft.ops.Multimodal.withPpmPayload(
          T(s, d, "documents").orderBy(col("doc_id")).limit(64),
          "text", "doc_id")
        .select(col("doc_id"), col("payload")).collect()
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dest.toString,
              s"img_${r.getLong(0)}.p6"),
            r.getAs[Array[Byte]]("payload"))
        }
      s.read.format("binaryFile").load(dest.toString)
        .select(
          regexp_extract(col("path"), "img_(\\d+)\\.p6", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"),
          md5(hex(col("content"))).as("fp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT
           |  CAST(regexp_extract(filename, 'img_(\d+)\.p6', 1) AS BIGINT)
           |    AS doc_id,
           |  CAST(size AS BIGINT) AS n_bytes,
           |  md5(hex(content)) AS fp
           |FROM read_blob('/root/repo/target/graft_fixtures/s9_ppm/*.p6')
           |ORDER BY doc_id""".stripMargin))


  val p1SplitDecode = QuerySpec("p1_split_decode",
    (s, d) => {
      val withValue = Tables.events(s, d).filter(col("event_id") < 5000)
        .withColumn("value",
          concat(col("event_type"), lit("#"), col("user_id").cast("string")))
      CoreOps.decodeJobValue(withValue)
        .select(col("event_id"), col("value"), col("exchange"), col("isin"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (
           |  SELECT event_id,
           |    event_type || '#' || CAST(user_id AS VARCHAR) AS value
           |  FROM events WHERE event_id < 5000)
           |SELECT event_id, value,
           |  string_split(value, '#')[1] AS exchange,
           |  string_split(value, '#')[2] AS isin
           |FROM e ORDER BY event_id""".stripMargin))


  val p2FrameProject = QuerySpec("p2_frame_project",
    (s, d) => {
      val framed = T(s, d, "embeddings")
        .withColumn("frame", Similarity.asDouble("embedding"))
      CoreOps.withMid(CoreOps.projectFrame("frame")(framed))
        .select(col("vec_id"),
          round(col("bid"), 6).as("bid"), round(col("ask"), 6).as("ask"),
          round(col("last_price"), 6).as("last_price"),
          round(col("volume"), 6).as("volume"),
          round(col("high"), 6).as("high"), round(col("low"), 6).as("low"),
          round(col("mid"), 6).as("mid"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id,
           |  round(embedding[1]::DOUBLE, 6) AS bid,
           |  round(embedding[3]::DOUBLE, 6) AS ask,
           |  round(embedding[7]::DOUBLE, 6) AS last_price,
           |  round(embedding[8]::DOUBLE, 6) AS volume,
           |  round(embedding[9]::DOUBLE, 6) AS high,
           |  round(embedding[10]::DOUBLE, 6) AS low,
           |  round((embedding[1]::DOUBLE + embedding[3]::DOUBLE) / 2, 6) AS mid
           |FROM embeddings ORDER BY vec_id""".stripMargin))


  val p4DerivedScale = QuerySpec("p4_derived_scale",
    (s, d) => {
      val ticks = Tables.events(s, d).filter(col("event_id") < 5000)
        .withColumn("bid", col("value"))
        .withColumn("ask", col("value") * 1.02 + 0.01)
      CoreOps.withPctScale("value", "change_pct")(CoreOps.withMid(ticks))
        .select(col("event_id"),
          round(col("bid"), 6).as("bid"), round(col("ask"), 6).as("ask"),
          round(col("mid"), 6).as("mid"),
          round(col("change_pct"), 6).as("change_pct"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id,
           |  round(value, 6) AS bid,
           |  round(value * 1.02 + 0.01, 6) AS ask,
           |  round((value + (value * 1.02 + 0.01)) / 2, 6) AS mid,
           |  round(value * 100, 6) AS change_pct
           |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin))


  val p5Envelope = QuerySpec("p5_envelope",
    (s, d) => {
      val enriched = CoreOps.enrich(lit("btsp"), isinFrom(col("user_id")))(
        Tables.events(s, d).filter(col("event_id") < 2000))
        .withColumn("price_cents", round(col("value") * 100, 0).cast("long"))
        .withColumn("ts_us", expr("unix_micros(ts)"))
      enriched.select(col("event_id"),
          CoreOps.toEnvelope(col("exchange"), col("isin"),
            col("price_cents"), col("ts_us")).as("envelope"))
        .orderBy(col("event_id"))
    },
    Some(s"""SELECT event_id, to_json({
            |    'exchange': 'btsp',
            |    'isin': $isinSql,
            |    'price_cents': CAST(round(value * 100, 0) AS BIGINT),
            |    'ts_us': epoch_us(ts)}) AS envelope
            |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin))


  val p6Eligibility = QuerySpec("p6_eligibility",
    (s, d) => {
      val jobs = T(s, d, "orders").select(
        col("o_orderkey").as("downloader_jq_id"),
        (lit(1000) + (col("o_orderkey") % 10) * 100).cast("int").as("action"),
        concat(when(col("o_orderkey") % 2 === 0, "btsp").otherwise("btfx"),
          lit("#XFC"),
          lpad((col("o_custkey") % 84 + 1).cast("string"), 9, "0")).as("value"),
        ((col("o_orderkey") % 3) + 1).cast("int").as("type_idtype"))
      CoreOps.decodeJobValue(CoreOps.eligibleJobs(jobs))
        .select(col("downloader_jq_id"), col("value"),
          col("exchange"), col("isin"))
        .orderBy(col("downloader_jq_id"))
    },
    Some("""WITH jobs AS (
           |  SELECT o_orderkey AS downloader_jq_id,
           |    1000 + (o_orderkey % 10) * 100 AS action,
           |    (CASE WHEN o_orderkey % 2 = 0 THEN 'btsp' ELSE 'btfx' END)
           |      || '#XFC' || lpad(CAST(o_custkey % 84 + 1 AS VARCHAR), 9, '0') AS value,
           |    (o_orderkey % 3) + 1 AS type_idtype
           |  FROM orders)
           |SELECT downloader_jq_id, value,
           |  string_split(value, '#')[1] AS exchange,
           |  string_split(value, '#')[2] AS isin
           |FROM jobs
           |WHERE downloader_jq_id <> 0 AND action = 1000 AND type_idtype = 2
           |ORDER BY downloader_jq_id""".stripMargin))


  val p7StatusFilter = QuerySpec("p7_status_filter",
    (s, d) => {
      val withStatus = Tables.events(s, d).withColumn("status",
        when(col("event_type") === "error", 500)
          .when(col("event_type") === "signup", 201)
          .otherwise(200))
      CoreOps.okStatus(withStatus)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_ok"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""WITH e AS (SELECT *,
           |    CASE WHEN event_type = 'error' THEN 500
           |         WHEN event_type = 'signup' THEN 201
           |         ELSE 200 END AS status
           |  FROM events)
           |SELECT event_type, count(*) AS n_ok, round(sum(value), 4) AS sum_value
           |FROM e WHERE status = 200
           |GROUP BY event_type ORDER BY event_type""".stripMargin))


  val p8Dispatch = QuerySpec("p8_dispatch",
    (s, d) => {
      val withEx = Tables.events(s, d).withColumn("exchange",
        when(col("user_id") % 2 === 0, "btsp").otherwise("btfx"))
      CoreOps.withRoute(withEx)
        .groupBy(col("exchange"), col("route"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
        .orderBy(col("exchange"))
    },
    Some("""WITH e AS (SELECT *,
           |    CASE WHEN user_id % 2 = 0 THEN 'btsp' ELSE 'btfx' END AS exchange
           |  FROM events),
           |r AS (SELECT *,
           |    CASE WHEN exchange = 'btsp' THEN 'rest'
           |         WHEN exchange = 'btfx' THEN 'wss'
           |         ELSE 'unknown' END AS route
           |  FROM e)
           |SELECT exchange, route, count(*) AS n, round(avg(value), 6) AS avg_value
           |FROM r GROUP BY exchange, route ORDER BY exchange""".stripMargin))


  val fStrings = QuerySpec("f_strings",
    (s, d) => T(s, d, "customer").filter(col("c_custkey") <= 2000)
      .withColumn("name_lower", lower(col("c_name")))
      .withColumn("name_upper", upper(col("c_name")))
      .withColumn("tag", concat(col("c_mktsegment"), lit("#"), col("c_name")))
      .withColumn("seg_decoded", element_at(split(col("tag"), "#"), 1))
      .select(col("c_custkey"), col("name_lower"), col("name_upper"),
        col("tag"), col("seg_decoded"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
           |  lower(c_name) AS name_lower,
           |  upper(c_name) AS name_upper,
           |  c_mktsegment || '#' || c_name AS tag,
           |  string_split(c_mktsegment || '#' || c_name, '#')[1] AS seg_decoded
           |FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey""".stripMargin))


  val fStrings2 = QuerySpec("f_strings2",
    (s, d) => T(s, d, "customer").filter(col("c_custkey") <= 2000)
      .select(col("c_custkey"),
        substring(col("c_name"), 1, 8).as("prefix"),
        trim(concat(lit("  "), col("c_mktsegment"), lit(" "))).as("trimmed"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        instr(col("c_name"), "_").as("uspos"),
        reverse(col("c_mktsegment")).as("rev"),
        repeat(lit("ab"), 3).as("rep"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("trans"),
        length(col("c_name")).as("nlen"))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
           |  substr(c_name, 1, 8) AS prefix,
           |  trim('  ' || c_mktsegment || ' ') AS trimmed,
           |  regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
           |  CAST(instr(c_name, '_') AS INT) AS uspos,
           |  reverse(c_mktsegment) AS rev,
           |  repeat('ab', 3) AS rep,
           |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS trans,
           |  CAST(length(c_name) AS INT) AS nlen
           |FROM customer WHERE c_custkey <= 2000 ORDER BY c_custkey""".stripMargin))


  val fArrays = QuerySpec("f_arrays",
    (s, d) => T(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        array_contains(col("toks"), "spark").as("has_spark"),
        element_at(sort_array(array_distinct(col("toks"))), 1).as("first_tok"),
        size(slice(col("toks"), 1, 5)).as("n_head"),
        concat_ws("-", slice(col("toks"), 1, 3)).as("head3"))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           |  list_contains(toks, 'spark') AS has_spark,
           |  list_sort(list_distinct(toks))[1] AS first_tok,
           |  CAST(len(toks[1:5]) AS INT) AS n_head,
           |  array_to_string(toks[1:3], '-') AS head3
           |FROM d ORDER BY doc_id""".stripMargin))


  val f6FromJson = QuerySpec("f6_from_json",
    (s, d) => Tables.events(s, d)
      .withColumn("k_val",
        from_json(col("props"), "k INT", Map.empty[String, String]).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k_val")).as("n"), sum(col("k_val")).as("sum_k"),
        round(avg(col("k_val")), 6).as("avg_k"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
           |  count(CAST(props->>'k' AS INT)) AS n,
           |  CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           |  round(avg(CAST(props->>'k' AS INT)), 6) AS avg_k
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))


  val f8Casts = QuerySpec("f8_casts",
    (s, d) => CoreOps.normalizeDecimal("value", "d")(
      Tables.events(s, d).filter(col("event_id") < 5000)
        .withColumn("s", format_string("%.4f", col("value"))))
      .withColumn("i", floor(col("value")).cast("long"))
      .select(col("event_id"), col("s"), col("d"), col("i"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id,
           |  printf('%.4f', value) AS s,
           |  CAST(printf('%.4f', value) AS DOUBLE) AS d,
           |  CAST(floor(value) AS BIGINT) AS i
           |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin))


  val f10TimeBuckets = QuerySpec("f10_time_buckets",
    (s, d) => Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour_str"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"),
        min(expr("unix_micros(ts)")).as("first_us"))
      .orderBy(col("hour_str")),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
           |  count(*) AS n, round(sum(value), 4) AS sum_value,
           |  min(epoch_us(ts)) AS first_us
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true)


  /** F10b — Spark's native tumbling window() expression (the TimeWindow
    * operator streaming bars use); oracle derives the same 15-minute
    * buckets from epoch arithmetic. */
  val f10bTumbling = QuerySpec("f10b_tumbling_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(expr("unix_micros(window.start)").as("start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("start_us"), col("event_type")),
    Some("""-- nonneg-div(1): epoch_us of post-1970 fixture timestamps
           |SELECT (epoch_us(ts) // 900000000) * 900000000 AS start_us,
           |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY start_us, event_type""".stripMargin))


  /** F10c — HOPPING (sliding) windows (round 11): width 30 min, slide
    * 15 min — every event lands in exactly width/slide = 2 windows. The
    * oracle decomposes the hop arithmetic exactly: window starts are
    * ((epoch // slide) − k) · slide for k ∈ {0, 1}, a 2-row unnest cross
    * join — no window-function machinery needed to replay Spark's
    * window() semantics. Completes the window-family coverage
    * (tumbling f10b, session st4, hopping here). */
  val f10cHopping = QuerySpec("f10c_hopping_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "30 minutes", "15 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(expr("unix_micros(window.start)").as("start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("start_us"), col("event_type")),
    Some("""-- nonneg-div(1): epoch_us of post-1970 fixture timestamps
           |WITH w AS (
           |  SELECT ((epoch_us(ts) // 900000000) - k) * 900000000
           |      AS start_us,
           |    event_type, value
           |  FROM events, (SELECT unnest([0, 1]) AS k))
           |SELECT start_us, event_type, count(*) AS n,
           |  round(sum(value), 4) AS sum_value
           |FROM w GROUP BY 1, 2 ORDER BY start_us, event_type""".stripMargin))


  val f12MapAccess = QuerySpec("f12_map_access",
    (s, d) => Tables.events(s, d).filter(col("event_id") < 5000)
      .withColumn("m",
        from_json(col("props"), "map<string,int>", Map.empty[String, String]))
      .select(col("event_id"), expr("try_element_at(m, 'k')").as("k_val"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, CAST(props->>'k' AS INT) AS k_val
           |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin))


  // ===========================================================================
  // Joins (J1-J8)
  // ===========================================================================

  val j1DimForward = QuerySpec("j1_dim_forward",
    (s, d) => {
      val ticks = Tables.events(s, d).filter(col("event_id") < 10000)
        .withColumn("isin", isinFrom(col("user_id")))
      DimJoins.forward(s)(ticks)
        .select(col("event_id"), col("isin"), col("base"), col("quote"),
          col("pair"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH ticks AS (
            |  SELECT event_id, $isinSql AS isin
            |  FROM events WHERE event_id < 10000)
            |SELECT t.event_id, t.isin, dim.base, dim.quote, dim.pair
            |FROM ticks t JOIN ${CurrencyDim.sqlRelation("dim")}
            |  ON dim.isin = t.isin
            |ORDER BY t.event_id""".stripMargin))


  val j2DimReverse = QuerySpec("j2_dim_reverse",
    (s, d) => {
      val ticks = Tables.events(s, d).filter(col("event_id") < 10000)
        .withColumn("isin", isinFrom(col("user_id")))
      val withPair = DimJoins.forward(s)(ticks)
        .withColumn("pair2", when(col("user_id") % 5 === 0,
          concat(col("pair"), lit("x"))).otherwise(col("pair")))
        .select(col("event_id"), col("pair2").as("pair"))
      DimJoins.reverse(s)(withPair)
        .select(col("event_id"), col("pair"), col("isin_resolved"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH ticks AS (
            |  SELECT event_id, user_id, $isinSql AS isin
            |  FROM events WHERE event_id < 10000),
            |withpair AS (
            |  SELECT t.event_id,
            |    CASE WHEN t.user_id % 5 = 0 THEN dim.pair || 'x'
            |         ELSE dim.pair END AS pair
            |  FROM ticks t JOIN ${CurrencyDim.sqlRelation("dim")}
            |    ON dim.isin = t.isin)
            |SELECT w.event_id, w.pair, d2.isin AS isin_resolved
            |FROM withpair w LEFT JOIN ${CurrencyDim.sqlRelation("d2")}
            |  ON d2.pair = w.pair
            |ORDER BY w.event_id""".stripMargin))


  val j3ShuffleHash = QuerySpec("j3_shuffle_hash",
    (s, d) => T(s, d, "orders").hint("SHUFFLE_HASH")
      .join(T(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority, count(*) AS n_items,
           |  round(sum(l_extendedprice), 2) AS sum_price
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    bench = true)


  val j4SortMerge = QuerySpec("j4_sort_merge",
    (s, d) => T(s, d, "orders")
      .join(T(s, d, "lineitem").hint("MERGE"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderstatus"), col("l_returnflag")),
    Some("""SELECT o_orderstatus, l_returnflag, count(*) AS n_items,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |GROUP BY o_orderstatus, l_returnflag
           |ORDER BY o_orderstatus, l_returnflag""".stripMargin),
    bench = true)


  val j5Theta = QuerySpec("j5_theta_join",
    (s, d) => {
      val n1 = T(s, d, "nation")
        .select(col("n_name").as("name1"), col("n_regionkey").as("r1"))
      val n2 = T(s, d, "nation")
        .select(col("n_name").as("name2"), col("n_regionkey").as("r2"))
      n1.join(n2, col("r1") < col("r2"))
        .select(col("name1"), col("name2"))
        .orderBy(col("name1"), col("name2"))
    },
    Some("""SELECT a.n_name AS name1, b.n_name AS name2
           |FROM nation a JOIN nation b ON a.n_regionkey < b.n_regionkey
           |ORDER BY name1, name2""".stripMargin))


  val j6RangeBand = QuerySpec("j6_range_band",
    (s, d) => {
      val bands = s.createDataFrame(Seq(
        (900.0, 935.0, "low"), (935.0, 970.0, "mid"), (970.0, 1000.0, "high")))
        .toDF("lo", "hi", "band")
      T(s, d, "part").join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 6).as("avg_price"))
        .orderBy(col("band"))
    },
    Some("""SELECT band, count(*) AS n_parts,
           |  round(avg(p_retailprice), 6) AS avg_price
           |FROM part JOIN (VALUES
           |    (900.0::DOUBLE, 935.0::DOUBLE, 'low'),
           |    (935.0::DOUBLE, 970.0::DOUBLE, 'mid'),
           |    (970.0::DOUBLE, 1000.0::DOUBLE, 'high')) bands(lo, hi, band)
           |  ON p_retailprice >= lo AND p_retailprice < hi
           |GROUP BY band ORDER BY band""".stripMargin))


  /** J6b — the same band join through Scale.binnedRangeJoin: identical
    * results (same oracle SQL as j6), but the plan is an EQUI-join on the
    * bin id instead of a nested loop — the shape that survives when both
    * sides are large. */
  val j6bRangeBinned = QuerySpec("j6b_range_binned",
    (s, d) => {
      val bands = s.createDataFrame(Seq(
        (900.0, 935.0, "low"), (935.0, 970.0, "mid"), (970.0, 1000.0, "high")))
        .toDF("lo", "hi", "band")
      Scale.binnedRangeJoin(T(s, d, "part"), "p_retailprice",
          bands, "lo", "hi", binWidth = 25.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 6).as("avg_price"))
        .orderBy(col("band"))
    },
    Some("""SELECT band, count(*) AS n_parts,
           |  round(avg(p_retailprice), 6) AS avg_price
           |FROM part JOIN (VALUES
           |    (900.0::DOUBLE, 935.0::DOUBLE, 'low'),
           |    (935.0::DOUBLE, 970.0::DOUBLE, 'mid'),
           |    (970.0::DOUBLE, 1000.0::DOUBLE, 'high')) bands(lo, hi, band)
           |  ON p_retailprice >= lo AND p_retailprice < hi
           |GROUP BY band ORDER BY band""".stripMargin))


  val j7Asof = QuerySpec("j7_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("click_us",
          when(col("event_type") === "click", expr("unix_micros(ts)")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_click_us", last(col("click_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("ts_us"), col("last_click_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH ev AS (
           |  SELECT event_id, user_id, ts, event_type,
           |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
           |  FROM events WHERE event_type IN ('click', 'purchase')),
           |w AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
           |    last_value(click_us IGNORE NULLS) OVER (
           |      PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
           |  FROM ev)
           |SELECT event_id, user_id, ts_us, last_click_us
           |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin))


  /** J7 again, through the CUSTOM physical operator (plans.AsOfJoin:
    * logical node + strategy + sort-merge exec) — same oracle SQL as the
    * window-composed j7, so the DuckDB gate validates the custom exec. */
  val j7bAsofCustom = QuerySpec("j7b_asof_custom",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts_us")
      graft.plans.AsOfJoin(purchases, clicks, "user_id", "ts_us", "ts_us",
          "last_click_us")
        .orderBy(col("event_id"))
    },
    j7Asof.oracle)


  /** J7 tie fixture: the custom exec's INCLUSIVE tie contract
    * (rightTs <= leftTs), exercised on data that actually CONTAINS
    * same-key equal-ts pairs — timestamps truncated to hour buckets give
    * 39 purchase rows (sf0.01) whose inclusive answer differs from the
    * strictly-preceding one, so the oracle would catch a contract drift
    * the microsecond data of j7b never triggers. */
  val j7cAsofTies = QuerySpec("j7c_asof_ties",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_hr", expr("unix_micros(ts) div 3600000000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_hr")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts_hr")
      graft.plans.AsOfJoin(purchases, clicks, "user_id", "ts_hr", "ts_hr",
          "last_click_hr")
        .orderBy(col("event_id"))
    },
    Some("""-- nonneg-div(2): epoch_us of post-1970 fixture timestamps
           |WITH p AS (
           |  SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS ts_hr
           |  FROM events WHERE event_type = 'purchase'),
           |c AS (
           |  SELECT user_id, epoch_us(ts) // 3600000000 AS ts_hr
           |  FROM events WHERE event_type = 'click')
           |SELECT p.event_id, p.user_id, p.ts_hr, max(c.ts_hr) AS last_click_hr
           |FROM p LEFT JOIN c
           |  ON c.user_id = p.user_id AND c.ts_hr <= p.ts_hr
           |GROUP BY p.event_id, p.user_id, p.ts_hr
           |ORDER BY p.event_id""".stripMargin))


  /** J7 forward direction (round 7): the NEXT click at or after each
    * purchase — the custom exec's `forward = true` path (smallest right
    * ts >= left ts, matching pandas merge_asof direction='forward' /
    * DuckDB ASOF with >=). The oracle is the set-based min() twin. */
  val j7dAsofForward = QuerySpec("j7d_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", expr("unix_micros(ts)"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts_us")
      graft.plans.AsOfJoin(purchases, clicks, "user_id", "ts_us", "ts_us",
          "next_click_us", forward = true)
        .orderBy(col("event_id"))
    },
    Some("""WITH p AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
           |  FROM events WHERE event_type = 'purchase'),
           |c AS (
           |  SELECT user_id, epoch_us(ts) AS ts_us
           |  FROM events WHERE event_type = 'click')
           |SELECT p.event_id, p.user_id, p.ts_us, min(c.ts_us) AS next_click_us
           |FROM p LEFT JOIN c
           |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
           |GROUP BY p.event_id, p.user_id, p.ts_us
           |ORDER BY p.event_id""".stripMargin))


  val j8Semi = QuerySpec("j8_semi_join",
    (s, d) => T(s, d, "customer")
      .join(T(s, d, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, count(*) AS n_customers
           |FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    bench = true)


  val j8Anti = QuerySpec("j8_anti_join",
    (s, d) => T(s, d, "customer")
      .join(T(s, d, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), min(col("c_custkey")).as("first_key"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, count(*) AS n_customers,
           |  min(c_custkey) AS first_key
           |FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))


  // ===========================================================================
  // Aggregations (A1-A4)
  // ===========================================================================

  val a1Pricing = QuerySpec("a1_pricing_summary",
    (s, d) => T(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(min(col("l_discount")), 4).as("min_disc"),
        round(max(col("l_tax")), 4).as("max_tax"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 2) AS sum_base_price,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           |  round(avg(l_quantity), 6) AS avg_qty,
           |  round(avg(l_extendedprice), 4) AS avg_price,
           |  round(min(l_discount), 4) AS min_disc,
           |  round(max(l_tax), 4) AS max_tax,
           |  count(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    bench = true)


  val a2Distinct = QuerySpec("a2_count_distinct",
    (s, d) => T(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
           |  count(DISTINCT l_suppkey) AS n_supp,
           |  count(DISTINCT l_partkey) AS n_part,
           |  count(DISTINCT l_orderkey) AS n_orders
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))


  /** HLL sketches are engine-specific — no oracle; the driver records a
    * rows-only check and HllSpec unit-tests the error bound vs exact. */
  val a2Hll = QuerySpec("a2_hll_approx",
    (s, d) => T(s, d, "lineitem").agg(
      approx_count_distinct(col("l_suppkey")).as("approx_supp"),
      approx_count_distinct(col("l_partkey")).as("approx_part"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      countDistinct(col("l_orderkey")).as("exact_orders")),
    None)


  /** A2c — the md5-twin pattern applied to HLL (round 11): the builtin
    * sketch above stays rows-only (datasketches register layout is
    * engine-defined), but [[Sketch.hllRegisters]] computes the SAME
    * structure from md5 with integer/nibble ops only, so the judged rows
    * are the sketch itself — all 64 registers — plus the 1e4 fixed-point
    * estimate, whose float chain is engine-exact because Z is a sum of
    * dyadic rationals (see the scaladoc). Mirrors x3_ann_md5 vs
    * x3_ann_lsh: engine-native entry for perf, md5 twin for the oracle. */
  val a2HllMd5 = QuerySpec("a2_hll_md5",
    (s, d) => Sketch.hllEstimate(
        Sketch.hllRegisters(T(s, d, "orders"), "o_orderkey"))
      .orderBy(col("bucket")),
    Some("""-- nonneg-div(1): md5-derived unsigned hashes and counts
           |WITH v AS (
           |  SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders),
           |p AS (
           |  SELECT CAST(('0x' || substr(h, 1, 2))::BIGINT // 4 AS INT)
           |      AS bucket,
           |    ltrim(substr(h, 3, 13), '0') AS nz,
           |    len(ltrim(substr(h, 3, 13), '0')) AS nzl
           |  FROM v),
           |r AS (
           |  SELECT bucket, CAST(1 + CASE WHEN nz = '' THEN 52
           |    ELSE 4 * (13 - nzl) +
           |      CASE WHEN substr(nz, 1, 1) IN
           |          ('8','9','a','b','c','d','e','f') THEN 0
           |        WHEN substr(nz, 1, 1) IN ('4','5','6','7') THEN 1
           |        WHEN substr(nz, 1, 1) IN ('2','3') THEN 2
           |        ELSE 3 END
           |    END AS INT) AS rho
           |  FROM p),
           |regs AS (
           |  SELECT s.bucket, CAST(coalesce(max(r.rho), 0) AS INT) AS reg
           |  FROM (SELECT CAST(unnest(range(0, 64)) AS INT) AS bucket) s
           |  LEFT JOIN r ON r.bucket = s.bucket
           |  GROUP BY s.bucket),
           |z AS (SELECT sum(pow(2.0, -reg)) AS zz FROM regs)
           |SELECT bucket, reg,
           |  CAST(floor(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE
           |    / 64) * 4096 / zz * 1e4 + 0.5) AS BIGINT) AS est_fp
           |FROM regs, z
           |ORDER BY bucket""".stripMargin))


  /** A2d — per-group approx distinct via the md5-HLL (round 11): one
    * 64-register sketch per return flag, estimating distinct orders,
    * with the exact count alongside. This is the realistic shape —
    * distinct-per-dimension at sketch cost — and the whole thing
    * (grouped registers, per-group exact-dyadic Z, fixed-point
    * estimate) replays in the oracle. */
  val a2HllGrouped = QuerySpec("a2_hll_grouped",
    (s, d) => {
      val li = T(s, d, "lineitem")
      val est = Sketch.hllEstimateBy(
        Sketch.hllRegistersBy(li, "l_orderkey", Seq("l_returnflag")),
        Seq("l_returnflag"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      est.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("est_fp"), col("exact_orders"))
        .orderBy(col("l_returnflag"))
    },
    Some("""-- nonneg-div(1): md5-derived unsigned hashes and counts
           |WITH v AS (
           |  SELECT l_returnflag AS g,
           |    md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
           |p AS (
           |  SELECT g, CAST(('0x' || substr(h, 1, 2))::BIGINT // 4 AS INT)
           |      AS bucket,
           |    ltrim(substr(h, 3, 13), '0') AS nz,
           |    len(ltrim(substr(h, 3, 13), '0')) AS nzl
           |  FROM v),
           |r AS (
           |  SELECT g, bucket, CAST(1 + CASE WHEN nz = '' THEN 52
           |    ELSE 4 * (13 - nzl) +
           |      CASE WHEN substr(nz, 1, 1) IN
           |          ('8','9','a','b','c','d','e','f') THEN 0
           |        WHEN substr(nz, 1, 1) IN ('4','5','6','7') THEN 1
           |        WHEN substr(nz, 1, 1) IN ('2','3') THEN 2
           |        ELSE 3 END
           |    END AS INT) AS rho
           |  FROM p),
           |regs AS (
           |  SELECT s.g, s.bucket, CAST(coalesce(max(r.rho), 0) AS INT) AS reg
           |  FROM (SELECT DISTINCT g, b.bucket
           |        FROM v, (SELECT CAST(unnest(range(0, 64)) AS INT)
           |          AS bucket) b) s
           |  LEFT JOIN r ON r.g = s.g AND r.bucket = s.bucket
           |  GROUP BY s.g, s.bucket),
           |est AS (
           |  SELECT g, CAST(floor(0.7213::DOUBLE / (1.0::DOUBLE
           |    + 1.079::DOUBLE / 64) * 4096 / sum(pow(2.0, -reg)) * 1e4
           |    + 0.5) AS BIGINT) AS est_fp
           |  FROM regs GROUP BY g),
           |exact AS (
           |  SELECT l_returnflag AS g,
           |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT e.g AS l_returnflag, e.est_fp, x.exact_orders
           |FROM est e JOIN exact x USING (g)
           |ORDER BY l_returnflag""".stripMargin))


  val a3Rollup = QuerySpec("a3_rollup",
    (s, d) => T(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
           |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
           |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin))


  val a3Cube = QuerySpec("a3_cube",
    (s, d) => Tables.events(s, d)
      .withColumn("user_bucket", (col("user_id") % 4).cast("int"))
      .cube(col("event_type"), col("user_bucket"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("user_bucket").asc_nulls_first),
    Some("""WITH e AS (SELECT *, CAST(user_id % 4 AS INT) AS user_bucket
           |  FROM events)
           |SELECT event_type, user_bucket,
           |  CAST(GROUPING(event_type, user_bucket) AS BIGINT) AS gid,
           |  count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM e GROUP BY CUBE(event_type, user_bucket)
           |ORDER BY gid, event_type NULLS FIRST, user_bucket NULLS FIRST""".stripMargin))


  /** open/close via row_number with an event_id tie-break, not
    * min_by/max_by(value, ts): equal timestamps would make the winner
    * merge-order-dependent (and engine-divergent vs the oracle). */
  val a4Ohlc = QuerySpec("a4_ohlc_bars",
    (s, d) => {
      val base = Tables.events(s, d).withColumn("hour_str",
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"))
      val wAsc = Window.partitionBy(col("event_type"), col("hour_str"))
        .orderBy(col("ts"), col("event_id"))
      val wDesc = Window.partitionBy(col("event_type"), col("hour_str"))
        .orderBy(col("ts").desc, col("event_id").desc)
      base
        .withColumn("rna", row_number().over(wAsc))
        .withColumn("rnd", row_number().over(wDesc))
        .groupBy(col("event_type"), col("hour_str"))
        .agg(
          round(max(when(col("rna") === 1, col("value"))), 4).as("open"),
          round(max(col("value")), 4).as("high"),
          round(min(col("value")), 4).as("low"),
          round(max(when(col("rnd") === 1, col("value"))), 4).as("close"),
          round(sum(col("value")), 4).as("volume"),
          count(lit(1)).as("n_ticks"))
        .orderBy(col("event_type"), col("hour_str"))
    },
    Some("""WITH b AS (
           |  SELECT event_type,
           |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
           |    value,
           |    row_number() OVER (PARTITION BY event_type,
           |      date_trunc('hour', ts) ORDER BY ts, event_id) AS rna,
           |    row_number() OVER (PARTITION BY event_type,
           |      date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rnd
           |  FROM events)
           |SELECT event_type, hour_str,
           |  round(max(CASE WHEN rna = 1 THEN value END), 4) AS open,
           |  round(max(value), 4) AS high,
           |  round(min(value), 4) AS low,
           |  round(max(CASE WHEN rnd = 1 THEN value END), 4) AS close,
           |  round(sum(value), 4) AS volume,
           |  count(*) AS n_ticks
           |FROM b GROUP BY event_type, hour_str
           |ORDER BY event_type, hour_str""".stripMargin),
    bench = true)


  // ===========================================================================
  // Windows (W1-W3), sorts/limits (Q1), set ops (Q2-Q3), state machine
  // ===========================================================================

  val w1Rank = QuerySpec("w1_ranking",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          row_number().over(w).as("rn"), rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 3)
        .orderBy(col("user_id"), col("rn"))
    },
    Some("""WITH r AS (
           |  SELECT user_id, event_id, value,
           |    row_number() OVER w AS rn, rank() OVER w AS rk,
           |    dense_rank() OVER w AS drk
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id))
           |SELECT user_id, event_id, value,
           |  CAST(rn AS INT) AS rn, CAST(rk AS INT) AS rk, CAST(drk AS INT) AS drk
           |FROM r WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin))


  val w2LagLead = QuerySpec("w2_lag_lead",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .withColumn("chg", round(col("value") - col("prev_value"), 6))
        .filter(col("event_id") < 10000)
        .orderBy(col("event_id"))
    },
    Some("""WITH r AS (
           |  SELECT event_id, user_id, value,
           |    lag(value, 1) OVER w AS prev_value,
           |    lead(value, 1) OVER w AS next_value
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT event_id, user_id, value, prev_value, next_value,
           |  round(value - prev_value, 6) AS chg
           |FROM r WHERE event_id < 10000 ORDER BY event_id""".stripMargin))


  val w3Frames = QuerySpec("w3_frames",
    (s, d) => {
      val base = Tables.events(s, d)
        .withColumn("k_val",
          from_json(col("props"), "k INT", Map.empty[String, String]).getField("k"))
        .withColumn("ts_us", expr("unix_micros(ts)"))
      val wRows = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
      val wRange = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us")).rangeBetween(-300000000L, 0)
      base.select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(wRows), 6).as("mov_avg"),
          (floor((sum(col("value") * col("k_val")).over(wRows) /
            nullif(sum(col("k_val")).over(wRows), lit(0))) * 1e6 + 0.5) / 1e6)
            .as("vwap"),
          count(lit(1)).over(wRange).as("n_5min"))
        .filter(col("event_id") < 10000)
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id, ts, value,
           |    CAST(props->>'k' AS INT) AS k_val, epoch_us(ts) AS ts_us
           |  FROM events),
           |r AS (
           |  SELECT event_id, user_id,
           |    round(avg(value) OVER w1, 6) AS mov_avg,
           |    floor((sum(value * k_val) OVER w1 / nullif(sum(k_val) OVER w1, 0)) * 1e6 + 0.5) / 1e6 AS vwap,
           |    count(*) OVER w2 AS n_5min
           |  FROM e
           |  WINDOW
           |    w1 AS (PARTITION BY user_id ORDER BY ts, event_id
           |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
           |    w2 AS (PARTITION BY user_id ORDER BY ts_us
           |           RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW))
           |SELECT event_id, user_id, mov_avg, vwap, n_5min
           |FROM r WHERE event_id < 10000 ORDER BY event_id""".stripMargin),
    bench = true)


  /** W4 — value-picking window functions (round 13): first/last with
    * IGNORE NULLS (the "latest known value" idiom — here: last click
    * value within the trailing 4-row frame) and nth_value. No
    * arithmetic touches the doubles — every output SELECTS a stored
    * value, so cross-engine parity is exact; (us, event_id) ordering
    * makes frames deterministic. Completes the window-function surface
    * next to ranking (w1), lag/lead (w2), frames (w3) and
    * distribution (w1b). */
  val w4ValueWindows = QuerySpec("w4_value_windows",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("user_id") < 20)
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("v",
          when(col("event_type") === "click", col("value")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wTrail = w.rowsBetween(-3, org.apache.spark.sql.expressions
        .Window.currentRow)
      e.select(col("user_id"), col("event_id"),
          first(col("v"), ignoreNulls = true).over(w).as("first_click"),
          last(col("v"), ignoreNulls = true).over(wTrail).as("last_click_4"),
          nth_value(col("value"), 2).over(w).as("second_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH e AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
           |    CASE WHEN event_type = 'click' THEN value END AS v
           |  FROM events WHERE user_id < 20)
           |SELECT user_id, event_id,
           |  first_value(v IGNORE NULLS) OVER w AS first_click,
           |  last_value(v IGNORE NULLS) OVER wt AS last_click_4,
           |  nth_value(value, 2) OVER w AS second_value
           |FROM e
           |WINDOW
           |  w AS (PARTITION BY user_id ORDER BY us, event_id),
           |  wt AS (PARTITION BY user_id ORDER BY us, event_id
           |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           |ORDER BY user_id, event_id""".stripMargin))


  val w1bDistribution = QuerySpec("w1b_distribution",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("event_id"))
    },
    Some("""WITH r AS (
           |  SELECT user_id, event_id,
           |    ntile(4) OVER w AS quartile,
           |    round(percent_rank() OVER w, 6) AS pct_rank,
           |    round(cume_dist() OVER w, 6) AS cdist
           |  FROM events WHERE user_id < 20
           |  WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id))
           |SELECT user_id, event_id, CAST(quartile AS INT) AS quartile,
           |  pct_rank, cdist
           |FROM r ORDER BY event_id""".stripMargin))


  val fMathDate = QuerySpec("f_math_date",
    (s, d) => Tables.events(s, d).filter(col("event_id") < 5000)
      .select(col("event_id"),
        round(sqrt(col("value")), 6).as("sqrt_v"),
        round(pow(col("value"), 2), 4).as("pow_v"),
        round(log(col("value") + 1), 6).as("ln_v"),
        abs(col("value") * -1).as("abs_v"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("dom"), hour(col("ts")).as("h"),
        dayofweek(col("ts")).as("dow"),
        greatest(col("value"), lit(50.0)).as("gr"),
        least(col("value"), lit(50.0)).as("le"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id,
           |  round(sqrt(value), 6) AS sqrt_v,
           |  round(pow(value, 2), 4) AS pow_v,
           |  round(ln(value + 1), 6) AS ln_v,
           |  abs(value * -1) AS abs_v,
           |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
           |  CAST(day(ts) AS INT) AS dom, CAST(hour(ts) AS INT) AS h,
           |  CAST(date_part('dow', ts) + 1 AS INT) AS dow,
           |  greatest(value, 50.0) AS gr,
           |  least(value, 50.0) AS le
           |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin))


  val a5Percentiles = QuerySpec("a5_percentiles",
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
           |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
           |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90,
           |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))


  val q1TopK = QuerySpec("q1_topk",
    (s, d) => T(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
    bench = true)


  /** Q1b — grouped top-k via the typed `TopKAggregator`
    * (functions/TopKAggregator.scala): top-10 events by value per
    * event_type WITHOUT the window-sort shuffle. The window formulation
    * exchanges every row; the Aggregator's partial phase emits at most
    * k rows per (group, map task), so the exchange is bounded by
    * k × groups × partitions at any corpus size. Oracle = the window
    * formulation — same rows, radically different physical plan.
    * Values are passthrough doubles (no float arithmetic), ids unique,
    * ties broken (score DESC, id ASC) on both sides: hashes match. */
  val q1bGroupedTopK = QuerySpec("q1b_grouped_topk",
    (s, d) => {
      import s.implicits._
      val agg = new graft.functions.TopKAggregator(10)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("value"))
        .as[(String, Long, Double)]
        .map { case (g, id, v) => (g, graft.functions.Ranked(id, v)) }
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(agg.toColumn.name("topk"))
        .select(col("key").as("event_type"), posexplode(col("topk.items")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value"))
        .orderBy(col("event_type"), col("rank"))
    },
    Some("""WITH ranked AS (
           |  SELECT event_type, event_id, value,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY value DESC, event_id) AS rnk
           |  FROM events)
           |SELECT event_type, CAST(rnk AS INT) AS rank, event_id, value
           |FROM ranked WHERE rnk <= 10
           |ORDER BY event_type, rank""".stripMargin),
    bench = true)


  val q2Union = QuerySpec("q2_union_exchanges",
    (s, d) => {
      val btsp = Tables.events(s, d).filter(col("event_type") === "click")
        .select(lit("btsp").as("exchange"), col("value"))
      val btfx = Tables.events(s, d).filter(col("event_type") === "view")
        .select(lit("btfx").as("exchange"), col("value"))
      btsp.unionByName(btfx)
        .groupBy(col("exchange"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("exchange"))
    },
    Some("""SELECT exchange, count(*) AS n, round(sum(value), 4) AS sum_value
           |FROM (
           |  SELECT 'btsp' AS exchange, value FROM events WHERE event_type = 'click'
           |  UNION ALL
           |  SELECT 'btfx' AS exchange, value FROM events WHERE event_type = 'view') u
           |GROUP BY exchange ORDER BY exchange""".stripMargin))


  val q3Intersect = QuerySpec("q3_intersect",
    (s, d) => Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id"))
      .intersect(Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id")))
      .orderBy(col("user_id")),
    Some("""SELECT user_id FROM events WHERE event_type = 'click'
           |INTERSECT
           |SELECT user_id FROM events WHERE event_type = 'purchase'
           |ORDER BY user_id""".stripMargin))


  val q3Except = QuerySpec("q3_except",
    (s, d) => T(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .except(T(s, d, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           |EXCEPT
           |SELECT o_custkey FROM orders WHERE o_totalprice > 400000
           |ORDER BY c_custkey""".stripMargin))


  /** ST4's batch twin: session windows over event time. Spark uses the
    * native session_window; the oracle derives identical sessions via the
    * classic gaps-and-islands construction (new session when the gap from
    * the previous event exceeds 30 minutes). */
  val st4Sessions = QuerySpec("st4_sessionization",
    (s, d) => Tables.events(s, d).filter(col("user_id") < 30)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        expr("unix_micros(session_window.start)").as("start_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_us")),
    Some("""WITH e AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
           |      (PARTITION BY user_id ORDER BY ts) >= 1800000000
           |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |    THEN 1 ELSE 0 END AS new_session
           |  FROM events WHERE user_id < 30),
           |sess AS (
           |  SELECT user_id, ts, value,
           |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS UNBOUNDED PRECEDING) AS session_id
           |  FROM e)
           |SELECT user_id, min(epoch_us(ts)) AS start_us,
           |  count(*) AS n_events, round(sum(value), 4) AS sum_value
           |FROM sess GROUP BY user_id, session_id
           |ORDER BY user_id, start_us""".stripMargin))


  /** Q4 — pivot: event counts per user bucket, one column per event type
    * (explicit value list keeps the schema deterministic). The oracle uses
    * conditional aggregation — the portable relational equivalent. */
  val q4Pivot = QuerySpec("q4_pivot",
    (s, d) => Tables.events(s, d)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      // pivot yields NULL for empty (bucket, type) cells; the oracle's
      // count(*) FILTER yields 0 — normalize so parity doesn't depend on
      // every combination being populated
      .select(col("user_bucket") +:
        Seq("click", "view", "purchase", "signup", "error").map(c =>
          coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy(col("user_bucket")),
    Some("""SELECT CAST(user_id % 10 AS INT) AS user_bucket,
           |  count(*) FILTER (WHERE event_type = 'click') AS click,
           |  count(*) FILTER (WHERE event_type = 'view') AS view,
           |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
           |  count(*) FILTER (WHERE event_type = 'error') AS error
           |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin))


  /** Generator surface (§2.10): explode flattens token arrays — one row
    * per distinct token (distinct so (doc_id, tok) is a unique sort key). */
  val fExplode = QuerySpec("f_explode",
    (s, d) => T(s, d, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .orderBy(col("doc_id"), col("tok")),
    Some("""SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           |FROM documents WHERE doc_id < 20 ORDER BY doc_id, tok""".stripMargin))


  /** F9 — uuid() is nondeterministic by design: rows-only check. */
  val f9Uuid = QuerySpec("f9_uuid",
    (s, d) => T(s, d, "nation")
      .withColumn("instance_id", expr("uuid()"))
      .select(col("n_nationkey"), col("n_name"), col("instance_id"))
      .orderBy(col("n_nationkey")),
    None)


  /** J9 — null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match NULL keys instead of vanishing — the semantics a dimension
    * with an explicit "unknown" row needs. Still a hash-partitionable
    * equi-join (nulls all hash to one partition — at scale a null-heavy
    * fact side is a skew key like any other, handled by the X6 salting
    * tools). NULLS FIRST pinned on both sides (engine defaults differ). */
  val j9NullSafe = QuerySpec("j9_nullsafe_join",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("event_id") < 5000)
        .select(col("event_id"), expr("nullif(user_id % 10, 7)").as("ek"))
      val dim = s.range(10)
        .select(expr("nullif(id, 7)").as("dk"), (col("id") * 100).as("w"))
      e.join(dim, col("ek") <=> col("dk"))
        .groupBy(col("ek"))
        .agg(count(lit(1)).as("n"), min(col("w")).as("w"))
        .orderBy(col("ek").asc_nulls_first)
    },
    Some("""WITH e AS (
           |  SELECT event_id, nullif(user_id % 10, 7) AS ek
           |  FROM events WHERE event_id < 5000),
           |dim AS (
           |  SELECT nullif(i, 7) AS dk, i * 100 AS w FROM range(10) t(i))
           |SELECT ek, count(*) AS n, CAST(min(w) AS BIGINT) AS w
           |FROM e JOIN dim ON ek IS NOT DISTINCT FROM dk
           |GROUP BY ek ORDER BY ek NULLS FIRST""".stripMargin))


  /** F13 — nested data: build an array of structs per row, explode it,
    * access struct fields — the JSONL-shaped processing every training
    * corpus with per-document annotations needs. Order is pinned by
    * (event_id, leg name), not array position, so no ordinality parity
    * is required across engines. */
  val f13Nested = QuerySpec("f13_nested_structs",
    (s, d) => Tables.events(s, d).filter(col("event_id") < 2000)
      .select(col("event_id"),
        explode(array(
          struct(lit("bid").as("name"), col("value").as("px")),
          struct(lit("ask").as("name"), (col("value") * 1.01).as("px"))))
          .as("leg"))
      .select(col("event_id"), col("leg.name").as("name"),
        col("leg.px").as("px"))
      .orderBy(col("event_id"), col("name")),
    Some("""WITH x AS (
           |  SELECT event_id,
           |    unnest([{'name': 'bid', 'px': value},
           |            {'name': 'ask', 'px': value * 1.01}]) AS leg
           |  FROM events WHERE event_id < 2000)
           |SELECT event_id, leg.name AS name, leg.px AS px
           |FROM x ORDER BY event_id, name""".stripMargin))


  /** Q4b — unpivot / melt (round 9): the inverse of Q4's pivot — wide
    * per-type count columns back to (bucket, event_type, n) rows via the
    * native UNPIVOT clause (Spark parses it to Expand: one pass, no
    * shuffle beyond the pivot's own aggregation). The oracle melts with
    * UNION ALL — the portable relational spelling. Composing pivot →
    * unpivot also round-trips Q4's output, which is what pins the two as
    * inverses. */
  val q4bUnpivot = QuerySpec("q4b_unpivot",
    (s, d) => {
      Tables.events(s, d)
        .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
        .groupBy(col("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase"))
        .createOrReplaceTempView("q4b_wide")
      s.sql("""SELECT user_bucket, event_type, n
              |FROM q4b_wide
              |UNPIVOT (n FOR event_type IN (click, view, purchase))
              |ORDER BY user_bucket, event_type""".stripMargin)
    },
    Some("""WITH w AS (
           |  SELECT CAST(user_id % 10 AS INT) AS user_bucket,
           |    count(*) FILTER (WHERE event_type = 'click') AS click,
           |    count(*) FILTER (WHERE event_type = 'view') AS view,
           |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase
           |  FROM events GROUP BY 1)
           |SELECT user_bucket, event_type, CAST(n AS BIGINT) AS n FROM (
           |  SELECT user_bucket, 'click' AS event_type, click AS n FROM w
           |  UNION ALL
           |  SELECT user_bucket, 'view', view FROM w
           |  UNION ALL
           |  SELECT user_bucket, 'purchase', purchase FROM w)
           |ORDER BY user_bucket, event_type""".stripMargin))


  /** F14 — higher-order array functions (round 9): transform / filter /
    * aggregate / zip_with over the real embedding arrays. Element math is
    * integer-ized FIRST (floor-milli longs), so every fold is exact and
    * order-free — the float elements only cross an order-sensitive
    * operation after quantization. zip_with(q, q, *) folded equals the
    * oracle's transform-square sum, judging the zip lane without needing
    * a DuckDB zip lambda. */
  val f14HigherOrder = QuerySpec("f14_higher_order",
    (s, d) => {
      val e = transform(col("embedding"), x => x.cast("double"))
      val q = transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + lit(0.5)).cast("long"))
      T(s, d, "embeddings").select(
        col("vec_id"),
        size(filter(e, x => x > 0)).as("n_pos"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("sum_milli"),
        aggregate(zip_with(q, q, (a, b) => a * b), lit(0L),
          (acc, x) => acc + x).as("dot_milli"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH v AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS e,
           |    list_transform(embedding::DOUBLE[],
           |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
           |  FROM embeddings)
           |SELECT vec_id,
           |  CAST(len(list_filter(e, x -> x > 0)) AS INT) AS n_pos,
           |  CAST(list_sum(q) AS BIGINT) AS sum_milli,
           |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
           |    AS dot_milli
           |FROM v ORDER BY vec_id""".stripMargin))


  /** J6c — interval×interval overlap join (ops/Scale.intervalOverlapJoin):
    * view-sessions overlapping click-sessions per user — the two-sided
    * range join j6b's point-in-interval binning cannot express. Binned
    * equi-join on (user, 6h-bin) with the exact predicate as a residual
    * and canonical-bin dedup (each pair emitted only in the bin of
    * max(starts)); the oracle is the NAIVE theta join — same rows proves
    * the binning strategy, the j6b discipline. */
  val j6cIntervalOverlap = QuerySpec("j6c_interval_overlap",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("s0"),
          expr("unix_micros(ts) + CAST(floor(value * 100 + 0.5) AS BIGINT)" +
            " * 1000000").as("e0"))
      val a = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("a_id"),
          col("s0").as("a_s"), col("e0").as("a_e"))
      val b = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("b_id"),
          col("s0").as("b_s"), col("e0").as("b_e"))
      Scale.intervalOverlapJoin(a, "a_s", "a_e", b, "b_s", "b_e",
          Seq("user_id"), 21600000000L)
        .select(col("user_id"), col("a_id"), col("b_id"),
          (least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("overlap_us"))
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |    epoch_us(ts) AS s0,
           |    epoch_us(ts) + CAST(floor(value * 100 + 0.5) AS BIGINT)
           |      * 1000000 AS e0
           |  FROM events),
           |a AS (SELECT user_id, event_id AS a_id, s0 AS a_s, e0 AS a_e
           |  FROM e WHERE event_type = 'view'),
           |b AS (SELECT user_id, event_id AS b_id, s0 AS b_s, e0 AS b_e
           |  FROM e WHERE event_type = 'click')
           |SELECT a.user_id, a.a_id, b.b_id,
           |  least(a.a_e, b.b_e) - greatest(a.a_s, b.b_s) AS overlap_us
           |FROM a JOIN b ON a.user_id = b.user_id
           |  AND a.a_s <= b.b_e AND b.b_s <= a.a_e
           |ORDER BY a_id, b_id""".stripMargin),
    bench = true)


  /** J7e — NEAREST-direction as-of join (pandas merge_asof
    * direction='nearest'): each purchase picks the click closest in
    * time in EITHER direction, ties to the earlier (backward) side —
    * completing the as-of family (j7 backward, j7d forward). Two value
    * windows over ONE key sort (last-preceding + first-following are
    * frames into the same sorted partition), then pure row-local
    * arithmetic picks the winner. */
  val j7eAsofNearest = QuerySpec("j7e_asof_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("click_us",
          when(col("event_type") === "click", col("us")))
      val wb = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wf = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      ev.withColumn("back_us", last(col("click_us"), ignoreNulls = true).over(wb))
        .withColumn("fwd_us", first(col("click_us"), ignoreNulls = true).over(wf))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us").as("ts_us"),
          expr("CASE WHEN back_us IS NULL THEN fwd_us " +
            "WHEN fwd_us IS NULL THEN back_us " +
            "WHEN us - back_us <= fwd_us - us THEN back_us " +
            "ELSE fwd_us END").as("nearest_click_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH ev AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type,
           |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END
           |      AS click_us
           |  FROM events WHERE event_type IN ('click', 'purchase')),
           |w AS (
           |  SELECT event_id, user_id, us AS ts_us, event_type,
           |    last_value(click_us IGNORE NULLS) OVER (
           |      PARTITION BY user_id ORDER BY us, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |      AS back_us,
           |    first_value(click_us IGNORE NULLS) OVER (
           |      PARTITION BY user_id ORDER BY us, event_id
           |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           |      AS fwd_us
           |  FROM ev)
           |SELECT event_id, user_id, ts_us,
           |  CASE WHEN back_us IS NULL THEN fwd_us
           |    WHEN fwd_us IS NULL THEN back_us
           |    WHEN ts_us - back_us <= fwd_us - ts_us THEN back_us
           |    ELSE fwd_us END AS nearest_click_us
           |FROM w WHERE event_type = 'purchase'
           |ORDER BY event_id""".stripMargin))
}
