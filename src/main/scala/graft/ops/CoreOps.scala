package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch-core projection / filter / derivation operators (SURVEY.md §2.2, §2.7).
  *
  * Each operator is a composable `DataFrame => DataFrame` so the same
  * function runs unchanged on batch and streaming frames. Everything here is
  * built-in-Column-expression only (whole-stage-codegen friendly — no UDFs,
  * no driver-side logic), so Catalyst can push filters/pruning through them.
  */
object CoreOps {

  /** P1 — split-decode `value` "{exchange}#{isin}" into columns
    * (reference main.py:278-280). Malformed values (no '#') yield a null
    * isin, not a crash — row-level error semantics instead of the
    * reference's process-level try/except. */
  def decodeJobValue(df: DataFrame): DataFrame =
    // try_element_at, not element_at: under ANSI mode (Spark 4 default) a
    // malformed value without '#' must yield a null isin, not an error.
    df.withColumns(Map(
      "exchange" -> try_element_at(split(col("value"), "#"), lit(1)),
      "isin" -> try_element_at(split(col("value"), "#"), lit(2))))

  /** P2 — positional frame projection: WSS tick frame array -> named columns
    * (reference main.py:407-415; indices are 0-based there, element_at is
    * 1-based here). `frameCol` is an ArrayType(Double) column. */
  def projectFrame(frameCol: String)(df: DataFrame): DataFrame = {
    val f = col(frameCol)
    df.withColumn("bid", element_at(f, 1))
      .withColumn("ask", element_at(f, 3))
      .withColumn("last_price", element_at(f, 7))
      .withColumn("volume", element_at(f, 8))
      .withColumn("high", element_at(f, 9))
      .withColumn("low", element_at(f, 10))
  }

  /** P3 — derived mid price: mid = (bid + ask) / 2 (reference main.py:414). */
  def withMid(df: DataFrame): DataFrame =
    df.withColumn("mid", (col("bid") + col("ask")) / 2)

  /** P4 — percent scaling: x * 100 (reference main.py:403). */
  def withPctScale(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, col(src) * 100)

  /** P5 — envelope enrichment: add exchange/isin literals to the payload
    * (reference main.py:214-215). */
  def enrich(exchange: Column, isin: Column)(df: DataFrame): DataFrame =
    df.withColumn("exchange", exchange).withColumn("isin", isin)

  /** P6 — job eligibility filter (reference main.py:277,301):
    * id != 0 AND action == 1000 AND type_idtype == 2. A pushdown-friendly
    * conjunctive predicate — at scale this reaches the parquet scan. */
  def eligibleJobs(df: DataFrame): DataFrame =
    df.filter(col("downloader_jq_id") =!= 0 &&
      col("action") === 1000 && col("type_idtype") === 2)

  /** P7 — HTTP-status filter: keep only status == 200 rows (reference
    * bitstamp/client.py:39-42 returns (status, 0) on non-200; here the
    * payload of a non-200 row is null and the row is dropped). */
  def okStatus(df: DataFrame): DataFrame = df.filter(col("status") === 200)

  /** P8 — exchange dispatch: route rows to the REST or WSS branch
    * (reference main.py:282-286 string-compares the exchange). Physically
    * both branches are filters over one scan — no data movement. */
  def withRoute(df: DataFrame): DataFrame =
    df.withColumn("route",
      when(col("exchange") === "btsp", lit("rest"))
        .when(col("exchange") === "btfx", lit("wss"))
        .otherwise(lit("unknown")))

  /** F5 — queue envelope serialization (reference main.py:217 json.dumps).
    * Fields are int/string only: float JSON rendering differs across
    * engines, so prices are carried as integer cents in the envelope. */
  def toEnvelope(cols: Column*): Column = to_json(struct(cols: _*))

  /** F8 — string-decimal normalization: both exchanges serialize numerics
    * as strings (reference bitstamp/client.py:39-42, bitfinex/client.py:33-36).
    * Fixed-format printf round-trip keeps Spark and the oracle bit-identical. */
  def normalizeDecimal(src: String, dst: String)(df: DataFrame): DataFrame =
    df.withColumn(dst, format_string("%.4f", col(src)).cast("double"))
}
