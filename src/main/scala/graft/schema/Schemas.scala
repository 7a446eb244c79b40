package graft.schema

import org.apache.spark.sql.types._

/** Canonical record schemas for the engine.
  *
  * Re-expressed from the reference's implicit dict schemas
  * (see /root/reference/downloader/main.py:277-280,301 for the job record,
  * main.py:407-415 for the WSS tick frame, main.py:214-217 for the queue
  * envelope). The reference is schemaless (duck-typed dicts); here every
  * record kind gets an explicit StructType + case class so Catalyst can
  * prune/push down and Encoders can verify field access at compile time.
  */

/** Downloader job row (reference main.py:108-122, fields read at 277-301). */
final case class Job(
    downloader_jq_id: Long,
    action: Int,
    value: String, // "{exchange}#{isin}"
    type_idtype: Int)

object Job {
  val schema: StructType = StructType(Seq(
    StructField("downloader_jq_id", LongType, nullable = false),
    StructField("action", IntegerType, nullable = false),
    StructField("value", StringType, nullable = true),
    StructField("type_idtype", IntegerType, nullable = false)))
}

/** ISIN <-> currency-pair dimension row (reference currency.py:7-91). */
final case class CurrencyPair(isin: String, base: String, quote: String, pair: String)

object CurrencyPair {
  val schema: StructType = StructType(Seq(
    StructField("isin", StringType, nullable = false),
    StructField("base", StringType, nullable = false),
    StructField("quote", StringType, nullable = false),
    StructField("pair", StringType, nullable = false)))
}

/** Canonical normalized tick (unifies Bitstamp REST / Bitfinex REST / WSS
  * shapes; reference bitstamp/client.py:39-42, bitfinex/client.py:33-36,
  * main.py:407-415). All prices double (exchanges emit string decimals —
  * cast discipline lives in ops.Normalize). */
final case class Tick(
    isin: String,
    exchange: String,
    ts: java.sql.Timestamp,
    bid: Double,
    ask: Double,
    mid: Double,
    last: Double,
    high: Double,
    low: Double,
    volume: Double)

object Tick {
  val schema: StructType = StructType(Seq(
    StructField("isin", StringType, nullable = true),
    StructField("exchange", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("bid", DoubleType, nullable = true),
    StructField("ask", DoubleType, nullable = true),
    StructField("mid", DoubleType, nullable = true),
    StructField("last", DoubleType, nullable = true),
    StructField("high", DoubleType, nullable = true),
    StructField("low", DoubleType, nullable = true),
    StructField("volume", DoubleType, nullable = true)))
}

/** Job state transition row (reference main.py:293-353, codes README.md:4-10).
  * The reference does blocking per-transition RPCs; the engine models the
  * lifecycle as an append-only transition log + window view (ops.StateMachine). */
final case class Transition(job_id: Long, action: Int, ts: java.sql.Timestamp)

object Transition {
  val NEW = 1000
  val CLAIMED = 1001
  val PROCESSING = 1100
  val DOWNLOADED = 1200
  val IMPORTED = 1300
  val ERROR = 1900
  val legal: Map[Int, Set[Int]] = Map(
    NEW -> Set(CLAIMED, ERROR),
    CLAIMED -> Set(PROCESSING, ERROR),
    PROCESSING -> Set(DOWNLOADED, ERROR, NEW),
    DOWNLOADED -> Set(IMPORTED, ERROR, NEW),
    IMPORTED -> Set.empty,
    ERROR -> Set.empty)
  /** A job's transitions apply in timestamp order, by the FULL timestamp:
    * two transitions under a millisecond apart keep their event order. */
  val byTime: Ordering[(Long, Int, java.sql.Timestamp)] =
    Ordering.by(t => (t._3.getTime, t._3.getNanos))
  /** One step of the job state machine, as the streaming operators fold
    * it in [[byTime]] order: from `current` (-1 = no state yet, so any
    * first action is accepted) a legal action moves the job and emits
    * (job, from, to); an illegal one is dropped and the state kept. */
  def step(current: Int, t: (Long, Int, java.sql.Timestamp))
      : (Int, Option[(Long, Int, Int)]) =
    if (current == -1 || legal.getOrElse(current, Set.empty).contains(t._2))
      (t._2, Some((t._1, current, t._2)))
    else (current, None)
  val schema: StructType = StructType(Seq(
    StructField("job_id", LongType, nullable = false),
    StructField("action", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))
}
