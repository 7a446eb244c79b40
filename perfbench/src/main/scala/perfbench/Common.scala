package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, lanes: Seq[(String, String)], outDir: String,
    ratePerS: Int)

/** What one workload hands back to [[Main]]. `latNs` holds one latency
  * per completed operation of the measured phase; `tailMs` is the
  * workload's tail statistic over them (see the README for each rule). */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    latNs: Array[Long],
    tailMs: Double,
    firstOpAt: Long,
    measuredNs: Long,
    cpuNs: Long,
    gcMs: Long,
    liveHeapMb: Double,
    heapPeakMb: Double,
    layers: Map[String, Double])

/** Process-level meters read at the edges of the measured phase. */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peaks since the last reset. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after full collections, as the collector left it (so
    * allocation after a collection does not count). Spark frees broadcast
    * and shuffle blocks from a cleaner thread once their driver objects
    * are collected, so the read follows three collections 300 ms apart:
    * what it counts is retained, not merely not yet cleaned. */
  def liveHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }

  /** CPU and GC readings at the start of the measured phase. */
  final case class Window(cpuNs: Long, gcMs: Long)
  def open(): Window = { resetHeapPeak(); Window(cpuNs, gcMs) }
}

/** The benchmark's own copy of the reference's currency.py listing, the
  * expected values of the ISIN enrichment (never read from the program's
  * CurrencyDim). */
object Currency {
  /** ISIN -> pair. */
  val pairOf: Map[String, String] = Map(
    "XFC000000001" -> "btceur", "XFC000000002" -> "btcusd",
    "XFC000000003" -> "ltcusd", "XFC000000005" -> "ethusd",
    "XFC000000017" -> "xrpusd", "XFC000000022" -> "eosusd")
  /** pair -> ISIN. */
  val isinOf: Map[String, String] = pairOf.map(_.swap)
}

object Envelope {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A published envelope's fields: text values as String, numbers as
    * Long (the envelope carries integer cents and milli-units only). */
  def fields(body: String): Map[String, Any] =
    mapper.readTree(body).properties().asScala.map(e => e.getKey ->
      (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.asLong()))
      .toMap[String, Any]
}

object Stats {
  /** Linear-interpolated quantile of unsorted values (q in [0, 1]). */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of no values")
    val s = values.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else quantile(values, 0.5)

  /** The number of operations a closed loop must complete before a tail
    * at quantile q has at least ten samples beyond it. */
  def minOpsForTail(q: Double): Int = math.ceil(10 / (1 - q) - 1e-9).toInt
}

object Session {
  /** The benchmark's Spark session: local mode on `cores` threads, the
    * program's documented settings, scratch space under `work`. */
  def build(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
