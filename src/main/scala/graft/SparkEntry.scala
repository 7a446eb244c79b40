package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query surface itself lives in [[Queries]]; this object just adapts
  * it to the driver's expected shape. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.1 slice: scan -> filter -> joins (broadcast dim) ->
    * aggregate -> order. */
  def entry(spark: SparkSession): DataFrame =
    Queries.flagship.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (uuid, HLL sketches, LSH buckets, stubbed media decode). */
  def oracleSql: Map[String, String] =
    Queries.all.collect { case q if q.oracle.isDefined => q.name -> q.oracle.get }
      .toMap

  /** Headline subset timed by [[Bench]]. */
  def benchQueries: Seq[String] = Queries.all.filter(_.bench).map(_.name)

  /** The one local session shape: `cpus` cores and as many shuffle
    * partitions, UTC, `events.parquet`'s TIMESTAMP(NANOS) read as long,
    * no UI. [[Bench]] and [[Verify]] use it as is. */
  private[graft] def sessionBuilder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
