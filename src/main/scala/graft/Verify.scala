package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.sessionBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // wipe any previous run first: a failed query must leave NO output, or
    // the oracle gate would silently compare stale results and pass
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    // Dev-loop subset: GRAFT_VERIFY_ONLY=a,b,c runs just those queries
    // (tools/check.py --only passes it through). Unset = the full driver
    // contract — every declared query.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        rmrf(new java.io.File(s"$outDir/$name"))
      }
    }
    // a tab or CR in the oracle SQL would otherwise make
    // oracle_sql.json unparseable
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
