package graft

/** Generator for MetricsGateSpec's ceiling table: runs the coreBench
  * lanes at sf0.01 (fixtures warmed first, metrics from the second
  * pass) and prints the Scala source of the (shuffleBytes, rowsRead)
  * baseline map. Re-run after a DELIBERATE plan change and paste the
  * new table — the diff is the review artifact. */
object MetricsGateGen {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = SparkSpec.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new RunRecorder(spark.sparkContext)
    println("    // generated by MetricsGateGen at sf0.01 — shuffle bytes, rows read")
    MetricsGate.lanes.foreach { name =>
      val (sb, rr) = MetricsGate.measure(rec, spark, name, dir)
      println(s"""    "$name" -> (${sb}L, ${rr}L),""")
    }
    spark.stop()
  }
}
