package graft

/** Debug runner: print bpeLearn's merge table for an SF dir
  * (`Test/runMain graft.BpeLearnOnce [sfDir] [numMerges]`) — the source
  * of the frozen TextOps.defaultMerges artifact. */
object BpeLearnOnce {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val n = if (args.length > 1) args(1).toInt else 32
    val spark = SparkEntry.sessionBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val merges = ops.TextOps.bpeLearn(
      ops.Tables.table(spark, dir, "documents"), "text", n)
    println("MERGES_BEGIN")
    merges.foreach { case (x, y) => println(s"""    ("$x", "$y"),""") }
    println("MERGES_END")
    spark.stop()
  }
}
