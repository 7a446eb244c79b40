package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-19 scale measurement for INCREMENTAL PageRank maintenance
  * (x7_incr_pagerank's operator at real row counts): 1M-node graph,
  * full 3-round recompute vs dirty-frontier maintenance after (a) a
  * chain-local edge change — the frontier stays a few hundred nodes —
  * and (b) a hub-adjacent change — the hub's out-neighborhood
  * invalidates half the graph, the HONEST broad case. Equality against
  * the full recompute is asserted on every variant, so the probe is
  * also a 1M-row correctness point.
  * `Test/runMain graft.IncrStressProbe [m]`. */
object IncrStressProbe {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = SparkEntry.sessionBuilder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new RunRecorder(spark.sparkContext)
    // the StressBench graph stages' skew shape: hub spokes + long chain
    // + cliques
    def graph(): DataFrame = {
      val spokes = spark.range(1, m / 2)
        .selectExpr("cast(0 as long) as src", "id as dst")
      val chain = spark.range(1, m / 2 - 1)
        .selectExpr("id as src", "id + 1 as dst")
      val cliques = spark.range(m / 2, m)
        .filter(s"id % 10 <> 9 AND id < ${m - 1}")
        .selectExpr("id as src",
          s"explode(sequence(id + 1, least((id div 10) * 10 + 9, ${m - 1}))) as dst")
      spokes.unionAll(chain).unionAll(cliques)
    }
    /** Builds `f` and counts its rows, and prints the wall and shuffle
      * volume of both. */
    def timed[A](tag: String)(f: => A)(rows: A => Long): A = {
      rec.reset()
      val t0 = System.nanoTime()
      val a = f
      val n = rows(a)
      val dt = (System.nanoTime() - t0) / 1e9
      rec.flush()
      println(f"[incr] $tag%-22s $dt%6.2f s" +
        f"  shuffle=${rec.sum(_.shuffleBytes) / 1e6}%8.1f MB  rows=$n")
      a
    }
    def sig(df: DataFrame): Array[org.apache.spark.sql.Row] =
      df.select(md5(concat_ws(":", col("node"), col("score"))).as("h"))
        .agg(count(lit(1)), sum(conv(substring(col("h"), 1, 8), 16, 10)
          .cast("long"))).collect()

    val e1 = graph().localCheckpoint()
    // (a) chain-local change: 100 chain edges far from the hub flip
    val localChanged = e1.filter(
      col("src").between(100000L, 100099L) && col("dst") === col("src") + 1)
      .localCheckpoint()
    val e0local = e1.except(localChanged).localCheckpoint()
    // (b) hub-adjacent change: 50 spokes of node 0 appear in the merge
    val hubChanged = e1.filter(col("src") === 0L &&
      col("dst").between(1L, 50L)).localCheckpoint()
    val e0hub = e1.except(hubChanged).localCheckpoint()

    val full = timed("full_recompute")(
      graft.ops.Graph.pageRank(e1, 3).localCheckpoint())(_.count())
    val fullSig = sig(full).toSeq

    Seq(("chain_local", e0local, localChanged),
        ("hub_adjacent", e0hub, hubChanged)).foreach {
      case (tag, e0, changed) =>
        // the standing state a deployment already has — timed separately
        // (round 20: the retained state now includes the v0 degree
        // frame, so the maintain path patches degrees from the change
        // set instead of re-aggregating the merged edge list)
        val (hist, deg0) = timed(s"${tag}_v0_history")(
          graft.ops.Graph.pageRankStateWithHistory(e0, 3))(
          hd => hd._1.last.count() + hd._2.count())
        val maintained = timed(s"${tag}_maintain")(
          graft.ops.Graph.pageRankIncremental(hist, e1, changed, 3, deg0)
            .localCheckpoint())(_.count())
        require(sig(maintained).toSeq == fullSig,
          s"$tag: maintained result != full recompute")
        println(s"[incr] ${tag}_EQUAL full recompute: true")
    }

    // ---- round 20: the SAME scenarios for incremental LPA (the
    // second fixed-round graph result under dirty-frontier
    // maintenance). Signature over (node, label) this time.
    def sigL(df: DataFrame): Seq[org.apache.spark.sql.Row] =
      df.select(md5(concat_ws(":", col("node"), col("label"))).as("h"))
        .agg(count(lit(1)), sum(conv(substring(col("h"), 1, 8), 16, 10)
          .cast("long"))).collect().toSeq
    val fullLpa = timed("lpa_full_recompute")(
      graft.ops.Graph.labelPropagation(e1, 3).localCheckpoint())(_.count())
    val fullLpaSig = sigL(fullLpa)
    Seq(("lpa_chain_local", e0local, localChanged),
        ("lpa_hub_adjacent", e0hub, hubChanged)).foreach {
      case (tag, e0, changed) =>
        val (hist, votes0) = timed(s"${tag}_v0_history")(
          graft.ops.Graph.labelPropagationStateWithHistory(e0, 3))(
          _._1.last.count())
        val maintained = timed(s"${tag}_maintain")(
          graft.ops.Graph.labelPropagationIncremental(hist, e1, changed, 3,
              votes0)
            .localCheckpoint())(_.count())
        require(sigL(maintained) == fullLpaSig,
          s"$tag: maintained labels != full recompute")
        println(s"[incr] ${tag}_EQUAL full recompute: true")
    }
    spark.stop()
  }
}
