package graft.ops

import graft.{RunRecorder, SparkSpec}
import org.apache.spark.sql.functions._
import scala.util.Using

class TextBpeSpec extends SparkSpec {
  import spark.implicits._

  test("X4k bpeLearn follows greedy max-frequency merging with the " +
      "(count DESC, x ASC, y ASC) tie-break — hand-computed table") {
    val tiny = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    // freqs: low:3 lower:2 newest:1
    // r1: (l,o) and (o,w) both 5 -> tie-break x: (l,o)
    // r2: (lo,w) 5
    // r3: (low,e) and (e,r) both 2 -> tie-break x: (e,r)
    // r4: (low,er) 2
    assert(TextOps.bpeLearn(tiny, "text", 4) ==
      Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er")))
  }

  test("X4k bpeLearn stops when no adjacent pairs remain") {
    val tiny = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // single-char words: nothing to merge, regardless of numMerges asked
    assert(TextOps.bpeLearn(tiny, "text", 8).isEmpty)
  }

  test("X4k bpeEncode applies merges greedily and is LOSSLESS " +
      "(drop spaces, map | back to space == lower(text))") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"))
    val docs = Seq((1L, "low lower newest"), (2L, "Lo OW")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, "text", merges)
    // [low] [lower] [n e w e s t] = 1 + 1 + 6 tokens ("lower" closes via
    // the (low, er) merge — components first, then their composition)
    assert(out.filter(col("doc_id") === 1).select("n_bpe").as[Int].head() == 8)
    // "lo" merges, "ow" stays chars (l,o wins the span first in 'low' but
    // in isolation 'ow' has no (o,w) merge in this table)
    assert(out.filter(col("doc_id") === 2).select("n_bpe").as[Int].head() == 3)
    val bad = out.withColumn("rt",
      call_function("replace",
        call_function("replace", col("enc"), lit(" "), lit("")),
        lit("|"), lit(" ")))
      .filter(col("rt") =!= lower(col("text")))
    assert(bad.count() == 0)
  }

  test("X4k literal '|' in the corpus is stripped by BOTH bpeLearn and " +
      "bpeEncode — the boundary sentinel can never collide (r12 ADVICE)") {
    // pre-fix, "a|b" became "a|b" -> sentinel rewrite made the literal
    // pipe indistinguishable from a word boundary, so merges could cross
    // words and the decode contract broke; now '|' is out of the symbol
    // universe on both sides
    val docs = Seq((1L, "a|b c"), (2L, "ab c")).toDF("doc_id", "text")
    // learn sees "a|b" as "ab": the (a, b) pair is trainable
    val learned = TextOps.bpeLearn(docs, "text", 1)
    assert(learned == Seq(("a", "b")))
    val out = TextOps.bpeEncode(docs, "text", learned)
    // both docs encode identically: strip made them the same corpus
    val encs = out.orderBy("doc_id").select("enc").as[String].collect()
    assert(encs(0) == encs(1))
    assert(out.select("n_bpe").as[Int].collect().toSeq == Seq(2, 2))
    // decode restores lower(text) with '|' removed
    val rt = out.withColumn("rt",
      call_function("replace",
        call_function("replace", col("enc"), lit(" "), lit("")),
        lit("|"), lit(" ")))
      .withColumn("want",
        call_function("replace", lower(col("text")), lit("|"), lit("")))
      .filter(col("rt") =!= col("want"))
    assert(rt.count() == 0)
  }

  test("X4k defaultMerges IS bpeLearn(sf0.001 documents, 32) — the frozen " +
      "artifact cannot drift from its derivation") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    assert(TextOps.bpeLearn(docs, "text", 32) == TextOps.defaultMerges)
  }

  test("X4k bpeLearn Spark job count is INDEPENDENT of numMerges (r15: " +
      "one dict aggregation, merge loop driver-side)") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val (j2, j16) = Using.resource(new RunRecorder(spark.sparkContext)) { rec =>
      def jobCount(numMerges: Int): Int = {
        rec.reset()
        TextOps.bpeLearn(docs, "text", numMerges)
        rec.flush()
        rec.jobs.size
      }
      (jobCount(2), jobCount(16))
    }
    assert(j2 == j16,
      s"job count must not grow with numMerges: $j2 (2 merges) vs " +
        s"$j16 (16 merges)")
  }

  test("X4k bpeLearn fails loudly when the word dict exceeds maxVocab " +
      "instead of collecting it") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeLearn(docs, "text", 2, maxVocab = 4)
    }
    assert(e.getMessage.contains("maxVocab"))
  }
}
