package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.dedup.Dedup

/** The map-only minhash expression vs the aggregate formulation it
  * replaces: the two must be bit-identical on the real corpus (same
  * signature values, same dropped-row set), or every downstream LSH
  * band/pair/cluster result silently forks. */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private def aggForm(df: org.apache.spark.sql.DataFrame, k: Int, n: Int) =
    DedupReference.minHash(Dedup.shingleSet(df, "doc_id", "text", k), "doc_id", n)

  test("bit-identical to the aggregate form on the sf0.001 corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    for ((k, n) <- Seq((3, 16), (2, 8))) {
      val want = aggForm(docs, k, n)
      val got = Dedup.minHashText(docs, "doc_id", "text", k, n)
      assert(got.columns.toSeq == want.columns.toSeq, s"k=$k n=$n schema")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"k=$k n=$n signatures diverge")
    }
  }

  test("drops exactly the short / null / whitespace-edge docs the agg form drops") {
    // 2 tokens (< k=3): dropped; null text: dropped; leading/trailing
    // whitespace produces empty tokens in BOTH forms (split semantics);
    // a doc whose only tokens are empties still shingles identically.
    val docs = Seq(
      (1L, "just two"),
      (2L, null.asInstanceOf[String]),
      (3L, "  leading whitespace here"),
      (4L, "trailing whitespace here  "),
      (5L, "a b c d"),
      (6L, ""),
      (7L, "one two three")
    ).toDF("doc_id", "text")
    val want = aggForm(docs, 3, 16)
    val got = Dedup.minHashText(docs, "doc_id", "text", 3, 16)
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ==
      want.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("k=1 equals minHash over the distinct word set (min is duplicate-blind)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val want = DedupReference.minHash(DedupReference.wordSet(docs, "doc_id", "text"), "doc_id", 16)
    val got = Dedup.minHashText(docs, "doc_id", "text", k = 1, n = 16)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("repeated shingles are duplicate-blind, matching the agg min") {
    val docs = Seq((1L, "a b a b a b a b"), (2L, "x x x x x")).toDF("doc_id", "text")
    val want = aggForm(docs, 3, 16)
    val got = Dedup.minHashText(docs, "doc_id", "text", 3, 16)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stays inside WholeStageCodegen over a parquet scan") {
    val scan = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        graft.functions.MinHashSig.signature(col("text"), 3, 16).as("sig"))
      .filter(col("sig").isNotNull)
    scan.collect()
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("), plan)
  }

  test("map-only form has ZERO exchanges in the executed plan") {
    val plan = Dedup.minHashText(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
