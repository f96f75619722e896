package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.dedup.Dedup

/** The map-only simhash expression vs the aggregate formulation it
  * replaces: the two must be bit-identical on the real corpus (same
  * hi/lo values, same dropped-row set), or near-dup clustering over
  * simhash silently forks. */
class SimHashSigSpec extends SparkSpec {
  import spark.implicits._

  private def aggForm(df: org.apache.spark.sql.DataFrame) =
    DedupReference.simHash(DedupReference.wordSet(df, "doc_id", "text"), "doc_id")

  test("bit-identical to the aggregate form on the sf0.001 corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val want = aggForm(docs)
    val got = Dedup.simHashText(docs, "doc_id", "text")
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "simhash values diverge")
  }

  test("edge docs: null dropped, empty kept, repeats vote once, ties break to 0") {
    // null text: dropped in both forms (explode drops the null split);
    // empty text: ONE empty-string word in both forms; repeated words
    // vote once (the distinct); two docs with the same word multiset
    // collapse to identical signatures.
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "alpha beta gamma"),
      (4L, "alpha alpha alpha beta  gamma"),
      (5L, "gamma beta alpha"),
      (6L, "  padded  ")
    ).toDF("doc_id", "text")
    val want = aggForm(docs)
    val got = Dedup.simHashText(docs, "doc_id", "text")
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq ==
      want.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // word-set semantics: 3/4/5 are the same distinct set -> equal sigs
    val sigs = got.filter(col("doc_id").isin(3L, 4L, 5L))
      .select("simhash_hi", "simhash_lo").distinct().count()
    assert(sigs == 1L)
  }

  test("map-only form has ZERO exchanges in the executed plan") {
    val plan = Dedup.simHashText(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.linesIterator.next().startsWith("*("), plan)
  }
}
