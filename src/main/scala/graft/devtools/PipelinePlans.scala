package graft.devtools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.dedup.Dedup
import graft.core.GraftSession

/** Dev probe: plan evidence for the dedup-family INNER pipelines.
  *
  * The declared q42/q44/q92/q129/q163/q177/q197/q206 queries localize
  * their verified pairs (`Materialize.localize` — corpus-sublinear by
  * design), so `ExplainDump` on the declared query shows only the
  * presentation sort over a LocalTableScan: the exchanges the r17
  * posting/verifier optimizations changed are invisible there. This
  * dumps the inner pipelines' `.explain("formatted")` directly —
  * CURRENT form next to the LEGACY form it replaced (the legacy
  * expressions are kept in the tree as semantic references:
  * [[Dedup.shingleSetDistinct]], and the pre-r17 posting shapes
  * reconstructed inline here, clearly labeled) — so a reviewer can
  * check the claimed exchange-key/width changes without running Spark:
  *
  *  - posting build (q44/q163): the exchange key is one xxhash64 long
  *    (`bgh`), the rows below it are raw fixed-width (no map-side
  *    partial collect_set buffers / ObjectHashAggregate below the
  *    exchange); legacy shows the string-key partial_collect_set form.
  *  - jaccard verifier (q42/q91/q101/q129/q177/q178/q197/q206 + both
  *    streaming jobs): every (id, w)-keyed exchange carries w as an
  *    8-byte long; legacy carries the raw 3-gram string.
  *
  * Usage: PipelinePlans <sfDir> <outDir>  (NOT part of the library)
  */
object PipelinePlans {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PipelinePlans <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"$name.txt"), txt.getBytes("UTF-8"))
      println(s"[pipeline-plans] $name -> $outDir/$name.txt (${txt.length} chars)")
    }

    val docs = graft.core.Tables.documents(spark, sfDir)

    // ---- posting-list build (the q44/q163 corpus-linear exchange)
    // current: 8-byte bgh key, repartition-then-aggregate (raw rows on
    // the wire). Uncached twin of the real pipeline: postingLists
    // .cache()s its result, which folds the plan into an
    // InMemoryRelation in explain output — same tree, harder to read.
    val bgCurrent = graft.QueryCatalogText.docBigrams(docs)
    val keys = Seq(col("bgh"))
    dump("posting_build_current",
      bgCurrent.repartition(keys: _*).groupBy(keys: _*)
        .agg(collect_set(col("doc_id")).as("ids")))
    // legacy (pre-r17 reference, reconstructed): concat_ws string
    // bigram key, no in-row distinct, plain groupBy — map-side
    // partial collect_set buffers cross the exchange
    val bgLegacy = docs
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', slice(toks, i + 1, 2)))"))
          .as("bg"))
    dump("posting_build_legacy",
      bgLegacy.groupBy(col("lang"), col("source"), col("bg"))
        .agg(collect_set(col("doc_id")).as("ids")))

    // ---- jaccard verifier core (pair-anchored membership probes +
    // per-doc sizes). The pairs frame's provenance is irrelevant to
    // the plan shape — a synthetic (id_a, id_b) pair list exercises
    // the same three (id, w)-keyed exchanges the real candidates do.
    val pairs = docs.select(col("doc_id").as("id_a"),
      (col("doc_id") + lit(1)).as("id_b"))
    dump("verifier_core_current",
      Dedup.jaccardCore(pairs,
        Dedup.shingleHashSetDistinct(docs, "doc_id", "text"), "doc_id"))
    dump("verifier_core_legacy",
      Dedup.jaccardCore(pairs,
        Dedup.shingleSetDistinct(docs, "doc_id", "text"), "doc_id"))

    spark.stop()
  }
}
