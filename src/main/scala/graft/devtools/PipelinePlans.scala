package graft.devtools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Dev probe: plan evidence for the dedup-family INNER pipelines.
  *
  * The declared q42/q44/q92/q129/q163/q177/q197/q206 queries localize
  * their verified pairs (`Materialize.localize` — corpus-sublinear by
  * design), so `ExplainDump` on the declared query shows only the
  * presentation sort over a LocalTableScan: the exchanges the r17
  * posting/verifier optimizations changed are invisible there. This
  * dumps the inner pipeline's `.explain("formatted")` directly —
  * CURRENT form next to the LEGACY form it replaced (the pre-r17
  * posting shape reconstructed inline here, clearly labeled) — so a
  * reviewer can check the claimed exchange-key/width change without
  * running Spark: in the posting build (q44/q163) the exchange key is
  * one xxhash64 long (`bgh`), the rows below it are raw fixed-width
  * (no map-side partial collect_set buffers / ObjectHashAggregate
  * below the exchange); legacy shows the string-key
  * partial_collect_set form. (The text verifier's plan has no
  * shingle-keyed exchange at all; PlanQualitySpec pins that.)
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

    spark.stop()
  }
}
