package graft

import org.apache.spark.sql.functions._
import graft.ops.dedup.Dedup
import graft.core.GraftSession

/** Dev-only stage profiler for the dedup/LSH family: times each stage
  * of the q42/q91 pipeline in isolation so regressions are
  * attributable to a stage, not a query. Not part of the verified
  * surface. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = core.Tables.documents(spark, sfDir)
    time("docs.count")(docs.count())

    val shingles = Dedup.shingleSet(docs, "doc_id", "text", k = 3)
    time("shingles.count")(shingles.count())
    val sh = shingles.cache()
    time("shingles.cache+count")(sh.count())
    val sig = Dedup.minHash(sh, "doc_id", n = 16)
    time("minHash.count")(sig.count())
    time("minHash.count (again)")(sig.count())
    // map-only formulation, cold from the parquet scan (no shingle
    // cache to lean on — that IS the point)
    val sigMap = Dedup.minHashText(docs, "doc_id", "text", k = 3, n = 16)
    time("minHashText.count (cold)")(sigMap.count())
    time("minHashText.count (2nd)")(sigMap.count())
    // aggregate formulation cold (uncached shingles) for the fair A/B
    val sigCold = Dedup.minHash(
      Dedup.shingleSet(docs, "doc_id", "text", k = 3), "doc_id", n = 16)
    time("minHash cold (agg form)")(sigCold.count())
    val bands = Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4)
    time("bands.count")(bands.count())
    val grouped0 = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
    time("bands grouped count-agg")(grouped0.count())
    val grouped = bands.groupBy(col("band"), col("band_key"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, 64))
    time("bands collect_list+filter")(grouped.count())
    val pairsNoDistinct = grouped
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
    time("pair expansion (no dist)")(pairsNoDistinct.count())
    val cand = Dedup.candidatePairs(bands, "doc_id")
    time("cand.count")(cand.count())
    time("cand.count (2nd)")(cand.count())
    val jac = Dedup.jaccard(cand, sh, "doc_id")
    time("jaccard.count")(jac.count())
    time("jaccard.count (2nd)")(jac.count())

    spark.catalog.clearCache(); System.gc()
    time("q42 full (noop write)") {
      SparkEntry.queries("q42_lsh_pairs")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache(); System.gc()
    time("q42 full (2nd)") {
      SparkEntry.queries("q42_lsh_pairs")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache(); System.gc()
    time("q91 funnel (noop write)") {
      SparkEntry.queries("q91_curation_funnel")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache(); System.gc()
    time("q92 hot shingle (noop)") {
      SparkEntry.queries("q92_hot_shingle_cap")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    // q101 split: edge pipeline vs connected components
    spark.catalog.clearCache(); System.gc()
    locally {
      val recrawl = docs.unionByName(
        docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
      val sh2 = Dedup.shingleSet(recrawl, "doc_id", "text", k = 3)
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(Dedup.minHashText(recrawl, "doc_id", "text", 3, 16),
          "doc_id", 16, 4), "doc_id")
      val edges = Dedup.jaccard(cand, sh2, "doc_id")
        .filter(col("jaccard") >= 0.7).select("id_a", "id_b").cache()
      time("q101 edges.count")(println("  edges=" + edges.count()))
      val comp = graft.ops.dedup.ConnectedComponents.minLabel(edges)
      time("q101 minLabel+count")(println("  verts=" + comp.count()))
    }
    spark.stop()
  }
}
