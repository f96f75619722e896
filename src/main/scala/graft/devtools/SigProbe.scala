package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.Dedup

/** Dev-only A/B: LSH band+candidate generation from the aggregate
  * minhash formulation vs the map-only expression form, min-of-N
  * cold (cache cleared between reps). Run with SPARK_GRAFT_SF_DIR
  * pointed at the corpus under test. */
object SigProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    def candAgg() = Dedup.candidatePairs(
      Dedup.lshBands(
        Dedup.minHash(Dedup.shingleSet(docs, "doc_id", "text", 3), "doc_id", 16),
        "doc_id", 16, 4), "doc_id")
    def candMap() = Dedup.candidatePairs(
      Dedup.lshBands(
        Dedup.minHashText(docs, "doc_id", "text", 3, 16),
        "doc_id", 16, 4), "doc_id")

    def bench(name: String)(mk: () => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        val n = mk().count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"  $name rep: $s%.2f s ($n pairs)")
        s
      }
      println(f"PROBE $name%-10s min=${times.min}%.2f s")
    }
    // alternate orders so page-cache warmth cancels out
    bench("agg")(candAgg); bench("map")(candMap)
    bench("map")(candMap); bench("agg")(candAgg)
    spark.stop()
  }
}
