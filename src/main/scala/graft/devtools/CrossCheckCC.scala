package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.{ConnectedComponents, Dedup}

/** Cross-algorithm validation of q101's duplicate clusters at scales
  * where the DuckDB recursive-CTE oracle is infeasible (at sf1 it
  * spills >75 GB of temp and dies — recursive SQL is not a
  * corpus-scale CC): rebuild q101's verified edge list (the LSH →
  * jaccard pipeline, itself hash-verified at sf1 via q42/q44), label
  * it with BOTH independent CC implementations — min-label
  * propagation and alternating large-star/small-star — and require
  * bit-identical (id, component) sets plus the min-label invariants
  * (component = min member id; every edge intra-component).
  *
  * Usage: CrossCheckCC <sfDir>   — prints PASS/FAIL lines, exits 1
  * on any mismatch. Recorded in SCALE.md for the sf1 run. */
object CrossCheckCC {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // q101's exact edge pipeline (QueryCatalogCuration.q101DupClusters)
    val docs = Tables.documents(spark, sfDir)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    val sig = Dedup.minHashText(recrawl, "doc_id", "text", 3, 16)
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id")
    val edges = Dedup.jaccardTextScoped(cand, recrawl, "doc_id", "text", 3) { j =>
      graft.ops.Materialize.localize(
        j.filter(col("jaccard") >= 0.7).select("id_a", "id_b"))
    }

    val viaMin = ConnectedComponents.minLabelLocalized(edges)
    val star = ConnectedComponents.alternatingStar(edges)
    val viaStar = graft.ops.Materialize.localize(star)
    ConnectedComponents.release(star)

    var fail = 0
    def check(name: String, bad: Long): Unit = {
      if (bad == 0) println(s"PASS $name")
      else { println(s"FAIL $name: $bad violations"); fail += 1 }
    }
    check("minLabel == alternatingStar (exceptAll both ways)",
      viaMin.exceptAll(viaStar).count() + viaStar.exceptAll(viaMin).count())
    check("component = min member id",
      viaMin.groupBy("component").agg(min(col("id")).as("mn"))
        .filter(col("mn") =!= col("component")).count())
    check("every verified edge is intra-component",
      edges.join(viaMin.withColumnRenamed("id", "id_a")
          .withColumnRenamed("component", "ca"), "id_a")
        .join(viaMin.withColumnRenamed("id", "id_b")
          .withColumnRenamed("component", "cb"), "id_b")
        .filter(col("ca") =!= col("cb")).count())
    println(s"nodes=${viaMin.count()} components=" +
      viaMin.select("component").distinct().count())
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
