package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Dev harness: synthesize a CONTIGUOUS-id documents table for the
  * multimodal clip-scale sweep. NOT part of the library surface — a
  * measurement tool, like [[GenScale]].
  *
  * The multimodal fixture family (q51/q52/q142/q148/q196/q200/q202/
  * q203/q205) derives every payload from `documents` rows with
  * doc_id below GRAFT_CLIP_CAP, and its closed-form oracles are
  * arithmetic in doc_id — so scaling the family needs a documents
  * table whose ids are DENSE under the cap (GenScale's sf1 output
  * shifts replica ids by 1e9, leaving only the 5 000 base ids under
  * any reasonable cap). This generator writes n docs with ids
  * 0..n-1, texts cycled from a source corpus (text only matters as
  * corrupt-payload bytes and q51 metadata — the oracle reads the
  * same table, so any deterministic text works).
  *
  * Usage: GenClips [srcSfDir] [outDir] [n]; then symlink the other
  * nine tables into outDir and run the Verify subset with
  * GRAFT_CLIP_CAP=n (SCALE.md records the runs). */
object GenClips {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/root/repo/tmp/clips20k"
    val n = if (args.length > 2) args(2).toInt else 20000
    val spark = GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id").as("bid"), col("text"), col("lang"), col("source"))
    val nBase = base.count()
    spark.range(n)
      .select(col("id").as("doc_id"), (col("id") % nBase).as("bid"))
      .join(broadcast(base), "bid")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"wrote $out/documents.parquet: $n docs (texts cycled from $nBase)")
    spark.stop()
  }
}
