package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.Dedup

/** Dev probe: where does q129's time go as the corpus scales?
  * Prints candidate-pair mass and verified-pair mass per SF dir. */
object ProbeQ129 {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { d =>
      val docs = Tables.documents(spark, d)
      val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      val recrawl = docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
        .select((col("doc_id") + (1L << 60)).as("doc_id"),
          concat_ws(" ",
            expr("slice(split(text, '\\\\s+'), 1, 3)"),
            expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text"))
      val batch = fresh.unionByName(recrawl)
      val u = ref.select((col("doc_id") * 2).as("uid"), col("text").as("__t"))
        .unionByName(batch.select((col("doc_id") * 2 + 1).as("uid"), col("text").as("__t")))
      val sh = Dedup.shingleSet(u, "uid", "__t", 3)
      val t0 = System.nanoTime()
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(Dedup.minHashText(u, "uid", "__t", 3, 16), "uid", 16, 4),
        "uid", 64)
        .filter(col("id_a") % 2 =!= col("id_b") % 2)
      val nCand = cand.count()
      val t1 = System.nanoTime()
      val nSh = sh.count()
      val t2 = System.nanoTime()
      println(f"$d%s: cand_pairs=$nCand%d (${(t1 - t0) / 1e9}%.1f s) " +
        f"shingle_rows=$nSh%d (${(t2 - t1) / 1e9}%.1f s)")
    }
    spark.stop()
  }
}
