package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.{BandStore, Dedup}

/** Dev harness: streaming-store compaction at DECADE-STORE scale —
  * the round-13 spec proved `compactStreamStore` on an 8-bucket /
  * 6-batch toy; this measures it against a realistic standing store
  * (the sf10 decade corpus' even half, ~250k docs of bands, written
  * as many micro-batches the way a year of streaming would leave
  * them): parquet file count and probe wall-clock BEFORE vs AFTER
  * one compaction, with the probe result digest required IDENTICAL.
  *
  * Usage: CompactScale [sfDir] [nBatches] [probeReps] — defaults
  * /root/repo/tmp/sf10, 48 batches, 3 reps. Run with
  * SPARK_DRIVER_MEM=32g. Results go into SCALE.md; NOT a library
  * component.
  */
object CompactScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/repo/tmp/sf10"
    val nBatches = if (args.length > 1) args(1).toInt else 48
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", "/tmp/graft_compact_scale_wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val table = "compact_scale_store"
    val location = "/tmp/graft_compact_scale_store"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val locPath = new org.apache.hadoop.fs.Path(location)
    val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(locPath, true)

    val docs = Tables.documents(spark, sfDir)
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    BandStore.ensureStreamStore(spark, table, location, "doc_id")
    println(s"[compact-scale] writing ${nBatches} micro-batches of bands ($sfDir even half)")
    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      val bands = Dedup.lshBands(Dedup.minHashText(
        ref.filter(pmod(col("doc_id") / 2, lit(nBatches.toLong)) === b),
        "doc_id", "text"), "doc_id")
      BandStore.writeBatch(spark, table, bands, "doc_id", b.toLong)
    }
    println(f"[compact-scale] store built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val standing = spark.table(table).count()

    def fileCount(): Int = {
      val it = fs.listFiles(locPath, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    // the fixed probe batch (the ScaleDecade/StoreProbeAB pick):
    // 2000 odd docs, materialized so the pick never rides the timing
    val probePath = java.nio.file.Files.createTempDirectory("compact_probe").toString
    docs.filter(col("doc_id") % 2 === 1)
      .orderBy("doc_id").limit(2000).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(probePath)
    val probeBatch = spark.read.parquet(probePath)
    def probeBands = Dedup.lshBands(
      Dedup.minHashText(probeBatch, "doc_id", "text"), "doc_id")
    def digest(): (String, Long) = {
      val row = BandStore.probe(spark, table, probeBands, "doc_id")
        .select(xxhash64(col("sid").cast("string"), col("bid").cast("string"))
          .cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")), count(lit(1))).head()
      (String.valueOf(row.get(0)), row.getLong(1))
    }
    def probeClock(): Double =
      (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t = System.nanoTime()
        BandStore.probe(spark, table, probeBands, "doc_id")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }.min

    val filesPre = fileCount()
    val digPre = digest()
    val clockPre = probeClock()
    println(f"[compact-scale] PRE : standing=$standing files=$filesPre probe_min=$clockPre%.2f s cands=${digPre._2} digest=${digPre._1}")

    val tc = System.nanoTime()
    BandStore.compactStreamStore(spark, table, location, maxBatchId = nBatches - 1L)
    val compactSec = (System.nanoTime() - tc) / 1e9

    val filesPost = fileCount()
    val digPost = digest()
    val clockPost = probeClock()
    println(f"[compact-scale] POST: files=$filesPost probe_min=$clockPost%.2f s cands=${digPost._2} digest=${digPost._1} (compaction $compactSec%.1f s)")
    val ok = digPre == digPost
    println(s"[compact-scale] digest_${if (ok) "MATCH" else "MISMATCH"}; " +
      s"files ${filesPre} -> ${filesPost}, probe ${"%.2f".format(clockPre)} -> ${"%.2f".format(clockPost)} s")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    fs.delete(locPath, true)
    spark.stop()
    if (!ok) { System.err.println("[compact-scale] DIGEST MISMATCH"); sys.exit(1) }
  }
}
