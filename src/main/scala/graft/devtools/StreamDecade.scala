package graft.devtools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.core.{GraftSession, Tables}
import graft.pipeline.MetricsLog
import graft.streaming.StreamingJobs

/** Dev harness: the incremental-dedup STREAM end-to-end at decade
  * magnitude. PersistentStoresSpec pins compaction's contract (one
  * file per bucket, probe results and plan property unchanged) on a
  * small store; this drives the REAL streaming product ([[StreamingJobs.nearDupStream]]: exact
  * in-batch dedup → bucketed band-store probe → Jaccard verification
  * → curated/store writes, bucketed table mode, compaction every
  * `compactEvery` batches INSIDE the stream) over the sf10 corpus'
  * even half as `nBatches` file-source micro-batches at a realistic
  * cadence (each batch a separate AvailableNow run against the same
  * checkpoint — the cron-style periodic ingest a production pipeline
  * runs), and records the per-batch cost curve as the standing store
  * grows from zero to ~250k docs of bands.
  *
  * The gated property is the 100 TB posture claim: the STANDING side
  * contributes zero re-shuffle (bucketed store, broadcast probe
  * restriction), so a batch's bytes are a function of the batch and
  * of the genuine cross-store duplicate partners it must verify —
  * never of raw store size. Per-batch bytes DO grow as the corpus
  * accumulates (a fixed-size batch meets more real dup partners in a
  * fuller store — that is semantic work, the q129 lesson), so the
  * gate is work-relative: last-quarter vs first-quarter window means
  * over non-compaction batches (batches 2+ — 0/1 carry first-write
  * setup), bytes ratio ≤ max(1.5, 1.15 × candidate-count ratio),
  * candidates counted outside timing with the stream's own banding.
  * Compaction batches (batchId % compactEvery == 0) fold committed
  * history and are reported separately — their cost is the fold, by
  * design.
  *
  * Usage: StreamDecade [sfDir] [nBatches] [compactEvery] [mode] —
  * defaults /root/repo/tmp/sf10, 48, 12, neardup. mode=cluster runs
  * [[StreamingJobs.clusterMaintStream]] instead (the label-registry
  * face: every doc admitted, incremental CC per batch over verified
  * edges, crash-safe registry upsert) — same work-relative byte gate,
  * registry size reported per batch. Run with -Xmx32g. Results go
  * into SCALE.md; NOT a library component.
  */
object StreamDecade {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/repo/tmp/sf10"
    val nBatches = if (args.length > 1) args(1).toInt else 48
    val compactEvery = if (args.length > 2) args(2).toInt else 12
    val clusterMode = args.length > 3 && args(3) == "cluster"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", "/tmp/graft_stream_decade_wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val log = MetricsLog.install(spark)

    val work = "/tmp/graft_stream_decade"
    val table = "stream_decade_store"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val (staged, watch, store, curated, chk) =
      (s"$work/staged", s"$work/watch", s"$work/store", s"$work/curated", s"$work/chk")
    fs.mkdirs(new org.apache.hadoop.fs.Path(watch))

    // stage the even half of the corpus as nBatches file-batches
    // (outside all timing)
    println(s"[stream-decade] staging $nBatches batches from $sfDir even half")
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"),
        pmod((col("doc_id") / 2).cast("long"), lit(nBatches.toLong)).as("b"))
      .write.partitionBy("b").mode("overwrite").parquet(staged)

    val docSchema = new StructType()
      .add("doc_id", LongType).add("text", StringType)
    def feed(b: Int): Unit = {
      val src = new org.apache.hadoop.fs.Path(s"$staged/b=$b")
      val it = fs.listStatus(src).iterator
      var i = 0
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
            new org.apache.hadoop.fs.Path(s"$watch/b${b}_$i.parquet"),
            false, spark.sparkContext.hadoopConfiguration)
          i += 1
        }
      }
    }

    // the batch's SEMANTIC work denominator (the q129 discipline):
    // cross-store collision pairs this batch will verify — computed
    // OUTSIDE timing, with exactly the stream's banding parameters.
    // Per-batch bytes are candidate-driven by design (more standing
    // corpus ⇒ more genuine dup partners to verify); the layout claim
    // under test is that bytes grow no faster than THIS count — the
    // standing store itself contributes zero re-shuffle.
    import graft.ops.dedup.Dedup
    // this monitoring session reads the store BETWEEN stream runs;
    // the stream's compactions rewrite the consolidated partition's
    // files, so refresh before every read (the compactStreamStore
    // cross-session reader contract — without it the first read
    // after the SECOND compaction dies on the stale -2 listing).
    // BandStore.refreshStore is that contract as API (refresh + a
    // listing sanity probe).
    def refreshed(): Unit =
      if (spark.catalog.tableExists(table))
        graft.ops.dedup.BandStore.refreshStore(spark, table)
    def candCount(b: Int): Long = {
      refreshed()
      if (!spark.catalog.tableExists(table) ||
          spark.sql(s"SHOW PARTITIONS `$table`").isEmpty) 0L
      else {
        val batch = Dedup.exactKeep(
          spark.read.parquet(s"$staged/b=$b").select("doc_id", "text"),
          "doc_id", "text")
        val bands = Dedup.lshBands(
          Dedup.minHashText(batch, "doc_id", "text", 3, 16), "doc_id", 16, 4)
        bands.join(spark.table(table).withColumnRenamed("doc_id", "sid"),
            Seq("band", "band_key"))
          .select("sid", "doc_id").distinct().count()
      }
    }

    case class BatchRow(b: Int, sec: Double, mb: Double, cand: Long,
                        standing: Long, compacted: Boolean)
    val rows = scala.collection.mutable.ArrayBuffer.empty[BatchRow]
    (0 until nBatches).foreach { b =>
      feed(b)
      val isCompact = compactEvery > 0 && b > 0 && b % compactEvery == 0
      val cand = candCount(b)
      val run = log.measure(1) {
        val stream =
          if (clusterMode)
            StreamingJobs.clusterMaintStream(
              spark.readStream.schema(docSchema).parquet(watch),
              store, s"$work/texts", s"$work/labels", chk, tau = 0.7,
              storeTable = Some(table), storeCompactEvery = compactEvery)
          else
            StreamingJobs.nearDupStream(
              spark.readStream.schema(docSchema).parquet(watch),
              store, curated, chk, tau = 0.7,
              storeTable = Some(table), storeCompactEvery = compactEvery)
        stream.awaitTermination()
      }.head.orThrow
      val (sec, mb) = (run.sec, run.delta.shuffleMb)
      refreshed()
      val standing = spark.table(table).count()
      rows += BatchRow(b, sec, mb, cand, standing, isCompact)
      println(f"[stream-decade] batch $b%2d: ${sec}%6.2f s ${mb}%8.2f MB cands=$cand standing=$standing" +
        (if (isCompact) " COMPACTION" else ""))
    }

    val tailN =
      if (clusterMode)
        s"registry rows: ${spark.read.parquet(s"$work/labels").count()}"
      else s"curated docs: ${spark.read.parquet(curated).count()}"
    println(s"\n[stream-decade] $tailN; standing band rows: ${rows.last.standing}")
    println("\n| batch | sec | shuffle MB | cross-store cands | standing band rows | note |")
    println("|---|---|---|---|---|---|")
    rows.foreach(r => println(
      f"| ${r.b} | ${r.sec}%.2f | ${r.mb}%.2f | ${r.cand} | ${r.standing} | ${if (r.compacted) "compaction" else ""} |"))

    // gate over non-compaction batches (skip 0/1: first-write setup):
    // last-quarter vs first-quarter window means. Bytes may grow no
    // faster than 1.15x the candidate growth (the semantic-work
    // denominator), with a 1.5x absolute floor for window noise.
    val steady = rows.filter(r => !r.compacted && r.b >= 2)
    val q = math.max(1, steady.length / 4)
    val early = steady.take(q)
    val late = steady.takeRight(q)
    def mean(xs: Iterable[Double]): Double = xs.sum / xs.size
    val ratioBytes = mean(late.map(_.mb)) / mean(early.map(_.mb))
    val ratioCand = mean(late.map(_.cand.toDouble + 1)) /
      mean(early.map(_.cand.toDouble + 1))
    val growth = rows.last.standing.toDouble / early.last.standing
    val bound = math.max(1.5, 1.15 * ratioCand)
    println(f"\n[stream-decade] late/early: bytes ${ratioBytes}%.2f vs candidates ${ratioCand}%.2f " +
      f"(gate bytes <= max(1.5, 1.15 x cand) = ${bound}%.2f) while the standing store grew ${growth}%.1fx")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    spark.stop()
    if (ratioBytes > bound) { System.err.println("[stream-decade] GATE BREACH"); sys.exit(1) }
  }
}
