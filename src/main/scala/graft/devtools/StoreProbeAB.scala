package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.pipeline.MetricsLog
import graft.ops.dedup.{BandStore, Dedup}

/** The bucketed-store A/B at sf1: with the STANDING corpus's band
  * store already persisted (the steady-state of any incremental
  * pipeline — the build cost amortizes over every future batch), how
  * much does the bucketed layout save on a per-increment PROBE versus
  * the same table stored without a bucket spec?
  *
  * Both layouts hold identical rows; the probe (batch bands joined on
  * (band, band_key), store-side hot-bucket cap, then the exact
  * Jaccard verification over candidate texts) is the same code —
  * [[BandStore.dedupAgainstStoreScoped]] — so the measured delta is
  * purely the physical plan: bucketed = zero store-side exchange
  * (only the increment shuffles, to the bucket count); plain = the
  * FULL standing band table re-shuffles on every probe. Results are
  * asserted identical before any timing is trusted.
  *
  * Clock alone under-reports the win while the store is small (at
  * 100k band rows the exact-Jaccard verification dominates and
  * shuffling the store is free): the A/B therefore reports BOTH the
  * min clock AND the per-probe SHUFFLE BYTES (a SparkListener sum —
  * the load-independent metric this repo gates on), and takes an
  * optional store AMPLIFIER: n synthetic standing docs (md5-token
  * texts, unique by construction — they collide with nothing, so the
  * verified pair set stays IDENTICAL while the standing store grows
  * arbitrarily). That isolates exactly the variable that matters at
  * 100 TB: how much of the standing corpus crosses the wire per
  * increment. Bucketed: none of it. Plain: all of it, every batch.
  *
  * Usage: StoreProbeAB <sfDir> [reps] [amplify] — prints per-layout
  * min seconds + shuffle MB and the verified-pair count; exits 1 if
  * the layouts disagree. Recorded in SCALE.md. */
object StoreProbeAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val reps = args.lift(1).flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(3)
    val amplify = args.lift(2).flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(0L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", "/tmp/graft_ab_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // standing corpus = the even half (the q129/q206 fixture split);
    // increment = 2k odd docs + planted re-crawls of long evens
    val docs = Tables.documents(spark, sfDir)
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    // deterministic batch pick: an unordered limit() varies run to
    // run (the within-run layout gate would still hold, but the
    // SCALE.md row should replay exactly)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .orderBy("doc_id").limit(2000)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
        .orderBy("doc_id").limit(500)
        .select((col("doc_id") + (1L << 60)).as("doc_id"),
          concat_ws(" ",
            expr("slice(split(text, '\\\\s+'), 1, 3)"),
            expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text")))
      .cache()
    batch.count()

    // standing corpus, optionally AMPLIFIED with synthetic docs whose
    // md5 tokens collide with nothing: verified pairs stay identical,
    // only the standing store's size changes
    val standing =
      if (amplify <= 0) ref
      else ref.unionByName(spark.range(amplify).select(
        (col("id") + 2000000000L).as("doc_id"),
        concat_ws(" ", (0 until 8).map(j =>
          md5(concat(col("id").cast("string"), lit(s"#$j")))): _*).as("text")))

    // build both layouts ONCE (identical rows, different physics)
    val bands = Dedup.lshBands(
      Dedup.minHashText(standing, "doc_id", "text"), "doc_id")
    BandStore.reset(spark, "ab_bucketed"); BandStore.reset(spark, "ab_plain")
    val t0 = System.nanoTime()
    BandStore.write(bands, "ab_bucketed")
    println(f"[ab] bucketed store build: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      s"(${spark.table("ab_bucketed").count()} band rows; amortizes over every future batch)")
    bands.write.format("parquet").saveAsTable("ab_plain")

    // per-probe shuffle bytes next to the min clock
    val log = MetricsLog.install(spark)
    def probe(table: String): (Double, Long, Double) = {
      var n = 0L
      val v = MetricsLog.best(log.measure(reps) {
        n = BandStore.dedupAgainstStoreScoped(
          spark, table, standing, batch, "doc_id", "text") { j =>
          j.filter(col("jaccard") >= 0.5).count()
        }
      }).orThrow
      (v.sec, n, v.delta.shuffleMb)
    }
    val (tBucketed, nBucketed, mbBucketed) = probe("ab_bucketed")
    val (tPlain, nPlain, mbPlain) = probe("ab_plain")
    println(f"[ab] probe min-of-$reps%d (amplify=$amplify%d): " +
      f"bucketed $tBucketed%.2f s / $mbBucketed%.2f MB shuffled, " +
      f"plain $tPlain%.2f s / $mbPlain%.2f MB shuffled " +
      f"(clock x${tPlain / tBucketed}%.2f, bytes x${mbPlain / math.max(mbBucketed, 0.001)}%.2f), " +
      s"verified pairs: $nBucketed vs $nPlain")
    // hash gate: identical pair SETS, not just counts
    val setB = BandStore.dedupAgainstStoreScoped(
      spark, "ab_bucketed", standing, batch, "doc_id", "text") { j =>
      j.filter(col("jaccard") >= 0.5).select("sid", "bid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val setP = BandStore.dedupAgainstStoreScoped(
      spark, "ab_plain", standing, batch, "doc_id", "text") { j =>
      j.filter(col("jaccard") >= 0.5).select("sid", "bid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val ok = setB == setP && nBucketed == nPlain
    println(s"[ab] ${if (ok) "PASS" else "FAIL"} layouts agree on " +
      s"${setB.size} verified pairs")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
