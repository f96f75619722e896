package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.pipeline.WeeklyReportJob

/** The farm-report DAG's core chain (q201's store-backed
  * week-over-week deltas, modon.py:267-371) exercised at sf1 VOLUME —
  * 6M lineitem rows mapped deterministically into farm events over
  * 50k farms — and cross-checked against the INDEPENDENT lag() window
  * algebra computed in one shot over the same frame (the
  * CrossCheckCuration pattern: at this scale the q201 DuckDB oracle
  * is out of reach, so verification is independent-algorithm
  * agreement).
  *
  * The chain writes week N's summary to parquet and week N+1 reads it
  * BACK from the store — 5 store round trips over 50k-farm summaries —
  * so bit-equality with the lag() form proves the written chain stays
  * faithful to the in-memory algebra at 100x the fixture scale.
  * finalize() is additionally driven over the 50k-farm week frame:
  * token determinism (same entropy -> same sha256 token) and per-farm
  * uniqueness are its scale invariants.
  *
  * Usage: CrossCheckWeekly <sfDir> — prints PASS/FAIL lines, exits 1
  * on any mismatch. Recorded in SCALE.md for the sf1 run. */
object CrossCheckWeekly {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    var failed = false
    def check(name: String)(ok: => Boolean): Unit = {
      val v = try ok catch { case e: Throwable =>
        System.err.println(s"[crosscheck] $name threw: $e"); false }
      println(s"[crosscheck] ${if (v) "PASS" else "FAIL"} $name")
      if (!v) failed = true
    }

    // sf1 lineitem -> farm events: farm = orderkey-keyed (50k distinct
    // farms), event date = shipdate, silsan = quantity. Deterministic
    // pure projection — both algorithms read the identical frame.
    val li = Tables.lineitem(spark, sfDir)
    val events = li.select(
      (col("l_orderkey") % 50000).cast("long").as("farm_no"),
      date_format(col("l_shipdate"), "yyyyMMdd").as("wk_dt"),
      (col("l_quantity") % 20).cast("long").as("silsan"))
    val farms = events.select("farm_no").distinct()
    val nFarms = farms.count()
    val nEvents = events.count()
    println(s"[crosscheck] sf1 weekly corpus: $nEvents events, $nFarms farms")

    val weeks = Seq(
      ("W1", "19950102", "19950108"), ("W2", "19950109", "19950115"),
      ("W3", "19950116", "19950122"), ("W4", "19950123", "19950129"),
      ("W5", "19950130", "19950205"))

    // path A: the store-backed chain (5 parquet round trips)
    val out = java.nio.file.Files.createTempDirectory("graft_ccw_").toFile
    val chained = graft.ops.Materialize.leafCache(
      WeeklyReportJob.runChainedWeeksFrom(spark, events, farms,
        out.toString, weeks))

    // path B: the lag() window algebra over the SAME frame, one shot —
    // independent of the store entirely
    val weekStats = weeks.map { case (wn, lo, hi) =>
      farms.join(
          events.filter(col("wk_dt").between(lo, hi))
            .groupBy("farm_no")
            .agg(count(lit(1)).as("bm_cnt"),
              sum(col("silsan")).cast("long").as("bm_live")),
          Seq("farm_no"), "left")
        .select(col("farm_no"), lit(wn).as("week_no"),
          coalesce(col("bm_cnt"), lit(0L)).as("bm_cnt"),
          coalesce(col("bm_live"), lit(0L)).as("bm_live"))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("farm_no").orderBy("week_no") // W1..W5 sort lexically
    val lagForm = weekStats
      .withColumn("prev_bm_cnt", lag("bm_cnt", 1).over(w))
      .withColumn("prev_bm_live", lag("bm_live", 1).over(w))
      .withColumn("delta_bm_cnt", col("bm_cnt") - col("prev_bm_cnt"))
      .withColumn("delta_bm_live", col("bm_live") - col("prev_bm_live"))

    check(s"chained(store round trips) == lag() over ${weeks.length} weeks x $nFarms farms") {
      val a = chained.count()
      val b = lagForm.count()
      a == b && chained.exceptAll(lagForm).isEmpty &&
        lagForm.exceptAll(chained).isEmpty
    }

    // finalize at 50k farms: one week-run row per farm -> share token
    // + expiry + master rollup. Determinism: same salt column ->
    // identical tokens on a re-run; uniqueness: one token per farm.
    val weekRuns = farms.select(col("farm_no"),
      lit(9001L).as("master_seq"),
      lit("COMPLETE").as("status_cd"),
      lit("20251112012301").as("complete_ts"),
      md5(col("farm_no").cast("string")).as("salt"))
    val master = spark.range(1).select(lit(9001L).as("master_seq"),
      lit("2025-11-12 01:00:00").as("start_ts"),
      lit("2025-11-12 01:23:45").as("end_ts"))
    val f1 = WeeklyReportJob.finalize(weekRuns, master)
    val f2 = WeeklyReportJob.finalize(weekRuns, master)
    check("finalize tokens deterministic + unique at 50k farms") {
      val n = f1.count()
      val distinctTokens = f1.select("share_token").distinct().count()
      n == nFarms && distinctTokens == nFarms &&
        f1.exceptAll(f2).isEmpty && f2.exceptAll(f1).isEmpty
    }

    graft.ops.Materialize.release(chained)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(out)
    spark.stop()
    if (failed) sys.exit(1)
  }
}
