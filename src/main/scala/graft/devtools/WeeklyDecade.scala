package graft.devtools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.WeeklyReportJob
import graft.pipeline.WeeklyReportJob.DomainSources
import graft.core.GraftSession

/** Dev harness: the weekly product's SHUFFLE-LINEARITY certification
  * across farm-count decades — the ScaleDecade discipline applied to
  * the reference's core deliverable. The 50k-farm WeeklyScale run
  * proves correctness at one scale point; this tool measures the
  * EXPONENT: all thirteen weekly queries (ten sections + the SUB
  * union + the summary join) at 5k / 50k / 500k farms, per-run
  * shuffle bytes next to the min clock, full-span byte exponent gated
  * at <= 1.15 (every section is keyed by farm_no, so anything
  * superlinear is a plan defect, not a data property — there is no
  * candidate-pair caveat here).
  *
  * The regime is pinned exactly like ScaleDecade: auto-broadcast OFF
  * on every rung (explicit engine broadcast() hints still apply), one
  * shuffle-partition count across rungs, so the exponent measures the
  * plan rather than the optimizer's size-estimate regime flips.
  *
  * leafcache=1 additionally runs the A/B that SCALE.md's round-13
  * design note gestures at: the two compositions (week_sub /
  * week_summary) read the hot fact frames (`modon`, `modon_wk`)
  * either as plain parquet scans — each of the ten sections re-scans
  * them, ~10 scans of modon_wk per report run — or through
  * [[graft.ops.Materialize.leafCache]] handed into DomainSources (the
  * API takes any frames). Recorded: clock, shuffle bytes, INPUT bytes
  * (the scan-amplification win), and an order-independent xxhash64
  * digest that must be IDENTICAL between the two runs.
  *
  * Usage: WeeklyDecade [reps] [leafcache=1] [label=factsDir ...] —
  * defaults to 1 rep over tmp/farms5k, tmp/farms50k, tmp/farms500k
  * (generate with `graft.devtools.GenFarms <n> <dir>`). Run with
  * SPARK_DRIVER_MEM=32g. Exits 1 on a gated-exponent breach, a failed
  * query, or a leafcache digest mismatch. Results go into SCALE.md;
  * NOT part of the library.
  */
object WeeklyDecade {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(s => scala.util.Try(s.toInt).toOption)
      .map(math.max(1, _)).getOrElse(1)
    val rest = args.drop(if (args.headOption.exists(
      s => scala.util.Try(s.toInt).isSuccess)) 1 else 0).toSeq
    // leafcache=<rungLabel> (or leafcache=1 for the last rung);
    // sweep=0 skips the rung sweep (A/B-only reruns)
    val leafCacheArg = rest.find(_.startsWith("leafcache="))
      .map(_.stripPrefix("leafcache="))
    val runSweep = !rest.contains("sweep=0")
    // only=name,name: restrict the sweep to named queries — the
    // isolated min-of-N adjudication posture (one section, one rung,
    // reps>1) the round-15 sub_alert watch item needs
    val only = rest.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet).getOrElse(Set.empty[String])
    val rungArgs = rest.filterNot(a =>
      a.startsWith("leafcache=") || a == "sweep=0" || a.startsWith("only=") ||
        a.startsWith("sharedlatest="))
    val rungs: Seq[(String, String)] =
      if (rungArgs.nonEmpty) rungArgs.map { a =>
        val Array(l, d) = a.split("=", 2); (l, d)
      }
      else Seq(
        "farms5k" -> "/root/repo/tmp/farms5k",
        "farms50k" -> "/root/repo/tmp/farms50k",
        "farms500k" -> "/root/repo/tmp/farms500k")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", 64)
      .config("spark.ui.enabled", "false")
      // pinned shuffle regime (the ScaleDecade rationale): exponents
      // must measure the plan, not mid-curve broadcast flips
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            inputBytes.addAndGet(m.inputMetrics.bytesRead)
          }
        }
      })
    def drained(): (Long, Long) = {
      try org.apache.spark.GraftMetricsBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[weekly-decade] listener bus drain timed out") }
      (shuffleBytes.get(), inputBytes.get())
    }
    def cleanup(): Unit = { spark.catalog.clearCache(); System.gc() }

    // (min sec, min shuffle MB, min input MB, failed)
    def measure(thunk: () => Unit): (Double, Double, Double, Boolean) = {
      var failed = false
      val runs = (1 to reps).map { _ =>
        val (sh0, in0) = drained()
        val t0 = System.nanoTime()
        try thunk() catch { case e: Throwable =>
          failed = true
          System.err.println(s"[weekly-decade] FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val (sh1, in1) = drained()
        cleanup()
        (dt, (sh1 - sh0) / 1048576.0, (in1 - in0) / 1048576.0)
      }
      (runs.map(_._1).min, runs.map(_._2).min, runs.map(_._3).min, failed)
    }

    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    case class Rung(label: String, dir: String, farms: Long)
    val sized = rungs.map { case (l, d) =>
      val farms = spark.read.parquet(s"$d/modon.parquet")
        .agg(countDistinct(col("farm_no"))).head().getLong(0)
      Rung(l, d, farms)
    }
    sized.foreach(r => println(s"[weekly-decade] rung ${r.label}: ${r.farms} farms (${r.dir})"))

    def selected(qs: Seq[(String, DataFrame, String)]) =
      qs.filter(q => only.isEmpty || only.contains(q._1))

    // JIT/codegen warm pass on the smallest rung (outside timing)
    selected(WeeklyScale.queries(spark, sized.head.dir)).foreach { case (_, df, _) =>
      try df.write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    cleanup()

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double, Boolean)]]
    if (runSweep) sized.foreach { r =>
      selected(WeeklyScale.queries(spark, r.dir)).foreach { case (name, df, _) =>
        val v = measure(() =>
          df.write.format("noop").mode("overwrite").save())
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty) += r.label -> v
        println(s"[weekly-decade] ${r.label} $name min=${f2(v._1)}s " +
          s"shuffle=${f2(v._2)}MB input=${f2(v._3)}MB" +
          (if (v._4) " FAILED-REPS" else ""))
      }
    }

    println("\n| query | " + sized.map(r =>
      s"${r.label} s / MB").mkString(" | ") + " | byte exp | clock exp |")
    var breach = false
    results.foreach { case (q, byRung) =>
      val cells = sized.map { r =>
        val (s, mb, _, failed) = byRung(r.label)
        if (failed) "FAILED" else s"${f2(s)} / ${f2(mb)}"
      }
      val pairs = (sized.sliding(2).toSeq ++
        (if (sized.length > 2) Seq(Seq(sized.head, sized.last)) else Nil))
        .filter(_.length == 2)
      def exps(sel: ((Double, Double, Double, Boolean)) => Double): Seq[Double] =
        pairs.flatMap { case Seq(lo, hi) =>
          val (a, b) = (byRung(lo.label), byRung(hi.label))
          if (a._4 || b._4 || sel(a) <= 0 || sel(b) <= 0) None
          else Some(math.log(sel(b) / sel(a)) /
            math.log(hi.farms.toDouble / lo.farms))
        }
      val be = exps(_._2)
      val ce = exps(_._1)
      val anyFailed = byRung.values.exists(_._4)
      // gate the FULL-SPAN byte exponent (the ScaleDecade rationale:
      // per-decade slopes can carry one-time transition bumps).
      // Magnitude floor: a section shuffling ~nothing at the TOP rung
      // has no meaningful log-slope (zero-byte rungs drop out of
      // `be`) — zero shuffle is the best possible outcome, never a
      // breach (the ScaleDecade fixed-probe-row rationale).
      val topBytes = byRung(sized.last.label)._2
      val byteOk = be.lastOption.exists(_ <= 1.15) || topBytes <= 1.0
      val flag = anyFailed || (pairs.nonEmpty && !byteOk)
      if (flag) breach = true
      println(s"| $q | " + cells.mkString(" | ") + " | " +
        be.map(f2).mkString(", ") + (if (flag) " **SUPERLINEAR/FAILED**" else "") +
        " | " + ce.map(f2).mkString(", ") + " |")
    }

    // ---- leafCache A/B: hot facts cached once vs re-scanned per
    // section; digests must agree exactly
    leafCacheArg.foreach { sel =>
      val r = sized.find(_.label == sel).getOrElse(sized.last)
      println(s"\n[weekly-decade] leafCache A/B at ${r.label}")
      def digest(df: DataFrame): (String, Long) = {
        val cols = df.columns.map(c => col(c).cast("string"))
        // decimal sum: a long sum of xxhash64 values overflows (ANSI)
        val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
          .agg(sum(col("h")), count(lit(1))).head()
        (String.valueOf(row.get(0)), row.getLong(1))
      }
      def runBoth(src: DomainSources): Seq[(String, (Double, Double, Double, Boolean), (String, Long))] =
        Seq(
          // the two heaviest standalone sections (both scan modon +
          // modon_wk; the round-14 500k hotspot) plus the two
          // compositions
          "sub_sched" -> (() => graft.QueryCatalogDomain
            .q64ScheduleMatingFrom(spark, src.modon, src.modonWk)),
          "sub_plan" -> (() => graft.QueryCatalogDomain
            .q65ScheduleBmEuFrom(spark, src.modon, src.modonWk)),
          "week_sub" -> (() => WeeklyReportJob.subRowsFrom(spark, src)),
          "week_summary" -> (() => WeeklyReportJob.summaryFrom(spark, src))
        ).map { case (name, mk) =>
          val m = measure(() => mk().write.format("noop").mode("overwrite").save())
          val d = digest(mk())
          (name, m, d)
        }
      val plainSrc = DomainSources.parquet(spark, r.dir)
      val plain = runBoth(plainSrc)
      val modonC = graft.ops.Materialize.leafCache(plainSrc.modon)
      val modonWkC = graft.ops.Materialize.leafCache(plainSrc.modonWk)
      val cached = runBoth(plainSrc.copy(modon = modonC, modonWk = modonWkC))
      graft.ops.Materialize.release(modonC)
      graft.ops.Materialize.release(modonWkC)
      plain.zip(cached).foreach { case ((n, mp, dp), (_, mc, dc)) =>
        val ok = dp == dc
        if (!ok) breach = true
        println(s"[weekly-decade] $n plain:  ${f2(mp._1)}s shuffle=${f2(mp._2)}MB input=${f2(mp._3)}MB rows=${dp._2}")
        println(s"[weekly-decade] $n cached: ${f2(mc._1)}s shuffle=${f2(mc._2)}MB input=${f2(mc._3)}MB rows=${dc._2}" +
          s" digest_${if (ok) "MATCH" else "MISMATCH"}")
      }
    }

    // ---- sharedLatest A/B (r17): the two shared latest-modon_wk
    // frames materialized once per report vs re-aggregated per
    // section; digests must agree exactly
    rest.find(_.startsWith("sharedlatest=")).map(_.stripPrefix("sharedlatest="))
      .foreach { sel =>
        val r = sized.find(_.label == sel).getOrElse(sized.last)
        println(s"\n[weekly-decade] sharedLatest A/B at ${r.label}")
        def digest(df: DataFrame): (String, Long) = {
          val cols = df.columns.map(c => col(c).cast("string"))
          val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
            .agg(sum(col("h")), count(lit(1))).head()
          (String.valueOf(row.get(0)), row.getLong(1))
        }
        val src = DomainSources.parquet(spark, r.dir)
        def runBoth(mk: () => Seq[(String, () => DataFrame)])
        : Seq[(String, (Double, Double, Double, Boolean), (String, Long))] =
          mk().map { case (name, build) =>
            val m = measure(() =>
              build().write.format("noop").mode("overwrite").save())
            val d = digest(build())
            (name, m, d)
          }
        val plain = runBoth(() => Seq(
          "week_sub" -> (() => WeeklyReportJob.subRowsFrom(spark, src)),
          "week_summary" -> (() => WeeklyReportJob.summaryFrom(spark, src))))
        // the shared frames are leafCache'd INSIDE the measured thunk
        // (they are part of the composition's cost) and released after
        val shared = runBoth(() => Seq(
          "week_sub" -> { () =>
            val a = graft.ops.Materialize.leafCache(
              WeeklyReportJob.sharedLastWk(src))
            val b = graft.ops.Materialize.leafCache(
              WeeklyReportJob.sharedLatestWk(src))
            WeeklyReportJob.subRowsFrom(spark, src, Some(a), Some(b))
          },
          "week_summary" -> { () =>
            val a = graft.ops.Materialize.leafCache(
              WeeklyReportJob.sharedLastWk(src))
            val b = graft.ops.Materialize.leafCache(
              WeeklyReportJob.sharedLatestWk(src))
            WeeklyReportJob.summaryFrom(spark, src, Some(a), Some(b))
          }))
        plain.zip(shared).foreach { case ((n, mp, dp), (_, ms, ds)) =>
          val ok = dp == ds
          if (!ok) breach = true
          println(s"[weekly-decade] $n plain:  ${f2(mp._1)}s shuffle=${f2(mp._2)}MB input=${f2(mp._3)}MB rows=${dp._2}")
          println(s"[weekly-decade] $n shared: ${f2(ms._1)}s shuffle=${f2(ms._2)}MB input=${f2(ms._3)}MB rows=${ds._2}" +
            s" digest_${if (ok) "MATCH" else "MISMATCH"}")
        }
      }

    spark.stop()
    if (breach) { System.err.println("[weekly-decade] GATE BREACH"); sys.exit(1) }
  }
}
