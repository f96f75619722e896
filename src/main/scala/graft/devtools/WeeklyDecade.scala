package graft.devtools

import org.apache.spark.sql.functions._
import graft.pipeline.{MetricsLog, WeeklyReportJob}
import graft.pipeline.MetricsLog.Rep
import graft.pipeline.WeeklyReportJob.DomainSources
import graft.core.GraftSession

/** Dev harness: the weekly product's SHUFFLE-LINEARITY certification
  * across farm-count decades — the ScaleDecade discipline applied to
  * the reference's core deliverable. The 50k-farm WeeklyScale run
  * proves correctness at one scale point; this tool measures the
  * EXPONENT: all thirteen weekly queries (ten sections + the SUB
  * union + the summary) at 5k / 50k / 500k farms, per-run shuffle
  * bytes next to the min clock, full-span byte exponent gated at
  * <= 1.15 (every section is keyed by farm_no, so anything
  * superlinear is a plan defect, not a data property — there is no
  * candidate-pair caveat here).
  *
  * Each rung also gets one `report` row: the production
  * `WeeklyReportJob.runReport` itself, written into a temp dir —
  * min-of-N clock, shuffle and input MB, Spark jobs — followed by an
  * order-independent xxhash64 digest of both written outputs. The
  * harness uses only `runReport(spark, src, outDir)` and
  * `WeeklyScale.queries`, so an A/B is this file built in two
  * checkouts, run alternately: the digests must match and the
  * counters say what moved.
  *
  * The regime is pinned exactly like ScaleDecade: auto-broadcast OFF
  * on every rung (explicit engine broadcast() hints still apply), one
  * shuffle-partition count across rungs, so the exponent measures the
  * plan rather than the optimizer's size-estimate regime flips.
  *
  * Usage: WeeklyDecade [reps] [only=name,...] [label=factsDir ...] —
  * defaults to 1 rep over tmp/farms5k, tmp/farms50k, tmp/farms500k
  * (generate with `graft.devtools.GenFarms <n> <dir>`); `only=report`
  * runs the report rows alone. Run with SPARK_DRIVER_MEM=32g for the
  * 500k rung. Exits 1 on a gated-exponent breach or a failed query.
  * Results go into SCALE.md; NOT part of the library.
  */
object WeeklyDecade {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(s => scala.util.Try(s.toInt).toOption)
      .map(math.max(1, _)).getOrElse(1)
    val rest = args.drop(if (args.headOption.exists(
      s => scala.util.Try(s.toInt).isSuccess)) 1 else 0).toSeq
    // only=name,name: restrict the sweep to named queries (`report`
    // names the runReport row) — the isolated min-of-N adjudication
    // posture (one section, one rung, reps>1)
    val only = rest.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet).getOrElse(Set.empty[String])
    val rungArgs = rest.filterNot(_.startsWith("only="))
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

    val log = MetricsLog.install(spark)
    // min-of-reps clock and counters (shuffle write, input, jobs)
    def measure(run: () => Unit): Rep = {
      val v = MetricsLog.best(log.measure(reps)(run()))
      v.error.foreach(e =>
        System.err.println(s"[weekly-decade] FAILED: ${e.getClass.getName}: ${e.getMessage}"))
      v
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

    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    // the rung's queries, then its report row (writes into `out`)
    def work(dir: String, out: String): Seq[(String, () => Unit)] =
      WeeklyScale.queries(spark, dir).collect {
        case (name, df, _) if selected(name) =>
          name -> (() => df.write.format("noop").mode("overwrite").save())
      } ++ (if (selected("report")) Seq("report" -> (() =>
        WeeklyReportJob.runReport(spark, DomainSources.parquet(spark, dir), out)))
      else Nil)

    val scratch = java.nio.file.Files.createTempDirectory("weekly_decade").toString
    // JIT/codegen warm pass on the smallest rung (outside timing)
    work(sized.head.dir, s"$scratch/warm").foreach { case (_, run) => log.measure(1)(run()) }

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Rep]]
    sized.foreach { r =>
      val out = s"$scratch/${r.label}"
      work(r.dir, out).foreach { case (name, run) =>
        val v = measure(run)
        results.getOrElseUpdate(name,
          scala.collection.mutable.LinkedHashMap.empty) += r.label -> v
        println(s"[weekly-decade] ${r.label} $name min=${f2(v.sec)}s " +
          s"shuffle=${f2(v.delta.shuffleMb)}MB input=${f2(v.delta.inputMb)}MB jobs=${v.delta.jobs}" +
          (if (v.failed) " FAILED-REPS" else ""))
        if (name == "report" && !v.failed)
          println(s"[weekly-decade] ${r.label} report digest " +
            s"week_sub=${MetricsLog.digest(spark.read.parquet(s"$out/week_sub"))} " +
            s"week_summary=${MetricsLog.digest(spark.read.parquet(s"$out/week_summary"))}")
      }
    }

    println("\n| query | " + sized.map(r =>
      s"${r.label} s / MB").mkString(" | ") + " | byte exp | clock exp |")
    var breach = false
    results.foreach { case (q, byRung) =>
      val cells = sized.map { r =>
        val c = byRung(r.label)
        if (c.failed) "FAILED" else s"${f2(c.sec)} / ${f2(c.delta.shuffleMb)}"
      }
      val pairs = (sized.sliding(2).toSeq ++
        (if (sized.length > 2) Seq(Seq(sized.head, sized.last)) else Nil))
        .filter(_.length == 2)
      def exps(sel: Rep => Double): Seq[Double] =
        pairs.flatMap { case Seq(lo, hi) =>
          val (a, b) = (byRung(lo.label), byRung(hi.label))
          if (a.failed || b.failed || sel(a) <= 0 || sel(b) <= 0) None
          else Some(math.log(sel(b) / sel(a)) /
            math.log(hi.farms.toDouble / lo.farms))
        }
      val be = exps(_.delta.shuffleMb)
      val ce = exps(_.sec)
      val anyFailed = byRung.values.exists(_.failed)
      // gate the FULL-SPAN byte exponent (the ScaleDecade rationale:
      // per-decade slopes can carry one-time transition bumps).
      // Magnitude floor: a section shuffling ~nothing at the TOP rung
      // has no meaningful log-slope (zero-byte rungs drop out of
      // `be`) — zero shuffle is the best possible outcome, never a
      // breach (the ScaleDecade fixed-probe-row rationale).
      val topBytes = byRung(sized.last.label).delta.shuffleMb
      val byteOk = be.lastOption.exists(_ <= 1.15) || topBytes <= 1.0
      val flag = anyFailed || (pairs.nonEmpty && !byteOk)
      if (flag) breach = true
      println(s"| $q | " + cells.mkString(" | ") + " | " +
        be.map(f2).mkString(", ") + (if (flag) " **SUPERLINEAR/FAILED**" else "") +
        " | " + ce.map(f2).mkString(", ") + " |")
    }

    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    if (breach) { System.err.println("[weekly-decade] GATE BREACH"); sys.exit(1) }
  }
}
