package graft.devtools

import graft.core.GraftSession

/** Dev probe: isolated min-of-N clocks for named catalog queries —
  * the adjudication device the verdicts ask for when an in-suite
  * bench number drifts (suite contention vs real regression). Runs
  * each query `reps` times in a FRESH-JVM-equivalent quiet session
  * (one warm pass outside timing, noop sink, cache cleared between
  * reps) and prints the min/all clocks.
  *
  * Usage: IsolatedProbe <sfDir> <reps> <query> [query...] */
object IsolatedProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: IsolatedProbe <sfDir> <reps> <query>...")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    names.foreach(n => require(graft.SparkEntry.queries.contains(n),
      s"unknown catalog query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      // warm pass (JIT/codegen/scan caches) outside timing; a query
      // that fails warm is SKIPPED (not re-run through unprotected
      // timed reps — one broken query must not abort the probes of
      // the queries after it)
      val warmOk =
        try {
          graft.SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[isolated] $n warm FAILED (skipping timed reps): ${e.getMessage}")
          false
        }
      spark.catalog.clearCache(); System.gc()
      if (warmOk) {
        val clocks = (1 to reps).flatMap { _ =>
          val t0 = System.nanoTime()
          val dt =
            try {
              graft.SparkEntry.queries(n)(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[isolated] $n rep FAILED: ${e.getMessage}")
              None
            }
          spark.catalog.clearCache(); System.gc()
          dt
        }
        if (clocks.nonEmpty)
          println(f"[isolated] $n min=${clocks.min}%.2f s reps=${clocks.map(c => f"$c%.2f").mkString(",")} ($sfDir)")
        else
          println(s"[isolated] $n ALL REPS FAILED ($sfDir)")
      }
    }
    spark.stop()
  }
}
