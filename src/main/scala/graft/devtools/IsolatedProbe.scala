package graft.devtools

import graft.core.GraftSession
import graft.pipeline.MetricsLog

/** Dev probe: per-query attribution for named catalog queries. Runs
  * each query `reps` times in a quiet session (one warm pass outside
  * timing, noop sink, cache cleared and a driver GC between reps) and
  * prints, per query:
  *   - `[isolated]`: the min and every rep's clock (build + plan +
  *     exec) — the adjudication device for an in-suite bench number
  *     that drifts (suite contention vs real regression);
  *   - `[phases]`, for the fastest rep: the split an optimizer can act
  *     on, with the jobs each phase launched, and the stages
  *     completed, tasks finished and shuffle MB written over the rep:
  *       - build: SparkEntry.queries(name)(spark, dir) — plan
  *         construction PLUS any eager jobs the query runs at build
  *         time (counts, localize collects, cache materializations);
  *       - plan: queryExecution.executedPlan on the returned frame —
  *         analysis + optimization + physical planning of the final
  *         tree (driver-only, scale-independent cost);
  *       - exec: the noop write (job scheduling + task execution).
  *     At a fixed per-job/per-task latency, job and task counts bound
  *     the floor no data-side optimization can beat;
  *   - `[stage]`, for the same rep: the top stages by shuffle bytes
  *     written. The map side of each exchange shows up as its writing
  *     stage, so the expensive exchange is identifiable by elimination
  *     (r17: q44's 228 MB is the posting-list PAIR-EXPANSION
  *     aggregation, not the posting build first assumed).
  *
  * Usage: IsolatedProbe <sfDir> <reps> <query> [query...] */
object IsolatedProbe {
  private val TopStages = 5

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
    val log = MetricsLog.install(spark)
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    final case class Phases(build: Double, plan: Double, exec: Double,
                            buildJobs: Long, delta: MetricsLog.Counters,
                            stages: Seq[MetricsLog.StageRow]) {
      def total: Double = build + plan + exec
    }
    names.foreach { n =>
      // warm pass (JIT/codegen/scan caches) outside timing; a query
      // that fails warm is SKIPPED (not re-run through timed reps — one
      // broken query must not abort the probes of the queries after it)
      val warm = log.measure(1)(graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()).head
      warm.error.foreach(e =>
        System.err.println(s"[isolated] $n warm FAILED (skipping timed reps): ${e.getMessage}"))
      if (!warm.failed) {
        val done = scala.collection.mutable.ArrayBuffer.empty[Phases]
        log.measure(reps) {
          // the counter reads between phases stay outside the clocks
          val c0 = log.counters()
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(n)(spark, sfDir)
          val t1 = System.nanoTime()
          val c1 = log.counters()
          val t2 = System.nanoTime()
          df.queryExecution.executedPlan
          val t3 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t4 = System.nanoTime()
          val c2 = log.counters()
          done += Phases((t1 - t0) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
            c1.jobs - c0.jobs, c2 - c0, log.stageRows.drop(c0.stages.toInt))
        }.flatMap(_.error).foreach(e =>
          System.err.println(s"[isolated] $n rep FAILED: ${e.getMessage}"))
        if (done.isEmpty) println(s"[isolated] $n ALL REPS FAILED ($sfDir)")
        else {
          val best = done.minBy(_.total)
          println(s"[isolated] $n min=${f2(best.total)} s " +
            s"reps=${done.map(p => f2(p.total)).mkString(",")} ($sfDir)")
          println(f"[phases] $n%-28s total=${best.total}%6.2f " +
            f"build=${best.build}%6.2f (jobs=${best.buildJobs}%3d) plan=${best.plan}%5.2f " +
            f"exec=${best.exec}%6.2f (jobs=${best.delta.jobs - best.buildJobs}%3d) " +
            f"stages=${best.delta.stages}%4d tasks=${best.delta.tasks}%5d " +
            f"shuffle_mb=${best.delta.shuffleMb}%7.2f")
          best.stages.sortBy(-_.shuffleWriteBytes).take(TopStages).foreach { s =>
            println(f"[stage] ${s.stageId}%5d write=${f2(s.shuffleWriteBytes / 1048576.0)}%9s MB " +
              f"read=${f2(s.shuffleReadBytes / 1048576.0)}%9s MB tasks=${s.numTasks}%4d " +
              f"runtime=${s.runTimeMs}%6d ms  ${s.name.take(90)}")
          }
        }
      }
    }
    spark.stop()
  }
}
