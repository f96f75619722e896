package graft.devtools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.core.GraftSession

/** Dev probe: where does a catalog query's wall-clock actually go?
  *
  * Splits one invocation into the phases an optimizer can act on:
  *   - build: SparkEntry.queries(name)(spark, dir) — plan construction
  *     PLUS any eager jobs the query runs at build time (counts,
  *     localize collects, cache materializations);
  *   - plan: queryExecution.executedPlan on the returned frame —
  *     analysis + optimization + physical planning of the final tree
  *     (driver-only, scale-independent cost);
  *   - exec: the noop write (job scheduling + task execution).
  *
  * Per phase it also reports jobs launched, stages completed, tasks
  * finished — the fixed-overhead face of a many-action query: at a
  * fixed per-job/per-task latency, job and task counts bound the
  * floor no data-side optimization can beat.
  *
  * Usage: QueryPhases <sfDir> <reps> <query> [query...]   (min over reps)
  */
object QueryPhases {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryPhases <sfDir> <reps> <query>...")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    names.foreach(n => require(graft.SparkEntry.queries.contains(n),
      s"unknown catalog query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleB = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def drain(): Unit =
      try org.apache.spark.GraftMetricsBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => () }
    def snap(): (Int, Int, Int, Long) = { drain(); (jobs.get, stages.get, tasks.get, shuffleB.get) }

    names.foreach { n =>
      // warm pass (JIT/codegen) outside measurement
      try graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[phases] $n warm FAILED: ${e.getMessage}") }
      spark.catalog.clearCache(); System.gc()
      case class M(build: Double, plan: Double, exec: Double,
                   bJobs: Int, eJobs: Int, stages: Int, tasks: Int, shMb: Double)
      val ms = (1 to reps).map { _ =>
        val (j0, s0, t0, b0) = snap()
        val c0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val c1 = System.nanoTime()
        val (j1, _, _, _) = snap()
        df.queryExecution.executedPlan // force analysis+optimization
        val c2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val c3 = System.nanoTime()
        val (j2, s2, t2, b2) = snap()
        spark.catalog.clearCache(); System.gc()
        M((c1 - c0) / 1e9, (c2 - c1) / 1e9, (c3 - c2) / 1e9,
          j1 - j0, j2 - j1, s2 - s0, t2 - t0, (b2 - b0) / 1048576.0)
      }
      val best = ms.minBy(m => m.build + m.plan + m.exec)
      println(f"[phases] $n%-28s total=${best.build + best.plan + best.exec}%6.2f " +
        f"build=${best.build}%6.2f (jobs=${best.bJobs}%3d) plan=${best.plan}%5.2f " +
        f"exec=${best.exec}%6.2f (jobs=${best.eJobs}%3d) " +
        f"stages=${best.stages}%4d tasks=${best.tasks}%5d shuffle_mb=${best.shMb}%7.2f")
    }
    spark.stop()
  }
}
