package graft.devtools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.core.GraftSession

/** Dev probe: per-STAGE shuffle-write attribution for catalog queries.
  *
  * `shuffle_mb` totals (Bench / QueryPhases) say a query moves N MB;
  * they cannot say WHICH exchange. This runs each named query once
  * (noop sink) and prints every completed stage's shuffle bytes
  * written/read, task count and name — the map side of each exchange
  * shows up as its writing stage, so the expensive exchange is
  * identifiable by elimination (r17: q44's 228 MB attributed to the
  * posting-list PAIR-EXPANSION aggregation, not the posting build the
  * round first assumed).
  *
  * Usage: StageShuffleProbe <sfDir> <query> [query...]
  */
object StageShuffleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageShuffleProbe <sfDir> <query>...")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    names.foreach(n => require(graft.SparkEntry.queries.contains(n),
      s"unknown catalog query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    names.foreach { n =>
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[
        (Int, Double, Double, Int, Long, String)]()
      val l = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          stages.add((si.stageId,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            (m.shuffleReadMetrics.localBytesRead +
              m.shuffleReadMetrics.remoteBytesRead) / 1048576.0,
            si.numTasks, m.executorRunTime,
            si.name.linesIterator.next().take(90)))
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftMetricsBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      println(s"==== $n")
      stages.asScala.toSeq.sortBy(-_._2).foreach {
        case (id, w, r, nt, rt, nm) =>
          println(f"[stage] $id%5d write=${f2(w)}%9s MB read=${f2(r)}%9s MB " +
            f"tasks=$nt%4d runtime=${rt}%6d ms  $nm")
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
