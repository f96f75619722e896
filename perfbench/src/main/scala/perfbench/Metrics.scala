package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark counters at one instant; `-` gives the work done
  * between two snapshots. Byte counts are bytes, times are seconds. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
                          taskBusyS: Double, taskCpuS: Double, gcS: Double,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          input: Long, output: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskBusyS - o.taskBusyS, taskCpuS - o.taskCpuS,
    gcS - o.gcS, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input, output - o.output)
}

/** One streaming micro-batch as its progress event reported it. */
final case class Progress(inputRows: Long, durationMs: Map[String, Long])

/** The benchmark's one metrics listener: job/stage/task counts, task
  * busy/CPU/GC time, shuffle, spill, input and output bytes, the
  * task intervals (for idle time), the peak of block storage (memory
  * plus disk) stored within a window, and streaming progress. Events
  * arrive on the listener bus thread, so every read first drains the
  * bus ([[drain]]). */
final class Metrics(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private var c = Counters(0, 0, 0, 0.0, 0.0, 0.0, 0, 0, 0, 0, 0)
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.HashMap.empty[(String, String), Long]
  private var standing = Set.empty[(String, String)]
  private val broadcasts = mutable.HashSet.empty[(String, String)]
  private var storage = 0L
  private var storagePeak = 0L
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Metrics.this.synchronized { c = c.copy(jobs = c.jobs + 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Metrics.this.synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Metrics.this.synchronized {
        intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
          tasks = c.tasks + 1,
          taskBusyS = c.taskBusyS + m.executorRunTime / 1e3,
          taskCpuS = c.taskCpuS + m.executorCpuTime / 1e9,
          gcS = c.gcS + m.jvmGCTime / 1e3,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead,
          spill = c.spill + m.diskBytesSpilled,
          input = c.input + m.inputMetrics.bytesRead,
          output = c.output + m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      val key = (i.blockManagerId.executorId, i.blockId.name)
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      Metrics.this.synchronized {
        val old = blocks.remove(key).getOrElse(0L)
        if (size > 0) blocks(key) = size
        if (i.blockId.isBroadcast) {
          // counted once, until the window ends: when a broadcast piece
          // is dropped depends on driver GC, not on the program
          if (size > 0 && !standing.contains(key) && broadcasts.add(key)) storage += size
        } else if (!standing.contains(key)) storage += size - old
        storagePeak = math.max(storagePeak, storage)
      }
    }
  }
  sc.addSparkListener(listener)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val dm = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      Metrics.this.synchronized { progress += Progress(p.numInputRows, dm) }
    }
  }
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit =
    org.apache.spark.GraftMetricsBridge.waitUntilListenerBusEmpty(sc)

  def counters(): Counters = { drain(); synchronized(c) }

  /** Start a new storage window: from now on only blocks stored after
    * this call count, so the peak of a window does not depend on when
    * earlier garbage was collected. */
  def resetStoragePeak(): Unit = {
    drain()
    synchronized {
      standing = blocks.keySet.toSet
      broadcasts.clear()
      storage = 0L
      storagePeak = 0L
    }
  }

  def storagePeakBytes(): Long = { drain(); synchronized(storagePeak) }

  /** Wall seconds in [t0Ms, t1Ms] during which no task was running. */
  def idleSeconds(t0Ms: Long, t1Ms: Long): Double = {
    drain()
    val iv = synchronized(intervals.toVector)
      .map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    busy += curE - curS
    (t1Ms - t0Ms - busy) / 1e3
  }

  /** Streaming progress events received so far (in arrival order). */
  def progressEvents(): Vector[Progress] = { drain(); synchronized(progress.toVector) }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Metrics {
  val MB: Double = 1024.0 * 1024.0
}
