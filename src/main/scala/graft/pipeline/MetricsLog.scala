package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Per-job/stage instrumentation as a queryable table — the Spark
  * answer to the reference's ELAPSED_MS rows persisted to
  * TS_INS_JOB_LOG (farm_processor.py:131-139, orchestrator.py:
  * 1087-1104, SURVEY §4 "optional listener -> log table"): a
  * SparkListener accumulates job/stage wall-clock and task metrics,
  * `stageSnapshot`/`jobSnapshot` render them as DataFrames for the
  * same `Sinks.appendJobLog`-style sink the run log uses.
  *
  * It is also the one measurement path of every main: cumulative
  * `counters()` (read after draining the listener bus), `measure`
  * (timed reps with per-rep counter deltas) and `digest` (an
  * order-independent content hash).
  *
  * Listener callbacks are driver-side and O(#tasks) — no effect on
  * executor work at any scale.
  */
object MetricsLog {
  // top-level (not inner) so Spark can derive Encoders for toDF
  final case class StageRow(stageId: Int, name: String, numTasks: Int,
                            runTimeMs: Long, cpuTimeMs: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            spillBytes: Long)
  final case class JobRow(jobId: Int, submittedMs: Long, completedMs: Long)

  /** Cumulative totals since the log was installed; subtract two
    * snapshots for the work in between. `sqlExecutions` counts root
    * SQL executions (one per action, however many jobs AQE splits it
    * into). */
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                            inputBytes: Long = 0, spillBytes: Long = 0,
                            sqlExecutions: Long = 0) {
    private def zip(o: Counters)(f: (Long, Long) => Long): Counters = {
      val v = productIterator.zip(o.productIterator)
        .map { case (a: Long, b: Long) => f(a, b) }.toArray
      Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
    }
    def -(o: Counters): Counters = zip(o)(_ - _)
    def +(o: Counters): Counters = zip(o)(_ + _)
    /** Field-wise minimum. */
    def min(o: Counters): Counters = zip(o)(math.min)
    def shuffleMb: Double = shuffleWriteBytes / 1048576.0
    def inputMb: Double = inputBytes / 1048576.0
  }

  /** One timed rep: wall clock (s), the counters it moved, and what it
    * threw, if anything. */
  final case class Rep(sec: Double, delta: Counters, error: Option[Throwable]) {
    def failed: Boolean = error.isDefined
    /** This rep, or its error rethrown. */
    def orThrow: Rep = error.fold(this)(e => throw e)
  }

  /** Min-of-reps: the least clock and the field-wise least counters;
    * carries the first error of any rep. */
  def best(reps: Seq[Rep]): Rep =
    Rep(reps.map(_.sec).min, reps.map(_.delta).reduce(_ min _),
      reps.flatMap(_.error).headOption)

  /** Order-independent content digest: the decimal sum of per-row
    * xxhash64 over the string-cast columns in name order (a long sum
    * overflows under ANSI), and the row count. */
  final case class Digest(hashSum: String, rows: Long) {
    override def toString: String = s"$hashSum/$rows"
  }

  def digest(df: DataFrame): Digest = {
    val cols = df.columns.toSeq.sorted.map(c => col(c).cast("string"))
    val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")), count(lit(1))).head()
    Digest(String.valueOf(row.get(0)), row.getLong(1))
  }

  /** A log listening on `spark`'s bus until `close()`. */
  def install(spark: SparkSession): MetricsLog = {
    val log = new MetricsLog(spark, listening = true)
    spark.sparkContext.addSparkListener(log)
    log
  }

  /** Clocks only: no listener is registered, no drain is ever taken,
    * and every counter stays zero. */
  def clockOnly(spark: SparkSession): MetricsLog =
    new MetricsLog(spark, listening = false)
}

class MetricsLog private (spark: SparkSession, listening: Boolean) extends SparkListener {
  import MetricsLog._

  // written only by the bus's one dispatch thread for this listener
  @volatile private var totals = Counters()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRow]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    stages.add(StageRow(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000L,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    totals = totals.copy(stages = totals.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    totals = totals + (if (m == null) Counters(tasks = 1) else Counters(tasks = 1,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      inputBytes = m.inputMetrics.bytesRead,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobStarts.put(js.jobId, js.time)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStarts.remove(je.jobId)).getOrElse(je.time)
    jobs.add(JobRow(je.jobId, t0, je.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      totals = totals.copy(sqlExecutions = totals.sqlExecutions + 1)
    case _ => ()
  }

  /** Stop listening (a no-op for a clock-only log). */
  def close(): Unit = if (listening) spark.sparkContext.removeSparkListener(this)

  /** The cumulative counters once every event posted so far has been
    * delivered. Events arrive asynchronously, so the bus is drained
    * first; a drain that times out on a loaded box is logged and the
    * possibly-lagging counters are returned — a metrics read must
    * never kill a long run. */
  def counters(): Counters = {
    if (listening) {
      try org.apache.spark.GraftMetricsBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[metrics] listener bus drain timed out; counters may lag")
      }
    }
    totals
  }

  /** Runs `body` `reps` times. Each rep is clocked between two counter
    * reads (the drains stay outside the clock); a rep that throws is
    * marked failed and the later reps still run. After each rep,
    * outside the clock:
    *   - the session's cache is cleared: queries that cache
    *     multi-consumer frames (q42/q44/q91) release them with the
    *     query's lifetime, and stale blocks evicted or GC-thrashed
    *     later queries (q57_rollup: 10.0 s in a suite vs 1.3 s alone);
    *   - a driver GC runs: ContextCleaner releases dead shuffle and
    *     broadcast registrations only after one, and its 30-minute
    *     periodic GC never fires inside a run (~2500 registrations
    *     made q93 take 12.0 s in a suite vs 0.97 s alone). */
  def measure(reps: Int)(body: => Unit): Seq[Rep] = (1 to reps).map { _ =>
    val c0 = counters()
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val delta = counters() - c0
    spark.catalog.clearCache()
    System.gc()
    Rep(sec, delta, error)
  }

  /** Every completed stage so far, in completion order; after a
    * `counters()` read, the rows from index `c.stages` on are the
    * stages completed since the snapshot `c`. */
  def stageRows: Seq[StageRow] = {
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }

  /** Collected stage metrics as a DataFrame (drain-free snapshot). */
  def stageSnapshot(): DataFrame = {
    import spark.implicits._
    stageRows.toDF()
  }

  /** Collected job wall-clocks as a DataFrame. */
  def jobSnapshot(): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    jobs.asScala.toSeq.map(j => (j.jobId, j.submittedMs, j.completedMs,
      j.completedMs - j.submittedMs)).toDF("job_id", "submitted_ms", "completed_ms", "elapsed_ms")
  }
}
