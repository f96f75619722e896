package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.pipeline.MetricsLog
import graft.sinks.Sinks

class MetricsCompactSpec extends SparkSpec {
  import spark.implicits._

  test("MetricsLog captures stage and job metrics for a real query") {
    val log = MetricsLog.install(spark)
    try {
      (1 to 10000).toDF("x").groupBy(col("x") % 7).count().collect()
      // listener events are posted asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (log.stageSnapshot().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val stages = log.stageSnapshot()
      assert(stages.count() >= 2, "groupBy needs at least map+reduce stages")
      assert(stages.filter(col("shuffleWriteBytes") > 0).count() >= 1,
        "the map stage must record shuffle write")
      val jobs = log.jobSnapshot().collect()
      assert(jobs.nonEmpty && jobs.forall(_.getLong(3) >= 0))
    } finally log.close()
  }

  test("MetricsLog counters equal an independent listener's job, task and shuffle-write totals") {
    val jobs, tasks, shuffle = new AtomicLong
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskMetrics != null)
          shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    val log = MetricsLog.install(spark)
    spark.sparkContext.addSparkListener(probe)
    try {
      // both start from the same drained point
      val c0 = log.counters()
      Seq(jobs, tasks, shuffle).foreach(_.set(0))
      (1 to 10000).toDF("x").groupBy(col("x") % 7).count().collect()
      val d = log.counters() - c0
      assert(d.jobs > 0 && d.shuffleWriteBytes > 0)
      assert((d.jobs, d.tasks, d.shuffleWriteBytes) == ((jobs.get, tasks.get, shuffle.get)))
      assert(d.sqlExecutions == 1, "one collect is one root SQL execution")
    } finally {
      spark.sparkContext.removeSparkListener(probe)
      log.close()
    }
  }

  test("measure's per-rep deltas sum to the counters' change over the whole call") {
    val log = MetricsLog.install(spark)
    try {
      val c0 = log.counters()
      val reps = log.measure(3)((1 to 5000).toDF("x").groupBy(col("x") % 5).count().collect())
      val whole = log.counters() - c0
      assert(reps.length == 3 && reps.forall(r => !r.failed && r.delta.jobs > 0))
      assert(reps.map(_.delta).reduce(_ + _) == whole)
    } finally log.close()
  }

  test("measure: a rep that throws is marked failed and the later reps still run") {
    val log = MetricsLog.install(spark)
    try {
      var calls = 0
      val reps = log.measure(3) {
        calls += 1
        if (calls == 2) throw new IllegalStateException("rep 2 fails")
        spark.range(100).count()
      }
      assert(calls == 3)
      assert(reps.map(_.failed) == Seq(false, true, false))
      assert(reps(1).error.exists(_.getMessage == "rep 2 fails"))
      assert(MetricsLog.best(reps).failed)
    } finally log.close()
  }

  test("digest ignores row order and partitioning and moves with any one value") {
    val df = (1 to 1000).map(i => (i, s"v$i", i * 0.5)).toDF("a", "b", "c")
    val d = MetricsLog.digest(df)
    assert(d.rows == 1000)
    assert(MetricsLog.digest(df.repartition(7)) == d)
    val changed = df.withColumn("b", when(col("a") === 500, lit("w500")).otherwise(col("b")))
    assert(MetricsLog.digest(changed) != d)
  }

  test("writeSorted produces range-disjoint files that prune selective scans") {
    val path = Files.createTempDirectory("graft_sorted").toString + "/t"
    val df = (1 to 100000).map(i => (i % 365, i.toLong)).toDF("day", "id")
    Sinks.writeSorted(df, path, Seq("day"), nFiles = 8)
    // each file's day-range must be disjoint: read per-file min/max
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("day"))
      .groupBy("f").agg(min("day").as("lo"), max("day").as("hi"))
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(perFile.length == 8)
    perFile.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file ranges must not interleave: $perFile")
    }
    // a selective filter must read back correct results (stats-pruned)
    assert(spark.read.parquet(path).filter(col("day") === 17).count() ===
      df.filter(col("day") === 17).count())
  }

  test("writeZOrdered bounds per-file ranges in BOTH dimensions") {
    val path = Files.createTempDirectory("graft_z").toString + "/t"
    // a 256x256 grid: a 1-D sort on x would leave y spanning the
    // full range in every file
    val df = (0 until 65536).map(i => (i % 256, i / 256)).toDF("x", "y")
    Sinks.writeZOrdered(df, path, "x", "y", nFiles = 16)
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(perFile.length == 16)
    val avgSx = perFile.map(_._1).sum.toDouble / perFile.length
    val avgSy = perFile.map(_._2).sum.toDouble / perFile.length
    // z-order: both dims bounded well below the global span of 255
    assert(avgSx < 160 && avgSy < 160, s"avg spans sx=$avgSx sy=$avgSy")
    assert(spark.read.parquet(path).count() == 65536)
  }

  test("compact rewrites many small files into few, preserving rows") {
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    (1 to 5000).toDF("x").repartition(64).write.parquet(path)
    def parts = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts == 64)
    Sinks.compact(spark, path, targetMb = 128)
    assert(parts <= 2, s"expected few files after compaction, got $parts")
    assert(spark.read.parquet(path).count() == 5000)
    assert(spark.read.parquet(path).agg(sum("x")).head.getLong(0) == 5000L * 5001 / 2)
  }
}
