package graft.ops

import org.apache.spark.sql.DataFrame

/** Eager materialization into a plan LEAF with DETERMINISTIC storage
  * release — the shared machinery behind ConnectedComponents'
  * superstep checkpoints and DistributedRank's materialize-once input
  * (expensive iterative upstreams under a range shuffle).
  *
  * leafCache = `localCheckpoint(eager = true)`: downstream plans see a
  * LogicalRDD leaf (no re-analysis of the upstream tree, no
  * re-execution of the upstream jobs) backed by stored InternalRows.
  * release() frees those blocks NOW instead of pinning them until some
  * future driver GC lets ContextCleaner run — the difference between a
  * bounded-storage loop and a slow leak in a long-lived session.
  *
  * Durability caveat: localCheckpoint trades lineage recoverability
  * away — an executor loss after release fails the job instead of
  * recomputing. On a cluster, a reliable checkpoint()/staging table is
  * the durable variant. */
object Materialize {

  /** Materialize `df` eagerly into a lineage-free leaf. Pair with
    * [[release]] once the frame's DATA is no longer needed. */
  def leafCache(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** A bound on `df`'s row count known at plan time, with no job: the
    * optimized plan's static `maxRows` (a batch of driver-side rows, a
    * LIMIT), otherwise the row count of a cached frame whose cache is
    * filled, read from the cached relation's statistics. None when
    * neither holds (an unfilled cache, a file scan): the caller counts.
    * The frame is re-planned against the session's current cache, so
    * a frame cached after its own plan was built reads as its cache. */
  def rowBound(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.maxRows.orElse(
      df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)
        .optimizedPlan match {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if r.cacheBuilder.isCachedColumnBuffersLoaded =>
          r.stats.rowCount.map(_.toLong)
        case _ => None
      })

  /** Session conf key selecting [[localize]]'s cluster-scale path:
    * when set (non-empty), localize writes a staging parquet table
    * under this directory instead of collecting to the driver. */
  val StagingDirKey = "graft.localize.stagingDir"

  /** Materialize `df` into a self-contained relation that pins
    * nothing — no cached/checkpointed blocks, no upstream lineage —
    * so query-shaped callers that cannot release() after their
    * consumer's action get deterministic cleanup anyway (the
    * minLabelLocalized discipline). ONLY for corpus-SUBLINEAR results
    * (verified near-dup pairs, component labels, per-group reports).
    *
    * Two bit-equal paths (OpsSpec's "localize staging path" case
    * proves the equivalence):
    *  - default: driver collect into a LocalRelation — right when the
    *    result is small enough to live on the driver (the local[32]
    *    test posture);
    *  - [[StagingDirKey]] set: a staging-table write + fresh scan
    *    (names/types/data identical; nullability flags widen — Spark
    *    marks every file-source column nullable by design) —
    *    the cluster posture: the result never visits the driver, the
    *    returned frame is an ordinary parquet leaf whose (sublinear)
    *    size lets Spark broadcast it downstream, and durability comes
    *    from the filesystem instead of executor memory. Staging
    *    tables accumulate one per call (iterative callers — the
    *    k-core loop, incremental CC — localize every round): call
    *    [[clearStaging]] at a point where no localized frame is
    *    still live (job boundary) to reclaim them.
    *
    * Staging tables are namespaced PER APPLICATION
    * (`dir/<applicationId>/localize_<uuid>`): two Spark processes
    * sharing one staging dir (bench + verify on one box) must not be
    * able to delete each other's live lazy staging scans via
    * [[clearStaging]] — each application reclaims only its own
    * namespace. */
  def localize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(StagingDirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val path = appStagingDir(spark, dir) + "/localize_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        df.write.mode("overwrite").parquet(path)
        spark.read.schema(df.schema).parquet(path)
      case None =>
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
  }

  /** This application's staging namespace under `dir` — the unit
    * [[clearStaging]] reclaims. */
  private def appStagingDir(spark: org.apache.spark.sql.SparkSession,
                            dir: String): String =
    dir.stripSuffix("/") + "/" + spark.sparkContext.applicationId

  /** Reclaim every staging table THIS application's [[localize]]
    * calls have written under the configured [[StagingDirKey]]
    * directory (the per-application namespace only — another
    * process's live staging scans under the same shared dir are
    * never touched). ONLY safe when no frame returned by the staged
    * path is still consumed (they are lazy parquet scans — deleting
    * under a live one fails its next action): the job-boundary
    * counterpart of [[release]] for the cluster posture. No-op when
    * the key is unset or the dir absent. */
  def clearStaging(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.getOption(StagingDirKey).filter(_.nonEmpty).foreach { dir =>
      import org.apache.hadoop.fs.Path
      val p = new Path(appStagingDir(spark, dir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** Reclaim OTHER applications' staging namespaces whose last
    * modification is older than `olderThanMs` — the garbage left by
    * crashed/killed runs, which per-application [[clearStaging]]
    * deliberately never touches (a live sibling's staging scans must
    * survive). Age is the only liveness signal a shared dir offers:
    * pick a threshold comfortably above any legitimate job's idle
    * span (default 7 days). Explicit opt-in for an operator/cron —
    * never called implicitly. */
  def clearStaleStaging(spark: org.apache.spark.sql.SparkSession,
                        olderThanMs: Long = 7L * 24 * 3600 * 1000): Unit =
    spark.conf.getOption(StagingDirKey).filter(_.nonEmpty).foreach { dir =>
      import org.apache.hadoop.fs.Path
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cutoff = System.currentTimeMillis() - olderThanMs
      val self = spark.sparkContext.applicationId
      if (fs.exists(p))
        fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName != self &&
            s.getModificationTime < cutoff)
          .foreach(s => fs.delete(s.getPath, true))
    }

  /** Free a leafCache'd frame's stored blocks NOW. Only safe once the
    * frame's data is no longer needed (consumer's action finished, or
    * the data provably lives on elsewhere — e.g. in already-written
    * shuffle files whose stages will be skipped).
    *
    * Fails LOUDLY (stderr; an exception is avoided — a release is
    * cleanup, not a correctness step) if the plan shape is not the
    * LogicalRDD leaf localCheckpoint(true) produces: a Spark upgrade
    * that changes the shape would otherwise turn every call into a
    * silent storage leak — the exact pinning problem this object
    * exists to prevent. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case other =>
        System.err.println(
          "[graft.Materialize] release() expected a LogicalRDD leaf " +
            s"but saw ${other.getClass.getSimpleName}: the " +
            "localCheckpoint plan shape changed and checkpoint storage " +
            "is now being LEAKED until driver GC. Fix release() for " +
            "this Spark version.")
    }
}
