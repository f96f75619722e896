package graft.ops.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucketed PERSISTENT stores for the incremental dedup family — the
  * physical layout that stops every increment from re-shuffling the
  * standing corpus.
  *
  * The incremental shapes ([[Dedup.dedupAgainst]], [[BandStore.probe]]
  * inside the streaming sinks, [[ConnectedComponents.incremental]])
  * all join an increment-sized frame against a standing table that
  * GROWS with the corpus: the band/signature store on
  * (band, band_key), the label registry on (id). Stored as plain
  * parquet, that standing side crosses the wire on EVERY increment —
  * at 100 TB the store is the dominant side and the probe's exchange
  * of it is the whole batch cost. Stored bucketed on the join key
  * (`bucketBy(n, keys).sortBy(keys).saveAsTable`), the scan itself
  * reports `hashpartitioning(keys, n)`, the planner co-locates the
  * join, and ONLY the increment shuffles (to n partitions) — the
  * store side plans with no ExchangeExec at any size
  * (PlanQualitySpec asserts this against the executed plan).
  *
  * Even the store-side hot-bucket CAP (the window count over
  * (band, band_key) that drops degenerate boilerplate buckets) rides
  * the bucketed distribution exchange-free: the window's partition
  * keys equal the bucket keys, so only a within-partition sort is
  * inserted.
  *
  * Catalog caveat: table + bucket metadata live in the session
  * catalog. On a real cluster that is a persistent metastore (or the
  * layout is a Delta/Iceberg table with a bucket/cluster spec); on
  * `local` with the in-memory catalog the metadata lasts one session
  * — re-register with [[BandStore.write]] on restart. The DATA files
  * persist either way under `spark.sql.warehouse.dir`.
  */
object BandStore {

  /** Default bucket count: sized so one bucket of a large store
    * stays a reasonable scan unit; at 100 TB this is a table-level
    * layout decision (hundreds-thousands). */
  val DefaultBuckets = 32

  /** Persist a band frame (`idCol`, band, band_key, ...) bucketed +
    * sorted on the probe key. `mode` "overwrite" creates/replaces;
    * "append" adds files per bucket (the micro-batch posture —
    * hash-partitioning survives multi-file buckets; the within-file
    * sort order is per-append). */
  def write(bands: DataFrame, table: String,
            nBuckets: Int = DefaultBuckets, mode: String = "overwrite"): Unit =
    bands.write.format("parquet")
      .bucketBy(nBuckets, "band", "band_key")
      .sortBy("band", "band_key")
      .mode(mode).saveAsTable(table)

  /** Drop `table` AND its default managed location (a previous JVM's
    * managed-table dirs survive the in-memory catalog, and saveAsTable
    * refuses a leftover location) — the local-session reset before a
    * fresh [[write]]. */
  def reset(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** The standing store with hot buckets dropped: buckets holding
    * more than `maxBucket` STORE rows carry no pairwise signal (the
    * [[Dedup.candidatePairs]] discipline) and would make probe work
    * linear in cluster size. Exchange-free on the bucketed layout —
    * the window keys are the bucket keys. */
  def capped(spark: SparkSession, table: String, maxBucket: Int): DataFrame =
    cappedFrame(spark.table(table), maxBucket)

  /** The cap over any band frame (table- or dir-backed) — ONE
    * definition so the streaming registries and the batch probe can
    * never diverge on cap semantics. */
  def cappedFrame(store: DataFrame, maxBucket: Int): DataFrame = {
    val bw = Window.partitionBy(col("band"), col("band_key"))
    store
      .withColumn("__bn", count(lit(1)).over(bw))
      .filter(col("__bn") <= maxBucket).drop("__bn")
  }

  /** Probe the standing store with an increment's bands: distinct
    * (sid = store id, bid = probe id) collisions sharing a
    * (band, band_key) bucket, with the store-side hot-bucket cap.
    * The store side plans with NO exchange (bucketed scan); the
    * probe side shuffles to the bucket count — increment-sized by
    * construction. Same-id collisions are kept (a probe doc re-using
    * a stored id is a duplicate by definition); callers that verify
    * by content filter them out first. */
  def probe(spark: SparkSession, table: String, probeBands: DataFrame,
            idCol: String, maxBucket: Int = 64): DataFrame =
    probeBands
      .join(capped(spark, table, maxBucket)
        .withColumnRenamed(idCol, "__sid"), Seq("band", "band_key"))
      .select(col("__sid").as("sid"), col(idCol).as("bid"))
      .distinct()

  /** Register-or-reuse the STREAMING band store: a batch_id-
    * partitioned + (band, band_key)-bucketed table at a FIXED
    * location. The fixed location makes the store survive an
    * in-memory-catalog restart (table metadata dies with the session;
    * the bucketed FILES — whose names carry their bucket ids — do
    * not): a fresh session re-registers the same location with the
    * same bucket spec and recovers the batch partitions. Fails
    * LOUDLY if the location holds parquet files WITHOUT bucket-id
    * file names (a store written by the unbucketed parquet path —
    * reading those through a bucketed table would assign rows to
    * wrong buckets and silently MISS probe matches, the worst
    * possible failure for a dedup store). */
  def ensureStreamStore(spark: SparkSession, table: String, location: String,
                        idCol: String,
                        nBuckets: Int = DefaultBuckets,
                        idType: org.apache.spark.sql.types.DataType =
                          org.apache.spark.sql.types.LongType): Unit = {
    if (spark.catalog.tableExists(table)) return
    val loc = new org.apache.hadoop.fs.Path(location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) fs.mkdirs(loc) // RECOVER PARTITIONS lists it
    if (fs.exists(loc)) {
      val files = fs.listFiles(loc, true)
      val bucketName = ".*_(\\d{5})(\\.c\\d+)?\\..*parquet".r
      while (files.hasNext) {
        val name = files.next().getPath.getName
        if (name.endsWith(".parquet") && bucketName.findFirstIn(name).isEmpty)
          throw new IllegalStateException(
            s"$location holds non-bucketed parquet '$name'; a bucketed " +
              "stream store cannot read it correctly — use the parquet " +
              "store path for this location or start a fresh one")
      }
    }
    // bucket-COUNT pin: files written under one count read WRONG
    // through a table declaring another (the reader trusts the
    // file-name bucket id) — the same silent-miss failure the
    // non-bucketed check guards. The count is recorded at creation
    // and re-registration must match it.
    val pin = new org.apache.hadoop.fs.Path(loc, "_graft_buckets")
    if (fs.exists(pin)) {
      val in = fs.open(pin)
      val recorded =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      if (recorded != nBuckets)
        throw new IllegalStateException(
          s"$location was written with $recorded buckets; re-registering " +
            s"it as $nBuckets would silently mis-bucket every probe — " +
            "pass the original bucket count")
    } else {
      val out = fs.create(pin, true)
      try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
    // the id column's type comes from the CALLER's band frame
    // (`idType`) — a hard-coded BIGINT would let a string-id caller
    // insertInto positionally with a silent cast. band/band_key stay
    // pinned: they are the [[Dedup.lshBands]] contract (INT band
    // index, STRING band hash) and the bucket keys; [[writeBatch]]
    // re-validates all three types against the live table per batch.
    spark.sql(
      s"""CREATE TABLE `$table` (`$idCol` ${idType.sql}, `band` INT,
         |  `band_key` STRING, `batch_id` BIGINT)
         |USING parquet PARTITIONED BY (batch_id)
         |CLUSTERED BY (band, band_key) SORTED BY (band, band_key)
         |INTO $nBuckets BUCKETS
         |LOCATION '$location'""".stripMargin)
    spark.sql(s"ALTER TABLE `$table` RECOVER PARTITIONS")
  }

  /** Write one micro-batch's bands into the streaming store,
    * overwriting the batch's OWN batch_id partition (dynamic
    * overwrite = at-least-once replay idempotence, the
    * foreachBatch contract) while keeping the bucketed layout. */
  def writeBatch(spark: SparkSession, table: String, bands: DataFrame,
                 idCol: String, batchId: Long): Unit = {
    // insertInto is POSITIONAL with implicit casts: a band frame whose
    // (id, band, band_key) types differ from the table's would write
    // silently-truncated values into a DEDUP store (missed probe
    // matches, no error). Validate loudly per batch instead.
    val got = bands.select(col(idCol), col("band"), col("band_key"))
    val want = spark.table(table).schema.take(3)
    got.schema.zip(want).foreach { case (g, w) =>
      if (g.dataType != w.dataType)
        throw new IllegalArgumentException(
          s"writeBatch($table): band frame column '${g.name}' has type " +
            s"${g.dataType.sql} but the store column '${w.name}' is " +
            s"${w.dataType.sql}; a positional insertInto would cast " +
            "silently — register the store with the matching idType " +
            "(ensureStreamStore) or fix the band frame")
    }
    // STATIC partition spec instead of dynamic-overwrite mode: an
    // INSERT OVERWRITE that names its partition literally replaces
    // exactly that partition under EITHER partitionOverwriteMode, so
    // nothing toggles the session conf (a concurrent write in the
    // same session could observe a mid-toggle value — the previous
    // implementation's race) and nothing depends on per-write options
    // being honored for insertInto (they are NOT on this Spark:
    // spec-verified — the option path wiped sibling partitions).
    // Replay idempotence + other-partition preservation are pinned in
    // PersistentStoresSpec with the session conf forced to static.
    //
    // localCheckpoint breaks lineage FIRST: the streaming sinks'
    // band frames derive from a PROBE of this very table, and the
    // analyzer rejects an overwrite whose source scans the target
    // (UNSUPPORTED_OVERWRITE) even though only the batch's own
    // partition is replaced. The materialization is increment-sized;
    // durability is not needed — a crash before the insert commits
    // replays the whole micro-batch.
    val src = got.localCheckpoint()
    val view = "graft_wb_" + java.util.UUID.randomUUID().toString.replace("-", "")
    src.createOrReplaceTempView(view)
    try spark.sql(
      s"INSERT OVERWRITE TABLE `$table` PARTITION (batch_id=$batchId) " +
        s"SELECT * FROM `$view`")
    finally {
      spark.catalog.dropTempView(view)
      graft.ops.Materialize.release(src)
    }
  }

  /** Cross-session store-reader refresh — the companion of
    * [[compactStreamStore]]'s rewrite semantics: a compaction after
    * the first REWRITES the files of the existing consolidated
    * partition, and while the INVOKING session's cached relation is
    * refreshed by the INSERT command itself (spec-pinned), any OTHER
    * session that listed the table earlier (a monitoring query, a
    * batch probe session next to the stream) holds a stale file
    * listing and dies with FILE_NOT_EXIST on its next read. Every
    * read path that does not own the stream calls this before
    * reading: REFRESH TABLE drops the stale listing, and the listing
    * sanity probe (a minimal limit(1) scan) turns any remaining
    * staleness into a LOUD failure here rather than a confusing one
    * mid-query. The round-15 StreamDecade harness hit exactly this
    * edge from its monitoring session. */
  def refreshStore(spark: SparkSession, table: String): Unit = {
    spark.sql(s"REFRESH TABLE `$table`")
    // sanity probe: the refreshed listing must actually resolve —
    // reads one row of one file at most
    spark.table(table).limit(1).collect()
  }

  /** The reserved batch_id partition holding compacted history
    * ([[compactStreamStore]]); stream batch ids are non-negative and
    * -1 is the migrated-roots partition, so -2 never collides. */
  val CompactedBatchId = -2L

  private def compactPaths(location: String) = {
    val loc = new org.apache.hadoop.fs.Path(location)
    (loc,
      new org.apache.hadoop.fs.Path(loc, "_graft_compact_staging"),
      new org.apache.hadoop.fs.Path(loc, "_graft_compacting"),
      new org.apache.hadoop.fs.Path(loc, "_graft_compacted"))
  }

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fold every batch partition with batch_id <= `maxBatchId`
    * (including a previous compaction's [[CompactedBatchId]] partition
    * and the migrated-roots -1) into ONE consolidated
    * `batch_id=-2` partition — [[writeBatch]] appends one file-set
    * per micro-batch per bucket, so after 10k batches every probe
    * opens ~10k files per bucket; compaction restores one-file-per-
    * bucket without ever leaving the bucketed layout (the rewrite
    * repartitions by the bucket keys to the PINNED bucket count —
    * Spark's bucket id is the same murmur3 pmod as HashPartitioning,
    * so each write task holds exactly one bucket and emits exactly
    * one file; the no-store-exchange probe property is unchanged,
    * spec-pinned).
    *
    * Crash protocol (every window replay-safe; [[recoverCompaction]]
    * heals on the next call and the streaming sinks run it at every
    * batch start):
    *  1. stage: all folded rows are copied to `_graft_compact_staging`
    *     (plain durable parquet), THEN the `_graft_compacting`
    *     manifest (the folded batch-id list) is written — manifest
    *     present certifies the staging copy is complete;
    *  2. apply: INSERT OVERWRITE of the -2 partition from staging
    *     (staging, not the table, is the source — a previous -2 is
    *     among the FOLDED partitions, and overwriting it while
    *     reading it would destroy rows mid-write), then the
    *     `_graft_compacted` marker;
    *  3. cleanup: drop + delete every folded partition except -2,
    *     then staging, marker, manifest.
    *
    * A crash before the manifest leaves a partial staging dir
    * (deleted on recovery, store untouched); before the marker, the
    * apply re-runs from staging (partition overwrite = idempotent);
    * after the marker, cleanup finishes. Between apply and cleanup a
    * reader sees folded rows TWICE — [[probe]]'s pair output is
    * distinct so probe results are unchanged, except that doubled
    * counts can push a near-cap bucket over the hot-bucket cap; the
    * streaming sinks never read in that window (compaction and
    * probes share the serial foreachBatch), and recovery closes it
    * at the next batch start.
    *
    * MUST NOT run concurrently with a [[writeBatch]] of a folded
    * batch id or with another compaction of the same store — the
    * streaming sinks satisfy this by running it inside their own
    * foreachBatch. Only compact batch ids at or below the stream's
    * last COMMITTED batch (a replayed in-flight batch rewrites its
    * own partition; folding it first would resurrect it twice).
    *
    * Cross-session readers: a compaction after the first REWRITES
    * the files of the existing consolidated partition, and Spark's
    * standard rewrite semantics apply — the invoking session's
    * cached relation is refreshed by the INSERT command itself
    * (spec-pinned), but any OTHER session that listed the table
    * earlier (a monitoring query, a batch probe session next to the
    * stream) holds a stale file listing until it runs REFRESH TABLE,
    * and reads fail with FILE_NOT_EXIST until it does. */
  def compactStreamStore(spark: SparkSession, table: String, location: String,
                         maxBatchId: Long): Unit = {
    recoverCompaction(spark, table, location)
    if (stageCompaction(spark, table, location, maxBatchId)) {
      applyCompaction(spark, table, location)
      cleanupCompaction(spark, table, location)
    }
  }

  /** Heal a crashed [[compactStreamStore]] — cheap (three fs.exists)
    * when there is nothing to do; the streaming sinks call it at
    * every batch start so a crash window never outlives one batch. */
  def recoverCompaction(spark: SparkSession, table: String,
                        location: String): Unit = {
    val (_, staging, manifest, marker) = compactPaths(location)
    val fs = fsOf(spark, staging)
    if (fs.exists(marker)) { // apply committed; finish the deletes
      cleanupCompaction(spark, table, location)
    } else if (fs.exists(manifest)) { // staging complete; redo apply
      applyCompaction(spark, table, location)
      cleanupCompaction(spark, table, location)
    } else if (fs.exists(staging)) { // partial staging: discard it
      fs.delete(staging, true)
    }
  }

  /** Partition ids currently live in the store's catalog metadata. */
  private def livePartitions(spark: SparkSession, table: String): Seq[Long] =
    spark.sql(s"SHOW PARTITIONS `$table`").collect().toSeq
      .map(_.getString(0).stripPrefix("batch_id=").toLong)

  /** Step 1: durable staging copy + manifest. Returns false (and
    * stages nothing) when fewer than two partitions would fold —
    * compacting a lone partition is pure write amplification. */
  private[graft] def stageCompaction(spark: SparkSession, table: String,
                                     location: String,
                                     maxBatchId: Long): Boolean = {
    val (_, staging, manifest, _) = compactPaths(location)
    val fs = fsOf(spark, staging)
    val fold = livePartitions(spark, table).filter(_ <= maxBatchId).sorted
    if (fold.length < 2) return false
    spark.table(table)
      .filter(col("batch_id").isin(fold: _*))
      .drop("batch_id")
      .write.mode("overwrite").parquet(staging.toString)
    val out = fs.create(manifest, true)
    try out.write(fold.mkString("\n").getBytes("UTF-8")) finally out.close()
    true
  }

  private def readCompactManifest(spark: SparkSession,
                                  location: String): Seq[Long] = {
    val (_, _, manifest, _) = compactPaths(location)
    val fs = fsOf(spark, manifest)
    // a marker WITHOUT a manifest is the cleanup's own final crash
    // window (the manifest is deleted before the marker, after every
    // listed partition is already dropped) — nothing left to fold
    if (!fs.exists(manifest)) return Nil
    val in = fs.open(manifest)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).map(_.toLong).toList
    finally in.close()
  }

  /** Step 2: rewrite staging into the -2 partition (one file per
    * bucket) and commit the marker. */
  private[graft] def applyCompaction(spark: SparkSession, table: String,
                                     location: String): Unit = {
    val (_, staging, _, marker) = compactPaths(location)
    val fs = fsOf(spark, staging)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val nBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalStateException(s"$table has no bucket spec"))
    // explicit schema: staging can be exists-but-empty after a crash
    // during an empty-store compaction, and inference would throw
    val dataSchema = org.apache.spark.sql.types.StructType(
      spark.table(table).schema.filterNot(_.name == "batch_id"))
    val staged = spark.read.schema(dataSchema).parquet(staging.toString)
      .repartition(nBuckets, col("band"), col("band_key"))
    val view = "graft_compact_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    staged.createOrReplaceTempView(view)
    try spark.sql(
      s"INSERT OVERWRITE TABLE `$table` PARTITION (batch_id=$CompactedBatchId) " +
        s"SELECT * FROM `$view`")
    finally spark.catalog.dropTempView(view)
    fs.create(marker, true).close()
  }

  /** Step 3: drop the folded partitions (except -2, which now holds
    * their rows) and the protocol files. Delete ORDER is the crash
    * protocol: partitions (manifest-listed) → staging → manifest →
    * marker LAST, so every interrupted state recovers — the marker
    * outliving the manifest means the drops already ran, and the
    * apply branch (manifest without marker) always still has its
    * staging copy. */
  private[graft] def cleanupCompaction(spark: SparkSession, table: String,
                                       location: String): Unit = {
    val (loc, staging, manifest, marker) = compactPaths(location)
    val fs = fsOf(spark, staging)
    readCompactManifest(spark, location)
      .filter(_ != CompactedBatchId).foreach { b =>
        spark.sql(
          s"ALTER TABLE `$table` DROP IF EXISTS PARTITION (batch_id=$b)")
        fs.delete(new org.apache.hadoop.fs.Path(loc, s"batch_id=$b"), true)
      }
    fs.delete(staging, true)
    fs.delete(manifest, false)
    fs.delete(marker, false)
  }

  /** Incremental near-dup against a PERSISTED standing corpus — the
    * [[Dedup.dedupAgainst]] shape with the reference side read from
    * its bucketed band store instead of re-signed and re-shuffled
    * per increment:
    *
    *   1. the batch signs map-only ([[Dedup.minHashText]]) and probes
    *      the store ([[probe]]: no store-side exchange);
    *   2. verification reads ONLY the collided standing docs' text
    *      back from `storeDocs` (candidate semi-join — sublinear),
    *      unions the batch text, and runs the exact shingle-Jaccard
    *      gate with shingles derived AFTER the restriction.
    *
    * Ids must identify docs across store ∪ batch (same-id = same
    * doc: such collisions verify at jaccard 1 through the text path
    * when the text is identical, exactly like any exact re-crawl).
    * Output: the [[Dedup.jaccardTextReleasable]] columns over (id_a, id_b) =
    * (min, max) of each (store, batch) pair, plus `sid`/`bid`.
    * Cap-semantics note vs [[Dedup.dedupAgainst]]: the hot-bucket cap
    * counts STORE rows per bucket here (the store is the unbounded
    * side) where the union form counts ref+batch rows — outputs can
    * differ only for buckets within batch-size of the cap.
    *
    * `use` runs its actions over the verified frame; internal caches
    * release in a finally (the scoped discipline). */
  def dedupAgainstStoreScoped[A](spark: SparkSession, bandTable: String,
                                 storeDocs: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 k: Int = 3, n: Int = 16, rowsPerBand: Int = 4,
                                 maxBucket: Int = 64)(use: DataFrame => A): A = {
    val batchBands = Dedup.lshBands(
      Dedup.minHashText(batch, idCol, textCol, k, n), idCol, n, rowsPerBand)
    val coll = probe(spark, bandTable, batchBands, idCol, maxBucket)
      .filter(col("sid") =!= col("bid"))
    val cand = coll.select(
      least(col("sid"), col("bid")).as("id_a"),
      greatest(col("sid"), col("bid")).as("id_b"),
      col("sid"), col("bid")).distinct()
    val corpus = storeDocs.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    Dedup.jaccardTextScoped(cand, corpus, idCol, textCol, k)(use)
  }
}

/** Bucketed persistent (id, component) label registry — the standing
  * side of [[ConnectedComponents.incremental]]. Bucketed on `id`, the
  * two contraction joins (increment edges → standing labels) and the
  * final relabel read the registry with no exchange; only the
  * increment shuffles. See [[BandStore]] for the layout rationale.
  *
  * Session-catalog caveat, STRONGER than BandStore's: the registry
  * lives in MANAGED tables (the swap protocol renames them, which
  * moves managed locations), so with the in-memory catalog BOTH the
  * metadata and the reachable name die with the JVM while the files
  * survive under the warehouse dir — a later [[write]] to the same
  * name then refuses the leftover location. Call [[reset]] before
  * re-creating a table after a crashed LOCAL session (accepting that
  * the dead session's registry data goes with it), or run on a
  * persistent metastore where [[recover]]'s catalog-side healing
  * actually spans restarts — that is the cluster posture this store
  * is designed for. */
object LabelStore {

  /** One row per id is the registry's contract; the streaming
    * parquet-registry path enforces it through MergeSink's gate, so
    * the LabelStore path must too — one registry facade, one
    * behavior on a duplicate-id frame. */
  private def requireIdUnique(labels: DataFrame, what: String): Unit = {
    val dup = labels.groupBy(col("id"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"$what: multiple label rows for id ${dup.headOption.orNull} — " +
        "the registry is one row per id; fix the producer")
  }

  /** Persist (id, component) labels bucketed + sorted on id. */
  def write(labels: DataFrame, table: String,
            nBuckets: Int = BandStore.DefaultBuckets): Unit = {
    requireIdUnique(labels, s"LabelStore.write($table)")
    labels.write.format("parquet")
      .bucketBy(nBuckets, "id").sortBy("id")
      .mode("overwrite").saveAsTable(table)
  }

  /** Drop the registry AND its staging twin, catalog and leftover
    * managed locations both — the local-session unwedge after a JVM
    * crash left orphaned warehouse dirs (see the object scaladoc).
    * DESTROYS the registry data; a durable registry needs a
    * persistent metastore. */
  def reset(spark: SparkSession, table: String): Unit = {
    BandStore.reset(spark, table)
    BandStore.reset(spark, table + "_staging")
  }

  /** Fold a batch of verified near-dup edges into the persisted
    * registry: [[ConnectedComponents.incremental]] over the bucketed
    * table, then an all-or-nothing swap write-back. Returns the
    * updated label count. */
  def incremental(spark: SparkSession, table: String, newEdges: DataFrame,
                  nBuckets: Int = BandStore.DefaultBuckets,
                  maxIter: Int = 20): Long = {
    recover(spark, table)
    val updated =
      ConnectedComponents.incremental(spark.table(table), newEdges, maxIter)
    swapWrite(spark, table, updated, nBuckets)
    spark.table(table).count()
  }

  /** Replace `table` with `labels` even though `labels` READS from
    * `table` (the incremental update's shape — Spark rejects a direct
    * self-overwrite): write to a staging table first, then drop +
    * rename. The rename is a catalog metadata operation; a crash
    * between the drop and the rename leaves the staging table as the
    * durable copy, healed by [[recover]] on the next call (the
    * [[graft.sinks.Sinks.recoverOrphan]] protocol, catalog-side). On
    * a transactional format (Delta/Iceberg) this whole method is one
    * MERGE/REPLACE commit. */
  def swapWrite(spark: SparkSession, table: String, labels: DataFrame,
                nBuckets: Int = BandStore.DefaultBuckets): Unit = {
    val staging = table + "_staging"
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    labels.write.format("parquet")
      .bucketBy(nBuckets, "id").sortBy("id")
      .saveAsTable(staging)
    // gate on the STAGING table (the durable materialization — a
    // non-deterministic source cannot pass the check with one row set
    // and commit another), BEFORE anything destructive: a duplicate-id
    // frame aborts with the live table untouched
    requireIdUnique(spark.table(staging), s"LabelStore.swapWrite($table)")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
  }

  /** Heal [[swapWrite]]'s drop-then-rename window: if the live table
    * is missing but its staging twin exists, the staging copy is the
    * committed state — promote it. */
  def recover(spark: SparkSession, table: String): Unit = {
    val staging = table + "_staging"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging))
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
  }
}
