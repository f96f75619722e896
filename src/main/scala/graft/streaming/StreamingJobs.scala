package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sinks.Sinks

/** Structured Streaming formulation of the reference's micro-batch
  * ingestion (SURVEY §2.9: the hourly weather cron + keyed MERGE is
  * streaming-shaped work). Not required for parity — the reference has
  * no streams — but the natural Spark evolution: a stream of
  * category/observation rows continuously upserted into the daily
  * table, with watermarked windowed aggregation for derived stats.
  */
object StreamingJobs {

  /** Watermarked tumbling-window aggregation over an event stream
    * (events -> per-window, per-type counts and sums). */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
                     watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-stream INTERVAL join (impression->click attribution, the
    * canonical two-stream pattern): clicks attach to impressions of
    * the same user within `joinWindow` after the impression. Both
    * sides carry watermarks and the join condition carries the time
    * range, so Spark derives a state-retention bound for EACH side —
    * without the range + watermarks the state store would hold both
    * streams forever (Spark rejects that combination in append mode
    * for exactly this reason). State is keyed by user and partitioned
    * by the join keys — the 100 TB/day shape. `joinType` "inner"
    * emits matches as they arrive; "left_outer" additionally emits
    * (impression, null click) once the watermark proves no click can
    * arrive — the unclicked-impression feed. */
  def intervalJoinStream(imps: DataFrame, clicks: DataFrame,
                         joinWindow: String = "15 minutes",
                         watermark: String = "30 minutes",
                         joinType: String = "inner"): DataFrame = {
    val i = imps.select(col("user_id"), col("imp_id"), col("i_ts"))
      .withWatermark("i_ts", watermark)
    val c = clicks.select(col("user_id").as("c_user"), col("click_id"), col("c_ts"))
      .withWatermark("c_ts", watermark)
    i.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("i_ts") &&
          col("c_ts") <= col("i_ts") + expr(s"interval $joinWindow"),
        joinType)
      .select(col("user_id"), col("imp_id"), col("click_id"),
        col("i_ts"), col("c_ts"))
  }

  /** Custom keyed state across micro-batches (SURVEY §2.9 /
    * KeyValueGroupedDataset.mapGroupsWithState): per-key running
    * aggregates that survive batch boundaries — the building block
    * for sessionization / dedup-across-batches at 100 TB stream
    * scale. Emits (key, events_in_batch, events_total) per batch. */
  def runningCounts(events: org.apache.spark.sql.Dataset[(Long, Double)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = rows.size.toLong
          val total = state.getOption.getOrElse(0L) + n
          state.update(total)
          (key, n, total)
      }
      .toDF("user_id", "n_batch", "n_total")
  }

  /** Windowed distinct actives via the HLL sketch aggregate (q146's
    * stream face): watermarked tumbling windows, per-window
    * `graft_hll` — the state store carries ONE 64-byte register
    * buffer per open window instead of a distinct user-id set.
    * `countDistinct` is unbounded state and Spark rejects it in
    * streaming for exactly that reason; the sketch is the shape that
    * survives a 100 TB/day stream, and its estimates match the batch
    * q146 registers bit-for-bit (same hash contract). */
  def activesStream(events: DataFrame, tsCol: String, windowLen: String,
                    watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.functions.HyperLogLog.hll(
        col("user_id").cast("string")).as("n_active_est"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_active_est"))

  /** Windowed latency/size quantiles via the HDR-histogram sketch
    * aggregate (q150's stream face): watermarked tumbling windows,
    * per-window `graft_hdr` — 1888 integer counters per open window
    * where an exact percentile would hold every value. The streamed
    * sketch equals the batch sketch of the same window bit-for-bit
    * (bucket-of-value is a pure function; counter sums commute
    * across micro-batches), so p50/p95/p99 read-outs agree with
    * any batch backfill — the reconciliation property a monitoring
    * pipeline needs. */
  def quantileStream(events: DataFrame, tsCol: String, valueCol: String,
                     windowLen: String, watermark: String): DataFrame = {
    import graft.functions.HdrHistogram
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(HdrHistogram.hdr(col(valueCol).cast("long")).as("sk"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        HdrHistogram.quantile(col("sk"), 1, 2).as("p50"),
        HdrHistogram.quantile(col("sk"), 99, 100).as("p99"),
        HdrHistogram.total(col("sk")).as("n"))
  }

  /** Streaming exact dedup (the corpus dedup family's stream face):
    * drop re-ingested duplicates by content key across micro-batches,
    * bounded by a watermark so the dedup state is evictable — the
    * only shape that survives an unbounded 100 TB/day ingest (state
    * holds one key per document seen inside the watermark horizon,
    * not the corpus). */
  def dedupStream(docs: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Session windows (gap-close sessionization) over an event stream:
    * the watermarked session_window aggregation — Spark's native
    * answer to the reference's per-sow event-run grouping, applied to
    * the event stream. */
  def sessionCounts(events: DataFrame, tsCol: String, gap: String,
                    watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming benchmark decontamination: flag each incoming doc by
    * how many of its k-char windows appear verbatim in a (small,
    * static) eval benchmark — the online face of the batch q189
    * leakage audit, run at INGEST so contaminated docs never reach
    * the corpus. The eval set is pre-reduced batch-side to ONE bloom
    * sketch row ([[graft.functions.BloomFilter]] over the benchmark's
    * rolling-hash windows); the stream side is then a pure MAP —
    * rolling hashes, a filter-HOF probe of the broadcast sketch,
    * count. No stream state, no shuffle, no watermark needed: scales
    * to any ingest rate, and the sketch refreshes by restarting the
    * query with a rebuilt row (eval sets change rarely). False
    * positives only (bloom contract) — a flagged doc is verified
    * downstream by the exact path; never a false accept. */
  def decontaminateStream(docs: DataFrame, evalSketch: DataFrame,
                          k: Int, maxLeaked: Int): DataFrame =
    docs.crossJoin(broadcast(evalSketch))
      // null text -> null window array: size(null) is null under the
      // default sizeOfNull semantics but -1 under the legacy conf, so
      // guard BOTH ways (coalesce for null, greatest for -1) — a
      // null-text doc reports 0 leaked and ACCEPTS in every SQL mode,
      // matching the batch audit (q189 filters null text = 0 leaked)
      .withColumn("n_leaked", greatest(lit(0), coalesce(size(filter(
        graft.functions.RollingHash.windowHashes(col("text"), k),
        h => graft.functions.BloomFilter.mightContain(col("sketch"), h.cast("string")))),
        lit(0))))
      .withColumn("accept", when(col("n_leaked") <= maxLeaked, "Y").otherwise("N"))
      .drop("sketch")

  /** The static side of [[decontaminateStream]]: the benchmark's
    * k-char windows collapsed to one bloom-sketch row. */
  def evalWindowSketch(evalDocs: DataFrame, textCol: String, k: Int,
                       mBits: Int = graft.functions.BloomFilter.DefaultBits): DataFrame =
    evalDocs.select(explode(
        graft.functions.RollingHash.windowHashes(col(textCol), k)).as("h"))
      .select(graft.functions.BloomFilter.bloom(col("h").cast("string"), mBits).as("sketch"))

  /** Streaming classifier scoring — the ingest face of the q204
    * class-profile classifier: every incoming doc is scored against
    * the trained model collapsed to ONE broadcast row
    * ([[graft.ops.text.ProfileClassifier.modelRow]]), entirely with
    * HOFs per row — tokens fold through the tok→counts map (an
    * occurrence-sum equals the count-weighted affinity, so no per-doc
    * aggregation state is needed), and the length-normalized argmax
    * replays the batch scorer's exact Long cross-products inside a
    * fold over the k class indices. No stream state, no shuffle, no
    * watermark: a pure map that scales to any ingest rate, refreshed
    * by restarting with a re-trained row. Bit-identical to the batch
    * [[graft.ops.text.ProfileClassifier.classify]] on the same docs
    * (the batch=stream parity property, asserted in the spec). */
  def classifyStream(docs: DataFrame, textCol: String,
                     modelRow: DataFrame): DataFrame = {
    val toks = coalesce(
      filter(split(col(textCol), "\\s+"), t => length(t) > 0),
      array().cast("array<string>"))
    val aff = transform(
      sequence(lit(0), size(col("labels")) - 1),
      c => aggregate(col("__toks"), lit(0L), (acc, t) =>
        acc + coalesce(
          element_at(element_at(col("model_map"), t), c + 1), lit(0L))))
    // argmax of aff[i]/totals[i] by cross-products, ties to the
    // smaller label — the batch scorer's comparator, folded. The
    // rival index list must be EMPTY at k=1: sequence(1, 0) is a
    // DESCENDING [1, 0] in Spark, whose i=1 step reads __aff[2] out
    // of bounds (null under non-ANSI, an error under ANSI mode).
    val best = aggregate(
      when(size(col("labels")) > 1,
        sequence(lit(1), size(col("labels")) - 1))
        .otherwise(array().cast("array<int>")), lit(0),
      (b, i) => {
        val ai = element_at(col("__aff"), i + 1)
        val ab = element_at(col("__aff"), b + 1)
        val ti = element_at(col("totals"), i + 1)
        val tb = element_at(col("totals"), b + 1)
        val li = element_at(col("labels"), i + 1)
        val lb = element_at(col("labels"), b + 1)
        when(ai * tb > ab * ti || (ai * tb === ab * ti && li < lb), i)
          .otherwise(b)
      })
    docs.crossJoin(broadcast(modelRow))
      .withColumn("__toks", toks)
      .withColumn("__aff", aff)
      .withColumn("__best", best)
      .withColumn("pred", element_at(col("labels"), col("__best") + 1))
      .withColumn("a_pred", element_at(col("__aff"), col("__best") + 1))
      .drop("__toks", "__aff", "__best", "model_map", "labels", "totals")
  }

  /** Streaming NEAR-dup dedup: every micro-batch of documents is
    * exact-deduped within itself, LSH-banded, probed against the
    * persistent signature store of everything accepted so far, and
    * only verified-novel docs are appended to the curated corpus (and
    * their bands to the store). This is the continuous-ingest face of
    * the batch MinHash/LSH pipeline — the shape a crawler feed runs.
    *
    * Store = (doc_id, band, band_key) parquet: bounded at
    * bands-per-doc rows per accepted doc, equi-joinable on
    * (band, band_key) so a batch probes it with one join, never a
    * scan-all-pairs. Verification reads ONLY the candidate docs'
    * text back from the curated corpus (semi-join on collided ids) —
    * the exact-Jaccard gate of the batch path, applied to a bounded
    * candidate set. At scale the store is a bucketed/Delta table on
    * band_key and this body is unchanged.
    *
    * Growth note: unlike watermarked exact dedup (dedupStream), a
    * near-dup store cannot evict — "have I seen this before" has no
    * horizon. That is inherent to corpus dedup, not this operator;
    * the store grows with the ACCEPTED corpus, not the raw feed.
    * Every batch appends small files to both sinks — run
    * `Sinks.compact` as the periodic maintenance job (S10), exactly
    * as for any micro-batch append target.
    *
    * Retry behavior: both sinks are keyed by batch_id partition and
    * written with DYNAMIC partition overwrite (the clusterMaintStream
    * posture): foreachBatch is at-least-once, and a crash BETWEEN the
    * two writes would otherwise leave a doc in the curated corpus
    * whose bands never reached the store — the replay then sees no
    * same-id collision, re-classifies the doc as novel, and appends a
    * SECOND curated copy. Overwriting the batch's own partition makes
    * any replay idempotent regardless of where the first attempt
    * died. On Delta both writes become one transactional commit.
    *
    * `storeTable = Some(t)`: the band store lives in a BUCKETED
    * catalog table `t` at location `storeDir`
    * ([[graft.ops.dedup.BandStore.ensureStreamStore]]; batch_id-
    * partitioned + (band, band_key)-bucketed) instead of a plain
    * partitioned dir — the probe join then plans with NO exchange on
    * the standing side and only the micro-batch's bands shuffle, to
    * the bucket count. At corpus scale the standing store is the
    * dominant side of every probe, so this is THE layout for a
    * long-running ingest; same dynamic-overwrite replay idempotence
    * ([[graft.ops.dedup.BandStore.writeBatch]]), same results
    * bit-for-bit (SinksStreamingSpec A/Bs the two modes). The
    * curated TEXT corpus stays a parquet dir in both modes — it is
    * only ever read back through a candidate-id semi-join
    * (broadcast-sized), which bucketing cannot improve.
    *
    * `storeCompactEvery = k > 0` (bucketed mode only): every k-th
    * batch folds the committed history (batch_id < current) into the
    * consolidated partition via
    * [[graft.ops.dedup.BandStore.compactStreamStore]] — writeBatch
    * appends one file-set per bucket per micro-batch, so an
    * uncompacted year-long stream would open tens of thousands of
    * files per probe. Runs inside the serial foreachBatch (no reader
    * overlaps its double-copy window) and only over COMMITTED batches
    * (the in-flight batch can replay and must keep its own
    * partition); a compaction crash heals at the next batch start
    * ([[graft.ops.dedup.BandStore.recoverCompaction]]). */
  def nearDupStream(docs: DataFrame, storeDir: String, curatedDir: String,
                    checkpoint: String, tau: Double = 0.7,
                    storeTable: Option[String] = None,
                    storeCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        import graft.ops.dedup.{BandStore, Dedup}
        val spark = batch0.sparkSession
        // a store written by the pre-batch_id append layout must be
        // rewritten into the batch_id=-1 partition BEFORE any read or
        // write touches it (mixed depths break partition discovery).
        // The bucketed-table mode never migrates its location: its
        // files must ALL carry bucket ids (ensureStreamStore rejects
        // anything else loudly)
        storeTable match {
          case Some(t) =>
            BandStore.ensureStreamStore(spark, t, storeDir, "doc_id")
            // a compaction that crashed in a previous batch/JVM must
            // heal BEFORE this batch's probe reads the store (its
            // apply-to-cleanup window holds folded rows twice)
            BandStore.recoverCompaction(spark, t, storeDir)
            if (storeCompactEvery > 0 && batchId > 0 &&
                batchId % storeCompactEvery == 0)
              BandStore.compactStreamStore(spark, t, storeDir, batchId - 1)
          case None => Sinks.migrateToBatchLayout(spark, storeDir)
        }
        Sinks.migrateToBatchLayout(spark, curatedDir)
        // 1. within-batch exact dedup (keep min doc_id per content)
        val batch = Dedup.exactKeep(batch0, "doc_id", "text").cache()
        val bands = Dedup.lshBands(
          Dedup.minHashText(batch, "doc_id", "text", 3, 16), "doc_id", 16, 4).cache()
        // 2. probe the store: batch docs colliding with an ACCEPTED
        // doc. Existence-checked, not Try-swallowed: a FAILING store
        // read must abort the batch (treating it as empty would
        // silently disable cross-batch dedup and pollute the corpus).
        // The schema is EXPLICIT (the bands frame's + the batch_id
        // partition column): a crash during the very first store
        // write leaves the directory existing but holding no data
        // files, and schema INFERENCE on that state throws — which
        // would wedge the stream's restart forever. With the schema
        // pinned, that state reads as an empty store (= first batch
        // semantics), exactly what the replay needs.
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val storeSchema = bands.schema.add("batch_id",
          org.apache.spark.sql.types.LongType)
        val store = storeTable match {
          case Some(t) =>
            // first-batch detection via partition METADATA (no data
            // job): an empty table means no standing corpus yet —
            // same semantics as the dir path's nonexistent dir
            if (spark.sql(s"SHOW PARTITIONS `$t`").isEmpty) None
            else Some(spark.table(t))
          case None =>
            if (fs.exists(storePath))
              Some(spark.read.schema(storeSchema).parquet(storeDir))
            else None
        }
        // every cache this batch takes (incl. jaccard's internal
        // pair/candidate-shingle caches) is released when the batch's writes
        // finish — a long-lived stream must not accumulate cached
        // partitions across micro-batches
        val releases = scala.collection.mutable.ListBuffer.empty[() => Unit]
        val dupIds = store match {
          case None => batch.select("doc_id").limit(0)
          case Some(st) =>
            // (store id, batch id) collisions; a batch doc re-using an
            // ACCEPTED doc_id is a duplicate by definition (this is
            // also what makes a replayed batch idempotent)
            val coll = bands
              .join(st.withColumnRenamed("doc_id", "sid"), Seq("band", "band_key"))
              .select(col("sid"), col("doc_id").as("bid")).distinct().cache()
            releases += (() => coll.unpersist(false))
            val sameId = coll.filter(col("sid") === col("bid"))
              .select(col("bid").as("doc_id"))
            // Dedup.jaccardTextReleasable anchors on pairs ordered id_a < id_b —
            // the candidate frame must use the same canonical order
            // or store ids >= batch ids never match; carry the batch
            // id alongside for the verdict
            val cand = coll.filter(col("sid") =!= col("bid"))
              .select(least(col("sid"), col("bid")).as("id_a"),
                greatest(col("sid"), col("bid")).as("id_b"),
                col("bid"))
              .distinct()
            // verify candidates with exact shingle Jaccard over batch
            // text + store text: the verifier's own candidate-id
            // semi-join (broadcast within its gate) pushes through the
            // union onto the curated scan, so only the candidate store
            // docs are read on; shingles derive AFTER that restriction.
            // Schema pinned like the store read: the curated dir can
            // be exists-but-empty after stacked crashes, and this
            // read is analyzed even when coll is empty
            val storeDocs = spark.read
              .schema(batch.schema.add("batch_id",
                org.apache.spark.sql.types.LongType))
              .parquet(curatedDir)
            val corpusDocs = storeDocs.select("doc_id", "text")
              .unionByName(batch.select("doc_id", "text"))
            val jh = Dedup.jaccardTextReleasable(cand, corpusDocs, "doc_id", "text", 3)
            releases += jh.release
            jh.df
              .filter(col("jaccard") >= tau)
              .select(col("bid").as("doc_id"))
              .unionByName(sameId).distinct()
        }
        // 3. intra-batch near-dups (non-identical): the batch
        // pipeline's own candidate stage, drop the larger id
        val ih = Dedup.jaccardTextReleasable(
          Dedup.candidatePairs(bands, "doc_id"), batch, "doc_id", "text", 3)
        releases += ih.release
        val intra = ih.df
          .filter(col("jaccard") >= tau)
          .select(col("id_b").as("doc_id")).distinct()
        // 4. novel docs -> curated corpus; their bands -> store.
        // batch_id-partitioned dynamic overwrite = replay idempotence
        // (see the scaladoc retry note). Every dropped id is a batch
        // doc_id, so the batch's row count bounds the drop set (read
        // with no job from the batch's cache, which the verifiers'
        // eager candidate counts have filled); within the verifiers'
        // candidate budget it is broadcast and the batch streams
        // through the anti-join without an exchange
        val drop = dupIds.unionByName(intra).distinct()
        val small =
          graft.ops.Materialize.rowBound(batch).exists(_ <= Dedup.BroadcastCandMax)
        val novel = batch
          .join(if (small) broadcast(drop) else drop, Seq("doc_id"), "left_anti")
          .cache()
        val dyn = Map("partitionOverwriteMode" -> "dynamic")
        novel.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").options(dyn)
          .partitionBy("batch_id").parquet(curatedDir)
        val novelBands = bands
          .join(novel.select("doc_id"), Seq("doc_id"), "left_semi")
        storeTable match {
          case Some(t) =>
            BandStore.writeBatch(spark, t, novelBands, "doc_id", batchId)
          case None => novelBands
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").options(dyn)
            .partitionBy("batch_id").parquet(storeDir)
        }
        batch.unpersist(); bands.unpersist(); novel.unpersist()
        releases.foreach(_())
        ()
      }
      .start()

  /** Streaming duplicate-CLUSTER maintenance — the label-table face
    * of [[nearDupStream]]: every doc is admitted and a standing
    * (id, component) registry is updated per micro-batch with
    * [[graft.ops.dedup.ConnectedComponents.incremental]] over the
    * batch's VERIFIED edges (intra-batch + batch-vs-store LSH
    * candidates, exact-Jaccard gated). nearDupStream answers "drop
    * this?"; this answers "which cluster is it in?" — the registry
    * representative selection (q178) and audit queries read. Per
    * batch, CC runs over the CONTRACTED increment-sized graph only
    * (never the full edge history), and the registry updates through
    * the crash-safe staging-swap upsert. Docs with no verified edge
    * carry no registry row (minLabel semantics — singletons are
    * implicit). Store growth note: as nearDupStream — a dedup store
    * has no eviction horizon; it grows with the admitted corpus.
    *
    * `storeTable = Some(t)`: the band store lives in the bucketed
    * catalog table `t` at `storeDir` (the nearDupStream option —
    * see there): the per-batch probe AND the hot-bucket cap window
    * both ride the bucketed layout with zero store-side exchange.
    * The registry DEFAULTS to the crash-proven parquet upsert (its
    * standing side is label rows, corpus-SUBLINEAR — near-dup members
    * only). `labelsTable = Some(t)` moves it to the bucketed
    * [[graft.ops.dedup.LabelStore]] instead: at full-label scale the
    * incremental CC's contraction joins then read the standing
    * registry exchange-free (PersistentStoresSpec pins the plan
    * property), with LabelStore's staging-swap giving the same
    * crash-recovering all-or-nothing replace as the parquet path
    * (same results bit-for-bit, SinksStreamingSpec A/Bs the modes).
    * LabelStore's in-memory-catalog caveat applies: the swap renames
    * MANAGED tables, so a LOCAL JVM restart loses the registry name
    * (files survive but need [[graft.ops.dedup.LabelStore.reset]]);
    * the table mode's cross-restart posture is a persistent
    * metastore. `storeCompactEvery`: as [[nearDupStream]]. */
  def clusterMaintStream(docs: DataFrame, storeDir: String, textDir: String,
                         labelsDir: String, checkpoint: String,
                         tau: Double = 0.7,
                         storeTable: Option[String] = None,
                         labelsTable: Option[String] = None,
                         storeCompactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        import graft.ops.dedup.{BandStore, ConnectedComponents, Dedup}
        val spark = batch0.sparkSession
        // pre-batch_id append-layout stores migrate first (see
        // nearDupStream / Sinks.migrateToBatchLayout); the bucketed
        // table mode never migrates its own location
        storeTable match {
          case Some(t) =>
            BandStore.ensureStreamStore(spark, t, storeDir, "doc_id")
            // heal any crashed compaction BEFORE this batch's probe
            // (see nearDupStream), then compact on the caller's cadence
            BandStore.recoverCompaction(spark, t, storeDir)
            if (storeCompactEvery > 0 && batchId > 0 &&
                batchId % storeCompactEvery == 0)
              BandStore.compactStreamStore(spark, t, storeDir, batchId - 1)
          case None => Sinks.migrateToBatchLayout(spark, storeDir)
        }
        Sinks.migrateToBatchLayout(spark, textDir)
        // exact dups stay IN: identical texts collide in every band,
        // verify at jaccard 1 and become a cluster — the registry
        // records them rather than dropping them
        val batch = batch0.select("doc_id", "text").cache()
        val bands = Dedup.lshBands(
          Dedup.minHashText(batch, "doc_id", "text", 3, 16), "doc_id", 16, 4).cache()
        val releases = scala.collection.mutable.ListBuffer.empty[() => Unit]
        def exists(dir: String): Boolean = {
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
        val intraCand = Dedup.candidatePairs(bands, "doc_id")
        // empty-store detection: table mode asks the catalog's
        // partition metadata (no data job); dir mode asks the fs
        val storeEmpty = storeTable match {
          case Some(t) => spark.sql(s"SHOW PARTITIONS `$t`").isEmpty
          case None => !exists(storeDir)
        }
        val (cand, corpusDocs) =
          if (storeEmpty) (intraCand, batch.select("doc_id", "text"))
          else {
            // store-side bucket cap (candidatePairs' 64 discipline):
            // the registry appends EVERY admitted doc's bands, so a
            // standing boilerplate cluster would otherwise grow one
            // bucket without bound and make per-batch probe work
            // linear in cluster size. Hot buckets drop from the
            // probe; their members are already linked to each other
            // (their edges were verified when the bucket was small).
            // explicit schema for the same reason as nearDupStream's
            // store read: an exists-but-empty dir (crash during the
            // first bands write) must read as an empty store, not
            // throw UNABLE_TO_INFER_SCHEMA and wedge the restart.
            // The cap is BandStore.cappedFrame — one definition with
            // the batch probe path; on the bucketed table its window
            // keys equal the bucket keys, zero store-side exchange.
            val storeRaw = storeTable match {
              case Some(t) => spark.table(t)
              case None => spark.read
                .schema(bands.schema.add("batch_id",
                  org.apache.spark.sql.types.LongType))
                .parquet(storeDir)
            }
            val store = BandStore.cappedFrame(storeRaw, 64)
            val coll = bands
              .join(store.withColumnRenamed("doc_id", "sid"),
                Seq("band", "band_key"))
              .filter(col("sid") =!= col("doc_id"))
              .select(least(col("sid"), col("doc_id")).as("id_a"),
                greatest(col("sid"), col("doc_id")).as("id_b"))
              .distinct().cache()
            releases += (() => coll.unpersist(false))
            // explicit schema again: with the bands store crashed
            // empty, the texts dir can be exists-but-empty too, and
            // this read is ANALYZED even when coll is empty. The
            // verifier's candidate semi-join restricts it to the
            // candidate docs (see nearDupStream's read-back)
            val storeDocs = spark.read
              .schema(batch.schema.add("batch_id",
                org.apache.spark.sql.types.LongType))
              .parquet(textDir)
            val all = storeDocs.select("doc_id", "text")
              .unionByName(batch.select("doc_id", "text"))
            (intraCand.unionByName(coll).distinct(), all)
          }
        // shingles derive AFTER the candidate restriction (jaccardText)
        val jh = Dedup.jaccardTextReleasable(cand, corpusDocs, "doc_id", "text", 3)
        releases += jh.release
        val edges = jh.df.filter(col("jaccard") >= tau).select("id_a", "id_b")
        // a crash inside the registry's staging-swap window leaves it
        // as __old only (parquet) / staging-table only (LabelStore) —
        // recover BEFORE the existence read, or a replayed batch would
        // see an empty registry and relabel while ignoring every
        // standing cluster
        val emptyLabels = batch.select(col("doc_id").as("id"),
          col("doc_id").as("component")).limit(0)
        val labels = labelsTable match {
          case Some(t) =>
            graft.ops.dedup.LabelStore.recover(spark, t)
            if (spark.catalog.tableExists(t)) spark.table(t) else emptyLabels
          case None =>
            graft.sinks.Sinks.recoverOrphan(spark, labelsDir)
            if (exists(labelsDir)) spark.read.parquet(labelsDir)
            else emptyLabels
        }
        val updated = ConnectedComponents.incremental(labels, edges)
        labelsTable match {
          case Some(t) =>
            // the bucketed registry: an all-or-nothing swap replace
            // (updated ⊇ standing by incremental()'s construction, so
            // a wholesale replace IS the upsert); a crash between the
            // drop and the rename is healed by the recover() above on
            // the replayed batch. First batch creates the table.
            if (spark.catalog.tableExists(t))
              graft.ops.dedup.LabelStore.swapWrite(spark, t, updated)
            else graft.ops.dedup.LabelStore.write(updated, t)
          case None =>
            // the parquet registry goes through the MergeSink facade:
            // same staging-swap machinery, plus the facade's
            // key-unique gate (incremental() emits one row per id by
            // construction — the gate makes that contract mechanical)
            graft.sinks.MergeSink.mergeIntoParquet(
              spark, labelsDir, updated, Seq("id"))
        }
        // text/bands stores are keyed by batch_id partition and written
        // with DYNAMIC partition overwrite: foreachBatch is at-least-
        // once, and a replayed batch (crash after the registry upsert,
        // before these writes completed) must OVERWRITE its own
        // partition rather than append a second copy — plain appends
        // doubled textDir rows and inflated band buckets toward the 64
        // cap on retry. Same idempotence posture as the registry's
        // staging-swap upsert; on Delta all three become one txn.
        val dyn = Map("partitionOverwriteMode" -> "dynamic")
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").options(dyn)
          .partitionBy("batch_id").parquet(textDir)
        storeTable match {
          case Some(t) =>
            BandStore.writeBatch(spark, t, bands, "doc_id", batchId)
          case None => bands.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").options(dyn)
            .partitionBy("batch_id").parquet(storeDir)
        }
        batch.unpersist(); bands.unpersist()
        releases.foreach(_())
        ()
      }
      .start()

  /** Streaming corpus manifest (q190's stream face): per tumbling
    * window and (lang, source), the same ORDER-INVARIANT digests the
    * batch manifest stamps — XOR + modular sum of the per-doc 60-bit
    * content hash, row/char totals. Commutative aggregates are
    * exactly what streaming state can hold (a few longs per open
    * group); windows emit once on watermark close (append mode), and
    * a window's digest equals the batch manifest of the same rows
    * bit-for-bit — so a downstream consumer can verify an ingest
    * window against a later batch backfill without re-reading text. */
  def manifestStream(docs: DataFrame, tsCol: String, windowLen: String,
                     watermark: String): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .withColumn("h", graft.ops.dedup.Dedup.h60(lit(0), col("text")))
      .groupBy(window(col(tsCol), windowLen), col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        expr("bit_xor(h)").as("content_xor"),
        sum(col("h") % 1000003L).cast("long").as("content_modsum"))
      .select(col("window.start").as("win_start"), col("lang"), col("source"),
        col("n_docs"), col("n_chars"), col("content_xor"), col("content_modsum"))

  /** Streaming corpus-drift monitor (q166's stream face): per
    * tumbling window, the total-variation distance between the
    * window's token distribution and a STATIC reference distribution
    * `ref` (token, c_ref — yesterday's snapshot, vocabulary-sized).
    * State is the watermarked (window, token) count aggregation in
    * APPEND mode, so a window's token counts emit exactly once, on
    * finalization; the TV arithmetic — which needs the window total
    * N_w inside every per-token term and so cannot be one linear
    * aggregate — runs in foreachBatch over the finalized rows as
    * plain batch math, exactly q166's cross-multiplied integer form:
    * num = Σ_{t∈W} |c_w·N_ref − c_ref·N_w| + (N_ref − Σ_{t∈W} c_ref)·N_w
    * (the second term is the mass of reference tokens the window
    * never saw), tv = num / (2·N_w·N_ref). One row (win_start,
    * win_end, n_w, tv) upserts per window — the drift time series a
    * monitoring pipeline alerts on. */
  def driftStream(docs: DataFrame, tsCol: String, textCol: String,
                  ref: DataFrame, nRef: Long, windowLen: String,
                  watermark: String, targetPath: String,
                  checkpoint: String): StreamingQuery = {
    val perTok = docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(split(col(textCol), "\\s+")).as("t"))
      .groupBy(window(col(tsCol), windowLen), col("t"))
      .agg(count(lit(1)).as("c_w"))
    perTok.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val withRef = batch.join(broadcast(ref), Seq("t"), "left")
            .na.fill(0L, Seq("c_ref"))
          val totals = withRef.groupBy("window")
            .agg(sum("c_w").as("n_w"), sum("c_ref").as("ref_seen"))
          val tv = withRef.join(broadcast(totals), Seq("window"))
            .groupBy(col("window"), col("n_w"), col("ref_seen"))
            .agg(sum(abs(col("c_w") * lit(nRef) - col("c_ref") * col("n_w")))
              .as("num_seen"))
            .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"), col("n_w"),
              ((col("num_seen") + (lit(nRef) - col("ref_seen")) * col("n_w"))
                .cast("double") /
                (lit(2.0) * col("n_w") * lit(nRef))).as("tv"))
          // per-window drift rows upsert through the MergeSink facade
          // (one row per finalized window — key-unique by the groupBy)
          graft.sinks.MergeSink.mergeIntoParquet(
            batch.sparkSession, targetPath, tv, Seq("win_start", "win_end"))
        }
        ()
      }
      .start()
  }

  /** Micro-batch keyed upsert: every batch MERGEs into the parquet
    * target on `keys` through the [[graft.sinks.MergeSink]] facade
    * (the weather MERGE, weather.py:1697-1732, as a stream) — the
    * key-unique-source gate, null-safe key equality and the
    * crash-recovering staging swap are enforced in ONE place for
    * batch and stream alike. A micro-batch carrying duplicate key
    * rows is rejected loudly (the facade contract): dedup upstream
    * with LatestRecord, as any MERGE user would. */
  def upsertStream(stream: DataFrame, keys: Seq[String], targetPath: String,
                   checkpoint: String,
                   insertOnly: Boolean = false): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.MergeSink.mergeIntoParquet(
          batch.sparkSession, targetPath, batch, keys, insertOnly)
      }
      .start()

  /** [[upsertStream]] against a V2 CATALOG TABLE: every micro-batch
    * executes a TRUE two-branch `MERGE INTO` statement through
    * [[graft.sinks.MergeSink.mergeIntoTable]] — the streaming
    * consumer of the executed-MERGE leg. On Delta/Iceberg this is
    * the transactional per-batch upsert a production ingest runs;
    * in-repo it executes against any catalog implementing the
    * row-level-operation connector API (MergeSinkSpec's
    * GraftMemCatalog). Same facade contracts (key-unique gate,
    * null-safe keys) as every other MergeSink path. */
  def mergeStream(stream: DataFrame, keys: Seq[String], table: String,
                  checkpoint: String,
                  insertOnly: Boolean = false): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.MergeSink.mergeIntoTable(
          batch.sparkSession, table, batch, keys, insertOnly)
      }
      .start()
}
