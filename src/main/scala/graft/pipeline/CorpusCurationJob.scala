package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.dedup.Dedup
import graft.ops.text.TextOps

/** The training-data side's WeeklyReportJob: one DAG that takes a raw
  * document table through the standard curation funnel —
  *
  *   exact dedup (content hash, keep min id)
  *   -> near-dup removal (MinHash/LSH candidates, shingle Jaccard >=
  *      tau, drop the larger id of each surviving pair)
  *   -> quality gate (length + stopword composite)
  *
  * — emitting the curated corpus plus a per-language funnel of counts
  * at every stage (the numbers a pipeline owner actually watches).
  * Every stage is the already-verified operator; the composition is
  * itself hash-gated by q91. The stages are not separate frames: one
  * scored frame (survivors of the exact gate, flagged by the other
  * two) feeds both the curated rows and the funnel. At 100 TB each
  * arrow is one shuffle-bounded stage over the same partitioning;
  * nothing here is driver-side.
  */
object CorpusCurationJob {

  val Stopwords: Seq[String] = Seq("the", "a")

  /** The whole funnel as ONE frame: every exact-dedup survivor (the
    * `uniq` rows, doc_id first as the USING join puts it) flagged by
    * [[flagged]] — `__keep` (not the larger id of a >= tau pair) —
    * plus `__q` (quality score >= minQuality). `curated` is a filter
    * of it (the quality conjunct pushes below the join when nothing
    * caches the frame) and the three post-input funnel counts are one
    * per-language aggregate over it.
    *
    * With `cache`, the survivors are cached: they feed three
    * consumers in two SQL executions (the signature branch, run by the
    * verifier's eager candidate count; the verifier's doc side and the
    * flag join, inside the frame's execution). release() frees them
    * and the verifier's caches. */
  private def scored(docs: DataFrame, jaccardTau: Double,
                     minQuality: Double, cache: Boolean): Dedup.Releasable = {
    // exact dedup survivors in ONE shuffle (min_by(struct), no
    // agg+join-back — the keep-set is corpus-sized at scale, that
    // join could never broadcast)
    val uniq0 = Dedup.exactKeep(docs, "doc_id", "text")
    val uniq = if (cache) uniq0.cache() else uniq0
    // near-dup: the larger id of every >= tau candidate pair.
    // signature branch is map-only (MinHashSig); the verifier builds
    // shingle sets AFTER the candidate restriction (jaccardText) — no
    // stage of the funnel explodes a corpus-wide n-gram relation
    val sig = Dedup.minHashText(uniq, "doc_id", "text", 3, 16)
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id")
    val jh = Dedup.jaccardTextReleasable(cand, uniq, "doc_id", "text", 3)
    val frame = flagged(uniq, jh, jaccardTau)
      .withColumn("__q", TextOps.qualityScore(col("text"), Stopwords) >= minQuality)
    Dedup.Releasable(frame, () => { uniq.unpersist(); jh.release() })
  }

  /** The survivors left-joined to the verified near-dup ids (the
    * `id_b` of every pair of `jh` with jaccard >= tau), flagged
    * `__keep` where the id is not one of them. The dup ids are a
    * subset of the verifier's candidate ids, so when its count gate
    * hinted those (`jh.candBroadcast`) the dup ids are hinted too: the
    * survivors stream through a broadcast hash join and never cross a
    * doc_id exchange. Over the budget nothing is hinted and the
    * planner picks the join, as for the verifier itself. */
  private[graft] def flagged(uniq: DataFrame, jh: Dedup.Releasable,
                             jaccardTau: Double): DataFrame = {
    val dupIds = jh.df
      .filter(col("jaccard") >= jaccardTau)
      .select(col("id_b").as("doc_id"), lit(true).as("__dup")).distinct()
    uniq.join(if (jh.candBroadcast) broadcast(dupIds) else dupIds, Seq("doc_id"), "left")
      .withColumn("__keep", col("__dup").isNull)
      .drop("__dup")
  }

  private def curated(frame: DataFrame): DataFrame =
    frame.filter(col("__keep") && col("__q")).drop("__keep", "__q")

  /** Curated documents after the three gates (single-consumer lineage:
    * no caching needed — one pass end to end). */
  def curate(docs: DataFrame, jaccardTau: Double = 0.7,
             minQuality: Double = 0.5): DataFrame =
    curated(scored(docs, jaccardTau, minQuality, cache = false).df)

  /** [[curate]] with the survivors cached (the count gate and the
    * frame's execution then share one exactKeep shuffle) and a release
    * handle: call release() the moment the caller's materialization of
    * the curated frame is done (q177's leafCache), so no cached
    * partitions outlive it. Results identical to curate(). */
  def curateReleasable(docs: DataFrame, jaccardTau: Double = 0.7,
                       minQuality: Double = 0.5): Dedup.Releasable = {
    val s = scored(docs, jaccardTau, minQuality, cache = true)
    Dedup.Releasable(curated(s.df), s.release)
  }

  /** Per-language funnel over the scored frame as ONE aggregate: the
    * input rows unioned with the survivors whose lang is not null,
    * counted per language with `count_if` (input, survivors, kept,
    * kept and quality-passed). A null lang counts its input rows only
    * and reads 0 in the three later columns. One row per language, so
    * the rows are ordered inside one partition (no range exchange and
    * no sampling job). */
  private def funnelFrame(docs: DataFrame, frame: DataFrame): DataFrame = {
    val survivor = !col("__in")
    docs.select(col("lang"), lit(true).as("__in"), lit(false).as("__keep"),
        lit(false).as("__q"))
      .unionByName(frame.filter(col("lang").isNotNull)
        .select(col("lang"), lit(false).as("__in"), col("__keep"), col("__q")))
      .groupBy("lang").agg(
        count_if(col("__in")).as("n_input"),
        count_if(survivor).as("n_exact"),
        count_if(survivor && col("__keep")).as("n_neardup"),
        count_if(survivor && col("__keep") && col("__q")).as("n_quality"))
      .coalesce(1).sortWithinPartitions("lang")
  }

  /** Per-language funnel: input / after-exact / after-neardup /
    * after-quality counts (the verified composition surface), one
    * aggregate over the scored frame. The counts are materialized HERE
    * (bounded: one row per language) so the caches can be released
    * before returning — no cached partitions outlive the call. */
  def funnel(docs: DataFrame, jaccardTau: Double = 0.7,
             minQuality: Double = 0.5): DataFrame = {
    val s = scored(docs, jaccardTau, minQuality, cache = true)
    try {
      val out = funnelFrame(docs, s.df)
      val rows = out.collect() // one row per language — driver-safe
      docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally s.release()
  }

  /** Run end-to-end: write the curated corpus and the funnel stats —
    * BOTH derived from the one scored frame, cached here because it
    * has two consumers (the curated write fills the cache, the funnel
    * reads it); every cache is released on exit. Three SQL executions:
    * the verifier's candidate count and the two writes. Within the
    * candidate budget the curated write exchanges the survivors only
    * by content hash (exactKeep) — the flag join is a broadcast — and
    * the funnel write is one aggregate with no sort job. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String): Unit = {
    val s = scored(docs, jaccardTau = 0.7, minQuality = 0.5, cache = true)
    val frame = s.df.cache()
    try {
      curated(frame).write.mode("overwrite").parquet(s"$outDir/curated")
      funnelFrame(docs, frame).write.mode("overwrite").parquet(s"$outDir/funnel")
    } finally { frame.unpersist(); s.release() }
  }
}
