package graft

import java.nio.file.{Files, Paths}
import graft.core.GraftSession

/** Dump formatted physical plans for the headline queries into
  * PLANS.md — the ".explain and iterate" evidence trail. Run:
  * `graft.Explain [sfDir] [outFile]`. */
object Explain {

  /** (query, what the plan should show). */
  val headline: Seq[(String, String)] = Seq(
    "q01_agg_basic" -> ("Scan -> partial HashAggregate -> exchange on group keys -> " +
      "final HashAggregate, all inside WholeStageCodegen; decimal sums for determinism."),
    "q02_scan_prune" -> "PushedFilters + pruned ReadSchema at the parquet scan.",
    "q06_join_chain" -> ("lineitem partial-aggregated per orderkey BELOW the fact-fact " +
      "join (one row per order crosses the shuffle); dimensions broadcast."),
    "q05_asof_join" -> "As-of = union + ONE hash exchange + per-key window; no range join.",
    "q21_topn" -> "Global top-k plans as TakeOrderedAndProject (per-partition heads).",
    "q56_topk_per_key" -> ("Custom operator: TopKPerKeyPartial (bounded heaps, map-side) " +
      "under the exchange, TopKPerKeyFinal above; NO sort anywhere."),
    "q42_lsh_pairs" -> ("MinHash signature = ZERO-shuffle codegen'd projection " +
      "(graft.functions.MinHashSig) straight off the scan; bands exploded in-row; " +
      "the FIRST exchange is the band-bucket shuffle, bucket sizes capped by a " +
      "window count BEFORE collect_list; jaccard's candidate ids broadcast only " +
      "under the count gate."),
    "q43_simhash" -> ("SimHash = ONE codegen'd map-side projection " +
      "(graft.functions.SimHashSig): scan -> project -> sort; zero exchanges " +
      "besides the presentation sort — the whole signature never leaves its row."),
    "q46_embed_lsh_ann" -> ("Bucket signature is a single codegen'd projection " +
      "(graft_lsh_bucket) — zero exchanges before the bucket equi-join."),
    "q54_hll_distinct" -> ("HyperLogLog TypedImperativeAggregate: ObjectHashAggregate " +
      "partial_graft_hll map-side, 64-byte buffers through the exchange."),
    "q57_rollup" -> "Expand + single aggregate pass for every rollup level.",
    "q85_topk_rewrite" -> ("User-written window/row_number/filter SQL — the " +
      "RewriteWindowTopK optimizer rule replans it as TopKPerKeyPartial/Final " +
      "with no WindowExec and no Sort below the presentation ORDER BY."),
    "q88_grouping_sets" -> "Native GROUPING SETS: one Expand pass, grouping_id cells.",
    "q92_hot_shingle_cap" -> ("df-capped posting lists: hot shingles dropped before " +
      "in-row pair expansion — no self-join, pair count bounded by maxDf^2/2 per shingle."),
    "q93_weather_mid_merge" -> ("from_json parse -> explode -> insert-only merge; " +
      "the precedence is one partial-aggregated LatestRecord shuffle on the natural key."),
    "q99_line_dedup" -> ("C4-style span dedup: span extraction is a pure map off the " +
      "token array (no corpus-wide explode+window); df = one partial-agg shuffle on " +
      "span text; reassembly = one groupBy(doc) with an in-row array_sort."),
    "q100_domain_cap" -> ("Per-domain cap runs on the custom TopKPerKeyPartial/Final " +
      "pair: bounded per-source heaps before the exchange, no sort in the plan."),
    "q104_decontaminate" -> ("Benchmark 5-gram index broadcasts into a LeftSemi probe — " +
      "the corpus side never shuffles its n-grams."),
    "q105_column_profile" -> ("All exact distincts in ONE Expand+aggregate pass over ONE " +
      "scan; stack unpivot, no per-column jobs."),
    "q110_stats_agg" -> ("Moments (n, Sx, Sxx, Sy, Syy, Sxy) as exact decimal partials in " +
      "one HashAggregate; stddev/corr are per-group scalar math above it."),
    "q113_hot_block_cap" -> ("Fuzzy-match block cap: window count over (brand, prefix) " +
      "rides the self-join's own hash distribution — hot-block rows are dropped " +
      "before any pair row exists."),
    "q116_lsh_multi_ann" -> ("Multi-table LSH: each table's bucket signature is a pure " +
      "codegen'd projection; candidates union across tables and dedup BEFORE any " +
      "cosine is computed."),
    "q198_bitext_ann" -> ("Bitext serving form: NO cross join anywhere — candidate " +
      "generation is 4 bucket equi-joins (one per LSH table) deduped before " +
      "scoring; the margin+mutual filter runs on the ~2% candidate subset."),
    "q199_knn_ann_gated" -> ("Serving kNN: the retriever leg is bucket equi-joins " +
      "(the only cross join is the 20-probe exact AUDIT leg that stamps " +
      "rank_true); ANN top-5 and truth join on (q_id, c_id)."),
    "q52_multimodal_decode" -> ("Tri-modal REAL decode: the image and audio legs " +
      "are pure map-only synth+decode chains; the video leg adds exactly one " +
      "partial-aggregated groupBy over its own frames (clip roll-up). Three " +
      "codecs, zero stand-ins, one union — the shape of a mixed-modality " +
      "100 TB curation pass."),
    "q200_mp4_meta" -> ("MP4 container walk: synth and parse are two map-only " +
      "mapPartitions stages — no shuffle until the presentation sort; the box " +
      "grammar runs per row inside the task."),
    "q202_mp4_samples" -> ("MP4 sample tables: map-only synth + walk like q200; " +
      "the stts/stss/stsz run-length and prefix-sum math runs per row inside " +
      "the task — container-level keyframe seeking, zero shuffles before the " +
      "presentation sort."),
    "q205_video_frames" -> ("Video frame decode: synth and decode are two map-only " +
      "mapPartitions stages (RIFF walk + per-frame BMP codec + NN thumbnail all " +
      "inside the task); one output row per frame, no shuffle before the " +
      "presentation sort — the shape of a 100 TB decode pass."),
    "q203_audio_fingerprint" -> ("Audio fingerprint dedup: decode+fingerprint are " +
      "map-only; exact clusters are ONE hash groupBy(fp); the band join runs " +
      "over DISTINCT fingerprints (pattern space, corpus-independent) so the " +
      "only doc-sized exchanges are the groupBy and the final fp join-back."),
    "q204_profile_classifier" -> ("Trainable classifier: train is ONE " +
      "map-side-combined (label, tok) count shuffle; apply joins the " +
      "vocab-sized model BROADCAST onto exploded doc tokens, aggregates " +
      "per (doc, class), and ranks by exact cross-products in a " +
      "class-constant self-join keyed by doc — no windows, no all-pairs."),
    "q201_weekly_chain" -> ("Chained weeks: each week is one aggregation + a " +
      "broadcast-joined read-back of the PREVIOUS week's written parquet — " +
      "the store round trip is the lineage, not a window over history."),
    "q82_week_sub" -> ("Ten report sections as ONE union relation: each branch is its " +
      "own conform-projected section plan (windows/aggregates keyed by farm_no); " +
      "no cross-section shuffle — the union is append-only."),
    "q126_bloom_decontaminate" -> ("Bloom-prefiltered decontamination: ONE 16 KB sketch " +
      "row broadcasts (BroadcastNestedLoopJoin); corpus n-grams are generated and " +
      "probed map-side — the first exchange above the corpus scan is the per-doc " +
      "aggregation, never a gram shuffle."),
    "q128_pq_adc" -> ("Product quantization: all m subspace k-means in one plan " +
      "(mi in every key); ADC = codes joined to a BROADCAST lookup table, int64 " +
      "sums — original vectors never touched in scoring."),
    "q207_ivf_serve" -> ("IVF SERVE over a STORED centroid index: no Generate " +
      "(posexplode) node anywhere — the corpus is touched only by the " +
      "cell-restricted scoring join under the counted probe broadcast; " +
      "nprobe cell routing through TopKPerKeyPartial/Final bounded heaps."),
    "q208_pq_serve_packed" -> ("PQ serving layout: packed one-row-per-vector codes " +
      "scanned MAP-ONLY (per-row integer fold over a broadcast LUT map); the " +
      "only corpus-sized exchange is TopKPerKeyFinal's k-rows-per-partition " +
      "clustering — serving bytes bounded by the shortlist, never the corpus."),
    "q209_ivf_hier_assign" -> ("Two-level centroid assignment: the whole search " +
      "structure (super array + super->cells map) is ONE localized broadcast " +
      "row; both levels are per-row expression folds — ZERO shuffle exchanges, " +
      "the corpus never exploded or re-aggregated."),
    "q210_ivfpq_serve" -> ("The FULL IVF-PQ serving stack: stored centroids route " +
      "probes to nprobe cells (bounded heaps), packed ADC scores only those " +
      "cells' codes map-side (broadcast probe-cell frame + LUT map), exact " +
      "refine re-ranks the shortlist — every exchange bounded by probes or " +
      "shortlist, never the corpus."),
    "q211_ivf_shard_assign" -> ("SHARDED two-level assignment (the extreme-nlist " +
      "shape): only the nSuper supers broadcast; the super->cells shards meet " +
      "vectors through a g-keyed shuffle join (corpus x wSuper rows), per-shard " +
      "argmax folds + a TopKPerKey cross-super winner — bit-identical to q209, " +
      "nothing nlist-sized on a broadcast."),
    "q129_incremental_dedup" -> ("Incremental dedup: ONE shared banding pass over " +
      "reference+batch (tag = id low bit); same-corpus pairs parity-filtered " +
      "before verification — the standing corpus never self-pairs."),
    "q206_store_dedup" -> ("Incremental dedup against the BUCKETED persistent " +
      "band store: the standing side scans bucketed on (band, band_key) — " +
      "hot-bucket cap window AND probe join both satisfied by the scan's " +
      "hash partitioning, ZERO store-side exchange; only the batch's bands " +
      "shuffle, to the bucket count. The dump below shows only the " +
      "LOCALIZED result leaf (the query materializes its corpus-sublinear " +
      "flags so the store table can be dropped before returning); the " +
      "probe-side plan property is pinned structurally in " +
      "PersistentStoresSpec (rawStoreExchanges == empty on the executed " +
      "probe plan)."),
    "q132_semdedup" -> ("SemDeDup: cosine edges only within k-means cells " +
      "(cell equi-join bounds pairs at sum(cell^2)); ConnectedComponents " +
      "canonicalizes components to min id."),
    "q120_farm_sub" -> ("The same ten-section union under a top-level farm filter: " +
      "Catalyst pushes the predicate through union/window/aggregate/join into " +
      "every leaf — the single-farm run, declared, not hand-threaded."),
    "q139_stratified_split" -> ("DistributedRank: NO Window operator anywhere — the " +
      "per-stratum rank is a range shuffle + two ScanExistingRDD jobs sharing one " +
      "lineage (counts, then offset+counter), and the stratum totals ride out of " +
      "the count job (totalCol) — no second corpus pass, no broadcast join. The " +
      "skewed English stratum never funnels through one task's sorter."),
    "q146_rolling_actives_hll" -> ("Mergeable-sketch rolling actives: ONE 64-byte " +
      "HLL sketch per day (ObjectHashAggregate), 7 sketch ROWS per window through " +
      "the spine join, register-max merge per window end — the activity relation " +
      "itself is never fanned out."),
    "q135_pagerank" -> ("Int64-exact Jacobi iterations (one join + partial-agg " +
      "exchange per round); the final global rank is DistributedRank, not a " +
      "no-partition window — no single-partition sort above the host frame."),
    "q149_rank_functions" -> ("The whole SQL rank-function family (ntile / " +
      "percent_rank / cume_dist) as per-row projections of DistributedRank's " +
      "(rank, total) pair — NO Window operator; one range shuffle + KB-sized " +
      "offset jobs regardless of language skew."),
    "q150_hdr_quantiles" -> ("Mergeable HDR quantile sketches: per-lang " +
      "ObjectHashAggregate into 1888 integer counters; the global row is a " +
      "counter-SUM merge of the localized per-lang sketch frame (the persisted " +
      "sketch table stand-in) — raw values scanned ONCE, quantile read-out is " +
      "integer arithmetic over the tiny sketch rows."),
    "q151_zorder_cells" -> ("Morton interleave as pure codegen'd bit arithmetic " +
      "(shifts/masks/OR folds inside WholeStageCodegen) — the z-layout key " +
      "costs no exchange of its own; the only shuffle is the cell aggregation."),
    "q153_bm25" -> ("Inverted-index retrieval: per-(doc,term) tf partial-agg; " +
      "term df and (N, avgdl) corpus stats broadcast; top-15 is " +
      "TakeOrderedAndProject — no global sort, nothing corpus-sized on one task."),
    "q165_rrf_fusion" -> ("Hybrid RRF: probe postings BROADCAST into the lexical " +
      "leg (candidate tf frame matches map-side, no shuffle to pair); per-probe " +
      "top-k on both legs is the bounded TopKPerKeyPartial/Final heap pair; the " +
      "fusion full-outer join runs on two k-bounded lists — nothing corpus-sized " +
      "crosses an exchange after the tf aggregation."),
    "q166_corpus_drift" -> ("Corpus-drift TV distance: one explode -> " +
      "groupBy(lang, token) with map-side combine; language totals broadcast " +
      "back; the cross-multiplied |cA*NB - cB*NA| contributions stay integer; " +
      "top drifting tokens via the bounded TopKPerKey heap — no Window, one " +
      "corpus-sized exchange total."),
    "q170_importance_resample" -> ("DSIR importance resampling: vocabulary-" +
      "sized ratio table broadcasts; the corpus token frame joins map-side " +
      "and partial-aggregates per doc; the global top-20% cut is " +
      "DistributedRank (range shuffle + KB offset jobs), NOT a no-partition " +
      "window — no corpus-sized single-task sort anywhere."),
    "q173_personalized_pagerank" -> ("Seed-teleport PageRank: same per-round " +
      "join + partial-agg exchange as q135; the seed membership test is a " +
      "pure projection, so personalization costs zero extra plan structure; " +
      "final rank via DistributedRank."),
    "q184_token_shards" -> ("Token-balanced sharding: the exclusive token " +
      "prefix sum is DistributedRank.prefixSum — range shuffle + KB offset " +
      "job, NO Window operator; shard assignment is integer math in the " +
      "same projection."),
    "q185_substring_dup_hashed" -> ("Substring-dup audit on the 100 TB " +
      "layout: the codegen'd graft_rolling_hash emits all k-windows in one " +
      "O(len) pass and the multiplicity exchange carries 8-byte longs, not " +
      "k-char substrings — 2.5x faster than the exact-text form at sf1 and " +
      "hash-identical to its exact-text oracle."),
    "q186_collocations" -> ("word2phrase collocations: map-side bigram " +
      "explode into ONE partial-agg shuffle; unigram vocab + totals " +
      "broadcast back; per-lang top-10 is the bounded TopKPerKey heap pair " +
      "— no sort of the bigram table."),
    "q189_eval_leakage" -> ("Train->eval verbatim leakage: both sides keyed " +
      "by rolling hashes; containment is a hash-partitioned LeftSemi join " +
      "(the train window set is corpus-sized — never broadcast); per-doc " +
      "coverage via the min(k, gap) identity on doc-keyed windows."),
    "q194_incremental_cc" -> ("Incremental CC: standing components contract " +
      "to their label nodes via two increment-keyed joins; min-label CC runs " +
      "over the CONTRACTED increment-sized graph (localized), then ONE " +
      "labels-table relabel join — the full edge history is never revisited."),
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — headline physical plans (generated by `graft.Explain`)\n\n"
    sb ++= s"Source: `$sfDir`. Regenerate: `graft.Explain <sfDir> PLANS.md`.\n"
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      // the formatted header (operator tree) is the signal; from the
      // per-node detail keep only the scan-pushdown evidence lines
      sb ++= plan.split("\n\n").head
      val evidence = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema")).map(_.trim).toSeq
      if (evidence.nonEmpty) sb ++= evidence.distinct.mkString("\n---\n", "\n", "")
      sb ++= "\n```\n"
    }
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
    spark.stop()
  }
}
