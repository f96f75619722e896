package graft.ops.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for corpus-scale pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * All hashing is md5-derived so results are reproducible across
  * engines (the DuckDB oracle recomputes identical signatures):
  * h(seed, x) = first 15 hex digits of md5("<seed>|" + x) as int64
  * (60 bits, always non-negative).
  *
  * Scale notes: every step is groupBy/join on hashed keys — shuffles
  * are on (doc, seed) or the (band, key) bucket id with partial
  * aggregation; no driver-side state, no quadratic all-pairs stage
  * (LSH restricts Jaccard verification to bucket-colliding
  * candidates only).
  */
object Dedup {

  /** md5-based deterministic 60-bit hash of a string column. */
  def h60(seed: Column, x: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit("|"), x)), 1, 15), 16, 10)
      .cast("long")

  /** Exact dedup: keep the row with min(id) per identical content
    * hash (hash-groupBy; map-side combine). Returns
    * (content_hash, keep_id, n_copies, <minOf> mins). */
  def exact(df: DataFrame, idCol: String, contentCol: String,
            minOf: Seq[String] = Nil): DataFrame = {
    val aggs = Seq(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies")) ++
      minOf.map(c => min(col(c)).as(c))
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Exact-dedup SURVIVORS: the full row with min(id) per identical
    * content hash, in ONE shuffle — groupBy(content hash) +
    * min_by(struct(all columns), id). The agg-then-join-back form
    * (`exact` + join on keep_id) pays a second corpus-wide shuffle
    * for the join; at 100 TB the keep-set is corpus-sized, so that
    * join can never broadcast. Identical result, half the exchanges.
    *
    * The group key is `unhex(md5(text))`: the same 128-bit digest as
    * `exact`'s hex `content_hash`, carried as 16 bytes instead of 32
    * hex characters. unhex is one-to-one on md5's fixed-width hex, so
    * the groups are exactly the hex-keyed ones; null text hashes to a
    * null key and stays one group.
    *
    * The aggregate stays `min_by` over the whole row: it plans as a
    * sort-based aggregate, which spills. A `row_number() = 1` window
    * would be rewritten to [[graft.plans.TopKPerKey]], which keeps one
    * unspilled heap per distinct key per partition — for a content
    * hash, nearly one per row. */
  def exactKeep(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(unhex(md5(col(contentCol))).as("content_hash"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("r"))
      .select(cols.map(c => col(s"r.`$c`").as(c)): _*)
  }

  /** (id, w) pairs where w is a word k-gram shingle — the
    * order-sensitive unit for near-dup detection (word sets are too
    * coarse on small vocabularies: reordered text still matches).
    * Output (id, w), the relation the inverted-index family
    * ([[postingLists]]) groups.
    *
    * Shingles are assembled per-row from the token ARRAY (slice +
    * concat_ws over a generated index sequence) — pure map-side
    * compute, ZERO shuffles. The earlier formulation (posexplode +
    * k-1 window lags partitioned by doc) paid a full shuffle+sort of
    * every token row before the first shingle existed; at corpus
    * scale that sort is the whole job.
    *
    * The output is a MULTISET: a shingle repeated inside one document
    * appears once per occurrence. Deliberate — the one consumer that
    * needs set semantics gets them where they're cheap:
    * invertedJaccard dedups inside its posting-list aggregation
    * (collect_set).
    * A corpus-wide `.distinct()` here would shuffle every (doc,
    * shingle) occurrence — the single largest exchange of the whole
    * dedup pipeline at 100 TB — to protect aggregations that never
    * needed it. */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol),
        explode(expr(
          s"transform(sequence(0, size(toks) - $k), i -> concat_ws(' ', slice(toks, i + 1, $k)))"))
          .as("w"))

  /** Per-document DISTINCT shingles with the dedup done IN-ROW
    * (array_distinct on the per-doc shingle array, before the
    * explode) — zero exchanges, unlike `.distinct()` on the exploded
    * stream, which shuffles the whole corpus's n-grams on (id, w).
    * The form consumers that need per-doc gram sets (decontamination
    * accounting) must use at 100 TB. */
  def shingleSetDistinct(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3): DataFrame =
    df.select(col(idCol), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol),
        explode(array_distinct(expr(
          s"transform(sequence(0, size(toks) - $k), i -> concat_ws(' ', slice(toks, i + 1, $k)))")))
          .as("w"))

  /** MinHash signatures straight from the document frame, ZERO
    * shuffle: [[graft.functions.MinHashSig]] computes the n minima
    * in one codegen'd pass over each row's text — no shingle explode
    * and no hash-aggregate. Bit-identical output and dropped-row set
    * (documents with < k tokens vanish in both forms) to the aggregate
    * reference form over `shingleSet` (test-scope
    * `DedupReference.minHash`), proven by `MinHashSigSpec` on the real
    * corpus.
    *
    * This is the formulation the LSH chain should start from at
    * 100 TB: the signature branch becomes map-only and the first
    * exchange of the whole dedup pipeline is the band-bucket
    * shuffle (n/r rows of one 8-byte bucket id per doc). Shingles then
    * exist only inside the verifier, as one in-row set per candidate
    * doc AFTER the restriction ([[jaccardTextReleasable]]) — nothing
    * ever explodes the corpus's n-grams. */
  def minHashText(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, n: Int = 16): DataFrame = {
    val sig = graft.functions.MinHashSig.signature(col(textCol), k, n)
    df.select(col(idCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol) +:
        (0 until n).map(i => col("__sig").getItem(i).as(f"mh$i%02d")): _*)
  }

  /** LSH banding over the wide signature: band key = md5 of
    * ':'-joined minhash values in seed order. Output (id, band,
    * band_key) — ONE pass: all band structs built in a single select
    * and exploded. (A union of per-band selects re-evaluates the
    * whole upstream signature aggregation once per band — 4x the agg
    * work for n=16/r=4.) */
  def lshBands(sig: DataFrame, idCol: String, n: Int = 16,
               rowsPerBand: Int = 4): DataFrame = {
    val entries = (0 until n / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(f"mh${b * rowsPerBand + r}%02d"))
      struct(lit(b).as("band"), md5(concat_ws(":", cols: _*)).as("band_key"))
    }
    sig.select(col(idCol), explode(array(entries: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs: ids sharing any (band, band_key) bucket,
    * a < b, distinct. The whole point of LSH: the later exact
    * verification only touches these pairs, never all N^2.
    *
    * Implemented as collect_list-per-bucket + in-row pair expansion,
    * NOT a self-join — a self-join would evaluate the whole upstream
    * signature pipeline twice (measured 2x wall time at sf0.1).
    *
    * The bucket is keyed on ONE bigint, `xxhash64(band, band_key)`,
    * and `band_key` is projected away before the window: the bucket
    * exchange carries (id, bucket) rows of two longs instead of the
    * 32-character md5 hex. The key's only use is equality. Two
    * distinct (band, band_key) buckets merge only on a 64-bit
    * collision — about b^2/2^65 for b buckets; none occurs over the
    * 19,108 buckets of sf0.1 (`DedupSpec`'s collision audit) or the
    * 186,402 of sf1 (SCALE.md). A merge would add candidates (each
    * still verified), or push a bucket over the cap. `lshBands` and the band store keep
    * the `band_key` strings, which the oracle replays.
    *
    * Bucket sizes are small by construction ONLY while bands are
    * selective; a degenerate bucket (empty-text docs, a boilerplate
    * template shared by millions of pages) makes the m^2 expansion a
    * quadratic skew bomb at corpus scale. `maxBucket` caps it: buckets
    * with more than `maxBucket` colliding docs are dropped from pair
    * generation (standard LSH practice — a bucket that un-selective
    * carries no pairwise signal; route such clusters through exact
    * dedup, which the curation funnel runs FIRST). Pair count per
    * bucket is thus bounded by maxBucket^2/2 regardless of skew.
    *
    * The cap is applied BEFORE any id list exists: a window count
    * over the bucket — same hash distribution as the final
    * aggregation, so Catalyst plans ONE exchange — filters oversized
    * buckets while the rows stream through the (disk-spillable)
    * window sorter. The earlier collect_list-then-filter form built
    * a pathological bucket's entire id array inside one in-memory
    * aggregation buffer before dropping it: a million-doc boilerplate
    * bucket at corpus scale is an executor OOM, not a filter. */
  def candidatePairs(bands: DataFrame, idCol: String,
                     maxBucket: Int = 64): DataFrame = {
    val bucket = Window.partitionBy(col("__bucket"))
    bands
      .select(col(idCol), xxhash64(col("band"), col("band_key")).as("__bucket"))
      .withColumn("__bn", count(lit(1)).over(bucket))
      .filter(col("__bn").between(2, maxBucket))
      .groupBy(col("__bucket"))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental near-dup: flag NEW-batch documents that near-
    * duplicate any REFERENCE-corpus document — the daily-crawl shape
    * (dedup the increment against the standing corpus, never re-pair
    * the corpus against itself). The tag survives the whole pair
    * pipeline as the id's low bit (uid = id*2 + {0 ref, 1 batch}), so
    * banding/bucketing run ONCE over the union and same-corpus pairs
    * are dropped by a parity filter BEFORE verification — reference×
    * reference pairs (the quadratic bulk of a standing corpus) never
    * reach the verifier. Returns [[jaccardTextReleasable]]'s columns
    * over uids; callers recover (new_id, ref_id) as uid >> 1 by
    * parity. Same eager candidate count as [[jaccardTextReleasable]]. */
  def dedupAgainst(reference: DataFrame, batch: DataFrame, idCol: String,
                   textCol: String, k: Int = 3, n: Int = 16,
                   rowsPerBand: Int = 4, maxBucket: Int = 64): DataFrame = {
    val (cand, u) = dedupAgainstStages(reference, batch, idCol, textCol,
      k, n, rowsPerBand, maxBucket)
    jaccardTextReleasable(cand, u, "uid", "__t", k).df
  }

  /** [[dedupAgainst]] with the [[jaccardTextScoped]] discipline: `use`
    * runs its actions over the verified frame, then the internal
    * caches are released in a finally — no cached partitions outlive
    * the call. */
  def dedupAgainstScoped[A](reference: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String, k: Int = 3,
                            n: Int = 16, rowsPerBand: Int = 4,
                            maxBucket: Int = 64)(use: DataFrame => A): A = {
    val (cand, u) = dedupAgainstStages(reference, batch, idCol, textCol,
      k, n, rowsPerBand, maxBucket)
    jaccardTextScoped(cand, u, "uid", "__t", k)(use)
  }

  /** Returns (parity-filtered candidate pairs, the tagged union doc
    * frame) — the verifier derives shingles from the union AFTER the
    * candidate restriction ([[jaccardTextReleasable]]), so neither
    * corpus is ever exploded whole. */
  private def dedupAgainstStages(reference: DataFrame, batch: DataFrame,
                                 idCol: String, textCol: String, k: Int,
                                 n: Int, rowsPerBand: Int,
                                 maxBucket: Int): (DataFrame, DataFrame) = {
    val u = reference
      .select((col(idCol) * 2).as("uid"), col(textCol).as("__t"))
      .unionByName(batch
        .select((col(idCol) * 2 + 1).as("uid"), col(textCol).as("__t")))
    val cand = candidatePairs(
        lshBands(minHashText(u, "uid", "__t", k, n), "uid", n, rowsPerBand),
        "uid", maxBucket)
      .filter(col("id_a") % 2 =!= col("id_b") % 2)
    (cand, u)
  }

  /** Default broadcast budget of the verifiers' candidate-id gate
    * ([[candidateSide]]): the most distinct ids hinted as a broadcast. */
  val BroadcastCandMax: Long = 4000000L

  /** A frame paired with a release() that frees the internal caches
    * backing it (mirrors [[ConnectedComponents.release]]). Call
    * release only AFTER the frame's consumers have run their actions:
    * the caches are part of the frame's execution, not an optional
    * speedup — releasing early re-evaluates the whole upstream
    * pipeline per consumer.
    *
    * `candBroadcast`: the verifier's candidate-id gate
    * ([[candidateSide]]) proved the distinct candidate ids within
    * `broadcastCandMax` and hinted their broadcast. Every id column of
    * the verified frame is a subset of those ids, so a consumer may
    * broadcast any id set drawn from it on the same verdict, decided
    * at plan time with no count of its own. False over the budget and
    * on handles that carry no verifier. */
  final case class Releasable(df: DataFrame, release: () => Unit,
                              candBroadcast: Boolean = false)

  /** Exact shingle-set Jaccard for given candidate pairs, fed
    * DOCUMENTS, with the set algebra done IN-ROW. The candidate
    * semi-join restricts the DOC frame first; each surviving doc then
    * becomes ONE row carrying its distinct shingle identities as an
    * array (`array_distinct` of the `xxhash64` of each k-token tuple),
    * joined onto the pairs by id_a and by id_b. n_inter is
    * `size(array_intersect(a, b))`, n_a / n_b the array sizes, and
    * jaccard = n_inter / (n_a + n_b - n_inter).
    *
    * Since the signature branch went map-only ([[minHashText]]), this
    * is the ONLY consumer of shingles in the LSH chain, and nothing
    * explodes n-grams at all: no (id, w) row, no exchange keyed on a
    * shingle. The verifier's exchanges are the candidate-doc distinct
    * (doc text) and, past the broadcast budget, the two id-keyed joins
    * of one array row per candidate doc. Those set rows are cached:
    * both join sides read them, and uncached each side re-ran the
    * candidate-doc distinct (AQE did not reuse its exchange). Cost is O(|pairs| x shingles-per-doc), linear
    * in the candidate-pair count like the pair-anchored form; the
    * df^2 posting-list term never appears.
    *
    * The shingle identity is the k-token tuple's 8-byte `xxhash64`.
    * Tokens are whitespace-free, so the tuple is injective up to
    * 64-bit collisions: one inside a doc undercounts its set size by
    * 1, one across a verified pair overcounts n_inter by 1 — about
    * s^2/2^64 per doc or pair. The DuckDB oracle replays string
    * equality, so a collision at a gated SF fails the hash gate.
    *
    * Same rows as the exploded words-fed verifier over
    * `shingleSet(docs, ...)` (test-scope `DedupReference.jaccard`, the
    * `DedupSpec` reference) up to those collisions; docs with fewer
    * than k tokens drop their pairs (inner joins), as there. Output
    * columns: id_b, id_a, <any other pair columns>, n_inter, n_a, n_b,
    * jaccard.
    *
    * EAGER by construction: unless `candCount` is supplied, this runs
    * a Spark job AT CALL TIME (a count over the cached pair frame,
    * which materializes the whole upstream LSH pipeline) to decide the
    * broadcast-vs-shuffle regime ([[candidateSide]]). Callers that know
    * the candidate cardinality pass it via `candCount`. release() frees
    * the pair and set caches, and the handle's `candBroadcast` carries
    * the count gate's verdict ([[Releasable]]). */
  def jaccardTextReleasable(pairs: DataFrame, docs: DataFrame, idCol: String,
                            textCol: String, k: Int = 3,
                            broadcastCandMax: Long = BroadcastCandMax,
                            candCount: Option[Long] = None): Releasable = {
    val p = pairs.cache()
    val (candSide, hinted) = candidateSide(p, idCol, broadcastCandMax, candCount)
    // row-level distinct FIRST: a replayed/duplicated document (same
    // (id, text) row twice — the streaming replay case) must collapse,
    // or its pairs would join twice. Contract note: an id carried by
    // two DIFFERENT texts violates the same-id = same-doc contract
    // every caller documents; see [[assertSameIdSameDoc]] for the
    // opt-in debug guard.
    val candDocs = docs.select(col(idCol), col(textCol))
      .join(candSide, Seq(idCol), "left_semi")
      .distinct()
    assertSameIdSameDoc(candDocs, idCol)
    val hashArgs = (0 until k).map(j => s"element_at(toks, i + ${j + 1})")
      .mkString(", ")
    val sets = candDocs.select(col(idCol), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol), array_distinct(expr(
        s"transform(sequence(0, size(toks) - $k), i -> xxhash64($hashArgs))")).as("__w"))
      .cache()
    def side(s: String) = sets.select(col(idCol).as(s"id_$s"), col("__w").as(s"__w$s"))
    val df = p
      .join(side("a"), "id_a")
      .join(side("b"), "id_b")
      .withColumn("n_inter", size(array_intersect(col("__wa"), col("__wb"))).cast("long"))
      .withColumn("n_a", size(col("__wa")).cast("long"))
      .withColumn("n_b", size(col("__wb")).cast("long"))
      .drop("__wa", "__wb")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
    Releasable(df, () => { p.unpersist(false); sets.unpersist(false) }, hinted)
  }

  /** Opt-in debug guard (`-Dgraft.dedup.assertContract=1`) for the
    * same-id = same-doc contract the in-row shingle sets rely on:
    * after the row-level distinct, any id still carried by more than
    * one row means two DIFFERENT texts share an id — the case whose
    * shingle sets the pre-r16 global distinct silently unioned and
    * the in-row form scores once per text (duplicate pair rows with
    * different counts). OFF by default (it
    * is one extra eager aggregation over the candidate docs per
    * verify call); turn it on when validating a new ingestion path. */
  private def assertSameIdSameDoc(candDocs: DataFrame, idCol: String): Unit =
    if (sys.props.get("graft.dedup.assertContract").contains("1")) {
      val bad = candDocs.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      require(bad.isEmpty, s"same-id=same-doc contract violated: $idCol=" +
        s"${bad.head.get(0)} carries ${bad.head.get(1)} distinct texts")
    }

  /** Scoped [[jaccardTextReleasable]]: hand the verified frame to
    * `use` (which must run its actions), then release the internal
    * caches in a finally. */
  def jaccardTextScoped[A](pairs: DataFrame, docs: DataFrame, idCol: String,
                           textCol: String, k: Int = 3,
                           broadcastCandMax: Long = BroadcastCandMax,
                           candCount: Option[Long] = None)
                          (use: DataFrame => A): A = {
    val h = jaccardTextReleasable(pairs, docs, idCol, textCol, k,
      broadcastCandMax, candCount)
    try use(h.df) finally h.release()
  }

  /** The candidate id set of a cached pair frame, broadcast ONLY
    * while provably small. Per-bucket caps bound pairs per bucket,
    * not the global candidate count: a heavily duplicated corpus
    * makes the distinct candidate ids corpus-order, and a forced
    * broadcast of a corpus-order set is a driver OOM. The count is
    * one cheap job over the already-cached pair frame; over the
    * budget, the hint is dropped and the planner/AQE picks the join
    * (shuffle at scale). Returns the id frame and the verdict (true =
    * hinted); the verifiers surface the verdict as
    * [[Releasable]]`.candBroadcast`, so a consumer of any subset of
    * these ids (CorpusCurationJob's flag join) plans its own
    * broadcast from it without another count. */
  private[graft] def candidateSide(p: DataFrame, idCol: String,
                            broadcastCandMax: Long,
                            candCount: Option[Long]): (DataFrame, Boolean) = {
    val candIds = p
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val small = candCount.getOrElse(candIds.count()) <= broadcastCandMax
    (if (small) broadcast(candIds) else candIds, small)
  }

  /** Pairwise shingle Jaccard via an inverted index (posting lists)
    * with a document-frequency cap — the scale-shaped form of n-gram
    * near-dup detection.
    *
    * Input: (groupCols..., id, w) shingle rows — a MULTISET is fine
    * (collect_set dedups inside the grouped aggregation, so callers
    * never pay a corpus-wide distinct shuffle). One shuffle
    * builds the posting list (doc ids per (group, shingle)); shingles
    * with df > maxDf are dropped BEFORE any pair expansion — a hot
    * shingle ("of the" inside a big group) otherwise emits m^2 pairs
    * and is pure skew: it appears in most documents, so it carries no
    * similarity signal (every df-capped dedup pipeline drops these).
    * Per-doc sizes and intersections are both computed over the SAME
    * capped shingle universe, so the Jaccard stays a consistent
    * measure. Pair expansion is in-row from the posting list (no
    * self-join: that would re-evaluate the upstream pipeline twice),
    * bounded by maxDf^2/2 pairs per shingle regardless of skew.
    *
    * Output: (id_a, id_b, n_inter, n_a, n_b, jaccard). */
  def invertedJaccard(sh: DataFrame, idCol: String, wCol: String,
                      groupCols: Seq[String], maxDf: Int): DataFrame =
    invertedJaccardFrom(postingLists(sh, idCol, wCol, groupCols), maxDf)

  /** [[invertedJaccard]] with scoped release of the posting-list
    * cache: `use` runs its actions, then the cache is released in a
    * finally — no cached partitions outlive the call. */
  def invertedJaccardScoped[A](sh: DataFrame, idCol: String, wCol: String,
                               groupCols: Seq[String], maxDf: Int)
                              (use: DataFrame => A): A = {
    val posting = postingLists(sh, idCol, wCol, groupCols)
    try use(invertedJaccardFrom(posting, maxDf))
    finally posting.unpersist(false)
  }

  /** The ONE grouped shuffle of the inverted-index family: doc-id
    * SETS per (group, shingle), cached — every downstream consumer
    * (df statistics, the df cap, pair expansion, per-doc sizes)
    * derives from this frame instead of re-shuffling the corpus.
    * Input may be a multiset (collect_set dedups in-agg). Released
    * by the caller's session lifecycle; at cluster scale this is the
    * checkpoint/table between extraction and verification. */
  def postingLists(sh: DataFrame, idCol: String, wCol: String,
                   groupCols: Seq[String]): DataFrame = {
    // repartition by the grouping key FIRST so the aggregation runs
    // single-stage above it (r17, guide §2.3): the exchange then
    // carries RAW fixed-width rows. The plain groupBy form shuffled
    // map-side partial collect_set buffers — with shingle-cardinality
    // keys the partial pass dedups almost nothing (df ≈ 1), so every
    // key crossed wrapped in an UnsafeArray (and the 128-key
    // object-agg fallback SORTED every map partition first): measured
    // at sf1 on q44, 226 MB → the raw-row form's bytes, with the
    // map-side sort gone. Same sets, same cache, one exchange either
    // way.
    val keys = groupCols.map(col) :+ col(wCol)
    sh.repartition(keys: _*)
      .groupBy(keys: _*)
      .agg(collect_set(col(idCol)).as("ids"))
      .cache()
  }

  /** invertedJaccard over prebuilt (cached) posting lists — see
    * invertedJaccard for the semantics and the df-cap rationale. */
  def invertedJaccardFrom(posting0: DataFrame, maxDf: Int): DataFrame = {
    val posting = posting0.filter(size(col("ids")) <= maxDf)
    val cnt = posting.select(explode(col("ids")).as("__id"))
      .groupBy("__id").agg(count(lit(1)).as("n"))
    val inter = posting.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.withColumnRenamed("__id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(cnt.withColumnRenamed("__id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Asymmetric set-CONTAINMENT scores over an [[invertedJaccard]] /
    * [[jaccardTextReleasable]] output frame: c_ab = |A∩B| / |A| (how
    * much of doc a sits inside doc b) and c_ba = |A∩B| / |B|. Containment is the
    * quote/excerpt/subset-duplication signal Jaccard structurally
    * misses — a 100-word excerpt inside a 10k-word page has Jaccard
    * ~0.01 but containment ~1.0 — and a training corpus wants those
    * pages deduped (the excerpt adds nothing) or at least weighted.
    * Pure projection: no new shuffle, the verifier's (n_inter, n_a,
    * n_b) already carry everything. */
  def containment(j: DataFrame): DataFrame = j
    .withColumn("c_ab", col("n_inter").cast("double") / col("n_a"))
    .withColumn("c_ba", col("n_inter").cast("double") / col("n_b"))

  /** SimHash straight from the document frame, ZERO shuffle:
    * [[graft.functions.SimHashSig]] folds the distinct-word ±1 votes
    * in one codegen'd pass over each row's text — neither a
    * corpus-wide (doc, word) distinct nor a 64-column vote aggregation
    * ever happens. Bit-identical output and dropped-row set (null-text
    * docs vanish in both forms) to the aggregate reference form
    * (test-scope `DedupReference.simHash`), proven by `SimHashSigSpec`
    * on the real corpus. The map-only front end
    * the simhash dedup chain should start from at 100 TB. */
  def simHashText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = graft.functions.SimHashSig.signature(col(textCol))
    df.select(col(idCol), sig.as("__sh"))
      .filter(col("__sh").isNotNull)
      .select(col(idCol),
        col("__sh").getItem(0).as("simhash_hi"),
        col("__sh").getItem(1).as("simhash_lo"))
  }
}
