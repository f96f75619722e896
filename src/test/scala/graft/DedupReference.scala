package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.dedup.Dedup

/** Reference spellings of dedup relations that main code no longer
  * builds, kept for specs to compare the in-row forms against. */
object DedupReference {

  /** Distinct (id, word) pairs from whitespace-tokenized text. */
  def wordSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("w")).distinct()

  /** MinHash signatures as n min-aggregate columns over (id, w) rows:
    * the aggregate form `Dedup.minHashText` computes map-only. Output
    * (id, mh00..mh<n-1>).
    *
    * The n functions are a Carter-Wegman family over ONE md5 per
    * shingle: h1 = hex[1..15], h2 = hex[17..31] (60 bits each),
    * h_i = (h1 + i*h2) mod 2^60, with the i*h2 product split at 2^30
    * so every intermediate stays < 2^61 (exact in int64 for Spark and
    * DuckDB alike). */
  def minHash(words: DataFrame, idCol: String, n: Int = 16): DataFrame = {
    val dig = md5(col("w"))
    val h1 = conv(substring(dig, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(dig, 17, 15), 16, 10).cast("long")
    // integral split (Column./ would go through double and lose bits)
    val h2hi = shiftright(h2, 30)
    val h2lo = h2.bitwiseAND(lit(1073741823L)) // 2^30 - 1
    def hi(i: Int): Column =
      (h1 + (lit(i.toLong) * h2hi % lit(1073741824L)) * lit(1073741824L)
        + lit(i.toLong) * h2lo) % lit(1152921504606846976L) // 2^60
    val aggs = (0 until n).map(i => min(hi(i).cast("long")).as(f"mh$i%02d"))
    words.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** SimHash (64-bit, as two int32-range longs hi/lo) as 64 vote-sum
    * aggregate columns over (id, w) rows: the aggregate form
    * `Dedup.simHashText` computes map-only. Bit j (j < 32 in the first
    * half) is bit (31 - j) of the word md5's parsed 32-bit half.
    * Output (id, simhash_hi, simhash_lo). */
  def simHash(words: DataFrame, idCol: String): DataFrame = {
    val withHalves = words
      .withColumn("wh", md5(col("w")))
      .withColumn("h1", conv(substring(col("wh"), 1, 8), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("wh"), 9, 8), 16, 10).cast("long"))
    def vote(half: Column, j: Int): Column =
      sum(shiftright(half, 31 - j).bitwiseAND(1) * 2 - 1)
    val aggs = (0 until 32).map(j => vote(col("h1"), j).as(f"v$j%02d")) ++
      (0 until 32).map(j => vote(col("h2"), j).as(f"v${j + 32}%02d"))
    val voted = withHalves.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    def packed(lo: Int): Column = (0 until 32).map { j =>
      when(col(f"v${lo + j}%02d") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ + _)
    // lo packs bits j=0..31 as b<<j, hi packs j=32..63 as b<<(j-32)
    voted.select(col(idCol), packed(32).as("simhash_hi"), packed(0).as("simhash_lo"))
  }

  /** Exact shingle-set Jaccard for candidate pairs over an exploded
    * (id, w) relation (a multiset is fine): the pair-anchored form
    * `Dedup.jaccardTextReleasable` replaced with one in-row set per
    * candidate doc. The candidate ids restrict the words relation
    * (broadcast under the same `Dedup.candidateSide` gate), each pair
    * fans out by doc a's shingles, and one equi-join probes doc b's
    * membership. Same eager candidate count as the text verifier. */
  def jaccard(pairs: DataFrame, words: DataFrame, idCol: String,
              broadcastCandMax: Long = Dedup.BroadcastCandMax,
              candCount: Option[Long] = None): DataFrame =
    jaccardReleasable(pairs, words, idCol, broadcastCandMax, candCount).df

  /** [[jaccard]] with a release() that unpersists its pair and
    * candidate-words caches. */
  def jaccardReleasable(pairs: DataFrame, words: DataFrame, idCol: String,
                        broadcastCandMax: Long = Dedup.BroadcastCandMax,
                        candCount: Option[Long] = None): Dedup.Releasable = {
    val p = pairs.cache()
    val (candSide, hinted) = Dedup.candidateSide(p, idCol, broadcastCandMax, candCount)
    // candidate-restricted DISTINCT (id, w): the set semantics Jaccard
    // needs, taken on the candidate-cut relation only
    val cw = words.join(candSide, idCol).distinct().cache()
    Dedup.Releasable(jaccardCore(p, cw, idCol),
      () => { p.unpersist(false); cw.unpersist(false) }, hinted)
  }

  /** Scoped [[jaccard]]: hand the verified frame to `use` (which must
    * run its actions), then release the internal caches. */
  def jaccardScoped[A](pairs: DataFrame, words: DataFrame, idCol: String,
                       broadcastCandMax: Long = Dedup.BroadcastCandMax,
                       candCount: Option[Long] = None)(use: DataFrame => A): A = {
    val h = jaccardReleasable(pairs, words, idCol, broadcastCandMax, candCount)
    try use(h.df) finally h.release()
  }

  private def jaccardCore(p: DataFrame, cw: DataFrame, idCol: String): DataFrame = {
    val counts = cw.groupBy(idCol).agg(count(lit(1)).as("n"))
    // pair-anchored intersection: |pairs| x shingles-per-doc rows
    val inter = p.select("id_a", "id_b")
      .join(cw.select(col(idCol).as("id_a"), col("w")), "id_a")
      .join(cw.select(col(idCol).as("id_b"), col("w")), Seq("id_b", "w"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    p
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(counts.withColumnRenamed("n", "n_a")
        .withColumnRenamed(idCol, "id_a"), "id_a")
      .join(counts.withColumnRenamed("n", "n_b")
        .withColumnRenamed(idCol, "id_b"), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** Per-document DISTINCT shingles as exploded (id, w) rows, with the
    * shingle identity carried as the 8-byte xxhash64 of the k-token
    * tuple: the same identities `Dedup.jaccardTextReleasable` keeps
    * in-row as one array per document. Fed to the words-path
    * [[jaccard]], it spells the text verifier's intended result
    * through the exploded, pair-anchored verifier. */
  def shingleHashSetDistinct(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 3): DataFrame = {
    val hashArgs = (0 until k).map(j => s"element_at(toks, i + ${j + 1})")
      .mkString(", ")
    df.select(col(idCol), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(idCol),
        explode(array_distinct(expr(
          s"transform(sequence(0, size(toks) - $k), i -> xxhash64($hashArgs))")))
          .as("w"))
  }

  /** `Dedup.candidatePairs` keyed on the (band, band_key) strings
    * themselves: the window cap and the per-bucket id lists partition
    * on the md5 hex, as the main code did before it keyed the bucket
    * on one 64-bit hash. */
  def candidatePairsByKey(bands: DataFrame, idCol: String,
                          maxBucket: Int = 64): DataFrame = {
    val bucket = Window.partitionBy(col("band"), col("band_key"))
    bands
      .withColumn("__bn", count(lit(1)).over(bucket))
      .filter(col("__bn").between(2, maxBucket))
      .groupBy(col("band"), col("band_key"))
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** `Dedup.exactKeep` grouped on the 32-character md5 hex instead of
    * its 16 bytes. */
  def exactKeepByHex(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("r"))
      .select(cols.map(c => col(s"r.`$c`").as(c)): _*)
  }
}
