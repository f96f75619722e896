package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference spellings of dedup relations that main code no longer
  * builds, kept for specs to compare the in-row forms against. */
object DedupReference {

  /** Per-document DISTINCT shingles as exploded (id, w) rows, with the
    * shingle identity carried as the 8-byte xxhash64 of the k-token
    * tuple: the same identities `Dedup.jaccardTextReleasable` keeps
    * in-row as one array per document. Fed to the words-path
    * `Dedup.jaccard`, it spells the text verifier's intended result
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
