package graft

import org.apache.spark.sql.DataFrame
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
}
