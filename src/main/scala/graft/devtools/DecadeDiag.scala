package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.Dedup

/** Dev harness: diagnose WHERE q129's candidate pairs come from on a
  * GenScale rung — the adjudication tool for a bent decade curve
  * (SCALE.md). The verifier is pair-linear by construction
  * ([[Dedup.jaccardTextReleasable]]), so a superlinear shuffle curve
  * means a superlinear CANDIDATE count; this prints the count and its
  * composition per rung so "engine plan is wasteful" can be told
  * apart from "the corpus plants superlinear collisions":
  *   - recrawl:   the planted re-crawl pairs (bit-60 id vs its source)
  *   - same_src:  cross-copy pairs of one source doc (ids congruent
  *                mod the GenScale shift) — these SHOULD be ~0; the
  *                stride permutations are designed dissimilar
  *   - same_copy: pairs within one copy cycle (the replanted natural
  *                dup classes of the sf0.1 originals — linear growth)
  *   - cross:     everything else (random LSH collisions — honest
  *                noise, should be near-zero per batch doc)
  * Also prints the collapsed-copy count: docs whose multiplicative
  * "permutation" had gcd(mult, n) > 1 and therefore repeats a subset
  * of words (distinct-word count < word count vs its source) — the
  * generator artifact that fabricates tiny shingle sets.
  *
  * Usage: DecadeDiag [dir ...] — defaults to tmp/sf1 tmp/sf10.
  */
object DecadeDiag {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/repo/tmp/sf1", "/root/repo/tmp/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val shift = 1000000000L
    val tag = 1L << 60

    dirs.foreach { d =>
      val docs = Tables.documents(spark, d)
      val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      val recrawl = docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
        .select((col("doc_id") + tag).as("doc_id"),
          concat_ws(" ",
            expr("slice(split(text, '\\\\s+'), 1, 3)"),
            expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text"))
      val batch = fresh.unionByName(recrawl)

      // q129's exact candidate stage (public API recomposition)
      val u = ref.select((col("doc_id") * 2).as("uid"), col("text").as("__t"))
        .unionByName(batch.select((col("doc_id") * 2 + 1).as("uid"), col("text").as("__t")))
      val cand = Dedup.candidatePairs(
          Dedup.lshBands(Dedup.minHashText(u, "uid", "__t"), "uid"), "uid")
        .filter(col("id_a") % 2 =!= col("id_b") % 2)
        .withColumn("da", shiftright(col("id_a"), 1))
        .withColumn("db", shiftright(col("id_b"), 1))
        .withColumn("sa", pmod(col("da") % tag, lit(shift)))
        .withColumn("sb", pmod(col("db") % tag, lit(shift)))
        // INTEGER copy index: Column `/` is double division, which
        // would make ca = copy + src/1e9 and the same_copy branch
        // unsatisfiable (sa =!= sb there by construction) — same-copy
        // pairs would silently land in "cross"/"polluted"
        .withColumn("ca", floor((col("da") % tag) / shift).cast("long"))
        .withColumn("cb", floor((col("db") % tag) / shift).cast("long"))
        .withColumn("kind",
          when((col("da") >= tag) || (col("db") >= tag),
            when(col("sa") === col("sb"),
              when(col("ca") === col("cb"), lit("recrawl_planted"))
                .otherwise(lit("recrawl_xcopy")))
              .otherwise(lit("recrawl_other")))
          .when(col("sa") === col("sb"), lit("same_src"))
          .when(col("ca") === col("cb"), lit("same_copy"))
          .otherwise(lit("cross")))
        .cache()
      val total = cand.count()
      println(s"[diag] $d cand_total=$total")
      cand.groupBy("kind").count().orderBy(desc("count")).collect()
        .foreach(r => println(s"[diag]   kind=${r.getString(0)} n=${r.getLong(1)}"))

      // how much of the pollution involves a COLLAPSED copy (a
      // non-bijective multiplicative map: n % stride == 0)?
      val wordsAll = split(col("text"), "\\s+")
      val collapsedIds = docs.filter(col("doc_id") < tag)
        .select(col("doc_id"),
          (size(array_distinct(wordsAll)) < size(wordsAll) * 0.6 &&
            size(wordsAll) > 3).as("coll"))
      val polluted = cand.filter(col("kind").isin("recrawl_xcopy", "cross",
          "recrawl_other"))
        .join(collapsedIds.withColumnRenamed("coll", "coll_a"),
          pmod(col("da"), lit(tag)) === collapsedIds("doc_id"), "left")
        .drop("doc_id")
        .join(collapsedIds.withColumnRenamed("coll", "coll_b"),
          pmod(col("db"), lit(tag)) === collapsedIds("doc_id"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(coalesce(col("coll_a"), lit(false)) ||
            coalesce(col("coll_b"), lit(false)), 1).otherwise(0)).as("n_coll"))
        .head()
      println(s"[diag] $d polluted=${polluted.getLong(0)} " +
        s"involving_collapsed=${polluted.getLong(1)}")

      // collapsed copies: distinct-word count collapsed vs the source
      val words = split(col("text"), "\\s+")
      val stats = docs.filter(col("doc_id") < tag)
        .select(pmod(col("doc_id"), lit(shift)).as("src"),
          (col("doc_id") / shift).cast("int").as("copy"),
          size(array_distinct(words)).as("nd"), size(words).as("nw"))
      val srcNd = stats.filter(col("copy") === 0)
        .select(col("src"), col("nd").as("nd0"))
      val collapsed = stats.filter(col("copy") > 0).join(srcNd, "src")
        .filter(col("nd") < col("nd0") * 0.8 && col("nd0") > 3).count()
      val copies = stats.filter(col("copy") > 0).count()
      println(s"[diag] $d collapsed_copies=$collapsed of $copies")
      cand.unpersist()
    }
    spark.stop()
  }
}
