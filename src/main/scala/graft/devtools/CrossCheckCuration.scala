package graft.devtools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.{ConnectedComponents, Dedup}
import graft.ops.text.TextOps

/** Cross-algorithm validation of q177 (curation + DSIR selection) and
  * q178 (quality-representative dedup) at scales where the DuckDB
  * oracle is infeasible (both die of temp spill past sf0.3 — the
  * minhash/jaccard CTEs are not corpus-scale SQL). The q101 precedent
  * ([[CrossCheckCC]]): verify by INDEPENDENT-ALGORITHM agreement plus
  * closed invariants, not by a bigger oracle.
  *
  *  - q177's selection cut: the catalog ranks (score desc, doc_id
  *    asc) and keeps rk <= ceil(n/5). The cross-check re-ranks the
  *    SAME scored frame with the ORDER-REVERSED DistributedRank pass
  *    (score asc, doc_id desc) and keeps the complement-form cut
  *    rk2 > n - k — an independent traversal of the distribution
  *    (different range partitioning, different boundary arithmetic)
  *    that must select the IDENTICAL doc set. Invariants: exactly
  *    k = ceil(n/5) rows kept; every kept (score, doc_id) strictly
  *    precedes every dropped one under the selection order; the
  *    catalog query's own per-lang stats equal the stats recomputed
  *    from the kept set.
  *  - q178's representatives: clusters are re-labeled with the
  *    independent alternating-star CC, and the per-cluster
  *    argmax(quality, tiebreak min id) is recomputed JOIN-wise (max
  *    quality per component -> members at that quality -> min id)
  *    instead of the catalog's single min_by(struct) aggregate. Full
  *    result frames must be bit-identical; invariants: the
  *    representative is a member of its cluster and carries its max
  *    quality.
  *
  * Usage: CrossCheckCuration <sfDir> — prints PASS/FAIL lines, exits
  * 1 on any mismatch. Recorded in SCALE.md for the sf1 run. */
object CrossCheckCuration {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    var fail = 0
    def check(name: String, bad: Long): Unit = {
      if (bad == 0) println(s"PASS $name")
      else { println(s"FAIL $name: $bad violations"); fail += 1 }
    }

    // ---------------- q177: selection cut, both directions ----------
    val docs = Tables.documents(spark, sfDir)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    val curLeaf = graft.ops.Materialize.leafCache(
      graft.pipeline.CorpusCurationJob.curate(recrawl)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          TextOps.nWsTokens(col("text")).cast("long").as("__ntok")))
    val scored = graft.ops.Materialize.leafCache(
      graft.ops.text.Dsir.scoreMicros(curLeaf, "doc_id", "text",
        col("source").isin("src0", "src1"), carry = Seq("lang", "__ntok")))
    graft.ops.Materialize.release(curLeaf)

    val fwd = graft.ops.DistributedRank.rank(scored, Seq.empty,
      Seq(col("score_micros").desc, col("doc_id")), "rk", totalCol = "n_total",
      materializeInput = true)
    val keptFwd = fwd.filter(col("rk") <= expr("(n_total + 4) div 5"))
    // independent traversal: reversed order, complement-form cut
    val rev = graft.ops.DistributedRank.rank(scored, Seq.empty,
      Seq(col("score_micros").asc, col("doc_id").desc), "rk2",
      totalCol = "n_total", materializeInput = true)
    val keptRev = rev.filter(col("rk2") > col("n_total") - expr("(n_total + 4) div 5"))

    val fIds = keptFwd.select("doc_id")
    val rIds = keptRev.select("doc_id")
    check("q177 kept set: forward == order-reversed rank",
      fIds.exceptAll(rIds).count() + rIds.exceptAll(fIds).count())
    val Array(nTotal, k) = fwd.agg(max("n_total"),
      expr("(max(n_total) + 4) div 5")).head().toSeq.map(_.toString.toLong).toArray
    check("q177 kept count == ceil(n/5)", math.abs(keptFwd.count() - k))
    // boundary: every kept (score desc, id asc) key precedes every dropped one
    val worstKept = keptFwd
      .agg(max(struct((-col("score_micros")).as("ns"), col("doc_id").as("id"))).as("w"))
      .select(col("w.ns"), col("w.id")).head()
    val (wNs, wId) = (worstKept.getLong(0), worstKept.getLong(1))
    check("q177 boundary: no dropped row outranks a kept row",
      fwd.filter(col("rk") > expr("(n_total + 4) div 5"))
        .filter(-col("score_micros") < wNs ||
          (-col("score_micros") === wNs && col("doc_id") < wId)).count())
    // the catalog query's own published stats equal the kept-set recount
    val catalogOut = graft.QueryCatalogText.q177CurationSelect(spark, sfDir)
    val recounted = fwd.groupBy("lang").agg(count(lit(1)).as("n_curated"))
      .join(keptFwd.groupBy("lang").agg(count(lit(1)).as("n_selected"),
        sum("__ntok").as("tok_selected")), Seq("lang"), "left")
      .na.fill(0L, Seq("n_selected", "tok_selected"))
    check("q177 catalog stats == independent recount",
      catalogOut.exceptAll(recounted).count() +
        recounted.exceptAll(catalogOut).count())
    println(s"q177 n_curated_total=$nTotal kept=$k")
    graft.ops.Materialize.release(scored)

    // ---------------- q178: representatives, both algorithms --------
    val catalogReps = graft.QueryCatalogCuration.q178RepresentativeDedup(spark, sfDir)
    // independent leg: alternating-star CC + join-wise argmax
    val sig = Dedup.minHashText(recrawl, "doc_id", "text", 3, 16)
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id")
    val edges = Dedup.jaccardTextScoped(cand, recrawl, "doc_id", "text", 3) { j =>
      graft.ops.Materialize.localize(
        j.filter(col("jaccard") >= 0.7).select("id_a", "id_b"))
    }
    val star = ConnectedComponents.alternatingStar(edges)
    val comp = graft.ops.Materialize.localize(star)
    ConnectedComponents.release(star)
    val qual = recrawl.select(col("doc_id"),
      TextOps.qualityScore(col("text"),
        graft.pipeline.CorpusCurationJob.Stopwords).as("quality"))
    val members = comp.join(qual, comp("id") === qual("doc_id"))
      .select(col("component"), col("doc_id"), col("quality"))
    val best = members.groupBy("component").agg(
      count(lit(1)).as("cluster_size"), max("quality").as("rep_quality"))
    val reps2 = members
      .join(best, Seq("component"))
      .filter(col("quality") === col("rep_quality"))
      .groupBy("component", "cluster_size", "rep_quality")
      .agg(min("doc_id").as("rep_doc_id"))
      .withColumn("n_dropped", col("cluster_size") - 1)
      .select("component", "cluster_size", "rep_doc_id", "rep_quality", "n_dropped")
    check("q178 catalog reps == star-CC + join-wise argmax",
      catalogReps.exceptAll(reps2).count() +
        reps2.exceptAll(catalogReps).count())
    check("q178 every representative is a member of its cluster",
      catalogReps.join(members,
        catalogReps("component") === members("component") &&
          catalogReps("rep_doc_id") === members("doc_id"), "left_anti").count())
    println(s"q178 clusters=${catalogReps.count()}")

    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
