package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.similarity.VectorOps

/** The packed-code PQ serving path: ADC over one-row-per-vector codes
  * with a broadcast lookup map and a bounded-heap top-k must be
  * BIT-IDENTICAL to the unpacked (mi, code)-join form — the layouts
  * differ only in where bytes move, never in answers. */
class PqServeSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("pqAdcTopKPacked equals pqAdcTopK bit-for-bit") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val probes = e.filter(col("vec_id") % 97 === 0)
    val unpacked = VectorOps.pqAdcTopK(probes, codes, books, "vec_id", m = 4, k = 5)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val packed = VectorOps.pqAdcTopKPacked(probes,
        VectorOps.pqCodesPacked(codes, "vec_id"), books, "vec_id",
        m = 4, ksub = 4, k = 5)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(packed.nonEmpty && packed == unpacked)
  }

  test("pqServeTopK (stored packed index) equals pqRefinedTopK") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val dir = java.nio.file.Files.createTempDirectory("pq_serve_idx").toString
    VectorOps.pqCodesPacked(codes, "vec_id")
      .write.mode("overwrite").parquet(s"$dir/packed")
    books.write.mode("overwrite").parquet(s"$dir/books")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    val probes = e.filter(col("vec_id") < 10)
    val refined = VectorOps.pqRefinedTopK(probes, e,
        spark.read.parquet(s"$dir/codes"), spark.read.parquet(s"$dir/books"),
        "vec_id", m = 4, k = 3, shortlist = 20)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val served = VectorOps.pqServeTopK(probes, e,
        spark.read.parquet(s"$dir/packed"), spark.read.parquet(s"$dir/books"),
        "vec_id", m = 4, ksub = 4, k = 3, shortlist = 20)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(served.nonEmpty && served == refined)
  }

  test("ivfPqTopK with nprobe = all cells degenerates to the unrestricted pqServeTopK") {
    // probing EVERY coarse cell removes the IVF restriction, so the
    // full stack must equal plain packed-ADC + refine bit-for-bit —
    // the composition's analogue of wSuper = nSuper
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val packed = VectorOps.pqCodesPacked(codes, "vec_id")
    val packedIdx = packed.join(
      e.select(col("vec_id"), col("label").as("cell")), "vec_id")
    val cents = VectorOps.ivfCentroids(e, "label")
    val nCells = cents.count().toInt
    val probes = e.filter(col("vec_id") < 10)
    val stacked = VectorOps.ivfPqTopK(probes, e, cents, packedIdx, books,
        "vec_id", m = 4, ksub = 4, k = 3, nprobe = nCells, shortlist = 20)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val plain = VectorOps.pqServeTopK(probes, e, packed, books,
        "vec_id", m = 4, ksub = 4, k = 3, shortlist = 20)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(stacked.nonEmpty && stacked == plain)
  }

  test("ivfPqTopK restricts scoring to the probed cells") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val packedIdx = VectorOps.pqCodesPacked(codes, "vec_id").join(
      e.select(col("vec_id"), col("label").as("cell")), "vec_id")
    val cents = VectorOps.ivfCentroids(e, "label")
    val probes = e.filter(col("vec_id") < 10)
    val out = VectorOps.ivfPqTopK(probes, e, cents, packedIdx, books,
      "vec_id", m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10)
    // every returned candidate's cell is one of its probe's 2 routed
    // cells (recomputed independently via the flat assign ordering)
    val cellOf = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pcFrame = probes.select(col("vec_id").as("q_id"),
        col("embedding"), VectorOps.norm(col("embedding")).as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("cc", VectorOps.dotD(col("embedding"), col("cv")) /
        (col("qn") * sqrt(VectorOps.dotD(col("cv"), col("cv")))))
    val pcells = graft.plans.TopKPerKey.topK(pcFrame,
        Seq(col("q_id")), Seq(col("cc").desc, col("cell")), 2)
      .select("q_id", "cell").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, c) = (r.getLong(0), r.getLong(1))
      assert(pcells(q).contains(cellOf(c)),
        s"candidate $c of probe $q outside its probed cells")
    }
  }

  test("ivfPqTopK finds every planted near-twin through cells + 16x code compression") {
    // the q175/q199 planted-neighbor device: probes are near-twins of
    // corpus vectors (component 0 zeroed, ids +100000). The full
    // stack must surface the REAL neighbor despite routing through 4
    // of 10 cells and scoring 4-subspace/4-codeword compressed codes
    // — the recall claim a production IVF-PQ index lives on.
    // (Measured: nprobe=2 finds 19/20, nprobe=4 finds 20/20 with
    // recall@5 0.42 vs exact truth on this near-orthogonal fixture.)
    val e = emb.select("vec_id", "embedding", "label")
    val probes = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(0.0 AS FLOAT) ELSE x END)")
          .as("embedding"), col("label"))
    val corpus = e.unionByName(probes)
    val (codes, books) = VectorOps.pqCodes(corpus, "vec_id", m = 4, ksub = 4)
    val packedIdx = VectorOps.pqCodesPacked(codes, "vec_id")
      .join(corpus.select(col("vec_id"), col("label").as("cell")), "vec_id")
    val cents = VectorOps.ivfCentroids(corpus, "label")
    val ann = VectorOps.ivfPqTopK(probes, corpus, cents, packedIdx, books,
      "vec_id", m = 4, ksub = 4, k = 5, nprobe = 4, shortlist = 50)
    val twinFound = ann.filter(col("c_id") === col("q_id") - 100000)
      .select("q_id").distinct().count()
    assert(twinFound == 20, s"planted twin found for only $twinFound/20 probes")
    val truth = VectorOps.bruteForceKnn(probes, corpus, 5)
      .select(col("q_id"), col("c_id"))
    val hits = ann.select("q_id", "c_id").join(truth, Seq("q_id", "c_id")).count()
    assert(hits >= 35, s"recall@5 floor: $hits/100 exact-top-5 hits")
  }

  test("packed serving over an over-budget probe set still agrees (gates dropped, shuffle regime)") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val packed = VectorOps.pqCodesPacked(codes, "vec_id")
    val probes = e.filter(col("vec_id") < 10)
    val small = VectorOps.pqServeTopK(probes, e, packed, books,
        "vec_id", m = 4, ksub = 4, k = 3, shortlist = 20)
      .orderBy("q_id", "rank").collect().toSeq
    val overBudget = VectorOps.pqServeTopK(probes, e, packed, books,
        "vec_id", m = 4, ksub = 4, k = 3, shortlist = 20,
        probeBroadcastMax = 0L)
      .orderBy("q_id", "rank").collect().toSeq
    assert(small == overBudget, "both regimes must agree exactly")
  }

  /** An IVF-PQ index stored as parquet (the serving shape), the
    * corpus, and a serve call over it returning sorted row tuples. */
  private def storedIvfPq(): (DataFrame, (DataFrame, Long) => Seq[(Long, Long, Int, Any)]) = {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_gate_idx").toString
    VectorOps.ivfCentroids(e, "label").write.mode("overwrite").parquet(s"$dir/cents")
    VectorOps.pqCodesPacked(codes, "vec_id")
      .join(e.select(col("vec_id"), col("label").as("cell")), "vec_id")
      .write.mode("overwrite").parquet(s"$dir/packed")
    books.write.mode("overwrite").parquet(s"$dir/books")
    val serve = (probes: DataFrame, probeBroadcastMax: Long) =>
      VectorOps.ivfPqTopK(probes, e, spark.read.parquet(s"$dir/cents"),
          spark.read.parquet(s"$dir/packed"), spark.read.parquet(s"$dir/books"),
          "vec_id", m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10,
          probeBroadcastMax = probeBroadcastMax)
        .orderBy("q_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.get(3))).toSeq
    (e.select("vec_id", "embedding"), serve)
  }

  private def driverBatch(rows: Seq[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  test("ivfPqTopK: same rows whether the probe gate is a static bound, a count or over budget") {
    val (e, serve) = storedIvfPq()
    val scanned = e.filter(col("vec_id") < 10)
    val batch = driverBatch(scanned.collect().toSeq, e)
    // the two gate routes: a driver-side batch carries a static row
    // bound, a filtered parquet frame has none and must be counted
    assert(batch.queryExecution.optimizedPlan.maxRows.contains(10L))
    assert(scanned.queryExecution.optimizedPlan.maxRows.isEmpty)
    val counted = serve(scanned, 10000L)
    assert(counted.size == 30)
    assert(serve(batch, 10000L) == counted, "static-bound gate")
    assert(serve(scanned, 0L) == counted, "shuffle regime (counted)")
    assert(serve(batch, 0L) == counted, "shuffle regime (static bound over budget)")
  }

  test("an empty driver-side probe batch serves zero rows on every PQ path") {
    val (e, serve) = storedIvfPq()
    val empty = driverBatch(Seq.empty, e)
    assert(serve(empty, 10000L).isEmpty)
    assert(serve(empty, 0L).isEmpty)
    val (codes, books) = VectorOps.pqCodes(emb, "vec_id", m = 4, ksub = 4)
    assert(VectorOps.pqServeTopK(empty, e, VectorOps.pqCodesPacked(codes, "vec_id"),
      books, "vec_id", m = 4, ksub = 4, k = 3, shortlist = 10).collect().isEmpty)
    assert(VectorOps.pqRefinedTopK(empty, e, codes, books, "vec_id",
      m = 4, k = 3, shortlist = 10).collect().isEmpty)
  }

  test("a probe with a null embedding leaves the other probes' rows unchanged") {
    val (e, serve) = storedIvfPq()
    val rows = e.filter(col("vec_id") < 10).collect().toSeq
    val base = serve(driverBatch(rows, e), 10000L)
    val withNull = serve(driverBatch(rows :+ Row(999999L, null), e), 10000L)
    assert(base.size == 30)
    assert(withNull.filter(_._1 != 999999L) == base)
  }
}
