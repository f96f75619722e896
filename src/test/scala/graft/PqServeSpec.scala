package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
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

  /** An IVF-PQ index stored as parquet (the serving shape) over the
    * fixture corpus, each table read once: IVF centroids, packed codes
    * carrying their cell, flat packed codes and the codebooks. */
  private case class Stored(e: DataFrame, cents: DataFrame, packed: DataFrame,
                            flat: DataFrame, books: DataFrame)

  private def stored(): Stored = {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_gate_idx").toString
    VectorOps.ivfCentroids(e, "label").write.mode("overwrite").parquet(s"$dir/cents")
    val packed = VectorOps.pqCodesPacked(codes, "vec_id")
    packed.join(e.select(col("vec_id"), col("label").as("cell")), "vec_id")
      .write.mode("overwrite").parquet(s"$dir/packed")
    packed.write.mode("overwrite").parquet(s"$dir/flat")
    books.write.mode("overwrite").parquet(s"$dir/books")
    Stored(e.select("vec_id", "embedding", "label"), spark.read.parquet(s"$dir/cents"),
      spark.read.parquet(s"$dir/packed"), spark.read.parquet(s"$dir/flat"),
      spark.read.parquet(s"$dir/books"))
  }

  private def ivfPq(s: Stored, probes: DataFrame, probeBroadcastMax: Long): DataFrame =
    VectorOps.ivfPqTopK(probes, s.e, s.cents, s.packed, s.books,
      "vec_id", m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10,
      probeBroadcastMax = probeBroadcastMax)

  /** The stored index's vectors (vec_id, embedding) and an ivfPqTopK
    * serve call over it returning sorted row tuples. */
  private def storedIvfPq(s: Stored = stored())
      : (DataFrame, (DataFrame, Long) => Seq[(Long, Long, Int, Any)]) = {
    val serve = (probes: DataFrame, probeBroadcastMax: Long) =>
      ivfPq(s, probes, probeBroadcastMax)
        .orderBy("q_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.get(3))).toSeq
    (s.e.select("vec_id", "embedding"), serve)
  }

  private def driverBatch(rows: Seq[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  test("ivfPqTopK: same rows whether the probe gate is a static bound, a count or over budget") {
    val s = stored()
    val (e, serve) = storedIvfPq(s)
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
    gateParity(s.e, Seq(1, 1024), (p, max) => ivfPq(s, p, max))
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

  /** `n` probes in both gate routes: a batch of driver-side rows
    * (static row bound) and the same rows as a parquet scan (no bound:
    * counted). Past the corpus size, corpus vectors recur under fresh
    * ids. */
  private def probeFrames(e: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val base = e.select("vec_id", "embedding").orderBy("vec_id").collect().toSeq
    val rows = Iterator.from(0).flatMap(j =>
      base.map(r => Row(r.getLong(0) + 100000L * j, r.get(1)))).take(n).toSeq
    val batch = driverBatch(rows, e.select("vec_id", "embedding"))
    val dir = java.nio.file.Files.createTempDirectory("probe_frames").toString
    batch.write.mode("overwrite").parquet(dir)
    (batch, spark.read.parquet(dir))
  }

  private def coalesces(df: DataFrame) = {
    df.collect()
    nodes(df.queryExecution.executedPlan).collect {
      case c: org.apache.spark.sql.execution.CoalesceExec => c
    }
  }

  /** `serve` returns the same rows, k = 3 per probe, for batches of
    * each size whether the probe gate is decided by the static bound,
    * by a count, or is over budget either way. The static batch is
    * served from one partition; a counted parquet frame keeps its
    * scan's partitioning (no Coalesce over it). */
  private def gateParity(e: DataFrame, sizes: Seq[Int],
                         serve: (DataFrame, Long) => DataFrame): Unit =
    sizes.foreach { n =>
      def sorted(df: DataFrame) = df.orderBy("q_id", "rank").collect().toSeq
      val (batch, scanned) = probeFrames(e, n)
      assert(batch.queryExecution.optimizedPlan.maxRows.contains(n.toLong))
      assert(graft.ops.Materialize.rowBound(scanned).isEmpty)
      val countedDf = serve(scanned, 10000L)
      val counted = sorted(countedDf)
      assert(counted.size == 3 * n, s"$n probes")
      assert(coalesces(countedDf).isEmpty, s"a counted probe frame was coalesced " +
        s"($n probes):\n${countedDf.queryExecution.executedPlan}")
      val staticDf = serve(batch, 10000L)
      assert(coalesces(staticDf).nonEmpty,
        s"the static batch must be served from one partition ($n probes)")
      assert(sorted(staticDf) == counted, s"static-bound gate ($n probes)")
      assert(sorted(serve(scanned, 0L)) == counted, s"shuffle regime, counted ($n probes)")
      assert(sorted(serve(batch, 0L)) == counted,
        s"shuffle regime, static bound over budget ($n probes)")
    }

  test("ivfAnn: same rows whether the probe gate is a static bound, a count or over budget") {
    val s = stored()
    gateParity(s.e, Seq(1, 10, 1024), (p, max) => VectorOps.ivfAnn(p, s.e, "label",
      k = 3, nprobe = 2, probeBroadcastMax = max, centroids = Some(s.cents)))
  }

  test("pqServeTopK: same rows whether the probe gate is a static bound, a count or over budget") {
    val s = stored()
    gateParity(s.e, Seq(1, 10, 1024), (p, max) => VectorOps.pqServeTopK(p, s.e, s.flat,
      s.books, "vec_id", m = 4, ksub = 4, k = 3, shortlist = 10, probeBroadcastMax = max))
  }

  test("an ivfPqTopK batch of 16 driver-side probes runs at most 8 Spark jobs") {
    // one job per broadcast (centroids, codebooks, the routing+LUT
    // frame, the shortlist, the probe vectors), per q_id shuffle
    // (shortlist, refine) and the result stage. Exchanging routing and
    // LUTs on q_id and broadcasting them apart costs 11.
    val s = stored()
    val batch = probes16(s)._1
    def serve(): Unit = ivfPq(s, batch, 10000L).collect()
    serve()
    (0 until 3).foreach { _ =>
      val n = sparkWork(serve())._2
      assert(n <= 8, s"$n jobs for one 16-probe batch")
    }
  }

  test("q210 reads its stored index with the written schemas: 3 fewer jobs than inferring them") {
    // a schema-less read.parquet runs one schema-inference job per
    // index table on every serve call; q210 reads its three tables
    // with the schemas recorded when the index was written
    val d = "/root/testdata/sf0.001"
    val tables = Seq("cents", "packed", "books")
    val cached = QueryCatalogSim.q210IvfPqServe(spark, d).collect().toSeq // builds the index
    val idx = QueryCatalogSim.cachedIndex(s"q210|$d")(fail("the q210 index must be cached"))
    def inferred(t: String) = spark.read.parquet(s"${idx.dir}/$t")
    tables.foreach(t => assert(idx.read(spark, t).schema == inferred(t).schema, t))
    val (rows, nStored, _) = sparkWork(QueryCatalogSim.q210IvfPqServe(spark, d).collect().toSeq)
    // q210's serve, spelled with schema-inferring reads
    val (rowsInferred, nInferred, _) = sparkWork {
      val emb = Tables.embeddings(spark, d)
      val Seq(cents, packed, books) = tables.map(inferred)
      VectorOps.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, cents, packed, books,
          "vec_id", m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10)
        .withColumn("rank", col("rank").cast("int"))
        .orderBy("q_id", "rank").collect().toSeq
    }
    assert(rows.nonEmpty && rows == cached && rowsInferred == rows)
    assert(nStored + 3 == nInferred, s"stored-schema serve: $nStored jobs, inferred: $nInferred")
  }

  // 16 of the stored corpus's vectors as a batch of driver-side rows
  // and as a filtered corpus scan (counted)
  private def probes16(s: Stored): (DataFrame, DataFrame) = {
    val scanned = s.e.select("vec_id", "embedding").filter(col("vec_id") < 16)
    (driverBatch(scanned.collect().toSeq, scanned), scanned)
  }

  private def finalNodes(df: DataFrame) = {
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  // shuffles hash-partitioned on q_id alone
  private def qIdShuffles(ns: Seq[SparkPlan]): Int = ns.count {
    case x: ShuffleExchangeLike => x.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "q_id"
      case _ => false
    }
    case _ => false
  }

  // broadcasts whose rows carry every column of `cols`
  private def broadcastsOf(ns: Seq[SparkPlan], cols: String*) = ns.collect {
    case b: BroadcastExchangeLike if cols.forall(c => b.output.exists(_.name == c)) => b
  }

  private def shufflesUnder(p: SparkPlan) =
    nodes(p).collect { case x: ShuffleExchangeLike => x }

  test("ivfPqTopK of a driver-side batch: routing and LUTs ride one broadcast, two q_id exchanges") {
    // the shortlist and refine heaps exchange on q_id; the routing and
    // the LUTs are planned in the batch's one partition and broadcast
    // together, with no shuffle below that broadcast
    val s = stored()
    val (batch, scanned) = probes16(s)
    val pq = finalNodes(ivfPq(s, batch, 10000L))
    val nq = qIdShuffles(pq)
    assert(nq == 2, s"$nq q_id exchanges (expected the shortlist's and the refine's)")
    val lut = broadcastsOf(pq, "lut")
    assert(lut.size == 1, s"${lut.size} broadcasts carry the LUTs")
    assert(broadcastsOf(pq, "q_id", "cell") == lut,
      "the probe cells must ride the LUT broadcast, not one of their own")
    assert(shufflesUnder(lut.head).isEmpty,
      s"routing or LUT exchange under the probe broadcast:\n${lut.head}")
    // a counted probe frame keeps its partitioning: routing and LUTs
    // exchange on q_id and join co-partitioned under the one broadcast
    val counted = finalNodes(ivfPq(s, scanned, 10000L))
    assert(qIdShuffles(counted) == 4 && broadcastsOf(counted, "lut").size == 1)
  }

  test("ivfAnn of a driver-side batch: the nprobe routing needs no exchange") {
    val s = stored()
    val ann = finalNodes(VectorOps.ivfAnn(probes16(s)._1, s.e, "label",
      k = 3, nprobe = 2, centroids = Some(s.cents)))
    // the final rank is the only q_id exchange
    val nq = qIdShuffles(ann)
    assert(nq == 1, s"$nq q_id exchanges (expected the final rank's)")
    val probeSide = broadcastsOf(ann, "q_id", "cell", "qv")
    assert(probeSide.size == 1 && shufflesUnder(probeSide.head).isEmpty,
      s"ivfAnn routing exchanged:\n${probeSide.mkString("\n")}")
  }

  test("pqServeTopK of a driver-side batch: the LUT aggregate needs no exchange") {
    val s = stored()
    val pq = finalNodes(VectorOps.pqServeTopK(probes16(s)._1, s.e, s.flat, s.books,
      "vec_id", m = 4, ksub = 4, k = 3, shortlist = 10))
    val lut = broadcastsOf(pq, "lut")
    assert(lut.size == 1 && shufflesUnder(lut.head).isEmpty,
      s"pqServeTopK LUT exchanged:\n${lut.mkString("\n")}")
    val nq = qIdShuffles(pq)
    assert(nq == 2, s"$nq q_id exchanges (expected the shortlist's and the refine's)")
  }
}
