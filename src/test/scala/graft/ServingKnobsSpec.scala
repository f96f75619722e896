package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.similarity.VectorOps

/** The recall scaling law as API (round-15 verdict task 1): SCALE.md's
  * measured rule — nprobe ≈ 10% of nlist, shortlist ≈ 20% of the
  * ADC-scored set, knobs rising together — now lives in
  * [[VectorOps.servingKnobs]], and every serve entry point accepts
  * the `Auto` sentinel. Pins (a) the law's arithmetic against the
  * sweep's certified operating points, and (b) that Auto resolves to
  * EXACTLY the explicit derived knobs end-to-end (same rows, same
  * scores) on each entry point — so a deployment taking Auto gets the
  * certified frontier, not the fixture-scale literals. The ≥ 0.9
  * recall certification of the derived knobs runs on the sf1/sf10
  * planted fixtures via `devtools.RecallSweep auto=1` (SCALE.md). */
class ServingKnobsSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("servingKnobs implements the measured law at the certified sweep points") {
    // sf1 rung of the recall sweep: nlist 329, cell size ~64 —
    // nprobe = 10% of cells, shortlist = 20% of the scored set
    val (np1, sl1) = VectorOps.servingKnobs(nlist = 329, k = 10, cellSize = 64)
    assert(np1 == 33 && sl1 == 423, s"sf1 law point: got ($np1, $sl1)")
    // sf10 rung: nlist 3,140 — reproduces the certified
    // (320, 4000) = 0.972 recall row to within rounding
    val (np10, sl10) = VectorOps.servingKnobs(nlist = 3140, k = 10, cellSize = 64)
    assert(np10 == 314 && sl10 == 4020, s"sf10 law point: got ($np10, $sl10)")
    // floors: tiny indexes keep the historical nprobe=2 minimum, and
    // the shortlist can never drop below k (k rows must come back)
    assert(VectorOps.servingKnobs(nlist = 4, k = 10, cellSize = 1) == ((2, 10)))
    assert(VectorOps.servingKnobs(nlist = 0, k = 5, cellSize = 0) == ((2, 5)))
    // monotone: knobs RISE TOGETHER across a corpus decade (the
    // sweep's headline: fixed knobs lose 0.22 recall at 10x)
    assert(np10 > np1 && sl10 > sl1)
  }

  test("ivfPqTopK: Auto knobs equal the explicitly derived knobs bit-for-bit") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val packed = VectorOps.pqCodesPacked(codes, "vec_id")
      .join(e.select(col("vec_id"), col("label").cast("long").as("cell")), "vec_id")
    val cents = VectorOps.ivfCentroids(e, "label")
    val probes = e.filter(col("vec_id") < 10)
    // what Auto must resolve to: nlist = centroid rows, cellSize =
    // ceil(codes / nlist)
    val nlist = cents.count()
    val cellSize = (packed.count() + nlist - 1) / nlist
    val (np, sl) = VectorOps.servingKnobs(nlist, k = 3, cellSize)
    val auto = VectorOps.ivfPqTopK(probes, e, cents, packed, books,
        "vec_id", m = 4, ksub = 4, k = 3,
        nprobe = VectorOps.Auto, shortlist = VectorOps.Auto)
      .orderBy("q_id", "rank").collect().toSeq
    val explicit = VectorOps.ivfPqTopK(probes, e, cents, packed, books,
        "vec_id", m = 4, ksub = 4, k = 3, nprobe = np, shortlist = sl)
      .orderBy("q_id", "rank").collect().toSeq
    assert(auto.nonEmpty && auto == explicit)
  }

  test("ivfAnn: Auto nprobe equals the explicitly derived nprobe") {
    val e = emb
    val cents = VectorOps.ivfCentroids(e, "label")
    val probes = e.filter(col("vec_id") < 10)
    val np = VectorOps.servingKnobs(cents.count(), k = 3)._1
    val auto = VectorOps.ivfAnn(probes, e, "label", k = 3,
        nprobe = VectorOps.Auto, centroids = Some(cents))
      .orderBy("q_id", "rank").collect().toSeq
    val explicit = VectorOps.ivfAnn(probes, e, "label", k = 3,
        nprobe = np, centroids = Some(cents))
      .orderBy("q_id", "rank").collect().toSeq
    assert(auto.nonEmpty && auto == explicit)
  }

  test("serve entry points fire ONE probe-frame job at construction (count + dims merged)") {
    // the r15 verdict's redundant-eager-job item, pinned by counting
    // REAL Spark jobs during plan CONSTRUCTION (no action taken):
    //  - probes as a filtered parquet frame (no static row bound):
    //    exactly 1 for every entry point — the probe-gate count; the
    //    subvector split is per row (no dims job) and the shortlist
    //    stays lazy inside the one serve query (no localize collect).
    //    Before the merge each PQ entry point fired 3 (count + dims +
    //    localize), then 2 (count/dims + localize).
    //  - probes as a batch of driver-side rows (the serving shape):
    //    exactly 0 — the plan's row bound decides the gate.
    val e = emb
    val (codes, books0) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    // materialize inputs to leaves FIRST so their build jobs don't
    // pollute the construction count
    val packedFlat = graft.ops.Materialize.localize(
      VectorOps.pqCodesPacked(codes, "vec_id"))
    val packedIvf = graft.ops.Materialize.localize(
      VectorOps.pqCodesPacked(codes, "vec_id")
        .join(e.select(col("vec_id"), col("label").cast("long").as("cell")), "vec_id"))
    val books = graft.ops.Materialize.localize(books0)
    val cents = graft.ops.Materialize.localize(VectorOps.ivfCentroids(e, "label"))
    val codesLeaf = graft.ops.Materialize.localize(codes)
    val probes = e.filter(col("vec_id") < 5)
    val probeRows = probes.select("vec_id", "embedding")
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(probeRows.collect(): _*), probeRows.schema)
    // count eager ACTIONS (SQL execution roots), not raw jobs — AQE
    // runs one action's stages as several jobs, which is not what the
    // one-eager-count-per-entry-point property is about
    def constructionJobs(what: String, expected: Int)(mk: => Unit): Unit = {
      val actions = sparkWork(mk)._3
      assert(actions == expected,
        s"$what fired $actions eager actions at construction (expected $expected)")
    }
    Seq(("", probes, 1), (" (driver-side batch)", batch, 0)).foreach {
      case (how, p, expected) =>
        constructionJobs("ivfAnn" + how, expected) {
          VectorOps.ivfAnn(p, e, "label", k = 3, nprobe = 2,
            centroids = Some(cents))
        }
        constructionJobs("pqRefinedTopK" + how, expected) {
          VectorOps.pqRefinedTopK(p, e, codesLeaf, books, "vec_id",
            m = 4, k = 3, shortlist = 10)
        }
        constructionJobs("pqServeTopK" + how, expected) {
          VectorOps.pqServeTopK(p, e, packedFlat, books, "vec_id",
            m = 4, ksub = 4, k = 3, shortlist = 10)
        }
        constructionJobs("ivfPqTopK" + how, expected) {
          VectorOps.ivfPqTopK(p, e, cents, packedIvf, books, "vec_id",
            m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10)
        }
    }
  }

  test("pqServeTopK: Auto shortlist applies the law's flat-PQ form (20% of ALL codes)") {
    val e = emb
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4)
    val packed = VectorOps.pqCodesPacked(codes, "vec_id")
    val probes = e.filter(col("vec_id") < 5)
    val sl = math.max(3L, math.ceil(0.2 * packed.count()).toLong).toInt
    val auto = VectorOps.pqServeTopK(probes, e, packed, books, "vec_id",
        m = 4, ksub = 4, k = 3, shortlist = VectorOps.Auto)
      .orderBy("q_id", "rank").collect().toSeq
    val explicit = VectorOps.pqServeTopK(probes, e, packed, books, "vec_id",
        m = 4, ksub = 4, k = 3, shortlist = sl)
      .orderBy("q_id", "rank").collect().toSeq
    assert(auto.nonEmpty && auto == explicit)
  }
}
