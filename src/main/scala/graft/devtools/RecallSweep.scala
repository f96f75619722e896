package graft.devtools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.similarity.VectorOps
import graft.core.GraftSession

/** ANN serving QUALITY certification: the recall-vs-knob sweep the
  * round-14 verdict asked for. The serving stack's wire cost is
  * decade-flat (SCALE.md); this harness certifies the other half of
  * the contract — that the knobs (nprobe × wSuper × shortlist) buy
  * recall monotonically and that the documented operating point
  * reaches ≥ 0.9 recall@10 against exact brute-force truth.
  *
  * The synthetic embeddings are isotropic noise (measured intra-label
  * cosine ≈ 0.0008 — no neighbor structure at all), so raw top-k
  * "truth" on them is an arbitrary ranking of ~0.4-cosine background
  * pairs that NO compressed index can reproduce — a recall number on
  * that fixture measures the fixture, not the index. The sweep
  * therefore PLANTS structure first (the PqServeSpec near-twin device
  * scaled up): each probe gets `nTwins` planted neighbors — sign-mask
  * perturbations of a shared source vector at cosine ≈ 0.85, mutually
  * ≈ 0.72 so the twin cloud STRADDLES IVF cell boundaries (this is
  * what separates the nprobe knob; zero-component twins all land in
  * one cell and nprobe=1 already wins) — while the 64-dim background
  * stays below ~0.55 cosine, so exact truth = the planted structure
  * and recall measures the INDEX.
  *
  * Sweep shape: one PQ codebook build (knob-independent), one
  * hierarchical IVF build per wSuper ([[VectorOps.ivfBuildHierarchical]]
  * — nlist ∝ N, cell size ~64), then one [[VectorOps.ivfPqTopK]] serve
  * per (wSuper, nprobe, shortlist) against the stored index, recall'd
  * against [[VectorOps.bruteForceKnn]] exact truth.
  *
  * Run: RecallSweep [dir] [wSupers] [nprobes] [shortlists] (default
  * /root/repo/tmp/sf1 with the documented frontier grid). Gates (exit
  * 1): recall monotone in every knob (tolerances: 0 in shortlist —
  * superset refine is provably monotone; 0.01 in nprobe on the
  * largest-shortlist slices, see [[monotoneBreaches]] for the
  * shortlist-binding displacement effect; 0.02 across wSuper builds)
  * and the documented operating point wSuper=4 nprobe=32
  * shortlist=500 at recall ≥ 0.9 (measured 0.956 on the sf1 fixture).
  * RecallSweepSpec runs the same core at sf0.001 in the suite.
  */
object RecallSweep {

  case class Point(wSuper: Int, nprobe: Int, shortlist: Int,
                   recall: Double, sec: Double)

  /** Plant `nProbes` probe queries with `nTwins` true neighbors each
    * into the `srcDir` embeddings corpus; writes `outDir/corpus` and
    * `outDir/probes`. Twin j of source s perturbs every component by
    * alphaFrac·|v| under a deterministic ±1 sign mask hash(s, j, i) —
    * cos(source, twin) = 1/sqrt(1 + 64·alphaFrac²) ≈ 0.85 at the
    * default, twins mutually ≈ 0.72, background ≲ 0.55. */
  def plantFixture(spark: SparkSession, srcDir: String, outDir: String,
                   nProbes: Int, nTwins: Int = 10,
                   alphaFrac: Double = 0.0775): Unit = {
    val emb = graft.core.Tables.embeddings(spark, srcDir)
      .select("vec_id", "embedding", "label")
    def perturbed(jCol: String): org.apache.spark.sql.Column =
      transform(col("embedding"), (x, i) =>
        (x.cast("double") + lit(alphaFrac) * col("__nm") *
          (pmod(hash(col("src_id"), col(jCol), i), lit(2)) * 2 - 1)
            .cast("double")).cast("float"))
    val src = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("src_id"), col("embedding"), col("label"))
      .withColumn("__nm", VectorOps.norm(col("embedding")))
    val twins = src
      .withColumn("j", explode(expr(s"sequence(0, ${nTwins - 1})")))
      .select((col("src_id") * 16 + col("j") + lit(10000000L)).as("vec_id"),
        perturbed("j").as("embedding"), col("label"))
    // the probe is its own (nTwins+5)-th perturbation of the same
    // source — near every twin, itself NOT in the corpus
    val probes = src.withColumn("j", lit(nTwins + 5))
      .select((col("src_id") + 20000000L).as("vec_id"),
        perturbed("j").as("embedding"), col("label"))
    emb.unionByName(twins)
      .write.mode("overwrite").parquet(s"$outDir/corpus")
    probes.write.mode("overwrite").parquet(s"$outDir/probes")
  }

  /** Build indexes and serve every knob combination; recall@`k` vs
    * exact brute-force truth. Returns one Point per combination. */
  def sweep(spark: SparkSession, fixDir: String, k: Int,
            wSupers: Seq[Int], nprobes: Seq[Int], shortlists: Seq[Int],
            log: String => Unit = s => println(s"[recall-sweep] $s")): Seq[Point] = {
    val corpus = spark.read.parquet(s"$fixDir/corpus")
    val probes = spark.read.parquet(s"$fixDir/probes")
    val nCorpus = corpus.count()
    val nProbes = probes.count()
    val nlist = math.max(8L, nCorpus / 64L).toInt
    val nSuper = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    log(s"corpus=$nCorpus probes=$nProbes nlist=$nlist nSuper=$nSuper")

    // exact truth, localized once (re-read per recall join)
    val truth = graft.ops.Materialize.localize(
      VectorOps.bruteForceKnn(probes, corpus, k).select("q_id", "c_id"))
    val truthN = truth.count().toDouble

    // PQ codebooks are IVF-knob-independent: build once
    var t0 = System.nanoTime()
    val (pqC, pqB) = VectorOps.pqCodes(corpus, "vec_id", m = 4, ksub = 16)
    VectorOps.pqCodesPacked(pqC, "vec_id")
      .write.mode("overwrite").parquet(s"$fixDir/pq_packed")
    pqB.write.mode("overwrite").parquet(s"$fixDir/pq_books")
    log(f"pq build (m=4 ksub=16): ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val books = spark.read.parquet(s"$fixDir/pq_books")

    wSupers.flatMap { w =>
      t0 = System.nanoTime()
      val (indexed, cents) = VectorOps.ivfBuildHierarchical(
        corpus, "vec_id", nlist, nSuper, wSuper = w)
      cents.write.mode("overwrite").parquet(s"$fixDir/ivf_cents_w$w")
      spark.read.parquet(s"$fixDir/pq_packed")
        .join(indexed.select(col("vec_id"), col("cell")), "vec_id")
        .write.mode("overwrite").parquet(s"$fixDir/ivfpq_packed_w$w")
      log(f"ivf build wSuper=$w: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val centsS = spark.read.parquet(s"$fixDir/ivf_cents_w$w")
      val packedS = spark.read.parquet(s"$fixDir/ivfpq_packed_w$w")
      spark.catalog.clearCache()
      for (np <- nprobes; sl <- shortlists) yield {
        val t1 = System.nanoTime()
        val hits = VectorOps.ivfPqTopK(probes, corpus, centsS, packedS, books,
            "vec_id", m = 4, ksub = 16, k = k, nprobe = np, shortlist = sl)
          .select("q_id", "c_id").join(truth, Seq("q_id", "c_id")).count()
        val sec = (System.nanoTime() - t1) / 1e9
        val p = Point(w, np, sl, hits / truthN, sec)
        log(f"wSuper=$w nprobe=$np shortlist=$sl recall@$k=${p.recall}%.3f (${sec}%.2f s)")
        p
      }
    }
  }

  /** Monotonicity breaches across the sweep grid (empty = clean).
    * Shortlist must be exactly monotone (top-k by exact cosine over a
    * SUPERSET shortlist is provably never worse); wSuper carries a
    * 0.02 tolerance (distinct builds). nprobe is gated only on the
    * grid's LARGEST-shortlist slices: probing more cells grows the
    * ADC-scored set, and when the fixed shortlist is the binding
    * constraint, high-ADC false candidates displace true neighbors
    * from it — a real, expected ADC property, measured at BOTH ends
    * (shortlist = k = 10: ~0.015 dips from nprobe 4→8; shortlist =
    * 200 vs a 64×64-code scored set: 0.913→0.874 from nprobe 32→64 at
    * sf1). The frontier lesson a deployment needs: nprobe and
    * shortlist must RISE TOGETHER; the routing knob is certified
    * where the shortlist is not binding. */
  def monotoneBreaches(points: Seq[Point], k: Int): Seq[String] = {
    def rising(sel: Seq[Point], knob: Point => Int, tol: Double,
               name: String): Seq[String] =
      sel.sortBy(knob).sliding(2).collect {
        case Seq(a, b) if b.recall < a.recall - tol =>
          s"$name not monotone: $a -> $b"
      }.toSeq
    val bySl = points.groupBy(p => (p.wSuper, p.nprobe)).values
      .flatMap(rising(_, _.shortlist, 0.0, "shortlist"))
    val slMax = points.map(_.shortlist).max
    val byNp = points.filter(_.shortlist == slMax)
      .groupBy(p => (p.wSuper, p.shortlist)).values
      .flatMap(rising(_, _.nprobe, 0.01, "nprobe"))
    val byW = points.groupBy(p => (p.nprobe, p.shortlist)).values
      .flatMap(rising(_, _.wSuper, 0.02, "wSuper"))
    (bySl ++ byNp ++ byW).toSeq
  }

  def main(args: Array[String]): Unit = {
    // auto=1: certify the DERIVED serve knobs (VectorOps.servingKnobs
    // wired through ivfPqTopK's Auto sentinel) — one wSuper=4 build,
    // ONE serve with nprobe = shortlist = Auto, gate recall >= 0.9.
    // No manual tuning anywhere: the -1 grid cells below ARE the Auto
    // sentinel flowing through the ordinary sweep machinery.
    val autoMode = args.contains("auto=1")
    val posArgs = args.filterNot(_ == "auto=1")
    val dir = posArgs.headOption.getOrElse("/root/repo/tmp/sf1")
    def grid(i: Int, default: Seq[Int]): Seq[Int] =
      if (posArgs.length > i) posArgs(i).split(",").toSeq.map(_.trim.toInt)
      else default
    val wSupers = grid(1, if (autoMode) Seq(4) else Seq(2, 4, 8))
    val nprobes = grid(2,
      if (autoMode) Seq(graft.ops.similarity.VectorOps.Auto)
      else Seq(8, 16, 32, 64))
    val shortlists = grid(3,
      if (autoMode) Seq(graft.ops.similarity.VectorOps.Auto)
      else Seq(200, 500, 1000))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      // the ScaleDecade regime pin: measured numbers must not depend
      // on optimizer size estimates flipping between fixture scales
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val fixDir = java.nio.file.Files.createTempDirectory("recall_sweep").toString
    plantFixture(spark, dir, fixDir, nProbes = 100)
    val pts = sweep(spark, fixDir, k = 10, wSupers, nprobes, shortlists)

    println("\n| wSuper | nprobe | shortlist | recall@10 | serve s |")
    println("|---|---|---|---|---|")
    pts.foreach(p => println(
      f"| ${p.wSuper} | ${p.nprobe} | ${p.shortlist} | ${p.recall}%.3f | ${p.sec}%.2f |"))

    val (breaches, opOk) =
      if (autoMode) {
        // the auto gate: EVERY derived point must clear the floor —
        // the scaling law lives in servingKnobs now, so a fixture
        // where the derived knobs miss 0.9 is a law defect
        val ok = pts.nonEmpty && pts.forall(_.recall >= 0.9)
        pts.foreach(p => println(
          f"\n[recall-sweep] AUTO knobs (wSuper=${p.wSuper}): " +
            f"recall=${p.recall}%.3f (${p.sec}%.2f s, floor 0.9)"))
        (Nil, ok)
      } else {
        val bs = monotoneBreaches(pts, k = 10)
        bs.foreach(b => System.err.println(s"[recall-sweep] BREACH $b"))
        // the documented operating point for the hard isotropic fixture
        // at nlist ∝ N: probe ~10% of cells with a 500-deep shortlist
        // (real clustered embedding distributions need far less nprobe —
        // this fixture is the adversarial floor)
        val op = pts.find(p => p.wSuper == 4 && p.nprobe == 32 && p.shortlist == 500)
        println(f"\n[recall-sweep] operating point wSuper=4 nprobe=32 shortlist=500: " +
          s"recall=${op.map(p => f"${p.recall}%.3f").getOrElse("MISSING")} (floor 0.9)")
        (bs, op.exists(_.recall >= 0.9))
      }
    spark.stop()
    if (breaches.nonEmpty || !opOk) {
      System.err.println("[recall-sweep] GATE BREACH"); sys.exit(1)
    }
  }
}
