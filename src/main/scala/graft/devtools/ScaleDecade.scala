package graft.devtools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.{GraftSession, Tables}
import graft.ops.dedup.{BandStore, Dedup}
import graft.ops.similarity.{Bitext, VectorOps}

/** Dev harness: the TWO-DECADE shuffle-linearity certification for the
  * dedup/substring family (SCALE.md). The sf1 bench gate catches a
  * regression at one scale point; a wrong EXPONENT — a plan that is
  * linear at 60k docs and quadratic at 6M — only shows as the slope of
  * a multi-decade curve. This tool runs the five incremental-dedup
  * headliners at sf0.1 / sf1 / sf10 (GenScale rungs: each decade is a
  * 10x corpus with realistic token stats and NO collapsed or
  * cross-copy-duplicate copies — see GenScale's stride-permutation
  * notes), measures the per-run SHUFFLE BYTES (the load-independent
  * metric this repo gates on) next to the min clock, and prints the
  * per-decade byte exponent
  *   e = log(bytes_hi / bytes_lo) / log(chars_hi / chars_lo)
  * flagging the gated form > 1.15 as SUPERLINEAR. Clock exponents are
  * printed too but NOT gated: wall time on one box mixes
  * spill/GC/page-cache effects that say nothing about the
  * 1000-executor plan; bytes on the wire is the quantity that
  * survives the translation.
  *
  * WORK NORMALIZATION for the LSH rows (q129/q206 family): a
  * synthetic stat-preserving scale-up cannot hold near-dup density
  * constant — copies of a low-entropy (repetitive) source draw their
  * k-grams from a small space, so same-source copies LSH-band-collide
  * and the CANDIDATE-PAIR count grows faster than the corpus (it is a
  * corpus property; DecadeDiag prints the composition). Real corpora
  * do the same thing through boilerplate families. The engine's
  * verifier is pair-linear by construction, so the honest certificate
  * is bytes vs SEMANTIC WORK, not bytes vs chars:
  *   work = chars + cands * (chars/doc)   (each candidate pair makes
  * the verifier move about one document's shingles). The harness
  * counts candidates per rung (outside timing) and gates the LSH rows
  * on the work exponent; raw char exponents and candidate counts are
  * printed so the curve's shape stays fully adjudicable.
  * FIXED-INPUT rows (the fixed probe, the stored-index ANN serve
  * rows) are gated on FLATNESS ONLY — bytes-per-candidate < 0.3 when
  * candidate counts exist, else raw byte exponent < 0.3 or top-rung
  * bytes under the 1 MB magnitude floor: the work disjunction must
  * not apply to them, since workOf uses the rung's corpus chars and a
  * store-size leak into a never-growing probe batch would read as
  * workExp ~1 and pass. The store's SIZE must not leak into probe
  * cost beyond the candidates it contributes (the
  * zero-store-exchange plan property, measured).
  *
  * Two extra rows isolate the bucketed band store's probe:
  *  - q206_probe_scaled: the batch grows WITH the corpus (the odd
  *    half + planted re-crawls probe a store of the even half) —
  *    certifies the steady-state increment cost is linear in the
  *    INCREMENT.
  *  - q206_probe_fixed: a FIXED 2.5k-doc batch probes the growing
  *    store — certifies the standing corpus contributes ~ZERO bytes
  *    per probe regardless of its size (the StoreProbeAB flat curve,
  *    re-measured on real corpus growth instead of the synthetic
  *    amplifier). Expected exponent ~0; gated at e < 0.3.
  * Store builds happen once per rung OUTSIDE the probe timing (the
  * steady state of an incremental pipeline amortizes the build over
  * every future batch; q206_store_dedup still measures build+probe).
  *
  * Usage: ScaleDecade [reps] [q=comma,list] [label=dir ...] — defaults
  * to 3 reps of the dedup/substring family over
  * sf0.1=/root/testdata/sf0.1, sf1=/root/repo/tmp/sf1,
  * sf10=/root/repo/tmp/sf10. `q=` swaps in any other catalog family
  * (e.g. the graph/ANN/curation batch); the two store-probe rows run
  * only when q206_store_dedup is in the list. Run with
  * SPARK_DRIVER_MEM=32g: the sf10 rung's hash aggregations exceed the
  * 8g default's execution-memory pool (q181 OOMs there). Exits 1 on a
  * gated-exponent breach or a failed query. Results go into SCALE.md;
  * NOT part of the library.
  */
object ScaleDecade {
  private val DefaultQueries = Seq(
    "q44_ngram_jaccard",
    "q129_incremental_dedup",
    "q181_substring_dup",
    "q185_substring_dup_hashed",
    "q206_store_dedup")

  /** Rows whose probe batch never grows with the corpus — gated FLAT
    * (see the gate comment below), not on the work exponent. */
  private val FixedInputRows =
    Set("q206_probe_fixed", "q77_ivf_serve", "q128_pq_serve", "q210_ivfpq_serve")

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(s => scala.util.Try(s.toInt).toOption)
      .map(math.max(1, _)).getOrElse(3)
    val rest = args.drop(if (args.headOption.exists(
      s => scala.util.Try(s.toInt).isSuccess)) 1 else 0).toSeq
    val CatalogQueries = rest.find(_.startsWith("q="))
      .map(_.stripPrefix("q=").split(",").toSeq.map(_.trim)
        .filter(s => s.nonEmpty && s != "none"))
      .getOrElse(DefaultQueries)
    CatalogQueries.foreach { q =>
      require(SparkEntry.queries.contains(q), s"unknown catalog query: $q")
    }
    val runProbes = CatalogQueries.contains("q206_store_dedup")
    // ann=1 adds the parameter-SCALED ANN rows (planes grow log2 N to
    // pin bucket occupancy — the deployment path the fixed-parameter
    // catalog forms deliberately do not take, since their plane counts
    // are pinned by the DuckDB oracles); ann=serve runs ONLY the
    // stored-index serving rows (cheap reruns)
    val annScale = rest.contains("ann=1")
    val annServe = annScale || rest.contains("ann=serve")
    val rungArgs = rest.filterNot(a =>
      a.startsWith("q=") || a == "ann=1" || a == "ann=serve")
    val rungs: Seq[(String, String)] =
      if (rungArgs.nonEmpty) rungArgs.map { a =>
        val Array(l, d) = a.split("=", 2); (l, d)
      }
      else Seq(
        "sf0.1" -> "/root/testdata/sf0.1",
        "sf1" -> "/root/repo/tmp/sf1",
        "sf10" -> "/root/repo/tmp/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", "/tmp/graft_decade_warehouse")
      .config("spark.ui.enabled", "false")
      // AUTO-broadcast off (explicit engine broadcast() hints still
      // apply): optimizer-chosen broadcasts depend on the rung's
      // estimated sizes, so small rungs run broadcast plans and big
      // rungs flip to sort-merge mid-curve — the measured sf1→sf10
      // "cliff" on the ANN family was exactly this flip, not an
      // algorithmic exponent. At 100 TB everything sits in the
      // shuffle regime; pinning that regime on every rung makes the
      // exponent measure the plan, not the planner's size estimates.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Bench's listener + drain discipline: per-run shuffle write sums
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })
    def drained(): Long = {
      try org.apache.spark.GraftMetricsBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println("[decade] listener bus drain timed out") }
      shuffleBytes.get()
    }
    def cleanup(): Unit = { spark.catalog.clearCache(); System.gc() }

    // min clock + min per-run shuffle MB over `reps` runs of a thunk
    def measure(thunk: () => Unit): (Double, Double, Boolean) = {
      var failed = false
      val runs = (1 to reps).map { _ =>
        val sh0 = drained()
        val t0 = System.nanoTime()
        try thunk() catch { case e: Throwable =>
          failed = true
          System.err.println(s"[decade] FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val mb = (drained() - sh0) / 1048576.0
        cleanup()
        (dt, mb)
      }
      (runs.map(_._1).min, runs.map(_._2).min, failed)
    }

    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // JIT/codegen warm pass on the smallest SF (outside any timing)
    CatalogQueries.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      cleanup()
    }

    // rung size = total text chars (the corpus-scale denominator; doc
    // count is printed for the table)
    case class Rung(label: String, dir: String, docs: Long, chars: Double)
    val sized = rungs.map { case (l, d) =>
      val m = Tables.documents(spark, d)
        .agg(count(lit(1)), sum("n_chars")).head()
      Rung(l, d, m.getLong(0), m.getLong(1).toDouble)
    }
    sized.foreach(r => println(
      s"[decade] rung ${r.label}: ${r.docs} docs, ${(r.chars / 1e6).round} M chars (${r.dir})"))

    // results(query)(rungLabel) = (sec, mb, failed)
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, (Double, Double, Boolean)]]
    // (query, rungLabel) -> candidate-pair count (LSH rows only;
    // measured once per rung, outside timing)
    val candCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    def record(q: String, rung: String, v: (Double, Double, Boolean)): Unit = {
      results.getOrElseUpdate(q,
        scala.collection.mutable.LinkedHashMap.empty) += rung -> v
      println(s"[decade] $rung $q min=${f2(v._1)}s shuffle=${f2(v._2)}MB" +
        (if (v._3) " FAILED-REPS" else ""))
    }

    sized.foreach { r =>
      CatalogQueries.foreach { q =>
        record(q, r.label, measure(() =>
          SparkEntry.queries(q)(spark, r.dir)
            .write.format("noop").mode("overwrite").save()))
      }

      // ---- parameter-scaled ANN rows: fixed-parameter catalog forms
      // measure occupancy misfit (bucket size ~ N / 2^planes grows
      // with the corpus — expected, theory-predicted superlinearity);
      // these rows grow planes as log2 N so per-bucket occupancy stays
      // ~20 and the whole pipeline returns to ~linear: corpus-side
      // banding is N x nTables rows, candidate pairs ~ N x occupancy.
      // IVF's analogous path — nlist proportional to N with cell size
      // pinned, hierarchical two-level centroid assignment — and PQ's
      // packed-code serve are measured below as stored-index rows.
      if (annServe) {
        val emb = Tables.embeddings(spark, r.dir)
          .select(col("vec_id"), col("embedding"))
        val nEmb = emb.count()
        if (annScale) {
        // pin ~20 vectors per bucket on EVERY rung (floor 4, not 8: an
        // 8-plane floor under-occupies the smallest rung — occupancy
        // 4 -> 20 -> 12 across the decades — and the first decade then
        // measures an occupancy RISE on top of corpus growth, 1.42
        // instead of ~1)
        def planesFor(m: Long): Int = math.max(4,
          math.ceil(math.log(m / 20.0) / math.log(2)).toInt)
        val p116 = planesFor(nEmb)
        record("q116_planes_log2N", r.label, measure(() =>
          VectorOps.lshAnnMulti(emb.filter(col("vec_id") < 20), emb, k = 3,
              nPlanes = p116, nTables = 4)
            .write.format("noop").mode("overwrite").save()))
        val a = emb.filter(col("vec_id") % 2 === 0)
        val b = emb.filter(col("vec_id") % 2 === 1)
        val p198 = planesFor(nEmb / 2)
        record("q198_planes_log2N", r.label, measure(() =>
          Bitext.marginMutual(
              Bitext.lshPairs(a, b, nPlanes = p198, nTables = 4),
              marginMin = 0.01)
            .write.format("noop").mode("overwrite").save()))
        println(s"[decade] ${r.label} annScale planes: q116=$p116 q198=$p198")
        cleanup()
        }

        // ---- stored-index ANN SERVING rows (fixed 20-probe batch,
        // index built OUTSIDE timing — the steady state of a serving
        // deployment amortizes the build over every query batch).
        // Gated FLAT (< 0.3 raw byte exponent): the standing corpus
        // must contribute ~zero bytes per query batch.
        val probes20 = emb.filter(col("vec_id") < 20)
        // IVF with nlist ∝ N (cell size pinned ~64) and the
        // hierarchical two-level build (brute-force assign would be
        // N × nlist — quadratic by construction in this regime)
        val nlist = math.max(8L, nEmb / 64L).toInt
        val nSuper = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
        val idxDir = java.nio.file.Files
          .createTempDirectory(s"decade_ann_idx_${r.label}").toString
        var tb = System.nanoTime()
        val (ivfIndexed, ivfCents) =
          VectorOps.ivfBuildHierarchical(emb, "vec_id", nlist, nSuper)
        ivfIndexed.write.mode("overwrite").parquet(s"$idxDir/ivf_corpus")
        ivfCents.write.mode("overwrite").parquet(s"$idxDir/ivf_cents")
        println(f"[decade] ${r.label} ivf index build (nlist=$nlist nSuper=$nSuper): ${(System.nanoTime() - tb) / 1e9}%.1f s")
        cleanup()
        val ivfCorpusStored = spark.read.parquet(s"$idxDir/ivf_corpus")
        val ivfCentsStored = spark.read.parquet(s"$idxDir/ivf_cents")
        record("q77_ivf_serve", r.label, measure(() =>
          VectorOps.ivfAnn(probes20, ivfCorpusStored, "cell", k = 3,
              nprobe = 2, centroids = Some(ivfCentsStored))
            .write.format("noop").mode("overwrite").save()))
        cleanup()
        // PQ: packed codes + codebooks stored; serve = map-only ADC
        // shortlist (bounded TopKPerKey) + exact refine of 50
        tb = System.nanoTime()
        val (pqC, pqB) = VectorOps.pqCodes(emb, "vec_id", m = 4, ksub = 16)
        VectorOps.pqCodesPacked(pqC, "vec_id")
          .write.mode("overwrite").parquet(s"$idxDir/pq_packed")
        pqB.write.mode("overwrite").parquet(s"$idxDir/pq_books")
        println(f"[decade] ${r.label} pq index build (m=4 ksub=16): ${(System.nanoTime() - tb) / 1e9}%.1f s")
        cleanup()
        val pqPackedStored = spark.read.parquet(s"$idxDir/pq_packed")
        val pqBooksStored = spark.read.parquet(s"$idxDir/pq_books")
        record("q128_pq_serve", r.label, measure(() =>
          VectorOps.pqServeTopK(probes20, emb, pqPackedStored, pqBooksStored,
              "vec_id", m = 4, ksub = 16, k = 5, shortlist = 50)
            .write.format("noop").mode("overwrite").save()))
        cleanup()
        // the FULL IVF-PQ stack: packed codes carrying the
        // hierarchical IVF cells (one build-time join), nprobe cells
        // per probe, ADC only within them, exact refine
        spark.read.parquet(s"$idxDir/pq_packed")
          .join(ivfCorpusStored.select(col("vec_id"), col("cell")), "vec_id")
          .write.mode("overwrite").parquet(s"$idxDir/ivfpq_packed")
        val ivfPqPacked = spark.read.parquet(s"$idxDir/ivfpq_packed")
        record("q210_ivfpq_serve", r.label, measure(() =>
          VectorOps.ivfPqTopK(probes20, emb, ivfCentsStored, ivfPqPacked,
              pqBooksStored, "vec_id", m = 4, ksub = 16, k = 5,
              nprobe = 4, shortlist = 50)
            .write.format("noop").mode("overwrite").save()))
        cleanup()
      }

      // corpus-wide LSH candidates for the cluster family (q101 runs
      // candidatePairs over the whole corpus, no parity split)
      if (CatalogQueries.contains("q101_dup_clusters")) {
        val docs = Tables.documents(spark, r.dir)
        val nAll = Dedup.candidatePairs(
          Dedup.lshBands(Dedup.minHashText(
            docs.select(col("doc_id"), col("text")), "doc_id", "text"),
            "doc_id"), "doc_id").count()
        candCounts(("q101_dup_clusters", r.label)) = nAll
        println(s"[decade] ${r.label} candidates: corpus_all=$nAll")
        cleanup()
      }

      // ---- the incremental-dedup corpus split (shared by the q129
      // work denominator and the store-probe rows)
      val docs = Tables.documents(spark, r.dir)
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      def recrawls(src: DataFrame): DataFrame =
        src.select((col("doc_id") + (1L << 60)).as("doc_id"),
          concat_ws(" ",
            expr("slice(split(text, '\\\\s+'), 1, 3)"),
            expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text"))
      val scaledBatch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(recrawls(docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)))

      // q129's union-banded candidates — the work denominator its
      // gate normalizes on. Computed whenever q129 RUNS, not only
      // when the q206 store rows do: a q=q129-only run would
      // otherwise gate on raw chars, the denominator the work
      // normalization exists to correct (q206_store_dedup moves the
      // same pair structure through its build+probe, so it shares
      // the count)
      if (CatalogQueries.contains("q129_incremental_dedup") || runProbes) {
        val u = ref.select((col("doc_id") * 2).as("uid"), col("text").as("__t"))
          .unionByName(scaledBatch
            .select((col("doc_id") * 2 + 1).as("uid"), col("text").as("__t")))
        val nIncr = Dedup.candidatePairs(
            Dedup.lshBands(Dedup.minHashText(u, "uid", "__t"), "uid"), "uid")
          .filter(col("id_a") % 2 =!= col("id_b") % 2).count()
        candCounts(("q129_incremental_dedup", r.label)) = nIncr
        candCounts(("q206_store_dedup", r.label)) = nIncr
        println(s"[decade] ${r.label} candidates: incr=$nIncr")
        cleanup()
      }

      // ---- store-probe rows: build the rung's standing store ONCE
      if (runProbes) {
      // deterministic fixed batch (the StoreProbeAB pick): 2k odd docs
      // + 500 re-crawls, SAME absolute ids on every rung (GenScale
      // copies shift by 1e9, so low ids are the shared sf0.1 originals).
      // The flat gate is only meaningful on rungs that SATURATE these
      // limits (sf0.1+, where the odd half >= 2000): on a smaller rung
      // the "fixed" batch still grows with the corpus and the exponent
      // reads as real growth (observed 0.60 on a sf0.01->sf0.1 smoke)
      // materialized OUTSIDE the probe timing (the StoreProbeAB
      // discipline, hardened): the orderBy+limit pick itself shuffles
      // its per-partition top-k, which grows with the RUNG (more
      // input partitions), and a lazy batch re-runs that pick inside
      // every probe — the first measured curve read 2.78 -> 15.86 MB
      // of pure harness shuffle on a genuinely flat probe. A parquet
      // round-trip (not .cache()) survives the between-reps
      // clearCache(); the re-read is a zero-shuffle scan.
      val fixedPath = java.nio.file.Files
        .createTempDirectory(s"decade_fixed_${r.label}").toString
      docs.filter(col("doc_id") % 2 === 1)
        .orderBy("doc_id").limit(2000).select(col("doc_id"), col("text"))
        .unionByName(recrawls(docs
          .filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
          .orderBy("doc_id").limit(500)))
        .write.mode("overwrite").parquet(fixedPath)
      val fixedBatch = spark.read.parquet(fixedPath)
      val table = "decade_bands_" + r.label.replace(".", "_")
      BandStore.reset(spark, table)
      BandStore.write(
        Dedup.lshBands(Dedup.minHashText(ref, "doc_id", "text"), "doc_id"), table)
      def probe(batch: DataFrame): Unit = {
        BandStore.dedupAgainstStoreScoped(
          spark, table, ref, batch, "doc_id", "text") { j =>
          j.filter(col("jaccard") >= 0.5).count(); ()
        }
      }
      record("q206_probe_scaled", r.label, measure(() => probe(scaledBatch)))
      record("q206_probe_fixed", r.label, measure(() => probe(fixedBatch)))

      // ---- candidate-pair counts (outside timing; the work
      // denominator for the normalized exponents)
      def probeCands(batch: DataFrame): Long =
        BandStore.probe(spark, table,
          Dedup.lshBands(Dedup.minHashText(batch, "doc_id", "text"), "doc_id"),
          "doc_id").count()
      candCounts(("q206_probe_scaled", r.label)) = probeCands(scaledBatch)
      candCounts(("q206_probe_fixed", r.label)) = probeCands(fixedBatch)
      println(s"[decade] ${r.label} candidates: " +
        s"probe_scaled=${candCounts(("q206_probe_scaled", r.label))} " +
        s"probe_fixed=${candCounts(("q206_probe_fixed", r.label))}")

      BandStore.reset(spark, table)
      }
      cleanup()
    }

    // ---- exponents per adjacent decade; gate bytes, report clock
    println("\n| query | " + sized.map(r =>
      s"${r.label} s / MB").mkString(" | ") +
      " | byte exp (chars) | byte exp (work) | clock exp |")
    var breach = false
    results.foreach { case (q, byRung) =>
      val cells = sized.map { r =>
        val (s, mb, failed) = byRung(r.label)
        if (failed) "FAILED" else s"${f2(s)} / ${f2(mb)}"
      }
      val pairs = sized.sliding(2).toSeq ++
        (if (sized.length > 2) Seq(Seq(sized.head, sized.last)) else Nil)
      // work = chars + cands * chars-per-doc: the verifier moves about
      // one document's shingles per candidate pair. For rows with no
      // candidate count this degenerates to chars (raw == work).
      def workOf(r: Rung): Double =
        r.chars + candCounts.getOrElse((q, r.label), 0L) * (r.chars / r.docs)
      def exps(sel: ((Double, Double, Boolean)) => Double,
               denom: Rung => Double): Seq[Double] =
        pairs.flatMap { case Seq(lo, hi) =>
          val (a, b) = (byRung(lo.label), byRung(hi.label))
          if (a._3 || b._3 || sel(a) <= 0 || sel(b) <= 0) None
          else Some(math.log(sel(b) / sel(a)) / math.log(denom(hi) / denom(lo)))
        }
      val beRaw = exps(_._2, _.chars)
      val beWork = exps(_._2, workOf)
      val ce = exps(_._1, _.chars)
      val anyFailed = byRung.values.exists(_._3)
      // GATED on the FULL-SPAN exponents (last element: first -> last
      // rung), not the per-decade max: a df-cap family crosses its
      // saturation window in SOME decade (q44 measured 1.37 then
      // -0.08 — a transition bump, 0.65 across the two decades), and
      // per-decade gating would flag exactly the behavior the cap
      // exists to produce. Per-decade exponents are still printed for
      // the eye. A row passes if EITHER holds:
      //   - work exponent <= 1.15 (bytes track chars+candidate work);
      //   - bytes-PER-CANDIDATE exponent <= 0.3 (candidate-dominated
      //     regimes — q101's corpus-wide pair space, the fixed probe
      //     against a growing store — where the single-coefficient
      //     work model under-weights the candidate term; flat
      //     per-candidate cost IS the engine-linearity statement
      //     there). A genuine blowup fails both: its bytes outrun
      //     chars AND its candidates.
      val perCandExp: Option[Double] = {
        val lo = sized.head; val hi = sized.last
        val (a, b) = (byRung(lo.label), byRung(hi.label))
        val (ca, cb) = (candCounts.getOrElse((q, lo.label), 0L),
          candCounts.getOrElse((q, hi.label), 0L))
        if (!a._3 && !b._3 && ca > 0 && cb > 0 && a._2 > 0 && b._2 > 0)
          Some(math.log((b._2 / cb) / (a._2 / ca)) /
            math.log(hi.chars / lo.chars))
        else None
      }
      val workOk = beWork.lastOption.exists(_ <= 1.15)
      val perCandOk = perCandExp.exists(_ <= 0.3)
      // rows whose INPUT is fixed while the corpus grows: flatness IS
      // the property, and the workExp disjunction must not apply —
      // workOf uses the rung's full corpus chars, so a store-size
      // leak into probe bytes reads as workExp ~1.0 and would pass.
      // With candidate counts the gate is bytes-per-candidate < 0.3;
      // without them (the stored-index ANN serve rows) it is the raw
      // byte exponent < 0.3.
      // magnitude floor for the no-candidate fixed rows: the ANN
      // serve rows measure in the 0.01–1 MB range, where a full-span
      // log slope is arithmetic over kilobyte noise (measured: IVF
      // serve 0.01 -> 0.07 -> 0.07 MB reads as "0.44" while being
      // flat 0.02 across the decade that matters). A fixed 20-probe
      // batch whose TOP-RUNG bytes stay under 1 MB IS the flat
      // property, whatever the slope of its noise.
      val topRungMb = byRung(sized.last.label)._2
      val flag =
        if (FixedInputRows(q))
          anyFailed || !(perCandExp match {
            case Some(e) => e <= 0.3
            case None => beRaw.lastOption.exists(_ <= 0.3) || topRungMb < 1.0
          })
        else anyFailed || !(workOk || perCandOk)
      if (flag) breach = true
      println(s"| $q | " + cells.mkString(" | ") + " | " +
        beRaw.map(f2).mkString(", ") + " | " +
        beWork.map(f2).mkString(", ") +
        perCandExp.map(e => s" | per-cand ${f2(e)}").getOrElse("") +
        (if (flag) " **SUPERLINEAR/FAILED**" else "") +
        " | " + ce.map(f2).mkString(", ") + " |")
    }
    spark.stop()
    if (breach) { System.err.println("[decade] GATE BREACH"); sys.exit(1) }
  }
}
