package graft.ops.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Cosine is computed as a left-to-right double fold (dot and norms),
  * then dot / (sqrt(na) * sqrt(nb)) — the exact operation sequence
  * DuckDB's list_dot_product/sqrt replay, so results are bit-identical
  * for the oracle.
  *
  * Brute-force top-k is the correctness baseline (probes x all
  * candidates); the LSH-bucketed variant is the scale path: random
  * hyperplanes derived from md5 bits quantize each vector to a bucket
  * signature, and search only touches same-bucket candidates. At
  * 100 TB the bucket join replaces the cross join — candidate count
  * per probe drops from N to N / 2^planes on average.
  */
object VectorOps {

  /** Sentinel for the serve knobs (`nprobe` / `shortlist`): pass it
    * to [[ivfAnn]] / [[ivfPqTopK]] / [[pqServeTopK]] to have the knob
    * DERIVED from the index via [[servingKnobs]] instead of supplied.
    * Explicit values keep working unchanged — Auto is opt-in. */
  val Auto: Int = -1

  /** The measured recall scaling law (SCALE.md round-15 recall sweep),
    * as code: on an isotropic worst-case distribution with cell size
    * pinned (the nlist ∝ N regime), holding fixed serve knobs across
    * a corpus decade LOSES recall (0.956 → 0.731 at 10× on the sweep
    * fixture) because the routing knob must scale with nlist and the
    * ADC shortlist then becomes the binding constraint in turn. The
    * law that restores the ≥ 0.9 floor across the decade:
    *
    *   - nprobe ≈ 10% of nlist (floor 2 — the historical default);
    *   - shortlist ≈ 20% of the ADC-scored set = nprobe × cellSize
    *     (floor k — a shortlist below k cannot return k rows).
    *
    * Measured at both rungs: sf1 (nlist 329) the derived point sits
    * between the sweep's (32, 200) = 0.913 and (32, 500) = 0.956;
    * sf10 (nlist 3,140) it reproduces the certified (320, 4000) =
    * 0.972 row at an 8 s serve clock. Clustered real embedding
    * distributions need far smaller fractions — the law is the
    * adversarial floor, not the estimate. */
  def servingKnobs(nlist: Long, k: Int, cellSize: Long = 64L): (Int, Int) = {
    val nprobe = math.max(2L, (nlist + 9L) / 10L).toInt
    val shortlist = math.max(k.toLong,
      math.ceil(0.2 * nprobe * math.max(1L, cellSize)).toLong).toInt
    (nprobe, shortlist)
  }

  /** Sequential-fold dot product of two float-array columns in double.
    * Native codegen'd expression (graft.functions.DotProduct) — same
    * fold order as the interpreted `aggregate(zip_with(...))` form it
    * replaced (the spec-side reference `VectorReference.dotHof`), but
    * stays in WholeStageCodegen. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Per-probe top-k of a scored (q_id, c_id, <scoreCol>, ...) pairs
    * frame — the FINAL ranking stage of every ANN path — through
    * [[graft.plans.TopKPerKey]] partial bounded heaps, with `rank`
    * attached by a window over the already-reduced nq × k winners
    * (the pqAdcTopKPacked shape, generalized in r16).
    *
    * Why not `row_number() OVER (PARTITION BY q_id)` directly on the
    * pairs frame: the scored set is nq × N for brute force, nq ×
    * (nprobe × cell) for IVF, nq × bucket-occupancy for LSH — and a
    * window exchanges and fully SORTS all of it just to discard
    * everything past rank k. The TopK partial trims each input
    * partition to k rows per probe BEFORE the exchange, so the q_id
    * shuffle carries at most k × partitions rows per probe at any
    * corpus size, and no full sort exists anywhere (measured on
    * q128's flat-ADC scoring at sf1: the grouped nq × N frame was
    * 37M rows through the window exchange). Same rows, same ranks:
    * (score desc, c_id) is a total order per probe, the exact
    * ordering the window used. */
  private def rankTopK(pairs: DataFrame, scoreCol: String, k: Int,
                       out: Seq[String]): DataFrame = {
    val top = graft.plans.TopKPerKey.topK(pairs, Seq(col("q_id")),
      Seq(col(scoreCol).desc, col("c_id")), k)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col(scoreCol).desc, col("c_id"))
    top.withColumn("rank", row_number().over(w)).select(out.map(col): _*)
  }

  /** Brute-force cosine top-k: for each probe, the k nearest
    * candidates (excluding itself), rank by (cos desc, cand id). */
  def bruteForceKnn(probes: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val p = probes.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val c = candidates.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val pairs = p.crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    rankTopK(pairs, "cos", k, Seq("q_id", "c_id", "rank", "cos"))
  }

  /** Sign of hyperplane j for dimension k, computed driver-side:
    * parity of the first hex digit of md5("<j>_<k>") — the exact
    * formula the oracle SQL replays per element. +1 / -1. Table t of
    * a multi-table index uses plane indices [t*nPlanes, (t+1)*nPlanes),
    * so table 0 is bit-identical to the single-table form. */
  private def planeSign(j: Int, k: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(s"${j}_$k".getBytes("UTF-8"))
    val firstHexDigit = (digest(0) >> 4) & 0xf
    (firstHexDigit % 2) * 2 - 1
  }

  /** Random-hyperplane LSH bucket signature (nPlanes bits) per vector.
    * Components are quantized to integers (round(x * 1e6)) so the
    * per-plane vote sum is order-independent integer arithmetic —
    * deterministic under any shuffle order. Output (id, bucket).
    *
    * The hyperplane sign matrix depends only on (plane, dim) — a
    * small deterministic constant — so it is materialized driver-side
    * as nPlanes literal arrays and each vote is a per-row zip_with
    * fold. Bucket assignment is therefore a pure MAP with no shuffle
    * at all (the earlier row-explosion form shuffled N x dims x
    * planes rows through two aggregations); at 100 TB this is the
    * difference between a free projection and the dominant exchange.
    * Dimensionality = max array length across the frame (one small
    * all-null-safe aggregate — at scale this is pass-through dataset
    * metadata, not a probe): an empty input yields an empty result
    * instead of head() throwing, null embeddings yield null buckets
    * (dropped by the downstream bucket join), and ragged vectors keep
    * ALL components instead of silently truncating to row 0's length.
    * Callers composing many tables over the same frame pass the
    * dimensionality via `knownDims` (see embeddingDims) to skip the
    * per-call probe job; -1 (default) probes. */
  def lshBucket(df: DataFrame, idCol: String, nPlanes: Int = 8,
                table: Int = 0, knownDims: Int = -1): DataFrame = {
    val dims = if (knownDims >= 0) knownDims else embeddingDims(df)
    if (dims <= 0)
      return df.select(col(idCol), lit(null).cast("long").as("bucket")).limit(0)
    val signs = Array.tabulate(nPlanes, dims)(
      (j, k) => planeSign(table * nPlanes + j, k).toLong)
    df.select(col(idCol),
      graft.functions.LshBucketExpr.bucket(col("embedding"), signs).as("bucket"))
  }

  /** Max embedding length across the frame — the dims probe lshBucket
    * runs when the caller passes no `knownDims`. One driver-blocking
    * aggregate job; exposed so multi-table compositions (lshAnnMulti)
    * probe each input frame ONCE instead of once per table per frame. */
  def embeddingDims(df: DataFrame): Int =
    df.agg(max(size(col("embedding")))).head().get(0) match {
      case n: Int => n
      case _ => 0 // empty frame or all-null embeddings
    }

  /** Dot product for double (or mixed float/double) arrays — the
    * centroid/assignment loops. Routed through the same native
    * codegen'd expression as [[dot]] (r17): the HOF fold form ran
    * interpreted per element N × m × ksub times per Lloyd round in
    * [[pqCodes]]/[[kmeansCells]], the hottest scalar of every k-means
    * build. Identical left-to-right fold, bit-identical doubles (the
    * spec-side reference `VectorReference.dotHof` spells that fold). */
  def dotD(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  /** The m contiguous double subvectors of `embCol`, as one array
    * column to posexplode into (mi, sv) rows — STATICALLY unrolled
    * over the literal m (r17): `slice` + array `cast` both stay in
    * WholeStageCodegen, where the previous
    * `transform(sequence(0, m-1), mi -> transform(slice(...), ...))`
    * nested-HOF form was CodegenFallback — interpreted once per CORPUS
    * row per Lloyd round on the pqCodes build path (the same defect
    * class as the r16 ADC-fold unroll, on the index-build side).
    * Identical output: same element order, and a null embedding still
    * yields m rows of null sv (slice/cast propagate the null exactly
    * like the inner transform did). A literal `dsub` folds to the same
    * constant slice bounds; the probe side passes each row's own
    * width ([[probeSubvectors]]). */
  private def subvectors(embCol: Column, m: Int, dsub: Column): Column =
    array((0 until m).map(mi =>
      slice(embCol, dsub * mi + 1, dsub).cast("array<double>")): _*)

  /** The probe side of every PQ lookup: (q_id, mi, qv) rows, each
    * probe cut into m subvectors of ITS OWN length div m. A per-row
    * width needs no driver-side dims job before the plan exists, and a
    * probe as long as the indexed vectors splits exactly where the
    * codebooks were cut. */
  private def probeSubvectors(probes: DataFrame, idCol: String, m: Int): DataFrame =
    probes.select(col(idCol).as("q_id"),
      posexplode(subvectors(col("embedding"), m,
        (size(col("embedding")) / m).cast("int"))).as(Seq("mi", "qv")))

  /** One ADC lookup row per probe: map (mi·ksub + code) -> int64 inner
    * product — a map, not a dense array, so a codebook cell that lost
    * every member is an absent key (null-summed rank-last), never a
    * silent positional shift. */
  private def probeLuts(probes: DataFrame, codebooks: DataFrame, idCol: String,
                        m: Int, ksub: Int): DataFrame =
    probeSubvectors(probes, idCol, m).join(broadcast(codebooks), Seq("mi"))
      .select(col("q_id"), (col("mi") * ksub + col("cell")).as("idx"),
        round(dotD(col("qv"), col("cv")) * 1e6).cast("long").as("si"))
      .groupBy("q_id")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("si")))).as("lut"))

  /** The m-way ADC table sum of a packed `codes` row against `lut`,
    * UNROLLED into a static sum of element_at terms, not an
    * aggregate(transform(...)) fold: higher-order functions are
    * CodegenFallback (interpreted per row), and this expression runs
    * once per (probe, candidate) — the hottest scalar of the packed
    * and IVF-PQ paths. The static sum stays inside WholeStageCodegen.
    * A missing LUT key (a codebook cell that lost every member) nulls
    * one term and a null term nulls the whole sum — rank-last. */
  private def adcSum(m: Int, ksub: Int): Column =
    (0 until m).map(mi =>
      element_at(col("lut"), lit(mi * ksub) + element_at(col("codes"), lit(mi + 1))))
      .reduce(_ + _)

  /** The probe batch every serve path plans from, with the broadcast
    * verdict it shares: may the probe-derived sides be broadcast (at
    * most `probeBroadcastMax` rows)?
    *  - When [[graft.ops.Materialize.rowBound]] already bounds the
    *    probes under the budget (a batch of driver-side rows, a LIMIT,
    *    a filled cache: the serving shape), that bound decides with no
    *    job, and the batch is served from ONE partition
    *    (`coalesce(1)`). Every per-probe operator over it (the routing
    *    top-k, the LUT aggregate, a join of the two on q_id) then finds
    *    its q_id clustering satisfied and plans no exchange of its own.
    *  - Otherwise the frame is counted, one eager action, and served
    *    as it is: coalescing a counted frame (a filtered corpus scan)
    *    would pull its whole upstream scan into one task.
    * The verdict is the counted one either way (the bound caps the
    * count). */
  private def probeBatch(probes: DataFrame, probeBroadcastMax: Long): (DataFrame, Boolean) =
    if (graft.ops.Materialize.rowBound(probes).exists(_ <= probeBroadcastMax))
      (probes.coalesce(1), true)
    else (probes, probes.count() <= probeBroadcastMax)

  /** Join two probe-derived frames on q_id. Under the probe gate the
    * join is hinted shuffle-hash: its sides are already clustered on
    * q_id (one partition, or the heaps' and aggregate's own q_id
    * exchanges), so it plans no exchange and no broadcast of its own;
    * over the budget the planner picks the join. */
  private def onProbe(a: DataFrame, b: DataFrame, smallProbes: Boolean): DataFrame =
    a.join(if (smallProbes) b.hint("shuffle_hash") else b, "q_id")

  /** The IVF index's centroid table — the BUILD half ivfAnn used to
    * re-derive inline on every call: per-cell integer-quantized
    * per-dimension means (exact int sums / count — order-independent,
    * so deterministic under shuffle). Output (cell, cv array<double>).
    * At serving scale this is computed ONCE, stored next to the
    * cell-assigned corpus (the index artifact), and handed to
    * [[ivfAnn]] via its `centroids` parameter — a query batch loads
    * ~nlist centroid rows from the index it built, it does not
    * re-scan the corpus. */
  def ivfCentroids(candidates: DataFrame, cellCol: String): DataFrame =
    candidates
      .select(col(cellCol).as("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xi", round(col("x").cast("double") * 1e6).cast("long"))
      .groupBy("cell", "dim")
      .agg((sum(col("xi")).cast("double") / count(lit(1)) / 1e6).as("c"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))

  /** IVF-style ANN: candidates are coarse-partitioned into cells (a
    * precomputed cluster id column); each probe searches only its
    * `nprobe` nearest cells by centroid cosine. The inverted-file
    * analogue of lshAnn: a cell equi-join replaces the cross join.
    *
    * BUILD/SERVE SPLIT: `centroids` is the stored index's centroid
    * table ([[ivfCentroids]] schema (cell, cv)). Passing it makes
    * this a pure SERVE call — the corpus is only touched by the final
    * cell-restricted scoring join, never re-aggregated for centroids.
    * When None (the fixture/oracle path, which replays the derivation
    * bit-for-bit in DuckDB), centroids are derived from `candidates`
    * — per-call compute that is corpus-LINEAR and therefore wrong at
    * serving scale; every repeated-batch deployment stores the index.
    *
    * SERVING SHAPE: when the probe set is bounded ([[probeBatch]]
    * proves it is under `probeBroadcastMax`), the probe×cell frame
    * carries an explicit broadcast hint so the corpus-sized candidate
    * relation is restricted MAP-SIDE — the corpus never crosses the
    * wire for a small query batch. Without the hint the optimizer's
    * auto-broadcast saves the plan only while the corpus's estimated
    * size is under its threshold, i.e. exactly NOT at scale (measured:
    * the sf1→sf10 decade flipped the cell join to sort-merge and
    * shuffled the whole embedding table for 20 probes). Over the
    * budget the hint is dropped and the planner picks the join.
    * When the probe plan's own row bound decides the gate (a batch of
    * driver-side rows), the routing runs inside the batch's one
    * partition: the nprobe heaps and the join back to the probe
    * vectors plan no exchange, and the broadcast of the probe×cell
    * frame is the probe side's only exchange. A counted probe frame
    * keeps its partitioning, and the routing exchanges its heaps on
    * q_id.
    *
    * `nprobe = Auto` derives the routing knob from the index via
    * [[servingKnobs]] (nprobe ≈ 10% of nlist — the measured scale
    * law; one eager count of the nlist-row centroid table, so meant
    * for the stored-index serve path: with `centroids = None` the
    * count runs the per-call derivation an extra time). */
  def ivfAnn(probes: DataFrame, candidates: DataFrame, cellCol: String,
             k: Int, nprobe: Int = 2,
             probeBroadcastMax: Long = 10000L,
             centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(candidates, cellCol))
    val np = if (nprobe == Auto) servingKnobs(cents.count(), k)._1 else nprobe
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    // fresh probe projection per consumer: probeCells shares lineage
    // with its own copy, avoiding the ambiguous-self-join trap
    def p = batch.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    // nprobe nearest cells per probe by centroid cosine — through the
    // bounded-heap TopKPerKey, not a window: the scored probe×cell
    // frame is nq × nlist rows, and in the nlist ∝ N regime a window
    // would shuffle ALL of them; the partial heaps cut the exchange
    // to nprobe rows per (probe, partition). Same set, same total
    // order (ccos desc, cell asc) — q77/q207 stay hash-identical.
    val pc = p.crossJoin(broadcast(cents))
      .withColumn("ccos", dotD(col("qv"), col("cv")) /
        (col("qn") * sqrt(dotD(col("cv"), col("cv")))))
    val probeCells = graft.plans.TopKPerKey.topK(pc,
        Seq(col("q_id")), Seq(col("ccos").desc, col("cell")), np)
      .select(col("q_id"), col("cell"))
    val c = candidates.select(col(cellCol).as("cell"), col("vec_id").as("c_id"),
      col("embedding").as("cv2"), norm(col("embedding")).as("cn"))
    // probe side = probes x nprobe rows; broadcast under the probe
    // gate so the corpus side streams map-side (see scaladoc)
    val probeSide0 = onProbe(probeCells, p, smallProbes)
    val probeSide = if (smallProbes) broadcast(probeSide0) else probeSide0
    val pairs = probeSide.join(c, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("qv"), col("cv2"), col("qn"), col("cn")))
    // final ranking through partial heaps (rankTopK): the scored set
    // is nq × (nprobe × cell occupancy) — corpus-proportional in the
    // fixed-nlist regime — and the window form shuffled and sorted
    // all of it
    rankTopK(pairs, "cos", k, Seq("q_id", "c_id", "cell", "rank", "cos"))
  }

  /** Exact nearest-centroid assignment: for every row of `df`, the
    * `centroids` (schema (cell, cv array<double>) — [[ivfCentroids]])
    * row maximizing cosine, ties to the smaller cell. A k-way scored
    * projection over broadcast centroids — never an N² join — but the
    * COMPUTE is N × nlist dot products: right while nlist is a fixed
    * small constant, quadratic when nlist grows with N (cell size
    * pinned); that regime uses [[assignCellsHierarchical]]. Output
    * (idCol, cell). */
  def assignCells(df: DataFrame, idCol: String, centroids: DataFrame): DataFrame = {
    // argmax through TopKPerKey's partial bounded heaps, not a
    // window: the k scored rows per id are generated IN the id's
    // partition (crossJoin of a broadcast), so the partial exec
    // reduces them map-side and the exchange carries ONE row per id
    // instead of k — same winner under the same (cos desc, cell asc)
    // total order, k-fold fewer bytes on the wire
    val scored = df.select(col(idCol), col("embedding"), norm(col("embedding")).as("__nm"))
      .crossJoin(broadcast(centroids))
      .withColumn("__ccos", dotD(col("embedding"), col("cv")) /
        (col("__nm") * sqrt(dotD(col("cv"), col("cv")))))
    graft.plans.TopKPerKey.topK(scored,
        Seq(col(idCol)), Seq(col("__ccos").desc, col("cell")), 1)
      .select(col(idCol), col("cell"))
  }

  /** The coarse quantizer OVER THE CENTROIDS — level 1 of the
    * two-level assignment that keeps an IVF build sub-quadratic when
    * nlist grows with N (cell size pinned): a deterministic Lloyd's
    * k-means over the nlist centroid rows themselves (md5-ranked cell
    * seeds, cosine assignment with g tie-break, integer-quantized
    * means — the [[kmeansCells]] machinery applied to (cell, cv)).
    * Returns (superCents (g, gv), cellToSuper (cell, g)). Cost is
    * nlist × nSuper — index metadata, never corpus-sized. */
  def superQuantizer(centroids: DataFrame, nSuper: Int,
                     iters: Int = 1): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val seedRank = conv(substring(md5(col("cell").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val seeds = centroids.select(col("cell"), col("cv"), seedRank.as("__h"))
      .orderBy(col("__h"), col("cell")).limit(nSuper)
    // bounded global window: post-limit(nSuper) rows only
    val g0 = seeds
      .withColumn("g", row_number().over(Window.orderBy(col("__h"), col("cell"))) - 1)
      .select(col("g"), col("cv").as("gv"))
    // per-cell argmax through TopKPerKey's partial bounded heaps, not
    // a window (the assignCells note): the scored frame is nlist ×
    // nSuper rows, and with nSuper = √nlist that is nlist^1.5 — in the
    // nlist ∝ N regime LARGER than the corpus this quantizer exists to
    // protect. A window would shuffle ALL of it; the partial heaps
    // reduce map-side so the exchange carries one row per cell. Same
    // winner under the same (gcos desc, g asc) total order —
    // hash-identical (q209 / HierarchicalAssignSpec pin it).
    def assign(gc: DataFrame): DataFrame = {
      val scored = centroids.select(col("cell"), col("cv"),
          sqrt(dotD(col("cv"), col("cv"))).as("__cn"))
        .crossJoin(broadcast(gc))
        .withColumn("__gcos", dotD(col("cv"), col("gv")) /
          (col("__cn") * sqrt(dotD(col("gv"), col("gv")))))
      graft.plans.TopKPerKey.topK(scored,
          Seq(col("cell")), Seq(col("__gcos").desc, col("g")), 1)
        .select(col("cell"), col("g"))
    }
    def update(asg: DataFrame): DataFrame =
      centroids.join(asg, "cell")
        .select(col("g"), posexplode(col("cv")).as(Seq("dim", "x")))
        .withColumn("xi", round(col("x") * 1e6).cast("long"))
        .groupBy("g", "dim")
        .agg((sum(col("xi")).cast("double") / count(lit(1)) / 1e6).as("c"))
        .groupBy("g")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("gv"))
    val fin = (1 to iters).foldLeft(g0)((c, _) => update(assign(c)))
    (fin, assign(fin))
  }

  /** Two-level (hierarchical) nearest-centroid assignment — the
    * nlist ∝ N regime's replacement for [[assignCells]], whose
    * brute-force N × nlist scoring is quadratic by construction when
    * cell size is pinned. Level 1 scores each vector against the
    * `nSuper` super-centroids of [[superQuantizer]] and keeps the
    * `wSuper` best; level 2 scores only the cells assigned to those
    * supers. Per-vector compute drops from nlist to
    * nSuper + wSuper × nlist/nSuper (≈ 2·√nlist at nSuper = √nlist).
    *
    * Scale shape: the ENTIRE search structure (super array + a
    * super→cells map) is folded into ONE broadcast row and both
    * levels run as per-row expression folds — the corpus is never
    * exploded, joined on its id, or re-aggregated, so the assignment
    * adds ZERO shuffle exchanges (PlanQualitySpec pins it with
    * auto-broadcast off). Every fold is order-independent (argmax
    * under the total order (cos desc, id asc)), so results are
    * deterministic under any shuffle. Broadcast bytes still carry all
    * nlist centroids (same as the flat assign) — the COMPUTE, not the
    * bytes, is what this shape fixes; at extreme nlist (~10^7, where
    * one bundle row would be multi-GB) use
    * [[assignCellsHierarchicalSharded]], which shards the super→cells
    * map one row per super and never broadcasts anything nlist-sized
    * (hash parity pinned by HierarchicalAssignSpec).
    *
    * wSuper = nSuper degenerates to an exhaustive search over every
    * cell and is EXACTLY [[assignCells]] (same fold arithmetic, same
    * tie order — HierarchicalAssignSpec pins the bit-equality); small
    * wSuper is the standard IVF-build approximation (a vector lands
    * in the best cell of its wSuper nearest super-regions). Output:
    * all `df` columns + `cell` (long; null iff every probed super is
    * empty — unless `exhaustiveFallback`, which resolves exactly
    * those rows with a per-row fold over ALL cells (the flat-assign
    * arithmetic, still zero shuffle: the bundle's cmap already holds
    * every cell) so an index BUILD never emits a null cell that
    * would otherwise flow into [[ivfCentroids]] as a phantom
    * null-centroid row occupying an nprobe routing slot at serve
    * time). */
  def assignCellsHierarchical(df: DataFrame, idCol: String,
                              centroids: DataFrame, nSuper: Int,
                              wSuper: Int = 1, iters: Int = 1,
                              exhaustiveFallback: Boolean = false): DataFrame = {
    val (sc, c2g) = superQuantizer(centroids, nSuper, iters)
    // one-row search bundle: gs = supers sorted by g (with norms),
    // cmap = super -> its cells (each with a precomputed norm)
    val gsRow = sc.select(struct(col("g"), col("gv"),
        sqrt(dotD(col("gv"), col("gv"))).as("gn")).as("s"))
      .agg(array_sort(collect_list(col("s"))).as("gs"))
    val cmapRow = centroids.join(c2g, "cell")
      .select(col("g"), struct(col("cell").cast("long").as("cell"), col("cv"),
        sqrt(dotD(col("cv"), col("cv"))).as("cn")).as("s"))
      .groupBy("g").agg(array_sort(collect_list(col("s"))).as("cells"))
      .agg(map_from_entries(collect_list(struct(col("g"), col("cells")))).as("cmap"))
    // ONE ROW holding the whole search structure — localized to a
    // plan leaf so (a) the assignment plan over the corpus is
    // literally exchange-free (the quantizer's own tiny aggregations
    // run once, eagerly, over index metadata) and (b) multi-consumer
    // lineages (Lloyd rounds) never re-run the quantizer
    val bundle = graft.ops.Materialize.localize(gsRow.crossJoin(cmapRow))
    val out = df.columns.map(col) :+ col("__best.cell").as("cell")
    val scored = df.withColumn("__emb", col("embedding"))
      .withColumn("__nm", norm(col("embedding")))
      .crossJoin(broadcast(bundle))
      // level 1: top-wSuper supers by (cos desc, g asc) via a struct
      // sort of (-cos, g) — a per-row array of nSuper scored entries
      .withColumn("__topg", hierTopG(wSuper))
      // level 2: argmax over the probed supers' cells — a single
      // order-independent fold; empty/missing supers are filtered,
      // not null-poisoned
      .withColumn("__best0", hierBestOver(
        flatten(filter(transform(col("__topg"), t => element_at(col("cmap"), t("g"))),
          a => a.isNotNull))))
    val resolved =
      if (exhaustiveFallback)
        // a vector whose every probed super owns zero cells falls
        // back to the fold over ALL cells — same arithmetic and tie
        // order as [[assignCells]], still a pure per-row expression
        scored.withColumn("__best",
          when(col("__best0.cell").isNotNull, col("__best0"))
            .otherwise(hierBestOver(flatten(map_values(col("cmap"))))))
      else scored.withColumn("__best", col("__best0"))
    resolved.select(out: _*)
  }

  /** Sequential-fold cosine of `__emb` against a bundle entry's
    * vector — routed through the native codegen'd [[dotD]] expression
    * (r17, same move as the dotD/assignCells hot loops): identical
    * left-to-right fold and cast order as the interpreted
    * `aggregate(zip_with(...))` spelling it replaced (the spec-side
    * `VectorReference.dotHof` is the semantic reference), so scores
    * are bit-identical doubles. Shared by the one-bundle-row and
    * sharded assignment paths so their score expressions stay
    * structurally identical. The outer
    * transform/argmax folds remain Catalyst HOFs (they iterate index
    * metadata — nSuper or a super's cells — per row); the O(dims)
    * inner product they evaluate per entry is what moved to a native
    * tight loop. */
  private def hierCos(vec: Column, nrm: Column): Column =
    dotD(col("__emb"), vec) / (col("__nm") * nrm)

  /** Level 1: top-wSuper supers of the `gs` array by (cos desc, g
    * asc) via a struct sort of (-cos, g). */
  private def hierTopG(wSuper: Int): Column =
    slice(array_sort(transform(col("gs"), s =>
      struct((-hierCos(s("gv"), s("gn"))).as("negc"), s("g").as("g")))),
      1, wSuper)

  /** Argmax fold with the (cos desc, cell asc) total order over a
    * cell-struct array expression — the level-2 pass, the exhaustive
    * fallback, and the sharded per-shard pass all reuse it. */
  private def hierBestOver(cells: Column): Column =
    aggregate(
      transform(cells, c => struct(
        hierCos(c("cv"), c("cn")).cast("double").as("cos"),
        c("cell").as("cell"))),
      struct(lit(-2.0).cast("double").as("cos"),
        lit(null).cast("bigint").as("cell")),
      (acc, s) => when(acc("cell").isNull || s("cos") > acc("cos") ||
        (s("cos") === acc("cos") && s("cell") < acc("cell")), s)
        .otherwise(acc))

  /** SHARDED two-level assignment — [[assignCellsHierarchical]] for
    * the EXTREME-nlist regime its scaladoc names: the one-row bundle
    * carries all nlist centroids through the broadcast, which is
    * index metadata at every measured rung (3,125 cells = single-MB)
    * but a real bound at nlist ~10^7 (a multi-GB single row). Here
    * the super→cells map is sharded ONE ROW PER SUPER (the finest
    * B = nSuper sharding): only the nSuper super-centroids ride a
    * broadcast, and each vector meets exactly its wSuper probed
    * supers' shards through a (g = shard key) equi-join — nothing
    * nlist-sized is ever broadcast.
    *
    * Cost shape vs the bundle path: level 1 stays a pure map (the
    * nSuper-row `gs` broadcast); level 2 explodes each vector to its
    * wSuper probed supers and shuffles those rows by g (corpus ×
    * wSuper rows on the wire — the price of not broadcasting nlist
    * centroids), scores each super's shard with the SAME per-row
    * argmax fold, then reduces to one winner per vector through
    * TopKPerKey partial heaps under the same (cos desc, cell asc)
    * total order. Scores are character-identical expressions over
    * identical doubles, and per-super argmax then cross-super argmax
    * under one total order equals the single global fold —
    * HierarchicalAssignSpec pins the hash parity sharded-vs-not.
    * Output: all `df` columns + `cell` (null iff every probed super
    * is empty, as the bundle path — `exhaustiveFallback` resolves
    * exactly those rows by re-probing ALL supers, the sharded
    * spelling of the bundle path's all-cells fold, so an index BUILD
    * never emits a null cell; when no super owns zero cells the
    * guard short-circuits on two index-metadata counts and adds no
    * work, otherwise the null rows cost a second pass over the
    * assignment lineage — callers in that regime should leafCache
    * `df` first).
    *
    * UNIQUE-ID REQUIREMENT: the cross-super winner reduces through a
    * per-`idCol` heap, so rows sharing an id collapse to ONE output
    * row — unlike the bundle path, a pure per-row expression with no
    * such constraint. Callers with non-unique ids (re-crawled
    * corpora, multi-version frames) must dedup or synthesize a
    * unique key first; every in-repo caller assigns a stored corpus
    * whose id is the primary key. */
  def assignCellsHierarchicalSharded(df: DataFrame, idCol: String,
                                     centroids: DataFrame, nSuper: Int,
                                     wSuper: Int = 1, iters: Int = 1,
                                     exhaustiveFallback: Boolean = false): DataFrame = {
    val (sc, c2g) = superQuantizer(centroids, nSuper, iters)
    // index-metadata frames localized to plan leaves ONCE (shared by
    // the main pass and any fallback pass): the quantizer's
    // aggregations run once (not per consumer), and the corpus-side
    // plan never shares lineage with the centroid side (centroids
    // often derive from df — the self-join trap)
    val gsLeaf = graft.ops.Materialize.localize(
      sc.select(struct(col("g"), col("gv"),
          sqrt(dotD(col("gv"), col("gv"))).as("gn")).as("s"))
        .agg(array_sort(collect_list(col("s"))).as("gs")))
    // one shard row per super: that super's cells with precomputed
    // norms — same struct layout and array_sort as the bundle's cmap
    // entries, so the per-shard fold sees the same array
    val shards = graft.ops.Materialize.localize(
      centroids.join(c2g, "cell")
        .select(col("g").as("__sg"), struct(col("cell").cast("long").as("cell"),
          col("cv"), sqrt(dotD(col("cv"), col("cv"))).as("cn")).as("s"))
        .groupBy("__sg").agg(array_sort(collect_list(col("s"))).as("cells")))

    def pass(in: DataFrame, w: Int): DataFrame = {
      val probed = in.withColumn("__emb", col("embedding"))
        .withColumn("__nm", norm(col("embedding")))
        .crossJoin(broadcast(gsLeaf))
        .withColumn("__topg", hierTopG(w))
        .drop("gs")
        // one row per (vector, probed super) — the shard-join
        // fan-out. OUTER explode: a row whose probed-super array is
        // empty (wSuper = 0, an empty supers frame) survives as one
        // null-__g row and exits with a null cell, matching the
        // bundle path's contract — a plain explode would DROP it
        // from the output entirely
        .withColumn("__g", explode_outer(expr("transform(__topg, t -> t.g)")))
      // left join: a probed super owning zero cells contributes a
      // null shard (ranked last below), preserving the bundle path's
      // null-iff-all-probed-supers-empty contract
      val joined = probed.join(shards, probed("__g") === shards("__sg"), "left")
        .withColumn("__best0", hierBestOver(col("cells")))
      val out = in.columns.map(col) :+ col("__best0.cell").as("cell")
      // cross-super winner per vector through bounded heaps — one row
      // per (vector, partition) on the wire, same total order as the
      // bundle path's single fold; null-scored rows (empty shards)
      // rank last so they win only when EVERY probed super is empty
      graft.plans.TopKPerKey.topK(joined, Seq(col(idCol)),
          Seq(col("__best0.cos").desc_nulls_last,
            asc_nulls_last("__best0.cell")), 1)
        .select(out: _*)
    }

    if (!exhaustiveFallback) pass(df, wSuper)
    // wSuper <= 0 probes nothing: EVERY row falls back — probing all
    // supers IS the exhaustive all-cells fold (per-super then
    // cross-super argmax under one total order = the global argmax)
    else if (wSuper <= 0) pass(df, nSuper)
    else {
      // a null cell requires a probed super owning zero cells, which
      // is knowable INDEX-side: a supers row with no shard. Both
      // counts are metadata-scale (local leaves)
      val anyEmptySuper = sc.count() > shards.count()
      if (!anyEmptySuper) pass(df, wSuper)
      else {
        val assigned = pass(df, wSuper)
        assigned.filter(col("cell").isNotNull).unionByName(
          pass(assigned.filter(col("cell").isNull).drop("cell"), nSuper))
      }
    }
  }

  /** Default crossover for [[assignCellsHierarchicalAuto]]: the
    * bundle row's estimated size above which the sharded shape is
    * chosen. 512 MB ≈ 10^6 cells at 64 double dims (~544 bytes per
    * cell struct incl. norms and array overhead) — the documented
    * crossover (SCALE.md: one-row bundle to ~10^6 cells, sharded
    * beyond); a multi-GB single broadcast row is where the bundle
    * path's shape breaks, well before executor memory does. */
  val BundleMaxBytes: Long = 512L * 1024 * 1024

  /** Regime auto-dispatch between the two hierarchical assignment
    * shapes — so the extreme-nlist regime cannot be mis-shaped by a
    * default: estimate the one-row search bundle's bytes as
    * nlist × (dims × 8 + 32) and pick [[assignCellsHierarchical]]
    * (zero-shuffle per-row folds; broadcast carries all nlist
    * centroids) under `bundleMaxBytes`, else
    * [[assignCellsHierarchicalSharded]] (nothing nlist-sized ever
    * broadcast; corpus × wSuper rows shuffle by super instead). The
    * two paths are hash-identical (HierarchicalAssignSpec pins parity
    * across the threshold), so the dispatch changes cost shape only.
    *
    * `knownNlist` / `knownDims` skip the estimate's eager
    * index-metadata probe when the caller already holds them
    * ([[ivfBuildHierarchical]] does — its Lloyd loop must not fire a
    * probe job per round); -1 (default) probes `centroids` once
    * (count + max cv length — nlist rows). The sharded side inherits
    * the UNIQUE-ID REQUIREMENT of its scaladoc. */
  def assignCellsHierarchicalAuto(df: DataFrame, idCol: String,
                                  centroids: DataFrame, nSuper: Int,
                                  wSuper: Int = 1, iters: Int = 1,
                                  exhaustiveFallback: Boolean = false,
                                  bundleMaxBytes: Long = BundleMaxBytes,
                                  knownNlist: Long = -1L,
                                  knownDims: Int = -1): DataFrame = {
    val (nlist, dims) =
      if (knownNlist >= 0 && knownDims >= 0) (knownNlist, knownDims.toLong)
      else {
        val row = centroids.agg(count(lit(1)), max(size(col("cv")))).head()
        val d = row.get(1) match { case n: Int => n.toLong; case _ => 0L }
        (row.getLong(0), d)
      }
    val estBytes = nlist * (dims * 8L + 32L)
    if (estBytes <= bundleMaxBytes)
      assignCellsHierarchical(df, idCol, centroids, nSuper, wSuper, iters,
        exhaustiveFallback)
    else
      assignCellsHierarchicalSharded(df, idCol, centroids, nSuper, wSuper,
        iters, exhaustiveFallback)
  }

  /** Full IVF index BUILD for the nlist ∝ N regime: md5-ranked seed
    * centroids, `lloydIters` rounds of hierarchical assignment +
    * integer-quantized means (centroids localized to a plan leaf
    * between rounds — the Lloyd-checkpoint discipline), then the
    * final hierarchical assignment. Returns (indexed = df + cell,
    * centroids (cell, cv)) — the two frames a deployment STORES; a
    * query batch then calls [[ivfAnn]] with `centroids = Some(...)`
    * over the indexed corpus and never re-derives anything. */
  def ivfBuildHierarchical(df: DataFrame, idCol: String, nlist: Int,
                           nSuper: Int, wSuper: Int = 1,
                           lloydIters: Int = 1): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // one dims probe for the whole build: every Lloyd round's regime
    // dispatch reuses it (knownNlist/knownDims — no per-round probe)
    val dims = embeddingDims(df)
    val seedRank = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val cents0 = df.select(col(idCol), col("embedding"), seedRank.as("__h"))
      .orderBy(col("__h"), col(idCol)).limit(nlist)
      .withColumn("cell", row_number().over(Window.orderBy(col("__h"), col(idCol))) - 1)
      .select(col("cell").cast("long").as("cell"),
        transform(col("embedding"), _.cast("double")).as("cv"))
    // regime auto-dispatch (bundle vs sharded by nlist × dims bytes)
    // so an extreme-nlist build cannot broadcast a multi-GB bundle
    // row by default; exhaustiveFallback: a vector whose probed
    // supers own zero cells gets the flat-assign fold instead of a
    // null cell — a null here would flow into ivfCentroids as a
    // phantom null-centroid row and occupy an nprobe routing slot at
    // serve time while matching no candidate in the cell equi-join
    def assign(c: DataFrame): DataFrame =
      assignCellsHierarchicalAuto(df, idCol, c, nSuper, wSuper,
        exhaustiveFallback = true, knownNlist = nlist.toLong, knownDims = dims)
    val cents = (1 to lloydIters).foldLeft(cents0) { (c, i) =>
      val next = ivfCentroids(assign(c), "cell")
      if (i < lloydIters) graft.ops.Materialize.localize(next) else next
    }
    val centsLeaf = graft.ops.Materialize.localize(cents)
    (assign(centsLeaf), centsLeaf)
  }

  /** Deterministic Lloyd's k-means over the embedding column — the
    * IVF index BUILD step (ivfAnn consumes the produced cell column;
    * previously the coarse partitioning was assumed given).
    *
    * Every step is engine-shaped and replayable:
    *   - seeds: the k vectors with the smallest md5-derived rank of
    *     their id (TakeOrderedAndProject — no global sort), cells
    *     numbered 0..k-1 in that order;
    *   - assign: nearest centroid by cosine (sequential-fold dot
    *     products, ties broken by cell id), centroids broadcast —
    *     a k-way scored projection, never an N^2 join;
    *   - update: integer-quantized per-dimension means (exact int64
    *     sums — order-independent under any shuffle).
    * `iters` Lloyd rounds, then the final assignment. For iters > 1
    * each round's centroid frame (k rows) is localized into a plan
    * LEAF ([[graft.ops.Materialize.localize]]) so the lazy plan stays
    * FLAT in iters instead of nesting every previous round's assign +
    * update under the next (each extra round would otherwise re-plan
    * — and on multi-consumer lineages re-run — all earlier rounds);
    * iters = 1 keeps the fully lazy single-round plan the catalog
    * oracles replay. KmeansLloydSpec pins both: hash parity with the
    * unlocalized fold and plan size flat in iters. */
  def kmeansCells(df: DataFrame, idCol: String, k: Int, iters: Int = 1): DataFrame =
    kmeansCellsImpl(df, idCol, k, iters, checkpointRounds = true)

  private[graft] def kmeansCellsImpl(df: DataFrame, idCol: String, k: Int,
                                     iters: Int, checkpointRounds: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seedRank = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val seeds = df.select(col(idCol), col("embedding"), seedRank.as("__h"))
      .orderBy(col("__h"), col(idCol)).limit(k)
    // bounded global window: `seeds` is post-limit(k) — k rows total,
    // never data-sized (the corpus-sized ranks all use DistributedRank)
    val cents0 = seeds
      .withColumn("cell", row_number().over(Window.orderBy(col("__h"), col(idCol))) - 1)
      .select(col("cell"), transform(col("embedding"), _.cast("double")).as("cv"))

    // assignment that KEEPS the vector: TopKPerKey carries the whole
    // row through its heaps, so the means update needs no join back
    // to df on the id — the earlier `df.join(assigned, idCol)` was a
    // corpus-sized self-join (two exchanges at scale) re-attaching a
    // column the assignment never had to drop
    def assignFull(cents: DataFrame): DataFrame = {
      val scored = df.select(col(idCol), col("embedding"),
          norm(col("embedding")).as("__nm"))
        .crossJoin(broadcast(cents))
        .withColumn("__ccos", dotD(col("embedding"), col("cv")) /
          (col("__nm") * sqrt(dotD(col("cv"), col("cv")))))
      graft.plans.TopKPerKey.topK(scored,
          Seq(col(idCol)), Seq(col("__ccos").desc, col("cell")), 1)
        .select(col(idCol), col("embedding"), col("cell"))
    }

    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xi", round(col("x").cast("double") * 1e6).cast("long"))
        .groupBy("cell", "dim")
        .agg((sum(col("xi")).cast("double") / count(lit(1)) / 1e6).as("c"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))

    val finalCents = (1 to iters).foldLeft(cents0) { (c, i) =>
      val next = update(assignFull(c))
      // k-row centroid frame -> plan leaf between rounds (never the
      // last round: the final assign's single round stays lazy)
      if (checkpointRounds && i < iters) graft.ops.Materialize.localize(next)
      else next
    }
    assignFull(finalCents).select(col(idCol), col("cell"))
  }

  /** Product-quantization codebook build + encode (Jégou et al. 2011,
    * the compression behind IVF-PQ — the index structure corpus-scale
    * ANN actually ships): the embedding is cut into `m` contiguous
    * subvectors and each subspace gets its own tiny k-means codebook
    * (`ksub` centroids, `iters` Lloyd rounds); a vector's code is its
    * nearest centroid PER SUBSPACE — m small ints instead of `dims`
    * floats (64 dims -> 4 bytes at m=4/ksub<=256).
    *
    * All m subspace k-means run in ONE plan: subspaces are exploded
    * as (id, mi, sv) rows and every k-means step carries `mi` in its
    * keys — same deterministic machinery as [[kmeansCells]] (shared
    * md5-ranked seed ids, squared-L2 assignment d2 = s.s - 2 s.c + c.c
    * with cell tie-break, integer-quantized centroid means).
    * Returns (codes (id, mi, code), codebooks (mi, cell, cv)). For
    * iters > 1 the m×ksub-row codebook frame is localized into a plan
    * leaf between rounds (the [[kmeansCells]] Lloyd-checkpoint
    * discipline) so the lazy plan stays flat in iters. */
  def pqCodes(df: DataFrame, idCol: String, m: Int, ksub: Int,
              iters: Int = 1): (DataFrame, DataFrame) =
    pqCodesImpl(df, idCol, m, ksub, iters, checkpointRounds = true)

  private[graft] def pqCodesImpl(df: DataFrame, idCol: String, m: Int, ksub: Int,
                                 iters: Int, checkpointRounds: Boolean): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val dims = embeddingDims(df)
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val dsub = dims / m
    val sub = df.select(col(idCol),
      posexplode(subvectors(col("embedding"), m, lit(dsub))).as(Seq("mi", "sv")))
    val seedRank = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val seeds = df.select(col(idCol), seedRank.as("__h"))
      .orderBy(col("__h"), col(idCol)).limit(ksub)
      // bounded global window over the post-limit(ksub) seed rows only
      .withColumn("cell", row_number().over(Window.orderBy(col("__h"), col(idCol))) - 1)
      .select(col(idCol), col("cell"))
    val cents0 = sub.join(seeds, idCol).select(col("mi"), col("cell"), col("sv").as("cv"))

    // per-(id, mi) argmin through TopKPerKey partial heaps (the
    // assignCells note): the exchange carries one row per (id, mi)
    // instead of ksub — and it KEEPS the subvector, so the means
    // update needs no N×m join back to `sub`
    def assignFull(cents: DataFrame): DataFrame = {
      val d2 = dotD(col("sv"), col("sv")) - lit(2.0) * dotD(col("sv"), col("cv")) +
        dotD(col("cv"), col("cv"))
      val scored = sub.join(broadcast(cents), Seq("mi"))
        .withColumn("__d2", d2)
      graft.plans.TopKPerKey.topK(scored,
          Seq(col(idCol), col("mi")), Seq(col("__d2"), col("cell")), 1)
        .select(col(idCol), col("mi"), col("sv"), col("cell"))
    }

    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("mi"), col("cell"), posexplode(col("sv")).as(Seq("dim", "x")))
        .withColumn("xi", round(col("x") * 1e6).cast("long"))
        .groupBy("mi", "cell", "dim")
        .agg((sum(col("xi")).cast("double") / count(lit(1)) / 1e6).as("c"))
        .groupBy("mi", "cell")
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))

    val cents = (1 to iters).foldLeft(cents0) { (c, i) =>
      val next = update(assignFull(c))
      if (checkpointRounds && i < iters) graft.ops.Materialize.localize(next)
      else next
    }
    (assignFull(cents).select(col(idCol), col("mi"), col("cell").as("code")), cents)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each probe
    * precomputes one inner-product LOOKUP TABLE per subspace (qsub .
    * centroid for every (mi, cell) — nq x m x ksub tiny rows,
    * broadcast), and a candidate's approximate inner product is the
    * sum of m table lookups joined on (mi, code) — the PQ promise:
    * scoring touches only the codes, never the original vectors.
    * Table entries are quantized to int64 (round(ip * 1e6)) so the
    * m-way sum is exact integer arithmetic — order-independent under
    * any shuffle, bit-replayable by the oracle. Rank by (adc desc,
    * candidate id). */
  def pqAdcTopK(probes: DataFrame, codes: DataFrame, codebooks: DataFrame,
                idCol: String, m: Int, k: Int): DataFrame = {
    val dtab = probeSubvectors(probes, idCol, m).join(broadcast(codebooks), Seq("mi"))
      .select(col("q_id"), col("mi"), col("cell").as("code"),
        round(dotD(col("qv"), col("cv")) * 1e6).cast("long").as("si"))
    val adc = codes.select(col(idCol).as("c_id"), col("mi"), col("code"))
      .join(broadcast(dtab), Seq("mi", "code"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id")
      .agg((sum(col("si")).cast("double") / 1e6).as("adc"))
    // final ranking through partial heaps (rankTopK): flat ADC scores
    // every code, so the grouped frame is nq × N rows — the window
    // form exchanged and fully sorted all of them (37M rows at sf1)
    // to keep k per probe
    rankTopK(adc, "adc", k, Seq("q_id", "c_id", "rank", "adc"))
  }

  /** The full PQ serving pattern: a cheap code-only ADC SHORTLIST
    * (`shortlist` candidates per probe — never touches vectors), then
    * an exact cosine re-rank of just the shortlist (the IVF-PQ
    * "refine" step every production ANN service runs). ADC alone is
    * deliberately lossy — the refine join touches `shortlist` vectors
    * per probe instead of N, which is the entire economy at
    * billion-vector scale. One lazy query: under the probe gate the
    * refine streams the corpus map-side through the broadcast
    * shortlist ([[refineShortlist]]) — without the hint, the "touch
    * shortlist vectors instead of N" promise silently becomes
    * "shuffle all N on the id" the moment the optimizer stops
    * auto-broadcasting. */
  def pqRefinedTopK(probes: DataFrame, candidates: DataFrame, codes: DataFrame,
                    codebooks: DataFrame, idCol: String, m: Int, k: Int,
                    shortlist: Int = 50,
                    probeBroadcastMax: Long = 10000L): DataFrame = {
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    refineShortlist(batch,
      pqAdcTopK(batch, codes, codebooks, idCol, m, shortlist).select("q_id", "c_id"),
      candidates, idCol, k, smallProbes)
  }

  /** The exact-cosine REFINE stage shared by [[pqRefinedTopK]],
    * [[pqServeTopK]] and [[ivfPqTopK]]: re-rank the (q_id, c_id)
    * `short` pairs by true cosine and keep the top `k` per probe.
    * Under the probe gate (`smallProbes`) the corpus embedding
    * relation STREAMS through two broadcast hash joins — the shortlist
    * on c_id, then the probe vectors on q_id — so only shortlist
    * vectors survive the scan, the corpus never crosses the wire, and
    * the shortlist is referenced once: its ADC pass runs once, inside
    * the same query, with no driver round trip. Over the budget the
    * hints drop and the planner picks the joins. Candidate norms are
    * taken after the joins, over shortlist pairs only. */
  private def refineShortlist(probes: DataFrame, short: DataFrame,
                              candidates: DataFrame, idCol: String, k: Int,
                              smallProbes: Boolean): DataFrame = {
    def hint(df: DataFrame) = if (smallProbes) broadcast(df) else df
    val p = probes.select(col(idCol).as("q_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val c = candidates.select(col(idCol).as("c_id"), col("embedding").as("cv"))
    val scored = c.join(hint(short), "c_id").join(hint(p), "q_id")
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), norm(col("cv"))))
    // rankTopK: the refine set is probes × shortlist — bounded, but
    // under Auto the shortlist is nprobe-cell-sized, and the heaps
    // trim it to k per partition before any exchange
    rankTopK(scored, "cos", k, Seq("q_id", "c_id", "rank", "cos"))
  }

  /** Pack the (id, mi, code) PQ code rows into ONE ROW PER VECTOR —
    * (idCol, codes array<int> indexed by subspace) — the storage
    * layout the SERVING scan wants: a candidate's m code rows are
    * co-located by construction, so ADC scoring becomes a pure
    * per-row expression with NO (mi, code) join and NO (q_id, c_id)
    * re-aggregation shuffle (the unpacked layout shuffles nq × N
    * grouped rows — corpus-linear bytes for a fixed probe batch).
    * Run once at index-build time and stored with the codebooks. */
  def pqCodesPacked(codes: DataFrame, idCol: String): DataFrame =
    codes.groupBy(col(idCol))
      .agg(expr("transform(array_sort(collect_list(struct(mi, code))), s -> s.code)")
        .as("codes"))

  /** Asymmetric-distance top-k over PACKED codes — the serving form
    * of [[pqAdcTopK]] (bit-identical results; PqServeSpec pins the
    * parity). Each probe's per-subspace lookup table is flattened to
    * a map keyed mi·ksub+code and broadcast as one row per probe
    * ([[probeLuts]]); scoring is then a per-candidate-row integer sum
    * of m map lookups ([[adcSum]]) — a pure MAP over the code scan.
    * The per-probe top-k runs through [[graft.plans.TopKPerKey]]
    * (bounded heaps per input partition), so the only shuffle carries
    * AT MOST k rows per (probe, partition) — bytes on the wire are
    * bounded by the SHORTLIST, not the corpus, which is the measurable
    * difference from the unpacked form's nq × N grouped-row exchange. */
  def pqAdcTopKPacked(probes: DataFrame, packedCodes: DataFrame,
                      codebooks: DataFrame, idCol: String, m: Int, ksub: Int,
                      k: Int): DataFrame = {
    val scored = packedCodes.select(col(idCol).as("c_id"), col("codes"))
      .crossJoin(broadcast(probeLuts(probes, codebooks, idCol, m, ksub)))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adci", adcSum(m, ksub))
    val top = graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
      Seq(col("adci").desc, col("c_id")), k)
    // rank over the already-reduced nq × k rows (bounded window)
    val w = Window.partitionBy(col("q_id")).orderBy(col("adci").desc, col("c_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("q_id"), col("c_id"), col("rank"),
        (col("adci").cast("double") / 1e6).as("adc"))
  }

  /** The full PQ SERVING entry point over a STORED index: packed-code
    * ADC shortlist ([[pqAdcTopKPacked]] — map-only scoring, shuffle
    * bounded by shortlist × partitions) + exact cosine refine of just
    * the shortlist vectors ([[refineShortlist]], in the same lazy
    * query). Same results as [[pqRefinedTopK]] over the unpacked
    * codes; the difference is the wire: this shape's bytes stay flat
    * as the corpus grows (the ScaleDecade q128_pq_serve row measures
    * it), which is the serving posture for a standing corpus. A batch
    * whose row bound decides the probe gate ([[probeBatch]]) is served
    * from one partition, so its LUT aggregate plans no exchange.
    *
    * `shortlist = Auto` applies the [[servingKnobs]] law literally:
    * flat PQ scores EVERY code, so the 20%-of-scored-set rule makes
    * the derived shortlist corpus-proportional (one eager count of
    * `packedCodes`) — which is the law saying flat PQ does not scale;
    * a standing corpus serves through [[ivfPqTopK]], whose Auto
    * shortlist is bounded by the probed cells instead. */
  def pqServeTopK(probes: DataFrame, candidates: DataFrame,
                  packedCodes: DataFrame, codebooks: DataFrame, idCol: String,
                  m: Int, ksub: Int, k: Int, shortlist: Int = 50,
                  probeBroadcastMax: Long = 10000L): DataFrame = {
    val sl =
      if (shortlist == Auto)
        math.max(k.toLong, math.ceil(0.2 * packedCodes.count()).toLong).toInt
      else shortlist
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    refineShortlist(batch,
      pqAdcTopKPacked(batch, packedCodes, codebooks, idCol, m, ksub, sl)
        .select("q_id", "c_id"),
      candidates, idCol, k, smallProbes)
  }

  /** The FULL IVF-PQ serving stack (Jégou et al. 2011 — the index
    * layout billion-vector ANN actually ships): the coarse quantizer
    * restricts each probe to its `nprobe` nearest cells, PQ-ADC
    * scores only THOSE cells' packed codes (a per-row integer sum —
    * the codes of unprobed cells are filtered map-side by the
    * broadcast probe→cell frame, never scanned into a shuffle), and
    * the exact-cosine refine re-ranks the shortlist. This composes
    * the two economies the family's decade rows measure separately:
    * IVF cuts the SCORED SET from N to nprobe × cell size, PQ cuts
    * the per-candidate cost from a d-dim vector read to m map
    * lookups, and the refine touches `shortlist` true vectors per
    * probe. `packedIndex` is the stored artifact (idCol, cell, codes)
    * — the cell column rides WITH the codes precisely so serving
    * never joins codes back to the corpus on the id; `centroids` is
    * the stored [[ivfCentroids]] table. All exchanges are bounded:
    * probe routing, shortlist and refine run through TopKPerKey heaps.
    * The probe routing and the per-probe ADC lookup tables are joined
    * on q_id into ONE (q_id, cell, lut) frame; under the probe gate
    * that frame, the shortlist and the probe vectors are broadcast.
    *
    * ONE LAZY QUERY, ONE PROBE STAGE: with explicit knobs nothing runs
    * at construction when the probe plan's row bound decides the gate
    * (a batch of driver-side rows — the serving shape; [[probeBatch]]).
    * The batch is then planned in one partition, so the routing heaps,
    * the LUT aggregate and their join need no exchange, and the
    * (q_id, cell, lut) frame's broadcast onto the packed-code scan is
    * the probe side's only exchange: the final plan keeps two q_id
    * hash exchanges, the shortlist's and the refine's. A counted probe
    * frame (no static bound) is counted once and keeps its own
    * partitioning; its routing and LUTs then exchange on q_id and join
    * co-partitioned. The batch's single action runs routing, ADC,
    * shortlist and refine in one SQL execution.
    *
    * `nprobe = Auto` / `shortlist = Auto` derive the serve knobs from
    * the STORED index via [[servingKnobs]] — nprobe ≈ 10% of nlist,
    * shortlist ≈ 20% of the ADC-scored set (nprobe × mean cell size) —
    * the measured scale law that holds recall ≥ 0.9 across a corpus
    * decade where the historical literal defaults (2 / 50) lose 0.22
    * recall. Resolution costs two eager index-metadata counts
    * (centroid rows; packed-code rows — a column-pruned parquet
    * count), fired only on the Auto path. */
  def ivfPqTopK(probes: DataFrame, candidates: DataFrame,
                centroids: DataFrame, packedIndex: DataFrame,
                codebooks: DataFrame, idCol: String, m: Int, ksub: Int,
                k: Int, nprobe: Int = 2, shortlist: Int = 50,
                probeBroadcastMax: Long = 10000L): DataFrame = {
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    val (np, sl) =
      if (nprobe == Auto || shortlist == Auto) {
        val nlist = math.max(1L, centroids.count())
        val cellSize = (packedIndex.count() + nlist - 1L) / nlist
        val (autoNp, autoSl) = servingKnobs(nlist, k, cellSize)
        (if (nprobe == Auto) autoNp else nprobe,
          if (shortlist == Auto) autoSl else shortlist)
      } else (nprobe, shortlist)
    val p = batch.select(col(idCol).as("q_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    // probe -> nprobe cells over the STORED centroid index (the
    // ivfAnn routing: bounded heaps, never a corpus-scan derivation)
    val pc = p.crossJoin(broadcast(centroids))
      .withColumn("__ccos", dotD(col("qv"), col("cv")) /
        (col("qn") * sqrt(dotD(col("cv"), col("cv")))))
    val probeCells = graft.plans.TopKPerKey.topK(pc,
        Seq(col("q_id")), Seq(col("__ccos").desc, col("cell")), np)
      .select(col("q_id"), col("cell"))
    // routing and LUTs as ONE (q_id, cell, lut) frame, joined where
    // the probes sit; ADC then scores ONLY the probed cells' codes,
    // restricted map-side against that one broadcast frame
    val routed = onProbe(probeCells, probeLuts(batch, codebooks, idCol, m, ksub),
      smallProbes)
    val scored = packedIndex
      .select(col(idCol).as("c_id"), col("cell"), col("codes"))
      .join(if (smallProbes) broadcast(routed) else routed, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("adci", adcSum(m, ksub))
    val short = graft.plans.TopKPerKey.topK(scored,
        Seq(col("q_id")), Seq(col("adci").desc, col("c_id")), sl)
      .select("q_id", "c_id")
    refineShortlist(batch, short, candidates, idCol, k, smallProbes)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x| / 127, codes = round-half-up(x / scale) in
    * [-127, 127] (the storage/serving compression every corpus-scale
    * vector store applies — 4x smaller than float32; dequantized dot
    * products differ by O(scale)). All column ops, exact double
    * arithmetic, oracle-replayable. Output: original columns +
    * `q_scale` (double) + `q_codes` (array<int>). */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("q_scale",
        aggregate(transform(col(embCol), x => abs(x.cast("double"))),
          lit(0.0), (m, v) => greatest(m, v)) / 127.0)
      .withColumn("q_codes",
        when(col("q_scale") === 0.0,
          transform(col(embCol), _ => lit(0)))
          .otherwise(transform(col(embCol),
            x => round(x.cast("double") / col("q_scale")).cast("int"))))

  /** Reconstruction: codes * scale (float32 round-trip not applied —
    * callers compare in double). */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** LSH-bucketed ANN: probes only scored against same-bucket
    * candidates. Smaller recall than brute force by construction;
    * rank/tie rules identical. */
  def lshAnn(probes: DataFrame, candidates: DataFrame, k: Int,
             nPlanes: Int = 8,
             probeBroadcastMax: Long = 10000L): DataFrame = {
    // id + vector + norm + bucket in ONE projection — the earlier
    // two-frame form joined each side back to its own lshBucket output
    // on the id, a corpus-sized self-join that shuffled the whole
    // candidate table before any probe touched it
    def bucketed(df: DataFrame, idAs: String, vAs: String,
                 nAs: String): DataFrame = {
      val dims = embeddingDims(df)
      if (dims <= 0)
        return df.select(col("vec_id").as(idAs), col("embedding").as(vAs),
          lit(0.0).as(nAs), lit(null).cast("long").as("bucket")).limit(0)
      val signs = Array.tabulate(nPlanes, dims)((j, kk) => planeSign(j, kk).toLong)
      df.select(col("vec_id").as(idAs), col("embedding").as(vAs),
        norm(col("embedding")).as(nAs),
        graft.functions.LshBucketExpr.bucket(col("embedding"), signs).as("bucket"))
    }
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    val p0 = bucketed(batch, "q_id", "qv", "qn")
    // probe broadcast gate (the ivfAnn serving-shape note): a
    // bounded probe side restricts the corpus MAP-SIDE; the corpus
    // never crosses the wire for a small query batch
    val p = if (smallProbes) broadcast(p0) else p0
    val c = bucketed(candidates, "c_id", "cv", "cn")
    val pairs = p.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    // rankTopK: bucket-colliding pairs are corpus-proportional for a
    // fixed probe batch; the heaps cut the rank exchange to k per
    // (probe, partition)
    rankTopK(pairs, "cos", k, Seq("q_id", "c_id", "bucket", "rank", "cos"))
  }

  /** Multi-table LSH ANN: `nTables` independent hyperplane sets, a
    * candidate is anyone sharing a bucket with the probe in ANY
    * table. The standard recall repair for random-hyperplane LSH — a
    * true neighbor with per-table collision probability p is missed
    * by all L tables with probability (1-p)^L, so recall rises
    * geometrically with L while the candidate set (the cost) only
    * grows linearly. Single-table recall on the planted-cluster spec
    * fixture is 0.31@10; four tables lift it past 0.85 at ~4x the
    * scored pairs (VectorGeoSpec asserts both).
    *
    * Scale shape: bucketing stays a pure per-row map (one literal
    * sign matrix per table); each table contributes one bucket
    * equi-join; the union dedups (q_id, c_id) BEFORE any cosine is
    * computed, so a pair colliding in several tables is scored once.
    * Every join key is (table, bucket) — hashed, never skewed beyond
    * the single-table bucket-size story.
    *
    * SERVING SHAPE (the ivfAnn note): with a bounded probe set
    * ([[probeBatch]] under `probeBroadcastMax`) every probe-derived side
    * carries an explicit broadcast hint, and the candidate-id set — counted
    * like [[graft.ops.dedup.Dedup.jaccardTextReleasable]]'s, under
    * `candBroadcastMax` — restricts the corpus embedding relation
    * map-side, so the CORPUS NEVER CROSSES THE WIRE: its scan feeds
    * only map-side band lookups and the broadcast semi-restriction.
    * The candidate count is an eager driver job (the jaccardTextReleasable
    * precedent), and so is the probe gate unless the probe plan's row
    * bound decides it; over budget the hints drop and the planner decides.
    * Relying on auto-broadcast instead inverts at scale: the decade
    * measurement saw the sf10 rung flip this join to sort-merge and
    * shuffle the whole corpus for 20 probes. */
  def lshAnnMulti(probes: DataFrame, candidates: DataFrame, k: Int,
                  nPlanes: Int = 8, nTables: Int = 4,
                  probeBroadcastMax: Long = 10000L,
                  candBroadcastMax: Long = 4000000L): DataFrame = {
    val (batch, smallProbes) = probeBatch(probes, probeBroadcastMax)
    // the dims probe is a driver-blocking job over each frame — run it
    // ONCE per frame here, not 2*nTables times inside lshBucket
    // (the round-6 advice: a 4-table index fired 8 redundant jobs)
    val pDims = embeddingDims(batch)
    val cDims = embeddingDims(candidates)
    val candPairs0 = (0 until nTables).map { t =>
      val pb0 = lshBucket(batch, "vec_id", nPlanes, t, pDims)
        .withColumnRenamed("vec_id", "q_id")
      val pb = if (smallProbes) broadcast(pb0) else pb0
      val cb = lshBucket(candidates, "vec_id", nPlanes, t, cDims)
        .withColumnRenamed("vec_id", "c_id")
      cb.join(pb, "bucket").select("q_id", "c_id")
    }.reduce(_ unionByName _)
      .filter(col("q_id") =!= col("c_id"))
      .distinct()
    // under the probe gate the candidate-generation job (nTables
    // bucket joins + a distinct over the corpus) is the expensive
    // pass, and as a lazy plan it would run THREE times — once for
    // the candIds gate count, once inside the broadcast(candIds)
    // subtree, once as the left side of the scoring join. Localize it:
    // probe-restricted, so bounded by probes × nTables × bucket
    // occupancy; the staging-dir path keeps it off the driver at
    // cluster scale.
    val candPairs =
      if (smallProbes) graft.ops.Materialize.localize(candPairs0) else candPairs0
    val p0 = batch.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val p = if (smallProbes) broadcast(p0) else p0
    val c0 = candidates.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val candIds = candPairs.select(col("c_id")).distinct()
    val c =
      if (smallProbes && candIds.count() <= candBroadcastMax)
        c0.join(broadcast(candIds), "c_id")
      else c0
    val pairs = candPairs.join(p, "q_id").join(c, "c_id")
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    // rankTopK: the multi-table candidate set grows linearly in
    // nTables; the heaps keep the rank exchange k-bounded regardless
    rankTopK(pairs, "cos", k, Seq("q_id", "c_id", "rank", "cos"))
  }
}
