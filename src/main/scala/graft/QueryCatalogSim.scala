package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.multimodal.MultimodalOps
import graft.ops.similarity.VectorOps

/** Similarity search over embeddings + multimodal column plumbing. */
object QueryCatalogSim {
  import QueryCatalog.Q

  /** Clip-corpus cap for the multimodal fixture family (q51/q52/q142/
    * q148/q196/q200/q202/q203/q205). The synthesized payloads are
    * derived from `documents` rows with doc_id below this cap, so the
    * family's input is CONSTANT across SF by default (200 clips) and
    * the sf1 hash sweep proves nothing for it. GRAFT_CLIP_CAP scales
    * the clip corpus (e.g. 20000 against a 50k-doc table) for the
    * SCALE.md closure runs — the SAME closed-form oracles hold at any
    * cap because every expectation is arithmetic in doc_id. Read once
    * at class load so `queries` and `oracleSql` always agree. */
  private[graft] val clipCap: Int = sys.env.get("GRAFT_CLIP_CAP")
    .flatMap(s => scala.util.Try(s.toInt).toOption)
    .filter(_ > 0).getOrElse(200)
  /** q52's tri-modal split keeps its historical 100-doc default and
    * scales at half the family cap. */
  private[graft] val clipCapHalf: Int = clipCap / 2

  /** Stored-index cache for the serving queries (q207/q208/q210):
    * the index artifact is built + written ONCE per (query, dataset)
    * per JVM and re-read on every later invocation — Bench reps 2+
    * time the SERVE path alone (the honest serving clock), and
    * repeated invocations stop leaking a fresh temp dir each rep.
    * The full build+write+read path is exercised by whichever
    * invocation is FIRST for the (query, dataset) key in the JVM —
    * the standalone Verify driver's run always is (its own JVM), but
    * a combined process that benches before verifying would leave
    * the hash gate covering the cached read path only. A failed
    * build installs no mapping and deletes its temp dir (no leak,
    * clean retry). */
  private val idxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedIndexDir(key: String)(build: String => Unit): String =
    idxCache.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_idx")
      try build(dir.toString)
      catch { case e: Throwable =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
        throw e
      }
      dir.toString
    })

  // ---------------------------------------------------------------- knn brute force
  /** Brute-force cosine top-5 (the correctness baseline for ANN). */
  val q45Knn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    VectorOps.bruteForceKnn(emb.filter(col("vec_id") < 20), emb, k = 5)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  private val q45Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |p AS (SELECT * FROM n WHERE vec_id < 20),
      |pr AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |              list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |       FROM p CROSS JOIN n c WHERE c.vec_id != p.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rank
      |      FROM pr)
      |SELECT q_id, c_id, rank, cos FROM r WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- lsh ann
  /** Random-hyperplane LSH ANN: bucket signatures from md5-derived
    * hyperplane signs over integer-quantized components; probes only
    * scored against same-bucket candidates (the scale path: bucket
    * equi-join instead of cross join). */
  val q46LshAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    VectorOps.lshAnn(emb.filter(col("vec_id") < 20), emb, k = 3, nPlanes = 8)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  private val q46Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT vec_id,
      |             generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(8)) AS j) j),
      |votes AS (SELECT vec_id, j, SUM(sgn * xi) AS vsum FROM pl GROUP BY 1, 2),
      |bk AS (SELECT vec_id,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1),
      |n AS (SELECT e.vec_id, v, sqrt(list_dot_product(v, v)) AS nm, bucket
      |      FROM e JOIN bk ON bk.vec_id = e.vec_id),
      |p AS (SELECT * FROM n WHERE vec_id < 20),
      |pr AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id, p.bucket AS bucket,
      |              list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |       FROM p JOIN n c ON c.bucket = p.bucket AND c.vec_id != p.vec_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rank
      |      FROM pr)
      |SELECT q_id, c_id, bucket, rank, cos FROM r WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- ivf ann
  /** IVF-style ANN: the label column is the coarse inverted-file
    * cell; integer-quantized centroids, nprobe=2 nearest cells per
    * probe, exact cosine only within those cells. The second named
    * scale path next to LSH (cell equi-join replaces cross join). */
  val q77IvfAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    VectorOps.ivfAnn(emb.filter(col("vec_id") < 20), emb, "label", k = 3, nprobe = 2)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  private val q77Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT label AS cell, generate_subscripts(v, 1) - 1 AS dim,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |comp AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2),
      |cent AS (SELECT cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1),
      |p AS (SELECT vec_id AS q_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      |      FROM e WHERE vec_id < 20),
      |pc AS (SELECT p.q_id, c.cell,
      |              list_dot_product(p.qv, c.cv) / (p.qn * sqrt(list_dot_product(c.cv, c.cv))) AS ccos
      |       FROM p CROSS JOIN cent c),
      |cells AS (SELECT q_id, cell FROM (
      |            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS crn
      |            FROM pc) WHERE crn <= 2),
      |cand AS (SELECT label AS cell, vec_id AS c_id, v AS cv2,
      |                sqrt(list_dot_product(v, v)) AS cn FROM e),
      |pr AS (SELECT p.q_id, c.c_id, c.cell,
      |              list_dot_product(p.qv, c.cv2) / (p.qn * c.cn) AS cos
      |       FROM p JOIN cells ON cells.q_id = p.q_id
      |       JOIN cand c ON c.cell = cells.cell AND c.c_id != p.q_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rank
      |      FROM pr)
      |SELECT q_id, c_id, cell, rank, cos FROM r WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- ivf serve (stored index)
  /** q77's SERVING twin: the centroid table is built ONCE
    * ([[VectorOps.ivfCentroids]]), stored as a parquet index
    * artifact, and the query batch consumes the STORED index — the
    * serve plan contains no corpus-scan centroid re-derivation
    * (PlanQualitySpec pins it: no Generate node, no corpus exchange).
    * Results are identical to q77 by construction (the stored
    * centroids ARE the derived ones — parquet round-trips doubles
    * exactly), so the oracle replays the same SQL; what this entry
    * hash-gates is the stored-index code path itself. */
  val q207IvfServe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val idxDir = cachedIndexDir(s"q207|$d") { dir =>
      VectorOps.ivfCentroids(emb, "label").write.mode("overwrite").parquet(dir)
    }
    VectorOps.ivfAnn(emb.filter(col("vec_id") < 20), emb, "label", k = 3,
        nprobe = 2, centroids = Some(s.read.parquet(idxDir)))
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------- pq serve (packed codes)
  /** q128's SERVING twin over the PACKED code layout: codes and
    * codebooks are built once, the codes packed to one row per
    * vector ([[VectorOps.pqCodesPacked]]) and stored; ADC scoring is
    * then a pure map over the stored code scan (per-row integer fold
    * against a broadcast lookup map) with the per-probe top-k through
    * the bounded-heap TopKPerKey operator — the only shuffle carries
    * k rows per (probe, partition), so serving bytes are bounded by
    * the shortlist, never the corpus (the unpacked form re-aggregates
    * nq × N grouped rows). Bit-identical to q128, same oracle. */
  val q208PqServePacked: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val idxDir = cachedIndexDir(s"q208|$d") { dir =>
      val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4, iters = 1)
      VectorOps.pqCodesPacked(codes, "vec_id")
        .write.mode("overwrite").parquet(s"$dir/packed")
      books.write.mode("overwrite").parquet(s"$dir/books")
    }
    VectorOps.pqAdcTopKPacked(e.filter(col("vec_id") % 97 === 0),
        s.read.parquet(s"$idxDir/packed"), s.read.parquet(s"$idxDir/books"),
        "vec_id", m = 4, ksub = 4, k = 5)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------- ivf-pq serving stack
  /** The FULL IVF-PQ serving composition ([[VectorOps.ivfPqTopK]]):
    * stored centroids route each probe to nprobe=2 cells, PQ-ADC
    * scores ONLY those cells' packed codes (map-side restriction by
    * the broadcast probe→cell frame, per-row integer fold, bounded
    * heaps for both top-k's), exact cosine re-ranks the 10-deep
    * shortlist. The index artifact carries the cell WITH the codes so
    * serving never joins codes back to the corpus on the id. The
    * oracle replays every stage: label-cell centroids, probe routing,
    * the full PQ build (seeds, both Lloyd assignment rounds,
    * quantized means), cell-restricted ADC, shortlist, and the exact
    * refine — the complete billion-vector serving layout, bit-gated. */
  val q210IvfPqServe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val idxDir = cachedIndexDir(s"q210|$d") { dir =>
      val (codes, books) = VectorOps.pqCodes(emb, "vec_id", m = 4, ksub = 4)
      VectorOps.ivfCentroids(emb, "label")
        .write.mode("overwrite").parquet(s"$dir/cents")
      VectorOps.pqCodesPacked(codes, "vec_id")
        .join(emb.select(col("vec_id"), col("label").as("cell")), "vec_id")
        .write.mode("overwrite").parquet(s"$dir/packed")
      books.write.mode("overwrite").parquet(s"$dir/books")
    }
    VectorOps.ivfPqTopK(emb.filter(col("vec_id") < 20), emb,
        s.read.parquet(s"$idxDir/cents"), s.read.parquet(s"$idxDir/packed"),
        s.read.parquet(s"$idxDir/books"), "vec_id", m = 4, ksub = 4,
        k = 3, nprobe = 2, shortlist = 10)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  private val q210Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT label AS cell, generate_subscripts(v, 1) - 1 AS dim,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |comp AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2),
      |cent AS (SELECT cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1),
      |p AS (SELECT vec_id AS q_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      |      FROM e WHERE vec_id < 20),
      |pcell AS (SELECT q_id, cell FROM (
      |            SELECT p.q_id, c.cell,
      |                   row_number() OVER (PARTITION BY p.q_id ORDER BY
      |                     list_dot_product(p.qv, c.cv)
      |                     / (p.qn * sqrt(list_dot_product(c.cv, c.cv)))
      |                     DESC, c.cell) AS crn
      |            FROM p CROSS JOIN cent c) WHERE crn <= 2),
      |sub AS (SELECT vec_id, CAST(g.mi AS INT) AS mi,
      |               v[(g.mi*16+1):((g.mi+1)*16)] AS sv
      |        FROM e, LATERAL (SELECT unnest(range(4)) AS mi) g),
      |h AS (SELECT vec_id,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e),
      |sr AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell
      |       FROM (SELECT * FROM h ORDER BY hh, vec_id LIMIT 4)),
      |c0 AS (SELECT s.mi, sr.cell, s.sv AS cv FROM sub s JOIN sr USING (vec_id)),
      |a1 AS (SELECT vec_id, mi, cell FROM (
      |         SELECT s.vec_id, s.mi, c.cell,
      |                row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
      |                  list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |                  + list_dot_product(c.cv, c.cv) ASC, c.cell) AS rn
      |         FROM sub s JOIN c0 c ON s.mi = c.mi) WHERE rn = 1),
      |x2 AS (SELECT a1.mi, a1.cell, generate_subscripts(s.sv, 1) - 1 AS dim,
      |              CAST(round(unnest(s.sv) * 1e6) AS BIGINT) AS xi
      |       FROM sub s JOIN a1 ON s.vec_id = a1.vec_id AND s.mi = a1.mi),
      |comp2 AS (SELECT mi, cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |          FROM x2 GROUP BY 1, 2, 3),
      |c1 AS (SELECT mi, cell, list(c ORDER BY dim) AS cv FROM comp2 GROUP BY 1, 2),
      |codes AS (SELECT vec_id, mi, cell AS code FROM (
      |         SELECT s.vec_id, s.mi, c.cell,
      |                row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
      |                  list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |                  + list_dot_product(c.cv, c.cv) ASC, c.cell) AS rn
      |         FROM sub s JOIN c1 c ON s.mi = c.mi) WHERE rn = 1),
      |qs AS (SELECT vec_id AS q_id, mi, sv FROM sub WHERE vec_id < 20),
      |dtab AS (SELECT q.q_id, c.mi, c.cell AS code,
      |                CAST(round(list_dot_product(q.sv, c.cv) * 1e6) AS BIGINT) AS si
      |         FROM qs q JOIN c1 c ON q.mi = c.mi),
      |adc AS (SELECT d.q_id, k.vec_id AS c_id, CAST(SUM(d.si) AS DOUBLE) / 1e6 AS adc
      |        FROM codes k
      |        JOIN e ce ON ce.vec_id = k.vec_id
      |        JOIN pcell pc ON pc.cell = ce.label
      |        JOIN dtab d ON k.mi = d.mi AND k.code = d.code AND d.q_id = pc.q_id
      |        WHERE d.q_id <> k.vec_id GROUP BY 1, 2),
      |short AS (SELECT q_id, c_id FROM (
      |            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS srn
      |            FROM adc) WHERE srn <= 10),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |refi AS (SELECT s.q_id, s.c_id,
      |                list_dot_product(pq.v, cq.v) / (pq.nm * cq.nm) AS cos
      |         FROM short s JOIN n pq ON pq.vec_id = s.q_id
      |         JOIN n cq ON cq.vec_id = s.c_id)
      |SELECT q_id, c_id, CAST(rn AS INT) AS rank, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
      |  FROM refi) WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- hierarchical (two-level) ivf assignment
  /** Two-level centroid assignment — the nlist ∝ N build regime
    * ([[VectorOps.assignCellsHierarchical]]): a coarse quantizer over
    * the centroids themselves (2 super-centroids, md5-ranked cell
    * seeds, one Lloyd round) routes each vector to its best
    * super-region, and only that region's cells are scored. The
    * whole per-vector search is ONE broadcast row + expression folds
    * — zero shuffle exchanges (PlanQualitySpec) — and every fold is
    * an order-independent argmax under (cos desc, id asc), so the
    * approximate assignment is still bit-replayable: the oracle
    * replays seeds, the super Lloyd round, per-vector super routing,
    * and the in-region argmax. Exactness against the flat assign at
    * wSuper = nSuper is pinned by HierarchicalAssignSpec. */
  val q209IvfHierAssign: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cents = VectorOps.ivfCentroids(emb, "label")
    VectorOps.assignCellsHierarchical(emb, "vec_id", cents,
        nSuper = 2, wSuper = 1, iters = 1)
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- sharded (extreme-nlist) assignment
  /** q209's SHARDED twin ([[VectorOps.assignCellsHierarchicalSharded]]
    * — the extreme-nlist shape where the super→cells map is sharded
    * one row per super and nothing nlist-sized is broadcast): the
    * per-shard argmax folds and the TopKPerKey cross-super winner
    * share q209's total order and character-identical score
    * expressions, so the assignment is BIT-IDENTICAL to the bundle
    * path and this entry hash-gates the sharded code path against
    * the very same DuckDB replay. */
  val q211IvfShardAssign: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cents = VectorOps.ivfCentroids(emb, "label")
    VectorOps.assignCellsHierarchicalSharded(emb, "vec_id", cents,
        nSuper = 2, wSuper = 1, iters = 1)
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  private val q209Sql =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT label AS cell, generate_subscripts(v, 1) - 1 AS dim,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |comp AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2),
      |cent AS (SELECT cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1),
      |ch AS (SELECT cell, cv,
      |              ('0x' || substr(md5(CAST(cell AS VARCHAR)), 1, 15))::BIGINT AS hh
      |       FROM cent),
      |gseed AS (SELECT cell, cv, hh FROM ch ORDER BY hh, cell LIMIT 2),
      |g0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, cell) - 1 AS INT) AS g,
      |              cv AS gv
      |       FROM gseed),
      |a1 AS (SELECT cell, g FROM (
      |         SELECT c.cell, g0.g,
      |                row_number() OVER (PARTITION BY c.cell ORDER BY
      |                  list_dot_product(c.cv, g0.gv)
      |                  / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(g0.gv, g0.gv)))
      |                  DESC, g0.g) AS rn
      |         FROM cent c CROSS JOIN g0) WHERE rn = 1),
      |gx AS (SELECT a1.g, generate_subscripts(c.cv, 1) - 1 AS dim,
      |              CAST(round(unnest(c.cv) * 1e6) AS BIGINT) AS xi
      |       FROM cent c JOIN a1 USING (cell)),
      |gcomp AS (SELECT g, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |          FROM gx GROUP BY 1, 2),
      |g1 AS (SELECT g, list(c ORDER BY dim) AS gv FROM gcomp GROUP BY 1),
      |c2g AS (SELECT cell, g FROM (
      |         SELECT c.cell, g1.g,
      |                row_number() OVER (PARTITION BY c.cell ORDER BY
      |                  list_dot_product(c.cv, g1.gv)
      |                  / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(g1.gv, g1.gv)))
      |                  DESC, g1.g) AS rn
      |         FROM cent c CROSS JOIN g1) WHERE rn = 1),
      |vg AS (SELECT vec_id, g FROM (
      |         SELECT e.vec_id, g1.g,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, g1.gv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(g1.gv, g1.gv)))
      |                  DESC, g1.g) AS rn
      |         FROM e CROSS JOIN g1) WHERE rn = 1),
      |asg AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e JOIN vg USING (vec_id)
      |         JOIN c2g ON c2g.g = vg.g
      |         JOIN cent c ON c.cell = c2g.cell) WHERE rn = 1)
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM asg ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- multi-table lsh ann
  /** Multi-table LSH ANN (4 tables x 8 planes): candidates union
    * across independent hyperplane sets, deduped before scoring —
    * the recall repair over q46's single table ((1-p)^L miss
    * probability; VectorGeoSpec measures 0.31 -> >=0.75 recall@10 on
    * planted clusters). Table t uses plane indices [8t, 8t+8), so
    * table 0 reproduces q46's buckets bit-for-bit. */
  val q116LshMultiAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    VectorOps.lshAnnMulti(emb.filter(col("vec_id") < 20), emb, k = 3,
        nPlanes = 8, nTables = 4)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("q_id", "rank")
  }

  private val q116Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT vec_id,
      |             generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(32)) AS j) j),
      |votes AS (SELECT vec_id, j // 8 AS t, j, SUM(sgn * xi) AS vsum
      |          FROM pl GROUP BY 1, 2, 3),
      |bk AS (SELECT vec_id, t,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j % 8) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS c_id
      |         FROM bk p JOIN bk c ON c.t = p.t AND c.bucket = p.bucket
      |         WHERE p.vec_id < 20 AND c.vec_id != p.vec_id),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |pr AS (SELECT cand.q_id, cand.c_id,
      |              list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |       FROM cand
      |       JOIN n p ON p.vec_id = cand.q_id
      |       JOIN n c ON c.vec_id = cand.c_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rank
      |      FROM pr)
      |SELECT q_id, c_id, rank, cos FROM r WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- embedding near-dup
  /** Embedding-cosine near-dup (the dedup-family member over vectors,
    * completing exact/minhash/simhash/jaccard): re-ingest simulation
    * plants copies of the first 25 vectors (new ids, component 0
    * zeroed — a true near-duplicate, not an exact copy), then LSH
    * buckets replace the N^2 cross join and only same-bucket pairs
    * are cosine-verified at >= 0.99. Fixture embeddings are
    * near-orthogonal, so surviving pairs are exactly the planted
    * re-ingests that stayed in their source's bucket (deterministic:
    * both engines replay the same sign votes). */
  val q53EmbedNearDup: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(0.0 AS FLOAT) ELSE x END)")
          .as("embedding"))
    val all = emb.unionByName(planted)
    val b = VectorOps.lshBucket(all, "vec_id", nPlanes = 8)
    val v = all.join(b, "vec_id")
      .select(col("vec_id"), col("bucket"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nm"))
    val a1 = v.select(col("vec_id").as("id_a"), col("bucket"),
      col("embedding").as("va"), col("nm").as("na"))
    val a2 = v.select(col("vec_id").as("id_b"), col("bucket"),
      col("embedding").as("vb"), col("nm").as("nb"))
    a1.join(a2, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= 0.99)
      .select(col("id_a"), col("id_b"), col("bucket"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  private val q53Sql =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planted AS (
      |  SELECT vec_id + 100000 AS vec_id, list_prepend(0.0, v[2:]) AS v
      |  FROM base WHERE vec_id < 25),
      |e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(8)) AS j) j),
      |votes AS (SELECT vec_id, j, SUM(sgn * xi) AS vsum FROM pl GROUP BY 1, 2),
      |bk AS (SELECT vec_id,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1),
      |n AS (SELECT e.vec_id, v, sqrt(list_dot_product(v, v)) AS nm, bucket
      |      FROM e JOIN bk ON bk.vec_id = e.vec_id),
      |pr AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.bucket,
      |              list_dot_product(a.v, b2.v) / (a.nm * b2.nm) AS cos
      |       FROM n a JOIN n b2 ON b2.bucket = a.bucket AND a.vec_id < b2.vec_id)
      |SELECT id_a, id_b, bucket, cos FROM pr WHERE cos >= 0.99
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- multimodal metadata
  /** Opaque binary payload + typed metadata columns (decode-free
    * plumbing: sizes, chunk counts, head bytes). */
  val q51MultimodalMeta: Q = (s, d) =>
    MultimodalOps.attachPayload(Tables.documents(s, d).filter(col("doc_id") < clipCap), "text")
      .select(col("doc_id"),
        col("payload_len"),
        col("meta.n_chunks").as("n_chunks"),
        col("meta.mime").as("mime"),
        base64(substring(col("payload"), 1, 12)).as("head_b64"))
      .orderBy("doc_id")

  private val q51Sql =
    s"""SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS payload_len,
      |  CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS BIGINT) AS n_chunks,
      |  'text/fake' AS mime,
      |  to_base64(CAST(substring(text, 1, 12) AS BLOB)) AS head_b64
      |FROM documents WHERE doc_id < $clipCap ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- multimodal decode (REAL, tri-modal)
  /** REAL unified multimodal decode — one row per asset with a
    * modality-normalized (n_units, signal_sum, ok) triple, every leg
    * on a REAL codec (the former md5-stub decode is deleted):
    * doc_id%3 routes each doc to image (PNG encode→ImageIO decode,
    * units = pixels, signal = exact red-channel sum), audio (PCM WAV
    * encode→javax.sound decode, units = samples, signal = exact
    * sample sum), or video (RIFF-AVI container walk + per-frame BMP
    * decode through [[MultimodalOps.aviDecodeFrames]], units = frames
    * decoded, signal = sum of per-frame red sums). Corrupt payloads
    * (%10==7, raw text bytes) gate ok='N' with null decode fields on
    * every leg; the video leg additionally inherits q205's planted
    * container failures (lying idx1 %13==11 → clip-level 'N';
    * garbled frame 0 %9==5 → that frame drops from units/signal and
    * the clip gates 'N'). The oracle replays all three legs
    * arithmetically from doc_id WITHOUT decoding — the closed-form
    * fixture discipline of q142/q148/q205 under one schema. Each leg
    * is map-only (synth → decode in one pass); the video leg adds one
    * partial-aggregated groupBy over its own frames. */
  val q52MultimodalDecode: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCapHalf)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    val img = MultimodalOps.decodeImageMeta(
      MultimodalOps.synthImagePayload(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", "corrupt"),
      "doc_id")
      .select(col("doc_id"), lit("image").as("modality"),
        (col("width").cast("long") * col("height")).as("n_units"),
        col("red_sum").as("signal_sum"), col("ok"))
    val aud = MultimodalOps.decodeWavMeta(
      MultimodalOps.synthWavPayload(
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", "corrupt"),
      "doc_id")
      .select(col("doc_id"), lit("audio").as("modality"),
        col("n_samples").cast("long").as("n_units"),
        col("sample_sum").as("signal_sum"), col("ok"))
    val vid = MultimodalOps.aviDecodeFrames(
      MultimodalOps.synthAviPayload(
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", "corrupt"),
      "doc_id")
      .groupBy("doc_id")
      .agg(count(col("red_sum")).as("n_units"),
        sum(col("red_sum")).as("signal_sum"),
        min(col("ok")).as("ok")) // any 'N' frame/clip row gates the clip
      .select(col("doc_id"), lit("video").as("modality"),
        col("n_units"), col("signal_sum"), col("ok"))
    img.unionByName(aud).unionByName(vid).orderBy("doc_id")
  }

  private val q52Sql =
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < $clipCapHalf),
      |img AS (
      |  SELECT doc_id, 'image' AS modality,
      |    CASE WHEN doc_id % 10 = 7 THEN NULL
      |         ELSE CAST((8 + doc_id % 8) * (4 + doc_id % 4) AS BIGINT) END AS n_units,
      |    CASE WHEN doc_id % 10 = 7 THEN NULL
      |         ELSE CAST((8 + doc_id % 8) * (4 + doc_id % 4) * (doc_id % 256) AS BIGINT)
      |         END AS signal_sum,
      |    CASE WHEN doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |  FROM d WHERE doc_id % 3 = 0),
      |aud AS (
      |  SELECT doc_id, 'audio' AS modality,
      |    CASE WHEN doc_id % 10 = 7 THEN NULL
      |         ELSE CAST(64 + doc_id % 64 AS BIGINT) END AS n_units,
      |    CASE WHEN doc_id % 10 = 7 THEN NULL
      |         ELSE CAST((64 + doc_id % 64) * (doc_id % 100)
      |              + ((64 + doc_id % 64) * (64 + doc_id % 64 - 1)) // 2 AS BIGINT)
      |         END AS signal_sum,
      |    CASE WHEN doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |  FROM d WHERE doc_id % 3 = 1),
      |vf AS (
      |  SELECT doc_id,
      |    (8 + doc_id % 6) * (4 + doc_id % 4) * ((doc_id * 37 + i * 11) % 256) AS red,
      |    (doc_id % 9 = 5 AND i = 0) AS bad
      |  FROM d, unnest(range(2 + doc_id % 4)) t(i)
      |  WHERE doc_id % 3 = 2 AND doc_id % 10 <> 7 AND doc_id % 13 <> 11),
      |vid AS (
      |  SELECT doc_id, 'video' AS modality,
      |    CAST(count(CASE WHEN bad THEN NULL ELSE 1 END) AS BIGINT) AS n_units,
      |    CAST(sum(CASE WHEN bad THEN NULL ELSE red END) AS BIGINT) AS signal_sum,
      |    CASE WHEN bool_or(bad) THEN 'N' ELSE 'Y' END AS ok
      |  FROM vf GROUP BY doc_id),
      |vbad AS (
      |  SELECT doc_id, 'video' AS modality, CAST(0 AS BIGINT) AS n_units,
      |    CAST(NULL AS BIGINT) AS signal_sum, 'N' AS ok
      |  FROM d WHERE doc_id % 3 = 2 AND (doc_id % 10 = 7 OR doc_id % 13 = 11))
      |SELECT * FROM img UNION ALL SELECT * FROM aud
      |UNION ALL SELECT * FROM vid UNION ALL SELECT * FROM vbad
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- real image decode
  /** REAL image decode (q142): PNG payloads are ENCODED and DECODED by
    * the JDK's javax.imageio inside Spark tasks — no stub in the
    * image path. The fixture generator writes a (8 + id%8) x
    * (4 + id%4) constant-gray-(id%256) PNG per doc, so width, height
    * and the exact red-channel sum have closed forms in doc_id that
    * the DuckDB oracle computes WITHOUT decoding — an independent
    * check that the encode->decode round trip is lossless. Every
    * %10==7 doc instead carries its raw text bytes (the truncated
    * crawl file): those must decode to ok='N' with null dims, not
    * fail the task. Both stages are batch-shaped mapPartitions. */
  val q142ImageDecode: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.decodeImageMeta(
      MultimodalOps.synthImagePayload(docs, "doc_id", "text", "corrupt"),
      "doc_id")
      .orderBy("doc_id")
  }

  private val q142Sql =
    s"""SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(8 + doc_id % 8 AS INT) END AS width,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(4 + doc_id % 4 AS INT) END AS height,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE (8 + doc_id % 8) * (4 + doc_id % 4) * (doc_id % 256)
      |       END AS red_sum,
      |  CASE WHEN doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |FROM documents WHERE doc_id < $clipCap ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- real audio (WAV) decode
  /** REAL audio decode (q148): PCM WAV payloads are ENCODED and
    * DECODED by the JDK's javax.sound.sampled inside Spark tasks —
    * the audio twin of q142. The fixture generator writes a mono
    * 16-bit WAV per doc with n = 64 + id%64 samples at
    * 8000 + (id%3)*4000 Hz where sample i = (id%100) + i, so the
    * sample count, rate and exact sum have closed forms in doc_id
    * that the DuckDB oracle computes WITHOUT decoding — an
    * independent check of the encode->decode round trip. Every
    * %10==7 doc instead carries its raw text bytes (no RIFF header):
    * those must decode to ok='N' with null fields, never fail the
    * task. Both stages are batch-shaped mapPartitions. */
  val q148AudioDecode: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.decodeWavMeta(
      MultimodalOps.synthWavPayload(docs, "doc_id", "text", "corrupt"),
      "doc_id")
      .orderBy("doc_id")
  }

  private val q148Sql =
    s"""SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(64 + doc_id % 64 AS INT) END AS n_samples,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(8000 + (doc_id % 3) * 4000 AS INT) END AS sample_rate,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(1 AS INT) END AS channels,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE (64 + doc_id % 64) * (doc_id % 100)
      |            + ((64 + doc_id % 64) * (64 + doc_id % 64 - 1)) // 2
      |       END AS sample_sum,
      |  CASE WHEN doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |FROM documents WHERE doc_id < $clipCap ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q196: audio energy / silence gate
  /** Windowed audio energy gating (q148's curation face): per decoded
    * clip, 32-sample windows' exact sum-of-squares, silent-window
    * count under T²·W = 320000 (T=100 RMS, all-integer — no sqrt),
    * total and max window energy. The fixture samples are
    * (doc_id%100)+i, so every window's sum of squares has a closed
    * form the oracle computes WITHOUT decoding — low-id%100 clips
    * plant genuinely silent leading windows, corrupt payloads
    * (%10==7) gate through as ok='N'. This is the drop-silent-clips /
    * find-clipped-clips pass an audio corpus runs after decode. */
  val q196AudioEnergy: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.decodeWavEnergy(
      MultimodalOps.synthWavPayload(docs, "doc_id", "text", "corrupt"),
      "doc_id", windowSamples = 32, silentMaxSumsq = 320000L)
      .orderBy("doc_id")
  }

  private val q196Sql =
    s"""WITH base AS (
      |  SELECT doc_id, doc_id % 100 AS a,
      |         64 + doc_id % 64 AS n,
      |         CAST((64 + doc_id % 64) // 32 AS INT) AS n_windows
      |  FROM documents WHERE doc_id < $clipCap),
      |w AS (
      |  SELECT doc_id, a, n_windows, unnest(range(n_windows)) AS wi FROM base),
      |ws AS (
      |  SELECT doc_id, a, n_windows, wi,
      |         (SELECT CAST(SUM((a + wi * 32 + j) * (a + wi * 32 + j)) AS BIGINT)
      |          FROM unnest(range(32)) AS t(j)) AS sumsq
      |  FROM w),
      |agg AS (
      |  SELECT doc_id, n_windows,
      |         CAST(SUM(CASE WHEN sumsq < 320000 THEN 1 ELSE 0 END) AS INT)
      |           AS n_silent,
      |         CAST(SUM(sumsq) AS BIGINT) AS total_sumsq,
      |         CAST(MAX(sumsq) AS BIGINT) AS max_win_sumsq
      |  FROM ws GROUP BY 1, 2)
      |SELECT b.doc_id,
      |  CASE WHEN b.doc_id % 10 = 7 THEN NULL ELSE a.n_windows END AS n_windows,
      |  CASE WHEN b.doc_id % 10 = 7 THEN NULL ELSE a.n_silent END AS n_silent,
      |  CASE WHEN b.doc_id % 10 = 7 THEN NULL ELSE a.total_sumsq END AS total_sumsq,
      |  CASE WHEN b.doc_id % 10 = 7 THEN NULL ELSE a.max_win_sumsq END AS max_win_sumsq,
      |  CASE WHEN b.doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |FROM base b JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- perceptual image dedup (dHash)
  /** Image near-dup dedup via REAL perceptual hashing: PNG payloads
    * are encoded and decoded by ImageIO, average-pooled to a 9x8
    * grid, and dHash'd ([[MultimodalOps.dHash64]]) — then deduped at
    * the HASH level: exact clusters = groupBy(dhash) (all docs of a
    * pattern class are pixel-identical), near-dup partners = 16-bit
    * band LSH over the DISTINCT hashes + Hamming ≤ 6 verify
    * (pigeonhole: ≤3 differing bits ALWAYS share one of 4 bands, so
    * the planted 1-2-bit variants are guaranteed recall; 4-6 bits
    * are best-effort — the documented LSH contract). Banding runs on
    * distinct hashes, never docs: the pair space is
    * |distinct-patterns|², corpus-INdependent, while every
    * doc-level stage is one hash groupBy. The oracle reproduces the
    * hashes arithmetically from the planted pattern (generate_series
    * bit fold — no decoding) and replays band+Hamming verbatim;
    * corrupt payloads (%10==7, raw text bytes) gate through as
    * ok='N' with null hash/cluster. */
  val q162ImageDhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 23).as("cls"),
        (col("doc_id") % 4 === 3).as("variant"),
        (col("doc_id") % 10 === 7).as("corrupt"))
    val hashed = MultimodalOps.dHash64(
      MultimodalOps.synthPatternImagePayload(
        docs, "doc_id", "cls", "variant", "corrupt"), "doc_id")
    val reps = graft.ops.Materialize.localize(
      hashed.filter(col("ok") === "Y").groupBy("dhash")
        .agg(min("doc_id").as("cluster_rep"), count(lit(1)).as("cluster_sz")))
    val bands = reps.select(col("dhash"), col("cluster_sz"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("dhash"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bv"))): _*))
          .as("e"))
      .select(col("dhash"), col("cluster_sz"),
        col("e.band").as("band"), col("e.bv").as("bv"))
    val cand = bands.select(col("dhash"), col("band"), col("bv"))
      .join(bands.select(col("dhash").as("other"), col("cluster_sz").as("osz"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("dhash") =!= col("other"))
      .select("dhash", "other", "osz").distinct()
    val near = cand
      .filter(bit_count(col("dhash").bitwiseXOR(col("other"))).between(1, 6))
      .groupBy("dhash").agg(sum("osz").as("near_ct"))
    hashed.join(reps, Seq("dhash"), "left").join(near, Seq("dhash"), "left")
      .select(col("doc_id"), col("dhash"), col("ok"),
        col("cluster_rep"), col("cluster_sz"),
        when(col("ok") === "Y", coalesce(col("near_ct"), lit(0L))).as("near_ct"))
      .orderBy("doc_id")
  }

  private val q162Sql =
    """WITH g AS (SELECT i, i % 8 AS x, i // 8 AS y FROM generate_series(0, 63) t(i)),
      |b AS (SELECT doc_id, CAST(doc_id % 23 AS BIGINT) AS c, (doc_id % 4 = 3) AS v
      |      FROM documents WHERE doc_id % 10 <> 7),
      |h AS MATERIALIZED (
      |  SELECT doc_id,
      |    COALESCE(bit_or(CASE WHEN i = 63 THEN -9223372036854775808
      |                         ELSE (1::BIGINT << i) END)
      |      FILTER (WHERE
      |        ((((c*(x+4) + (x+1)*(x+1) + y*(7 + c%3)) % 5) < 2)
      |           <> (v AND (x+1) = c%9 AND y = c%8))
      |        AND NOT ((((c*(x+3) + x*x + y*(7 + c%3)) % 5) < 2)
      |           <> (v AND x = c%9 AND y = c%8))), 0) AS dhash
      |  FROM b CROSS JOIN g GROUP BY doc_id),
      |reps AS MATERIALIZED (SELECT dhash, MIN(doc_id) AS cluster_rep,
      |                             COUNT(*) AS cluster_sz
      |                      FROM h GROUP BY 1),
      |bands AS MATERIALIZED (SELECT dhash, cluster_sz, band,
      |                              (dhash >> (16*band)) & 65535 AS bv
      |  FROM reps CROSS JOIN generate_series(0, 3) s(band)),
      |cand AS (SELECT DISTINCT a.dhash AS dhash, b2.dhash AS other,
      |                b2.cluster_sz AS osz
      |  FROM bands a JOIN bands b2 USING (band, bv) WHERE a.dhash <> b2.dhash),
      |near AS (SELECT dhash, CAST(SUM(osz) AS BIGINT) AS near_ct FROM cand
      |  WHERE bit_count(xor(dhash, other)) BETWEEN 1 AND 6 GROUP BY 1)
      |SELECT d.doc_id, h.dhash,
      |  CASE WHEN d.doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok,
      |  r.cluster_rep, r.cluster_sz,
      |  CASE WHEN d.doc_id % 10 = 7 THEN NULL
      |       ELSE COALESCE(n.near_ct, 0) END AS near_ct
      |FROM documents d
      |LEFT JOIN h ON h.doc_id = d.doc_id
      |LEFT JOIN reps r ON r.dhash = h.dhash
      |LEFT JOIN near n ON n.dhash = h.dhash
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- embedding quantization
  /** int8 embedding quantization (VectorOps.quantizeInt8): per-vector
    * scale, code checksums, and max reconstruction error — the 4x
    * storage compression step of a corpus-scale vector pipeline,
    * verified exactly (scale arithmetic, half-up rounding and the
    * error fold all replay in the oracle). */
  val q59EmbedQuantize: Q = (s, d) => {
    val q = VectorOps.quantizeInt8(
      Tables.embeddings(s, d).filter(col("vec_id") < 100), "embedding")
    q.select(col("vec_id"), col("q_scale"),
        aggregate(col("q_codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("q_codes")).as("code_min"),
        array_max(col("q_codes")).as("code_max"),
        aggregate(
          zip_with(transform(col("embedding"), _.cast("double")),
            VectorOps.dequantize(col("q_codes"), col("q_scale")),
            (x, y) => abs(x - y)),
          lit(0.0), (m, v) => greatest(m, v)).as("max_err"))
      .orderBy("vec_id")
  }

  private val q59Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |           WHERE vec_id < 100),
      |s AS (SELECT vec_id, v,
      |             list_max(list_transform(v, x -> abs(x))) / 127.0 AS q_scale
      |      FROM e),
      |c AS (SELECT vec_id, v, q_scale,
      |             CASE WHEN q_scale = 0
      |                  THEN list_transform(v, x -> 0)
      |                  ELSE list_transform(v, x -> CAST(round(x / q_scale) AS INT))
      |             END AS codes
      |      FROM s)
      |SELECT vec_id, q_scale,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |  CAST(list_min(codes) AS INT) AS code_min,
      |  CAST(list_max(codes) AS INT) AS code_max,
      |  list_max(list_transform(range(len(v)),
      |                          i -> abs(v[i + 1] - codes[i + 1] * q_scale))) AS max_err
      |FROM c ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- multimodal frame sampling
  /** Frame sampling over the opaque payload (every 2nd 64-byte frame
    * — the keyframe/audio-window sampler): per-frame rows with an
    * md5 frame fingerprint, all column ops (no UDF), byte-replayed by
    * the oracle. */
  val q55FrameSample: Q = (s, d) =>
    MultimodalOps.frameSample(
      MultimodalOps.attachPayload(Tables.documents(s, d).filter(col("doc_id") < 50), "text"),
      frameLen = 64, stride = 2)
      .select(col("doc_id"), col("frame_no"), col("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_no")

  // DuckDB substring() has no BLOB overload; the fixture corpus is
  // pure ASCII (verified octet_length == length at every SF), so
  // character slicing of the VARCHAR is byte-identical to Spark's
  // binary slicing and md5 hashes the same bytes.
  private val q55Sql =
    """WITH p AS (SELECT doc_id, text,
      |                  CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS INT) AS n_frames
      |           FROM documents WHERE doc_id < 50),
      |f AS (SELECT doc_id, CAST(g.i AS INT) AS frame_no,
      |             substring(text, CAST(g.i AS INT) * 64 + 1, 64) AS frame
      |      FROM p, LATERAL (SELECT unnest(range(n_frames)) AS i) g
      |      WHERE g.i % 2 = 0)
      |SELECT doc_id, frame_no, CAST(octet_length(CAST(frame AS BLOB)) AS INT) AS frame_len,
      |       md5(frame) AS frame_md5
      |FROM f ORDER BY doc_id, frame_no""".stripMargin

  // ---------------------------------------------------------------- kmeans ivf build
  /** The IVF index BUILD step (completing the q77 story, which
    * consumes a given coarse partitioning): one deterministic Lloyd's
    * round over the embeddings — md5-ranked seeds, cosine assignment
    * with cell tie-break, integer-quantized centroid means — then the
    * final cell assignment. Every arithmetic step (fold dot products,
    * half-up quantization, exact int sums) is the established
    * cross-engine-deterministic form, so even the ITERATIVE clustering
    * is hash-verified, not just spot-checked. */
  val q98KmeansBuild: Q = (s, d) =>
    VectorOps.kmeansCells(Tables.embeddings(s, d), "vec_id", k = 4, iters = 1)
      .orderBy("vec_id")

  private val q98Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |h AS (SELECT vec_id, v,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e),
      |seeds AS (SELECT vec_id, v, hh FROM h ORDER BY hh, vec_id LIMIT 4),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell,
      |              v AS cv
      |       FROM seeds),
      |a1 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e CROSS JOIN c0 c) WHERE rn = 1),
      |x AS (SELECT a1.cell, generate_subscripts(e.v, 1) - 1 AS dim,
      |             CAST(round(unnest(e.v) * 1e6) AS BIGINT) AS xi
      |      FROM e JOIN a1 USING (vec_id)),
      |comp AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2),
      |c1 AS (SELECT cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1),
      |a2 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e CROSS JOIN c1 c) WHERE rn = 1)
      |SELECT vec_id, cell FROM a2 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- product quantization + ADC
  /** IVF-PQ's compression half (Jégou et al. 2011): 4 subspace
    * codebooks (ksub=4, one Lloyd round — the q98 machinery carried
    * per-subspace) encode every 64-dim vector as 4 small ints, and
    * probes rank candidates by ASYMMETRIC DISTANCE — the sum of 4
    * lookup-table inner products joined on (subspace, code), never
    * touching the original vectors. Table entries are int64-quantized
    * so the sum is exact; the oracle replays seeds, both assignment
    * rounds, the centroid means, the lookup tables, and the final
    * ranking bit-for-bit. This is the storage/scoring layout that
    * makes billion-vector ANN affordable: 16x code compression and
    * code-only scoring. */
  val q128PqAdc: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val (codes, books) = VectorOps.pqCodes(e, "vec_id", m = 4, ksub = 4, iters = 1)
    // ADC through the PACKED engine (r16): one row per vector, the
    // m-way table sum an in-row integer fold over a broadcast LUT —
    // bit-identical to the unpacked (mi, code)-join form (PqServeSpec
    // pins the parity; the oracle below still replays the join form),
    // but the nq × N grouped-row exchange never exists: at sf1 the
    // unpacked join materialized 148M rows into a 37M-group
    // aggregation for 620 probes (61.7 MB shuffle, the whole 10.7 s
    // exec clock). Packed: scoring is a map over the code scan and
    // the only shuffle is the k-bounded heap exchange.
    VectorOps.pqAdcTopKPacked(e.filter(col("vec_id") % 97 === 0),
        VectorOps.pqCodesPacked(codes, "vec_id"), books,
        "vec_id", m = 4, ksub = 4, k = 5)
      .orderBy("q_id", "rank")
  }

  private val q128Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sub AS (SELECT vec_id, CAST(g.mi AS INT) AS mi,
      |               v[(g.mi*16+1):((g.mi+1)*16)] AS sv
      |        FROM e, LATERAL (SELECT unnest(range(4)) AS mi) g),
      |h AS (SELECT vec_id,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e),
      |sr AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell
      |       FROM (SELECT * FROM h ORDER BY hh, vec_id LIMIT 4)),
      |c0 AS (SELECT s.mi, sr.cell, s.sv AS cv FROM sub s JOIN sr USING (vec_id)),
      |a1 AS (SELECT vec_id, mi, cell FROM (
      |         SELECT s.vec_id, s.mi, c.cell,
      |                row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
      |                  list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |                  + list_dot_product(c.cv, c.cv) ASC, c.cell) AS rn
      |         FROM sub s JOIN c0 c ON s.mi = c.mi) WHERE rn = 1),
      |x AS (SELECT a1.mi, a1.cell, generate_subscripts(s.sv, 1) - 1 AS dim,
      |             CAST(round(unnest(s.sv) * 1e6) AS BIGINT) AS xi
      |      FROM sub s JOIN a1 ON s.vec_id = a1.vec_id AND s.mi = a1.mi),
      |comp AS (SELECT mi, cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2, 3),
      |c1 AS (SELECT mi, cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1, 2),
      |codes AS (SELECT vec_id, mi, cell AS code FROM (
      |         SELECT s.vec_id, s.mi, c.cell,
      |                row_number() OVER (PARTITION BY s.vec_id, s.mi ORDER BY
      |                  list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
      |                  + list_dot_product(c.cv, c.cv) ASC, c.cell) AS rn
      |         FROM sub s JOIN c1 c ON s.mi = c.mi) WHERE rn = 1),
      |qs AS (SELECT vec_id AS q_id, mi, sv FROM sub WHERE vec_id % 97 = 0),
      |dtab AS (SELECT q.q_id, c.mi, c.cell AS code,
      |                CAST(round(list_dot_product(q.sv, c.cv) * 1e6) AS BIGINT) AS si
      |         FROM qs q JOIN c1 c ON q.mi = c.mi),
      |adc AS (SELECT d.q_id, k.vec_id AS c_id, CAST(SUM(d.si) AS DOUBLE) / 1e6 AS adc
      |        FROM codes k JOIN dtab d ON k.mi = d.mi AND k.code = d.code
      |        WHERE d.q_id <> k.vec_id GROUP BY 1, 2)
      |SELECT q_id, c_id, CAST(rn AS INT) AS rank, adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS rn
      |  FROM adc)
      |WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- cluster-balanced sample
  /** Cluster-balanced subsampling (the diversity-preserving data
    * selection step: embed -> cluster -> sample per cluster, so the
    * subsample keeps every mode of the distribution instead of
    * over-drawing the dense head): q98's deterministic k-means
    * assigns cells, then each cell keeps its top ceil(20%) vectors
    * by seeded md5 rank — a deterministic "random" draw whose rate
    * is per-cell, not global. The keep count is exact integer math
    * ((n+4) div 5), never n*0.2 in floating point. The per-cell rank
    * is [[graft.ops.DistributedRank]] (range-repartition + broadcast
    * prefix offsets), NOT a `partitionBy(cell)` window: k is small,
    * so each cell is a corpus-sized shard — a window would sort a
    * whole cell in one task. Cell counts come from a partial-combined
    * groupBy (broadcast back); no task ever holds more than one
    * range-partition slice. The same shape at any corpus size. */
  val q130ClusterSample: Q = (s, d) => {
    val cells = VectorOps.kmeansCells(Tables.embeddings(s, d), "vec_id", k = 4, iters = 1)
    val hrk = conv(substring(md5(concat(lit("cs|"), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val withH = cells.withColumn("__rk", hrk)
    // per-cell totals come from the rank's own count job — the
    // iterative kmeansCells lineage is NOT re-evaluated for a
    // separate groupBy count. materializeInput: the range shuffle's
    // boundary sampling + map stage would otherwise evaluate the
    // iterative k-means lineage TWICE (DistributedRank's cost note);
    // the leaf checkpoint runs it once and is released as soon as the
    // shuffle files hold the assignment.
    graft.ops.DistributedRank.rank(withH, Seq("cell"), Seq(col("__rk"), col("vec_id")), "rk",
        totalCol = "n_cell", materializeInput = true)
      .filter(col("rk") <= expr("(n_cell + 4) div 5"))
      .select(col("vec_id"), col("cell"), col("n_cell"),
        col("rk").cast("int").as("rk"))
      .orderBy("cell", "rk")
  }

  private val q130Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |h AS (SELECT vec_id, v,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e),
      |seeds AS (SELECT vec_id, v, hh FROM h ORDER BY hh, vec_id LIMIT 4),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell,
      |              v AS cv
      |       FROM seeds),
      |a1 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e CROSS JOIN c0 c) WHERE rn = 1),
      |x AS (SELECT a1.cell, generate_subscripts(e.v, 1) - 1 AS dim,
      |             CAST(round(unnest(e.v) * 1e6) AS BIGINT) AS xi
      |      FROM e JOIN a1 USING (vec_id)),
      |comp AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |         FROM x GROUP BY 1, 2),
      |c1 AS (SELECT cell, list(c ORDER BY dim) AS cv FROM comp GROUP BY 1),
      |a2 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e CROSS JOIN c1 c) WHERE rn = 1),
      |per AS (SELECT vec_id, cell,
      |               ('0x' || substr(md5('cs|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
      |                 AS hrk
      |        FROM a2),
      |n AS (SELECT cell, COUNT(*) AS n_cell FROM per GROUP BY 1),
      |r AS (SELECT p.vec_id, p.cell, n.n_cell,
      |             CAST(row_number() OVER (PARTITION BY p.cell ORDER BY p.hrk, p.vec_id)
      |               AS INT) AS rk
      |      FROM per p JOIN n USING (cell))
      |SELECT vec_id, cell, n_cell, rk FROM r
      |WHERE rk <= (n_cell + 4) // 5 ORDER BY cell, rk""".stripMargin

  // ---------------------------------------------------------------- semantic dedup
  /** SemDeDup (Abbas et al. 2023): duplicate MEANING, not duplicate
    * bytes — embed, cluster coarsely, compare cosine ONLY within a
    * cluster, and canonicalize each near-dup component to its min id.
    * The cell equi-join is the entire scale story: candidate pairs
    * are Σ|cell|² instead of N², and the cells come from q98's
    * deterministic k-means. Planted re-ingests (two copies of the
    * first 15 vectors, one of the next 15) form size-3 and size-2
    * components; the natural corpus is near-orthogonal and must
    * produce none. Components via [[ConnectedComponents.minLabel]]
    * (transitive closure — A~B~C dedups as one group even when A~C
    * misses the threshold); keep = the component's min id. */
  val q132SemDedup: Q = (s, d) => {
    import graft.ops.dedup.ConnectedComponents
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val e = base
      .unionByName(base.filter(col("vec_id") < 30)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionByName(base.filter(col("vec_id") < 15)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding")))
    val cells = VectorOps.kmeansCells(e, "vec_id", k = 4, iters = 1)
    val v = e.join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nm"))
    val edges = v.select(col("vec_id").as("id_a"), col("cell"),
        col("embedding").as("va"), col("nm").as("na"))
      .join(v.select(col("vec_id").as("id_b"), col("cell"),
        col("embedding").as("vb"), col("nm").as("nb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorOps.cosine(col("va"), col("vb"), col("na"), col("nb")) >= 0.99)
      .select("id_a", "id_b")
    // minLabelLocalized: labels materialize (component members only —
    // corpus-sublinear), the superstep checkpoint storage is released
    // BEFORE this query returns; no pinned RDD outlives the call
    val comp = ConnectedComponents.minLabelLocalized(edges)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(col("id").as("vec_id"), col("component"), col("cluster_size"),
        when(col("id") === col("component"), "Y").otherwise("N").as("keep"))
      .orderBy("vec_id")
  }

  private val q132Sql =
    """WITH RECURSIVE e0 AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL SELECT vec_id + 100000, embedding::DOUBLE[]
      |            FROM embeddings WHERE vec_id < 30
      |  UNION ALL SELECT vec_id + 200000, embedding::DOUBLE[]
      |            FROM embeddings WHERE vec_id < 15),
      |h AS (SELECT vec_id, v,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e0),
      |seeds AS (SELECT vec_id, v, hh FROM h ORDER BY hh, vec_id LIMIT 4),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell,
      |              v AS cv
      |       FROM seeds),
      |a1 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e0 e CROSS JOIN c0 c) WHERE rn = 1),
      |x AS (SELECT a1.cell, generate_subscripts(e.v, 1) - 1 AS dim,
      |             CAST(round(unnest(e.v) * 1e6) AS BIGINT) AS xi
      |      FROM e0 e JOIN a1 USING (vec_id)),
      |cm AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |       FROM x GROUP BY 1, 2),
      |c1 AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cm GROUP BY 1),
      |a2 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e0 e CROSS JOIN c1 c) WHERE rn = 1),
      |vv AS (SELECT a2.vec_id, a2.cell, e.v,
      |              sqrt(list_dot_product(e.v, e.v)) AS nm
      |       FROM a2 JOIN e0 e USING (vec_id)),
      |edges AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |          FROM vv a JOIN vv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |          WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= 0.99),
      |eu AS (SELECT id_a AS u, id_b AS w FROM edges
      |       UNION SELECT id_b, id_a FROM edges),
      |reach(id, r) AS (
      |  SELECT u, u FROM eu
      |  UNION
      |  SELECT eu.u, reach.r FROM eu JOIN reach ON reach.id = eu.w),
      |cmp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY 1),
      |sz AS (SELECT component, COUNT(*) AS cluster_size FROM cmp GROUP BY 1)
      |SELECT cmp.id AS vec_id, cmp.component, sz.cluster_size,
      |       CASE WHEN cmp.id = cmp.component THEN 'Y' ELSE 'N' END AS keep
      |FROM cmp JOIN sz USING (component)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- hybrid retrieval: rrf fusion
  /** Lexical retriever leg shared by q165/q167: histogram-intersection
    * score n_shared = Σ_t min(tf_q(t), tf_c(t)) between each probe
    * document (doc_id < nq) and every candidate. Scale shape: the
    * probe postings (nq docs × vocab terms) are a broadcast — the
    * corpus-sized candidate tf frame joins map-side on the term and
    * never shuffles for the match; only matched (q, c) partial sums
    * cross the wire for the groupBy. Top-k per probe goes through the
    * bounded-heap [[graft.plans.TopKPerKey]] physical operator (no
    * per-probe sort of a corpus-sized candidate list); the rank
    * column is a row_number over the ALREADY k-bounded frame. A
    * production corpus adds the q44-style df cap on the posting join;
    * the synthetic 31-word vocabulary here is all-stopwords, so the
    * cap is deliberately off and the min-tf weighting carries the
    * discrimination. */
  private def lexicalTopK(s: SparkSession, d: String, nq: Int, k: Int): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val probes = tf.filter(col("doc_id") < nq)
      .select(col("doc_id").as("q_id"), col("t"), col("tf").as("tf_q"))
    val scored = tf.join(broadcast(probes), Seq("t"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id").as("c_id"))
      .agg(sum(least(col("tf"), col("tf_q"))).as("n_shared"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("n_shared").desc, col("c_id"))
    graft.plans.TopKPerKey.topK(scored, Seq(col("q_id")),
        Seq(col("n_shared").desc, col("c_id").asc), k)
      .withColumn("rank_lex", row_number().over(w).cast("int"))
  }

  /** Reciprocal-rank-fusion hybrid retrieval — the fusion stage of a
    * two-tower search/mining pipeline: a lexical list (min-tf
    * histogram intersection, [[lexicalTopK]]) and a dense list
    * (cosine top-k over the embedding column) are fused per probe by
    * RRF(c) = Σ_lists 1/(60 + rank_list(c)), the standard
    * rank-only fusion that needs no score calibration between
    * incomparable retrievers. Determinism: each reciprocal is the
    * INTEGER 1e9 div (60 + rank) so the fused score is an exact
    * integer sum — no float addition order to disagree on. Candidates
    * in either list survive (full outer join on the two k-bounded
    * lists — bounded frames, cheap); final top-10 per probe by fused
    * score. The dense leg is the brute-force baseline here
    * (probe-side broadcast, no candidate shuffle); at corpus scale it
    * swaps for the q77 IVF / q116 multi-LSH leg unchanged, since
    * fusion only consumes (q_id, c_id, rank). */
  val q165RrfFusion: Q = (s, d) => {
    val nq = 10; val k = 20
    val lex = lexicalTopK(s, d, nq, k)
      .select(col("q_id"), col("c_id"), col("rank_lex"))
    val den = VectorOps.bruteForceKnn(
        Tables.embeddings(s, d).filter(col("vec_id") < nq),
        Tables.embeddings(s, d), k = k)
      .select(col("q_id"), col("c_id"), col("rank").cast("int").as("rank_dense"))
    val fused = lex.join(den, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000000 div (60 + rank_lex)"), lit(0L)) +
        coalesce(expr("1000000000 div (60 + rank_dense)"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf_score").desc, col("c_id"))
    fused.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("c_id"), col("rank"), col("rrf_score"),
        col("rank_lex"), col("rank_dense"))
      .orderBy("q_id", "rank")
  }

  private val q165Sql =
    """WITH tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM (
      |        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
      |        FROM documents) GROUP BY 1, 2),
      |lexs AS (SELECT p.doc_id AS q_id, c.doc_id AS c_id,
      |                SUM(LEAST(c.tf, p.tf)) AS n_shared
      |         FROM tf c JOIN tf p ON p.t = c.t
      |         WHERE p.doc_id < 10 AND c.doc_id <> p.doc_id GROUP BY 1, 2),
      |lex AS (SELECT q_id, c_id,
      |               CAST(row_number() OVER (PARTITION BY q_id
      |                 ORDER BY n_shared DESC, c_id) AS INT) AS rank_lex
      |        FROM lexs QUALIFY rank_lex <= 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |dens AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |                list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |         FROM n p CROSS JOIN n c
      |         WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
      |den AS (SELECT q_id, c_id,
      |               CAST(row_number() OVER (PARTITION BY q_id
      |                 ORDER BY cos DESC, c_id) AS INT) AS rank_dense
      |        FROM dens QUALIFY rank_dense <= 20),
      |f AS (SELECT COALESCE(lex.q_id, den.q_id) AS q_id,
      |             COALESCE(lex.c_id, den.c_id) AS c_id,
      |             lex.rank_lex, den.rank_dense,
      |             COALESCE(1000000000 // (60 + lex.rank_lex), 0)
      |           + COALESCE(1000000000 // (60 + den.rank_dense), 0) AS rrf_score
      |      FROM lex FULL OUTER JOIN den
      |        ON lex.q_id = den.q_id AND lex.c_id = den.c_id)
      |SELECT q_id, c_id,
      |       CAST(row_number() OVER (PARTITION BY q_id
      |         ORDER BY rrf_score DESC, c_id) AS INT) AS rank,
      |       CAST(rrf_score AS BIGINT) AS rrf_score, rank_lex, rank_dense
      |FROM f QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- hard-negative mining
  /** Hard-negative mining for contrastive/embedding training: per
    * probe, candidates the LEXICAL retriever ranks highly (top-20
    * min-tf overlap) that the DENSE retriever does NOT place in its
    * top-20 — surface-similar but semantically distant, the exact
    * negatives that teach an embedding model the difference. Pure
    * composition of the two k-bounded legs: left-anti join of the
    * lexical list against the dense list on (q_id, c_id), keep the 5
    * lexically closest survivors. Both inputs are ≤k rows per probe,
    * so the anti-join and re-rank are bounded regardless of corpus
    * size; all the heavy lifting happened inside the retriever legs'
    * scale-safe plans. */
  val q167HardNegatives: Q = (s, d) => {
    val nq = 10; val k = 20
    val lex = lexicalTopK(s, d, nq, k)
    val den = VectorOps.bruteForceKnn(
        Tables.embeddings(s, d).filter(col("vec_id") < nq),
        Tables.embeddings(s, d), k = k)
      .select(col("q_id"), col("c_id"))
    lex.join(den, Seq("q_id", "c_id"), "left_anti")
      .filter(col("rank_lex") <= 5)
      .select(col("q_id"), col("c_id"), col("n_shared"), col("rank_lex"))
      .orderBy("q_id", "rank_lex")
  }

  private val q167Sql =
    """WITH tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM (
      |        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
      |        FROM documents) GROUP BY 1, 2),
      |lexs AS (SELECT p.doc_id AS q_id, c.doc_id AS c_id,
      |                CAST(SUM(LEAST(c.tf, p.tf)) AS BIGINT) AS n_shared
      |         FROM tf c JOIN tf p ON p.t = c.t
      |         WHERE p.doc_id < 10 AND c.doc_id <> p.doc_id GROUP BY 1, 2),
      |lex AS (SELECT q_id, c_id, n_shared,
      |               CAST(row_number() OVER (PARTITION BY q_id
      |                 ORDER BY n_shared DESC, c_id) AS INT) AS rank_lex
      |        FROM lexs QUALIFY rank_lex <= 20),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |dens AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |                list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |         FROM n p CROSS JOIN n c
      |         WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
      |den AS (SELECT q_id, c_id,
      |               CAST(row_number() OVER (PARTITION BY q_id
      |                 ORDER BY cos DESC, c_id) AS INT) AS rd
      |        FROM dens QUALIFY rd <= 20)
      |SELECT l.q_id, l.c_id, l.n_shared, l.rank_lex
      |FROM lex l ANTI JOIN den d ON d.q_id = l.q_id AND d.c_id = l.c_id
      |WHERE l.rank_lex <= 5
      |ORDER BY l.q_id, l.rank_lex""".stripMargin

  // ---------------------------------------------------------------- clustering quality: ari + purity
  /** Clustering-quality evaluation — the measurement stage that tells
    * a curation pipeline whether its embedding clusters (the backbone
    * of SemDeDup, cluster-balanced sampling, IVF cells) actually
    * track meaning: Adjusted Rand Index and purity of the k-means
    * cells against the held-out `label` column. ARI is the canonical
    * chance-corrected agreement and is RATIONAL — every term is a
    * pair count C(x,2) in exact int64 (products kept doubled to dodge
    * the odd-sum halving), so the single double division at the end
    * is the only float op and the hash gate holds cross-engine.
    * Contingency = one groupBy(cell, label); margins are two more
    * tiny aggregations; all one-row frames broadcast-crossed. At
    * >~50k evaluated vectors the doubled int64 products approach
    * 2^63 — swap to DECIMAL(38,0) there (ARI is evaluated on a
    * sample at corpus scale anyway). */
  val q168ClusterAri: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cells = VectorOps.kmeansCells(emb, "vec_id", k = 4, iters = 1)
    val ct = cells.join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("nij"))
    val sumIj = ct.agg(sum(expr("(nij * (nij - 1)) div 2")).as("sum_ij"))
    val aRow = ct.groupBy("cell").agg(sum("nij").as("ai"), max("nij").as("mi"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).as("sum_a"),
        sum("mi").as("pur_num"), count(lit(1)).as("n_cells"))
    val bRow = ct.groupBy("label").agg(sum("nij").as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).as("sum_b"),
        count(lit(1)).as("n_labels"))
    val nRow = ct.agg(sum("nij").as("n"))
      .withColumn("cn2", expr("(n * (n - 1)) div 2"))
    sumIj.crossJoin(broadcast(aRow)).crossJoin(broadcast(bRow))
      .crossJoin(broadcast(nRow))
      .select(col("n"), col("n_cells"), col("n_labels"), col("pur_num"),
        // degenerate partitions (n=1, or both partitions trivial)
        // zero the ARI denominator: undefined -> NULL, never a crash
        when((col("cn2") * (col("sum_a") + col("sum_b")) -
            lit(2L) * col("sum_a") * col("sum_b")) === 0L,
          lit(null).cast("double"))
          .otherwise(
            (lit(2L) * (col("cn2") * col("sum_ij") - col("sum_a") * col("sum_b")))
              .cast("double") /
              (col("cn2") * (col("sum_a") + col("sum_b")) -
                lit(2L) * col("sum_a") * col("sum_b")).cast("double")).as("ari"),
        (col("pur_num").cast("double") / col("n").cast("double")).as("purity"))
  }

  private val q168Sql =
    """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      |h AS (SELECT vec_id, v,
      |             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh
      |      FROM e0),
      |seeds AS (SELECT vec_id, v, hh FROM h ORDER BY hh, vec_id LIMIT 4),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS INT) AS cell,
      |              v AS cv
      |       FROM seeds),
      |a1 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e0 e CROSS JOIN c0 c) WHERE rn = 1),
      |x AS (SELECT a1.cell, generate_subscripts(e.v, 1) - 1 AS dim,
      |             CAST(round(unnest(e.v) * 1e6) AS BIGINT) AS xi
      |      FROM e0 e JOIN a1 USING (vec_id)),
      |cm AS (SELECT cell, dim, CAST(SUM(xi) AS DOUBLE) / COUNT(*) / 1e6 AS c
      |       FROM x GROUP BY 1, 2),
      |c1 AS (SELECT cell, list(c ORDER BY dim) AS cv FROM cm GROUP BY 1),
      |a2 AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, c.cell,
      |                row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |                  list_dot_product(e.v, c.cv)
      |                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
      |                  DESC, c.cell) AS rn
      |         FROM e0 e CROSS JOIN c1 c) WHERE rn = 1),
      |ct AS (SELECT a2.cell, e.label, CAST(COUNT(*) AS BIGINT) AS nij
      |       FROM a2 JOIN e0 e USING (vec_id) GROUP BY 1, 2),
      |sij AS (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij FROM ct),
      |am AS (SELECT cell, CAST(SUM(nij) AS BIGINT) AS ai,
      |              CAST(MAX(nij) AS BIGINT) AS mi
      |       FROM ct GROUP BY 1),
      |ar AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a,
      |              CAST(SUM(mi) AS BIGINT) AS pur_num,
      |              CAST(COUNT(*) AS BIGINT) AS n_cells
      |       FROM am),
      |bm AS (SELECT label, CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
      |br AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b,
      |              CAST(COUNT(*) AS BIGINT) AS n_labels
      |       FROM bm),
      |nr AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
      |              CAST((SUM(nij) * (SUM(nij) - 1)) // 2 AS BIGINT) AS cn2
      |       FROM ct)
      |SELECT nr.n, ar.n_cells, br.n_labels, ar.pur_num,
      |       CASE WHEN nr.cn2 * (ar.sum_a + br.sum_b)
      |                 - 2 * ar.sum_a * br.sum_b = 0 THEN NULL
      |            ELSE CAST(2 * (nr.cn2 * sij.sum_ij - ar.sum_a * br.sum_b) AS DOUBLE)
      |                 / CAST(nr.cn2 * (ar.sum_a + br.sum_b)
      |                        - 2 * ar.sum_a * br.sum_b AS DOUBLE) END AS ari,
      |       CAST(ar.pur_num AS DOUBLE) / CAST(nr.n AS DOUBLE) AS purity
      |FROM sij CROSS JOIN ar CROSS JOIN br CROSS JOIN nr""".stripMargin

  // ---------------------------------------------------------------- ann quality metrics
  /** ANN retriever evaluation — recall@5 and MRR of the LSH index
    * against the exact brute-force ground truth, as a first-class
    * VERIFIED query rather than a test-only assertion: the metric a
    * pipeline watches when it tunes nPlanes/nprobe or swaps index
    * types, and the number that justifies shipping an approximate
    * index at all. Per probe: hits = |LSH top-5 ∩ exact top-5| (an
    * equi-join of two k-bounded lists), rr = 1e6 div (LSH rank of
    * the TRUE nearest neighbor), 0 when the index misses it
    * entirely. Metrics aggregate in exact integers (hit counts,
    * reciprocal micros); the two mean divisions are the only float
    * ops. Both retriever legs are the audited scale shapes (probe
    * broadcast + bucket equi-join); the metric math runs on
    * nq-bounded frames. */
  val q175AnnMetrics: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    // probes = q53's planted near-twins (first component zeroed, ids
    // +100000): each probe's TRUE nearest neighbor is its source
    // vector, so recall/MRR measure something a random near-orthogonal
    // corpus cannot — whether the index finds the planted neighbor
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(0.0 AS FLOAT) ELSE x END)")
          .as("embedding"))
    val corpus = emb.unionByName(probes)
    val exact = VectorOps.bruteForceKnn(probes, corpus, k = 5)
      .select(col("q_id"), col("c_id"), col("rank").as("rank_true"))
    val ann = VectorOps.lshAnn(probes, corpus, k = 5, nPlanes = 8)
      .select(col("q_id"), col("c_id"), col("rank").as("rank_ann"))
    val hits = exact.join(ann, Seq("q_id", "c_id"))
    val perProbe = exact.groupBy("q_id").agg(count(lit(1)).as("n_true"))
      .join(hits.groupBy("q_id").agg(
          count(lit(1)).as("n_hit"),
          max(when(col("rank_true") === 1,
            expr("1000000 div rank_ann")).otherwise(lit(0L))).as("rr_micros")),
        Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hit", "rr_micros"))
    perProbe.agg(
        count(lit(1)).as("n_probes"),
        sum("n_hit").as("total_hits"),
        sum("n_true").as("total_true"),
        sum("rr_micros").as("sum_rr_micros"))
      .select(col("n_probes"), col("total_hits"), col("total_true"),
        (col("total_hits").cast("double") / col("total_true").cast("double"))
          .as("recall_at_5"),
        (col("sum_rr_micros").cast("double") /
          (col("n_probes") * lit(1000000L)).cast("double")).as("mrr"))
  }

  private val q175Sql =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planted AS (SELECT vec_id + 100000 AS vec_id,
      |                   list_prepend(0.0, v[2:]) AS v
      |            FROM base WHERE vec_id < 20),
      |e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |px AS (SELECT * FROM nrm WHERE vec_id BETWEEN 100000 AND 100019),
      |tpr AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |               list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |        FROM px p CROSS JOIN nrm c WHERE c.vec_id != p.vec_id),
      |tru AS (SELECT q_id, c_id, rank_true FROM (
      |          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, c_id) AS INT) AS rank_true FROM tpr)
      |        WHERE rank_true <= 5),
      |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(8)) AS j) j),
      |votes AS (SELECT vec_id, j, SUM(sgn * xi) AS vsum FROM pl GROUP BY 1, 2),
      |bk AS (SELECT vec_id,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1),
      |nb AS (SELECT e.vec_id, v, sqrt(list_dot_product(v, v)) AS nm, bucket
      |       FROM e JOIN bk ON bk.vec_id = e.vec_id),
      |pb AS (SELECT * FROM nb WHERE vec_id BETWEEN 100000 AND 100019),
      |apr AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |               list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |        FROM pb p JOIN nb c ON c.bucket = p.bucket AND c.vec_id != p.vec_id),
      |ann AS (SELECT q_id, c_id, rank_ann FROM (
      |          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, c_id) AS INT) AS rank_ann FROM apr)
      |        WHERE rank_ann <= 5),
      |h AS (SELECT t.q_id, t.c_id, t.rank_true, a.rank_ann
      |      FROM tru t JOIN ann a ON a.q_id = t.q_id AND a.c_id = t.c_id),
      |pp AS (SELECT t.q_id,
      |              CAST(COUNT(*) AS BIGINT) AS n_true,
      |              CAST(COALESCE(hh.n_hit, 0) AS BIGINT) AS n_hit,
      |              CAST(COALESCE(hh.rr, 0) AS BIGINT) AS rr_micros
      |       FROM tru t LEFT JOIN (
      |         SELECT q_id, COUNT(*) AS n_hit,
      |                MAX(CASE WHEN rank_true = 1
      |                         THEN 1000000 // rank_ann ELSE 0 END) AS rr
      |         FROM h GROUP BY 1) hh ON hh.q_id = t.q_id
      |       GROUP BY t.q_id, hh.n_hit, hh.rr)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
      |       CAST(SUM(n_hit) AS BIGINT) AS total_hits,
      |       CAST(SUM(n_true) AS BIGINT) AS total_true,
      |       CAST(SUM(n_hit) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE) AS recall_at_5,
      |       CAST(SUM(rr_micros) AS DOUBLE)
      |         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mrr
      |FROM pp""".stripMargin

  // ---------------------------------------------------------------- q187: bitext mining (margin + mutual best)
  /** Bitext / parallel-pair mining (the alignment pass that harvests
    * translation pairs for multilingual training): side A = even
    * vec_ids, side B = odd (the corpus-drift even/odd convention —
    * in production, two language collections). For each A probe, the
    * top-2 B candidates by cosine; margin = cos1 − cos2 (the
    * difference form of Artetxe & Schwenk's margin scoring — ONE
    * subtraction of two already-computed doubles, no float sums, so
    * bit-exact cross-engine); a pair is accepted when it is the
    * MUTUAL best (A's best B whose best A is that probe) and the
    * margin clears the gate — the standard filter that kills hub
    * vectors with many near-equal neighbors.
    *
    * Scale shape: ONE pairs frame (the documented exact-eval
    * baseline, like q45 — the ORACLE form; q198 is the serving form
    * with [[graft.ops.similarity.Bitext.lshPairs]] candidates) feeds
    * both directions; per-probe top-2 and per-candidate top-1 are
    * high-cardinality-keyed windows; the mutual check is an
    * equi-join of the two winner sets. */
  val q187BitextMine: Q = (s, d) => {
    import graft.ops.similarity.Bitext
    val emb = Tables.embeddings(s, d)
    val a = emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val b = emb.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
    // evaluation trade, MEASURED at sf1: the pairs frame feeds three
    // legs (top-2 both directions), and the b_id window's exchange
    // re-runs the cross join (the a_id legs share one exchange). A
    // leafCache that stores the 6.25M-row pair frame to kill that
    // re-evaluation benched 40-60 s vs 11.5 s for the re-evaluated
    // form — the codegen'd BNLJ + native DotProduct recompute is far
    // cheaper than materializing and re-shuffling the stored rows.
    // Exchange reuse is the right tool here; q198 is the serving
    // form (LSH candidates into the identical filter).
    Bitext.marginMutual(Bitext.exactPairs(a, b), marginMin = 0.01)
      .orderBy("a_id")
  }

  private val q187Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |a AS (SELECT vec_id AS a_id, v AS av, nm AS an FROM n WHERE vec_id % 2 = 0),
      |b AS (SELECT vec_id AS b_id, v AS bv, nm AS bn FROM n WHERE vec_id % 2 = 1),
      |pr AS (SELECT a_id, b_id, list_dot_product(av, bv) / (an * bn) AS cos
      |       FROM a CROSS JOIN b),
      |ra AS (SELECT *, row_number() OVER (
      |         PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk FROM pr),
      |abest AS (
      |  SELECT r1.a_id, r1.b_id, r1.cos, r1.cos - r2.cos AS margin
      |  FROM ra r1 JOIN ra r2 ON r1.a_id = r2.a_id AND r2.rk = 2
      |  WHERE r1.rk = 1),
      |rb AS (SELECT *, row_number() OVER (
      |         PARTITION BY b_id ORDER BY cos DESC, a_id) AS rk FROM pr),
      |bbest AS (SELECT b_id, a_id AS b_best_a FROM rb WHERE rk = 1),
      |j AS (
      |  SELECT ab.a_id, ab.b_id, ab.cos, ab.margin,
      |         CASE WHEN bb.b_best_a = ab.a_id THEN 'Y' ELSE 'N' END AS mutual
      |  FROM abest ab JOIN bbest bb ON ab.b_id = bb.b_id)
      |SELECT a_id, b_id, cos, margin, mutual,
      |       CASE WHEN mutual = 'Y' AND margin >= 0.01 THEN 'Y' ELSE 'N' END AS accept
      |FROM j ORDER BY a_id""".stripMargin

  // ---------------------------------------------------------------- q198: ANN-backed bitext mining
  /** Bitext mining, SERVING form — q187's exact margin + mutual-best
    * filter fed by multi-table LSH candidates instead of the
    * all-pairs cross join (the one remaining measured scale-killer:
    * q187 grows 7.7x per data decade, SCALE.md). Candidates: 4
    * tables x 8 hyperplanes, a pair is scored iff the two sides
    * share a bucket in ANY table ([[graft.ops.similarity.Bitext
    * .lshPairs]] — bucket equi-joins, pairs deduped before scoring).
    *
    * The fixture plants 20 PARALLEL PAIRS (b-side twins of the first
    * 20 a-side vectors, ids +100001 so even sources get odd
    * partners, component 0 zeroed — q53's perturbation): a planted
    * partner is its source's mutual best at cosine ≈0.99 with a wide
    * margin, so the accept set measurably recovers the planted
    * alignment. BitextSpec gates recall vs the exact filter on the
    * same input; the oracle replays buckets, margins and the gate
    * bit-for-bit. */
  val q198BitextAnn: Q = (s, d) => {
    import graft.ops.similarity.Bitext
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val twins = emb.filter(col("vec_id") < 40 && col("vec_id") % 2 === 0)
      .select((col("vec_id") + 100001).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(0.0 AS FLOAT) ELSE x END)")
          .as("embedding"))
    val all = emb.unionByName(twins)
    val a = all.filter(col("vec_id") % 2 === 0)
    val b = all.filter(col("vec_id") % 2 === 1)
    Bitext.marginMutual(Bitext.lshPairs(a, b, nPlanes = 8, nTables = 4),
        marginMin = 0.01)
      .orderBy("a_id")
  }

  private val q198Sql =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |twins AS (SELECT vec_id + 100001 AS vec_id, list_prepend(0.0, v[2:]) AS v
      |          FROM base WHERE vec_id < 40 AND vec_id % 2 = 0),
      |e AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
      |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(32)) AS j) j),
      |votes AS (SELECT vec_id, j // 8 AS t, j, SUM(sgn * xi) AS vsum
      |          FROM pl GROUP BY 1, 2, 3),
      |bk AS (SELECT vec_id, t,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j % 8) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT p.vec_id AS a_id, c.vec_id AS b_id
      |         FROM bk p JOIN bk c ON c.t = p.t AND c.bucket = p.bucket
      |         WHERE p.vec_id % 2 = 0 AND c.vec_id % 2 = 1),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |pr AS (SELECT cand.a_id, cand.b_id,
      |              list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |       FROM cand JOIN n p ON p.vec_id = cand.a_id
      |       JOIN n c ON c.vec_id = cand.b_id),
      |ra AS (SELECT *, row_number() OVER (
      |         PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk FROM pr),
      |abest AS (
      |  SELECT r1.a_id, r1.b_id, r1.cos, r1.cos - r2.cos AS margin
      |  FROM ra r1 JOIN ra r2 ON r1.a_id = r2.a_id AND r2.rk = 2
      |  WHERE r1.rk = 1),
      |rb AS (SELECT *, row_number() OVER (
      |         PARTITION BY b_id ORDER BY cos DESC, a_id) AS rk FROM pr),
      |bbest AS (SELECT b_id, a_id AS b_best_a FROM rb WHERE rk = 1),
      |j AS (
      |  SELECT ab.a_id, ab.b_id, ab.cos, ab.margin,
      |         CASE WHEN bb.b_best_a = ab.a_id THEN 'Y' ELSE 'N' END AS mutual
      |  FROM abest ab JOIN bbest bb ON ab.b_id = bb.b_id)
      |SELECT a_id, b_id, cos, margin, mutual,
      |       CASE WHEN mutual = 'Y' AND margin >= 0.01 THEN 'Y' ELSE 'N' END AS accept
      |FROM j ORDER BY a_id""".stripMargin

  // ---------------------------------------------------------------- q200: MP4 container metadata walk
  /** REAL MP4/ISO-BMFF container-metadata extraction (q200): payloads
    * are synthesized per doc as genuine box streams — ftyp (brand
    * list varies with parity), moov>mvhd (timescale/duration), an
    * optional free box, and an mdat that uses the 64-bit LARGESIZE
    * header form for id%7==3 — then parsed back by the pure-JDK box
    * walker [[MultimodalOps.mp4ContainerMeta]]. Every extracted field
    * has a closed form in doc_id, so the oracle verifies the
    * synth->walk round trip WITHOUT parsing (q148's pattern applied
    * to video containers; codec decode stays honestly out of scope).
    * %10==7 docs carry raw text bytes and must gate ok='N' with null
    * fields, never a task failure. */
  val q200Mp4Meta: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.mp4ContainerMeta(
      MultimodalOps.synthMp4Payload(docs, "doc_id", "text", "corrupt"),
      "doc_id")
      .orderBy("doc_id")
  }

  private val q200Sql =
    s"""SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
      |       END AS n_boxes,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE 'isom' END AS major_brand,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(doc_id % 512 AS INT) END AS minor_version,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(600 + (doc_id % 4) * 300 AS INT) END AS timescale,
      |  CASE WHEN doc_id % 10 = 7 THEN NULL
      |       ELSE CAST(1000 + doc_id % 5000 AS BIGINT) END AS duration,
      |  CASE WHEN doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok
      |FROM documents WHERE doc_id < $clipCap ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q202: MP4 sample tables (keyframe math)
  /** REAL sample-table parse (q202) — the container-level frame
    * sampler: payloads carry a full `moov>trak>mdia>minf>stbl`
    * subtree (stts with TWO run-length entries, stss sync samples,
    * variant-form stsz, stco — plus a tkhd leaf the walker must
    * skip), and [[MultimodalOps.mp4SampleTable]] re-derives per clip
    * the sample count (cross-checked stsz vs Σstts), media
    * timescale, duration in ticks, keyframe count, the LAST
    * keyframe's presentation tick (a prefix sum over the run-length
    * table — the seek math a keyframe sampler runs instead of a
    * decoder), and total sample bytes. Every value has a closed form
    * in doc_id that the oracle computes WITHOUT parsing. Corrupt
    * rows (%10==7, raw text) and index-less containers (%13==11,
    * trak without stbl) both gate ok='N' with null fields. */
  val q202Mp4Samples: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.mp4SampleTable(
      MultimodalOps.synthMp4TrackPayload(docs, "doc_id", "text", "corrupt"),
      "doc_id")
      .orderBy("doc_id")
  }

  private val q202Sql =
    s"""WITH p AS (
      |  SELECT doc_id,
      |    2 + doc_id % 5 AS n1, 100 + doc_id % 50 AS d1,
      |    1 + doc_id % 4 AS n2, 200 + doc_id % 30 AS d2,
      |    1 + doc_id % 3 AS k,
      |    (doc_id % 10 = 7 OR doc_id % 13 = 11) AS bad
      |  FROM documents WHERE doc_id < $clipCap),
      |q AS (
      |  SELECT *, n1 + n2 AS n,
      |    1 + k * ((n1 + n2 - 1) // k) AS last_kf
      |  FROM p)
      |SELECT doc_id,
      |  CASE WHEN bad THEN NULL ELSE CAST(n AS INT) END AS n_samples,
      |  CASE WHEN bad THEN NULL
      |       ELSE CAST(1000 * (1 + doc_id % 3) AS INT) END AS media_timescale,
      |  CASE WHEN bad THEN NULL
      |       ELSE CAST(n1 * d1 + n2 * d2 AS BIGINT) END AS duration_ticks,
      |  CASE WHEN bad THEN NULL
      |       ELSE CAST(1 + (n - 1) // k AS INT) END AS n_keyframes,
      |  CASE WHEN bad THEN NULL
      |       WHEN last_kf - 1 <= n1 THEN CAST((last_kf - 1) * d1 AS BIGINT)
      |       ELSE CAST(n1 * d1 + (last_kf - 1 - n1) * d2 AS BIGINT)
      |       END AS kf_last_tick,
      |  CASE WHEN bad THEN NULL
      |       ELSE (SELECT CAST(SUM(50 + (doc_id + i) % 20) AS BIGINT)
      |             FROM unnest(range(n)) t(i)) END AS bytes_total,
      |  CASE WHEN bad THEN 'N' ELSE 'Y' END AS ok
      |FROM q ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q203: audio fingerprint near-dup
  /** Acoustic near-dup dedup via REAL fingerprinting (q203) — the
    * audio leg of the multimodal dedup triangle (text MinHash q40-44,
    * image dHash q162, audio here): tone-shaped WAV clips are
    * encoded and DECODED through javax.sound, windowed into exact
    * int64 energies, and fingerprinted by the sign of consecutive
    * energy deltas ([[MultimodalOps.wavFingerprint]] — the
    * Haitsma-Kalker shape, volume-invariant by construction). Dedup
    * then runs at the HASH level exactly like the image path: exact
    * clusters = groupBy(fp) (same class+variant → bit-identical
    * fingerprint), near-dup partners = 8-bit-band LSH over the
    * DISTINCT fingerprints + Hamming ≤ 6 verify (pigeonhole: ≤3
    * differing bits always share one of 4 bands — the planted
    * variants differ in ≤2 bits, guaranteed recall). Banding is over
    * pattern space (distinct fps), never docs; every doc-level stage
    * is one hash groupBy — corpus-scale clean. The oracle rebuilds
    * every fingerprint arithmetically from the planted amplitudes
    * (energy order = amplitude order, no decode) and replays
    * band+Hamming verbatim; corrupt payloads (%10==7) gate ok='N'. */
  val q203AudioFingerprint: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .select(col("doc_id"), (col("doc_id") % 17).as("cls"),
        (col("doc_id") % 5 === 4).as("variant"),
        (col("doc_id") % 10 === 7).as("corrupt"))
    val fps = MultimodalOps.wavFingerprint(
      MultimodalOps.synthToneWavPayload(
        docs, "doc_id", "cls", "variant", "corrupt"),
      "doc_id", windowSamples = 32)
    val reps = graft.ops.Materialize.localize(
      fps.filter(col("ok") === "Y").groupBy("fp")
        .agg(min("doc_id").as("cluster_rep"), count(lit(1)).as("cluster_sz")))
    val bands = reps.select(col("fp"), col("cluster_sz"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("fp"), 8 * b).bitwiseAND(lit(0xFFL)).as("bv"))): _*))
          .as("e"))
      .select(col("fp"), col("cluster_sz"),
        col("e.band").as("band"), col("e.bv").as("bv"))
    val cand = bands.select(col("fp"), col("band"), col("bv"))
      .join(bands.select(col("fp").as("other"), col("cluster_sz").as("osz"),
        col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("fp") =!= col("other"))
      .select("fp", "other", "osz").distinct()
    val near = cand
      .filter(bit_count(col("fp").bitwiseXOR(col("other"))).between(1, 6))
      .groupBy("fp").agg(sum("osz").as("near_ct"))
    fps.join(reps, Seq("fp"), "left").join(near, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("ok"),
        col("cluster_rep"), col("cluster_sz"),
        when(col("ok") === "Y", coalesce(col("near_ct"), lit(0L))).as("near_ct"))
      .orderBy("doc_id")
  }

  private val q203Sql =
    s"""WITH w AS (SELECT i FROM generate_series(0, 32) t(i)),
      |b AS (SELECT doc_id, CAST(doc_id % 17 AS BIGINT) AS c, (doc_id % 5 = 4) AS v
      |      FROM documents WHERE doc_id < $clipCap AND doc_id % 10 <> 7),
      |e AS (SELECT doc_id, i,
      |        (CASE WHEN v AND i = 3 THEN 50 ELSE 10 END)
      |          + ((c*7 + i*i) % 23) AS a
      |      FROM b CROSS JOIN w),
      |h AS MATERIALIZED (
      |  SELECT e1.doc_id,
      |    COALESCE(bit_or(1::BIGINT << e1.i) FILTER (WHERE e2.a > e1.a), 0) AS fp
      |  FROM e e1 JOIN e e2 ON e2.doc_id = e1.doc_id AND e2.i = e1.i + 1
      |  GROUP BY 1),
      |reps AS MATERIALIZED (SELECT fp, MIN(doc_id) AS cluster_rep,
      |                             COUNT(*) AS cluster_sz
      |                      FROM h GROUP BY 1),
      |bands AS MATERIALIZED (SELECT fp, cluster_sz, band,
      |                              (fp >> (8*band)) & 255 AS bv
      |  FROM reps CROSS JOIN generate_series(0, 3) s(band)),
      |cand AS (SELECT DISTINCT a.fp AS fp, b2.fp AS other,
      |                b2.cluster_sz AS osz
      |  FROM bands a JOIN bands b2 USING (band, bv) WHERE a.fp <> b2.fp),
      |near AS (SELECT fp, CAST(SUM(osz) AS BIGINT) AS near_ct FROM cand
      |  WHERE bit_count(xor(fp, other)) BETWEEN 1 AND 6 GROUP BY 1)
      |SELECT d.doc_id, h.fp,
      |  CASE WHEN d.doc_id % 10 = 7 THEN 'N' ELSE 'Y' END AS ok,
      |  r.cluster_rep, r.cluster_sz,
      |  CASE WHEN d.doc_id % 10 = 7 THEN NULL
      |       ELSE COALESCE(n.near_ct, 0) END AS near_ct
      |FROM documents d
      |LEFT JOIN h ON h.doc_id = d.doc_id
      |LEFT JOIN reps r ON r.fp = h.fp
      |LEFT JOIN near n ON n.fp = h.fp
      |WHERE d.doc_id < $clipCap
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q205: video frame decode (RIFF-AVI + real codec)
  /** REAL video frame decode (q205) — the frame leg video was
    * missing: clips are synthesized as canonical RIFF-AVI containers
    * (hdrl/avih timing, strl stream header, movi frame chunks, idx1
    * keyframe flags) whose frames are complete BMP streams — AVI's
    * native uncompressed-DIB form, LOSSLESS so every decoded pixel
    * has a closed form — and [[MultimodalOps.aviDecodeFrames]] walks
    * the RIFF grammar and decodes EVERY frame through ImageIO's real
    * BMP codec, emitting per frame the exact red-channel sum, a real
    * nearest-neighbor 4x2 thumbnail's red sum, the idx1 keyframe
    * flag and the avih-derived presentation time. Three planted
    * failure modes, each gated differently: raw-text payloads
    * (%10==7) and an idx1 whose entry count lies about the movi
    * chunk count (%13==11) are CLIP-level corruption (one null row,
    * ok='N'); a garbled frame-0 chunk inside a well-formed container
    * (%9==5) gates only that FRAME (container-derived is_key/pts_us
    * survive, decode fields null). The oracle replays dims, sums,
    * keyframe cadence and timing arithmetically from doc_id WITHOUT
    * decoding. Map-only end to end — the scale shape of a 100 TB
    * video-curation decode pass. */
  val q205VideoFrames: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < clipCap)
      .withColumn("corrupt", col("doc_id") % 10 === 7)
    MultimodalOps.aviDecodeFrames(
      MultimodalOps.synthAviPayload(docs, "doc_id", "text", "corrupt"),
      "doc_id", outW = 4, outH = 2)
      .orderBy(col("doc_id"), col("frame_no"))
  }

  private val q205Sql =
    s"""WITH p AS (
      |  SELECT doc_id,
      |    2 + doc_id % 4 AS n, 8 + doc_id % 6 AS w, 4 + doc_id % 4 AS h,
      |    1 + doc_id % 3 AS k, 33333 + doc_id % 1000 AS uspf,
      |    (doc_id % 10 = 7) AS corrupt,
      |    (doc_id % 10 <> 7 AND doc_id % 13 = 11) AS badidx,
      |    (doc_id % 10 <> 7 AND doc_id % 13 <> 11 AND doc_id % 9 = 5) AS badframe
      |  FROM documents WHERE doc_id < $clipCap),
      |f AS (
      |  SELECT doc_id, CAST(i AS INT) AS frame_no, w, h, k, uspf,
      |    (badframe AND i = 0) AS bad,
      |    (doc_id * 37 + i * 11) % 256 AS c
      |  FROM p, unnest(range(n)) t(i)
      |  WHERE NOT corrupt AND NOT badidx)
      |SELECT doc_id, frame_no,
      |  CASE WHEN bad THEN NULL ELSE CAST(w AS INT) END AS width,
      |  CASE WHEN bad THEN NULL ELSE CAST(h AS INT) END AS height,
      |  CASE WHEN bad THEN NULL ELSE CAST(w * h * c AS BIGINT) END AS red_sum,
      |  CASE WHEN bad THEN NULL ELSE CAST(8 * c AS BIGINT) END AS resized_red_sum,
      |  (frame_no % k = 0) AS is_key,
      |  CAST(frame_no * uspf AS BIGINT) AS pts_us,
      |  CASE WHEN bad THEN 'N' ELSE 'Y' END AS ok
      |FROM f
      |UNION ALL
      |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'N'
      |FROM p WHERE corrupt OR badidx
      |ORDER BY doc_id, frame_no""".stripMargin

  // ---------------------------------------------------------------- q199: serving kNN (ANN + recall audit)
  /** The catalog's SERVING kNN — the bucketed multi-table LSH
    * retriever with the exact-truth audit attached, replacing q45's
    * all-pairs cross join as the production entry (q45 stays as the
    * oracle/ground-truth baseline ONLY). Probes are q175's planted
    * near-twins (ids +100000, component 0 zeroed) so the audit
    * measures whether the index finds a real neighbor, not noise
    * ranking among near-orthogonal vectors. Output: the ANN top-5
    * per probe, each row stamped with its EXACT rank (`rank_true`,
    * 0 = the pair is not in the exact top-5) — the per-row form of
    * q175's recall/MRR summary, so the hash gate covers the audit
    * itself and BitextSpec asserts the recall floor from the same
    * rows. The exact leg costs |probes| x N (20 probes — an audit,
    * not a serving path); the retriever leg is bucket equi-joins. */
  val q199KnnAnnGated: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(0.0 AS FLOAT) ELSE x END)")
          .as("embedding"))
    val corpus = emb.unionByName(probes)
    val ann = VectorOps.lshAnnMulti(probes, corpus, k = 5, nPlanes = 8, nTables = 4)
      .withColumn("rank", col("rank").cast("int"))
    val truth = VectorOps.bruteForceKnn(probes, corpus, k = 5)
      .select(col("q_id"), col("c_id"), col("rank").cast("int").as("rank_true"))
    ann.join(truth, Seq("q_id", "c_id"), "left")
      .na.fill(0, Seq("rank_true"))
      .select("q_id", "c_id", "rank", "cos", "rank_true")
      .orderBy("q_id", "rank")
  }

  private val q199Sql =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planted AS (SELECT vec_id + 100000 AS vec_id,
      |                   list_prepend(0.0, v[2:]) AS v
      |            FROM base WHERE vec_id < 20),
      |e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS k,
      |             CAST(round(unnest(v) * 1e6) AS BIGINT) AS xi
      |      FROM e),
      |pl AS (SELECT vec_id, k, xi, j.j AS j,
      |              ((('0x' || substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1))::INT % 2) * 2 - 1) AS sgn
      |       FROM x, (SELECT unnest(range(32)) AS j) j),
      |votes AS (SELECT vec_id, j // 8 AS t, j, SUM(sgn * xi) AS vsum
      |          FROM pl GROUP BY 1, 2, 3),
      |bk AS (SELECT vec_id, t,
      |              CAST(SUM(CASE WHEN vsum > 0 THEN CAST(pow(2, j % 8) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM votes GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS c_id
      |         FROM bk p JOIN bk c ON c.t = p.t AND c.bucket = p.bucket
      |         WHERE p.vec_id BETWEEN 100000 AND 100019 AND c.vec_id != p.vec_id),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
      |apr AS (SELECT cand.q_id, cand.c_id,
      |               list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |        FROM cand JOIN n p ON p.vec_id = cand.q_id
      |        JOIN n c ON c.vec_id = cand.c_id),
      |ann AS (SELECT q_id, c_id, rank, cos FROM (
      |          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, c_id) AS INT) AS rank FROM apr)
      |        WHERE rank <= 5),
      |px AS (SELECT * FROM n WHERE vec_id BETWEEN 100000 AND 100019),
      |tpr AS (SELECT p.vec_id AS q_id, c.vec_id AS c_id,
      |               list_dot_product(p.v, c.v) / (p.nm * c.nm) AS cos
      |        FROM px p CROSS JOIN n c WHERE c.vec_id != p.vec_id),
      |tru AS (SELECT q_id, c_id, rank_true FROM (
      |          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, c_id) AS INT) AS rank_true FROM tpr)
      |        WHERE rank_true <= 5)
      |SELECT a.q_id, a.c_id, a.rank, a.cos,
      |       CAST(COALESCE(t.rank_true, 0) AS INT) AS rank_true
      |FROM ann a LEFT JOIN tru t ON t.q_id = a.q_id AND t.c_id = a.c_id
      |ORDER BY a.q_id, a.rank""".stripMargin

  // ----------------------------------------------------------------
  val all: Map[String, Q] = Map(
    "q198_bitext_ann" -> q198BitextAnn,
    "q199_knn_ann_gated" -> q199KnnAnnGated,
    "q200_mp4_meta" -> q200Mp4Meta,
    "q202_mp4_samples" -> q202Mp4Samples,
    "q203_audio_fingerprint" -> q203AudioFingerprint,
    "q205_video_frames" -> q205VideoFrames,
    "q187_bitext_mine" -> q187BitextMine,
    "q175_ann_metrics" -> q175AnnMetrics,
    "q168_cluster_ari" -> q168ClusterAri,
    "q165_rrf_fusion" -> q165RrfFusion,
    "q167_hard_negatives" -> q167HardNegatives,
    "q132_semdedup" -> q132SemDedup,
    "q130_cluster_sample" -> q130ClusterSample,
    "q128_pq_adc" -> q128PqAdc,
    "q98_kmeans_ivf_build" -> q98KmeansBuild,
    "q45_embed_knn" -> q45Knn,
    "q46_embed_lsh_ann" -> q46LshAnn,
    "q116_lsh_multi_ann" -> q116LshMultiAnn,
    "q53_embed_neardup" -> q53EmbedNearDup,
    "q77_embed_ivf_ann" -> q77IvfAnn,
    "q207_ivf_serve" -> q207IvfServe,
    "q208_pq_serve_packed" -> q208PqServePacked,
    "q209_ivf_hier_assign" -> q209IvfHierAssign,
    "q210_ivfpq_serve" -> q210IvfPqServe,
    "q211_ivf_shard_assign" -> q211IvfShardAssign,
    "q51_multimodal_meta" -> q51MultimodalMeta,
    "q52_multimodal_decode" -> q52MultimodalDecode,
    "q142_image_decode" -> q142ImageDecode,
    "q148_audio_decode" -> q148AudioDecode,
    "q196_audio_energy" -> q196AudioEnergy,
    "q162_image_dhash" -> q162ImageDhash,
    "q55_frame_sample" -> q55FrameSample,
    "q59_embed_quantize" -> q59EmbedQuantize,
  )

  val oracle: Map[String, String] = Map(
    "q198_bitext_ann" -> q198Sql,
    "q199_knn_ann_gated" -> q199Sql,
    "q200_mp4_meta" -> q200Sql,
    "q202_mp4_samples" -> q202Sql,
    "q203_audio_fingerprint" -> q203Sql,
    "q205_video_frames" -> q205Sql,
    "q187_bitext_mine" -> q187Sql,
    "q175_ann_metrics" -> q175Sql,
    "q168_cluster_ari" -> q168Sql,
    "q165_rrf_fusion" -> q165Sql,
    "q167_hard_negatives" -> q167Sql,
    "q132_semdedup" -> q132Sql,
    "q130_cluster_sample" -> q130Sql,
    "q128_pq_adc" -> q128Sql,
    "q98_kmeans_ivf_build" -> q98Sql,
    "q45_embed_knn" -> q45Sql,
    "q46_embed_lsh_ann" -> q46Sql,
    "q116_lsh_multi_ann" -> q116Sql,
    "q53_embed_neardup" -> q53Sql,
    "q77_embed_ivf_ann" -> q77Sql,
    "q207_ivf_serve" -> q77Sql,
    "q208_pq_serve_packed" -> q128Sql,
    "q209_ivf_hier_assign" -> q209Sql,
    "q210_ivfpq_serve" -> q210Sql,
    "q211_ivf_shard_assign" -> q209Sql,
    "q51_multimodal_meta" -> q51Sql,
    "q52_multimodal_decode" -> q52Sql,
    "q142_image_decode" -> q142Sql,
    "q148_audio_decode" -> q148Sql,
    "q196_audio_energy" -> q196Sql,
    "q162_image_dhash" -> q162Sql,
    "q55_frame_sample" -> q55Sql,
    "q59_embed_quantize" -> q59Sql,
  )
}
