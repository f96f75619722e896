package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.dedup.Dedup
import graft.ops.text.TextOps

/** Training-data pipeline queries: dedup family + text analysis over
  * the `documents` corpus. */
object QueryCatalogText {
  import QueryCatalog.Q

  /** DuckDB replay of Dedup.h60: ('0x'||substr(md5(seed||'|'||x),1,15))::BIGINT */
  private def h60Sql(seedExpr: String, xExpr: String): String =
    s"('0x' || substr(md5($seedExpr || '|' || $xExpr), 1, 15))::BIGINT"

  /** DuckDB replay of Dedup.minHash's Carter-Wegman family: one md5,
    * h1 = hex[1..15], h2 = hex[17..31], h_i = (h1 + i*h2) mod 2^60
    * with the same 2^30 product split (every intermediate < 2^61, so
    * BIGINT-exact — DuckDB errors on int64 overflow otherwise). */
  private def mhSql(iExpr: String, xExpr: String): String =
    s"""((('0x' || substr(md5($xExpr), 1, 15))::BIGINT
       |   + ($iExpr * (('0x' || substr(md5($xExpr), 17, 15))::BIGINT // 1073741824)
       |      % 1073741824) * 1073741824
       |   + $iExpr * (('0x' || substr(md5($xExpr), 17, 15))::BIGINT % 1073741824))
       |  % 1152921504606846976)""".stripMargin

  // ---------------------------------------------------------------- dedup: exact
  /** Exact dedup by content hash, keep min id (re-crawl simulation:
    * first 50 docs duplicated under new ids). */
  val q40DedupExact: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dup = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    Dedup.exact(dup, "doc_id", "text", minOf = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies")).cast("long").as("n_total"),
        sum(col("n_copies") - 1).cast("long").as("n_removed"))
      .orderBy("lang")
  }

  private val q40Sql =
    """WITH dup AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id < 50),
      |g AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |             COUNT(*) AS n_copies, MIN(lang) AS lang
      |      FROM dup GROUP BY 1)
      |SELECT lang, COUNT(*) AS n_unique,
      |       CAST(SUM(n_copies) AS BIGINT) AS n_total,
      |       CAST(SUM(n_copies - 1) AS BIGINT) AS n_removed
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- dedup: minhash signatures
  /** MinHash signature matrix (16 md5-derived hash functions over the
    * word set), pivoted wide. */
  val q41MinHashSig: Q = (s, d) => {
    // map-only form: k=1 shingles ARE the tokens, and min-aggregation
    // is duplicate-blind, so this equals minHash(wordSet(...)) without
    // wordSet's corpus-wide distinct or the signature aggregation
    // (MinHashSigSpec proves the equality)
    Dedup.minHashText(Tables.documents(s, d).filter(col("doc_id") < 50),
      "doc_id", "text", k = 1, n = 16).orderBy("doc_id")
  }

  private val q41Sql = {
    val cols = (0 until 16).map(i =>
      f"MAX(CASE WHEN seed = $i THEN mh END) AS mh$i%02d").mkString(",\n ")
    s"""WITH w AS (SELECT DISTINCT doc_id, w FROM (
       |       SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |       FROM documents WHERE doc_id < 50)),
       |x AS (SELECT doc_id, s.seed,
       |             MIN(${mhSql("s.seed", "w")}) AS mh
       |      FROM w, (SELECT unnest(range(16)) AS seed) s
       |      GROUP BY 1, 2)
       |SELECT doc_id,
       | $cols
       |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- dedup: LSH candidate pairs + jaccard
  /** Full MinHash+LSH near-dup pipeline over word-TRIGRAM shingles:
    * signatures -> 4-row bands -> bucket-join candidates -> exact
    * shingle Jaccard >= 0.7. Shingles (not word sets) keep the
    * candidate set selective on a small shared vocabulary, and the
    * verification cost is bounded by bucket collisions, never N^2. */
  val q42LshPairs: Q = (s, d) => {
    // the whole chain never explodes a corpus-wide shingle: the
    // signature branch is the map-only MinHashSig expression, and the
    // jaccard verifier derives its shingles AFTER the candidate
    // restriction (jaccardTextScoped) — only colliding docs explode
    val docs = Tables.documents(s, d)
    val sig = Dedup.minHashText(docs, "doc_id", "text", 3, 16)
    val bands = Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4)
    val cand = Dedup.candidatePairs(bands, "doc_id")
    // scoped verification: jaccard's internal caches (pairs, candidate
    // shingles) are released before this query returns, and the verified
    // pairs (corpus-sublinear) come back as a self-contained local
    // relation — the minLabelLocalized discipline, no reliance on a
    // harness clearCache between queries
    Dedup.jaccardTextScoped(cand, docs, "doc_id", "text", 3) { j =>
      graft.ops.Materialize.localize(j.filter(col("jaccard") >= 0.7)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"))
    }.orderBy("id_a", "id_b")
  }

  private val q42Sql =
    s"""WITH tok AS (SELECT doc_id,
       |       unnest(string_split_regex(text, '\\s+')) AS tok,
       |       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |     FROM documents),
       |sh0 AS (SELECT doc_id,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |w AS (SELECT DISTINCT doc_id, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT doc_id, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT doc_id, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY doc_id, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |         FROM b a JOIN b b2 USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE a.doc_id < b2.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.doc_id = c.id_a
       |          JOIN w wb ON wb.doc_id = c.id_b AND wb.w = wa.w
       |          GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b,
       |       COALESCE(i.n_inter, 0) AS n_inter, ca.n AS n_a, cb.n AS n_b,
       |       CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(i.n_inter, 0)) AS jaccard
       |FROM cand c
       |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |JOIN cnt ca ON ca.doc_id = c.id_a
       |JOIN cnt cb ON cb.doc_id = c.id_b
       |WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(i.n_inter, 0)) >= 0.7
       |ORDER BY c.id_a, c.id_b""".stripMargin

  // ---------------------------------------------------------------- incremental dedup
  /** Incremental near-dup: the daily-crawl shape — dedup a NEW batch
    * against the standing REFERENCE corpus without ever re-pairing
    * the corpus against itself ([[Dedup.dedupAgainst]]: the corpus
    * tag rides the id's low bit through one shared banding pass, and
    * same-corpus pairs are parity-filtered out BEFORE verification).
    * Reference = the even half; batch = the odd half plus planted
    * re-crawls of long reference docs (4th token dropped — the
    * one-word edit of a re-fetched page). Long docs keep jaccard
    * ~0.9+ so LSH banding catches the planted pairs; the odd half is
    * honestly disjoint and must produce no flags. Output maps uids
    * back to (new_id, ref_id). */
  val q129IncrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    // Planted re-crawl ids carry a dedicated HIGH TAG BIT (2^60), not
    // a fixed additive constant: doc_id + 1e6 would silently collide
    // with real batch ids once the corpus reaches a million docs,
    // merging two documents' shingle sets under one uid. Bit 60 is
    // unreachable by any real doc_id and survives the *2+1 uid encode.
    val recrawl = docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
      .select((col("doc_id") + (1L << 60)).as("doc_id"),
        concat_ws(" ",
          expr("slice(split(text, '\\\\s+'), 1, 3)"),
          expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text"))
    // scoped: verification caches released before the query returns;
    // the flagged pairs (corpus-sublinear) localize
    Dedup.dedupAgainstScoped(ref, fresh.unionByName(recrawl), "doc_id", "text") { j =>
      graft.ops.Materialize.localize(j
        .filter(col("jaccard") >= 0.5)
        .select(
          shiftright(when(col("id_a") % 2 === 1, col("id_a"))
            .otherwise(col("id_b")), 1).as("new_id"),
          shiftright(when(col("id_a") % 2 === 1, col("id_b"))
            .otherwise(col("id_a")), 1).as("ref_id"),
          col("n_inter"), col("jaccard")))
    }.orderBy("new_id", "ref_id")
  }

  private lazy val q129Sql =
    s"""WITH base AS (SELECT doc_id, text, n_chars FROM documents),
       |toks0 AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
       |          FROM base WHERE doc_id % 2 = 0 AND n_chars >= 300),
       |d0 AS (
       |  SELECT doc_id * 2 AS uid, text FROM base WHERE doc_id % 2 = 0
       |  UNION ALL SELECT doc_id * 2 + 1, text FROM base WHERE doc_id % 2 = 1
       |  UNION ALL SELECT (doc_id + 1152921504606846976) * 2 + 1,
       |         array_to_string(tk[1:3], ' ') || ' ' || array_to_string(tk[5:], ' ')
       |         FROM toks0),
       |tok AS (SELECT uid, unnest(string_split_regex(text, '\\s+')) AS tok,
       |               generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |        FROM d0),
       |sh0 AS (SELECT uid,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY uid ORDER BY pos)),
       |w AS (SELECT DISTINCT uid, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT uid, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT uid, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY uid, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.uid AS id_a, b2.uid AS id_b
       |         FROM b a JOIN b b2 USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE a.uid < b2.uid AND a.uid % 2 <> b2.uid % 2),
       |cnt AS (SELECT uid, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.uid = c.id_a
       |          JOIN w wb ON wb.uid = c.id_b AND wb.w = wa.w
       |          GROUP BY 1, 2),
       |j AS (SELECT c.id_a, c.id_b, COALESCE(i.n_inter, 0) AS n_inter,
       |             CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
       |               / (ca.n + cb.n - COALESCE(i.n_inter, 0)) AS jaccard
       |      FROM cand c
       |      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |      JOIN cnt ca ON ca.uid = c.id_a
       |      JOIN cnt cb ON cb.uid = c.id_b)
       |SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END // 2 AS new_id,
       |       CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END // 2 AS ref_id,
       |       n_inter, jaccard
       |FROM j WHERE jaccard >= 0.5 ORDER BY new_id, ref_id""".stripMargin

  // ---------------------------------------------------------------- bucketed-store dedup
  /** q129's incremental-dedup shape against a PERSISTED BUCKETED band
    * store ([[graft.ops.dedup.BandStore]]): the standing corpus's
    * bands are written once, bucketed + sorted on (band, band_key),
    * and the batch probes them with NO store-side exchange — the
    * physical layout that stops every increment from re-shuffling the
    * standing corpus (at 100 TB the store is the dominant side and
    * its exchange is the whole batch cost; PersistentStoresSpec
    * asserts the plan property). Same fixture as q129 (even half =
    * standing, odd half + planted re-crawls = batch) so the planted
    * near-dup pairs must surface identically; ids here are RAW
    * doc_ids on both sides (no uid parity encode — the store carries
    * the corpus tag structurally). Cap semantics: the hot-bucket cap
    * counts STORE rows per bucket (the unbounded side), replayed
    * verbatim by the oracle. */
  val q206StoreDedup: Q = (s, d) => {
    import graft.ops.dedup.BandStore
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    val recrawl = docs.filter(col("doc_id") % 2 === 0 && col("n_chars") >= 300)
      .select((col("doc_id") + (1L << 60)).as("doc_id"),
        concat_ws(" ",
          expr("slice(split(text, '\\\\s+'), 1, 3)"),
          expr("slice(split(text, '\\\\s+'), 5, 1000000)")).as("text"))
    // per-run-unique table name: a fixed shared name would let two
    // concurrent graft processes (bench + verify on one box) drop
    // each other's mid-query store — the q201 per-run-unique-path
    // lesson, catalog-side
    val table = "graft_q206_bands_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // finally: a failed rep (OOM mid-verify) must not leak the
    // UUID-named store — with per-run names nothing else would ever
    // reclaim it
    try {
      BandStore.write(
        Dedup.lshBands(Dedup.minHashText(ref, "doc_id", "text"), "doc_id"), table)
      BandStore.dedupAgainstStoreScoped(
        s, table, ref, fresh.unionByName(recrawl), "doc_id", "text") { j =>
        // localize (corpus-sublinear flags) so the returned frame no
        // longer reads the store table — it is dropped in the finally
        graft.ops.Materialize.localize(j
          .filter(col("jaccard") >= 0.5)
          .select(col("bid").as("new_id"), col("sid").as("ref_id"),
            col("n_inter"), col("jaccard")))
      }.orderBy("new_id", "ref_id")
    } finally BandStore.reset(s, table)
  }

  private lazy val q206Sql =
    s"""WITH base AS (SELECT doc_id, text, n_chars FROM documents),
       |toks0 AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
       |          FROM base WHERE doc_id % 2 = 0 AND n_chars >= 300),
       |d0 AS (
       |  SELECT doc_id AS id, text FROM base
       |  UNION ALL SELECT doc_id + 1152921504606846976,
       |         array_to_string(tk[1:3], ' ') || ' ' || array_to_string(tk[5:], ' ')
       |         FROM toks0),
       |tok AS (SELECT id, unnest(string_split_regex(text, '\\s+')) AS tok,
       |               generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |        FROM d0),
       |sh0 AS (SELECT id,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY id ORDER BY pos)),
       |w AS (SELECT DISTINCT id, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT id, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT id, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY id, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        WHERE id % 2 = 0 AND id < 1152921504606846976
       |        GROUP BY 1, 2 HAVING COUNT(*) <= 64),
       |cand AS (SELECT DISTINCT r.id AS sid, p.id AS bid
       |         FROM b r JOIN b p USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE (r.id % 2 = 0 AND r.id < 1152921504606846976)
       |           AND NOT (p.id % 2 = 0 AND p.id < 1152921504606846976)),
       |cnt AS (SELECT id, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.sid, c.bid, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.id = c.sid
       |          JOIN w wb ON wb.id = c.bid AND wb.w = wa.w
       |          GROUP BY 1, 2),
       |j AS (SELECT c.sid, c.bid, COALESCE(i.n_inter, 0) AS n_inter,
       |             CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
       |               / (ca.n + cb.n - COALESCE(i.n_inter, 0)) AS jaccard
       |      FROM cand c
       |      LEFT JOIN inter i ON i.sid = c.sid AND i.bid = c.bid
       |      JOIN cnt ca ON ca.id = c.sid
       |      JOIN cnt cb ON cb.id = c.bid)
       |SELECT bid AS new_id, sid AS ref_id, n_inter, jaccard
       |FROM j WHERE jaccard >= 0.5 ORDER BY new_id, ref_id""".stripMargin

  // ---------------------------------------------------------------- dedup: simhash
  /** 64-bit SimHash per doc (as two 32-bit halves), md5 bit votes
    * over the word set. */
  val q43SimHash: Q = (s, d) => {
    // map-only form (SimHashSig expression): no wordSet distinct, no
    // vote aggregation — bit-identical to simHash(wordSet(...))
    Dedup.simHashText(Tables.documents(s, d).filter(col("doc_id") < 100),
      "doc_id", "text").orderBy("doc_id")
  }

  private val q43Sql =
    """WITH w AS (SELECT DISTINCT doc_id, w FROM (
      |       SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
      |       FROM documents WHERE doc_id < 100)),
      |bits AS (
      |  SELECT doc_id, j.j AS j,
      |         ((('0x' || substr(md5(w), (j.j // 4) + 1, 1))::INT
      |           // (CASE WHEN j.j % 4 = 0 THEN 8 WHEN j.j % 4 = 1 THEN 4
      |                    WHEN j.j % 4 = 2 THEN 2 ELSE 1 END)) % 2) AS bit
      |  FROM w, (SELECT unnest(range(64)) AS j) j),
      |votes AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS v FROM bits GROUP BY 1, 2),
      |sel AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS b FROM votes)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN j >= 32 THEN b * CAST(pow(2, j - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_hi,
      |  CAST(SUM(CASE WHEN j < 32 THEN b * CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash_lo
      |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- dedup: n-gram jaccard
  /** Bigram-shingle Jaccard within (lang, source) groups via posting
    * lists (Dedup.invertedJaccard) with a document-frequency cap:
    * bigrams shared by more than `NgramMaxDf` docs in a group are
    * dropped BEFORE pair expansion — the hot-shingle m^2 skew guard
    * (see q92, which plants a corpus-wide hot token to prove the
    * bound). At fixture scale no bigram reaches the cap (max df 17 at
    * sf0.1), so results are unchanged from the uncapped form; the
    * oracle mirrors the cap so the two stay equal at ANY scale.
    * Bigrams come straight from the per-row token array (map-side,
    * no tokens-wide window sort). */
  val NgramMaxDf = 50

  /** Per-document DISTINCT (group, bigram) identities as ONE 8-byte
    * xxhash64 of (lang, source, token pair) per bigram — the leanest
    * row the posting-list build can shuffle (r17, guide §2.3).
    *
    * The posting-list build is the one corpus-linear exchange of the
    * whole n-gram family, and its bytes were dominated by row
    * OVERHEAD, not content: the original rows carried (lang, source,
    * raw bigram TEXT) plus — once the aggregation's map side wrapped
    * each key's doc ids into a partial collect_set buffer — an
    * UnsafeArray wrapper per key (234 MB at sf1 on q44 alone;
    * hashing the bigram alone moved it only to 226 MB). No consumer
    * ever reads bigram content or needs the group columns on the
    * posting row (df stats, the df cap, pair expansion and per-doc
    * sizes all need only KEY EQUALITY — q44/q163 group only to scope
    * df, and ' '-joining whitespace-free tokens is injective), so the
    * whole (lang, source, bigram) identity folds into one long,
    * deduped IN-ROW (array_distinct before the explode — collect_set
    * deduped the multiset anyway, so duplicate occurrences were pure
    * wire bytes). Identity-equivalent up to 64-bit collisions, which
    * the DuckDB oracle (replaying string equality) fails loudly at
    * every gated SF.
    *
    * Non-null contract: Spark's xxhash64 SKIPS null inputs
    * (hash(null, x) = hash(x)), so a null lang/source would
    * structurally collide with a shifted tuple — e.g. (null, "x")
    * and ("x", null) fold identically — where the string groupBy
    * kept them distinct. documents.lang/source are non-null by the
    * corpus schema (the oracle gate would fail loudly otherwise);
    * a nullable-group caller must coalesce to a sentinel first. */
  // private[graft]: devtools.PipelinePlans dumps this pipeline's plan
  // as the round's before/after exchange evidence
  private[graft] def docBigrams(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> xxhash64(lang, source, element_at(toks, i + 1), element_at(toks, i + 2)))")))
          .as("bgh"))
  // q44/q163 group by the folded key ALONE (groupCols = Nil): the
  // lang/source columns above exist for q92's df-stat drill, and
  // column pruning drops them below the posting exchange for the
  // Nil-group consumers.

  val q44NgramJaccard: Q = (s, d) =>
    // scoped: the posting-list cache is released before this query
    // returns; the verified pairs localize (corpus-sublinear)
    Dedup.invertedJaccardScoped(docBigrams(Tables.documents(s, d)),
        "doc_id", "bgh", Nil, maxDf = NgramMaxDf) { j =>
      graft.ops.Materialize.localize(j.filter(col("jaccard") >= 0.2)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"))
    }.orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- dedup: containment (excerpt/quote)
  /** Containment-similarity join ([[graft.ops.dedup.Dedup.containment]]):
    * the excerpt/quote detector Jaccard structurally misses — a short
    * excerpt inside a long page scores Jaccard ≈ |A|/|B| (tiny) but
    * containment |A∩B|/|A| = 1.0. Fixture plants real excerpts: every
    * %6==0 doc contributes a second row (id + 1e6) holding its first
    * 2/5 tokens — the prefix's bigram set is a SUBSET of the
    * source's, and because the df-cap drops bigrams by (group, bg)
    * consistently for both docs, the subset property survives the
    * cap and c_ba lands on EXACTLY 1.0. Candidates and (n_inter,
    * n_a, n_b) ride the same df-capped posting-list machinery as q44
    * (bounded maxDf²/2 pair expansion, no corpus-wide self-join);
    * the containment scores are a pure projection on top. */
  val q163Containment: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val excerpts = base.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("lang"), col("source"),
        expr("concat_ws(' ', slice(split(text, '\\\\s+'), 1, " +
          "greatest(4, (size(split(text, '\\\\s+')) * 2) div 5)))").as("text"))
    val corpus = base.unionByName(excerpts)
    Dedup.invertedJaccardScoped(docBigrams(corpus),
        "doc_id", "bgh", Nil, maxDf = NgramMaxDf) { j =>
      graft.ops.Materialize.localize(Dedup.containment(j)
        .filter(greatest(col("c_ab"), col("c_ba")) >= 0.9)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "c_ab", "c_ba"))
    }.orderBy("id_a", "id_b")
  }

  private val q163Sql =
    s"""WITH basedocs AS (SELECT doc_id, lang, source, text FROM documents),
       |exc AS (SELECT doc_id + 1000000 AS doc_id, lang, source,
       |          array_to_string(
       |            string_split_regex(text, '\\s+')[1 :
       |              greatest(4, (len(string_split_regex(text, '\\s+')) * 2) // 5)],
       |            ' ') AS text
       |        FROM documents WHERE doc_id % 6 = 0),
       |docs AS (SELECT * FROM basedocs UNION ALL SELECT * FROM exc),
       |t AS (SELECT doc_id, lang, source,
       |             unnest(string_split_regex(text, '\\s+')) AS w,
       |             generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |      FROM docs),
       |bg0 AS (SELECT doc_id, lang, source,
       |               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
       |        FROM t),
       |bgall AS (SELECT DISTINCT doc_id, lang, source, bg FROM bg0 WHERE bg IS NOT NULL),
       |ok AS (SELECT lang, source, bg FROM bgall
       |       GROUP BY 1, 2, 3 HAVING COUNT(*) <= $NgramMaxDf),
       |bg AS (SELECT b.* FROM bgall b JOIN ok USING (lang, source, bg)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
       |          FROM bg a JOIN bg b USING (lang, source, bg)
       |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, n_inter, ca.n AS n_a, cb.n AS n_b,
       |       CAST(n_inter AS DOUBLE) / ca.n AS c_ab,
       |       CAST(n_inter AS DOUBLE) / cb.n AS c_ba
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / ca.n,
       |               CAST(n_inter AS DOUBLE) / cb.n) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  private val q44Sql =
    s"""WITH t AS (SELECT doc_id, lang, source,
       |                  unnest(string_split_regex(text, '\\s+')) AS w,
       |                  generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |           FROM documents),
       |bg0 AS (SELECT doc_id, lang, source,
       |               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
       |        FROM t),
       |bgall AS (SELECT DISTINCT doc_id, lang, source, bg FROM bg0 WHERE bg IS NOT NULL),
       |ok AS (SELECT lang, source, bg FROM bgall
       |       GROUP BY 1, 2, 3 HAVING COUNT(*) <= $NgramMaxDf),
       |bg AS (SELECT b.* FROM bgall b JOIN ok USING (lang, source, bg)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
       |          FROM bg a JOIN bg b USING (lang, source, bg)
       |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, n_inter, ca.n AS n_a, cb.n AS n_b,
       |       CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = id_a
       |JOIN cnt cb ON cb.doc_id = id_b
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- df-cap skew guard
  /** Hot-shingle skew-bomb drill: every document gets a corpus-wide
    * hot token appended (' zq hotzq'), so the bigram ('zq','hotzq')
    * has df = group size in EVERY (lang, source) group — the exact
    * quadratic blow-up a real corpus hits on boilerplate templates.
    * Run through the SAME capped inverted-index Jaccard as q44 but
    * with maxDf = 5 so the cap visibly fires at the sf0.01 gate:
    * per group, the dropped-shingle count and max df prove the hot
    * shingle was excluded, and n_pairs stays at the benign level
    * (bounded by maxDf^2/2 per surviving shingle) instead of
    * group_size^2/2. */
  val q92HotShingleCap: Q = (s, d) => {
    val capDf = 5
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(" zq hotzq")).as("text"))
    val bg = docBigrams(docs)
    // ONE corpus-wide grouped shuffle: df stats AND pair expansion
    // both derive from the same cached posting lists (df = set size)
    val posting = Dedup.postingLists(bg, "doc_id", "bgh", Seq("lang", "source"))
    try {
      val dfStats = posting
        .select(col("lang"), col("source"), size(col("ids")).cast("long").as("df"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") > capDf, 1L).otherwise(0L)).as("n_hot_dropped"),
          max(col("df")).as("max_df"))
      val pairsPerGroup = Dedup.invertedJaccardFrom(posting, maxDf = capDf)
        .join(docs.select(col("doc_id").as("id_a"), col("lang"), col("source")), "id_a")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_pairs"))
      // localize (one row per (lang, source) — tiny) so the posting
      // cache can be released before the query returns
      graft.ops.Materialize.localize(
        docs.groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
          .join(dfStats, Seq("lang", "source"))
          .join(pairsPerGroup, Seq("lang", "source"), "left")
          .select(col("lang"), col("source"), col("n_docs"), col("n_shingles"),
            col("n_hot_dropped"), col("max_df"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs")))
        .orderBy("lang", "source")
    } finally posting.unpersist(false)
  }

  private val q92Sql =
    """WITH d AS (SELECT doc_id, lang, source, text || ' zq hotzq' AS text
      |           FROM documents),
      |t AS (SELECT doc_id, lang, source,
      |             unnest(string_split_regex(text, '\s+')) AS w,
      |             generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
      |      FROM d),
      |bg0 AS (SELECT doc_id, lang, source,
      |               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
      |        FROM t),
      |bg AS (SELECT DISTINCT doc_id, lang, source, bg FROM bg0 WHERE bg IS NOT NULL),
      |dfs AS (SELECT lang, source, bg, COUNT(*) AS df FROM bg GROUP BY 1, 2, 3),
      |stats AS (SELECT lang, source, COUNT(*) AS n_shingles,
      |                 CAST(SUM(CASE WHEN df > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_dropped,
      |                 MAX(df) AS max_df
      |          FROM dfs GROUP BY 1, 2),
      |bgc AS (SELECT b.* FROM bg b
      |        JOIN (SELECT lang, source, bg FROM dfs WHERE df <= 5) ok
      |        USING (lang, source, bg)),
      |p AS (SELECT a.lang, a.source, a.doc_id AS ia, b.doc_id AS ib
      |      FROM bgc a JOIN bgc b USING (lang, source, bg)
      |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4),
      |pc AS (SELECT lang, source, COUNT(*) AS n_pairs FROM p GROUP BY 1, 2),
      |nd AS (SELECT lang, source, COUNT(*) AS n_docs FROM d GROUP BY 1, 2)
      |SELECT nd.lang, nd.source, nd.n_docs, stats.n_shingles,
      |       stats.n_hot_dropped, stats.max_df,
      |       COALESCE(pc.n_pairs, 0) AS n_pairs
      |FROM nd
      |JOIN stats USING (lang, source)
      |LEFT JOIN pc USING (lang, source)
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- repetition quality
  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    * standard corpus-quality gate family alongside the length/
    * stopword scores in TextOps): per document, the fraction of
    * tokens covered by the single most frequent bigram (boilerplate
    * lists repeat one phrase) and the duplicate-trigram fraction
    * (1 - distinct/total — templated text re-uses whole spans). Both
    * are exact small-integer ratios, so the doubles hash-match.
    *
    * The signals are PER-DOCUMENT, so they never shuffle: the top
    * bigram multiplicity is a run-length fold over the row's sorted
    * bigram array and the trigram distinct count is array_distinct —
    * the whole query is one projection (an earlier explode+groupBy
    * form paid four exchanges and ~8x the wall time for identical
    * output; per-doc stats exploded row-wise are the anti-pattern). */
  val q96Repetition: Q = (s, d) => {
    def grams(n: Int) = expr(
      s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))")
    // max run length over the sorted array == max multiplicity
    def maxMultiplicity(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        maxMultiplicity(grams(2)).as("top_bigram_cnt"),
        size(grams(3)).cast("long").as("n_tri"),
        size(array_distinct(grams(3))).cast("long").as("n_tri_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("top_bigram_cnt"),
        (col("top_bigram_cnt") * lit(2).cast("double") / col("n_tokens")).as("top_bigram_frac"),
        ((col("n_tri") - col("n_tri_distinct")).cast("double") / col("n_tri")).as("dup_tri_frac"))
      .withColumn("flagged",
        when(col("top_bigram_frac") > 0.18 || col("dup_tri_frac") > 0.30, "Y").otherwise("N"))
      .orderBy("doc_id")
  }

  private val q96Sql =
    """WITH t AS (SELECT doc_id,
      |                  string_split_regex(text, '\s+') AS toks
      |           FROM documents WHERE doc_id < 200),
      |base AS (SELECT doc_id, len(toks) AS n_tokens, toks
      |         FROM t WHERE len(toks) >= 3),
      |bg AS (SELECT doc_id, n_tokens,
      |              toks[i] || ' ' || toks[i + 1] AS bg
      |       FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i)),
      |topbg AS (SELECT doc_id, n_tokens, MAX(c) AS top_bigram_cnt FROM (
      |            SELECT doc_id, n_tokens, bg, COUNT(*) AS c
      |            FROM bg GROUP BY 1, 2, 3)
      |          GROUP BY 1, 2),
      |tg AS (SELECT doc_id,
      |              toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tg
      |       FROM base, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)),
      |tri AS (SELECT doc_id, COUNT(*) AS n_tri,
      |               COUNT(DISTINCT tg) AS n_tri_distinct
      |        FROM tg GROUP BY 1)
      |SELECT b.doc_id, b.n_tokens, b.top_bigram_cnt,
      |       CAST(b.top_bigram_cnt * 2 AS DOUBLE) / b.n_tokens AS top_bigram_frac,
      |       CAST(t2.n_tri - t2.n_tri_distinct AS DOUBLE) / t2.n_tri AS dup_tri_frac,
      |       CASE WHEN CAST(b.top_bigram_cnt * 2 AS DOUBLE) / b.n_tokens > 0.18
      |              OR CAST(t2.n_tri - t2.n_tri_distinct AS DOUBLE) / t2.n_tri > 0.30
      |            THEN 'Y' ELSE 'N' END AS flagged
      |FROM topbg b JOIN tri t2 USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- hll distinct sketch
  /** Distinct-word estimate per language via the native HyperLogLog
    * TypedImperativeAggregate (functions.HyperLogLog — 64 exact
    * integer registers over the corpus md5-60bit hash, raw alpha*m^2 /
    * Σ2^-M estimator), next to the exact distinct count. The oracle
    * replays the registers bucket-by-bucket in SQL, so even the sketch
    * is hash-verified — unlike approx_count_distinct, whose internals
    * no oracle can replay. */
  val q54Hll: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
    words.groupBy("lang")
      .agg(countDistinct(col("w")).as("n_exact"),
        graft.functions.HyperLogLog.hll(col("w")).as("n_hll"))
      .orderBy("lang")
  }

  private val q54Sql = {
    // rank = 55 - bitlength(r), bitlength via an exact CASE chain
    // (no float log2 at power-of-two boundaries)
    val rankCase = (53 to 0 by -1)
      .map(k => s"WHEN r >= ${1L << k} THEN ${54 - k}")
      .mkString("CASE WHEN r = 0 THEN 55 ", " ", " END")
    s"""WITH w AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
       |           FROM documents),
       |h AS (SELECT DISTINCT lang, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
       |br AS (SELECT lang, h % 64 AS b, h // 64 AS r FROM h),
       |rk AS (SELECT lang, b, MAX($rankCase) AS m FROM br GROUP BY 1, 2),
       |regs AS (SELECT l.lang, g.b, COALESCE(rk.m, 0) AS m
       |         FROM (SELECT DISTINCT lang FROM documents) l
       |         CROSS JOIN (SELECT unnest(range(64)) AS b) g
       |         LEFT JOIN rk ON rk.lang = l.lang AND rk.b = g.b),
       |s AS (SELECT lang, SUM(CAST(pow(2, 55 - m) AS BIGINT)) AS si FROM regs GROUP BY 1),
       |x AS (SELECT lang, COUNT(DISTINCT w) AS n_exact FROM w GROUP BY 1)
       |SELECT s.lang, x.n_exact,
       |       ((0.709::DOUBLE * 4096::DOUBLE) * 36028797018963968::DOUBLE) / (si::DOUBLE) AS n_hll
       |FROM s JOIN x ON x.lang = s.lang ORDER BY s.lang""".stripMargin
  }

  // ---------------------------------------------------------------- cms heavy hitters
  /** Heavy-hitter estimation via the native Count-Min sketch
    * (functions.CountMin, 4x256 exact long counters): the corpus
    * token stream is sketched once, then the top-10 exact tokens are
    * point-estimated from the sketch next to their true counts — the
    * CMS overestimate-only contract is visible in the verified
    * output, and the oracle replays every counter in SQL. */
  val q90CmsHeavyHitters: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), "\\s+")).as("w"))
    val sketch = words.agg(graft.functions.CountMin.cms(col("w")).as("cms"))
    val top = words.groupBy("w").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(10)
    top.crossJoin(broadcast(sketch))
      .select(col("w").as("token"), col("n_exact"),
        graft.functions.CountMin.estimate(col("cms"), col("w")).as("n_cms"))
      .withColumn("overcount", (col("n_cms") - col("n_exact")).cast("long"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  private val q90Sql =
    """WITH w AS (SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
      |h AS (SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
      |c AS (SELECT i.i AS i,
      |             (h // CAST(pow(256, i.i) AS BIGINT)) % 256 AS b,
      |             COUNT(*) AS cnt
      |      FROM h, (SELECT unnest(range(4)) AS i) i GROUP BY 1, 2),
      |ex AS (SELECT w, COUNT(*) AS n_exact FROM w GROUP BY 1
      |       ORDER BY n_exact DESC, w LIMIT 10),
      |p AS (SELECT w, n_exact,
      |             ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM ex),
      |est AS (SELECT p.w, p.n_exact, MIN(c.cnt) AS n_cms
      |        FROM p, (SELECT unnest(range(4)) AS i) i
      |        JOIN c ON c.i = i.i
      |              AND c.b = (p.h // CAST(pow(256, i.i) AS BIGINT)) % 256
      |        GROUP BY 1, 2)
      |SELECT w AS token, n_exact, CAST(n_cms AS BIGINT) AS n_cms,
      |       CAST(n_cms - n_exact AS BIGINT) AS overcount
      |FROM est ORDER BY n_exact DESC, token""".stripMargin

  // ---------------------------------------------------------------- cms sketch rollup
  /** The mergeable-sketch rollup for heavy hitters (q90's persistence
    * story, [[graft.functions.CmsMerge]]): one CMS per language is
    * what a partitioned corpus would PERSIST; the global sketch is
    * their element-wise counter SUM — exactly the sketch of the union
    * (integer sums commute), so the merged estimates must equal q90's
    * direct-sketch estimates bit-for-bit. The shuffle carries one 8 KB
    * sketch row per language; the rollup never re-scans the token
    * stream. Output adds n_sketches (how many per-lang sketches
    * merged). */
  val q147CmsMergeRollup: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
    val perLang = words.groupBy("lang")
      .agg(graft.functions.CountMin.cms(col("w")).as("cms"))
    val merged = perLang.agg(
      graft.functions.CountMin.cmsMerge(col("cms")).as("cms"),
      count(lit(1)).as("n_sketches"))
    val top = words.groupBy("w").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("w")).limit(10)
    top.crossJoin(broadcast(merged))
      .select(col("w").as("token"), col("n_exact"),
        graft.functions.CountMin.estimate(col("cms"), col("w")).as("n_cms"),
        col("n_sketches"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  private val q147Sql =
    """WITH w AS (SELECT lang, unnest(string_split_regex(text, '\s+')) AS w
      |           FROM documents),
      |h AS (SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
      |c AS (SELECT i.i AS i,
      |             (h // CAST(pow(256, i.i) AS BIGINT)) % 256 AS b,
      |             COUNT(*) AS cnt
      |      FROM h, (SELECT unnest(range(4)) AS i) i GROUP BY 1, 2),
      |nl AS (SELECT COUNT(DISTINCT lang) AS n_sketches FROM w),
      |ex AS (SELECT w, COUNT(*) AS n_exact FROM w GROUP BY 1
      |       ORDER BY n_exact DESC, w LIMIT 10),
      |p AS (SELECT w, n_exact,
      |             ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM ex),
      |est AS (SELECT p.w, p.n_exact, MIN(c.cnt) AS n_cms
      |        FROM p, (SELECT unnest(range(4)) AS i) i
      |        JOIN c ON c.i = i.i
      |              AND c.b = (p.h // CAST(pow(256, i.i) AS BIGINT)) % 256
      |        GROUP BY 1, 2)
      |SELECT w AS token, n_exact, CAST(n_cms AS BIGINT) AS n_cms,
      |       (SELECT n_sketches FROM nl) AS n_sketches
      |FROM est ORDER BY n_exact DESC, token""".stripMargin

  // ---------------------------------------------------------------- bm25 retrieval
  /** BM25 ranked retrieval over the corpus for a literal query
    * ("hash join filter") — the lexical-retrieval operator a
    * training-data pipeline uses for targeted corpus search and
    * hard-negative mining. Classic inverted-index shape as one plan:
    * token explode -> per-(doc,term) tf partial-agg, term df is a
    * terms-sized broadcast, corpus stats (N, avgdl) one broadcast
    * row, score = Σ_t idf_t * tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)),
    * top-15 via TakeOrdered. Two determinism choices, both because
    * the correctness gate hash-compares floats bit-for-bit: idf is
    * the RATIONAL odds form (N-df+0.5)/(df+0.5)+1 (same monotone
    * ordering as Robertson's ln of it, no transcendental whose last
    * ulp engines may round differently), and per-term scores are
    * floor-quantized to integer micros BEFORE the per-doc sum so the
    * sum is exact integer arithmetic — commutative under any shuffle
    * order. k1=1.2, b=0.75 (the standard defaults). */
  val q153Bm25: Q = (s, d) => {
    val terms = Seq("hash", "join", "filter")
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("t"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
    val tf = toks.filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val denom = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)
    val wtf = col("tf") * lit(2.2) / denom
    val idf = ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)
    tf.join(dl, "doc_id").join(broadcast(dfq), "t").crossJoin(broadcast(st))
      .select(col("doc_id"), col("dl"),
        floor(wtf * idf * lit(1000000.0)).cast("long").as("micros"))
      .groupBy("doc_id", "dl").agg(sum("micros").as("score_micros"))
      .orderBy(col("score_micros").desc, col("doc_id")).limit(15)
  }

  private val q153Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
      |             FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS dl
      |       FROM documents),
      |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok
      |       WHERE t IN ('hash', 'join', 'filter') GROUP BY 1, 2),
      |dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id, dl.dl,
      |         CAST(floor(
      |           (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
      |              / (CAST(st.tot AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
      |           * (((st.n_docs - dfq.df) + 0.5) / (dfq.df + 0.5) + 1.0)
      |           * 1000000.0) AS BIGINT) AS micros
      |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (t) CROSS JOIN st)
      |SELECT doc_id, dl, CAST(SUM(micros) AS BIGINT) AS score_micros
      |FROM sc GROUP BY 1, 2
      |ORDER BY score_micros DESC, doc_id LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- sft chat rendering
  /** SFT chat-template rendering — the format-conversion stage that
    * turns curated documents into model-ready training text: each
    * sufficiently long document becomes a (system, user, assistant)
    * exchange (prompt = first 30 tokens, response = next 60, system
    * line keyed by language), rendered with explicit role sentinels
    * and hard-truncated by token budget — slice-then-join on the
    * token ARRAY, so truncation is by tokens, never by characters
    * mid-word. Pure map (codegen string/array ops, no UDF, no
    * shuffle but the presentation sort): the shape that renders a
    * trillion-token corpus embarrassingly parallel. The oracle
    * replays the template byte-for-byte, so sentinel placement and
    * whitespace discipline — what the tokenizer actually sees — are
    * hash-gated, not eyeballed. */
  val q157ChatRender: Q = (s, d) => {
    val toks = split(col("text"), "\\s+")
    val usr = array_join(slice(toks, 1, 30), " ")
    val asst = array_join(slice(toks, 31, 60), " ")
    val sys = concat(lit("Respond in "), col("lang"), lit("."))
    val rendered = concat(
      lit("<|system|>\n"), sys,
      lit("\n<|user|>\n"), usr,
      lit("\n<|assistant|>\n"), asst, lit("<|end|>"))
    Tables.documents(s, d)
      .filter(size(toks) >= 40)
      .select(col("doc_id"), col("lang"), rendered.as("rendered"))
      .withColumn("n_tok",
        size(split(col("rendered"), "\\s+")).cast("long"))
      .orderBy("doc_id")
  }

  private val q157Sql =
    """WITH t AS (SELECT doc_id, lang, string_split_regex(text, '\s+') AS tk
      |           FROM documents),
      |r AS (SELECT doc_id, lang,
      |        '<|system|>' || chr(10) || 'Respond in ' || lang || '.' ||
      |        chr(10) || '<|user|>' || chr(10) ||
      |        array_to_string(tk[1:30], ' ') ||
      |        chr(10) || '<|assistant|>' || chr(10) ||
      |        array_to_string(tk[31:90], ' ') || '<|end|>' AS rendered
      |      FROM t WHERE len(tk) >= 40)
      |SELECT doc_id, lang, rendered,
      |       CAST(len(string_split_regex(rendered, '\s+')) AS BIGINT) AS n_tok
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- overlapping chunking
  /** Overlapping token-window chunking — the RAG / long-context
    * ingestion step: every document becomes ceil-strided windows of
    * 50 tokens with a 40-token stride (10-token overlap so no
    * retrieval-relevant span is ever split without a copy that
    * contains it whole); the last window is short, never padded.
    * Chunk boundaries are computed per-row on the token ARRAY
    * (transform over an index sequence + slice + posexplode) — a
    * pure codegen map, no shuffle but the presentation sort, and the
    * chunk count is exact integer arithmetic replayed by the oracle.
    * Output keeps (chunk_idx, start_tok) so chunks join back to
    * their source span losslessly. */
  val q159Chunking: Q = (s, d) => {
    val sz = 50
    val stride = 40
    val toks = split(col("text"), "\\s+")
    val n = size(toks)
    val nChunks = when(n <= sz, lit(1))
      .otherwise(expr(s"((size(split(text, '\\\\s+')) - $sz + $stride - 1) div $stride) + 1"))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => struct((i * stride).as("start_tok"),
        array_join(slice(toks, i * stride + 1, lit(sz)), " ").as("chunk")))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok").cast("long").as("start_tok"),
        col("c.chunk").as("chunk"))
      .withColumn("n_tok", size(split(col("chunk"), "\\s+")).cast("long"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val q159Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk,
      |                  len(string_split_regex(text, '\s+')) AS n
      |           FROM documents),
      |c AS (SELECT doc_id,
      |             unnest(range(CASE WHEN n <= 50 THEN 1
      |                               ELSE (n - 50 + 39) // 40 + 1 END)) AS i
      |      FROM t)
      |SELECT c.doc_id, CAST(c.i AS BIGINT) AS chunk_idx,
      |       CAST(c.i * 40 AS BIGINT) AS start_tok,
      |       array_to_string(t.tk[c.i * 40 + 1 : c.i * 40 + 50], ' ') AS chunk,
      |       CAST(len(string_split_regex(
      |         array_to_string(t.tk[c.i * 40 + 1 : c.i * 40 + 50], ' '), '\s+'))
      |         AS BIGINT) AS n_tok
      |FROM c JOIN t USING (doc_id)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- corpus curation funnel
  /** The assembled curation pipeline (pipeline.CorpusCurationJob) on
    * a re-crawl-simulated corpus (first 50 docs duplicated under new
    * ids): per-language counts after exact dedup, near-dup removal
    * and the quality gate. Every stage is an already-verified
    * operator; THIS verifies their composition — the funnel numbers a
    * corpus owner actually watches. */
  val q91CurationFunnel: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    graft.pipeline.CorpusCurationJob.funnel(recrawl)
  }

  private val q91Sql =
    s"""WITH dup AS (
       |  SELECT * FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
       |  FROM documents WHERE doc_id < 50),
       |g AS (SELECT md5(text) AS ch, MIN(doc_id) AS keep FROM dup GROUP BY 1),
       |uniq AS (SELECT d.* FROM dup d JOIN g ON g.keep = d.doc_id),
       |tok AS (SELECT doc_id,
       |       unnest(string_split_regex(text, '\\s+')) AS tok,
       |       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |     FROM uniq),
       |sh0 AS (SELECT doc_id,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |w AS (SELECT DISTINCT doc_id, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT doc_id, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT doc_id, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY doc_id, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |         FROM b a JOIN b b2 USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE a.doc_id < b2.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.doc_id = c.id_a
       |          JOIN w wb ON wb.doc_id = c.id_b AND wb.w = wa.w
       |          GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT c.id_b AS doc_id
       |  FROM cand c
       |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN cnt ca ON ca.doc_id = c.id_a
       |  JOIN cnt cb ON cb.doc_id = c.id_b
       |  WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
       |        / (ca.n + cb.n - COALESCE(i.n_inter, 0)) >= 0.7),
       |ded AS (SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |cur AS (SELECT * FROM ded
       |        WHERE least(length(text), 400)::DOUBLE / 400 * 0.5
       |              + CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |                                     x -> x = 'the' OR x = 'a')) AS DOUBLE)
       |                / len(string_split_regex(text, '\\s+')) * 0.5 >= 0.5),
       |s0 AS (SELECT lang, COUNT(*) AS n_input FROM dup GROUP BY 1),
       |s1 AS (SELECT lang, COUNT(*) AS n_exact FROM uniq GROUP BY 1),
       |s2 AS (SELECT lang, COUNT(*) AS n_neardup FROM ded GROUP BY 1),
       |s3 AS (SELECT lang, COUNT(*) AS n_quality FROM cur GROUP BY 1)
       |SELECT s0.lang, s0.n_input,
       |       COALESCE(s1.n_exact, 0) AS n_exact,
       |       COALESCE(s2.n_neardup, 0) AS n_neardup,
       |       COALESCE(s3.n_quality, 0) AS n_quality
       |FROM s0
       |LEFT JOIN s1 ON s1.lang = s0.lang
       |LEFT JOIN s2 ON s2.lang = s0.lang
       |LEFT JOIN s3 ON s3.lang = s0.lang
       |ORDER BY s0.lang""".stripMargin

  // ---------------------------------------------------------------- curation + selection
  /** End-to-end curation WITH data selection (the v2 funnel): q91's
    * three gates (exact dedup → near-dup removal → quality) feed
    * q170's DSIR importance scorer, and the global top-20% of the
    * CURATED corpus is kept by target-domain affinity — dedup decides
    * what is admissible, selection decides what is worth training on.
    * Every stage is an already-verified operator
    * ([[graft.pipeline.CorpusCurationJob.curate]],
    * [[graft.ops.text.Dsir.scoreMicros]], `DistributedRank`); THIS
    * query verifies the composition, per-language: curated counts,
    * selected counts, selected token mass. Same scale shapes as the
    * pieces — the only additions are the sources-sized ratio
    * broadcast and the ranged rank. */
  val q177CurationSelect: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    // evaluation discipline: the curate pipeline is the expensive
    // lineage (full exact+near-dup+quality funnel) and it runs ONCE:
    // a leaf checkpoint backs the scorer's two token passes, lang and
    // the token count ride THROUGH the scorer (carry), the rank
    // eagerly leaf-checkpoints the scored frame (materializeInput —
    // DistributedRank's cost note), and the curated leaf is RELEASED
    // the moment the rank's own leaf holds everything downstream
    // needs. Both stat legs then read the ranked frame. (Was 6
    // evaluations of the funnel — scorer x2, range sampling x2,
    // join-back, curated counts — at 12.2 s in-suite.)
    // curateReleasable (r17): the exact-dedup survivor frame feeds
    // THREE consumers inside the near-dup stage (signature branch,
    // verifier doc side, left_anti join) — uncached, the leafCache
    // below evaluated the exactKeep scan+exchange three times (the
    // stage probe showed three identical map stages). The cache is
    // released as soon as the leaf holds everything downstream needs.
    val cur = graft.pipeline.CorpusCurationJob.curateReleasable(recrawl)
    val curLeaf = graft.ops.Materialize.leafCache(
      cur.df
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          TextOps.nWsTokens(col("text")).cast("long").as("__ntok")))
    cur.release()
    val scored = graft.ops.text.Dsir.scoreMicros(curLeaf, "doc_id", "text",
      col("source").isin("src0", "src1"), carry = Seq("lang", "__ntok"))
    val ranked = graft.ops.DistributedRank.rank(scored, Seq.empty,
      Seq(col("score_micros").desc, col("doc_id")), "rk", totalCol = "n_total",
      materializeInput = true)
    graft.ops.Materialize.release(curLeaf)
    val kept = ranked.filter(col("rk") <= expr("(n_total + 4) div 5"))
    val curStats = ranked.groupBy("lang").agg(count(lit(1)).as("n_curated"))
    val selStats = kept.groupBy("lang").agg(
      count(lit(1)).as("n_selected"),
      sum("__ntok").as("tok_selected"))
    curStats.join(selStats, Seq("lang"), "left")
      .na.fill(0L, Seq("n_selected", "tok_selected"))
      .orderBy("lang")
  }

  private val q177Sql =
    s"""WITH dup AS (
       |  SELECT * FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
       |  FROM documents WHERE doc_id < 50),
       |g AS (SELECT md5(text) AS ch, MIN(doc_id) AS keep FROM dup GROUP BY 1),
       |uniq AS (SELECT d.* FROM dup d JOIN g ON g.keep = d.doc_id),
       |tok AS (SELECT doc_id,
       |       unnest(string_split_regex(text, '\\s+')) AS tok,
       |       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |     FROM uniq),
       |sh0 AS (SELECT doc_id,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |w AS (SELECT DISTINCT doc_id, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT doc_id, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT doc_id, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY doc_id, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |         FROM b a JOIN b b2 USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE a.doc_id < b2.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.doc_id = c.id_a
       |          JOIN w wb ON wb.doc_id = c.id_b AND wb.w = wa.w
       |          GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT c.id_b AS doc_id
       |  FROM cand c
       |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN cnt ca ON ca.doc_id = c.id_a
       |  JOIN cnt cb ON cb.doc_id = c.id_b
       |  WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
       |        / (ca.n + cb.n - COALESCE(i.n_inter, 0)) >= 0.7),
       |ded AS (SELECT * FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
       |cur AS (SELECT * FROM ded
       |        WHERE least(length(text), 400)::DOUBLE / 400 * 0.5
       |              + CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |                                     x -> x = 'the' OR x = 'a')) AS DOUBLE)
       |                / len(string_split_regex(text, '\\s+')) * 0.5 >= 0.5),
       |tk2 AS (SELECT doc_id, source,
       |               unnest(string_split_regex(text, '\\s+')) AS t
       |        FROM cur),
       |pt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c_raw,
       |              CAST(SUM(CASE WHEN source IN ('src0','src1')
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
       |       FROM tk2 GROUP BY 1),
       |tt AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
       |              CAST(SUM(c_tgt) AS BIGINT) AS n_tgt FROM pt),
       |ratio AS (SELECT t,
       |                 CAST(floor(CAST(c_tgt * n_raw AS DOUBLE)
       |                   / CAST(c_raw * n_tgt AS DOUBLE) * 1000000.0) AS BIGINT)
       |                   AS r_micros
       |          FROM pt CROSS JOIN tt),
       |sc AS (SELECT doc_id, CAST(SUM(r_micros) AS BIGINT) AS score_micros
       |       FROM tk2 JOIN ratio USING (t) GROUP BY 1),
       |nn AS (SELECT COUNT(*) AS n_total FROM sc),
       |rk AS (SELECT doc_id, score_micros,
       |              row_number() OVER (ORDER BY score_micros DESC, doc_id) AS rk
       |       FROM sc),
       |keep AS (SELECT r.doc_id, c.lang, c.text FROM rk r JOIN cur c USING (doc_id)
       |         WHERE r.rk <= (SELECT (n_total + 4) // 5 FROM nn)),
       |cs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_curated FROM cur GROUP BY 1),
       |ss AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
       |              CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
       |                AS tok_selected
       |       FROM keep GROUP BY 1)
       |SELECT cs.lang, cs.n_curated,
       |       COALESCE(ss.n_selected, 0) AS n_selected,
       |       COALESCE(ss.tok_selected, 0) AS tok_selected
       |FROM cs LEFT JOIN ss ON ss.lang = cs.lang
       |ORDER BY cs.lang""".stripMargin

  // ---------------------------------------------------------------- drop audit
  /** Per-document drop audit — the provenance table that answers
    * "why did doc X disappear from the release?": every input
    * document labeled with the FIRST gate that removed it
    * (EXACT_DUP → NEAR_DUP → LOW_QUALITY) or KEPT. q91 publishes the
    * counts; this is the row-level version a curator actually debugs
    * with, and the disposition label is derivable by composing the
    * already-verified stage memberships as three anti-join/when
    * steps — no new machinery, one extra column. Counts here MUST
    * reconcile with q91's funnel (the spec asserts it). */
  val q180DropAudit: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))
    val uniq = Dedup.exactKeep(recrawl, "doc_id", "text")
    val sig = Dedup.minHashText(uniq, "doc_id", "text", 3, 16)
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id")
    // shingles derive AFTER the candidate restriction (jaccardText):
    // nothing corpus-wide ever explodes
    val dupIds = Dedup.jaccardTextScoped(cand, uniq, "doc_id", "text", 3) { j =>
      graft.ops.Materialize.localize(
        j.filter(col("jaccard") >= 0.7).select(col("id_b").as("doc_id")).distinct())
    }
    val qualOk = TextOps.qualityScore(col("text"),
      graft.pipeline.CorpusCurationJob.Stopwords) >= 0.5
    recrawl
      .join(uniq.select(col("doc_id"), lit(1).as("__uniq")), Seq("doc_id"), "left")
      .join(dupIds.withColumn("__near", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("__uniq").isNull, lit("EXACT_DUP"))
          .when(col("__near").isNotNull, lit("NEAR_DUP"))
          .when(!qualOk, lit("LOW_QUALITY"))
          .otherwise(lit("KEPT")).as("disposition"))
      .orderBy("doc_id")
  }

  private val q180Sql =
    s"""WITH dup AS (
       |  SELECT * FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
       |  FROM documents WHERE doc_id < 50),
       |g AS (SELECT md5(text) AS ch, MIN(doc_id) AS keep FROM dup GROUP BY 1),
       |uniq AS (SELECT d.* FROM dup d JOIN g ON g.keep = d.doc_id),
       |tok AS (SELECT doc_id,
       |       unnest(string_split_regex(text, '\\s+')) AS tok,
       |       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos
       |     FROM uniq),
       |sh0 AS (SELECT doc_id,
       |        lag(tok, 2) OVER dw || ' ' || lag(tok, 1) OVER dw || ' ' || tok AS w
       |        FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |w AS (SELECT DISTINCT doc_id, w FROM sh0 WHERE w IS NOT NULL),
       |sig AS (SELECT doc_id, s.seed,
       |               MIN(${mhSql("s.seed", "w")}) AS mh
       |        FROM w, (SELECT unnest(range(16)) AS seed) s GROUP BY 1, 2),
       |b AS (SELECT doc_id, seed // 4 AS band,
       |             md5(string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed)) AS band_key
       |      FROM sig GROUP BY doc_id, seed // 4),
       |bsz AS (SELECT band, band_key FROM b
       |        GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 64),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |         FROM b a JOIN b b2 USING (band, band_key)
       |         JOIN bsz USING (band, band_key)
       |         WHERE a.doc_id < b2.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
       |          FROM cand c
       |          JOIN w wa ON wa.doc_id = c.id_a
       |          JOIN w wb ON wb.doc_id = c.id_b AND wb.w = wa.w
       |          GROUP BY 1, 2),
       |dropped AS (
       |  SELECT DISTINCT c.id_b AS doc_id
       |  FROM cand c
       |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |  JOIN cnt ca ON ca.doc_id = c.id_a
       |  JOIN cnt cb ON cb.doc_id = c.id_b
       |  WHERE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
       |        / (ca.n + cb.n - COALESCE(i.n_inter, 0)) >= 0.7)
       |SELECT d.doc_id, d.lang,
       |       CASE WHEN u.doc_id IS NULL THEN 'EXACT_DUP'
       |            WHEN dr.doc_id IS NOT NULL THEN 'NEAR_DUP'
       |            WHEN least(length(d.text), 400)::DOUBLE / 400 * 0.5
       |                 + CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
       |                                        x -> x = 'the' OR x = 'a')) AS DOUBLE)
       |                   / len(string_split_regex(d.text, '\\s+')) * 0.5 < 0.5
       |                 THEN 'LOW_QUALITY'
       |            ELSE 'KEPT' END AS disposition
       |FROM dup d
       |LEFT JOIN uniq u ON u.doc_id = d.doc_id
       |LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q204: trainable class-profile classifier
  /** TRAINED quality-tier classifier (q204) — the counting core of
    * the fastText/NB family as a two-stage train→apply pipeline. The
    * fixture plants the real-world signal a quality classifier keys
    * on: tier-marker tokens ('clickbait' / 'survey' / 'theorem' for
    * tiers low/mid/high = doc_id % 3, repeated 1 + doc_id % 4 times)
    * prepended onto the SHARED 31-word background vocabulary, so the
    * tiers differ only in marker-phrase density — exactly how
    * boilerplate/spam markers separate crawl tiers (the corpus's
    * `lang` tag deliberately is NOT used: the synthetic text is
    * drawn from one shared wordlist regardless of lang, so language
    * is unlearnable from it and any "lang classifier" here would be
    * dishonest). The model is the per-tier token profile
    * N(tok, tier) counted on the 80% train split
    * ([[graft.ops.text.ProfileClassifier.train]] — one map-side-
    * combined shuffle), and the 20% held-out split is classified by
    * the length-normalized affinity argmax computed with exact Long
    * cross-products (A_c·T_c' vs A_c'·T_c — no float log-prob fold,
    * so train AND apply replay bit-exactly in the oracle). Output
    * per held-out doc: true tier, prediction, hit flag, winning raw
    * affinity — the hash gate covers the model, the normalization
    * and the argmax at once, and ClassifierSpec asserts the planted
    * signal is actually LEARNED (accuracy floor well above the 1/3
    * chance rate). */
  val q204ProfileClassifier: Q = (s, d) => {
    val tierName = (id: Column) => element_at(
      array(lit("low"), lit("mid"), lit("high")), (id % 3).cast("int") + 1)
    val marker = (id: Column) => element_at(
      array(lit("clickbait"), lit("survey"), lit("theorem")),
      (id % 3).cast("int") + 1)
    val docs = Tables.documents(s, d)
      .withColumn("tier", tierName(col("doc_id")))
      .withColumn("marked_text", concat_ws(" ",
        array_join(array_repeat(marker(col("doc_id")),
          (col("doc_id") % 4 + 1).cast("int")), " "),
        col("text")))
    val model = graft.ops.text.ProfileClassifier.train(
      docs.filter(col("doc_id") % 10 < 8), "marked_text", "tier")
    val test = docs.filter(col("doc_id") % 10 >= 8)
    graft.ops.text.ProfileClassifier.classify(
        test, "doc_id", "marked_text", model)
      .join(test.select(col("doc_id"), col("tier")), Seq("doc_id"))
      .select(col("doc_id"), col("tier"), col("pred"),
        when(col("tier") === col("pred"), "Y").otherwise("N").as("hit"),
        col("a_pred"))
      .orderBy("doc_id")
  }

  private val q204Sql =
    """WITH m AS (SELECT doc_id,
      |             CASE doc_id % 3 WHEN 0 THEN 'low' WHEN 1 THEN 'mid'
      |                  ELSE 'high' END AS tier,
      |             repeat(CASE doc_id % 3 WHEN 0 THEN 'clickbait '
      |                    WHEN 1 THEN 'survey ' ELSE 'theorem ' END,
      |                    CAST(doc_id % 4 + 1 AS INT)) || text AS text
      |           FROM documents),
      |tr AS (SELECT tier, unnest(string_split_regex(text, '\s+')) AS tok
      |            FROM m WHERE doc_id % 10 < 8),
      |model AS (SELECT tier AS label, tok, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM tr WHERE tok <> '' GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(SUM(n) AS BIGINT) AS t FROM model GROUP BY 1),
      |tex AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      |        FROM m WHERE doc_id % 10 >= 8),
      |te AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS dn
      |       FROM tex WHERE tok <> '' GROUP BY 1, 2),
      |aff AS (SELECT te.doc_id, mo.label, CAST(SUM(te.dn * mo.n) AS BIGINT) AS a
      |        FROM te JOIN model mo USING (tok) GROUP BY 1, 2),
      |base AS (SELECT d.doc_id, tot.label, tot.t, COALESCE(aff.a, 0) AS a
      |         FROM (SELECT doc_id FROM m WHERE doc_id % 10 >= 8) d
      |         CROSS JOIN tot
      |         LEFT JOIN aff ON aff.doc_id = d.doc_id AND aff.label = tot.label),
      |w AS (SELECT x.doc_id, x.label, x.a,
      |        SUM(CASE WHEN x.a * y.t > y.a * x.t
      |                 OR (x.a * y.t = y.a * x.t AND x.label < y.label)
      |            THEN 1 ELSE 0 END) AS wins,
      |        COUNT(*) AS n_rivals
      |      FROM base x JOIN base y ON y.doc_id = x.doc_id AND y.label <> x.label
      |      GROUP BY 1, 2, 3)
      |SELECT d.doc_id, d.tier, w.label AS pred,
      |  CASE WHEN d.tier = w.label THEN 'Y' ELSE 'N' END AS hit,
      |  w.a AS a_pred
      |FROM m d JOIN w ON w.doc_id = d.doc_id AND w.wins = w.n_rivals
      |WHERE d.doc_id % 10 >= 8
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- text: tokens
  /** Token counting: whitespace tokens, BPE-ish regex tokens,
    * distinct words, mean word length. */
  val q47Tokens: Q = (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        TextOps.nWsTokens(col("text")).as("n_ws_tokens"),
        TextOps.nRegexTokens(col("text")).as("n_re_tokens"),
        TextOps.nDistinctWords(col("text")).as("n_distinct_words"),
        TextOps.meanWordLen(col("text")).as("mean_word_len"))
      .orderBy("doc_id")

  private val q47Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_re_tokens,
      |  CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS INT) AS n_distinct_words,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |    / len(string_split_regex(text, '\s+')) AS mean_word_len
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- text: quality
  /** Quality scoring: length saturation + stopword density composite. */
  val q48Quality: Q = (s, d) => {
    val stop = Seq("the", "a")
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        TextOps.nWsTokens(col("text")).as("n_tokens"),
        TextOps.markerCount(col("text"), stop).as("stop_cnt"),
        (TextOps.markerCount(col("text"), stop).cast("double") /
          TextOps.nWsTokens(col("text"))).as("stop_ratio"),
        TextOps.punctRatio(col("text")).as("punct_ratio"),
        TextOps.qualityScore(col("text"), stop).as("quality"))
      .orderBy("doc_id")
  }

  private val q48Sql =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars_calc,
      |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'),
      |                       x -> x = 'the' OR x = 'a')) AS INT) AS stop_cnt,
      |  CAST(len(list_filter(string_split_regex(text, '\s+'),
      |                       x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |    / len(string_split_regex(text, '\s+')) AS stop_ratio,
      |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |    / length(text) AS punct_ratio,
      |  least(length(text), 400)::DOUBLE / 400 * 0.5
      |    + CAST(len(list_filter(string_split_regex(text, '\s+'),
      |                           x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |      / len(string_split_regex(text, '\s+')) * 0.5 AS quality
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- text: language-ID
  /** Language-ID heuristic: marker-word density per language, argmax
    * with lexicographic tiebreak (CASE chain evaluated in lex order —
    * identical in both engines). */
  val q49LangId: Q = (s, d) => {
    val markers = Seq(
      "de" -> Seq("window", "batch"), "en" -> Seq("the", "a"),
      "es" -> Seq("data", "stream"), "fr" -> Seq("query", "value"),
      "zh" -> Seq("spark", "table"))
    val base = Tables.documents(s, d).filter(col("doc_id") < 200)
    val scored = markers.foldLeft(base) { case (df, (lg, ms)) =>
      df.withColumn(s"s_$lg", TextOps.langScore(col("text"), ms))
    }
    val langs = markers.map(_._1)
    val predicted = langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lg, i), acc) =>
        if (i == langs.size - 1) acc
        else {
          val geAll = langs.drop(i + 1).map(o => col(s"s_$lg") >= col(s"s_$o")).reduce(_ && _)
          when(geAll, lg).otherwise(acc)
        }
    }
    scored
      .withColumn("predicted", predicted)
      .withColumn("is_match", col("predicted") === col("lang"))
      .select("doc_id", "lang", "s_de", "s_en", "s_es", "s_fr", "s_zh",
        "predicted", "is_match")
      .orderBy("doc_id")
  }

  private val q49Sql = {
    def sc(ms: Seq[String]) = {
      val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
      s"CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> $cond)) AS DOUBLE) / len(string_split_regex(text, '\\s+'))"
    }
    s"""WITH s AS (SELECT doc_id, lang,
       |  ${sc(Seq("window", "batch"))} AS s_de,
       |  ${sc(Seq("the", "a"))} AS s_en,
       |  ${sc(Seq("data", "stream"))} AS s_es,
       |  ${sc(Seq("query", "value"))} AS s_fr,
       |  ${sc(Seq("spark", "table"))} AS s_zh
       |FROM documents WHERE doc_id < 200)
       |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
       |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS predicted,
       |  (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END) = lang AS is_match
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- text: fingerprint
  /** Winnowing document fingerprints: rolling min of md5-hashed word
    * trigrams over a 4-shingle window (ref-style rolling hash). */
  val q50Fingerprint: Q = (s, d) => {
    val t = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")).as(Seq("pos", "w")))
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh = t
      .withColumn("w2", lag(col("w"), 2).over(dw))
      .withColumn("w1", lag(col("w"), 1).over(dw))
      .filter(col("w2").isNotNull)
      .withColumn("sh", concat(col("w2"), lit(" "), col("w1"), lit(" "), col("w")))
      .withColumn("hv", Dedup.h60(lit(0), col("sh")))
    val fp = sh.withColumn("fp",
      min(col("hv")).over(dw.rowsBetween(-3, 0)))
    fp.groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_fingerprints"),
        min(col("fp")).as("min_fp"),
        count(lit(1)).as("n_windows"))
      .orderBy("doc_id")
  }

  private val q50Sql =
    """WITH t AS (SELECT doc_id,
      |                  unnest(string_split_regex(text, '\s+')) AS w,
      |                  generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
      |           FROM documents WHERE doc_id < 200),
      |s AS (SELECT doc_id, pos,
      |             lag(w, 2) OVER dw || ' ' || lag(w, 1) OVER dw || ' ' || w AS sh
      |      FROM t WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
      |h AS (SELECT doc_id, pos,
      |             ('0x' || substr(md5('0|' || sh), 1, 15))::BIGINT AS hv
      |      FROM s WHERE sh IS NOT NULL),
      |f AS (SELECT doc_id,
      |             MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
      |                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      |      FROM h)
      |SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints,
      |       MIN(fp) AS min_fp, COUNT(*) AS n_windows
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- PII scrub
  /** PII detection + redaction (the release gate every public corpus
    * runs — C4/Dolma-style regex scrub, not NER): deterministic
    * emails/phones/IPs are PLANTED into the synthetic text keyed by
    * doc_id — identically in both engines — then counted and masked
    * with typed placeholders. The whole operator is codegen'd
    * regexp_count/regexp_replace: a pure map over the scan, zero
    * shuffles, and the full redacted text is hash-compared so the
    * replacement order contract is verified byte-for-byte. */
  val q122PiiRedact: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sid = col("doc_id").cast("string")
    val planted = docs.withColumn("text2", concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact admin"), sid, lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" call 010-1234-5678"))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"),
          lit(".17")))
        .otherwise(lit(""))))
    planted.select(col("doc_id"),
        TextOps.nEmails(col("text2")).as("n_email"),
        TextOps.nPhones(col("text2")).as("n_phone"),
        TextOps.nIpv4s(col("text2")).as("n_ip"),
        TextOps.redactPii(col("text2")).as("redacted"))
      .filter(col("n_email") + col("n_phone") + col("n_ip") > 0)
      .orderBy("doc_id")
  }

  private lazy val q122Sql = {
    val (em, ph, ip) = (TextOps.emailRe, TextOps.phoneRe, TextOps.ipv4Re)
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    text ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' contact admin' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' call 010-1234-5678' ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0
       |         THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
       |         ELSE '' END AS text2
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text2, '$em')) AS INT) AS n_email,
       |    CAST(len(regexp_extract_all(text2, '$ph')) AS INT) AS n_phone,
       |    CAST(len(regexp_extract_all(text2, '$ip')) AS INT) AS n_ip,
       |    regexp_replace(regexp_replace(regexp_replace(text2,
       |      '$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g')
       |      AS redacted
       |  FROM planted)
       |SELECT * FROM scored
       |WHERE n_email + n_phone + n_ip > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- doc-level quality gate
  /** Gopher-style DOCUMENT-level quality rules (Rae et al. 2021 §A1.1
    * adapted to the corpus): the doc-level stage that follows q123's
    * line-level scrub. A document passes iff ALL of: word count in
    * [20, 1000]; mean word length in [3, 6]; symbol-to-word ratio
    * ('#' / "...") < 0.1; >= 80% of words contain a letter; both
    * high-frequency stopwords present. Violations are planted by
    * doc_id class (symbol wall, digit-token run, agglutinative-token
    * run) so every rule fires on a known subset; word-count and
    * stopword failures occur naturally. Every metric is an exact
    * int/int division, so the doubles hash-match bit-for-bit. Pure
    * map-only scan — no exchange; at 100 TB this is one pass that
    * rides the same scan as tokenization. */
  val q125GopherRules: Q = (s, d) => {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(GopherSymTail)))
        .when(col("doc_id") % 7 === 1, concat(col("text"), lit(GopherNumTail)))
        .when(col("doc_id") % 7 === 2, concat(col("text"), lit(GopherLongTail)))
        .otherwise(col("text")).as("text2"))
    val t = col("text2")
    planted.select(col("doc_id"),
        TextOps.nWsTokens(t).as("n_words"),
        TextOps.meanWordLen(t).as("mean_wlen"),
        TextOps.symbolWordRatio(t).as("sym_ratio"),
        TextOps.alphaWordRatio(t).as("alpha_ratio"),
        (array_contains(TextOps.wsTokens(t), "the").cast("int") +
          array_contains(TextOps.wsTokens(t), "a").cast("int"))
          .as("stop_distinct"))
      .withColumn("n_fail",
        (col("n_words") < 20 || col("n_words") > 1000).cast("int") +
          (col("mean_wlen") < 3.0 || col("mean_wlen") > 6.0).cast("int") +
          (col("sym_ratio") >= 0.1).cast("int") +
          (col("alpha_ratio") <= 0.8).cast("int") +
          (col("stop_distinct") < 2).cast("int"))
      .withColumn("pass", when(col("n_fail") === 0, "Y").otherwise("N"))
      .orderBy("doc_id")
  }

  private val GopherSymTail = " ## ## ## ## ## ## ## ##"
  private val GopherNumTail =
    " " + Seq.fill(3)((0 to 9).map(i => s"$i$i").mkString(" ")).mkString(" ")
  private val GopherLongTail =
    " pneumonoultramicroscopicsilicovolcanoconiosis" * 8

  private lazy val q125Sql =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || '$GopherSymTail'
       |         WHEN doc_id % 7 = 1 THEN text || '$GopherNumTail'
       |         WHEN doc_id % 7 = 2 THEN text || '$GopherLongTail'
       |         ELSE text END AS text2
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(text2, '\\s+')) AS INT) AS n_words,
       |    CAST(length(regexp_replace(text2, '\\s', '', 'g')) AS DOUBLE)
       |      / len(string_split_regex(text2, '\\s+')) AS mean_wlen,
       |    CAST(len(regexp_extract_all(text2, '#'))
       |         + len(regexp_extract_all(text2, '\\.\\.\\.')) AS DOUBLE)
       |      / len(string_split_regex(text2, '\\s+')) AS sym_ratio,
       |    CAST(len(list_filter(string_split_regex(text2, '\\s+'),
       |                         x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
       |      / len(string_split_regex(text2, '\\s+')) AS alpha_ratio,
       |    CAST(list_contains(string_split_regex(text2, '\\s+'), 'the') AS INT)
       |      + CAST(list_contains(string_split_regex(text2, '\\s+'), 'a') AS INT)
       |      AS stop_distinct
       |  FROM planted),
       |f AS (
       |  SELECT *,
       |    CAST(n_words < 20 OR n_words > 1000 AS INT)
       |      + CAST(mean_wlen < 3.0 OR mean_wlen > 6.0 AS INT)
       |      + CAST(sym_ratio >= 0.1 AS INT)
       |      + CAST(alpha_ratio <= 0.8 AS INT)
       |      + CAST(stop_distinct < 2 AS INT) AS n_fail
       |  FROM m)
       |SELECT *, CASE WHEN n_fail = 0 THEN 'Y' ELSE 'N' END AS pass
       |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- URL canonicalization
  /** URL canonicalization + per-URL dedup — the crawl-pipeline front
    * door: a page fetched as `https://www.h:443/p/?utm_...`,
    * `HTTPS://H/p` and `https://h/p/#frag` is ONE document. Three
    * planted variant shapes per doc (default port + www + utm
    * tracking; uppercase scheme/host; trailing slash + fragment) all
    * collapse to one canonical identity ([[TextOps.urlCanon]]: pure
    * regexp/lower column ops, shared verbatim with the oracle), then
    * one exact groupBy — the dedup key every web corpus groups on
    * before any content hashing. Map + one agg exchange. */
  val q131UrlCanon: Q = (s, d) => {
    val h = (col("doc_id") % 7).cast("string")
    val k = (col("doc_id") % 50).cast("string")
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("https://www.srv"), h, lit(".example.com:443/page/"), k,
          lit("/?utm_source=feed")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("HTTPS://SRV"), h, lit(".EXAMPLE.COM/page/"), k))
      .otherwise(concat(lit("https://srv"), h, lit(".example.com/page/"), k,
        lit("/#sec2")))
    Tables.documents(s, d).select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        TextOps.urlHost(col("url")).as("host"),
        TextOps.urlCanon(col("url")).as("canon_url"))
      .groupBy("host", "canon_url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("host", "canon_url")
  }

  private val q131Sql = {
    val ex = "regexp_extract(url, '^([a-zA-Z]+)://([^/]+)(/.*)?$'"
    val host = s"regexp_replace(regexp_replace(lower($ex, 2)), ':(443|80)$$', ''), '^www\\.', '')"
    s"""WITH u AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0
       |       THEN 'https://www.srv' || CAST(doc_id % 7 AS VARCHAR)
       |            || '.example.com:443/page/' || CAST(doc_id % 50 AS VARCHAR)
       |            || '/?utm_source=feed'
       |       WHEN doc_id % 3 = 1
       |       THEN 'HTTPS://SRV' || CAST(doc_id % 7 AS VARCHAR)
       |            || '.EXAMPLE.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
       |       ELSE 'https://srv' || CAST(doc_id % 7 AS VARCHAR)
       |            || '.example.com/page/' || CAST(doc_id % 50 AS VARCHAR)
       |            || '/#sec2' END AS url
       |  FROM documents),
       |c AS (SELECT doc_id, url, $host AS host,
       |  lower($ex, 1)) || '://' || $host ||
       |  regexp_replace(regexp_replace(regexp_replace($ex, 3),
       |    '#.*$$', ''), '\\?utm_[^#]*$$', ''), '/$$', '') AS canon_url
       |  FROM u)
       |SELECT host, canon_url, COUNT(*) AS n_raw,
       |       COUNT(DISTINCT url) AS n_variants, MIN(doc_id) AS min_doc
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- unigram LM scoring
  /** CCNet-style LM quality partition (Wenzek et al. 2020): CCNet
    * scores each document with a language model trained on a clean
    * reference corpus and cuts the crawl into head/middle/tail by
    * score. The LM here is a unigram frequency model over the
    * corpus's own `en` slice (the clean-reference stand-in), and the
    * perplexity surrogate is the MEAN REFERENCE FREQUENCY of the
    * doc's tokens: sum(cnt(tok)) / (n_tokens * total) — every term an
    * exact int64 until ONE final double division, so the score
    * hash-matches bit-for-bit cross-engine (a log-space perplexity
    * would die in libm's last ulp). OOV tokens score 0 and are
    * tallied; a planted nonsense tail on every 13th doc proves the
    * OOV path and drags those docs into `tail` like real boilerplate.
    * Scale shape: vocab is a broadcast (vocabularies are small),
    * token explode feeds ONE map-side-combined agg back to one row
    * per doc — the same partial-agg discipline as the minhash
    * pipeline; no token-level shuffle. */
  val q127UnigramLm: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val planted = docs.select(col("doc_id"), col("lang"),
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(LmOovTail)))
        .otherwise(col("text")).as("text2"))
    val vocab = docs.filter(col("lang") === "en")
      .select(explode(TextOps.wsTokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val per = planted
      .select(col("doc_id"), explode(TextOps.wsTokens(col("text2"))).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("cnt"), lit(0L))).as("s"),
        sum(col("cnt").isNull.cast("long")).as("n_oov"))
    planted.select("doc_id", "lang").join(per, "doc_id")
      .crossJoin(broadcast(total))
      .withColumn("score", col("s").cast("double") / (col("n_tokens") * col("total")))
      .withColumn("bucket",
        when(col("score") >= 0.0334, "head")
          .when(col("score") >= 0.0332, "middle")
          .otherwise("tail"))
      .select("doc_id", "lang", "n_tokens", "n_oov", "score", "bucket")
      .orderBy("doc_id")
  }

  private val LmOovTail = " zzq1 zzq2 zzq3 zzq4 zzq5"

  private lazy val q127Sql =
    s"""WITH planted AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 13 = 0 THEN text || '$LmOovTail' ELSE text END AS text2
       |  FROM documents),
       |ref AS (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents WHERE lang = 'en'),
       |vocab AS (SELECT tok, COUNT(*) AS cnt FROM ref GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
       |dt AS (SELECT doc_id, unnest(string_split_regex(text2, '\\s+')) AS tok
       |       FROM planted),
       |per AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |               CAST(SUM(COALESCE(cnt, 0)) AS BIGINT) AS s,
       |               CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |                 AS n_oov
       |        FROM dt LEFT JOIN vocab USING (tok) GROUP BY 1)
       |SELECT p.doc_id, p.lang, per.n_tokens, per.n_oov,
       |       CAST(s AS DOUBLE) / (n_tokens * total) AS score,
       |       CASE WHEN CAST(s AS DOUBLE) / (n_tokens * total) >= 0.0334 THEN 'head'
       |            WHEN CAST(s AS DOUBLE) / (n_tokens * total) >= 0.0332 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM planted p JOIN per USING (doc_id) CROSS JOIN tot
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // ---------------------------------------------------------------- corpus drift
  /** Corpus-drift detection — the monitoring stage that catches a
    * silently changed upstream source before it poisons a training
    * mix: per language, the total-variation distance between the
    * token distributions of two corpus slices (here the deterministic
    * even/odd doc_id halves; in production, yesterday's snapshot vs
    * today's), plus the top-3 drifting tokens by contribution.
    * Determinism: TV = Σ_t |p_A(t) − p_B(t)| / 2 is computed
    * CROSS-MULTIPLIED — contrib(t) = |c_A(t)·N_B − c_B(t)·N_A| is
    * exact BIGINT arithmetic, and the single double division
    * Σcontrib / (2·N_A·N_B) happens once per language at the end, so
    * there is no per-token float sum whose order could differ. No
    * logs (a KL/JS form would hash-diverge on the last ulp of ln);
    * TV is the metric of choice precisely because it is rational.
    * Scale shape: one explode→groupBy(lang, token) with map-side
    * partial aggregation, language totals are a langs-sized broadcast
    * back onto the token frame, top-3 per language via the bounded
    * [[graft.plans.TopKPerKey]] heap. At trillion-token scale the
    * BIGINT cross-products approach 2^63 — swap the contrib column to
    * DECIMAL(38,0) there; everything else is unchanged. */
  val q166CorpusDrift: Q = (s, d) => {
    val toks = Tables.documents(s, d).select(col("lang"),
      (col("doc_id") % 2 === 0).as("in_a"),
      explode(split(col("text"), "\\s+")).as("t"))
    val perTok = toks.groupBy("lang", "t").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(col("in_a"), 0L).otherwise(1L)).as("c_b"))
    val totals = perTok.groupBy("lang").agg(
      sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    val contrib = perTok.join(broadcast(totals), Seq("lang"))
      .withColumn("contrib",
        abs(col("c_a") * col("n_b") - col("c_b") * col("n_a")))
    val tv = contrib.groupBy("lang").agg(sum("contrib").as("sum_contrib"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"),
        // one-sided slice (a language entirely in one half): TV vs an
        // EMPTY distribution is undefined -> NULL, never a crash
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("double"))
          .otherwise(col("sum_contrib").cast("double") /
            (lit(2.0) * col("n_a") * col("n_b"))).as("tv"))
    val w = Window.partitionBy("lang")
      .orderBy(col("contrib").desc, col("t"))
    graft.plans.TopKPerKey.topK(contrib, Seq(col("lang")),
        Seq(col("contrib").desc, col("t").asc), 3)
      .withColumn("rank", row_number().over(w).cast("int"))
      .join(broadcast(tv), Seq("lang"))
      .select(col("lang"), col("rank"), col("t").as("token"),
        col("c_a"), col("c_b"), col("contrib"), col("tv"))
      .orderBy("lang", "rank")
  }

  private val q166Sql =
    """WITH tok AS (SELECT lang, doc_id % 2 = 0 AS in_a,
      |                    unnest(string_split_regex(text, '\s+')) AS t
      |             FROM documents),
      |pt AS (SELECT lang, t,
      |              CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |              CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
      |       FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(c_a) AS BIGINT) AS n_a,
      |               CAST(SUM(c_b) AS BIGINT) AS n_b
      |        FROM pt GROUP BY 1),
      |ct AS (SELECT pt.lang, pt.t, pt.c_a, pt.c_b,
      |              abs(pt.c_a * tot.n_b - pt.c_b * tot.n_a) AS contrib
      |       FROM pt JOIN tot USING (lang)),
      |tv AS (SELECT ct.lang,
      |              CASE WHEN tot.n_a = 0 OR tot.n_b = 0 THEN NULL
      |                   ELSE CAST(SUM(ct.contrib) AS DOUBLE)
      |                        / (2.0 * tot.n_a * tot.n_b) END AS tv
      |       FROM ct JOIN tot USING (lang) GROUP BY ct.lang, tot.n_a, tot.n_b),
      |r AS (SELECT lang, t, c_a, c_b, contrib,
      |             CAST(row_number() OVER (PARTITION BY lang
      |               ORDER BY contrib DESC, t) AS INT) AS rank
      |      FROM ct QUALIFY rank <= 3)
      |SELECT r.lang, r.rank, r.t AS token, r.c_a, r.c_b,
      |       CAST(r.contrib AS BIGINT) AS contrib, tv.tv
      |FROM r JOIN tv USING (lang) ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------- unicode normalization
  /** Unicode NFC canonicalization via the native codegen'd
    * [[graft.functions.NfcNormalize]] expression — the step that must
    * precede hash dedup / exact groupBy on crawled text, where "é"
    * arrives both precomposed (U+00E9) and decomposed (U+0065+U+0301)
    * and would otherwise hash to two dedup keys. Fixture rows plant
    * the canonical-equivalence cases (combining acute, ring+diaeresis,
    * Hangul jamo composition, ASCII fast-path identity, empty); the
    * oracle replays byte-for-byte through DuckDB's utf8proc
    * `nfc_normalize` — two independent Unicode implementations
    * agreeing on the composed bytes is the contract. Pure map; the
    * ASCII fast path makes the common crawl row a no-op. */
  val q171UnicodeNormalize: Q = (s, _) => {
    import s.implicits._
    import graft.functions.NfcNormalize.nfc
    val rows = Seq(
      (1L, "cafe\u0301 menu"),          // decomposed e + combining acute
      (2L, "caf\u00E9 menu"),           // precomposed — same NFC target as id 1
      (3L, "A\u030Angstro\u0308m"),     // ring + diaeresis compose
      (4L, "\u1100\u1161\u11A8"),       // Hangul jamo -> U+AC01
      (5L, "plain ascii text"),
      (6L, ""))
    rows.toDF("id", "raw")
      .select(col("id"),
        nfc(col("raw")).as("norm"),
        when(nfc(col("raw")) =!= col("raw"), lit("Y")).otherwise(lit("N"))
          .as("changed"),
        length(col("raw")).cast("long").as("n_raw"),
        length(nfc(col("raw"))).cast("long").as("n_norm"))
      .orderBy("id")
  }

  private val q171Sql =
    """WITH v(id, raw) AS (VALUES
      |  (1, 'cafe' || chr(769) || ' menu'),
      |  (2, 'caf' || chr(233) || ' menu'),
      |  (3, 'A' || chr(778) || 'ngstro' || chr(776) || 'm'),
      |  (4, chr(4352) || chr(4449) || chr(4520)),
      |  (5, 'plain ascii text'),
      |  (6, ''))
      |SELECT CAST(id AS BIGINT) AS id,
      |       nfc_normalize(raw) AS norm,
      |       CASE WHEN nfc_normalize(raw) <> raw THEN 'Y' ELSE 'N' END AS changed,
      |       CAST(length(raw) AS BIGINT) AS n_raw,
      |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm
      |FROM v ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- padding waste
  /** Length-bucketing padding-waste report — the measurement that
    * justifies (or kills) a bucketed-batching stage in a training
    * pipeline: documents bucket by token length (width 16); per
    * bucket, the padding wasted if batches pad to the BUCKET ceiling
    * vs to the GLOBAL max sequence length. pad_bucketed is the
    * attainable cost of bucketed batching, pad_global what naive
    * homogeneous batching pays for the same rows; saved_pct is the
    * argument in one number. All integer arithmetic (one division
    * per bucket at the end); the global max is a one-row broadcast.
    * One explode-free pure map + one groupBy — scan-bound at any
    * corpus size. */
  val q172PaddingWaste: Q = (s, d) => {
    val len = size(split(col("text"), "\\s+")).cast("long")
    val docs = Tables.documents(s, d).select(len.as("len"))
    val gmax = docs.agg(max("len").as("gmax"))
    docs.crossJoin(broadcast(gmax))
      .withColumn("bucket", expr("len div 16"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("len").as("sum_tok"),
        sum((col("bucket") + 1) * 16 - col("len")).as("pad_bucketed"),
        sum(col("gmax") - col("len")).as("pad_global"))
      .withColumn("saved_pct",
        when(col("pad_global") === 0, lit(0.0)).otherwise(
          (col("pad_global") - col("pad_bucketed")).cast("double") * lit(100.0) /
            col("pad_global").cast("double")))
      .orderBy("bucket")
  }

  private val q172Sql =
    """WITH l AS (SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS len
      |           FROM documents),
      |g AS (SELECT MAX(len) AS gmax FROM l),
      |b AS (SELECT len // 16 AS bucket, len, g.gmax FROM l CROSS JOIN g)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(len) AS BIGINT) AS sum_tok,
      |       CAST(SUM((bucket + 1) * 16 - len) AS BIGINT) AS pad_bucketed,
      |       CAST(SUM(gmax - len) AS BIGINT) AS pad_global,
      |       CASE WHEN SUM(gmax - len) = 0 THEN 0.0
      |            ELSE CAST(SUM(gmax - len) - SUM((bucket + 1) * 16 - len) AS DOUBLE)
      |                 * 100.0 / CAST(SUM(gmax - len) AS DOUBLE) END AS saved_pct
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q190: corpus manifest fingerprint
  /** Corpus manifest: an order-invariant content fingerprint per
    * (lang, source) slice — the cheap one-pass integrity check a
    * pipeline stamps on every output so the NEXT run (or a consumer)
    * can detect a silently changed upstream without re-reading text.
    * Two independent commutative digests over the per-doc 60-bit
    * content hash: XOR (catches any single-doc change, zero overflow)
    * and a modular sum (catches the paired changes XOR cancels —
    * e.g. the same edit applied to two identical docs), plus row and
    * char totals. Any reordering, re-partitioning, or re-shuffle of
    * the corpus leaves every digest bit-identical; any content change
    * flips them. Pure map + ONE partial-agg shuffle on the tiny
    * (lang, source) key space — at 100 TB this is scan-bound and
    * embarrassingly parallel. */
  val q190CorpusManifest: Q = (s, d) => {
    import graft.ops.dedup.Dedup
    val docs = Tables.documents(s, d)
    docs.withColumn("h", Dedup.h60(lit(0), col("text")))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        expr("bit_xor(h)").as("content_xor"),
        sum(col("h") % 1000003L).cast("long").as("content_modsum"))
      .orderBy("lang", "source")
  }

  private val q190Sql =
    """WITH h AS (
      |  SELECT lang, source, length(text) AS n_chars,
      |         ('0x' || substr(md5('0|' || text), 1, 15))::BIGINT AS h
      |  FROM documents)
      |SELECT lang, source, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |       bit_xor(h) AS content_xor,
      |       CAST(SUM(h % 1000003) AS BIGINT) AS content_modsum
      |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Map[String, Q] = Map(
    "q190_corpus_manifest" -> q190CorpusManifest,
    "q177_curation_select" -> q177CurationSelect,
    "q180_drop_audit" -> q180DropAudit,
    "q172_padding_waste" -> q172PaddingWaste,
    "q171_unicode_normalize" -> q171UnicodeNormalize,
    "q166_corpus_drift" -> q166CorpusDrift,
    "q131_url_canon" -> q131UrlCanon,
    "q127_unigram_lm" -> q127UnigramLm,
    "q125_gopher_rules" -> q125GopherRules,
    "q122_pii_redact" -> q122PiiRedact,
    "q40_dedup_exact" -> q40DedupExact,
    "q41_minhash_sig" -> q41MinHashSig,
    "q42_lsh_pairs" -> q42LshPairs,
    "q129_incremental_dedup" -> q129IncrementalDedup,
    "q206_store_dedup" -> q206StoreDedup,
    "q43_simhash" -> q43SimHash,
    "q44_ngram_jaccard" -> q44NgramJaccard,
    "q163_containment" -> q163Containment,
    "q92_hot_shingle_cap" -> q92HotShingleCap,
    "q96_repetition_quality" -> q96Repetition,
    "q54_hll_distinct" -> q54Hll,
    "q90_cms_heavyhitters" -> q90CmsHeavyHitters,
    "q147_cms_merge_rollup" -> q147CmsMergeRollup,
    "q153_bm25" -> q153Bm25,
    "q157_chat_render" -> q157ChatRender,
    "q159_chunking" -> q159Chunking,
    "q91_curation_funnel" -> q91CurationFunnel,
    "q204_profile_classifier" -> q204ProfileClassifier,
    "q47_text_tokens" -> q47Tokens,
    "q48_text_quality" -> q48Quality,
    "q49_langid" -> q49LangId,
    "q50_fingerprint" -> q50Fingerprint,
  )

  val oracle: Map[String, String] = Map(
    "q190_corpus_manifest" -> q190Sql,
    "q177_curation_select" -> q177Sql,
    "q180_drop_audit" -> q180Sql,
    "q172_padding_waste" -> q172Sql,
    "q171_unicode_normalize" -> q171Sql,
    "q166_corpus_drift" -> q166Sql,
    "q131_url_canon" -> q131Sql,
    "q127_unigram_lm" -> q127Sql,
    "q125_gopher_rules" -> q125Sql,
    "q122_pii_redact" -> q122Sql,
    "q40_dedup_exact" -> q40Sql,
    "q41_minhash_sig" -> q41Sql,
    "q42_lsh_pairs" -> q42Sql,
    "q129_incremental_dedup" -> q129Sql,
    "q206_store_dedup" -> q206Sql,
    "q43_simhash" -> q43Sql,
    "q44_ngram_jaccard" -> q44Sql,
    "q163_containment" -> q163Sql,
    "q92_hot_shingle_cap" -> q92Sql,
    "q96_repetition_quality" -> q96Sql,
    "q54_hll_distinct" -> q54Sql,
    "q90_cms_heavyhitters" -> q90Sql,
    "q147_cms_merge_rollup" -> q147Sql,
    "q153_bm25" -> q153Sql,
    "q157_chat_render" -> q157Sql,
    "q159_chunking" -> q159Sql,
    "q91_curation_funnel" -> q91Sql,
    "q204_profile_classifier" -> q204Sql,
    "q47_text_tokens" -> q47Sql,
    "q48_text_quality" -> q48Sql,
    "q49_langid" -> q49Sql,
    "q50_fingerprint" -> q50Sql,
  )
}
