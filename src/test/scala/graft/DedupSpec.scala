package graft

import org.apache.spark.sql.functions._
import graft.ops.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    (4L, "completely different words about spark query engines and shuffles here"),
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per content hash") {
    val g = Dedup.exact(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dup = g.filter(col("n_copies") === 2).collect()(0)
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash: identical docs identical signatures; near-dups mostly agree") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val rows = Dedup.minHash(sh, "doc_id", 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(rows(1L) == rows(2L))
    val agree13 = rows(1L).zip(rows(3L)).count(p => p._1 == p._2)
    val agree14 = rows(1L).zip(rows(4L)).count(p => p._1 == p._2)
    assert(agree13 > 8, s"near-dup should share most minhashes, got $agree13/16")
    assert(agree14 < 4, s"unrelated docs should share few minhashes, got $agree14/16")
  }

  test("LSH bucket-join surfaces the duplicate pair without N^2 work") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minHash(sh, "doc_id", 16), "doc_id", 16, 4)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
    val j = Dedup.jaccard(Dedup.candidatePairs(bands, "doc_id"), sh, "doc_id")
      .filter(col("id_a") === 1 && col("id_b") === 2).collect()(0)
    assert(j.getAs[Double]("jaccard") == 1.0)
  }

  test("jaccardScoped: zero cached partitions survive a completed run") {
    // the round-7 advisory: jaccard's internal pair/posting caches
    // must be releasable deterministically, not ride until session end
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minHash(sh, "doc_id", 16), "doc_id", 16, 4)
    val n = Dedup.jaccardScoped(Dedup.candidatePairs(bands, "doc_id"), sh, "doc_id") {
      j => j.filter(col("jaccard") >= 0.7).count() // the consumer's action
    }
    assert(n >= 1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "jaccardScoped must unpersist its internal caches on exit")
  }

  test("jaccardText (docs-fed, candidate-first shingles) == jaccard over corpus shingles") {
    // restriction and explode must commute: the docs-fed form shingles
    // ONLY colliding docs, in-row, but the verified relation must be
    // identical to the exploded words-fed verifier over the whole
    // corpus's shingles — on the real fixture corpus, not just the
    // tiny inline frame. The pairs carry an extra column, as
    // nearDupStream's `bid` does: Row equality is positional, so the
    // column order (id_b, id_a, bid, n_inter, n_a, n_b, jaccard) is
    // pinned too.
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val cand = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minHashText(corpus, "doc_id", "text", 3, 16),
        "doc_id", 16, 4), "doc_id")
      .withColumn("bid", col("id_b") * 10 + 1)
    val want = Dedup.jaccardScoped(
      cand, Dedup.shingleSet(corpus, "doc_id", "text", 3), "doc_id") { j =>
      j.collect().toSet
    }
    // the same identities the text verifier hashes, exploded
    val hashed = Dedup.jaccardScoped(cand,
      DedupReference.shingleHashSetDistinct(corpus, "doc_id", "text", 3), "doc_id") { j =>
      j.collect().toSet
    }
    val got = Dedup.jaccardTextScoped(cand, corpus, "doc_id", "text", 3) { j =>
      assert(j.columns.toSeq ==
        Seq("id_b", "id_a", "bid", "n_inter", "n_a", "n_b", "jaccard"))
      j.collect().toSet
    }
    assert(got.nonEmpty && got == want && got == hashed)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "jaccardTextScoped must unpersist its internal caches on exit")
  }

  test("same-id contract guard: rejects one id with two texts, passes the fixture corpus") {
    val key = "graft.dedup.assertContract"
    val prev = sys.props.get(key)
    sys.props(key) = "1"
    try {
      val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      val bad = Seq((1L, "aa bb cc dd ee"), (1L, "aa bb cc dd ff"),
        (2L, "aa bb cc dd ee")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        Dedup.jaccardTextScoped(pairs, bad, "doc_id", "text", 3)(_.collect())
      }
      assert(e.getMessage.contains("doc_id=1 carries 2 distinct texts"), e.getMessage)
      // a replayed row (same id, same text) is not a violation
      val replay = Seq((1L, "aa bb cc dd ee"), (1L, "aa bb cc dd ee"),
        (2L, "aa bb cc dd ee")).toDF("doc_id", "text")
      val j = Dedup.jaccardTextScoped(pairs, replay, "doc_id", "text", 3)(_.collect())
      assert(j.length == 1 && j(0).getAs[Double]("jaccard") == 1.0)
      val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(Dedup.minHashText(corpus, "doc_id", "text", 3, 16),
          "doc_id", 16, 4), "doc_id")
      val n = Dedup.jaccardTextScoped(cand, corpus, "doc_id", "text", 3)(_.count())
      assert(n > 0)
    } finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("candidatePairs: degenerate bucket is dropped by the size cap") {
    // 5 identical docs + 1 pair: every band bucket of the identical
    // docs has 5 members; cap 4 drops them, the pair (6,7) survives
    val many = ((1L to 5L).map(i => (i, "aa bb cc dd ee ff gg hh")) ++
      Seq((6L, "xx yy zz ww vv uu tt ss"), (7L, "xx yy zz ww vv uu tt ss")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSet(many, "doc_id", "text", 3)
    val bands = Dedup.lshBands(Dedup.minHash(sh, "doc_id", 16), "doc_id", 16, 4)
    val uncapped = Dedup.candidatePairs(bands, "doc_id", maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 10 + 1, s"5C2 + 1 pairs expected, got $uncapped")
    val capped = Dedup.candidatePairs(bands, "doc_id", maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((6L, 7L)),
      s"cap must drop the degenerate 5-doc bucket's m^2 pairs, got $capped")
  }

  test("invertedJaccard: df cap drops hot shingles before pair expansion") {
    // 'hot hot' bigram appears in EVERY doc; the distinctive pair
    // shares its own bigrams. With the cap at 3, the hot posting list
    // (df=4) is dropped: the unrelated docs no longer pair at all.
    val d = Seq(
      (1L, "g", "aa bb cc hot hot"), (2L, "g", "aa bb cc hot hot"),
      (3L, "g", "dd ee ff hot hot"), (4L, "g", "gg hh ii hot hot"))
      .toDF("doc_id", "grp", "text")
      .select(col("doc_id"), col("grp"),
        explode(expr(
          "transform(sequence(0, size(split(text, ' ')) - 2), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))")).as("w"))
      .distinct()
    val uncapped = Dedup.invertedJaccard(d, "doc_id", "w", Seq("grp"), maxDf = 99)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 6, s"hot bigram pairs everything: got $uncapped")
    val capped = Dedup.invertedJaccard(d, "doc_id", "w", Seq("grp"), maxDf = 3)
    val pairs = capped.select("id_a", "id_b", "n_inter").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      s"only the genuinely-similar pair must survive, got ${pairs.keySet}")
    // and the surviving pair's counts are over the CAPPED universe
    val r12 = capped.collect()(0)
    assert(r12.getAs[Long]("n_a") == 3 && r12.getAs[Long]("n_inter") == 3,
      "hot shingle must not count toward sizes or intersections")
  }

  test("degenerate inputs: null/empty/short text flows through without rows or crashes") {
    val weird = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "one two"), // shorter than k=3
      (4L, "aa bb cc dd ee ff gg hh"),
      (5L, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSet(weird, "doc_id", "text", 3)
    // only docs 4 and 5 shingle; the rest vanish silently (filtered)
    assert(sh.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      == Set(4L, 5L))
    val bands = Dedup.lshBands(Dedup.minHash(sh, "doc_id", 16), "doc_id", 16, 4)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val j = Dedup.jaccard(pairs, sh, "doc_id").collect()
    assert(j.length == 1 && j(0).getAs[Double]("jaccard") == 1.0)
    // caller-supplied cardinality (the lazy path) must not change the
    // result — both broadcast-regime (big hint budget) and shuffle-
    // regime (0 forces the hint off) values
    for (cc <- Seq(1L, 5000000L)) {
      val jc = Dedup.jaccard(pairs, sh, "doc_id", candCount = Some(cc)).collect()
      assert(jc.length == 1 && jc(0).getAs[Double]("jaccard") == 1.0,
        s"candCount=$cc must be result-invariant")
    }
    // exactKeep keeps one row per content (nulls are their own group)
    assert(Dedup.exactKeep(weird, "doc_id", "text").count() == 4)
  }

  test("dedupAgainst: only cross-corpus pairs survive, same-corpus twins never pair") {
    // reference contains an EXACT internal duplicate (1,2) — the
    // standing-corpus quadratic bulk dedupAgainst must never touch
    val ref = docs.filter(col("doc_id") <= 2)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of ref 1,2
      (11L, "completely different words about spark query engines and shuffles here"),
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(ref, batch, "doc_id", "text")
      .filter(col("jaccard") >= 0.9).collect()
    // batch 10 pairs with BOTH ref twins (uids 20/21 x 2/4 -> cross only)
    val pairs = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((2L, 21L), (4L, 21L)),
      s"expected batch uid 21 x ref uids {2,4}, got $pairs")
  }

  test("scoped dedup queries leave zero cached partitions behind (q42/q44/q92/q101/q129)") {
    // the round-8 advisory: catalog call sites must not rely on the
    // bench harness's clearCache — every internal cache (jaccard's
    // pair/posting frames, CC superstep checkpoints) is released
    // before the query function returns (results are localized)
    spark.catalog.clearCache()
    val sf = "/root/testdata/sf0.001"
    Seq(
      "q42_lsh_pairs" -> QueryCatalogText.all("q42_lsh_pairs"),
      "q44_ngram_jaccard" -> QueryCatalogText.all("q44_ngram_jaccard"),
      "q92_hot_shingle_cap" -> QueryCatalogText.all("q92_hot_shingle_cap"),
      "q129_incremental_dedup" -> QueryCatalogText.all("q129_incremental_dedup"),
      "q101_dup_clusters" -> QueryCatalogCuration.all("q101_dup_clusters")
    ).foreach { case (name, q) =>
      val out = q(spark, sf)
      assert(out.count() > 0, s"$name must produce rows")
      val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      assert(cached.isEmpty,
        s"$name leaked cached partitions: ${cached.map(_.name).mkString(", ")}")
    }
  }

  test("simhash: equal for identical docs, close for near-dups") {
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val words = Dedup.wordSet(docs, "doc_id", "text")
    val sh = Dedup.simHash(words, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sh(1L) == sh(2L))
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
    assert(hamming(sh(1L), sh(3L)) <= 12)
  }
}
