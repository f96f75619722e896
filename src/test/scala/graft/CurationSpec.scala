package graft

import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def lineDedup = QueryCatalogCuration.q99LineDedup

  test("span dedup: unique spans reassemble to the full-span prefix of the doc") {
    // doc_id 1 and 2 (not % 3 == 0): no boilerplate planted, all spans
    // unique across this corpus -> clean_text is the original text cut
    // to whole 5-token spans, in order
    val out = lineDedup(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id").isin(1, 2)).collect()
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id").isin(1, 2))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    out.foreach { r =>
      val toks = docs(r.getAs[Long]("doc_id")).split("\\s+")
      val whole = toks.take(toks.length / 5 * 5).mkString(" ")
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_spans"),
        "uncontaminated docs keep every span")
      assert(r.getAs[String]("clean_text") == whole,
        "reassembly must preserve original span order")
    }
  }

  test("span dedup: planted boilerplate span is removed from every planted doc") {
    val out = lineDedup(spark, "/root/testdata/sf0.001")
    val planted = out.filter(col("doc_id") % 3 === 0)
    // every planted doc lost at least its boilerplate span
    assert(planted.filter(col("n_kept") >= col("n_spans")).count() == 0)
    assert(!planted.collect().exists(
      _.getAs[String]("clean_text").contains("subscribe to our newsletter now")))
  }

  test("token budget: every admitted doc starts inside the budget, in quality order") {
    val rows = QueryCatalogCuration.q103TokenBudgetMix(spark, "/root/testdata/sf0.001")
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_tokens") - r.getAs[Long]("n_tokens") < 2000)
    }
    // per lang, the admitted set is a prefix: cum_tokens are strictly
    // increasing and consistent with the doc's own token count
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val byCum = rs.sortBy(_.getAs[Long]("cum_tokens"))
      byCum.foldLeft(0L) { (prev, r) =>
        val c = r.getAs[Long]("cum_tokens")
        assert(c == prev + r.getAs[Long]("n_tokens")); c
      }
    }
  }

  test("decontamination: benchmark docs are contaminated by construction") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val nBench = docs.filter(col("doc_id") % 97 === 0).count()
    val out = QueryCatalogCuration.q104Decontaminate(spark, "/root/testdata/sf0.001")
    val hit = out.agg(sum("n_contaminated")).head().getLong(0)
    assert(hit >= nBench, "every benchmark doc shares its own 5-grams")
    val total = out.agg(sum("n_docs")).head().getLong(0)
    assert(total == docs.count())
  }

  test("profiler handles non-identifier column names") {
    val df = Seq((1, "a"), (2, "b"), (2, null.asInstanceOf[String]))
      .toDF("order key", "flag's")
    val out = graft.ops.Profiler.profile(df, Seq("order key", "flag's"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("order key") == ((3L, 3L, 2L)))
    assert(out("flag's") == ((3L, 2L, 2L)))
  }

  test("hash sample: buckets are stable and ~10% eval") {
    val out = QueryCatalogCuration.q102HashSample(spark, "/root/testdata/sf0.001")
      .collect()
    val (nd, ne) = (out.map(_.getAs[Long]("n_docs")).sum,
      out.map(_.getAs[Long]("n_eval")).sum)
    assert(ne > 0 && ne < nd)
    assert(math.abs(ne.toDouble / nd - 0.1) < 0.06, s"eval frac ${ne.toDouble / nd}")
    // determinism: a second run produces identical rows
    val again = QueryCatalogCuration.q102HashSample(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("approx profile tracks the exact profile within 3x rsd, with no Expand (q105's 100 TB path)") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val rsd = 0.05
    val exact = graft.ops.Profiler.profile(li, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    val approxDf = graft.ops.Profiler.profileApprox(li, cols, rsd)
    val approx = approxDf.collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      // everything but the sketch stays exact
      assert(a.getAs[Long]("n_rows") == e.getAs[Long]("n_rows"))
      assert(a.getAs[Long]("n_nonnull") == e.getAs[Long]("n_nonnull"))
      assert(a.getAs[String]("min_value") == e.getAs[String]("min_value"))
      assert(a.getAs[String]("max_value") == e.getAs[String]("max_value"))
      // HLL++ error bound: 3 standard deviations of the stated rsd
      val (en, an) = (e.getAs[Long]("n_distinct"), a.getAs[Long]("n_distinct"))
      assert(math.abs(an - en).toDouble / en <= 3 * rsd,
        s"$c approx n_distinct=$an exact=$en outside 3*rsd")
    }
    // the structural win the scale story claims: exact multi-distinct
    // plans an Expand (4x|cols| row multiplication before the agg);
    // the sketch variant must plan NONE
    val exactPlan = graft.ops.Profiler.profile(li, cols)
      .queryExecution.executedPlan.toString
    val approxPlan = approxDf.queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "exact profile is the Expand baseline")
    assert(!approxPlan.contains("Expand"), s"approx profile must not Expand:\n${approxPlan.take(800)}")
  }

  test("multi-pass blocking finds first-char typos the prefix block is blind to") {
    val out = QueryCatalogCuration.q118MultiBlockMatch(spark, "/root/testdata/sf0.001")
      .collect()
    // position-3 typos (id + 1,000,000): found by the prefix pass
    val mid = out.filter(r => (1000000L to 1999999L).contains(r.getAs[Long]("id_b")))
    // first-char deletions (id + 3,000,000): invisible to the prefix
    // block by construction, recovered by the suffix pass
    val front = out.filter(r => r.getAs[Long]("id_b") >= 3000000L)
    assert(mid.nonEmpty && front.nonEmpty,
      s"both typo families must match: mid=${mid.length} front=${front.length}")
    assert(front.forall(_.getAs[Long]("dist") == 1L))
    // no duplicate pair rows despite two passes
    val keys = out.map(r => (r.getAs[String]("p_brand"),
      r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(keys.distinct.length == keys.length, "cross-pass dedup must hold")
  }

  test("fuzzy match: planted hot block is dropped by the cap, benign matches untouched") {
    val d = "/root/testdata/sf0.001"
    val benign = QueryCatalogCuration.q108FuzzyMatch(spark, d).collect()
    val capped = QueryCatalogCuration.q113HotBlockCap(spark, d).collect()
    // the 200-row boilerplate block never reaches pair expansion:
    // zero HOT pairs (uncapped it alone emits C(200,2) = 19,900 —
    // the names differ only in the one-char %4 suffix, so every
    // pair survives the dist<=1 filter)
    assert(!capped.exists(_.getAs[String]("p_brand") == "HOT#00"),
      "hot block must be dropped before pair expansion")
    // and capping changes nothing for the benign corpus
    assert(capped.map(_.toString).toSeq == benign.map(_.toString).toSeq,
      "benign matches must be identical with the hot block planted+capped")
    // the uncapped bound really is quadratic: same input through the
    // raw self-join (no cap) floods with dist-0 boilerplate pairs
    import org.apache.spark.sql.functions._
    val p = graft.core.Tables.part(spark, d)
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    val hot = p.filter(col("p_partkey") <= 200)
      .select((col("p_partkey") + 2000000).as("id"),
        concat(lit("zz boilerplate item "), (col("p_partkey") % 4).cast("string"))
          .as("p_name"))
    val a = hot.select(col("id").as("id_a"), col("p_name").as("name_a"))
    val b = hot.select(col("id").as("id_b"), col("p_name").as("name_b"))
    val uncappedHot = a.join(b, col("id_a") < col("id_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1).count()
    assert(uncappedHot == 19900L, s"expected C(200,2) = 19900, got $uncappedHot")
  }

  test("stratified split partitions every stratum at exactly (n*8) div 10 train") {
    val out = QueryCatalogCuration.q139StratifiedSplit(
      spark, "/root/testdata/sf0.001")
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    // exhaustive partition: every doc appears exactly once
    assert(out.count() == docs.count())
    assert(out.select("doc_id").distinct().count() == docs.count())
    val perStratum = out.groupBy("lang", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    n.foreach { case (lang, total) =>
      val train = perStratum.getOrElse((lang, "train"), 0L)
      val valN = perStratum.getOrElse((lang, "val"), 0L)
      val test = perStratum.getOrElse((lang, "test"), 0L)
      assert(train == total * 8 / 10, s"$lang train $train of $total")
      assert(valN == total * 9 / 10 - total * 8 / 10, s"$lang val $valN of $total")
      assert(train + valN + test == total)
    }
  }

  test("corpus manifest is order-invariant and flips on any content edit") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    def manifest(df: org.apache.spark.sql.DataFrame) = {
      import graft.ops.dedup.Dedup
      df.withColumn("h", Dedup.h60(lit(0), col("text")))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          expr("bit_xor(h)").as("content_xor"),
          sum(col("h") % 1000003L).cast("long").as("content_modsum"))
        .orderBy("lang", "source")
        .collect().map(_.toSeq).toSeq
    }
    val docs = graft.core.Tables.documents(spark, sf)
    val base = manifest(docs)
    // the core claim: ANY reordering/repartitioning leaves every
    // digest bit-identical (commutative aggregates only)
    assert(manifest(docs.repartition(7)) == base)
    assert(manifest(docs.orderBy(col("doc_id").desc)) == base)
    // and a single-character edit in ONE doc flips that slice's digests
    val edited = docs.withColumn("text",
      when(col("doc_id") === 3, concat(col("text"), lit("!"))).otherwise(col("text")))
    val slice = docs.filter(col("doc_id") === 3)
      .select("lang", "source").head()
    val (l, s) = (slice.getString(0), slice.getString(1))
    val before = base.find(r => r.head == l && r(1) == s).get
    val after = manifest(edited).find(r => r.head == l && r(1) == s).get
    assert(before(4) != after(4) && before(5) != after(5),
      s"xor AND modsum must flip: $before vs $after")
  }

  test("q177/q178 at sf0.01: the selection cut and the representatives agree with independent algorithms") {
    import graft.ops.{DistributedRank, Materialize}
    import graft.ops.dedup.{ConnectedComponents, Dedup}
    import graft.ops.text.{Dsir, TextOps}
    import graft.pipeline.CorpusCurationJob
    val sf = "/root/testdata/sf0.01"
    val docs = graft.core.Tables.documents(spark, sf)
    val recrawl = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 1000000))

    // q177: the catalog keeps rk <= ceil(n/5) under (score desc, doc_id
    // asc); the ORDER-REVERSED rank (score asc, doc_id desc) with the
    // complement cut rk2 > n - ceil(n/5) must keep the same docs
    val cur = CorpusCurationJob.curateReleasable(recrawl)
    val curLeaf = Materialize.leafCache(cur.df.select(col("doc_id"), col("lang"),
      col("source"), col("text"), TextOps.nWsTokens(col("text")).cast("long").as("__ntok")))
    cur.release()
    val scored = Materialize.leafCache(Dsir.scoreMicros(curLeaf, "doc_id", "text",
      col("source").isin("src0", "src1"), carry = Seq("lang", "__ntok")))
    Materialize.release(curLeaf)
    try {
      val cut = expr("(n_total + 4) div 5")
      val fwd = DistributedRank.rank(scored, Seq.empty,
        Seq(col("score_micros").desc, col("doc_id")), "rk", totalCol = "n_total")
      val keptFwd = fwd.filter(col("rk") <= cut)
      val keptRev = DistributedRank.rank(scored, Seq.empty,
        Seq(col("score_micros").asc, col("doc_id").desc), "rk2", totalCol = "n_total")
        .filter(col("rk2") > col("n_total") - cut)
      val f = keptFwd.select("doc_id").as[Long].collect()
      val r = keptRev.select("doc_id").as[Long].collect()
      val n = scored.count()
      assert(n > 0)
      assert(f.length == (n + 4) / 5, s"kept ${f.length} of $n, want ceil(n/5)")
      assert(f.sorted.toSeq == r.sorted.toSeq, "forward and order-reversed cuts keep different docs")
      // the catalog query's published stats are the kept set's recount
      val recounted = fwd.groupBy("lang").agg(count(lit(1)).as("n_curated"))
        .join(keptFwd.groupBy("lang").agg(count(lit(1)).as("n_selected"),
          sum("__ntok").as("tok_selected")), Seq("lang"), "left")
        .na.fill(0L, Seq("n_selected", "tok_selected"))
      val catalog = QueryCatalogText.q177CurationSelect(spark, sf)
      assert(catalog.exceptAll(recounted).isEmpty && recounted.exceptAll(catalog).isEmpty)
    } finally Materialize.release(scored)

    // q178: clusters re-labeled by alternating-star CC, representative
    // = max quality, then min id, recomputed join-wise
    val catalogReps = QueryCatalogCuration.q178RepresentativeDedup(spark, sf)
    val cand = Dedup.candidatePairs(Dedup.lshBands(
      Dedup.minHashText(recrawl, "doc_id", "text", 3, 16), "doc_id", 16, 4), "doc_id")
    val edges = Dedup.jaccardTextScoped(cand, recrawl, "doc_id", "text", 3) { j =>
      Materialize.localize(j.filter(col("jaccard") >= 0.7).select("id_a", "id_b"))
    }
    val star = ConnectedComponents.alternatingStar(edges)
    val comp = Materialize.localize(star)
    ConnectedComponents.release(star)
    val qual = recrawl.select(col("doc_id"),
      TextOps.qualityScore(col("text"), CorpusCurationJob.Stopwords).as("quality"))
    val members = comp.join(qual, comp("id") === qual("doc_id"))
      .select(col("component"), col("doc_id"), col("quality"))
    val best = members.groupBy("component").agg(
      count(lit(1)).as("cluster_size"), max("quality").as("rep_quality"))
    val reps = members.join(best, Seq("component"))
      .filter(col("quality") === col("rep_quality"))
      .groupBy("component", "cluster_size", "rep_quality")
      .agg(min("doc_id").as("rep_doc_id"))
      .withColumn("n_dropped", col("cluster_size") - 1)
      .select("component", "cluster_size", "rep_doc_id", "rep_quality", "n_dropped")
    assert(catalogReps.count() > 0, "the planted re-crawls must form clusters")
    assert(catalogReps.exceptAll(reps).isEmpty && reps.exceptAll(catalogReps).isEmpty,
      "catalog representatives differ from star-CC + join-wise argmax")
    val strays = catalogReps.join(members,
      catalogReps("component") === members("component") &&
        catalogReps("rep_doc_id") === members("doc_id"), "left_anti")
    assert(strays.isEmpty, "a representative outside its cluster")
  }
}
