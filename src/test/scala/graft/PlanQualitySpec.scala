package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale behaviors the mandate calls
  * out ("is this join broadcast-able, and did I broadcast it?",
  * bucketing for co-located joins) checked against the actual
  * executed plans — not assumed. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("q139/q130/q135 plans contain no Window operator (the round-7 weaks)") {
    // the per-stratum / per-cell / global ranks are DistributedRank
    // (range shuffle + offset jobs) — a Window here would mean a
    // corpus-sized stratum funnels through ONE task's sorter again
    val sf = "/root/testdata/sf0.001"
    Seq(
      "q139" -> QueryCatalogCuration.all("q139_stratified_split")(spark, sf),
      "q130" -> QueryCatalogSim.all("q130_cluster_sample")(spark, sf),
      "q135" -> QueryCatalogCuration.all("q135_pagerank")(spark, sf)
    ).foreach { case (n, df) =>
      val p = plan(df)
      // q130's kmeansCells seeds use k-row windows (bounded by limit k,
      // never data-sized); assert no window PARTITIONED or ORDERED by
      // the rank columns that used to be the weak spot
      val bad = p.linesIterator.filter(_.contains("Window")).filter(l =>
        l.contains("lang") || l.contains("__rk#") || l.contains("pr_scaled") ||
          l.contains("rk#"))
      assert(bad.isEmpty, s"$n still ranks via a Window:\n${bad.mkString("\n")}")
    }
  }

  test("q52 tri-modal decode: exactly one data exchange (the video clip roll-up)") {
    // image and audio legs are pure map-only synth+decode chains; the
    // video leg's per-clip aggregation is the ONLY hash exchange —
    // more would mean a decode leg quietly grew a shuffle, fewer
    // would mean the roll-up lost its partial-aggregate shape
    val df = QueryCatalogSim.all("q52_multimodal_decode")(spark, "/root/testdata/sf0.001")
    val p = finalPlan(df)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly 1 hash exchange (video roll-up), got $hashEx:\n${p.take(1200)}")
  }

  test("q103/q106 plans contain no lang-partitioned Window (the round-8 weaks)") {
    // the per-language running token sums are DistributedRank.prefixSum
    // (range shuffle + broadcast offsets) — a partitionBy(lang) window
    // would push the dominant language through ONE task's sorter
    val sf = "/root/testdata/sf0.001"
    Seq(
      "q103" -> QueryCatalogCuration.all("q103_token_budget_mix")(spark, sf),
      "q106" -> QueryCatalogCuration.all("q106_sequence_pack")(spark, sf)
    ).foreach { case (n, df) =>
      val p = plan(df)
      val bad = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(bad.isEmpty, s"$n still prefix-sums via a Window:\n${bad.mkString("\n")}")
    }
  }

  test("q149/q158 rank-statistic plans contain no Window operator") {
    // ntile/percent_rank/cume_dist are (rank, total) projections and
    // the exact median/MAD are selection-by-rank — both over
    // DistributedRank; a Window would reintroduce the one-task-per-
    // language sorter the whole family exists to avoid
    Seq(
      "q149" -> QueryCatalogCuration.all("q149_rank_functions")(
        spark, "/root/testdata/sf0.001"),
      "q158" -> QueryCatalogCuration.all("q158_mad_outliers")(
        spark, "/root/testdata/sf0.001")
    ).foreach { case (n, df) =>
      val p = plan(df)
      val bad = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(bad.isEmpty, s"$n ranks via a Window:\n${bad.mkString("\n")}")
    }
  }

  test("q153 BM25: df/stats broadcast, top-k is TakeOrdered — no global sort") {
    // the inverted-index retrieval shape: the terms-sized df relation
    // and the one-row (N, avgdl) stats both broadcast; the final
    // top-15 is per-partition top-k + driver merge, never a full sort
    val p = plan(QueryCatalogText.all("q153_bm25")(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df/stats must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
  }

  test("q152 weighted sample: the k smallest keys come from TakeOrdered") {
    val p = plan(QueryCatalogCuration.all("q152_weighted_sample")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-k selection must be TakeOrdered, not a global sort")
  }

  test("dimension joins in q06 resolve to broadcast hash joins") {
    val p = plan(QueryCatalog.q06JoinChain(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("single-farm weekly summary pushes the farm predicate into every parquet scan") {
    import graft.domain.Fixtures
    val dir = java.nio.file.Files.createTempDirectory("farm_scan").toString
    Fixtures.modonDf(spark).write.mode("overwrite").parquet(s"$dir/modon")
    Fixtures.modonWkDf(spark).write.mode("overwrite").parquet(s"$dir/modon_wk")
    Fixtures.bunmanDf(spark).write.mode("overwrite").parquet(s"$dir/bunman")
    val one = QueryCatalogDomain3.weeklySummary(Some(1),
      spark.read.parquet(s"$dir/modon"),
      spark.read.parquet(s"$dir/modon_wk"),
      spark.read.parquet(s"$dir/bunman"))
    val p = one.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*EqualTo\\(farm_no,1\\)".r
      .findAllIn(p).length
    // modon is scanned twice (farms + cull), modon_wk and bunman once
    assert(pushed >= 4, s"farm_no=1 must reach all scans, got $pushed:\n${p.take(1500)}")
    assert(one.collect().map(_.getInt(0)).toSet == Set(1), "only farm 1 survives")
  }

  test("single-farm SUB sections push the farm predicate into the parquet scans") {
    import graft.domain.Fixtures
    val dir = java.nio.file.Files.createTempDirectory("farm_sub").toString
    Fixtures.modonDf(spark).write.mode("overwrite").parquet(s"$dir/modon")
    Fixtures.modonWkDf(spark).write.mode("overwrite").parquet(s"$dir/modon_wk")
    Fixtures.lpdDf(spark).write.mode("overwrite").parquet(s"$dir/lpd")
    val one = graft.pipeline.WeeklyReportJob.subRowsFarm(spark, 1,
      spark.read.parquet(s"$dir/modon"), spark.read.parquet(s"$dir/modon_wk"),
      spark.read.parquet(s"$dir/lpd"))
    val p = one.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*EqualTo\\(farm_no,1\\)".r
      .findAllIn(p).length
    // modon feeds the sow cohort + two spines + the culling list,
    // modon_wk the latest-record cohort + the return chart, lpd the
    // daily agg + the farm spine — every scan must carry the predicate
    assert(pushed >= 5, s"farm_no=1 must reach all scans, got $pushed:\n${p.take(1500)}")
    val farms = one.select("farm_no").distinct().collect().map(_.getInt(0)).toSet
    assert(farms == Set(1), s"only farm 1 survives, got $farms")
  }

  test("scan queries push filters into the parquet scan") {
    val p = QueryCatalog.q02Scan(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(500))
  }

  test("approx_count_distinct within 5% of exact (100 TB extension, SURVEY §2.4 note)") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.agg(countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("bucketed BAND STORE probe: zero exchanges on the standing side (the round-12 layout lever)") {
    // the incremental dedup family's persistent-store property, pinned
    // here where the plan-quality sweeps live; PersistentStoresSpec
    // carries the full matrix (append growth, partitioned+bucketed
    // streaming layout, layout invariance, LabelStore registry).
    import graft.ops.dedup.{BandStore, Dedup}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.sql("DROP TABLE IF EXISTS pq_band_store")
    val whp = new org.apache.hadoop.fs.Path("/tmp/graft_warehouse/pq_band_store")
    whp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(whp, true)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    BandStore.write(Dedup.lshBands(
      Dedup.minHashText(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
      "doc_id"), "pq_band_store")
    val probeBands = Dedup.lshBands(Dedup.minHashText(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"), "doc_id")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed = BandStore.probe(spark, "pq_band_store", probeBands, "doc_id")
      probed.collect()
      val plan = probed.queryExecution.executedPlan
      // an exchange whose subtree holds the store scan with NO join
      // below it would mean raw standing rows crossed the wire
      val offending = plan.collect {
        case e: ShuffleExchangeLike
          if e.treeString.contains("pq_band_store") &&
            e.collectFirst {
              case j: org.apache.spark.sql.execution.joins.BaseJoinExec
                if j ne e => j
            }.isEmpty => e
      }
      assert(offending.isEmpty,
        s"standing band store must not re-shuffle:\n${offending.map(_.treeString.take(500)).mkString}")
      assert(plan.toString.contains("SelectedBucketsCount"),
        "store scan must be bucket-aware")
      assert(plan.collect { case e: ShuffleExchangeLike => e }.nonEmpty,
        "the increment side must shuffle to the bucket count")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("bucketed tables join co-located — no shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS bk_orders")
    spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    // a previous JVM's managed-table locations survive the in-memory
    // catalog — clear them or CTAS refuses the location
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp/graft_warehouse")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path("/tmp/graft_warehouse/bk_orders"), true)
    fs.delete(new Path("/tmp/graft_warehouse/bk_lineitem"), true)
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    graft.sinks.Sinks.writeBucketed(o, "bk_orders", Seq("o_orderkey"))
    graft.sinks.Sinks.writeBucketed(l, "bk_lineitem", Seq("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_lineitem")
        .join(spark.table("bk_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)))
      val p = plan(joined)
      // the join itself must read bucketed data with no Exchange below it
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed join must not reshuffle the fact side")
      assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LSH bucket assignment is a pure map — zero exchanges (round-2 posture)") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val p = graft.ops.similarity.VectorOps.lshBucket(emb, "vec_id", 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bucket signature must not shuffle:\n${p.take(800)}")
  }

  test("q06 partial-aggregates lineitem BELOW the orderkey join") {
    val p = plan(QueryCatalog.q06JoinChain(spark, "/root/testdata/sf0.001"))
    // the per-orderkey HashAggregate must appear deeper in the tree
    // than the orders join (plan prints root-first)
    val iJoin = p.indexOf("o_orderkey")
    val iAgg = p.indexOf("HashAggregate(keys=[l_orderkey")
    assert(iAgg > iJoin && iAgg >= 0,
      s"expected partial agg below the join:\n${p.take(1200)}")
  }

  test("approx_percentile tracks the exact sorted-array quantiles (q87's 100 TB path)") {
    // q87's per-group scale path: the SAME grouped shape with
    // percentile_approx(accuracy=1000) for every quantile q87 emits.
    // Tolerance gate 5% relative — with accuracy=1000 the rank error
    // is <= n/1000 per group (documented next to q87), far inside it.
    val exact = QueryCatalogAgg.all("q87_quantiles")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap // p25/p50/p75
    val approx = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_quantity"), lit(0.25), lit(1000)).as("p25"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("l_quantity"), lit(0.75), lit(1000)).as("p75"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (flag, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(flag)
      Seq(("p25", a25, e25), ("p50", a50, e50), ("p75", a75, e75)).foreach {
        case (q, a, e) =>
          assert(math.abs(a - e) / e < 0.05, s"$flag $q approx=$a exact=$e")
      }
    }
  }

  test("AQE splits a skewed join partition (the runtime answer to hot keys)") {
    import spark.implicits._
    val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    val prevAdv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // one giant key on the left, uniform right
      val left = ((1 to 200000).map(_ => 1) ++ (2 to 2000)).toDF("k")
        .withColumn("pad", lpad(col("k").cast("string"), 32, "x"))
      val right = (1 to 2000).toDF("k").withColumn("v", col("k") * 2)
      // no aggregation downstream: a required hash distribution above
      // the join would veto the skew split (AQE won't add a shuffle)
      val joined = left.join(right, "k")
      assert(joined.collect().length == 200000 + 1999)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join handling in:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prevSkew)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdv)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("jaccard verification: broadcast at fixture scale, shuffle regime beyond the budget") {
    import graft.ops.dedup.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def build(broadcastCandMax: Long = 4000000L) = {
      val shingles = Dedup.shingleSet(docs, "doc_id", "text", k = 3)
      val sig = Dedup.minHash(shingles, "doc_id", n = 16)
      val cand = Dedup.candidatePairs(
        Dedup.lshBands(sig, "doc_id", n = 16, rowsPerBand = 4), "doc_id")
      Dedup.jaccard(cand, shingles, "doc_id", broadcastCandMax)
        .select("id_a", "id_b", "n_inter", "jaccard").orderBy("id_a", "id_b")
    }
    // regime 1 (default): the pairs side is hint-broadcast and AQE
    // broadcasts the small pairs×shingles intermediate at runtime
    val smallScale = build()
    val rowsBroadcast = smallScale.collect().toSeq
    val pBroadcast = smallScale.queryExecution.executedPlan.toString
    // the shingle-relation joins (id_a probe, then (id_b, w)) must both
    // be broadcast — the corpus side never shuffles for verification
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(pBroadcast).length
    assert(nBroadcast >= 2,
      s"pairs AND the pairs-x-shingles intermediate must broadcast, got $nBroadcast:\n${pBroadcast.take(1200)}")
    // regime 2 (simulated 100 TB: candidate ids + intermediates over
    // the broadcast budget): broadcastCandMax=0 makes jaccard's count
    // gate drop the candIds hint, and the -1 thresholds keep the
    // planner/AQE from re-broadcasting anything — every join falls
    // back to the shuffle path, with IDENTICAL results
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = // unset by default; get("", default) can't express that
      scala.util.Try(spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
        .toOption.filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // drop regime-1's cached pair frame: its stored physical plan
    // (with regime-1 broadcasts) would otherwise be reused verbatim
    // and show up inside the regime-2 plan string
    spark.catalog.clearCache()
    try {
      val shuffled = build(broadcastCandMax = 0L)
      val rowsShuffle = shuffled.collect().toSeq
      val pShuffle = shuffled.queryExecution.executedPlan.toString
      assert(pShuffle.contains("SortMergeJoin") || pShuffle.contains("ShuffledHashJoin"),
        s"over-budget regime must shuffle-join:\n${pShuffle.take(1000)}")
      assert(!pShuffle.contains("BroadcastHashJoin"),
        s"candIds gate must drop the broadcast hint over budget:\n${pShuffle.take(1000)}")
      assert(rowsShuffle == rowsBroadcast, "both regimes must agree exactly")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("text verification: broadcast at fixture scale, shuffle regime beyond the budget, no shingle-keyed exchange") {
    import graft.ops.dedup.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    // rows and final plan of jaccardText in one regime (the handle is
    // released before returning)
    def verify(broadcastCandMax: Long = 4000000L): (Seq[org.apache.spark.sql.Row], String) = {
      val cand = Dedup.candidatePairs(Dedup.lshBands(
        Dedup.minHashText(docs, "doc_id", "text", 3, 16), "doc_id", 16, 4), "doc_id")
      val h = Dedup.jaccardTextReleasable(cand, docs, "doc_id", "text", 3, broadcastCandMax)
      try {
        val df = h.df.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
          .orderBy("id_a", "id_b")
        (df.collect().toSeq, df.queryExecution.executedPlan.toString)
      } finally h.release()
    }
    // every hash-partitioning key of the plan; none may be a shingle
    // (the exploded verifier keyed its membership probe on (id_b, w))
    def shingleKeyed(p: String): Seq[String] =
      """hashpartitioning\((.*?), \d+\)""".r.findAllMatchIn(p).map(_.group(1))
        .filter(keys => """(^|[ (,])(w|__w[ab]?)#""".r.findFirstIn(keys).isDefined).toSeq
    val (rowsBroadcast, pBroadcast) = verify()
    assert(rowsBroadcast.nonEmpty)
    assert(pBroadcast.contains("BroadcastHashJoin"),
      s"the candidate semi-join must broadcast at fixture scale:\n${pBroadcast.take(1200)}")
    assert(shingleKeyed(pBroadcast).isEmpty,
      s"shingle-keyed exchange: ${shingleKeyed(pBroadcast)}\n${pBroadcast.take(1200)}")
    // over the budget: the count gate drops the candidate hint, the -1
    // thresholds keep the planner/AQE from broadcasting anything
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      scala.util.Try(spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
        .toOption.filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    try {
      val (rowsShuffle, pShuffle) = verify(broadcastCandMax = 0L)
      assert(pShuffle.contains("SortMergeJoin") || pShuffle.contains("ShuffledHashJoin"),
        s"over-budget regime must shuffle-join:\n${pShuffle.take(1000)}")
      assert(!pShuffle.contains("BroadcastHashJoin"),
        s"candidate gate must drop the broadcast hint over budget:\n${pShuffle.take(1000)}")
      assert(shingleKeyed(pShuffle).isEmpty,
        s"shingle-keyed exchange: ${shingleKeyed(pShuffle)}\n${pShuffle.take(2000)}")
      assert(rowsShuffle == rowsBroadcast, "both regimes must agree exactly")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  // every node of a final plan, through AQE stages and cached plans
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: ((p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      Seq(m.relation.cachedPlan)
    case _ => Nil
  }) ++ p.children).flatMap(nodes)

  // exchanges keyed on doc_id alone that carry the text: document rows
  // crossing the wire (a dup-id set carries doc_id only)
  private def docExchanges(p: org.apache.spark.sql.execution.SparkPlan) = nodes(p).collect {
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike if (e.outputPartitioning match {
      case org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
        Seq(a: org.apache.spark.sql.catalyst.expressions.Attribute), _) => a.name == "doc_id"
      case _ => false
    }) && e.output.exists(_.name == "text") => e
  }

  // the final plans of the writes `body` runs into paths containing
  // `dir`, in order
  private def writePlans(dir: String)(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(dir)) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftMetricsBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    writes.asScala.toSeq
  }

  test("curation run: survivors never cross a doc_id exchange, the funnel has no range exchange, the gate verdict rides the handle") {
    import graft.ops.dedup.Dedup
    import graft.pipeline.CorpusCurationJob
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")

    // 1. CorpusCurationJob.run: the two writes' final plans
    val out = java.nio.file.Files.createTempDirectory("graft_curation_plan").toString
    spark.catalog.clearCache()
    val byDir = writePlans(out)(CorpusCurationJob.run(spark, docs, out)).map(qe =>
      (if (qe.analyzed.toString.contains(s"$out/curated")) "curated" else "funnel") ->
        qe.executedPlan).toMap
    assert(byDir.keySet == Set("curated", "funnel"), s"captured writes: ${byDir.keySet}")
    val curatedPlan = byDir("curated")
    // not vacuous: the walk reaches the documents scan inside the
    // cached frame and survivors
    assert(nodes(curatedPlan).exists(_.isInstanceOf[FileSourceScanExec]),
      s"the walk must reach the documents scan:\n$curatedPlan")
    assert(nodes(curatedPlan).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter
      case _ => false
    }, s"the flag join must be a broadcast hash join:\n$curatedPlan")
    assert(docExchanges(curatedPlan).isEmpty,
      s"survivors crossed a doc_id exchange:\n${docExchanges(curatedPlan).mkString("\n")}")
    val funnelNodes = nodes(byDir("funnel"))
    assert(funnelNodes.exists(_.isInstanceOf[ShuffleExchangeLike]))
    assert(!funnelNodes.exists {
      case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, s"the funnel must not range-partition:\n${byDir("funnel")}")

    // 2. the handle's verdict decides the flag join's hint
    val uniq = Dedup.exactKeep(docs, "doc_id", "text")
    val cand = Dedup.candidatePairs(Dedup.lshBands(
      Dedup.minHashText(uniq, "doc_id", "text", 3, 16), "doc_id", 16, 4), "doc_id")
    def flag(broadcastCandMax: Long): (Boolean, Boolean, Boolean,
                                      Set[org.apache.spark.sql.Row], SparkPlan) = {
      val h = Dedup.jaccardTextReleasable(cand, uniq, "doc_id", "text", 3, broadcastCandMax)
      try {
        val f = CorpusCurationJob.flagged(uniq, h, 0.7)
        val anyHint = f.queryExecution.analyzed.collect { case r: ResolvedHint => r }.nonEmpty
        val joinHinted = f.queryExecution.optimizedPlan.collect {
          case j: Join if j.joinType == LeftOuter => j.hint.rightHint.isDefined
        } == Seq(true)
        val rows = f.collect().toSet
        (h.candBroadcast, anyHint, joinHinted, rows, f.queryExecution.executedPlan)
      } finally h.release()
    }
    val (hinted, _, joinHinted, rowsHinted, pHinted) = flag(4000000L)
    assert(hinted && joinHinted, "within the budget the dup ids must be hinted")
    assert(rowsHinted.exists(!_.getAs[Boolean]("__keep")), "the fixture has near-dups")
    assert(docExchanges(pHinted).isEmpty,
      s"hinted flag join exchanged the survivors:\n$pHinted")
    val (over, overAnyHint, overJoinHinted, rowsOver, _) = flag(0L)
    assert(!over, "broadcastCandMax = 0 must report an unhinted candidate side")
    assert(!overAnyHint && !overJoinHinted,
      "over the budget the flag join must plan without a broadcast hint")
    assert(rowsOver == rowsHinted, "both regimes must flag the same rows")
  }

  test("near-dup stream: the micro-batch streams through a broadcast anti-join, never a doc_id exchange") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_plan").toString
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    def drain(): Unit = graft.streaming.StreamingJobs.nearDupStream(
      df, s"$dir/store", s"$dir/curated", s"$dir/chk").awaitTermination()
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val other = "completely different words about spark query engines and shuffles"
    // batch 0 (no store yet) drops an intra-batch near-dup; batch 1
    // probes the store and drops a cross-batch near-dup. Auto-broadcast
    // off (planner and AQE): a fixture micro-batch is under the size
    // threshold, a production one is not, so only the stream's own
    // gate may broadcast here
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k).filter(_ != null))
    keys.foreach(spark.conf.set(_, "-1"))
    val plans = try writePlans(s"$dir/curated") {
      mem.addData((1L, base), (2L, other), (3L, base.replace("today", "tonight")))
      drain()
      mem.addData((0L, base.replace("today", "this morning")), (12L, "novel words entirely"))
      drain()
    }.map(_.executedPlan) finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(plans.length == 2, s"one curated write per micro-batch, got ${plans.length}")
    plans.foreach { p =>
      val anti = nodes(p).collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      assert(anti.nonEmpty, s"the novel-doc anti-join must broadcast the dropped ids:\n$p")
      // its streamed side is the cached micro-batch
      anti.foreach(j => assert(docExchanges(j.left).isEmpty,
        s"the micro-batch crossed a doc_id exchange:\n${docExchanges(j.left).mkString("\n")}"))
    }
    assert(spark.read.parquet(s"$dir/curated").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 12L))
  }

  test("decontamination probes a broadcast benchmark index (corpus never shuffles n-grams)") {
    val p = plan(QueryCatalogCuration.q104Decontaminate(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark 5-gram index must broadcast into a semi probe:\n${p.take(800)}")
  }

  // AQE's executedPlan.toString appends an "== Initial Plan ==" section
  // that repeats every node — count operators in the final plan only
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("ANN serving shape: a bounded probe set never shuffles the corpus (auto-broadcast OFF)") {
    // the property that matters at 100 TB: lshAnnMulti / ivfAnn with
    // a handful of probes must restrict the corpus MAP-SIDE via the
    // explicit counted broadcast gates — NOT via the optimizer's
    // auto-broadcast, which flips to sort-merge (and shuffles the
    // whole corpus) the moment the corpus's estimated size crosses
    // the threshold. Simulate that regime by disabling auto-broadcast
    // and assert no shuffle exchange moves raw corpus rows (an
    // exchange whose subtree scans the embeddings parquet with no
    // join below it = corpus rows crossed the wire unrestricted).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      .filter(_ != null)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // AQE OFF (the band-store precedent above): under AQE the
      // executedPlan root is an AdaptiveSparkPlanExec LEAF, so
      // .collect never reaches the inner exchanges and every
      // assertion below would pass vacuously
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      // probes as their OWN parquet (the serving posture: a query
      // batch arrives as its own small relation) — so a scan matching
      // "embeddings.parquet" below an exchange is unambiguously the
      // CORPUS crossing the wire, never the 5-row probe side of an
      // internal sort-merge join
      val probesDir = java.nio.file.Files.createTempDirectory("ann_probes").toString
      emb.filter(col("vec_id") < 5).write.mode("overwrite").parquet(probesDir)
      val probes = spark.read.parquet(probesDir)
      // allowAgg: the inline-derivation BUILD path's centroid
      // aggregation legitimately exchanges partially-aggregated
      // (cell, dim) rows — combined aggregates, not raw corpus rows;
      // serve paths pass allowAgg = false and tolerate nothing
      def rawCorpusExchanges(df: org.apache.spark.sql.DataFrame,
                             allowAgg: Boolean = false): Seq[String] = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeLike
            if e.treeString.contains("embeddings.parquet") &&
              e.collectFirst {
                case j: org.apache.spark.sql.execution.joins.BaseJoinExec
                  if j ne e => j
              }.isEmpty &&
              (!allowAgg || e.collectFirst {
                case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
                  if a ne e => a
              }.isEmpty) => e.treeString.linesIterator.next()
        }
      }
      val multi = graft.ops.similarity.VectorOps.lshAnnMulti(
        probes, emb, k = 3, nPlanes = 8, nTables = 4)
      assert(rawCorpusExchanges(multi).isEmpty,
        "lshAnnMulti shuffled raw corpus rows for 5 probes")
      val ivf = graft.ops.similarity.VectorOps.ivfAnn(
        probes, emb, "label", k = 3, nprobe = 2)
      assert(rawCorpusExchanges(ivf, allowAgg = true).isEmpty,
        "ivfAnn shuffled raw corpus rows for 5 probes")
      val single = graft.ops.similarity.VectorOps.lshAnn(
        probes, emb, k = 3, nPlanes = 8)
      assert(rawCorpusExchanges(single).isEmpty,
        "lshAnn shuffled raw corpus rows for 5 probes")
      // PQ refine: the ADC shortlist reads the STORED code index (a
      // materialized parquet — the serving shape; its aggregation
      // shuffles code-derived rows, not embeddings); the refine join
      // must touch only shortlist vectors, never shuffle the corpus
      val (codes, books) = graft.ops.similarity.VectorOps.pqCodes(
        emb, "vec_id", m = 4, ksub = 4, iters = 1)
      val idxDir = java.nio.file.Files.createTempDirectory("pq_idx").toString
      codes.write.mode("overwrite").parquet(s"$idxDir/codes")
      books.write.mode("overwrite").parquet(s"$idxDir/books")
      val refined = graft.ops.similarity.VectorOps.pqRefinedTopK(
        probes, emb, spark.read.parquet(s"$idxDir/codes"),
        spark.read.parquet(s"$idxDir/books"), "vec_id", m = 4, k = 3)
      assert(rawCorpusExchanges(refined).isEmpty,
        "pqRefinedTopK shuffled raw corpus rows for 5 probes")
      // the test must actually SEE exchanges when they exist — guard
      // against the vacuous-leaf regression this assertion set had
      // under AQE: the probe-less brute-force path shuffles corpus
      // rows into its global window and must be caught
      val brute = graft.ops.similarity.VectorOps.bruteForceKnn(probes, emb, k = 3)
      brute.collect()
      val bruteEx = brute.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(bruteEx.nonEmpty, "sanity: detector must see exchanges in a shuffling plan")

      // IVF SERVE over a STORED centroid index: the plan must contain
      // no corpus-scan centroid re-derivation — no Generate
      // (posexplode) node and exactly one embeddings scan subtree
      // feeding the centroid path (the probes')
      val centsDir = java.nio.file.Files.createTempDirectory("ivf_cents").toString
      graft.ops.similarity.VectorOps.ivfCentroids(emb, "label")
        .write.mode("overwrite").parquet(centsDir)
      val served = graft.ops.similarity.VectorOps.ivfAnn(
        probes, emb, "label", k = 3, nprobe = 2,
        centroids = Some(spark.read.parquet(centsDir)))
      assert(rawCorpusExchanges(served).isEmpty,
        "ivfAnn(serve) shuffled raw corpus rows for 5 probes")
      val servedPlan = served.queryExecution.executedPlan.toString
      assert(!servedPlan.contains("Generate"),
        s"serve plan re-derived centroids (posexplode of the corpus):\n${servedPlan.take(1200)}")

      // PQ packed serving: the ADC scoring pass is a pure map over
      // the stored packed codes — no exchange may move raw code rows
      // (the only exchanges are the bounded TopKPerKey clustering and
      // the tiny LUT/refine aggregations)
      val packed = graft.ops.similarity.VectorOps.pqCodesPacked(
        spark.read.parquet(s"$idxDir/codes"), "vec_id")
      packed.write.mode("overwrite").parquet(s"$idxDir/packed")
      val servedPq = graft.ops.similarity.VectorOps.pqServeTopK(
        probes, emb, spark.read.parquet(s"$idxDir/packed"),
        spark.read.parquet(s"$idxDir/books"), "vec_id", m = 4, ksub = 4, k = 3)
      assert(rawCorpusExchanges(servedPq).isEmpty,
        "pqServeTopK shuffled raw corpus rows for 5 probes")
      val pqEx = servedPq.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike
          if e.treeString.contains(s"packed") &&
            e.collectFirst {
              case t: graft.plans.TopKPerKey.TopKPerKeyPartialExec => t
            }.isEmpty => e.treeString.linesIterator.next()
      }
      assert(pqEx.isEmpty,
        s"packed-code scan crossed the wire outside the bounded top-k:\n${pqEx.mkString("\n")}")

      // the FULL IVF-PQ stack: stored centroids + cell-carrying packed
      // index — no raw corpus rows may cross the wire, no Generate
      val packedIdx = packed.join(
        emb.select(col("vec_id"), col("label").as("cell")), "vec_id")
      packedIdx.write.mode("overwrite").parquet(s"$idxDir/packed_cells")
      val stacked = graft.ops.similarity.VectorOps.ivfPqTopK(
        probes, emb, spark.read.parquet(centsDir),
        spark.read.parquet(s"$idxDir/packed_cells"),
        spark.read.parquet(s"$idxDir/books"), "vec_id",
        m = 4, ksub = 4, k = 3, nprobe = 2, shortlist = 10)
      // (the stack's only Generate is the probe-side LUT posexplode —
      // probe-sized; the corpus property is the exchange assertion)
      assert(rawCorpusExchanges(stacked).isEmpty,
        "ivfPqTopK shuffled raw corpus rows for 5 probes")
    } finally {
      prev.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevA.fold(spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("column profiler: one Expand pass, hash-aggregated, two scans max") {
    val p = finalPlan(QueryCatalogCuration.q105ColumnProfile(spark, "/root/testdata/sf0.001"))
    assert("Expand".r.findAllIn(p).length == 1,
      s"multi-distinct must plan as ONE Expand:\n${p.take(800)}")
    // r16 split: the distinct branch and the keyless min/max branch
    // each scan once (two scans total, NOT one per column). One
    // combined scan would drag the immutable string min/max buffers
    // into the Expand aggregate, forcing SortAggregate + a full Sort
    // of the expanded rows (measured as the whole q105 clock) —
    // asserted structurally below: no Sort may sit under the Expand's
    // aggregation, and the distinct counts must hash-aggregate.
    assert("Scan parquet".r.findAllIn(p).length == 2,
      s"profile must read the table exactly twice (split branches):\n${p.take(800)}")
    val expandIdx = p.indexOf("Expand")
    assert(p.contains("HashAggregate"),
      s"distinct branch must hash-aggregate:\n${p.take(800)}")
    // the only Sort node allowed is the presentation ORDER BY
    // ("Sort [" matches SortExec's rendering, not SortAggregate)
    assert("Sort \\[".r.findAllIn(p).length <= 1,
      s"only the presentation sort may remain:\n${p.take(1200)}")
    assert(expandIdx >= 0)
  }

  test("PII scrub never hash-shuffles — only the presentation sort exchanges") {
    val p = finalPlan(
      QueryCatalogText.all("q122_pii_redact")(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"count+redact must stay a pure map over the scan:\n${p.take(800)}")
  }

  test("Gopher doc gate is a pure map — only the presentation sort exchanges") {
    val p = finalPlan(
      QueryCatalogText.all("q125_gopher_rules")(spark, "/root/testdata/sf0.001"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"five-rule gate must ride the scan, no hash exchange:\n${p.take(800)}")
  }

  test("bloom decontamination probes ONE broadcast sketch row, corpus grams never shuffle pre-probe") {
    val p = finalPlan(QueryCatalogCuration
      .q126BloomDecontaminate(spark, "/root/testdata/sf0.001"))
    // the sketch row reaches the corpus side as a broadcast nested loop
    // (single-row cross join), never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sketch must broadcast:\n${p.take(800)}")
    // corpus n-grams are generated (per-doc distinct IN-ROW) and
    // probed map-side — the gram stream itself never hash-shuffles;
    // the only gram exchange allowed is the SMALL eval side's distinct
    assert("Exchange hashpartitioning\\(doc_id#\\d+L?, w#".r.findAllIn(p).isEmpty,
      s"corpus (doc, gram) stream must never shuffle:\n${p.take(800)}")
    // the SMALL eval side's distinct exchanges once per consumer (the
    // bloom build and the conf join) — bounded by the eval set, never
    // the corpus
    assert("Exchange hashpartitioning\\(w#".r.findAllIn(p).length <= 2,
      s"only the eval-side distinct may exchange on the gram column:\n${p.take(800)}")
  }

  test("unigram LM vocab joins broadcast — token stream never sort-merge joins") {
    val p = finalPlan(
      QueryCatalogText.all("q127_unigram_lm")(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      s"no token-level sort-merge join allowed:\n${p.take(800)}")
  }

  test("rolling-actives spine broadcasts — the activity relation streams through a BNLJ") {
    val p = finalPlan(
      QueryCatalogAgg.all("q137_rolling_actives")(spark, "/root/testdata/sf0.001"))
    // non-equi window-membership join: tiny spine must be the broadcast
    // side; the (user, day) relation must never shuffle into a cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"spine must broadcast into the range join:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product allowed:\n${p.take(800)}")
  }

  test("minhash signature plan has no corpus-wide distinct below the aggregation") {
    import graft.ops.dedup.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sig = Dedup.minHash(Dedup.shingleSet(docs, "doc_id", "text", 3), "doc_id", 16)
    // exactly ONE exchange: the signature aggregation itself (shingle
    // production is map-only since the multiset refactor)
    val nEx = "Exchange".r.findAllIn(finalPlan(sig)).length
    assert(nEx == 1, s"expected 1 exchange (the partial-agg shuffle), got $nEx")
  }

  test("q184 token shards: prefix sum via range shuffle, no Window operator") {
    // the exclusive token prefix sum is DistributedRank.prefixSum —
    // a global Window.orderBy would funnel the whole corpus through
    // one task's sorter
    val p = plan(QueryCatalogVocab.all("q184_token_shards")(
      spark, "/root/testdata/sf0.001"))
    val bad = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(bad.isEmpty, s"q184 prefix-sums via a Window:\n${bad.mkString("\n")}")
  }

  test("q186 collocations: vocab joins broadcast, top-10 is TopKPerKey") {
    // the bigram table is the only corpus-sized frame: unigram/total
    // joins must broadcast onto it, and the per-language top-10 must
    // be the custom heap operator, never a sort of all bigrams
    val df = QueryCatalogVocab.all("q186_collocations")(
      spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "vocab joins must broadcast")
    assert(p.contains("TopKPerKey"), s"top-10 must be TopKPerKey:\n$p")
  }

  test("q190 manifest: pruned scan, two exchanges (tiny-key agg + presentation sort)") {
    // the integrity stamp must stay scan-bound: one partial-agg
    // exchange on (lang, source) plus the ORDER BY — and the parquet
    // scan must not read doc_id/n_chars (hash needs text only)
    val df = QueryCatalogText.all("q190_corpus_manifest")(
      spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx <= 2, s"manifest must shuffle only the tiny key space, got $nEx:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("doc_id") && !read.contains("n_chars"),
      s"scan must prune to (text, lang, source): $read")
  }

  test("q204 classifier: model joins broadcast, no window, no cartesian") {
    val p = finalPlan(QueryCatalogText.all("q204_profile_classifier")(
      spark, "/root/testdata/sf0.001"))
    // the vocab-sized model and the k-row class totals must broadcast
    // onto the token stream; the argmax is a doc-keyed self-join plus
    // aggregations — never a Window, never an unkeyed cartesian over
    // corpus-sized relations (the only nested-loop join allowed is the
    // k-row totals cross join, which must be the broadcast side)
    assert(p.contains("BroadcastHashJoin"), s"model must broadcast:\n${p.take(800)}")
    assert(!p.contains("Window"), s"no Window allowed:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product allowed:\n${p.take(800)}")
  }

  test("q203 fingerprint dedup: band join runs over grouped fingerprints, not docs") {
    val p = finalPlan(QueryCatalogSim.all("q203_audio_fingerprint")(
      spark, "/root/testdata/sf0.001"))
    // decode+fingerprint are mapPartitions (no exchange below the
    // groupBy); the localized reps frame makes the band join a
    // local-relation join — no corpus-sized self-join survives
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product allowed:\n${p.take(800)}")
    assert(!p.contains("Window"), s"no Window allowed:\n${p.take(800)}")
  }

  test("custom top-k over parquet orders plans partial/exchange/final with no sort") {
    // the operator itself (q56 adds a presentation ORDER BY on top)
    val orders = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val q = graft.plans.TopKPerKey.topK(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 2)
    val p = q.queryExecution.sparkPlan.toString
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"))
    assert(!p.contains("Sort"), s"no sort expected:\n$p")
  }
}
