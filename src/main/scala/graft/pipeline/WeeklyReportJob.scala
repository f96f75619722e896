package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryCatalogDomain, QueryCatalogDomain2, QueryCatalogDomain3}
import graft.domain.DateOps
import graft.sinks.Sinks

/** The weekly report as ONE Spark job over all farms (SURVEY §3.1
  * "Spark shape"): the reference's per-farm thread pool
  * (orchestrator.py:544-628) disappears — sections are whole-table
  * transforms keyed by farm_no, unioned into the TS_INS_WEEK_SUB wide
  * schema (docs/db/ins/02_TABLE.md:409-441), and the per-section
  * UPDATE dance (base.py:148-178) collapses into one summary row per
  * farm rolled up from the written SUB rows.
  */
object WeeklyReportJob {

  /** The seven source tables every weekly section reads — ONE bundle
    * so the fixture run and the 50k-farm scale run drive the SAME
    * section implementations ([[subRowsFrom]]/[[summaryFrom]]): the
    * fixture hash gates (q82/q78/q120) verify the composition's
    * semantics; the scale harness (devtools.WeeklyScale) feeds
    * parquet-backed facts through the identical code and replays the
    * identical oracle SQL over parquet-backed CTEs in DuckDB. */
  final case class DomainSources(modon: DataFrame, modonWk: DataFrame,
                                 bunman: DataFrame, eu: DataFrame,
                                 trans: DataFrame, lpd: DataFrame,
                                 farmConfig: DataFrame)

  object DomainSources {
    import graft.domain.Fixtures
    def fixtures(s: SparkSession): DomainSources = DomainSources(
      Fixtures.modonDf(s), Fixtures.modonWkDf(s), Fixtures.bunmanDf(s),
      Fixtures.euDf(s), Fixtures.transDf(s), Fixtures.lpdDf(s),
      Fixtures.farmConfigDf(s))
    /** The seven tables as parquet dirs under `dir` (the scale
      * corpus layout devtools.GenFarms writes). */
    def parquet(s: SparkSession, dir: String): DomainSources = DomainSources(
      s.read.parquet(s"$dir/modon.parquet"),
      s.read.parquet(s"$dir/modon_wk.parquet"),
      s.read.parquet(s"$dir/bunman.parquet"),
      s.read.parquet(s"$dir/eu.parquet"),
      s.read.parquet(s"$dir/trans.parquet"),
      s.read.parquet(s"$dir/lpd.parquet"),
      s.read.parquet(s"$dir/farm_config.parquet"))
  }

  /** TS_INS_WEEK_SUB-shaped columns (compact: CODE_1, CNT/VAL_1..15,
    * STR_1..15 kept where used; absent cells NULL). */
  private val subCols: Seq[String] =
    Seq("farm_no", "gubun", "sub_gubun", "sort_no", "code_1") ++
      (1 to 15).map(i => s"cnt_$i") ++ (1 to 15).map(i => s"val_$i") ++
      (1 to 15).map(i => s"str_$i")

  /** Pad/select a section frame into the canonical SUB schema. */
  private def conform(df: DataFrame, mapping: Map[String, Column]): DataFrame = {
    val cols = subCols.map { c =>
      mapping.getOrElse(c,
        if (c == "sort_no") lit(0)
        else if (c.startsWith("cnt_") || c.startsWith("val_")) lit(null).cast("double")
        else lit(null).cast("string")).as(c)
    }
    df.select(cols: _*)
  }

  /** All SUB rows for the fixture week, every farm at once — every
    * processor of the reference's per-farm run
    * (async_processor.py:170-192: CONFIG, ALERT, MODON, MATING,
    * FARROWING, WEANING, ACCIDENT, CULLING, SHIPMENT, SCHEDULE)
    * conformed into the TS_INS_WEEK_SUB wide schema and unioned. Each
    * section is its own hash-verified query; the union re-verifies
    * the CONFORMANCE (padding, types, sort_no rules) via q82. */
  def subRows(spark: SparkSession): DataFrame =
    subRowsFrom(spark, DomainSources.fixtures(spark))

  /** [[subRows]] over caller-supplied source tables — the identical
    * ten-section composition the fixture gate verifies, driven by the
    * scale harness over parquet-backed facts at 50k farms. Every
    * section is self-contained, so a top-level farm predicate pushes
    * through the whole union to the scans (q120). */
  def subRowsFrom(spark: SparkSession, src: DomainSources): DataFrame = {
    def rnBy(ord: Column*): Column =
      row_number().over(Window.partitionBy(col("farm_no")).orderBy(ord: _*))
    val cfg = conform(QueryCatalogDomain3.q83ConfigScheduleFrom(spark,
      src.modon, src.modonWk, src.farmConfig), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("CONFIG"), "sub_gubun" -> lit("SCHED"),
      "sort_no" -> rnBy(col("pig_no")), "code_1" -> col("pig_no"),
      "cnt_1" -> col("preg_used").cast("double"),
      "str_1" -> col("mate_dt"), "str_2" -> col("pass_dt")))
    val alert = conform(QueryCatalogDomain3.q75AlertsFrom(spark,
      src.modon, src.modonWk), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("ALERT"), "sub_gubun" -> lit("MATRIX"),
      "sort_no" -> rnBy(col("alert_type")), "code_1" -> col("alert_type"),
      "cnt_1" -> col("d3").cast("double"), "cnt_2" -> col("d7").cast("double"),
      "cnt_3" -> col("d14").cast("double"), "cnt_4" -> col("d15up").cast("double")))
    val bm = conform(QueryCatalogDomain.q62FarrowingFrom(spark,
      src.bunman, src.trans), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("BM"), "sub_gubun" -> lit("SUMMARY"),
      "code_1" -> lit("-"),
      "cnt_1" -> col("total_cnt").cast("double"), "cnt_2" -> col("sum_total").cast("double"),
      "cnt_3" -> col("sum_live").cast("double"), "cnt_4" -> col("sum_dead").cast("double"),
      "cnt_5" -> col("sum_mummy").cast("double"), "cnt_6" -> col("sum_sdotae").cast("double"),
      "cnt_7" -> col("sum_yangja").cast("double"), "cnt_8" -> col("sum_pogae").cast("double"),
      "cnt_9" -> col("acc_bm_cnt").cast("double"), "cnt_10" -> col("acc_total").cast("double"),
      "val_1" -> col("sum_kg"), "val_2" -> col("avg_live"),
      "val_3" -> col("acc_avg_total")))
    val eu = conform(QueryCatalogDomain.q63WeaningFrom(spark,
      src.modonWk, src.bunman, src.eu, src.trans), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("EU"), "sub_gubun" -> lit("SUMMARY"),
      "code_1" -> lit("-"),
      "cnt_1" -> col("total_cnt").cast("double"), "cnt_2" -> col("sum_eudusu").cast("double"),
      "cnt_3" -> col("sum_chongsan").cast("double"), "cnt_4" -> col("sum_silsan").cast("double"),
      "cnt_5" -> col("sum_pougigan").cast("double"), "cnt_6" -> col("sum_ps_ds").cast("double"),
      "cnt_7" -> col("sum_bb_ds").cast("double"), "cnt_8" -> col("sum_ji_ds").cast("double"),
      "cnt_9" -> col("sum_jc_ds").cast("double"), "cnt_10" -> col("sum_pogae").cast("double"),
      "val_1" -> col("sum_kg"), "val_2" -> col("avg_eudusu"),
      "val_3" -> col("avg_pougigan")))
    val sago = conform(QueryCatalogDomain3.q81AccidentAsOfFrom(spark,
      src.modonWk), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("SAGO"), "sub_gubun" -> lit("BUCKET"),
      "sort_no" -> rnBy(col("sago_gubun_cd"), col("bucket")), "code_1" -> col("bucket"),
      "str_1" -> col("sago_gubun_cd"),
      "cnt_1" -> col("cnt").cast("double"), "cnt_2" -> col("sum_days").cast("double")))
    val sched = conform(QueryCatalogDomain.q64ScheduleMatingFrom(spark,
      src.modon, src.modonWk), Map(
      "farm_no" -> col("farm_no"), "gubun" -> lit("SCHED"), "sub_gubun" -> lit("GB"),
      "sort_no" -> rnBy(col("pass_dt")), "code_1" -> DateOps.dateToYmd(col("pass_dt")),
      "cnt_1" -> col("n").cast("double")))
    val modon = modonConform(
      QueryCatalogDomain2.parityStatusFrom(spark, src.modon, src.modonWk))
    val gbChart = gbConform(
      QueryCatalogDomain2.returnBucketsFrom(spark, src.modon, src.modonWk))
    val dopeList = dopeConform(QueryCatalogDomain2.cullingChunkedFrom(src.modon))
    val shipRows = shipConform(QueryCatalogDomain2.shipmentDailyFrom(spark, src.lpd))
    // union in the reference's processor order (async_processor.py:170-192)
    Seq(cfg, alert, modon, gbChart, bm, eu, sago, dopeList, shipRows, sched)
      .reduce(_ unionByName _)
  }

  private def modonConform(df: DataFrame): DataFrame = conform(df, Map(
    "farm_no" -> col("farm_no"), "gubun" -> lit("MODON"), "sub_gubun" -> lit("-"),
    "sort_no" -> col("sort_no"), "code_1" -> col("parity_label"),
    "cnt_1" -> col("hubo").cast("double"), "cnt_2" -> col("imsin").cast("double"),
    "cnt_3" -> col("poyu").cast("double"), "cnt_4" -> col("eumo").cast("double"),
    "cnt_5" -> col("sago").cast("double")))

  private def gbConform(df: DataFrame): DataFrame = conform(df, Map(
    "farm_no" -> col("farm_no"), "gubun" -> lit("GB"), "sub_gubun" -> lit("CHART"),
    "sort_no" -> col("sort_no"), "code_1" -> col("bucket"),
    "cnt_1" -> col("cnt").cast("double")))

  private def dopeConform(df: DataFrame): DataFrame = conform(df,
    Map("farm_no" -> col("farm_no"), "gubun" -> lit("DOPE"), "sub_gubun" -> lit("LIST"),
      "sort_no" -> col("sort_no")) ++
      (1 to 15).flatMap(i => Seq(
        s"cnt_$i" -> col(s"cnt_$i").cast("double"),
        s"val_$i" -> col(s"val_$i").cast("double"),
        s"str_$i" -> col(s"str_$i"))).toMap)

  private def shipConform(df: DataFrame): DataFrame = conform(df, Map(
    "farm_no" -> col("farm_no"), "gubun" -> lit("SHIP"), "sub_gubun" -> lit("ROW"),
    "sort_no" -> dense_rank().over(Window.partitionBy(col("farm_no")).orderBy(col("day"))),
    "code_1" -> col("day"),
    "cnt_1" -> col("cnt").cast("double"), "val_1" -> col("avg_net"),
    "cnt_2" -> col("q11").cast("double"), "cnt_3" -> col("q1").cast("double"),
    "cnt_4" -> col("q2").cast("double"),
    "cnt_5" -> col("f_cnt").cast("double"), "cnt_6" -> col("m_cnt").cast("double")))

  /** The SUB path parameterized to ONE farm over caller-supplied
    * source frames — the on-demand single-farm run's section leg
    * (orchestrator.py:1244-1418). The farm predicate is applied to
    * each source BEFORE the section logic, so against a parquet-backed
    * store it reaches every scan as a pushed filter (PlanQualitySpec
    * asserts it): a single-farm rerun reads one farm's bytes, not the
    * fleet's. Covers the four core-table sections (sow inventory,
    * return chart, culling list, shipment grid); the full-width fleet
    * assembly is subRows, whose single-farm SEMANTICS are hash-gated
    * by q120 (the top-level farm filter Catalyst pushes through the
    * whole union). */
  def subRowsFarm(spark: SparkSession, farmNo: Int, modon: DataFrame,
                  modonWk: DataFrame, lpd: DataFrame): DataFrame = {
    def scoped(df: DataFrame): DataFrame = df.filter(col("farm_no") === farmNo)
    val (m, w) = (scoped(modon), scoped(modonWk))
    Seq(
      modonConform(QueryCatalogDomain2.parityStatusFrom(spark, m, w)),
      gbConform(QueryCatalogDomain2.returnBucketsFrom(spark, m, w)),
      dopeConform(QueryCatalogDomain2.cullingChunkedFrom(m)),
      shipConform(QueryCatalogDomain2.shipmentDailyFrom(spark, scoped(lpd))))
      .reduce(_ unionByName _)
  }

  /** One summary row per farm: the rollup of ALL TEN sections' SUB
    * rows, replacing the reference's ten UPDATE statements (S6,
    * base.py:148-178; processor set async_processor.py:170-192).
    * Count columns coalesce to 0 for farms a section never saw;
    * averages stay NULL (the reference's NULL-vs-0 distinction). */
  def summary(spark: SparkSession): DataFrame =
    summaryFrom(spark, DomainSources.fixtures(spark))

  /** [[summary]] over caller-supplied source tables: [[summaryOf]] over
    * the lazy [[subRowsFrom]] frame. */
  def summaryFrom(spark: SparkSession, src: DomainSources): DataFrame =
    summaryOf(subRowsFrom(spark, src), src)

  /** The summary as one conditional aggregate over the SUB rows `sub`
    * (the lazy [[subRowsFrom]] frame, or the written week_sub read
    * back): each reference processor updates its TS_INS_WEEK columns
    * from the numbers it just wrote to TS_INS_WEEK_SUB (base.py:90-146,
    * :148-178), so every column but plan_cnt is a cell of some
    * section's rows. The farms are those with MODON rows (every modon
    * farm has ten); plan_cnt is q65's leg over `src`. BM and EU have
    * one row per farm, so their averages are that row's cell, and a
    * farm without one keeps NULL. */
  def summaryOf(sub: DataFrame, src: DomainSources): DataFrame = {
    def cells(gubun: String, cs: Seq[String]): Column =
      when(col("gubun") === gubun, cs.map(col).reduce(_ + _))
    def total(gubun: String, cs: String*): Column = sum(cells(gubun, cs)).cast("long")
    def nums(kind: String, n: Int): Seq[String] = (1 to n).map(i => s"${kind}_$i")
    def rows(gubun: String): Column = count(when(col("gubun") === gubun, 1))
    val rolled = sub.groupBy("farm_no").agg(
        rows("MODON").as("modon_rows"),
        total("MODON", nums("cnt", 5): _*).as("sow_total"),
        total("BM", "cnt_1").as("bm_cnt"), total("BM", "cnt_3").as("bm_live"),
        max(cells("BM", Seq("val_2"))).as("bm_avg_live"),
        total("BM", "cnt_8").as("bm_pogae"),
        total("EU", "cnt_1").as("eu_cnt"), total("EU", "cnt_2").as("eu_dusu"),
        max(cells("EU", Seq("val_3"))).as("eu_avg_days"),
        total("GB", "cnt_1").as("gb_return_cnt"),
        total("SCHED", "cnt_1").as("gb_plan"),
        total("ALERT", nums("cnt", 4): _*).as("alert_cnt"),
        total("DOPE", nums("cnt", 15): _*).as("cull_week"),
        total("DOPE", nums("val", 15): _*).as("cull_month"),
        total("SAGO", "cnt_1").as("acc_cnt"), total("SAGO", "cnt_2").as("acc_days"),
        total("SHIP", "cnt_1").as("ship_cnt"),
        rows("CONFIG").as("cfg_sched_cnt"))
      .filter(col("modon_rows") > 0)
    val plan = QueryCatalogDomain.q65ScheduleBmEuFrom(sub.sparkSession, src.modon,
        src.modonWk)
      .groupBy("farm_no").agg(sum(col("n")).cast("long").as("plan_cnt"))
    def z(c: String): Column = coalesce(col(c), lit(0L)).as(c)
    rolled.join(plan, Seq("farm_no"), "left")
      .select(col("farm_no"), col("sow_total"),
        z("bm_cnt"), z("bm_live"), col("bm_avg_live"), z("bm_pogae"),
        z("eu_cnt"), z("eu_dusu"), col("eu_avg_days"),
        z("gb_return_cnt"), z("gb_plan"), z("alert_cnt"),
        z("cull_week"), z("cull_month"), z("acc_cnt"), z("acc_days"),
        z("ship_cnt"), z("cfg_sched_cnt"), z("plan_cnt"))
      .orderBy("farm_no")
  }

  /** Run named sections with per-section error isolation
    * (farm_processor.py:245-344): a failing section logs an ERROR row
    * carrying its message and the remaining sections still run — one
    * bad section degrades the report instead of killing the farm's
    * whole run. Returns (successes, errors) for the master rollup
    * (orchestrator's complete/error counts). */
  def runSections(spark: SparkSession, logPath: String, masterSeq: Int,
                  farmNo: Int, year: Int, weekNo: Int,
                  sections: Seq[(String, () => Unit)]): (Int, Int) = {
    var ok = 0
    var err = 0
    sections.foreach { case (name, body) =>
      val t0 = System.nanoTime()
      try {
        body()
        Sinks.appendSectionLog(spark, logPath, masterSeq, farmNo, name,
          year, weekNo, "SUCCESS", (System.nanoTime() - t0) / 1000000L)
        ok += 1
      } catch {
        case e: Throwable =>
          Sinks.appendSectionLog(spark, logPath, masterSeq, farmNo, name,
            year, weekNo, "ERROR", (System.nanoTime() - t0) / 1000000L,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
          err += 1
      }
    }
    (ok, err)
  }

  /** Finalize flow (async_processor.py:282-307 + orchestrator.py:
    * 1087-1104): per-farm COMPLETE rows get a share token —
    * sha256("{master}-{farm}-{completion stamp}-{entropy}"), lowercase
    * hex — and a view-expiry date of completion day + 6 (7 days
    * including the run day); ERROR farms get neither. The master row
    * is assembled from the same frame: target/complete/error counts,
    * status ERROR iff any farm errored, ELAPSED_SEC from the master's
    * wall-clock window. Returned as one joined row per farm (the
    * TS_INS_WEEK x TS_INS_MASTER read path).
    *
    * The entropy (`salt`) is a COLUMN, not a driver-side
    * secrets.token_hex call: the caller injects it (random in
    * production, fixed in fixtures) so the token pipeline itself is
    * deterministic and oracle-replayable. */
  def finalize(weekRuns: DataFrame, master: DataFrame): DataFrame = {
    val tokenData = concat_ws("-",
      col("master_seq"), col("farm_no"), col("complete_ts"), col("salt"))
    val farms = weekRuns
      .withColumn("share_token",
        when(col("status_cd") === "COMPLETE", sha2(tokenData, 256)))
      .withColumn("token_expire_dt",
        when(col("status_cd") === "COMPLETE",
          date_format(
            date_add(to_date(substring(col("complete_ts"), 1, 8), "yyyyMMdd"), 6),
            "yyyyMMdd")))
    val m = farms.groupBy("master_seq").agg(
        count(lit(1)).as("target_cnt"),
        sum(when(col("status_cd") === "COMPLETE", 1L).otherwise(0L)).as("complete_cnt"),
        sum(when(col("status_cd") === "ERROR", 1L).otherwise(0L)).as("error_cnt"))
      .withColumn("m_status_cd",
        when(col("error_cnt") > 0, "ERROR").otherwise("COMPLETE"))
    val elapsed = master.select(col("master_seq"),
      (unix_timestamp(to_timestamp(col("end_ts"))) -
        unix_timestamp(to_timestamp(col("start_ts")))).as("elapsed_sec"))
    farms.join(m, "master_seq").join(elapsed, "master_seq")
      .select("master_seq", "farm_no", "status_cd", "share_token",
        "token_expire_dt", "m_status_cd", "target_cnt", "complete_cnt",
        "error_cnt", "elapsed_sec")
  }

  /** Run the whole report and write both outputs (see [[runReport]]). */
  def run(spark: SparkSession, outDir: String): Unit =
    runReport(spark, DomainSources.fixtures(spark), outDir)

  /** [[run]] over caller-supplied sources — the deployment entry for
    * the full weekly product. The ten sections run once: their SUB
    * rows are written to `week_sub` (partitioned by gubun), and the
    * summary is [[summaryOf]] those rows read back, so it sums exactly
    * what was written. The SUB write is a static overwrite of the
    * whole table: every section's partition is replaced, including
    * one a rerun leaves empty — the reference deletes each section
    * before inserting it (S5), and a stale partition would otherwise
    * survive into the summary. */
  def runReport(spark: SparkSession, src: DomainSources, outDir: String): Unit = {
    subRowsFrom(spark, src).write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("gubun").parquet(s"$outDir/week_sub")
    summaryOf(spark.read.parquet(s"$outDir/week_sub"), src)
      .write.mode("overwrite").parquet(s"$outDir/week_summary")
  }

  /** ONE chained week step: compute week `wn`'s per-farm farrowing
    * stats over [lo, hi] (q79's math — counts over the farm spine,
    * zeros for silent farms), join the PREVIOUS week's summary read
    * back from its WRITTEN parquet at `prevPath` (None for the first
    * week of history), stamp prev/delta columns, and write the
    * result to `outDir/wk_<wn>` for the next week to read. This is
    * the store-backed form of the reference's week-over-week
    * comparison (modon.py:267-371): week N's job never sees week
    * N-1's in-memory frame, only what the store round-tripped. */
  def runWeekStep(spark: SparkSession, outDir: String, wn: String,
                  lo: String, hi: String,
                  prevPath: Option[String]): String = {
    import graft.domain.Fixtures
    runWeekStepFrom(spark,
      Fixtures.bunmanDf(spark).filter(col("use_yn") === "Y"),
      Fixtures.modonDf(spark).select("farm_no").distinct(),
      outDir, wn, lo, hi, prevPath)
  }

  /** [[runWeekStep]] parameterized over the event/farm frames, for
    * [[runChainedWeeks]] and any caller whose farm events do not come
    * from the domain fixtures. `b` rows carry
    * (farm_no, wk_dt, silsan); `farms` is the reporting spine (farms
    * with no events that week report zeros). */
  def runWeekStepFrom(spark: SparkSession, b: DataFrame, farms: DataFrame,
                      outDir: String, wn: String, lo: String, hi: String,
                      prevPath: Option[String]): String = {
    val stats = farms.join(
        b.filter(col("wk_dt").between(lo, hi))
          .groupBy("farm_no")
          .agg(count(lit(1)).as("bm_cnt"),
            sum(col("silsan")).cast("long").as("bm_live")),
        Seq("farm_no"), "left")
      .select(col("farm_no"), lit(wn).as("week_no"),
        coalesce(col("bm_cnt"), lit(0L)).as("bm_cnt"),
        coalesce(col("bm_live"), lit(0L)).as("bm_live"))
    val withPrev = prevPath match {
      case None =>
        stats.withColumn("prev_bm_cnt", lit(null).cast("long"))
          .withColumn("prev_bm_live", lit(null).cast("long"))
      case Some(p) =>
        stats.join(
          spark.read.parquet(p)
            .select(col("farm_no"), col("bm_cnt").as("prev_bm_cnt"),
              col("bm_live").as("prev_bm_live")),
          Seq("farm_no"), "left")
    }
    val path = s"$outDir/wk_$wn"
    withPrev
      .withColumn("delta_bm_cnt", col("bm_cnt") - col("prev_bm_cnt"))
      .withColumn("delta_bm_live", col("bm_live") - col("prev_bm_live"))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Chained multi-week history: run [[runWeekStep]] over consecutive
    * report weeks — week N reading week N-1's WRITTEN summary — and
    * return the full written history. Because each step's prev values
    * round-trip through parquet, the result equals the lag() form
    * over the whole history (the DuckDB oracle of q201 computes
    * exactly that) IFF the store write/read path is faithful — which
    * is what the hash gate proves. */
  def runChainedWeeks(spark: SparkSession, outDir: String,
                      weeks: Seq[(String, String, String)]): DataFrame = {
    import graft.domain.Fixtures
    val b = Fixtures.bunmanDf(spark).filter(col("use_yn") === "Y")
    val farms = Fixtures.modonDf(spark).select("farm_no").distinct()
    var prev: Option[String] = None
    val paths = weeks.map { case (wn, lo, hi) =>
      val p = runWeekStepFrom(spark, b, farms, outDir, wn, lo, hi, prev)
      prev = Some(p)
      p
    }
    paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .orderBy("farm_no", "week_no")
  }

  /** TS_INS_WEEK initial records (orchestrator.py:1043-1085): one
    * READY row per target farm carrying the ETL-time SCHEDULE_GROUP
    * SNAPSHOT — downstream sends filter on the snapshot, so a config
    * change between ETL and send cannot retarget the batch. The
    * reference's per-farm INSERT loop is one select; the master's
    * TARGET_CNT update is `targets.count()` on the same frame. */
  def createWeekRecords(targets: DataFrame, masterSeq: Int, year: Int,
                        weekNo: Int, dtFrom: String, dtTo: String): DataFrame =
    targets.select(lit(masterSeq).as("master_seq"), col("farm_no"),
      lit(year).as("report_year"), lit(weekNo).as("report_week_no"),
      lit(dtFrom).as("dt_from"), lit(dtTo).as("dt_to"),
      col("farm_nm"),
      // OWNER_NM = farm.get('PRINCIPAL_NM', '') — the reference
      // defaults a missing principal to empty string at insert time
      coalesce(col("principal_nm"), lit("")).as("owner_nm"),
      col("sigun_cd"), lit("READY").as("status_cd"),
      col("schedule_group"))

  /** The TS_INS_MASTER identity row for ANY report mode — the batch
    * header the orchestrator inserts before per-farm work, generalized
    * to run_etl.py:68-77's DAY_GB choices. WEEK keeps the
    * orchestrator's convention (window + ISO year/week from the last
    * full Monday..Sunday, orchestrator.py:148-164); MON/QT use the
    * closed calendar month/quarter with `_calculate_period_info`
    * numbering (productivity.py:148-178) — note the reference itself
    * holds BOTH conventions (ISO pair for weekly masters, calendar
    * year for productivity periods); each is replayed where it
    * applies. */
  def periodMaster(spark: SparkSession, masterSeq: Int, dayGb: String,
                   baseDate: String): DataFrame = {
    val (dtFrom, dtTo, year, no) = dayGb match {
      case "WEEK" =>
        val w = DateOps.lastWeekWindow(baseDate)
        (w.dtFrom, w.dtTo, w.isoYear, w.isoWeek)
      case "MON" =>
        val w = DateOps.monthWindow(baseDate)
        (w.dtFrom, w.dtTo, w.statYear, w.periodNo)
      case "QT" =>
        val w = DateOps.quarterWindow(baseDate)
        (w.dtFrom, w.dtTo, w.statYear, w.periodNo)
      case other =>
        throw new IllegalArgumentException(
          s"unknown DAY_GB '$other' (expected WEEK/MON/QT)")
    }
    import spark.implicits._
    Seq((masterSeq, dayGb, year, no, dtFrom, dtTo))
      .toDF("master_seq", "day_gb", "report_year", "report_week_no",
        "dt_from", "dt_to")
  }

  /** Scheduler entry: the whole batch is gated on the INS_SCHEDULE_YN
    * config scalar (orchestrator.py:58-94) BEFORE any Spark job is
    * submitted — 'Y'/'T' runs, anything else (including a missing or
    * unreadable config, the reference's fail-safe) returns false and
    * writes nothing. */
  def runIfEnabled(spark: SparkSession, outDir: String,
                   insScheduleYn: Option[String]): Boolean = {
    val enabled = graft.domain.BatchGate.scheduleEnabled(insScheduleYn)
    if (enabled) run(spark, outDir)
    enabled
  }
}
