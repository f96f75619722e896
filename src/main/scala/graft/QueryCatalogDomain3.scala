package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain._
import graft.ops.{LatestRecord, PrevNext}

/** Domain queries, part 3: literal SEQ±1 semantics, the alert matrix,
  * and the config section's rearing rate. */
object QueryCatalogDomain3 {
  import QueryCatalog.Q
  import Fixtures.{BaseDate, DtTo}

  private def ymdD(base: String, minus: Int): String =
    java.time.LocalDate.parse(base, DateOps.Ymd).minusDays(minus).format(DateOps.Ymd)

  // ---------------------------------------------------------------- literal SEQ±1
  /** The reference's exact SEQ±1 self-join (data_loader.py:299-327) on
    * a FILTERED log — gaps yield NULL neighbours even when an
    * earlier/later row exists (SURVEY §7.4 risk 4; lag/lead would
    * bridge the gap and be WRONG). Accidents are filtered out here to
    * manufacture real gaps. */
  val q74PrevNextSeq: Q = (s, d) => {
    val wk = Fixtures.modonWkDf(s)
      .filter(col("use_yn") === "Y" && col("wk_gubun") =!= "F")
      .select("farm_no", "pig_no", "seq", "wk_dt", "wk_gubun")
    PrevNext.viaSelfJoin(wk, Seq("farm_no", "pig_no"), "seq", Seq("wk_gubun"))
      .select("farm_no", "pig_no", "seq", "wk_gubun", "prev_wk_gubun", "next_wk_gubun")
      .orderBy("farm_no", "pig_no", "seq")
  }

  private lazy val q74Sql =
    s"""WITH ${Fixtures.withClause("modon_wk")},
       |wk AS (SELECT farm_no, pig_no, seq, wk_dt, wk_gubun
       |       FROM modon_wk WHERE use_yn = 'Y' AND wk_gubun <> 'F')
       |SELECT a.farm_no, a.pig_no, a.seq, a.wk_gubun,
       |       p.wk_gubun AS prev_wk_gubun, n.wk_gubun AS next_wk_gubun
       |FROM wk a
       |LEFT JOIN wk p ON p.farm_no = a.farm_no AND p.pig_no = a.pig_no AND p.seq = a.seq - 1
       |LEFT JOIN wk n ON n.farm_no = a.farm_no AND n.pig_no = a.pig_no AND n.seq = a.seq + 1
       |ORDER BY a.farm_no, a.pig_no, a.seq""".stripMargin

  // ---------------------------------------------------------------- alert matrix
  /** Alert types x delay buckets (alert.py:108-204): no-work sows
    * (anti-join branch), overdue farrowing (pregnant past gestation),
    * overdue mating (weaned past return interval), bucketed
    * ~3/4-7/8-14/15+ into fixed columns. */
  val q75Alerts: Q = (s, d) =>
    q75AlertsFrom(s, Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  /** q75's body over caller-supplied source tables — the 50k-farm
    * scale run feeds parquet-backed facts through the SAME
    * implementation the fixture hash gate verifies. */
  private[graft] def q75AlertsFrom(s: SparkSession, modonSrc: DataFrame,
                                   modonWkSrc: DataFrame): DataFrame = {
    val base = DateOps.ymdToDate(lit(BaseDate))
    val alive = modonSrc
      .filter(col("use_yn") === "Y" && col("out_dt") === Codes.AliveOutDt)
    val last = LatestRecord.viaAgg(
      modonWkSrc
        .filter(col("use_yn") === "Y" && col("wk_dt") <= BaseDate && col("wk_gubun") =!= "Z"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("wk_dt", "seq"))
      .select(col("farm_no"), col("pig_no"), col("wk_dt"), col("wk_gubun"),
        col("sago_gubun_cd"), col("daeri_yn"))
    val j = alive.join(last, Seq("farm_no", "pig_no"), "left")
      .withColumn("st", SowStatus.status(col("wk_gubun"), col("sago_gubun_cd"),
        col("daeri_yn"), col("status_cd")))
    val noWk = j.filter(col("wk_gubun").isNull)
      .select(col("farm_no"), lit("NO_WK").as("alert_type"),
        datediff(base, DateOps.ymdToDate(col("in_dt"))).as("delay"))
    val bmOver = j.filter(col("st") === "010002" &&
        datediff(base, DateOps.ymdToDate(col("wk_dt"))) > 115)
      .select(col("farm_no"), lit("BM_OVER").as("alert_type"),
        (datediff(base, DateOps.ymdToDate(col("wk_dt"))) - 115).as("delay"))
    val gbOver = j.filter(col("st") === "010005" &&
        datediff(base, DateOps.ymdToDate(col("wk_dt"))) > 7)
      .select(col("farm_no"), lit("GB_OVER").as("alert_type"),
        (datediff(base, DateOps.ymdToDate(col("wk_dt"))) - 7).as("delay"))
    noWk.unionByName(bmOver).unionByName(gbOver)
      .groupBy("farm_no", "alert_type")
      .agg(count(when(col("delay") <= 3, 1)).as("d3"),
        count(when(col("delay") >= 4 && col("delay") <= 7, 1)).as("d7"),
        count(when(col("delay") >= 8 && col("delay") <= 14, 1)).as("d14"),
        count(when(col("delay") >= 15, 1)).as("d15up"))
      .orderBy("farm_no", "alert_type")
  }

  private[graft] def q75SqlFrom(src: String): String =
    s"""WITH $src,
       |lastwk AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, sago_gubun_cd, daeri_yn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no
       |                                 ORDER BY wk_dt DESC, seq DESC) AS rn
       |    FROM modon_wk
       |    WHERE use_yn = 'Y' AND wk_dt <= '$BaseDate' AND wk_gubun <> 'Z')
       |  WHERE rn = 1),
       |j AS (
       |  SELECT m.farm_no, m.pig_no, m.in_dt, w.wk_dt, w.wk_gubun,
       |         ${SowStatus.sqlCase} AS st
       |  FROM modon m
       |  LEFT JOIN lastwk w ON w.farm_no = m.farm_no AND w.pig_no = m.pig_no
       |  WHERE m.use_yn = 'Y' AND m.out_dt = '99991231'),
       |u AS (
       |  SELECT farm_no, 'NO_WK' AS alert_type,
       |         date_diff('day', strptime(in_dt, '%Y%m%d')::DATE,
       |                   strptime('$BaseDate', '%Y%m%d')::DATE) AS delay
       |  FROM j WHERE wk_gubun IS NULL
       |  UNION ALL
       |  SELECT farm_no, 'BM_OVER',
       |         date_diff('day', strptime(wk_dt, '%Y%m%d')::DATE,
       |                   strptime('$BaseDate', '%Y%m%d')::DATE) - 115
       |  FROM j WHERE st = '010002'
       |    AND date_diff('day', strptime(wk_dt, '%Y%m%d')::DATE,
       |                  strptime('$BaseDate', '%Y%m%d')::DATE) > 115
       |  UNION ALL
       |  SELECT farm_no, 'GB_OVER',
       |         date_diff('day', strptime(wk_dt, '%Y%m%d')::DATE,
       |                   strptime('$BaseDate', '%Y%m%d')::DATE) - 7
       |  FROM j WHERE st = '010005'
       |    AND date_diff('day', strptime(wk_dt, '%Y%m%d')::DATE,
       |                  strptime('$BaseDate', '%Y%m%d')::DATE) > 7)
       |SELECT farm_no, alert_type,
       |  COUNT(CASE WHEN delay <= 3 THEN 1 END) AS d3,
       |  COUNT(CASE WHEN delay BETWEEN 4 AND 7 THEN 1 END) AS d7,
       |  COUNT(CASE WHEN delay BETWEEN 8 AND 14 THEN 1 END) AS d14,
       |  COUNT(CASE WHEN delay >= 15 THEN 1 END) AS d15up
       |FROM u GROUP BY 1, 2 ORDER BY farm_no, alert_type""".stripMargin
  private lazy val q75Sql = q75SqlFrom(Fixtures.withClause("modon", "modon_wk"))

  // ---------------------------------------------------------------- rearing rate
  /** Config-section rearing rate: AVG of monthly (shipped / weaned)
    * ratios over 6 calendar months — explicitly avg-of-ratios, NOT
    * ratio-of-sums (processors/config.py:174-221); months with zero
    * weanings are skipped via NULLIF like Oracle AVG skips NULLs. */
  val q76Rearing: Q = (s, d) => {
    import s.implicits._
    val months = Seq("202506", "202507", "202508", "202509", "202510", "202511")
    val wean = Fixtures.euDf(s).filter(col("use_yn") === "Y")
      .groupBy(col("farm_no"), substring(col("wk_dt"), 1, 6).as("mo"))
      .agg(sum(coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0)))
        .cast("long").as("wean_heads"))
    val ship = Fixtures.lpdDf(s).filter(col("use_yn") === "Y")
      .groupBy(col("farm_no"),
        substring(regexp_replace(col("dochuk_dt"), "-", ""), 1, 6).as("mo"))
      .agg(count(lit(1)).as("ship_cnt"))
    val spine = Fixtures.modonDf(s).select("farm_no").distinct()
      .crossJoin(months.toDF("mo"))
    val monthly = spine
      .join(wean, Seq("farm_no", "mo"), "left")
      .join(ship, Seq("farm_no", "mo"), "left")
      .withColumn("ratio",
        coalesce(col("ship_cnt"), lit(0L)).cast("double") * 100.0 /
          nullif(coalesce(col("wean_heads"), lit(0L)).cast("double"), lit(0.0)))
    monthly.groupBy("farm_no")
      .agg((sum(col("ratio").cast(org.apache.spark.sql.types.DecimalType(18, 8))).cast("double")
          / count(col("ratio"))).as("rearing_rate"),
        count(col("ratio")).as("n_months_used"))
      .orderBy("farm_no")
  }

  private lazy val q76Sql = {
    val mvals = Seq("202506", "202507", "202508", "202509", "202510", "202511")
      .map(m => s"('$m')").mkString(",")
    s"""WITH ${Fixtures.withClause("eu", "lpd")},
       |months(mo) AS (VALUES $mvals),
       |wean AS (SELECT farm_no, substring(wk_dt, 1, 6) AS mo,
       |                CAST(SUM(COALESCE(dusu,0) + COALESCE(dusu_su,0)) AS BIGINT) AS wean_heads
       |         FROM eu WHERE use_yn = 'Y' GROUP BY 1, 2),
       |ship AS (SELECT farm_no, substring(replace(dochuk_dt, '-', ''), 1, 6) AS mo,
       |                COUNT(*) AS ship_cnt
       |         FROM lpd WHERE use_yn = 'Y' GROUP BY 1, 2),
       |farms AS (SELECT DISTINCT farm_no FROM eu),
       |monthly AS (
       |  SELECT f.farm_no, m.mo,
       |         CAST(COALESCE(s.ship_cnt, 0) AS DOUBLE) * 100.0
       |           / NULLIF(CAST(COALESCE(w.wean_heads, 0) AS DOUBLE), 0.0) AS ratio
       |  FROM farms f CROSS JOIN months m
       |  LEFT JOIN wean w ON w.farm_no = f.farm_no AND w.mo = m.mo
       |  LEFT JOIN ship s ON s.farm_no = f.farm_no AND s.mo = m.mo)
       |SELECT farm_no,
       |  CAST(SUM(CAST(ratio AS DECIMAL(18,8))) AS DOUBLE) / COUNT(ratio) AS rearing_rate,
       |  COUNT(ratio) AS n_months_used
       |FROM monthly GROUP BY farm_no ORDER BY farm_no""".stripMargin
  }

  // ---------------------------------------------------------------- weekly summary join
  /** The S6 assembly at full width: ALL TEN processor sections
    * (async_processor.py:170-192) aggregated per farm and joined into
    * ONE summary row (WeeklyReportJob.summary). The oracle re-derives
    * every column from that section's own verified SQL — the join
    * composition, zero-coalescing and NULL-average rules are what
    * this query hash-gates on top of the per-section checks. */
  val q78WeeklySummary: Q = (s, _) =>
    graft.pipeline.WeeklyReportJob.summary(s)

  /** The S6 summary over caller-supplied section sources, optionally
    * parameterized to ONE farm (the reference's on-demand single-farm
    * entry, orchestrator.py:1244-1418): the farm predicate is applied
    * to EVERY source frame BEFORE any aggregation, so against a
    * parquet-backed store it reaches the scans as a pushed filter
    * (PlanQualitySpec asserts PushedFilters on all three) — the
    * single-farm run touches one farm's bytes, not the fleet's. */
  private[graft] def weeklySummary(farmNo: Option[Int], modon0: DataFrame,
                                   modonWk0: DataFrame,
                                   bunman0: DataFrame): DataFrame = {
    def scoped(df: DataFrame): DataFrame =
      farmNo.fold(df)(n => df.filter(col("farm_no") === n))
    val modonSrc = scoped(modon0)
    val farms = modonSrc.select("farm_no").distinct()
    val wk = scoped(modonWk0).filter(col("use_yn") === "Y" &&
      col("wk_dt").between(Fixtures.DtFrom, DtTo))
    val events = wk.groupBy("farm_no").agg(
      count(when(col("wk_gubun") === "G", 1)).as("gb_cnt"),
      count(when(col("wk_gubun") === "B", 1)).as("bm_cnt"),
      count(when(col("wk_gubun") === "E", 1)).as("eu_cnt"),
      count(when(col("wk_gubun") === "F", 1)).as("sg_cnt"))
    val bm = scoped(bunman0).filter(col("use_yn") === "Y" &&
        col("wk_dt").between(Fixtures.DtFrom, DtTo))
      .groupBy("farm_no").agg(sum(col("silsan")).cast("long").as("bm_live"))
    val cull = modonSrc.filter(col("use_yn") === "Y" &&
        col("out_dt").between(Fixtures.DtFrom, DtTo))
      .groupBy("farm_no").agg(count(lit(1)).as("cull_cnt"))
    farms.join(events, Seq("farm_no"), "left")
      .join(bm, Seq("farm_no"), "left")
      .join(cull, Seq("farm_no"), "left")
      .select(col("farm_no"),
        coalesce(col("gb_cnt"), lit(0L)).as("gb_cnt"),
        coalesce(col("bm_cnt"), lit(0L)).as("bm_cnt"),
        coalesce(col("eu_cnt"), lit(0L)).as("eu_cnt"),
        coalesce(col("sg_cnt"), lit(0L)).as("sg_cnt"),
        coalesce(col("bm_live"), lit(0L)).as("bm_live"),
        coalesce(col("cull_cnt"), lit(0L)).as("cull_cnt"))
      .orderBy("farm_no")
  }

  /** Oracle of the stand-alone three-source summary (weeklySummary) —
    * retained as q115's base now that q78 verifies the full
    * ten-section assembly. */
  private lazy val farmSummarySql =
    s"""WITH ${Fixtures.withClause("modon", "modon_wk", "bunman")},
       |farms AS (SELECT DISTINCT farm_no FROM modon),
       |ev AS (
       |  SELECT farm_no,
       |    COUNT(CASE WHEN wk_gubun = 'G' THEN 1 END) AS gb_cnt,
       |    COUNT(CASE WHEN wk_gubun = 'B' THEN 1 END) AS bm_cnt,
       |    COUNT(CASE WHEN wk_gubun = 'E' THEN 1 END) AS eu_cnt,
       |    COUNT(CASE WHEN wk_gubun = 'F' THEN 1 END) AS sg_cnt
       |  FROM modon_wk
       |  WHERE use_yn = 'Y' AND wk_dt BETWEEN '${Fixtures.DtFrom}' AND '$DtTo'
       |  GROUP BY 1),
       |bm AS (SELECT farm_no, CAST(SUM(silsan) AS BIGINT) AS bm_live
       |       FROM bunman WHERE use_yn = 'Y' AND wk_dt BETWEEN '${Fixtures.DtFrom}' AND '$DtTo'
       |       GROUP BY 1),
       |cull AS (SELECT farm_no, COUNT(*) AS cull_cnt
       |         FROM modon WHERE use_yn = 'Y' AND out_dt BETWEEN '${Fixtures.DtFrom}' AND '$DtTo'
       |         GROUP BY 1)
       |SELECT f.farm_no,
       |  COALESCE(ev.gb_cnt, 0) AS gb_cnt, COALESCE(ev.bm_cnt, 0) AS bm_cnt,
       |  COALESCE(ev.eu_cnt, 0) AS eu_cnt, COALESCE(ev.sg_cnt, 0) AS sg_cnt,
       |  COALESCE(bm.bm_live, 0) AS bm_live, COALESCE(cull.cull_cnt, 0) AS cull_cnt
       |FROM farms f
       |LEFT JOIN ev ON ev.farm_no = f.farm_no
       |LEFT JOIN bm ON bm.farm_no = f.farm_no
       |LEFT JOIN cull ON cull.farm_no = f.farm_no
       |ORDER BY f.farm_no""".stripMargin

  // ---------------------------------------------------------------- week-record creation
  /** The batch's per-farm READY rows with the ETL-time schedule-group
    * snapshot (orchestrator.py:1043-1085) over the verified target
    * list — the last piece of the scheduler surface. */
  val q117WeekRecords: Q = (s, _) =>
    graft.pipeline.WeeklyReportJob.createWeekRecords(
        BatchGate.targetFarms(Fixtures.farmDf(s), Fixtures.svcActiveDf(s)),
        masterSeq = 100, year = 2025, weekNo = 45,
        dtFrom = "20251103", dtTo = "20251109")
      .orderBy("farm_no")

  private lazy val q117Sql =
    s"""WITH ${Fixtures.withClause("farm", "svc_active")},
       |targets AS (
       |  SELECT DISTINCT f.farm_no, f.farm_nm, f.principal_nm, f.sigun_cd,
       |         COALESCE(f.country_code, 'KOR') AS locale,
       |         COALESCE(s.schedule_group_week, 'AM7') AS schedule_group
       |  FROM farm f JOIN svc_active s ON f.farm_no = s.farm_no
       |  WHERE f.use_yn = 'Y' AND COALESCE(s.reg_type, 'AUTO') = 'AUTO')
       |SELECT 100 AS master_seq, farm_no, 2025 AS report_year,
       |       45 AS report_week_no, '20251103' AS dt_from,
       |       '20251109' AS dt_to, farm_nm,
       |       COALESCE(principal_nm, '') AS owner_nm, sigun_cd,
       |       'READY' AS status_cd, schedule_group
       |FROM targets ORDER BY farm_no""".stripMargin

  // ---------------------------------------------------------------- single-farm run
  /** q78's summary parameterized to farm 1 — the on-demand
    * single-farm report (VERDICT r4/r5 missing #5). Identical
    * assembly, farm predicate first; the plan-level scan-prune proof
    * lives in PlanQualitySpec over parquet-backed sources. */
  val q115FarmSummary: Q = (s, d) =>
    weeklySummary(Some(1), Fixtures.modonDf(s), Fixtures.modonWkDf(s),
      Fixtures.bunmanDf(s))

  private lazy val q115Sql =
    s"""SELECT * FROM ($farmSummarySql) WHERE farm_no = 1 ORDER BY farm_no""".stripMargin

  /** q78's oracle: each CTE replays one section's already-verified SQL
    * and reduces it to the summary's per-farm aggregate. Like
    * [[q82SqlFrom]], parameterized by the WITH-clause factory so the
    * 50k-farm scale replay runs the identical composition over
    * parquet-backed CTEs. */
  private[graft] def q78SqlFrom(src: Seq[String] => String): String = {
    val cullWeek = (1 to 15).map(i => s"cnt_$i").mkString(" + ")
    val cullMonth = (1 to 15).map(i => s"val_$i").mkString(" + ")
    s"""WITH
       |sow AS (SELECT farm_no,
       |               CAST(SUM(hubo + imsin + poyu + eumo + sago) AS BIGINT) AS sow_total
       |        FROM (${QueryCatalogDomain2.q67SqlFrom(src(Seq("modon", "modon_wk")))}) GROUP BY 1),
       |bm AS (SELECT farm_no, total_cnt AS bm_cnt, sum_live AS bm_live,
       |              avg_live AS bm_avg_live, sum_pogae AS bm_pogae
       |       FROM (${QueryCatalogDomain.q62SqlFrom(src(Seq("bunman", "trans")))})),
       |eu AS (SELECT farm_no, total_cnt AS eu_cnt, sum_eudusu AS eu_dusu,
       |              avg_pougigan AS eu_avg_days
       |       FROM (${QueryCatalogDomain.q63SqlFrom(src(Seq("modon_wk", "bunman", "eu", "trans")))})),
       |gbret AS (SELECT farm_no, CAST(SUM(cnt) AS BIGINT) AS gb_return_cnt
       |          FROM (${QueryCatalogDomain2.q68SqlFrom(src(Seq("modon", "modon_wk")))}) GROUP BY 1),
       |sched AS (SELECT farm_no, CAST(SUM(n) AS BIGINT) AS gb_plan
       |          FROM (${QueryCatalogDomain.q64SqlFrom(src(Seq("modon", "modon_wk")))}) GROUP BY 1),
       |alrt AS (SELECT farm_no, CAST(SUM(d3 + d7 + d14 + d15up) AS BIGINT) AS alert_cnt
       |         FROM (${q75SqlFrom(src(Seq("modon", "modon_wk")))}) GROUP BY 1),
       |cull AS (SELECT farm_no,
       |                CAST(SUM($cullWeek) AS BIGINT) AS cull_week,
       |                CAST(SUM($cullMonth) AS BIGINT) AS cull_month
       |         FROM (${QueryCatalogDomain2.q69SqlFrom(src(Seq("modon")))}) GROUP BY 1),
       |acc AS (SELECT farm_no, CAST(SUM(cnt) AS BIGINT) AS acc_cnt,
       |               CAST(SUM(sum_days) AS BIGINT) AS acc_days
       |        FROM (${q81SqlFrom(src(Seq("modon_wk")))}) GROUP BY 1),
       |ship AS (SELECT farm_no, CAST(SUM(cnt) AS BIGINT) AS ship_cnt
       |         FROM (${QueryCatalogDomain2.q70SqlFrom(src(Seq("lpd")))}) GROUP BY 1),
       |cfg AS (SELECT farm_no, COUNT(*) AS cfg_sched_cnt
       |        FROM (${q83SqlFrom(src(Seq("modon", "modon_wk", "farm_config")))}) GROUP BY 1),
       |pln AS (SELECT farm_no, CAST(SUM(n) AS BIGINT) AS plan_cnt
       |        FROM (${QueryCatalogDomain.q65SqlFrom(src(Seq("modon", "modon_wk")))}) GROUP BY 1)
       |SELECT s.farm_no, s.sow_total,
       |  COALESCE(bm.bm_cnt, 0) AS bm_cnt, COALESCE(bm.bm_live, 0) AS bm_live,
       |  bm.bm_avg_live, COALESCE(bm.bm_pogae, 0) AS bm_pogae,
       |  COALESCE(eu.eu_cnt, 0) AS eu_cnt, COALESCE(eu.eu_dusu, 0) AS eu_dusu,
       |  eu.eu_avg_days,
       |  COALESCE(gbret.gb_return_cnt, 0) AS gb_return_cnt,
       |  COALESCE(sched.gb_plan, 0) AS gb_plan,
       |  COALESCE(alrt.alert_cnt, 0) AS alert_cnt,
       |  COALESCE(cull.cull_week, 0) AS cull_week,
       |  COALESCE(cull.cull_month, 0) AS cull_month,
       |  COALESCE(acc.acc_cnt, 0) AS acc_cnt, COALESCE(acc.acc_days, 0) AS acc_days,
       |  COALESCE(ship.ship_cnt, 0) AS ship_cnt,
       |  COALESCE(cfg.cfg_sched_cnt, 0) AS cfg_sched_cnt,
       |  COALESCE(pln.plan_cnt, 0) AS plan_cnt
       |FROM sow s
       |LEFT JOIN bm ON bm.farm_no = s.farm_no
       |LEFT JOIN eu ON eu.farm_no = s.farm_no
       |LEFT JOIN gbret ON gbret.farm_no = s.farm_no
       |LEFT JOIN sched ON sched.farm_no = s.farm_no
       |LEFT JOIN alrt ON alrt.farm_no = s.farm_no
       |LEFT JOIN cull ON cull.farm_no = s.farm_no
       |LEFT JOIN acc ON acc.farm_no = s.farm_no
       |LEFT JOIN ship ON ship.farm_no = s.farm_no
       |LEFT JOIN cfg ON cfg.farm_no = s.farm_no
       |LEFT JOIN pln ON pln.farm_no = s.farm_no
       |ORDER BY s.farm_no""".stripMargin
  }
  private lazy val q78Sql = q78SqlFrom(ts => Fixtures.withClause(ts: _*))

  // ---------------------------------------------------------------- prior-week deltas
  /** Cross-week Δ columns (modon.py:267-371, SURVEY risk 5): weekly
    * farrowing stats over 4 consecutive report weeks, each row
    * carrying the previous completed week's value and the delta. */
  val q79WeekDeltas: Q = (s, d) => {
    val weeks = Seq(("W1", "20251013", "20251019"), ("W2", "20251020", "20251026"),
      ("W3", "20251027", "20251102"), ("W4", "20251103", "20251109"))
    val b = Fixtures.bunmanDf(s).filter(col("use_yn") === "Y")
    val perWeek = weeks.map { case (wn, lo, hi) =>
      b.filter(col("wk_dt").between(lo, hi))
        .groupBy("farm_no")
        .agg(count(lit(1)).as("bm_cnt"), sum(col("silsan")).cast("long").as("bm_live"))
        .withColumn("week_no", lit(wn))
    }.reduce(_ unionByName _)
    val farms = Fixtures.modonDf(s).select("farm_no").distinct()
    import s.implicits._
    val spine = farms.crossJoin(weeks.map(_._1).toDF("week_no"))
    val filled = spine.join(perWeek, Seq("farm_no", "week_no"), "left")
      .select(col("farm_no"), col("week_no"),
        coalesce(col("bm_cnt"), lit(0L)).as("bm_cnt"),
        coalesce(col("bm_live"), lit(0L)).as("bm_live"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("farm_no")).orderBy(col("week_no"))
    filled
      .withColumn("prev_bm_cnt", lag(col("bm_cnt"), 1).over(w))
      .withColumn("delta_bm_cnt", col("bm_cnt") - col("prev_bm_cnt"))
      .orderBy("farm_no", "week_no")
  }

  private lazy val q79Sql = {
    val weekCtes = Seq(("W1", "20251013", "20251019"), ("W2", "20251020", "20251026"),
      ("W3", "20251027", "20251102"), ("W4", "20251103", "20251109"))
    val union = weekCtes.map { case (wn, lo, hi) =>
      s"""SELECT farm_no, '$wn' AS week_no, COUNT(*) AS bm_cnt,
         |       CAST(SUM(silsan) AS BIGINT) AS bm_live
         |FROM bunman WHERE use_yn = 'Y' AND wk_dt BETWEEN '$lo' AND '$hi'
         |GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val wkVals = weekCtes.map(w => s"('${w._1}')").mkString(",")
    s"""WITH ${Fixtures.withClause("modon", "bunman")},
       |pw AS (
       |  $union),
       |farms AS (SELECT DISTINCT farm_no FROM modon),
       |wk(week_no) AS (VALUES $wkVals),
       |filled AS (
       |  SELECT f.farm_no, wk.week_no,
       |         COALESCE(pw.bm_cnt, 0) AS bm_cnt,
       |         COALESCE(pw.bm_live, 0) AS bm_live
       |  FROM farms f CROSS JOIN wk
       |  LEFT JOIN pw ON pw.farm_no = f.farm_no AND pw.week_no = wk.week_no)
       |SELECT farm_no, week_no, bm_cnt, bm_live,
       |  lag(bm_cnt) OVER w AS prev_bm_cnt,
       |  bm_cnt - lag(bm_cnt) OVER w AS delta_bm_cnt
       |FROM filled
       |WINDOW w AS (PARTITION BY farm_no ORDER BY week_no)
       |ORDER BY farm_no, week_no""".stripMargin
  }

  // ---------------------------------------------------------------- chained multi-week history
  /** Multi-week CHAINED pipeline (q201): the same 4-week deltas as
    * q79, but computed by [[graft.pipeline.WeeklyReportJob
    * .runChainedWeeks]] — week N joins week N-1's summary READ BACK
    * from its written parquet, not an in-memory lag. The store is
    * recreated fresh per run (the chain's semantics ARE the store
    * round trip); the oracle computes the lag() form over the full
    * history, so hash equality proves the written chain is faithful
    * to the in-memory algebra across ≥3 consecutive weeks. */
  val q201WeeklyChain: Q = (s, _) => {
    // per-run unique store: a fixed shared path would let two
    // concurrent graft processes (bench + verify on one box) delete
    // each other's mid-chain weeks. The result (farms x 4 weeks —
    // tiny) is LOCALIZED so the chain tree can be deleted eagerly:
    // the raw frame reads the written parquet lazily, and
    // deleteOnExit alone never removes a non-empty directory — each
    // run would leak a full chain tree in tmpdir.
    val out = java.nio.file.Files
      .createTempDirectory("graft_week_chain_").toFile
    try {
      graft.ops.Materialize.localize(
        graft.pipeline.WeeklyReportJob.runChainedWeeks(s, out.toString, Seq(
          ("W1", "20251013", "20251019"), ("W2", "20251020", "20251026"),
          ("W3", "20251027", "20251102"), ("W4", "20251103", "20251109"))))
        .orderBy("farm_no", "week_no")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(out)
    }
  }

  private lazy val q201Sql = {
    val weekCtes = Seq(("W1", "20251013", "20251019"), ("W2", "20251020", "20251026"),
      ("W3", "20251027", "20251102"), ("W4", "20251103", "20251109"))
    val union = weekCtes.map { case (wn, lo, hi) =>
      s"""SELECT farm_no, '$wn' AS week_no, COUNT(*) AS bm_cnt,
         |       CAST(SUM(silsan) AS BIGINT) AS bm_live
         |FROM bunman WHERE use_yn = 'Y' AND wk_dt BETWEEN '$lo' AND '$hi'
         |GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val wkVals = weekCtes.map(w => s"('${w._1}')").mkString(",")
    s"""WITH ${Fixtures.withClause("modon", "bunman")},
       |pw AS (
       |  $union),
       |farms AS (SELECT DISTINCT farm_no FROM modon),
       |wk(week_no) AS (VALUES $wkVals),
       |filled AS (
       |  SELECT f.farm_no, wk.week_no,
       |         COALESCE(pw.bm_cnt, 0) AS bm_cnt,
       |         COALESCE(pw.bm_live, 0) AS bm_live
       |  FROM farms f CROSS JOIN wk
       |  LEFT JOIN pw ON pw.farm_no = f.farm_no AND pw.week_no = wk.week_no)
       |SELECT farm_no, week_no, bm_cnt, bm_live,
       |  lag(bm_cnt) OVER w AS prev_bm_cnt,
       |  lag(bm_live) OVER w AS prev_bm_live,
       |  bm_cnt - lag(bm_cnt) OVER w AS delta_bm_cnt,
       |  bm_live - lag(bm_live) OVER w AS delta_bm_live
       |FROM filled
       |WINDOW w AS (PARTITION BY farm_no ORDER BY week_no)
       |ORDER BY farm_no, week_no""".stripMargin
  }

  // ---------------------------------------------------------------- template-mode scheduler
  /** FN_MD_SCHEDULE_BSE_2020, template ("modon") mode — the SURVEY
    * §2.10 headline reconstruction: TS_INS_CONF JSON configs select
    * TB_PLAN_MODON templates per job; candidate sows by current
    * status; PASS_DT = anchor + PASS_DAY; popup rows with CNT + D1..D7
    * (D1 absorbs overdue). Exercises from_json config parsing, the
    * tri-state seq_filter (farm 2's mating config has no tasks key ->
    * zero rows), and the farm-mode exclusion (farm 2 farrowing =
    * method 'farm'). */
  val q80ScheduleModon: Q = (s, d) => {
    val jobCols = Seq("week_tw_gy" -> "150005", "week_tw_bm" -> "150002",
      "week_tw_im" -> "150001", "week_tw_eu" -> "150003",
      "week_tw_vc" -> "150004")
    val conf = SchedulePlanner.parseConf(Fixtures.insConfDf(s), jobCols)
    val active = SchedulePlanner.activeTemplates(Fixtures.planModonDf(s), conf)
    val latest = LatestRecord.viaAgg(
      Fixtures.modonWkDf(s).filter(col("use_yn") === "Y"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("seq"))
      .select(col("farm_no"), col("pig_no"), col("wk_dt"), col("wk_gubun"),
        col("sago_gubun_cd"), col("daeri_yn"))
    val cohort = Fixtures.modonDf(s)
      .filter(col("use_yn") === "Y" && col("out_dt") === Codes.AliveOutDt)
      .join(latest, Seq("farm_no", "pig_no"), "left")
      .withColumn("status", SowStatus.status(col("wk_gubun"),
        col("sago_gubun_cd"), col("daeri_yn"), col("status_cd")))
      .withColumn("anchor_date",
        when(col("status") === "010001", DateOps.ymdToDate(col("birth_dt")))
          .otherwise(DateOps.ymdToDate(col("wk_dt"))))
      .filter(col("anchor_date").isNotNull)
      .select("farm_no", "pig_no", "status", "anchor_date")
    val sdt = DateOps.ymdToDate(lit(ymdD(Fixtures.DtFrom, 7)))
    val edt = DateOps.ymdToDate(lit(DtTo))
    val sched = SchedulePlanner.schedule(active, cohort, sdt, edt)
    SchedulePlanner.popup(active, sched, DateOps.ymdToDate(lit(Fixtures.DtFrom)))
      .orderBy("farm_no", "job_gubun_cd", "sort_no")
  }

  private lazy val q80Sql = {
    val sdt = ymdD(Fixtures.DtFrom, 7)
    s"""WITH ${Fixtures.withClause("modon", "modon_wk", "plan_modon", "ins_conf")},
       |conf AS (
       |  SELECT farm_no, '150005' AS job_gubun_cd, week_tw_gy AS j FROM ins_conf
       |  UNION ALL SELECT farm_no, '150002', week_tw_bm FROM ins_conf
       |  UNION ALL SELECT farm_no, '150001', week_tw_im FROM ins_conf
       |  UNION ALL SELECT farm_no, '150003', week_tw_eu FROM ins_conf
       |  UNION ALL SELECT farm_no, '150004', week_tw_vc FROM ins_conf),
       |parsed AS (
       |  SELECT farm_no, job_gubun_cd,
       |         json_extract_string(j, '$$.method') AS method,
       |         regexp_replace(CAST(json_extract(j, '$$.tasks') AS VARCHAR), '[\\[\\] ]', '', 'g') AS tasks_csv
       |  FROM conf),
       |active AS (
       |  SELECT p.* FROM plan_modon p
       |  JOIN parsed c ON c.farm_no = p.farm_no AND c.job_gubun_cd = p.job_gubun_cd
       |  WHERE p.use_yn = 'Y' AND c.method = 'modon'
       |    AND c.tasks_csv IS NOT NULL AND c.tasks_csv <> ''
       |    AND (c.tasks_csv = '-1'
       |         OR list_contains(string_split(c.tasks_csv, ','), CAST(p.seq AS VARCHAR)))),
       |latest AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, sago_gubun_cd, daeri_yn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no ORDER BY seq DESC) AS rn
       |    FROM modon_wk WHERE use_yn = 'Y')
       |  WHERE rn = 1),
       |cohort AS (
       |  SELECT m.farm_no, m.pig_no,
       |         ${SowStatus.sqlCase} AS status,
       |         CASE WHEN ${SowStatus.sqlCase} = '010001'
       |              THEN strptime(m.birth_dt, '%Y%m%d')::DATE
       |              ELSE strptime(w.wk_dt, '%Y%m%d')::DATE END AS anchor_date
       |  FROM modon m
       |  LEFT JOIN latest w ON w.farm_no = m.farm_no AND w.pig_no = m.pig_no
       |  WHERE m.use_yn = 'Y' AND m.out_dt = '99991231'),
       |sched AS (
       |  SELECT a.farm_no, a.job_gubun_cd, a.wk_nm,
       |         c.anchor_date + a.pass_day AS pass_dt
       |  FROM active a
       |  JOIN cohort c ON c.farm_no = a.farm_no AND c.status = a.modon_status_cd
       |  WHERE c.anchor_date IS NOT NULL
       |    AND c.anchor_date + a.pass_day
       |        BETWEEN strptime('$sdt', '%Y%m%d')::DATE AND strptime('$DtTo', '%Y%m%d')::DATE),
       |cnts AS (
       |  SELECT farm_no, job_gubun_cd, wk_nm, COUNT(*) AS cnt,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) <= 0 THEN 1 END) AS d1,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 1 THEN 1 END) AS d2,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 2 THEN 1 END) AS d3,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 3 THEN 1 END) AS d4,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 4 THEN 1 END) AS d5,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 5 THEN 1 END) AS d6,
       |    COUNT(CASE WHEN date_diff('day', strptime('${Fixtures.DtFrom}', '%Y%m%d')::DATE, pass_dt) = 6 THEN 1 END) AS d7
       |  FROM sched GROUP BY 1, 2, 3)
       |SELECT a.farm_no, a.job_gubun_cd,
       |  CAST(row_number() OVER (PARTITION BY a.farm_no, a.job_gubun_cd ORDER BY a.wk_nm) AS INT) AS sort_no,
       |  a.wk_nm, a.std_cd, a.modon_status_cd,
       |  CAST(a.pass_day AS VARCHAR) || 'D' AS pass_day_str,
       |  COALESCE(c.cnt, 0) AS cnt,
       |  COALESCE(c.d1, 0) AS d1, COALESCE(c.d2, 0) AS d2, COALESCE(c.d3, 0) AS d3,
       |  COALESCE(c.d4, 0) AS d4, COALESCE(c.d5, 0) AS d5, COALESCE(c.d6, 0) AS d6,
       |  COALESCE(c.d7, 0) AS d7
       |FROM active a
       |LEFT JOIN cnts c ON c.farm_no = a.farm_no AND c.job_gubun_cd = a.job_gubun_cd
       |  AND c.wk_nm = a.wk_nm
       |ORDER BY a.farm_no, a.job_gubun_cd, sort_no""".stripMargin
  }

  // ---------------------------------------------------------------- accident as-of
  /** Accident section core (accident.py:129-174, :291-371): for every
    * accident event, the latest EARLIER mating of the same sow
    * (ops.AsOf union+window — the scan-backwards Python loop as one
    * shuffle), elapsed days bucketed <=7, 8-10, .., 46+, counted per
    * (farm, accident subtype, bucket). */
  val q81AccidentAsOf: Q = (s, d) =>
    q81AccidentAsOfFrom(s, Fixtures.modonWkDf(s))

  /** q81's body over a caller-supplied work log (see
    * [[q75AlertsFrom]]). */
  private[graft] def q81AccidentAsOfFrom(s: SparkSession,
                                         modonWkSrc: DataFrame): DataFrame = {
    val wkAll = modonWkSrc.filter(col("use_yn") === "Y")
    val matings = wkAll.filter(col("wk_gubun") === "G")
      .select(col("farm_no"), col("pig_no"), col("wk_dt").as("t"),
        col("seq"), col("wk_dt"))
    // probe at accident_date - 1 so the inclusive as-of becomes the
    // reference's STRICT "last mating before the accident"
    val accidents = wkAll.filter(col("wk_gubun") === "F")
      .select(col("farm_no"), col("pig_no"),
        DateOps.dateToYmd(date_sub(DateOps.ymdToDate(col("wk_dt")), 1)).as("t"),
        col("wk_dt"), col("seq").as("acc_seq"), col("sago_gubun_cd"))
    val joined = graft.ops.AsOf.join(matings, accidents,
        keys = Seq("farm_no", "pig_no"), time = "t", tie = "seq",
        attach = Seq("wk_dt"))
      .withColumn("elapsed",
        datediff(DateOps.ymdToDate(col("wk_dt")), DateOps.ymdToDate(col("asof_wk_dt"))))
      .filter(col("elapsed").isNotNull)
    val bucket = when(col("elapsed") <= 7, "E07")
      .when(col("elapsed") <= 10, "E10").when(col("elapsed") <= 17, "E17")
      .when(col("elapsed") <= 24, "E24").when(col("elapsed") <= 31, "E31")
      .when(col("elapsed") <= 38, "E38").when(col("elapsed") <= 45, "E45")
      .otherwise("E46UP")
    joined.groupBy(col("farm_no"), col("sago_gubun_cd"), bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("elapsed")).cast("long").as("sum_days"))
      .orderBy("farm_no", "sago_gubun_cd", "bucket")
  }

  private[graft] def q81SqlFrom(src: String): String =
    s"""WITH $src,
       |wk AS (SELECT * FROM modon_wk WHERE use_yn = 'Y'),
       |j AS (
       |  SELECT a.farm_no, a.sago_gubun_cd,
       |         date_diff('day', strptime(g.wk_dt, '%Y%m%d')::DATE,
       |                   strptime(a.wk_dt, '%Y%m%d')::DATE) AS elapsed,
       |         row_number() OVER (PARTITION BY a.farm_no, a.pig_no, a.seq
       |                            ORDER BY g.wk_dt DESC, g.seq DESC) AS rn
       |  FROM (SELECT * FROM wk WHERE wk_gubun = 'F') a
       |  JOIN (SELECT * FROM wk WHERE wk_gubun = 'G') g
       |    ON g.farm_no = a.farm_no AND g.pig_no = a.pig_no AND g.wk_dt < a.wk_dt),
       |e AS (SELECT farm_no, sago_gubun_cd, elapsed FROM j WHERE rn = 1),
       |b AS (
       |  SELECT farm_no, sago_gubun_cd, elapsed,
       |    (CASE WHEN elapsed <= 7 THEN 'E07' WHEN elapsed <= 10 THEN 'E10'
       |          WHEN elapsed <= 17 THEN 'E17' WHEN elapsed <= 24 THEN 'E24'
       |          WHEN elapsed <= 31 THEN 'E31' WHEN elapsed <= 38 THEN 'E38'
       |          WHEN elapsed <= 45 THEN 'E45' ELSE 'E46UP' END) AS bucket
       |  FROM e)
       |SELECT farm_no, sago_gubun_cd, bucket, COUNT(*) AS cnt,
       |       CAST(SUM(elapsed) AS BIGINT) AS sum_days
       |FROM b GROUP BY 1, 2, 3 ORDER BY farm_no, sago_gubun_cd, bucket""".stripMargin
  private lazy val q81Sql = q81SqlFrom(Fixtures.withClause("modon_wk"))

  // ---------------------------------------------------------------- config-driven schedule
  /** The CONFIG read-back as an explicit DAG edge (SURVEY §7.4 risk
    * 6): the reference's alert/schedule sections re-read a per-farm
    * CONFIG row from the sink and fall back to hard defaults
    * (config.py:41-51: gestation 115, weaning 21, ...). Here the
    * config is a broadcast dimension joined into the section: expected
    * farrowing = latest mating + COALESCE(farm preg_days, 115). Farm 1
    * overrides to 114, farm 2 is all-NULL — both branches land in the
    * verified output as visibly different dates. */
  val q83ConfigSchedule: Q = (s, _) => q83ConfigScheduleFrom(s,
    Fixtures.modonDf(s), Fixtures.modonWkDf(s), Fixtures.farmConfigDf(s))

  /** q83's body over caller-supplied source tables (see
    * [[q75AlertsFrom]]). */
  private[graft] def q83ConfigScheduleFrom(s: SparkSession, modonSrc: DataFrame,
                                           modonWkSrc: DataFrame,
                                           farmConfigSrc: DataFrame): DataFrame = {
    val latest = LatestRecord.viaAgg(
      modonWkSrc.filter(col("use_yn") === "Y"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("seq"))
      .filter(col("wk_gubun") === "G")
      .select(col("farm_no"), col("pig_no"), col("wk_dt").as("mate_dt"))
    val alive = modonSrc
      .filter(col("use_yn") === "Y" && col("out_dt") === Codes.AliveOutDt)
      .select("farm_no", "pig_no")
    val cfg = broadcast(farmConfigSrc.select("farm_no", "preg_days"))
    latest.join(alive, Seq("farm_no", "pig_no"))
      .join(cfg, Seq("farm_no"), "left")
      .withColumn("preg_used", coalesce(col("preg_days"), lit(115)))
      .withColumn("pass_dt",
        DateOps.dateToYmd(expr("date_add(to_date(mate_dt, 'yyyyMMdd'), preg_used)")))
      .select("farm_no", "pig_no", "mate_dt", "preg_used", "pass_dt")
      .orderBy("farm_no", "pig_no")
  }

  private[graft] def q83SqlFrom(src: String): String =
    s"""WITH $src,
       |latest AS (
       |  SELECT farm_no, pig_no, wk_dt AS mate_dt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no ORDER BY seq DESC) AS rn
       |    FROM modon_wk WHERE use_yn = 'Y')
       |  WHERE rn = 1 AND wk_gubun = 'G'),
       |alive AS (SELECT farm_no, pig_no FROM modon
       |          WHERE use_yn = 'Y' AND out_dt = '99991231')
       |SELECT l.farm_no, l.pig_no, l.mate_dt,
       |       COALESCE(c.preg_days, 115) AS preg_used,
       |       strftime(strptime(l.mate_dt, '%Y%m%d')::DATE
       |                + COALESCE(c.preg_days, 115), '%Y%m%d') AS pass_dt
       |FROM latest l
       |JOIN alive a ON a.farm_no = l.farm_no AND a.pig_no = l.pig_no
       |LEFT JOIN farm_config c ON c.farm_no = l.farm_no
       |ORDER BY l.farm_no, l.pig_no""".stripMargin
  private lazy val q83Sql =
    q83SqlFrom(Fixtures.withClause("modon", "modon_wk", "farm_config"))

  // ---------------------------------------------------------------- weekly SUB union
  /** The assembled weekly report: every section conformed into the
    * TS_INS_WEEK_SUB wide schema and unioned (pipeline.WeeklyReportJob
    * .subRows — the reference's per-section INSERT dance as ONE
    * relation, orchestrator.py:745-828 / 02_TABLE.md:409-441). The
    * oracle re-derives each section from its own verified SQL and
    * replays the identical conform+union, so the composition itself —
    * padding, types, sort_no rules — is hash-gated, not just the
    * individual sections. */
  val q82WeekSub: Q = (s, _) =>
    graft.pipeline.WeeklyReportJob.subRows(s)
      .orderBy("gubun", "sub_gubun", "farm_no", "sort_no")

  /** Conform one section subquery to the SUB schema in SQL. */
  private def subSectionSql(inner: String, gubun: String, subGubun: String,
                            sortNo: String, code1: String,
                            cnt: Map[Int, String] = Map(),
                            valm: Map[Int, String] = Map(),
                            strm: Map[Int, String] = Map()): String = {
    val cols = Seq("farm_no",
      s"'$gubun' AS gubun", s"'$subGubun' AS sub_gubun",
      s"CAST($sortNo AS INT) AS sort_no", s"$code1 AS code_1") ++
      (1 to 15).map(i => s"CAST(${cnt.getOrElse(i, "NULL")} AS DOUBLE) AS cnt_$i") ++
      (1 to 15).map(i => s"CAST(${valm.getOrElse(i, "NULL")} AS DOUBLE) AS val_$i") ++
      (1 to 15).map(i => s"CAST(${strm.getOrElse(i, "NULL")} AS VARCHAR) AS str_$i")
    s"SELECT ${cols.mkString(",\n  ")} FROM ($inner)"
  }

  /** The SUB-union oracle over a caller-supplied WITH-clause factory
    * (table names -> CTE text): the fixture gate builds it from the
    * rendered VALUES (q82Sql below); the 50k-farm scale replay builds
    * the IDENTICAL statement over parquet-backed CTEs
    * (devtools.WeeklyScale) — one composition, two data sources. */
  private[graft] def q82SqlFrom(src: Seq[String] => String): String = {
    val cfg = subSectionSql(q83SqlFrom(src(Seq("modon", "modon_wk", "farm_config"))),
      "CONFIG", "SCHED",
      "row_number() OVER (PARTITION BY farm_no ORDER BY pig_no)", "pig_no",
      cnt = Map(1 -> "preg_used"),
      strm = Map(1 -> "mate_dt", 2 -> "pass_dt"))
    val alert = subSectionSql(q75SqlFrom(src(Seq("modon", "modon_wk"))),
      "ALERT", "MATRIX",
      "row_number() OVER (PARTITION BY farm_no ORDER BY alert_type)", "alert_type",
      cnt = Map(1 -> "d3", 2 -> "d7", 3 -> "d14", 4 -> "d15up"))
    val modon = subSectionSql(
      QueryCatalogDomain2.q67SqlFrom(src(Seq("modon", "modon_wk"))),
      "MODON", "-", "sort_no", "parity_label",
      cnt = Map(1 -> "hubo", 2 -> "imsin", 3 -> "poyu", 4 -> "eumo", 5 -> "sago"))
    val gb = subSectionSql(
      QueryCatalogDomain2.q68SqlFrom(src(Seq("modon", "modon_wk"))),
      "GB", "CHART", "sort_no", "bucket", cnt = Map(1 -> "cnt"))
    val bm = subSectionSql(
      QueryCatalogDomain.q62SqlFrom(src(Seq("bunman", "trans"))),
      "BM", "SUMMARY", "0", "'-'",
      cnt = Map(1 -> "total_cnt", 2 -> "sum_total", 3 -> "sum_live",
        4 -> "sum_dead", 5 -> "sum_mummy", 6 -> "sum_sdotae",
        7 -> "sum_yangja", 8 -> "sum_pogae", 9 -> "acc_bm_cnt",
        10 -> "acc_total"),
      valm = Map(1 -> "sum_kg", 2 -> "avg_live", 3 -> "acc_avg_total"))
    val eu = subSectionSql(
      QueryCatalogDomain.q63SqlFrom(src(Seq("modon_wk", "bunman", "eu", "trans"))),
      "EU", "SUMMARY", "0", "'-'",
      cnt = Map(1 -> "total_cnt", 2 -> "sum_eudusu", 3 -> "sum_chongsan",
        4 -> "sum_silsan", 5 -> "sum_pougigan", 6 -> "sum_ps_ds",
        7 -> "sum_bb_ds", 8 -> "sum_ji_ds", 9 -> "sum_jc_ds",
        10 -> "sum_pogae"),
      valm = Map(1 -> "sum_kg", 2 -> "avg_eudusu", 3 -> "avg_pougigan"))
    val sago = subSectionSql(q81SqlFrom(src(Seq("modon_wk"))), "SAGO", "BUCKET",
      "row_number() OVER (PARTITION BY farm_no ORDER BY sago_gubun_cd, bucket)",
      "bucket", cnt = Map(1 -> "cnt", 2 -> "sum_days"),
      strm = Map(1 -> "sago_gubun_cd"))
    val dope = subSectionSql(
      QueryCatalogDomain2.q69SqlFrom(src(Seq("modon"))),
      "DOPE", "LIST", "sort_no", "NULL",
      cnt = (1 to 15).map(i => i -> s"cnt_$i").toMap,
      valm = (1 to 15).map(i => i -> s"val_$i").toMap,
      strm = (1 to 15).map(i => i -> s"str_$i").toMap)
    val ship = subSectionSql(
      QueryCatalogDomain2.q70SqlFrom(src(Seq("lpd"))),
      "SHIP", "ROW",
      "dense_rank() OVER (PARTITION BY farm_no ORDER BY day)", "day",
      cnt = Map(1 -> "cnt", 2 -> "q11", 3 -> "q1", 4 -> "q2",
        5 -> "f_cnt", 6 -> "m_cnt"),
      valm = Map(1 -> "avg_net"))
    val sched = subSectionSql(
      QueryCatalogDomain.q64SqlFrom(src(Seq("modon", "modon_wk"))),
      "SCHED", "GB",
      "row_number() OVER (PARTITION BY farm_no ORDER BY pass_dt)",
      "strftime(pass_dt, '%Y%m%d')", cnt = Map(1 -> "n"))
    // async_processor.py:170-192 processor order
    Seq(cfg, alert, modon, gb, bm, eu, sago, dope, ship, sched)
      .mkString("", "\nUNION ALL BY NAME ",
        "\nORDER BY gubun, sub_gubun, farm_no, sort_no")
  }
  private lazy val q82Sql = q82SqlFrom(ts => Fixtures.withClause(ts: _*))

  // ---------------------------------------------------------------- single-farm SUB rows
  /** The assembled ten-section SUB frame scoped to ONE farm by a
    * top-level predicate — the declarative single-farm run: farm_no
    * keys every window/aggregate/join in the composition, so Catalyst
    * pushes the filter through the whole union to the leaves (no
    * per-section parameter threading). The parquet-backed scan-prune
    * proof for the imperative source-scoped leg (subRowsFarm) lives
    * in PlanQualitySpec. */
  val q120FarmSub: Q = (s, _) =>
    graft.pipeline.WeeklyReportJob.subRows(s)
      .filter(col("farm_no") === 1)
      .orderBy("gubun", "sub_gubun", "sort_no")

  private lazy val q120Sql =
    s"""SELECT * FROM ($q82Sql) WHERE farm_no = 1
       |ORDER BY gubun, sub_gubun, sort_no""".stripMargin

  // ---------------------------------------------------------------- finalize / share token
  /** The report-finalize flow (VERDICT r2 missing #4): per-farm
    * COMPLETE rows get the sha256 share token (master-farm-stamp-
    * entropy, async_processor.py:287-295) and the 7-day view expiry
    * (completion day + 6); the master row is assembled from the same
    * frame — complete/error counts, ERROR iff any farm failed,
    * ELAPSED_SEC from the master wall-clock (orchestrator.py:
    * 1087-1104). Master 100 has an errored farm (3) -> master ERROR
    * with token-less row; master 101 is clean COMPLETE. */
  val q95Finalize: Q = (s, d) =>
    graft.pipeline.WeeklyReportJob.finalize(
        Fixtures.insWeekRunDf(s), Fixtures.insMasterDf(s))
      .orderBy("master_seq", "farm_no")

  private lazy val q95Sql =
    s"""WITH ${Fixtures.withClause("ins_master", "ins_week_run")},
       |farms AS (
       |  SELECT master_seq, farm_no, status_cd,
       |    CASE WHEN status_cd = 'COMPLETE'
       |         THEN sha256(CAST(master_seq AS VARCHAR) || '-' || CAST(farm_no AS VARCHAR)
       |                     || '-' || complete_ts || '-' || salt) END AS share_token,
       |    CASE WHEN status_cd = 'COMPLETE'
       |         THEN strftime(CAST(strptime(substr(complete_ts, 1, 8), '%Y%m%d') AS DATE) + 6,
       |                       '%Y%m%d') END AS token_expire_dt
       |  FROM ins_week_run),
       |m AS (
       |  SELECT master_seq, COUNT(*) AS target_cnt,
       |    CAST(SUM(CASE WHEN status_cd = 'COMPLETE' THEN 1 ELSE 0 END) AS BIGINT) AS complete_cnt,
       |    CAST(SUM(CASE WHEN status_cd = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT) AS error_cnt
       |  FROM farms GROUP BY 1),
       |e AS (
       |  SELECT master_seq,
       |    date_diff('second', CAST(start_ts AS TIMESTAMP), CAST(end_ts AS TIMESTAMP)) AS elapsed_sec
       |  FROM ins_master)
       |SELECT f.master_seq, f.farm_no, f.status_cd, f.share_token, f.token_expire_dt,
       |       CASE WHEN m.error_cnt > 0 THEN 'ERROR' ELSE 'COMPLETE' END AS m_status_cd,
       |       m.target_cnt, m.complete_cnt, m.error_cnt, e.elapsed_sec
       |FROM farms f JOIN m USING (master_seq) JOIN e USING (master_seq)
       |ORDER BY master_seq, farm_no""".stripMargin

  // ---------------------------------------------------------------- monthly/quarterly period windows
  /** The MONTH/QUARTER report modes (run_etl.py:68-77 DAY_GB choices;
    * productivity.py:94-178 period W/M/Q): the farrowing section run
    * over the last full calendar month AND the last full calendar
    * quarter before the base date, each row carrying the
    * `_calculate_period_info` identity (stat_year, period_no) and the
    * DAY_GB storage code (W->WEEK, M->MON, Q->QT,
    * productivity.py:466-468). The oracle hard-codes the expected
    * window boundaries and period numbers as literals, so the
    * monthWindow/quarterWindow math is independently pinned — the SQL
    * does not replay the Scala computation. */
  val q119PeriodWindow: Q = (s, _) => {
    val b = Fixtures.bunmanDf(s).filter(col("use_yn") === "Y")
    def leg(p: String, w: DateOps.PeriodWindow): DataFrame =
      b.filter(col("wk_dt").between(w.dtFrom, w.dtTo))
        .groupBy("farm_no")
        .agg(count(lit(1)).as("total_cnt"),
          sum(col("silsan")).cast("long").as("sum_live"))
        .select(col("farm_no"), lit(p).as("period"),
          lit(DateOps.dayGb(p)).as("day_gb"),
          lit(w.statYear).as("stat_year"), lit(w.periodNo).as("period_no"),
          lit(w.dtFrom).as("dt_from"), lit(w.dtTo).as("dt_to"),
          col("total_cnt"), col("sum_live"))
    leg("M", DateOps.monthWindow(BaseDate))
      .unionByName(leg("Q", DateOps.quarterWindow(BaseDate)))
      .orderBy("period", "farm_no")
  }

  private lazy val q119Sql =
    s"""WITH ${Fixtures.withClause("bunman")},
       |legs AS (
       |  SELECT farm_no, 'M' AS period, 'MON' AS day_gb,
       |         2025 AS stat_year, 10 AS period_no,
       |         '20251001' AS dt_from, '20251031' AS dt_to,
       |         COUNT(*) AS total_cnt, CAST(SUM(silsan) AS BIGINT) AS sum_live
       |  FROM bunman WHERE use_yn = 'Y' AND wk_dt BETWEEN '20251001' AND '20251031'
       |  GROUP BY 1
       |  UNION ALL
       |  SELECT farm_no, 'Q', 'QT', 2025, 3, '20250701', '20250930',
       |         COUNT(*), CAST(SUM(silsan) AS BIGINT)
       |  FROM bunman WHERE use_yn = 'Y' AND wk_dt BETWEEN '20250701' AND '20250930'
       |  GROUP BY 1)
       |SELECT * FROM legs ORDER BY period, farm_no""".stripMargin

  // ---------------------------------------------------------------- batch gate + targeting
  /** The scheduler front door (VERDICT r4/r5 missing #2): every
    * targeting mode of the weekly batch in one verified frame —
    * the unfiltered service-farm list (SERVICE_FARM_SQL semantics:
    * USE_YN, NVL(REG_TYPE,'AUTO'), DISTINCT, locale/group defaults),
    * the AM7/PM2 schedule groups (orchestrator.py:1031-1034), the
    * include / exclude id lists (orchestrator.py:1016-1029), and the
    * INS_SCHEDULE_YN gate (orchestrator.py:58-94) exercised per
    * config row: enabled configs ('Y' production, 'T' test) release
    * the full target list, the disabled one releases nothing. */
  val q114BatchTargets: Q = (s, _) => {
    val farm = Fixtures.farmDf(s)
    val svc = Fixtures.svcActiveDf(s)
    def tag(t: String, df: DataFrame): DataFrame = df.withColumn("scenario", lit(t))
    val full = BatchGate.targetFarms(farm, svc)
    // the gate is a driver-side config scalar by design (it decides
    // whether any job is submitted); the fixture's three config rows
    // each go through the same pure decision the scheduler uses
    val gated = Fixtures.sysConfig.flatMap { r =>
      val (seq, yn) = (r.getInt(0), r.getString(1))
      if (BatchGate.scheduleEnabled(Option(yn))) Some(tag(s"gate:$seq", full)) else None
    }
    (Seq(
      tag("full", full),
      tag("am7", BatchGate.targetFarms(farm, svc, scheduleGroup = Some("AM7"))),
      tag("pm2", BatchGate.targetFarms(farm, svc, scheduleGroup = Some("PM2"))),
      tag("include", BatchGate.targetFarms(farm, svc, include = Seq(2, 3))),
      tag("exclude", BatchGate.targetFarms(farm, svc, exclude = Seq(2)))
    ) ++ gated).reduce(_.unionByName(_))
      .orderBy("scenario", "farm_no")
  }

  private lazy val q114Sql =
    s"""WITH ${Fixtures.withClause("farm", "svc_active", "sys_config")},
       |targets AS (
       |  SELECT DISTINCT f.farm_no, f.farm_nm, f.principal_nm, f.sigun_cd,
       |         COALESCE(f.country_code, 'KOR') AS locale,
       |         COALESCE(s.schedule_group_week, 'AM7') AS schedule_group
       |  FROM farm f JOIN svc_active s ON f.farm_no = s.farm_no
       |  WHERE f.use_yn = 'Y' AND COALESCE(s.reg_type, 'AUTO') = 'AUTO')
       |SELECT farm_no, farm_nm, principal_nm, sigun_cd, locale, schedule_group,
       |       'full' AS scenario FROM targets
       |UNION ALL
       |SELECT farm_no, farm_nm, principal_nm, sigun_cd, locale, schedule_group, 'am7'
       |FROM targets WHERE schedule_group = 'AM7'
       |UNION ALL
       |SELECT farm_no, farm_nm, principal_nm, sigun_cd, locale, schedule_group, 'pm2'
       |FROM targets WHERE schedule_group = 'PM2'
       |UNION ALL
       |SELECT farm_no, farm_nm, principal_nm, sigun_cd, locale, schedule_group, 'include'
       |FROM targets WHERE farm_no IN (2, 3)
       |UNION ALL
       |SELECT farm_no, farm_nm, principal_nm, sigun_cd, locale, schedule_group, 'exclude'
       |FROM targets WHERE farm_no NOT IN (2)
       |UNION ALL
       |SELECT t.farm_no, t.farm_nm, t.principal_nm, t.sigun_cd, t.locale,
       |       t.schedule_group, 'gate:' || CAST(c.seq AS VARCHAR)
       |FROM sys_config c CROSS JOIN targets t
       |WHERE c.ins_schedule_yn IN ('Y', 'T')
       |ORDER BY scenario, farm_no""".stripMargin

  // ---------------------------------------------------------------- API status probe
  /** The status endpoint (server.py:209-282) batched over every farm
    * ([[graft.pipeline.StatusProbe.latestComplete]]): latest COMPLETE
    * week report per farm — WEEK row AND master both COMPLETE, top-1
    * by (report_year, report_week_no) via one partial-agg max_by —
    * with the endpoint's not-found branch as exists_yn='N'. Fixture
    * shape: master 100 has an errored farm (3) so its batch is
    * ineligible; every COMPLETE probe must resolve to master 101;
    * farms 3/4/5 have no eligible row. */
  val q143StatusProbe: Q = (s, d) =>
    graft.pipeline.StatusProbe.latestComplete(
        Fixtures.insWeekRunDf(s), Fixtures.insMasterDf(s), Fixtures.farmDf(s))
      .orderBy("farm_no")

  private lazy val q143Sql =
    s"""WITH ${Fixtures.withClause("ins_master", "ins_week_run", "farm")},
       |wk AS (
       |  SELECT master_seq, farm_no, status_cd,
       |    CASE WHEN status_cd = 'COMPLETE'
       |         THEN sha256(CAST(master_seq AS VARCHAR) || '-' || CAST(farm_no AS VARCHAR)
       |                     || '-' || complete_ts || '-' || salt) END AS share_token,
       |    CASE WHEN status_cd = 'COMPLETE'
       |         THEN strftime(CAST(strptime(substr(complete_ts, 1, 8), '%Y%m%d') AS DATE) + 6,
       |                       '%Y%m%d') END AS token_expire_dt
       |  FROM ins_week_run),
       |m AS (
       |  SELECT master_seq,
       |    CASE WHEN SUM(CASE WHEN status_cd = 'ERROR' THEN 1 ELSE 0 END) > 0
       |         THEN 'ERROR' ELSE 'COMPLETE' END AS m_status_cd
       |  FROM wk GROUP BY 1),
       |el AS (
       |  SELECT wk.farm_no, wk.share_token, wk.token_expire_dt,
       |         im.report_year, im.report_week_no, wk.master_seq
       |  FROM wk JOIN m USING (master_seq) JOIN ins_master im USING (master_seq)
       |  WHERE wk.status_cd = 'COMPLETE' AND m.m_status_cd = 'COMPLETE'),
       |t1 AS (
       |  SELECT *, row_number() OVER (PARTITION BY farm_no
       |            ORDER BY report_year DESC, report_week_no DESC, master_seq DESC) AS rn
       |  FROM el)
       |SELECT f.farm_no, f.farm_nm,
       |  CASE WHEN t.farm_no IS NULL THEN 'N' ELSE 'Y' END AS exists_yn,
       |  t.share_token, t.report_year, t.report_week_no, t.token_expire_dt
       |FROM farm f LEFT JOIN (SELECT * FROM t1 WHERE rn = 1) t USING (farm_no)
       |ORDER BY f.farm_no""".stripMargin

  // ---------------------------------------------------------------- run-farm request validation
  /** The run-farm request-validation surface (server.py:140-206,
    * [[graft.pipeline.StatusProbe.validateRunRequests]]): day_gb
    * default + case-normalization + whitelist, WEEK-only
    * implementation branch, farm existence/USE_YN eligibility,
    * ins_date default, and the lastWeekWindow period identity on
    * accepted rows. The request batch covers every branch: clean
    * accept, MONTH (unimplemented), bogus day_gb, inactive farm,
    * unknown farm, all-defaults, lowercase day_gb. */
  val q144RunValidate: Q = (s, d) => {
    import s.implicits._
    val requests = Seq(
      (1, 1, Option("WEEK"), Option("20251112")),
      (2, 1, Option("MONTH"), Option("20251112")),
      (3, 1, Option("YEAR"), Option("20251112")),
      (4, 4, Option("WEEK"), Option("20251112")),
      (5, 99, Option("WEEK"), Option("20251112")),
      (6, 2, Option.empty[String], Option.empty[String]),
      (7, 3, Option("week"), Option("20251229")))
      .toDF("req_id", "farm_no", "day_gb", "ins_date")
    graft.pipeline.StatusProbe.validateRunRequests(
        requests, Fixtures.farmDf(s), defaultInsDate = "20251110")
      .orderBy("req_id")
  }

  private lazy val q144Sql =
    s"""WITH ${Fixtures.withClause("farm")},
       |req(req_id, farm_no, day_gb, ins_date) AS (VALUES
       |  (1, 1, 'WEEK', '20251112'), (2, 1, 'MONTH', '20251112'),
       |  (3, 1, 'YEAR', '20251112'), (4, 4, 'WEEK', '20251112'),
       |  (5, 99, 'WEEK', '20251112'), (6, 2, NULL, NULL),
       |  (7, 3, 'week', '20251229')),
       |r AS (
       |  SELECT req_id, r0.farm_no, upper(COALESCE(day_gb, 'WEEK')) AS gb,
       |         COALESCE(ins_date, '20251110') AS ymd, f.use_yn
       |  FROM req r0 LEFT JOIN farm f ON f.farm_no = r0.farm_no),
       |w AS (
       |  SELECT *, strptime(ymd, '%Y%m%d')::DATE AS bd FROM r),
       |w2 AS (
       |  SELECT *, bd - CAST(CASE WHEN isodow(bd) = 7 THEN 7
       |                           ELSE isodow(bd) END AS INT) AS ls
       |  FROM w),
       |v AS (
       |  SELECT *,
       |    CASE WHEN gb NOT IN ('WEEK', 'MONTH', 'QUARTER') THEN 'error'
       |         WHEN gb <> 'WEEK' THEN 'error'
       |         WHEN use_yn IS NULL OR use_yn <> 'Y' THEN 'error'
       |         ELSE 'success' END AS status,
       |    CASE WHEN gb NOT IN ('WEEK', 'MONTH', 'QUARTER') THEN 'invalid day_gb'
       |         WHEN gb <> 'WEEK' THEN 'not implemented'
       |         WHEN use_yn IS NULL THEN 'unknown farm'
       |         WHEN use_yn <> 'Y' THEN 'farm not active' END AS reason
       |  FROM w2)
       |SELECT req_id, farm_no, gb AS day_gb, status, reason,
       |  CASE WHEN status = 'success' THEN CAST(isoyear(ls) AS INT) END AS report_year,
       |  CASE WHEN status = 'success' THEN CAST(weekofyear(ls) AS INT) END AS week_no,
       |  CASE WHEN status = 'success' THEN strftime(ls - 6, '%Y%m%d') END AS dt_from,
       |  CASE WHEN status = 'success' THEN strftime(ls, '%Y%m%d') END AS dt_to
       |FROM v ORDER BY req_id""".stripMargin

  // ---------------------------------------------------------------- re-init delete policies
  /** The --init-week/--init-all delete policies
    * ([[graft.pipeline.ReInit]], run_etl.py:56-60 +
    * orchestrator.py:758-884): every branch as one scenario —
    * production guard and test-without-flags guard delete NOTHING;
    * a week with no matching master deletes nothing; the
    * farm-restricted week init keeps masters that still have week
    * rows; the unrestricted week init cascades masters away; init-all
    * dooms every master. Orphan week_sub/job_log rows under an
    * unknown master prove the deletes are keyed, not truncations.
    * Output: per-scenario per-table deleted/retained counts. */
  val q145ReInit: Q = (s, d) => {
    import s.implicits._
    import graft.pipeline.ReInit
    val weekSub = Seq((100, 1, "CONFIG"), (100, 2, "ALERT"), (100, 3, "GB"),
      (101, 1, "CONFIG"), (999, 9, "ORPHAN")).toDF("master_seq", "farm_no", "gubun")
    val jobLog = Seq((100, 1, "collect"), (100, 3, "report"),
      (101, 2, "collect"), (999, 9, "orphan")).toDF("master_seq", "farm_no", "job_nm")
    val orig = ReInit.Frames(Fixtures.insMasterDf(s), Fixtures.insWeekRunDf(s),
      weekSub, jobLog)
    def rep(scn: String, ret: ReInit.Frames): DataFrame = {
      def one(t: String, o: DataFrame, r: DataFrame) =
        o.agg(count(lit(1)).as("n_orig"))
          .crossJoin(r.agg(count(lit(1)).as("n_retained")))
          .select(lit(scn).as("scenario"), lit(t).as("table_nm"),
            (col("n_orig") - col("n_retained")).as("n_deleted"),
            col("n_retained"))
      one("master", orig.master, ret.master)
        .unionByName(one("week", orig.week, ret.week))
        .unionByName(one("week_sub", orig.weekSub, ret.weekSub))
        .unionByName(one("job_log", orig.jobLog, ret.jobLog))
    }
    rep("noop_prod",
        ReInit.reInit(orig, 2025, 45, None, testMode = false, initAll = false, initWeek = true))
      .unionByName(rep("noop_testonly",
        ReInit.reInit(orig, 2025, 45, None, testMode = true, initAll = false, initWeek = false)))
      .unionByName(rep("week_other",
        ReInit.reInit(orig, 2024, 1, None, testMode = true, initAll = false, initWeek = true)))
      .unionByName(rep("week_farms",
        ReInit.reInit(orig, 2025, 45, Some(Seq(1, 3)), testMode = true, initAll = false, initWeek = true)))
      .unionByName(rep("week_all",
        ReInit.reInit(orig, 2025, 45, None, testMode = true, initAll = false, initWeek = true)))
      .unionByName(rep("init_all",
        ReInit.reInit(orig, 2025, 45, None, testMode = true, initAll = true, initWeek = false)))
      // init-all WITH farms: week/sub/log rows for those farms go, but
      // masters are NEVER deleted (_delete_all_test_data skips the
      // master delete whenever farm_list is given — orchestrator.py:730-731)
      .unionByName(rep("init_all_farms",
        ReInit.reInit(orig, 2025, 45, Some(Seq(1, 3)), testMode = true, initAll = true, initWeek = false)))
      .orderBy("scenario", "table_nm")
  }

  private lazy val q145Sql =
    s"""WITH ${Fixtures.withClause("ins_master", "ins_week_run")},
       |week_sub(master_seq, farm_no, gubun) AS (VALUES
       |  (100, 1, 'CONFIG'), (100, 2, 'ALERT'), (100, 3, 'GB'),
       |  (101, 1, 'CONFIG'), (999, 9, 'ORPHAN')),
       |job_log(master_seq, farm_no, job_nm) AS (VALUES
       |  (100, 1, 'collect'), (100, 3, 'report'), (101, 2, 'collect'),
       |  (999, 9, 'orphan')),
       |doomed AS (SELECT DISTINCT master_seq FROM ins_master
       |           WHERE report_year = 2025 AND report_week_no = 45),
       |wf_week AS (SELECT * FROM ins_week_run w
       |  WHERE NOT (w.master_seq IN (SELECT master_seq FROM doomed)
       |             AND COALESCE(w.farm_no IN (1, 3), FALSE))),
       |wf_sub AS (SELECT * FROM week_sub t
       |  WHERE NOT (t.master_seq IN (SELECT master_seq FROM doomed)
       |             AND COALESCE(t.farm_no IN (1, 3), FALSE))),
       |wf_log AS (SELECT * FROM job_log t
       |  WHERE NOT (t.master_seq IN (SELECT master_seq FROM doomed)
       |             AND COALESCE(t.farm_no IN (1, 3), FALSE))),
       |wf_master AS (SELECT * FROM ins_master m
       |  WHERE m.master_seq NOT IN (SELECT master_seq FROM doomed)
       |     OR m.master_seq IN (SELECT DISTINCT master_seq FROM wf_week)),
       |wa_week AS (SELECT * FROM ins_week_run
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed)),
       |wa_sub AS (SELECT * FROM week_sub
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed)),
       |wa_log AS (SELECT * FROM job_log
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed)),
       |wa_master AS (SELECT * FROM ins_master m
       |  WHERE m.master_seq NOT IN (SELECT master_seq FROM doomed)
       |     OR m.master_seq IN (SELECT DISTINCT master_seq FROM wa_week)),
       |doomed_all AS (SELECT DISTINCT master_seq FROM ins_master),
       |ia_week AS (SELECT * FROM ins_week_run
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_all)),
       |ia_sub AS (SELECT * FROM week_sub
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_all)),
       |ia_log AS (SELECT * FROM job_log
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_all)),
       |ia_master AS (SELECT * FROM ins_master m
       |  WHERE m.master_seq NOT IN (SELECT master_seq FROM doomed_all)
       |     OR m.master_seq IN (SELECT DISTINCT master_seq FROM ia_week)),
       |iaf_week AS (SELECT * FROM ins_week_run w
       |  WHERE NOT (w.master_seq IN (SELECT master_seq FROM doomed_all)
       |             AND COALESCE(w.farm_no IN (1, 3), FALSE))),
       |iaf_sub AS (SELECT * FROM week_sub t
       |  WHERE NOT (t.master_seq IN (SELECT master_seq FROM doomed_all)
       |             AND COALESCE(t.farm_no IN (1, 3), FALSE))),
       |iaf_log AS (SELECT * FROM job_log t
       |  WHERE NOT (t.master_seq IN (SELECT master_seq FROM doomed_all)
       |             AND COALESCE(t.farm_no IN (1, 3), FALSE))),
       |iaf_master AS (SELECT * FROM ins_master),
       |doomed_wo AS (SELECT DISTINCT master_seq FROM ins_master
       |              WHERE report_year = 2024 AND report_week_no = 1),
       |wo_week AS (SELECT * FROM ins_week_run
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_wo)),
       |wo_sub AS (SELECT * FROM week_sub
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_wo)),
       |wo_log AS (SELECT * FROM job_log
       |  WHERE master_seq NOT IN (SELECT master_seq FROM doomed_wo)),
       |wo_master AS (SELECT * FROM ins_master m
       |  WHERE m.master_seq NOT IN (SELECT master_seq FROM doomed_wo)
       |     OR m.master_seq IN (SELECT DISTINCT master_seq FROM wo_week)),
       |counts(scenario, table_nm, n_deleted, n_retained) AS (
       |  SELECT 'noop_prod', 'master', CAST(0 AS BIGINT),
       |         (SELECT COUNT(*) FROM ins_master)
       |  UNION ALL SELECT 'noop_prod', 'week', 0, (SELECT COUNT(*) FROM ins_week_run)
       |  UNION ALL SELECT 'noop_prod', 'week_sub', 0, (SELECT COUNT(*) FROM week_sub)
       |  UNION ALL SELECT 'noop_prod', 'job_log', 0, (SELECT COUNT(*) FROM job_log)
       |  UNION ALL SELECT 'noop_testonly', 'master', 0, (SELECT COUNT(*) FROM ins_master)
       |  UNION ALL SELECT 'noop_testonly', 'week', 0, (SELECT COUNT(*) FROM ins_week_run)
       |  UNION ALL SELECT 'noop_testonly', 'week_sub', 0, (SELECT COUNT(*) FROM week_sub)
       |  UNION ALL SELECT 'noop_testonly', 'job_log', 0, (SELECT COUNT(*) FROM job_log)
       |  UNION ALL SELECT 'week_other', 'master',
       |    (SELECT COUNT(*) FROM ins_master) - (SELECT COUNT(*) FROM wo_master),
       |    (SELECT COUNT(*) FROM wo_master)
       |  UNION ALL SELECT 'week_other', 'week',
       |    (SELECT COUNT(*) FROM ins_week_run) - (SELECT COUNT(*) FROM wo_week),
       |    (SELECT COUNT(*) FROM wo_week)
       |  UNION ALL SELECT 'week_other', 'week_sub',
       |    (SELECT COUNT(*) FROM week_sub) - (SELECT COUNT(*) FROM wo_sub),
       |    (SELECT COUNT(*) FROM wo_sub)
       |  UNION ALL SELECT 'week_other', 'job_log',
       |    (SELECT COUNT(*) FROM job_log) - (SELECT COUNT(*) FROM wo_log),
       |    (SELECT COUNT(*) FROM wo_log)
       |  UNION ALL SELECT 'week_farms', 'master',
       |    (SELECT COUNT(*) FROM ins_master) - (SELECT COUNT(*) FROM wf_master),
       |    (SELECT COUNT(*) FROM wf_master)
       |  UNION ALL SELECT 'week_farms', 'week',
       |    (SELECT COUNT(*) FROM ins_week_run) - (SELECT COUNT(*) FROM wf_week),
       |    (SELECT COUNT(*) FROM wf_week)
       |  UNION ALL SELECT 'week_farms', 'week_sub',
       |    (SELECT COUNT(*) FROM week_sub) - (SELECT COUNT(*) FROM wf_sub),
       |    (SELECT COUNT(*) FROM wf_sub)
       |  UNION ALL SELECT 'week_farms', 'job_log',
       |    (SELECT COUNT(*) FROM job_log) - (SELECT COUNT(*) FROM wf_log),
       |    (SELECT COUNT(*) FROM wf_log)
       |  UNION ALL SELECT 'week_all', 'master',
       |    (SELECT COUNT(*) FROM ins_master) - (SELECT COUNT(*) FROM wa_master),
       |    (SELECT COUNT(*) FROM wa_master)
       |  UNION ALL SELECT 'week_all', 'week',
       |    (SELECT COUNT(*) FROM ins_week_run) - (SELECT COUNT(*) FROM wa_week),
       |    (SELECT COUNT(*) FROM wa_week)
       |  UNION ALL SELECT 'week_all', 'week_sub',
       |    (SELECT COUNT(*) FROM week_sub) - (SELECT COUNT(*) FROM wa_sub),
       |    (SELECT COUNT(*) FROM wa_sub)
       |  UNION ALL SELECT 'week_all', 'job_log',
       |    (SELECT COUNT(*) FROM job_log) - (SELECT COUNT(*) FROM wa_log),
       |    (SELECT COUNT(*) FROM wa_log)
       |  UNION ALL SELECT 'init_all', 'master',
       |    (SELECT COUNT(*) FROM ins_master) - (SELECT COUNT(*) FROM ia_master),
       |    (SELECT COUNT(*) FROM ia_master)
       |  UNION ALL SELECT 'init_all', 'week',
       |    (SELECT COUNT(*) FROM ins_week_run) - (SELECT COUNT(*) FROM ia_week),
       |    (SELECT COUNT(*) FROM ia_week)
       |  UNION ALL SELECT 'init_all', 'week_sub',
       |    (SELECT COUNT(*) FROM week_sub) - (SELECT COUNT(*) FROM ia_sub),
       |    (SELECT COUNT(*) FROM ia_sub)
       |  UNION ALL SELECT 'init_all', 'job_log',
       |    (SELECT COUNT(*) FROM job_log) - (SELECT COUNT(*) FROM ia_log),
       |    (SELECT COUNT(*) FROM ia_log)
       |  UNION ALL SELECT 'init_all_farms', 'master',
       |    (SELECT COUNT(*) FROM ins_master) - (SELECT COUNT(*) FROM iaf_master),
       |    (SELECT COUNT(*) FROM iaf_master)
       |  UNION ALL SELECT 'init_all_farms', 'week',
       |    (SELECT COUNT(*) FROM ins_week_run) - (SELECT COUNT(*) FROM iaf_week),
       |    (SELECT COUNT(*) FROM iaf_week)
       |  UNION ALL SELECT 'init_all_farms', 'week_sub',
       |    (SELECT COUNT(*) FROM week_sub) - (SELECT COUNT(*) FROM iaf_sub),
       |    (SELECT COUNT(*) FROM iaf_sub)
       |  UNION ALL SELECT 'init_all_farms', 'job_log',
       |    (SELECT COUNT(*) FROM job_log) - (SELECT COUNT(*) FROM iaf_log),
       |    (SELECT COUNT(*) FROM iaf_log))
       |SELECT scenario, table_nm, CAST(n_deleted AS BIGINT) AS n_deleted,
       |       CAST(n_retained AS BIGINT) AS n_retained
       |FROM counts ORDER BY scenario, table_nm""".stripMargin

  // ----------------------------------------------------------------
  val all: Map[String, Q] = Map(
    "q143_status_probe" -> q143StatusProbe,
    "q144_run_validate" -> q144RunValidate,
    "q145_reinit_policies" -> q145ReInit,
    "q114_batch_targets" -> q114BatchTargets,
    "q115_farm_summary" -> q115FarmSummary,
    "q117_week_records" -> q117WeekRecords,
    "q119_period_window" -> q119PeriodWindow,
    "q120_farm_sub" -> q120FarmSub,
    "q95_finalize_tokens" -> q95Finalize,
    "q74_prevnext_seq_literal" -> q74PrevNextSeq,
    "q75_alert_matrix" -> q75Alerts,
    "q76_rearing_rate" -> q76Rearing,
    "q78_weekly_summary" -> q78WeeklySummary,
    "q79_week_deltas" -> q79WeekDeltas,
    "q201_weekly_chain" -> q201WeeklyChain,
    "q80_schedule_modon" -> q80ScheduleModon,
    "q81_accident_asof" -> q81AccidentAsOf,
    "q82_week_sub" -> q82WeekSub,
    "q83_config_schedule" -> q83ConfigSchedule,
  )

  lazy val oracle: Map[String, String] = Map(
    "q143_status_probe" -> q143Sql,
    "q144_run_validate" -> q144Sql,
    "q145_reinit_policies" -> q145Sql,
    "q114_batch_targets" -> q114Sql,
    "q115_farm_summary" -> q115Sql,
    "q117_week_records" -> q117Sql,
    "q119_period_window" -> q119Sql,
    "q120_farm_sub" -> q120Sql,
    "q95_finalize_tokens" -> q95Sql,
    "q74_prevnext_seq_literal" -> q74Sql,
    "q75_alert_matrix" -> q75Sql,
    "q76_rearing_rate" -> q76Sql,
    "q78_weekly_summary" -> q78Sql,
    "q79_week_deltas" -> q79Sql,
    "q201_weekly_chain" -> q201Sql,
    "q80_schedule_modon" -> q80Sql,
    "q81_accident_asof" -> q81Sql,
    "q82_week_sub" -> q82Sql,
    "q83_config_schedule" -> q83Sql,
  )
}
