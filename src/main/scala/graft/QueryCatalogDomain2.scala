package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.domain._
import graft.ops.LatestRecord

/** Domain queries, part 2: the remaining report sections. */
object QueryCatalogDomain2 {
  import QueryCatalog.Q
  import Fixtures.{BaseDate, DtFrom, DtTo}

  private def round1(c: Column): Column = floor(c * 10 + 0.5) / 10
  private def round1Sql(e: String): String = s"floor(($e) * 10 + 0.5) / 10"

  private def ymdD(base: String, minus: Int): String =
    java.time.LocalDate.parse(base, DateOps.Ymd).minusDays(minus).format(DateOps.Ymd)

  /** q61's cohort + calc status, reused by q67. */
  private def statusCohort(s: SparkSession): DataFrame =
    statusCohortFrom(Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  private def statusCohortFrom(modonSrc: DataFrame, modonWkSrc: DataFrame): DataFrame = {
    val twoYearsAgo = ymdD(BaseDate, 730)
    val wkf = modonWkSrc
      .filter(col("use_yn") === "Y" && col("wk_dt") <= BaseDate && col("wk_gubun") =!= "Z")
    val last = LatestRecord.viaAgg(wkf,
        keys = Seq("farm_no", "pig_no"), ord = Seq("wk_dt", "seq"))
      .select(col("farm_no"), col("pig_no"), col("wk_gubun"), col("sago_gubun_cd"),
        col("daeri_yn"), col("sancha").as("wk_sancha"))
    modonSrc
      .filter(col("use_yn") === "Y" && col("in_dt") <= BaseDate &&
        col("out_dt") > twoYearsAgo)
      .join(last, Seq("farm_no", "pig_no"), "left")
      .withColumn("calc_status", SowStatus.status(col("wk_gubun"),
        col("sago_gubun_cd"), col("daeri_yn"), col("status_cd")))
  }

  private val cohortSql: String = {
    val twoYearsAgo = ymdD(BaseDate, 730)
    s"""lastwk AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, sago_gubun_cd, daeri_yn,
       |         sancha AS wk_sancha FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no
       |                                 ORDER BY wk_dt DESC, seq DESC) AS rn
       |    FROM modon_wk
       |    WHERE use_yn = 'Y' AND wk_dt <= '$BaseDate' AND wk_gubun <> 'Z')
       |  WHERE rn = 1),
       |cohort AS (
       |  SELECT m.*, w.wk_gubun, w.sago_gubun_cd, w.daeri_yn, w.wk_sancha,
       |         (CASE WHEN w.pig_no IS NOT NULL THEN 1 ELSE 0 END) AS has_wk,
       |         ${SowStatus.sqlCase} AS calc_status
       |  FROM modon m
       |  LEFT JOIN lastwk w ON w.farm_no = m.farm_no AND w.pig_no = m.pig_no
       |  WHERE m.use_yn = 'Y' AND m.in_dt <= '$BaseDate' AND m.out_dt > '$twoYearsAgo')""".stripMargin
  }

  // ---------------------------------------------------------------- parity x status crosstab
  /** Sow inventory crosstab: parity label x status group, ALL parities
    * emitted 0-filled (modon.py:32-43 PARITY_CONFIG, :107-136 label
    * rule incl. SANCHA-or-IN_SANCHA fallback, :150-195 status groups). */
  val q67ParityStatus: Q = (s, d) =>
    parityStatusFrom(s, Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  /** q67's body over caller-supplied core tables (single-farm scoping
    * contract — see cullingChunkedFrom). */
  private[graft] def parityStatusFrom(s: SparkSession, modonSrc: DataFrame,
                                      modonWkSrc: DataFrame): DataFrame = {
    val parities = (1, "HUBO") +: (2 to 10).map(n => (n, if (n == 10) "P8UP" else s"P${n - 2}"))
    val cohort = statusCohortFrom(modonSrc, modonWkSrc)
      .withColumn("sancha_eff",
        when(col("wk_gubun").isNotNull,
          when(col("wk_sancha").isNotNull && col("wk_sancha") =!= 0, col("wk_sancha"))
            .otherwise(coalesce(col("in_sancha"), lit(0))))
          .otherwise(coalesce(col("in_sancha"), lit(0))))
      .withColumn("parity_label",
        when(col("sancha_eff") === 0 && col("calc_status") === "010001", "HUBO")
          .when(col("sancha_eff") === 0, "P0")
          .when(col("sancha_eff") >= 8, "P8UP")
          .otherwise(concat(lit("P"), col("sancha_eff"))))
    val counts = cohort.groupBy("farm_no", "parity_label").agg(
      count(when(col("calc_status") === "010001", 1)).as("hubo"),
      count(when(col("calc_status") === "010002", 1)).as("imsin"),
      count(when(col("calc_status").isin("010003", "010004"), 1)).as("poyu"),
      count(when(col("calc_status") === "010005", 1)).as("eumo"),
      count(when(col("calc_status").isin("010006", "010007"), 1)).as("sago"))
    import s.implicits._
    val spine = modonSrc.select("farm_no").distinct()
      .crossJoin(parities.toDF("sort_no", "parity_label"))
    spine.join(counts, Seq("farm_no", "parity_label"), "left")
      .select(col("farm_no"), col("sort_no"), col("parity_label"),
        coalesce(col("hubo"), lit(0L)).as("hubo"),
        coalesce(col("imsin"), lit(0L)).as("imsin"),
        coalesce(col("poyu"), lit(0L)).as("poyu"),
        coalesce(col("eumo"), lit(0L)).as("eumo"),
        coalesce(col("sago"), lit(0L)).as("sago"))
      .orderBy("farm_no", "sort_no")
  }

  private[graft] def q67SqlFrom(src: String): String = {
    val parities = ((1, "HUBO") +: (2 to 10).map(n => (n, if (n == 10) "P8UP" else s"P${n - 2}")))
      .map { case (n, l) => s"($n, '$l')" }.mkString(",")
    s"""WITH $src,
       |$cohortSql,
       |lab AS (
       |  SELECT *,
       |    (CASE WHEN has_wk = 1
       |          THEN (CASE WHEN wk_sancha IS NOT NULL AND wk_sancha <> 0 THEN wk_sancha
       |                     ELSE COALESCE(in_sancha, 0) END)
       |          ELSE COALESCE(in_sancha, 0) END) AS sancha_eff
       |  FROM cohort),
       |lab2 AS (
       |  SELECT *,
       |    (CASE WHEN sancha_eff = 0 AND calc_status = '010001' THEN 'HUBO'
       |          WHEN sancha_eff = 0 THEN 'P0'
       |          WHEN sancha_eff >= 8 THEN 'P8UP'
       |          ELSE 'P' || CAST(sancha_eff AS VARCHAR) END) AS parity_label
       |  FROM lab),
       |counts AS (
       |  SELECT farm_no, parity_label,
       |    COUNT(CASE WHEN calc_status = '010001' THEN 1 END) AS hubo,
       |    COUNT(CASE WHEN calc_status = '010002' THEN 1 END) AS imsin,
       |    COUNT(CASE WHEN calc_status IN ('010003','010004') THEN 1 END) AS poyu,
       |    COUNT(CASE WHEN calc_status = '010005' THEN 1 END) AS eumo,
       |    COUNT(CASE WHEN calc_status IN ('010006','010007') THEN 1 END) AS sago
       |  FROM lab2 GROUP BY 1, 2),
       |p(sort_no, parity_label) AS (VALUES $parities),
       |farms AS (SELECT DISTINCT farm_no FROM modon)
       |SELECT f.farm_no, p.sort_no, p.parity_label,
       |  COALESCE(c.hubo, 0) AS hubo, COALESCE(c.imsin, 0) AS imsin,
       |  COALESCE(c.poyu, 0) AS poyu, COALESCE(c.eumo, 0) AS eumo,
       |  COALESCE(c.sago, 0) AS sago
       |FROM farms f CROSS JOIN p
       |LEFT JOIN counts c ON c.farm_no = f.farm_no AND c.parity_label = p.parity_label
       |ORDER BY f.farm_no, p.sort_no""".stripMargin
  }
  private lazy val q67Sql = q67SqlFrom(Fixtures.withClause("modon", "modon_wk"))

  // ---------------------------------------------------------------- mating return buckets
  /** Return-to-estrus interval chart: days from the previous E/F event
    * to each re-mating G, bucketed ~3,4..9,10up (mating.py:258-267
    * chart periods; interval via PrevNext lag). Fixed bucket spine,
    * zero-filled. */
  val q68ReturnBuckets: Q = (s, d) =>
    returnBucketsFrom(s, Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  /** q68's body over caller-supplied core tables (single-farm scoping
    * contract — see cullingChunkedFrom). */
  private[graft] def returnBucketsFrom(s: SparkSession, modonSrc: DataFrame,
                                       modonWkSrc: DataFrame): DataFrame = {
    val buckets = Seq((1, "B03"), (2, "B04"), (3, "B05"), (4, "B06"),
      (5, "B07"), (6, "B08"), (7, "B09"), (8, "B10UP"))
    val w = Window.partitionBy(col("farm_no"), col("pig_no"))
      .orderBy(col("wk_dt"), col("seq"))
    val ev = modonWkSrc.filter(col("use_yn") === "Y")
      .withColumn("prev_gubun", lag(col("wk_gubun"), 1).over(w))
      .withColumn("prev_dt", lag(col("wk_dt"), 1).over(w))
    val ret = ev.filter(col("wk_gubun") === "G" && col("prev_gubun").isin("E", "F"))
      .withColumn("interval",
        datediff(DateOps.ymdToDate(col("wk_dt")), DateOps.ymdToDate(col("prev_dt"))))
      .withColumn("bucket",
        when(col("interval") <= 3, "B03").when(col("interval") >= 10, "B10UP")
          .otherwise(concat(lit("B0"), col("interval"))))
    val counts = ret.groupBy("farm_no", "bucket").agg(count(lit(1)).as("cnt"))
    import s.implicits._
    val spine = modonSrc.select("farm_no").distinct()
      .crossJoin(buckets.toDF("sort_no", "bucket"))
    spine.join(counts, Seq("farm_no", "bucket"), "left")
      .select(col("farm_no"), col("sort_no"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("farm_no", "sort_no")
  }

  private[graft] def q68SqlFrom(src: String): String = {
    val bvals = Seq((1, "B03"), (2, "B04"), (3, "B05"), (4, "B06"),
      (5, "B07"), (6, "B08"), (7, "B09"), (8, "B10UP"))
      .map { case (n, l) => s"($n, '$l')" }.mkString(",")
    s"""WITH $src,
       |ev AS (
       |  SELECT *, lag(wk_gubun) OVER w AS prev_gubun, lag(wk_dt) OVER w AS prev_dt
       |  FROM modon_wk WHERE use_yn = 'Y'
       |  WINDOW w AS (PARTITION BY farm_no, pig_no ORDER BY wk_dt, seq)),
       |ret AS (
       |  SELECT farm_no,
       |    date_diff('day', strptime(prev_dt, '%Y%m%d')::DATE,
       |              strptime(wk_dt, '%Y%m%d')::DATE) AS ivl
       |  FROM ev WHERE wk_gubun = 'G' AND prev_gubun IN ('E', 'F')),
       |cnt AS (
       |  SELECT farm_no,
       |    (CASE WHEN ivl <= 3 THEN 'B03' WHEN ivl >= 10 THEN 'B10UP'
       |          ELSE 'B0' || CAST(ivl AS VARCHAR) END) AS bucket,
       |    COUNT(*) AS cnt
       |  FROM ret GROUP BY 1, 2),
       |b(sort_no, bucket) AS (VALUES $bvals),
       |farms AS (SELECT DISTINCT farm_no FROM modon)
       |SELECT f.farm_no, b.sort_no, b.bucket, COALESCE(c.cnt, 0) AS cnt
       |FROM farms f CROSS JOIN b
       |LEFT JOIN cnt c ON c.farm_no = f.farm_no AND c.bucket = b.bucket
       |ORDER BY f.farm_no, b.sort_no""".stripMargin
  }
  private lazy val q68Sql = q68SqlFrom(Fixtures.withClause("modon", "modon_wk"))

  // ---------------------------------------------------------------- culling chunked list
  /** Culling-reason list: week/month counts per reason (null reason ->
    * '031001' other), custom sort (other last, month desc, week desc,
    * code), packed 15-wide per output row (culling.py:240-310). */
  val q69CullingChunked: Q = (s, d) => cullingChunkedFrom(Fixtures.modonDf(s))

  /** q69's body over a caller-supplied sow master — the single-farm
    * on-demand leg scopes the source BEFORE this logic so a parquet
    * store prunes at the scan (WeeklyReportJob.subRowsFarm). */
  private[graft] def cullingChunkedFrom(modonSrc: DataFrame): DataFrame = {
    val monthFrom = ymdD(DtFrom, 30)
    val culled = modonSrc
      .filter(col("use_yn") === "Y" && col("out_dt") =!= Codes.AliveOutDt)
      .withColumn("reason", coalesce(col("out_reason_cd"), lit("031001")))
    val stats = culled.filter(col("out_dt").between(monthFrom, DtTo))
      .groupBy("farm_no", "reason")
      .agg(count(when(col("out_dt").between(DtFrom, DtTo), 1)).as("week_cnt"),
        count(lit(1)).as("month_cnt"))
    val w = Window.partitionBy(col("farm_no")).orderBy(
      when(col("reason") === "031001", 1).otherwise(0),
      col("month_cnt").desc, col("week_cnt").desc, col("reason"))
    val idx = stats.withColumn("__i", row_number().over(w) - 1)
    val cells = (0 until 15).flatMap { j =>
      Seq(max(when(col("__i") % 15 === j, col("reason"))).as(s"str_${j + 1}"),
        coalesce(max(when(col("__i") % 15 === j, col("week_cnt"))), lit(0L)).as(s"cnt_${j + 1}"),
        coalesce(max(when(col("__i") % 15 === j, col("month_cnt"))), lit(0L)).as(s"val_${j + 1}"))
    }
    idx.groupBy(col("farm_no"), ((col("__i") / 15).cast("int") + 1).as("sort_no"))
      .agg(cells.head, cells.tail: _*)
      .orderBy("farm_no", "sort_no")
  }

  private[graft] def q69SqlFrom(src: String): String = {
    val monthFrom = ymdD(DtFrom, 30)
    val cells = (0 until 15).flatMap { j =>
      Seq(s"MAX(CASE WHEN __i % 15 = $j THEN reason END) AS str_${j + 1}",
        s"COALESCE(MAX(CASE WHEN __i % 15 = $j THEN week_cnt END), 0) AS cnt_${j + 1}",
        s"COALESCE(MAX(CASE WHEN __i % 15 = $j THEN month_cnt END), 0) AS val_${j + 1}")
    }.mkString(",\n ")
    s"""WITH $src,
       |culled AS (
       |  SELECT farm_no, out_dt, COALESCE(out_reason_cd, '031001') AS reason
       |  FROM modon WHERE use_yn = 'Y' AND out_dt <> '99991231'),
       |stats AS (
       |  SELECT farm_no, reason,
       |    COUNT(CASE WHEN out_dt BETWEEN '$DtFrom' AND '$DtTo' THEN 1 END) AS week_cnt,
       |    COUNT(*) AS month_cnt
       |  FROM culled WHERE out_dt BETWEEN '$monthFrom' AND '$DtTo'
       |  GROUP BY 1, 2),
       |idx AS (
       |  SELECT *, row_number() OVER (PARTITION BY farm_no ORDER BY
       |    CASE WHEN reason = '031001' THEN 1 ELSE 0 END,
       |    month_cnt DESC, week_cnt DESC, reason) - 1 AS __i
       |  FROM stats)
       |SELECT farm_no, CAST(__i // 15 AS INT) + 1 AS sort_no,
       | $cells
       |FROM idx GROUP BY 1, 2 ORDER BY farm_no, sort_no""".stripMargin
  }
  private lazy val q69Sql = q69SqlFrom(Fixtures.withClause("modon"))

  // ---------------------------------------------------------------- shipment daily spine
  /** 7-day slaughter grid with the NULL-day contract: zero-head days
    * keep cnt 0 but NULL averages (shipment.py:266-289,413-431;
    * quality/sex conditional counts data_loader.py:521-531). */
  val q70ShipmentDaily: Q = (s, d) => shipmentDailyFrom(s, Fixtures.lpdDf(s))

  /** q70's body over a caller-supplied slaughter table (see
    * cullingChunkedFrom — the same single-farm scoping contract). */
  private[graft] def shipmentDailyFrom(s: SparkSession, lpdSrc: DataFrame): DataFrame = {
    val days = graft.ops.DateSpine.daily(s, "2025-11-03", "2025-11-09")
      .select(DateOps.dateToYmd(col("day")).as("day"))
    val daily = lpdSrc.filter(col("use_yn") === "Y")
      .withColumn("day", regexp_replace(col("dochuk_dt"), "-", ""))
      .filter(col("day").between(DtFrom, DtTo))
      .groupBy("farm_no", "day")
      .agg(count(lit(1)).as("cnt"),
        (sum(col("net_kg").cast(org.apache.spark.sql.types.DecimalType(18, 1))).cast("double")
          / count(lit(1))).as("avg_net"),
        count(when(col("meat_quality") === "1+", 1)).as("q11"),
        count(when(col("meat_quality") === "1", 1)).as("q1"),
        count(when(col("meat_quality") === "2", 1)).as("q2"),
        count(when(col("sex_gubun") === "암", 1)).as("f_cnt"),
        count(when(col("sex_gubun") === "수", 1)).as("m_cnt"))
    val spine = lpdSrc.select("farm_no").distinct().crossJoin(days)
    spine.join(daily, Seq("farm_no", "day"), "left")
      .select(col("farm_no"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("avg_net"), // stays NULL on empty days — the reference contract
        coalesce(col("q11"), lit(0L)).as("q11"),
        coalesce(col("q1"), lit(0L)).as("q1"),
        coalesce(col("q2"), lit(0L)).as("q2"),
        coalesce(col("f_cnt"), lit(0L)).as("f_cnt"),
        coalesce(col("m_cnt"), lit(0L)).as("m_cnt"))
      .orderBy("farm_no", "day")
  }

  private[graft] def q70SqlFrom(src: String): String =
    s"""WITH $src,
       |days AS (SELECT strftime(g.g, '%Y%m%d') AS day
       |         FROM generate_series(DATE '2025-11-03', DATE '2025-11-09', INTERVAL 1 DAY) g(g)),
       |daily AS (
       |  SELECT farm_no, replace(dochuk_dt, '-', '') AS day, COUNT(*) AS cnt,
       |    CAST(SUM(CAST(net_kg AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*) AS avg_net,
       |    COUNT(CASE WHEN meat_quality = '1+' THEN 1 END) AS q11,
       |    COUNT(CASE WHEN meat_quality = '1' THEN 1 END) AS q1,
       |    COUNT(CASE WHEN meat_quality = '2' THEN 1 END) AS q2,
       |    COUNT(CASE WHEN sex_gubun = '암' THEN 1 END) AS f_cnt,
       |    COUNT(CASE WHEN sex_gubun = '수' THEN 1 END) AS m_cnt
       |  FROM lpd WHERE use_yn = 'Y' AND replace(dochuk_dt, '-', '') BETWEEN '$DtFrom' AND '$DtTo'
       |  GROUP BY 1, 2),
       |farms AS (SELECT DISTINCT farm_no FROM lpd)
       |SELECT f.farm_no, days.day,
       |  COALESCE(d.cnt, 0) AS cnt, d.avg_net,
       |  COALESCE(d.q11, 0) AS q11, COALESCE(d.q1, 0) AS q1, COALESCE(d.q2, 0) AS q2,
       |  COALESCE(d.f_cnt, 0) AS f_cnt, COALESCE(d.m_cnt, 0) AS m_cnt
       |FROM farms f CROSS JOIN days
       |LEFT JOIN daily d ON d.farm_no = f.farm_no AND d.day = days.day
       |ORDER BY f.farm_no, days.day""".stripMargin
  private lazy val q70Sql = q70SqlFrom(Fixtures.withClause("lpd"))

  // ---------------------------------------------------------------- shipment scatter
  /** Carcass scatter: head count by (rounded net kg, rounded backfat)
    * (shipment.py:293-354). Rounding via floor(x+0.5) — identical op
    * sequence in both engines. */
  val q71ShipmentScatter: Q = (s, d) =>
    Fixtures.lpdDf(s).filter(col("use_yn") === "Y")
      .withColumn("day", regexp_replace(col("dochuk_dt"), "-", ""))
      .filter(col("day").between(ymdD(DtTo, 27), DtTo))
      .groupBy(col("farm_no"),
        floor(col("net_kg") + 0.5).cast("int").as("net_r"),
        floor(col("back_depth") + 0.5).cast("int").as("back_r"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("farm_no", "net_r", "back_r")

  private lazy val q71Sql =
    s"""WITH ${Fixtures.withClause("lpd")}
       |SELECT farm_no,
       |  CAST(floor(net_kg + 0.5) AS INT) AS net_r,
       |  CAST(floor(back_depth + 0.5) AS INT) AS back_r,
       |  COUNT(*) AS cnt
       |FROM lpd
       |WHERE use_yn = 'Y'
       |  AND replace(dochuk_dt, '-', '') BETWEEN '${ymdD(DtTo, 27)}' AND '$DtTo'
       |GROUP BY 1, 2, 3 ORDER BY farm_no, net_r, back_r""".stripMargin

  // ---------------------------------------------------------------- weather daily
  /** Hourly KMA categories -> daily record: nowcast-overwrites-forecast
    * precedence (weather.py:1879-1918), avg/min/max temp, max POP,
    * most-frequent weather code with deterministic ties
    * (weather.py:935-944 Counter.most_common). */
  val q72WeatherDaily: Q = (s, d) => {
    val pri = when(col("src") === "NCT", 1).otherwise(0)
    val resolved = Fixtures.weatherHourlyDf(s)
      .groupBy("nx", "ny", "wk_date", "wk_time", "category")
      .agg(max(struct(pri.as("pri"), col("val").as("v"))).as("top"))
      .select(col("nx"), col("ny"), col("wk_date"), col("wk_time"),
        col("category"), col("top.v").as("val"))
    val tmp = resolved.filter(col("category") === "TMP")
      .groupBy("nx", "ny", "wk_date")
      .agg(round1(sum(col("val").cast(org.apache.spark.sql.types.DecimalType(18, 1))).cast("double")
          / count(lit(1))).as("avg_tmp"),
        min(col("val")).as("min_tmp"), max(col("val")).as("max_tmp"),
        count(lit(1)).as("n_hours"))
    val pop = resolved.filter(col("category") === "POP")
      .groupBy("nx", "ny", "wk_date").agg(max(col("val")).as("max_pop"))
    val ptyCounts = resolved.filter(col("category") === "PTY")
      .groupBy("nx", "ny", "wk_date", "val").agg(count(lit(1)).as("cnt"))
    val wPty = Window.partitionBy(col("nx"), col("ny"), col("wk_date"))
      .orderBy(col("cnt").desc, col("val"))
    val pty = ptyCounts.withColumn("rn", row_number().over(wPty)).filter(col("rn") === 1)
      .select(col("nx"), col("ny"), col("wk_date"), col("val").cast("int").as("mode_pty"))
    tmp.join(pop, Seq("nx", "ny", "wk_date"), "left")
      .join(pty, Seq("nx", "ny", "wk_date"), "left")
      .orderBy("nx", "ny", "wk_date")
  }

  private lazy val q72Sql =
    s"""WITH ${Fixtures.withClause("weather_hourly")},
       |resolved AS (
       |  SELECT nx, ny, wk_date, wk_time, category, val FROM (
       |    SELECT *, row_number() OVER (PARTITION BY nx, ny, wk_date, wk_time, category
       |      ORDER BY CASE WHEN src = 'NCT' THEN 1 ELSE 0 END DESC, val DESC) AS rn
       |    FROM weather_hourly)
       |  WHERE rn = 1),
       |tmp AS (
       |  SELECT nx, ny, wk_date,
       |    ${round1Sql("CAST(SUM(CAST(val AS DECIMAL(18,1))) AS DOUBLE) / COUNT(*)")} AS avg_tmp,
       |    MIN(val) AS min_tmp, MAX(val) AS max_tmp, COUNT(*) AS n_hours
       |  FROM resolved WHERE category = 'TMP' GROUP BY 1, 2, 3),
       |pop AS (SELECT nx, ny, wk_date, MAX(val) AS max_pop
       |        FROM resolved WHERE category = 'POP' GROUP BY 1, 2, 3),
       |ptyc AS (SELECT nx, ny, wk_date, val, COUNT(*) AS cnt
       |         FROM resolved WHERE category = 'PTY' GROUP BY 1, 2, 3, 4),
       |pty AS (SELECT nx, ny, wk_date, CAST(val AS INT) AS mode_pty FROM (
       |          SELECT *, row_number() OVER (PARTITION BY nx, ny, wk_date
       |            ORDER BY cnt DESC, val) AS rn FROM ptyc) WHERE rn = 1)
       |SELECT tmp.nx, tmp.ny, tmp.wk_date, tmp.avg_tmp, tmp.min_tmp, tmp.max_tmp,
       |       tmp.n_hours, pop.max_pop, pty.mode_pty
       |FROM tmp
       |LEFT JOIN pop USING (nx, ny, wk_date)
       |LEFT JOIN pty USING (nx, ny, wk_date)
       |ORDER BY tmp.nx, tmp.ny, tmp.wk_date""".stripMargin

  // ---------------------------------------------------------------- productivity pivot
  /** STATCD tall -> wide C-columns per PCODE (productivity.py:297-373:
    * PCODE = first 3 digits, column = 'C' + last 3). */
  val q73ProductivityPivot: Q = (s, d) => {
    val cols = (29 to 36).map(n => f"C$n%03d")
    val t = Fixtures.prodTallDf(s)
      .withColumn("pcode", substring(col("stat_cd"), 1, 3))
      .withColumn("c_col", concat(lit("C"), substring(col("stat_cd"), 4, 3)))
    val aggs = cols.map(c => max(when(col("c_col") === c, col("val"))).as(c.toLowerCase))
    t.groupBy("farm_no", "pcode").agg(aggs.head, aggs.tail: _*)
      .orderBy("farm_no", "pcode")
  }

  private lazy val q73Sql = {
    val cells = (29 to 36).map(n =>
      f"MAX(CASE WHEN c_col = 'C$n%03d' THEN val END) AS c$n%03d").mkString(",\n ")
    s"""WITH ${Fixtures.withClause("prod_tall")},
       |t AS (SELECT farm_no, substring(stat_cd, 1, 3) AS pcode,
       |             'C' || substring(stat_cd, 4, 3) AS c_col, val
       |      FROM prod_tall)
       |SELECT farm_no, pcode,
       | $cells
       |FROM t GROUP BY 1, 2 ORDER BY farm_no, pcode""".stripMargin
  }

  // ---------------------------------------------------------------- ASOS + mid-range merge
  /** The remaining two weather response shapes end-to-end
    * (VERDICT r2 missing #1): ASOS daily observations (stnId-keyed
    * envelope, weather.py:566-632 -> :1064-1151) parsed to
    * IS_FORECAST='N' rows, and the mid-range region forecasts
    * (getMidTa/getMidLandFcst single-item envelopes,
    * weather.py:2026-2162) exploded to +3..+10-day records fanned out
    * over the region's grids — then merged into the existing
    * short-term daily rows with the reference's insert-only
    * precedence (weather.py:2420-2443: short-term wins, mid-range
    * only fills absent (nx, ny, wk_date) keys). The output makes the
    * precedence visible: 20251112/20251113 keep their short-term
    * values, 20251114+ come from mid-range. */
  val q93MidAsosMerge: Q = (s, d) => {
    import graft.sources.JsonIngest
    import graft.ops.UpsertMerge
    val asos = JsonIngest.parseAsosDaily(Fixtures.asosRawDf(s), "resp", Seq("nx", "ny"))
      .select(col("nx"), col("ny"), col("wk_date"), col("temp_avg"),
        col("temp_high"), col("temp_low"),
        lit(null).cast("int").as("rain_prob"), col("weather_cd"),
        lit("1").as("sky_cd"), col("is_forecast"))
    val ta = JsonIngest.parseMidTa(Fixtures.midRawDf(s), "resp_ta",
      Seq("ta_reg_id", "base_date"))
    val land = JsonIngest.parseMidLand(Fixtures.midRawDf(s), "resp_land",
      Seq("ta_reg_id"))
    val mid = JsonIngest.midDailyRecords(
      ta.join(land, "ta_reg_id").join(Fixtures.midGridDf(s), "ta_reg_id")
        .select("nx", "ny", "base_date", "ta", "land"))
    val existing = Fixtures.weatherShortDf(s).unionByName(asos)
    UpsertMerge.insertIfAbsent(existing, mid, Seq("nx", "ny", "wk_date"))
      .select("nx", "ny", "wk_date", "temp_avg", "temp_high", "temp_low",
        "rain_prob", "weather_cd", "sky_cd", "is_forecast")
      .orderBy("nx", "ny", "wk_date")
  }

  private lazy val q93Sql = {
    val taFields = (3 to 10).flatMap(dd => Seq(
      s"TRY_CAST(json_extract_string(resp_ta, '$$.response.body.items.item[0].taMin$dd') AS DOUBLE) AS tlo$dd",
      s"TRY_CAST(json_extract_string(resp_ta, '$$.response.body.items.item[0].taMax$dd') AS DOUBLE) AS thi$dd"))
      .mkString(",\n ")
    val landFields = ((3 to 7).flatMap(dd => Seq(
      s"json_extract_string(resp_land, '$$.response.body.items.item[0].wf${dd}Am') AS wf$dd",
      s"TRY_CAST(json_extract_string(resp_land, '$$.response.body.items.item[0].rnSt${dd}Am') AS INT) AS rnam$dd",
      s"TRY_CAST(json_extract_string(resp_land, '$$.response.body.items.item[0].rnSt${dd}Pm') AS INT) AS rnpm$dd")) ++
      (8 to 10).flatMap(dd => Seq(
        s"json_extract_string(resp_land, '$$.response.body.items.item[0].wf$dd') AS wf$dd",
        s"TRY_CAST(json_extract_string(resp_land, '$$.response.body.items.item[0].rnSt$dd') AS INT) AS rn$dd")))
      .mkString(",\n ")
    val offSelects = (3 to 10).map { dd =>
      val rain =
        if (dd <= 7)
          s"CASE WHEN rnam$dd IS NOT NULL OR rnpm$dd IS NOT NULL THEN greatest(COALESCE(rnam$dd, 0), COALESCE(rnpm$dd, 0)) END"
        else s"rn$dd"
      s"SELECT ta_reg_id, base_date, $dd AS off, tlo$dd AS tlo, thi$dd AS thi, $rain AS rain_prob, wf$dd AS wf FROM mid_one JOIN land_one USING (ta_reg_id)"
    }.mkString("\n  UNION ALL ")
    val asosFields = Seq("tm", "avgTa", "maxTa", "minTa", "sumRn").map(fld =>
      s"json_extract_string(resp, '$$.response.body.items.item[' || CAST(i AS VARCHAR) || '].$fld') AS $fld")
      .mkString(",\n ")
    s"""WITH ${Fixtures.withClause("asos_raw", "mid_raw", "mid_grid", "weather_short")},
       |idx AS (SELECT unnest(range(10)) AS i),
       |asos_it AS (
       |  SELECT nx, ny,
       | $asosFields
       |  FROM asos_raw CROSS JOIN idx
       |  WHERE json_extract_string(resp, '$$.response.header.resultCode') = '00'
       |    AND i < json_array_length(json_extract(resp, '$$.response.body.items.item'))),
       |asos AS (
       |  SELECT nx, ny, replace(tm, '-', '') AS wk_date,
       |    floor(TRY_CAST(avgTa AS DOUBLE) * 10 + 0.5) / 10 AS temp_avg,
       |    floor(TRY_CAST(maxTa AS DOUBLE) * 10 + 0.5) / 10 AS temp_high,
       |    floor(TRY_CAST(minTa AS DOUBLE) * 10 + 0.5) / 10 AS temp_low,
       |    CAST(NULL AS INT) AS rain_prob,
       |    CASE WHEN TRY_CAST(sumRn AS DOUBLE) > 0 THEN 'rainy' ELSE 'sunny' END AS weather_cd,
       |    '1' AS sky_cd, 'N' AS is_forecast
       |  FROM asos_it WHERE tm IS NOT NULL AND tm <> ''),
       |mid_one AS (
       |  SELECT ta_reg_id, base_date,
       | $taFields
       |  FROM mid_raw
       |  WHERE json_extract_string(resp_ta, '$$.response.header.resultCode') = '00'),
       |land_one AS (
       |  SELECT ta_reg_id,
       | $landFields
       |  FROM mid_raw
       |  WHERE json_extract_string(resp_land, '$$.response.header.resultCode') = '00'),
       |mid_off AS (
       |  $offSelects),
       |mid0 AS (
       |  SELECT g.nx, g.ny,
       |    strftime(CAST(strptime(base_date, '%Y%m%d') AS DATE) + CAST(off AS INT), '%Y%m%d') AS wk_date,
       |    CASE WHEN tlo IS NOT NULL AND thi IS NOT NULL
       |         THEN floor((tlo + thi) / 2 * 10 + 0.5) / 10 END AS temp_avg,
       |    thi AS temp_high, tlo AS temp_low, rain_prob,
       |    CASE WHEN wf IS NULL OR wf = '' THEN 'cloudy'
       |         WHEN wf LIKE '%비%' AND wf LIKE '%눈%' THEN 'rain_snow'
       |         WHEN wf LIKE '%눈%' THEN 'snow'
       |         WHEN wf LIKE '%비%' OR wf LIKE '%소나기%' THEN 'rainy'
       |         WHEN wf LIKE '%맑음%' THEN 'sunny'
       |         WHEN wf LIKE '%구름많음%' OR wf LIKE '%구름 많음%' THEN 'cloudy'
       |         WHEN wf LIKE '%흐림%' OR wf LIKE '%흐리고%' THEN 'overcast'
       |         ELSE 'cloudy' END AS weather_cd
       |  FROM mid_off JOIN mid_grid g USING (ta_reg_id)
       |  WHERE tlo IS NOT NULL OR thi IS NOT NULL),
       |mid AS (
       |  SELECT nx, ny, wk_date, temp_avg, temp_high, temp_low, rain_prob, weather_cd,
       |    CASE weather_cd WHEN 'sunny' THEN '1' WHEN 'cloudy' THEN '3' ELSE '4' END AS sky_cd,
       |    'Y' AS is_forecast
       |  FROM mid0),
       |existing AS (
       |  SELECT * FROM weather_short
       |  UNION ALL BY NAME SELECT * FROM asos),
       |merged AS (
       |  SELECT * FROM existing
       |  UNION ALL BY NAME
       |  SELECT * FROM mid m
       |  WHERE NOT EXISTS (SELECT 1 FROM existing e
       |                    WHERE e.nx = m.nx AND e.ny = m.ny AND e.wk_date = m.wk_date))
       |SELECT nx, ny, wk_date, temp_avg, temp_high, temp_low, rain_prob,
       |       weather_cd, sky_cd, is_forecast
       |FROM merged ORDER BY nx, ny, wk_date""".stripMargin
  }

  // ---------------------------------------------------------------- snapshot diff
  /** Post-migration snapshot validation (compare_backup.py:98-170):
    * current vs backup rows diffed on the natural key — numeric
    * columns with tolerance 0.01 after null->0 coalescing, strings
    * exact, per-key verdict + sorted differing-column list. The
    * "backup" here is derived in-query from the same fixture with one
    * row dropped (ONLY_LEFT), one added under a new grid
    * (ONLY_RIGHT), one edited beyond tolerance on two columns (DIFF)
    * and one perturbed within tolerance (MATCH). */
  val q97SnapshotDiff: Q = (s, d) => {
    val cur = Fixtures.weatherShortDf(s)
    val edit = col("nx") === 60 && col("wk_date") === "20251111"
    val within = col("nx") === 60 && col("wk_date") === "20251112"
    val bak = cur
      .filter(!(col("nx") === 61 && col("wk_date") === "20251113"))
      .withColumn("temp_high", when(edit, lit(14.5)).otherwise(col("temp_high")))
      .withColumn("weather_cd", when(edit, lit("cloudy")).otherwise(col("weather_cd")))
      .withColumn("temp_avg", when(within, col("temp_avg") + 0.005).otherwise(col("temp_avg")))
      .unionByName(cur.filter(col("nx") === 60 && col("wk_date") === "20251110")
        .withColumn("nx", lit(98)).withColumn("ny", lit(76)))
    graft.ops.SnapshotDiff.diff(cur, bak,
        keys = Seq("nx", "ny", "wk_date"),
        compareCols = Seq("temp_avg", "temp_high", "temp_low", "rain_prob", "weather_cd"))
      .orderBy("nx", "ny", "wk_date")
  }

  private lazy val q97Sql =
    s"""WITH ${Fixtures.withClause("weather_short")},
       |cur AS (SELECT * FROM weather_short),
       |bak AS (
       |  SELECT nx, ny, wk_date,
       |    CASE WHEN nx = 60 AND wk_date = '20251112' THEN temp_avg + 0.005 ELSE temp_avg END AS temp_avg,
       |    CASE WHEN nx = 60 AND wk_date = '20251111' THEN 14.5 ELSE temp_high END AS temp_high,
       |    temp_low, rain_prob,
       |    CASE WHEN nx = 60 AND wk_date = '20251111' THEN 'cloudy' ELSE weather_cd END AS weather_cd
       |  FROM cur WHERE NOT (nx = 61 AND wk_date = '20251113')
       |  UNION ALL
       |  SELECT 98, 76, wk_date, temp_avg, temp_high, temp_low, rain_prob, weather_cd
       |  FROM cur WHERE nx = 60 AND wk_date = '20251110'),
       |j AS (
       |  SELECT nx, ny, wk_date,
       |    l.lp, r.rp,
       |    list_sort(list_filter([
       |      CASE WHEN abs(COALESCE(l.temp_avg, 0) - COALESCE(r.temp_avg, 0)) > 0.01 THEN 'temp_avg' END,
       |      CASE WHEN abs(COALESCE(l.temp_high, 0) - COALESCE(r.temp_high, 0)) > 0.01 THEN 'temp_high' END,
       |      CASE WHEN abs(COALESCE(l.temp_low, 0) - COALESCE(r.temp_low, 0)) > 0.01 THEN 'temp_low' END,
       |      CASE WHEN l.rain_prob IS DISTINCT FROM r.rain_prob THEN 'rain_prob' END,
       |      CASE WHEN l.weather_cd IS DISTINCT FROM r.weather_cd THEN 'weather_cd' END
       |    ], x -> x IS NOT NULL)) AS dc
       |  FROM (SELECT *, 1 AS lp FROM cur) l
       |  FULL JOIN (SELECT *, 1 AS rp FROM bak) r USING (nx, ny, wk_date))
       |SELECT nx, ny, wk_date,
       |  CASE WHEN rp IS NULL THEN 'ONLY_LEFT'
       |       WHEN lp IS NULL THEN 'ONLY_RIGHT'
       |       WHEN len(dc) > 0 THEN 'DIFF' ELSE 'MATCH' END AS status,
       |  CASE WHEN rp IS NOT NULL AND lp IS NOT NULL AND len(dc) > 0
       |       THEN CAST(len(dc) AS BIGINT) ELSE 0 END AS n_diffs,
       |  CASE WHEN rp IS NOT NULL AND lp IS NOT NULL AND len(dc) > 0
       |       THEN array_to_string(dc, ',') ELSE '' END AS diff_cols
       |FROM j ORDER BY nx, ny, wk_date""".stripMargin

  // ----------------------------------------------------------------
  val all: Map[String, Q] = Map(
    "q97_snapshot_diff" -> q97SnapshotDiff,
    "q93_weather_mid_merge" -> q93MidAsosMerge,
    "q67_parity_status_crosstab" -> q67ParityStatus,
    "q68_return_buckets" -> q68ReturnBuckets,
    "q69_culling_chunked" -> q69CullingChunked,
    "q70_shipment_daily" -> q70ShipmentDaily,
    "q71_shipment_scatter" -> q71ShipmentScatter,
    "q72_weather_daily" -> q72WeatherDaily,
    "q73_productivity_pivot" -> q73ProductivityPivot,
  )

  lazy val oracle: Map[String, String] = Map(
    "q97_snapshot_diff" -> q97Sql,
    "q93_weather_mid_merge" -> q93Sql,
    "q67_parity_status_crosstab" -> q67Sql,
    "q68_return_buckets" -> q68Sql,
    "q69_culling_chunked" -> q69Sql,
    "q70_shipment_daily" -> q70Sql,
    "q71_shipment_scatter" -> q71Sql,
    "q72_weather_daily" -> q72Sql,
    "q73_productivity_pivot" -> q73Sql,
  )
}
