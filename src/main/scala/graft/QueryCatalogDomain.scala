package graft

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.domain._
import graft.ops.LatestRecord

/** Domain queries: the reference's own report semantics over the
  * deterministic domain fixtures (Fixtures renders the SAME rows as
  * SQL VALUES for the oracle side — both engines compute on identical
  * inputs). */
object QueryCatalogDomain {
  import QueryCatalog.Q
  import Fixtures.{BaseDate, DtFrom, DtTo}

  /** round-half-up to 1 decimal as pure double ops — identical
    * operation sequence in both engines (ref oracle_round,
    * shipment.py:24-33; positive domain). */
  private def round1(c: Column): Column = floor(c * 10 + 0.5) / 10
  private def round1Sql(e: String): String = s"floor(($e) * 10 + 0.5) / 10"

  private def ymdD(base: String, minus: Int): String =
    LocalDate.parse(base, DateOps.Ymd).minusDays(minus).format(DateOps.Ymd)

  // ---------------------------------------------------------------- week window
  /** lastWeekWindow over a spread of base dates incl. ISO year
    * boundary (ref orchestrator.py:148-164; §7.4 risk 8). */
  val q60WeekWindow: Q = (s, d) => {
    import s.implicits._
    val bases = ((0 to 13).map(i => LocalDate.of(2025, 11, 3).plusDays(i)) ++
      (0 to 16).map(i => LocalDate.of(2025, 12, 25).plusDays(i)))
      .map(_.format(DateOps.Ymd))
    val df = bases.toDF("base_ymd")
    val bd = DateOps.ymdToDate(col("base_ymd"))
    val ls = DateOps.lastSunday(bd)
    df.select(col("base_ymd"),
        DateOps.dateToYmd(date_sub(ls, 6)).as("dt_from"),
        DateOps.dateToYmd(ls).as("dt_to"),
        DateOps.isoYear(ls).as("iso_year"),
        DateOps.isoWeek(ls).as("iso_week"))
      .orderBy("base_ymd")
  }

  private lazy val q60Sql = {
    val bases = ((0 to 13).map(i => LocalDate.of(2025, 11, 3).plusDays(i)) ++
      (0 to 16).map(i => LocalDate.of(2025, 12, 25).plusDays(i)))
      .map(d => s"('${d.format(DateOps.Ymd)}')").mkString(",")
    s"""WITH b(base_ymd) AS (VALUES $bases),
       |d AS (SELECT base_ymd, strptime(base_ymd, '%Y%m%d')::DATE AS bd FROM b),
       |w AS (SELECT base_ymd,
       |             bd - CAST(CASE WHEN isodow(bd) = 7 THEN 7 ELSE isodow(bd) END AS INT) AS ls
       |      FROM d)
       |SELECT base_ymd,
       |  strftime(ls - 6, '%Y%m%d') AS dt_from,
       |  strftime(ls, '%Y%m%d') AS dt_to,
       |  CAST(isoyear(ls) AS INT) AS iso_year,
       |  CAST(weekofyear(ls) AS INT) AS iso_week
       |FROM w ORDER BY base_ymd""".stripMargin
  }

  // ---------------------------------------------------------------- sow status
  /** Latest-work join + SF_GET_MODONGB_STATUS state machine
    * (data_loader.py:235-275: WK_GUBUN<>'Z', WK_DATE<=base, 2-year
    * window on OUT_DT, IN_DT<=base). */
  val q61SowStatus: Q = (s, d) => {
    val twoYearsAgo = ymdD(BaseDate, 730)
    val wkf = Fixtures.modonWkDf(s)
      .filter(col("use_yn") === "Y" && col("wk_dt") <= BaseDate && col("wk_gubun") =!= "Z")
    val last = LatestRecord.viaAgg(wkf, keys = Seq("farm_no", "pig_no"),
        ord = Seq("wk_dt", "seq"))
      .select(col("farm_no"), col("pig_no"), col("wk_dt").as("last_wk_dt_calc"),
        col("wk_gubun"), col("sago_gubun_cd"), col("daeri_yn"))
    Fixtures.modonDf(s)
      .filter(col("use_yn") === "Y" && col("in_dt") <= BaseDate &&
        col("out_dt") > twoYearsAgo)
      .join(last, Seq("farm_no", "pig_no"), "left")
      .select(col("farm_no"), col("pig_no"),
        col("wk_gubun").as("last_wk_gubun"), col("last_wk_dt_calc"),
        SowStatus.status(col("wk_gubun"), col("sago_gubun_cd"),
          col("daeri_yn"), col("status_cd")).as("calc_status"))
      .orderBy("farm_no", "pig_no")
  }

  private lazy val q61Sql = {
    val twoYearsAgo = ymdD(BaseDate, 730)
    s"""WITH ${Fixtures.withClause("modon", "modon_wk")},
       |lastwk AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, sago_gubun_cd, daeri_yn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no
       |                                 ORDER BY wk_dt DESC, seq DESC) AS rn
       |    FROM modon_wk
       |    WHERE use_yn = 'Y' AND wk_dt <= '$BaseDate' AND wk_gubun <> 'Z')
       |  WHERE rn = 1)
       |SELECT m.farm_no, m.pig_no,
       |       w.wk_gubun AS last_wk_gubun, w.wk_dt AS last_wk_dt_calc,
       |       ${SowStatus.sqlCase} AS calc_status
       |FROM modon m
       |LEFT JOIN lastwk w ON w.farm_no = m.farm_no AND w.pig_no = m.pig_no
       |WHERE m.use_yn = 'Y' AND m.in_dt <= '$BaseDate' AND m.out_dt > '$twoYearsAgo'
       |ORDER BY m.farm_no, m.pig_no""".stripMargin
  }

  // ---------------------------------------------------------------- farrowing section
  /** Weekly farrowing stats + piglet-adjustment derived columns
    * (farrowing.py:160-210: sdotae/yangja/pogae; :81-115 YTD rollup). */
  val q62Farrowing: Q = (s, d) =>
    q62FarrowingFrom(s, Fixtures.bunmanDf(s), Fixtures.transDf(s))

  /** q62's body over caller-supplied source tables — the 50k-farm
    * scale run feeds parquet-backed facts through the SAME
    * implementation the fixture hash gate verifies
    * (WeeklyReportJob.subRowsFrom). */
  private[graft] def q62FarrowingFrom(s: SparkSession, bunmanSrc: DataFrame,
                                      transSrc: DataFrame): DataFrame = {
    val yearStart = DtTo.take(4) + "0101"
    val jadon = transSrc.filter(col("use_yn") === "Y")
      .groupBy("farm_no", "pig_no", "bun_dt")
      .agg(
        sum(when(col("gubun_cd") === "160001", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("ps"),
        sum(when(col("gubun_cd") === "160003", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("ji"),
        sum(when(col("gubun_cd") === "160004", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("jc"))
      .withColumnRenamed("farm_no", "j_farm").withColumnRenamed("pig_no", "j_pig")
    val bm = bunmanSrc.filter(col("use_yn") === "Y")
    val b = bm
      .join(jadon, bm("farm_no") === jadon("j_farm") &&
        bm("pig_no") === jadon("j_pig") && bm("wk_dt") === jadon("bun_dt"), "left")
      .drop("j_farm", "j_pig", "bun_dt")
      .withColumn("ps0", coalesce(col("ps"), lit(0L)))
      .withColumn("ji0", coalesce(col("ji"), lit(0L)))
      .withColumn("jc0", coalesce(col("jc"), lit(0L)))
    val week = b.filter(col("wk_dt").between(DtFrom, DtTo))
      .groupBy("farm_no")
      .agg(
        count(lit(1)).as("total_cnt"),
        sum(col("silsan") + col("sasan") + col("mila")).cast("long").as("sum_total"),
        sum(col("silsan")).cast("long").as("sum_live"),
        sum(col("sasan")).cast("long").as("sum_dead"),
        sum(col("mila")).cast("long").as("sum_mummy"),
        sum(col("ps0")).cast("long").as("sum_sdotae"),
        sum(col("ji0") - col("jc0")).cast("long").as("sum_yangja"),
        sum(col("silsan") - col("ps0") + col("ji0") - col("jc0")).cast("long").as("sum_pogae"),
        sum(col("saengsi_kg").cast(org.apache.spark.sql.types.DecimalType(18, 1))).cast("double").as("sum_kg"),
        round1(sum(col("silsan")).cast("double") / count(lit(1))).as("avg_live"))
    val acc = b.filter(col("wk_dt").between(yearStart, DtTo))
      .groupBy("farm_no")
      .agg(count(lit(1)).as("acc_bm_cnt"),
        sum(col("silsan") + col("sasan") + col("mila")).cast("long").as("acc_total"),
        round1(sum(col("silsan") + col("sasan") + col("mila")).cast("double") / count(lit(1))).as("acc_avg_total"))
    week.join(acc, Seq("farm_no"), "left").orderBy("farm_no")
  }

  private[graft] def q62SqlFrom(src: String): String = {
    val yearStart = DtTo.take(4) + "0101"
    s"""WITH $src,
       |jadon AS (
       |  SELECT farm_no, pig_no, bun_dt,
       |    SUM(CASE WHEN gubun_cd = '160001' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS ps,
       |    SUM(CASE WHEN gubun_cd = '160003' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS ji,
       |    SUM(CASE WHEN gubun_cd = '160004' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS jc
       |  FROM trans WHERE use_yn = 'Y' GROUP BY 1, 2, 3),
       |b AS (
       |  SELECT bm.*, COALESCE(j.ps, 0) AS ps0, COALESCE(j.ji, 0) AS ji0, COALESCE(j.jc, 0) AS jc0
       |  FROM bunman bm
       |  LEFT JOIN jadon j ON j.farm_no = bm.farm_no AND j.pig_no = bm.pig_no AND j.bun_dt = bm.wk_dt
       |  WHERE bm.use_yn = 'Y'),
       |week AS (
       |  SELECT farm_no, COUNT(*) AS total_cnt,
       |    CAST(SUM(silsan + sasan + mila) AS BIGINT) AS sum_total,
       |    CAST(SUM(silsan) AS BIGINT) AS sum_live,
       |    CAST(SUM(sasan) AS BIGINT) AS sum_dead,
       |    CAST(SUM(mila) AS BIGINT) AS sum_mummy,
       |    CAST(SUM(ps0) AS BIGINT) AS sum_sdotae,
       |    CAST(SUM(ji0 - jc0) AS BIGINT) AS sum_yangja,
       |    CAST(SUM(silsan - ps0 + ji0 - jc0) AS BIGINT) AS sum_pogae,
       |    CAST(SUM(CAST(saengsi_kg AS DECIMAL(18,1))) AS DOUBLE) AS sum_kg,
       |    ${round1Sql("CAST(SUM(silsan) AS DOUBLE) / COUNT(*)")} AS avg_live
       |  FROM b WHERE wk_dt BETWEEN '$DtFrom' AND '$DtTo' GROUP BY farm_no),
       |acc AS (
       |  SELECT farm_no, COUNT(*) AS acc_bm_cnt,
       |    CAST(SUM(silsan + sasan + mila) AS BIGINT) AS acc_total,
       |    ${round1Sql("CAST(SUM(silsan + sasan + mila) AS DOUBLE) / COUNT(*)")} AS acc_avg_total
       |  FROM b WHERE wk_dt BETWEEN '$yearStart' AND '$DtTo' GROUP BY farm_no)
       |SELECT week.*, acc.acc_bm_cnt, acc.acc_total, acc.acc_avg_total
       |FROM week LEFT JOIN acc ON acc.farm_no = week.farm_no
       |ORDER BY week.farm_no""".stripMargin
  }
  private lazy val q62Sql = q62SqlFrom(Fixtures.withClause("bunman", "trans"))

  // ---------------------------------------------------------------- weaning section
  /** The reference's hardest SQL (weaning.py:126-245): weekly weaning
    * events joined to weaning detail, the same-parity farrowing, its
    * litter detail, a piglet-transfer aggregation banded by
    * [farrowing date, dynamic upper bound] (J6) where the bound needs
    * the NEXT work event (J3 as-of, MIN KEEP DENSE_RANK). Spark form:
    * range-frame window for next-event, equi+range join for the band. */
  val q63Weaning: Q = (s, d) => q63WeaningFrom(s, Fixtures.modonWkDf(s),
    Fixtures.bunmanDf(s), Fixtures.euDf(s), Fixtures.transDf(s))

  /** q63's body over caller-supplied source tables (see
    * [[q62FarrowingFrom]]). */
  private[graft] def q63WeaningFrom(s: SparkSession, modonWkSrc: DataFrame,
                                    bunmanSrc: DataFrame, euSrc: DataFrame,
                                    transSrc: DataFrame): DataFrame = {
    val wkAll = modonWkSrc.filter(col("use_yn") === "Y")
    // next event per work row: strictly-later min (wk_dt, wk_gubun)
    val wDays = Window.partitionBy(col("farm_no"), col("pig_no"))
      .orderBy(datediff(DateOps.ymdToDate(col("wk_dt")), lit("1970-01-01").cast("date")))
      .rangeBetween(1, Window.unboundedFollowing)
    val withNext = wkAll.withColumn("nx",
      min(struct(col("wk_dt").as("ndt"), col("wk_gubun").as("ngb"))).over(wDays))
    val a = withNext
      .filter(col("wk_gubun") === "E" && col("wk_dt").between(DtFrom, DtTo))
      .select(col("farm_no"), col("pig_no"), col("sancha"),
        col("wk_dt").as("a_wk_dt"), col("daeri_yn").as("a_daeri"),
        col("nx.ndt").as("next_wk_dt"), col("nx.ngb").as("next_wk_gubun"))
      .withColumn("bound_hi",
        when(col("next_wk_gubun") === "G", col("next_wk_dt"))
          .when(col("next_wk_dt").isNull && coalesce(col("a_daeri"), lit("N")) === "N", lit(DtTo))
          .otherwise(DateOps.dateToYmd(date_sub(DateOps.ymdToDate(col("a_wk_dt")), 1))))
    val b = wkAll.filter(col("wk_gubun") === "B")
      .select(col("farm_no"), col("pig_no"), col("sancha"), col("wk_dt").as("b_wk_dt"))
    val ab = a.join(b, Seq("farm_no", "pig_no", "sancha"))
    val eu = euSrc.filter(col("use_yn") === "Y")
      .select(col("farm_no"), col("pig_no"), col("wk_dt").as("a_wk_dt"),
        col("dusu"), col("dusu_su"), col("total_kg"))
    val bun = bunmanSrc.filter(col("use_yn") === "Y")
      .select(col("farm_no"), col("pig_no"), col("wk_dt").as("b_wk_dt"),
        col("silsan"), col("sasan"), col("mila"))
    val jt = transSrc.filter(col("use_yn") === "Y")
      .groupBy(col("farm_no"), col("pig_no"), col("sancha"), col("wk_dt").as("jt_wk_dt"))
      .agg(
        sum(when(col("gubun_cd") === "160001", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("ps_ds"),
        sum(when(col("gubun_cd") === "160002", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("bb_ds"),
        sum(when(col("gubun_cd") === "160003", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("ji_ds"),
        sum(when(col("gubun_cd") === "160004", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("jc_ds"))
    val pa = ab.join(jt,
        ab("farm_no") === jt("farm_no") && ab("pig_no") === jt("pig_no") &&
          ab("sancha") === jt("sancha") &&
          jt("jt_wk_dt") >= ab("b_wk_dt") && jt("jt_wk_dt") <= ab("bound_hi"), "left")
      .groupBy(ab("farm_no"), ab("pig_no"), ab("sancha"), ab("a_wk_dt"))
      .agg(coalesce(sum(col("ps_ds")), lit(0L)).as("sum_ps_ds"),
        coalesce(sum(col("bb_ds")), lit(0L)).as("sum_bb_ds"),
        coalesce(sum(col("ji_ds")), lit(0L)).as("sum_ji_ds"),
        coalesce(sum(col("jc_ds")), lit(0L)).as("sum_jc_ds"))
      // re-alias the grouping keys: pa shares lineage with ab, and a
      // direct join back would trip Spark's ambiguous-self-join check
      .select(col("farm_no").as("pa_farm"), col("pig_no").as("pa_pig"),
        col("sancha").as("pa_sancha"), col("a_wk_dt").as("pa_wk"),
        col("sum_ps_ds"), col("sum_bb_ds"), col("sum_ji_ds"), col("sum_jc_ds"))
    val po = transSrc.filter(col("use_yn") === "Y")
      .groupBy(col("farm_no"), col("pig_no"), col("bun_dt"))
      .agg(
        sum(when(col("gubun_cd") === "160001", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("po_ps"),
        sum(when(col("gubun_cd") === "160003", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("po_ji"),
        sum(when(col("gubun_cd") === "160004", coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).otherwise(0)).as("po_jc"))
    val poR = po.select(col("farm_no").as("po_farm"), col("pig_no").as("po_pig"),
      col("bun_dt").as("po_bun"), col("po_ps"), col("po_ji"), col("po_jc"))
    val full = ab
      .join(eu, Seq("farm_no", "pig_no", "a_wk_dt"))
      .join(bun, Seq("farm_no", "pig_no", "b_wk_dt"))
      .join(pa, col("farm_no") === col("pa_farm") && col("pig_no") === col("pa_pig") &&
        col("sancha") === col("pa_sancha") && col("a_wk_dt") === col("pa_wk"), "left")
      .join(poR, col("farm_no") === col("po_farm") && col("pig_no") === col("po_pig") &&
        col("po_bun") === col("b_wk_dt"), "left")
    val days = datediff(DateOps.ymdToDate(col("a_wk_dt")), DateOps.ymdToDate(col("b_wk_dt")))
    full.groupBy(col("farm_no"))
      .agg(
        count(lit(1)).as("total_cnt"),
        sum(coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).cast("long").as("sum_eudusu"),
        sum(coalesce(col("silsan"), lit(0)) + coalesce(col("sasan"), lit(0)) + coalesce(col("mila"), lit(0))).cast("long").as("sum_chongsan"),
        sum(coalesce(col("silsan"), lit(0))).cast("long").as("sum_silsan"),
        sum(days).cast("long").as("sum_pougigan"),
        sum(col("total_kg").cast(org.apache.spark.sql.types.DecimalType(18, 1))).cast("double").as("sum_kg"),
        round1(sum(coalesce(col("dusu"), lit(0)) + coalesce(col("dusu_su"), lit(0))).cast("double") / count(lit(1))).as("avg_eudusu"),
        round1(sum(days).cast("double") / count(lit(1))).as("avg_pougigan"),
        coalesce(sum(col("sum_ps_ds")), lit(0L)).as("sum_ps_ds"),
        coalesce(sum(col("sum_bb_ds")), lit(0L)).as("sum_bb_ds"),
        coalesce(sum(col("sum_ji_ds")), lit(0L)).as("sum_ji_ds"),
        coalesce(sum(col("sum_jc_ds")), lit(0L)).as("sum_jc_ds"),
        sum(coalesce(col("silsan"), lit(0)) - coalesce(col("po_ps"), lit(0L)) +
          coalesce(col("po_ji"), lit(0L)) - coalesce(col("po_jc"), lit(0L))).cast("long").as("sum_pogae"))
      .orderBy("farm_no")
  }

  private[graft] def q63SqlFrom(src: String): String =
    s"""WITH $src,
       |wk_all AS (SELECT * FROM modon_wk WHERE use_yn = 'Y'),
       |nx0 AS (
       |  SELECT a.farm_no, a.pig_no, a.wk_dt,
       |         b.wk_dt AS next_wk_dt, b.wk_gubun AS next_wk_gubun,
       |         row_number() OVER (PARTITION BY a.farm_no, a.pig_no, a.wk_dt
       |                            ORDER BY b.wk_dt, b.wk_gubun) AS rn
       |  FROM wk_all a JOIN wk_all b
       |    ON b.farm_no = a.farm_no AND b.pig_no = a.pig_no AND b.wk_dt > a.wk_dt
       |  WHERE a.wk_gubun = 'E' AND a.wk_dt BETWEEN '$DtFrom' AND '$DtTo'),
       |nx AS (SELECT farm_no, pig_no, wk_dt, next_wk_dt, next_wk_gubun FROM nx0 WHERE rn = 1),
       |a AS (
       |  SELECT w.farm_no, w.pig_no, w.sancha, w.wk_dt AS a_wk_dt, w.daeri_yn AS a_daeri,
       |         n.next_wk_dt, n.next_wk_gubun,
       |         CASE WHEN n.next_wk_gubun = 'G' THEN n.next_wk_dt
       |              WHEN n.next_wk_dt IS NULL AND COALESCE(w.daeri_yn, 'N') = 'N' THEN '$DtTo'
       |              ELSE strftime(strptime(w.wk_dt, '%Y%m%d')::DATE - 1, '%Y%m%d') END AS bound_hi
       |  FROM wk_all w
       |  LEFT JOIN nx n ON n.farm_no = w.farm_no AND n.pig_no = w.pig_no AND n.wk_dt = w.wk_dt
       |  WHERE w.wk_gubun = 'E' AND w.wk_dt BETWEEN '$DtFrom' AND '$DtTo'),
       |b AS (SELECT farm_no, pig_no, sancha, wk_dt AS b_wk_dt FROM wk_all WHERE wk_gubun = 'B'),
       |ab AS (SELECT a.*, b.b_wk_dt FROM a JOIN b USING (farm_no, pig_no, sancha)),
       |jt AS (
       |  SELECT farm_no, pig_no, sancha, wk_dt AS jt_wk_dt,
       |    SUM(CASE WHEN gubun_cd = '160001' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS ps_ds,
       |    SUM(CASE WHEN gubun_cd = '160002' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS bb_ds,
       |    SUM(CASE WHEN gubun_cd = '160003' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS ji_ds,
       |    SUM(CASE WHEN gubun_cd = '160004' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS jc_ds
       |  FROM trans WHERE use_yn = 'Y' GROUP BY 1, 2, 3, 4),
       |pa AS (
       |  SELECT ab.farm_no, ab.pig_no, ab.sancha, ab.a_wk_dt,
       |    COALESCE(SUM(jt.ps_ds), 0) AS sum_ps_ds,
       |    COALESCE(SUM(jt.bb_ds), 0) AS sum_bb_ds,
       |    COALESCE(SUM(jt.ji_ds), 0) AS sum_ji_ds,
       |    COALESCE(SUM(jt.jc_ds), 0) AS sum_jc_ds
       |  FROM ab
       |  LEFT JOIN jt ON jt.farm_no = ab.farm_no AND jt.pig_no = ab.pig_no
       |    AND jt.sancha = ab.sancha
       |    AND jt.jt_wk_dt >= ab.b_wk_dt AND jt.jt_wk_dt <= ab.bound_hi
       |  GROUP BY 1, 2, 3, 4),
       |po AS (
       |  SELECT farm_no, pig_no, bun_dt,
       |    SUM(CASE WHEN gubun_cd = '160001' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS po_ps,
       |    SUM(CASE WHEN gubun_cd = '160003' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS po_ji,
       |    SUM(CASE WHEN gubun_cd = '160004' THEN COALESCE(dusu,0)+COALESCE(dusu_su,0) ELSE 0 END) AS po_jc
       |  FROM trans WHERE use_yn = 'Y' GROUP BY 1, 2, 3),
       |full_j AS (
       |  SELECT ab.*, d.dusu, d.dusu_su, d.total_kg, e.silsan, e.sasan, e.mila,
       |         pa.sum_ps_ds, pa.sum_bb_ds, pa.sum_ji_ds, pa.sum_jc_ds,
       |         po.po_ps, po.po_ji, po.po_jc
       |  FROM ab
       |  JOIN eu d ON d.farm_no = ab.farm_no AND d.pig_no = ab.pig_no
       |    AND d.wk_dt = ab.a_wk_dt AND d.wk_gubun = 'E' AND d.use_yn = 'Y'
       |  JOIN bunman e ON e.farm_no = ab.farm_no AND e.pig_no = ab.pig_no
       |    AND e.wk_dt = ab.b_wk_dt AND e.wk_gubun = 'B' AND e.use_yn = 'Y'
       |  LEFT JOIN pa ON pa.farm_no = ab.farm_no AND pa.pig_no = ab.pig_no
       |    AND pa.sancha = ab.sancha AND pa.a_wk_dt = ab.a_wk_dt
       |  LEFT JOIN po ON po.farm_no = ab.farm_no AND po.pig_no = ab.pig_no
       |    AND po.bun_dt = ab.b_wk_dt)
       |SELECT farm_no,
       |  COUNT(*) AS total_cnt,
       |  CAST(SUM(COALESCE(dusu,0) + COALESCE(dusu_su,0)) AS BIGINT) AS sum_eudusu,
       |  CAST(SUM(COALESCE(silsan,0) + COALESCE(sasan,0) + COALESCE(mila,0)) AS BIGINT) AS sum_chongsan,
       |  CAST(SUM(COALESCE(silsan,0)) AS BIGINT) AS sum_silsan,
       |  CAST(SUM(date_diff('day', strptime(b_wk_dt, '%Y%m%d')::DATE, strptime(a_wk_dt, '%Y%m%d')::DATE)) AS BIGINT) AS sum_pougigan,
       |  CAST(SUM(CAST(total_kg AS DECIMAL(18,1))) AS DOUBLE) AS sum_kg,
       |  ${round1Sql("CAST(SUM(COALESCE(dusu,0) + COALESCE(dusu_su,0)) AS DOUBLE) / COUNT(*)")} AS avg_eudusu,
       |  ${round1Sql("CAST(SUM(date_diff('day', strptime(b_wk_dt, '%Y%m%d')::DATE, strptime(a_wk_dt, '%Y%m%d')::DATE)) AS DOUBLE) / COUNT(*)")} AS avg_pougigan,
       |  CAST(COALESCE(SUM(sum_ps_ds), 0) AS BIGINT) AS sum_ps_ds,
       |  CAST(COALESCE(SUM(sum_bb_ds), 0) AS BIGINT) AS sum_bb_ds,
       |  CAST(COALESCE(SUM(sum_ji_ds), 0) AS BIGINT) AS sum_ji_ds,
       |  CAST(COALESCE(SUM(sum_jc_ds), 0) AS BIGINT) AS sum_jc_ds,
       |  CAST(SUM(COALESCE(silsan,0) - COALESCE(po_ps,0) + COALESCE(po_ji,0) - COALESCE(po_jc,0)) AS BIGINT) AS sum_pogae
       |FROM full_j GROUP BY farm_no ORDER BY farm_no""".stripMargin
  private lazy val q63Sql =
    q63SqlFrom(Fixtures.withClause("modon_wk", "bunman", "eu", "trans"))

  // ---------------------------------------------------------------- schedule: mating
  /** FN_MD_SCHEDULE_BSE_2020, farm-default mating mode — the 5-branch
    * candidate UNION (schedule.py:409-512): weaned+7d, status-only
    * weaned, gilt birth+240d, accident+1d, status-only accident. */
  val q64ScheduleMating: Q = (s, d) =>
    q64ScheduleMatingFrom(s, Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  /** q64's body over caller-supplied source tables (see
    * [[q62FarrowingFrom]]). */
  private[graft] def q64ScheduleMatingFrom(s: SparkSession, modonSrc: DataFrame,
                                           modonWkSrc: DataFrame): DataFrame = {
    val avgReturn = 7; val firstMating = 240
    val toMinus7 = ymdD(DtTo, avgReturn); val toMinus240 = ymdD(DtTo, firstMating)
    val toMinus1 = ymdD(DtTo, 1)
    val md = modonSrc.filter(col("use_yn") === "Y" && col("out_dt") > DtTo)
    val wkRaw = modonWkSrc.filter(col("use_yn") === "Y" && col("wk_dt") < DtFrom)
    val alivePigs = md.select("farm_no", "pig_no")
    val lastWk = LatestRecord.viaAgg(
      wkRaw.join(alivePigs, Seq("farm_no", "pig_no"), "left_semi"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("seq"))
    val hasWk = wkRaw.select("farm_no", "pig_no").distinct()
    val mdNoWk = md.join(hasWk, Seq("farm_no", "pig_no"), "left_anti")
    val pass = DateOps.ymdToDate _

    // the five reference branches, folded into ONE pass over each
    // derived frame instead of five lazy references: the UNION ALL's
    // branch predicates are mutually exclusive per row (wk_gubun E vs
    // F on lastWk; status 010005 / 010001 / 010006-7 on mdNoWk), so a
    // CASE producing pass_dt (null → dropped) preserves the exact
    // union-all multiplicity while the heavy LatestRecord aggregation
    // over modon_wk and the anti-join both run ONCE — the lazy
    // br1..br5 form re-executed lastWk twice and mdNoWk three times
    // (the 500k-farm sub_sched hotspot; same rows, same oracle)
    val brWk = md.join(lastWk.select(col("farm_no"), col("pig_no"), col("wk_dt"),
          col("wk_gubun"), col("daeri_yn")),
        Seq("farm_no", "pig_no"))
      .withColumn("pass_dt",
        when(col("wk_gubun") === "E" && col("daeri_yn") === "N" &&
          col("wk_dt") <= toMinus7, date_add(pass(col("wk_dt")), avgReturn))
        .when(col("wk_gubun") === "F" && col("wk_dt") <= toMinus1,
          date_add(pass(col("wk_dt")), 1)))
      .filter(col("pass_dt").isNotNull)
      .select(col("farm_no"), col("pass_dt"))
    val brNoWk = mdNoWk
      .withColumn("pass_dt",
        when(col("status_cd") === "010005" &&
          col("last_wk_dt").isNotNull && col("last_wk_dt") <= toMinus7,
          date_add(pass(col("last_wk_dt")), avgReturn))
        .when(col("status_cd") === "010001" &&
          col("birth_dt").isNotNull && col("birth_dt") <= toMinus240,
          date_add(pass(col("birth_dt")), firstMating))
        .when(col("status_cd").isin("010006", "010007") &&
          col("last_wk_dt").isNotNull && col("last_wk_dt") <= toMinus1,
          date_add(pass(col("last_wk_dt")), 1)))
      .filter(col("pass_dt").isNotNull)
      .select(col("farm_no"), col("pass_dt"))

    brWk.unionByName(brNoWk)
      .filter(col("pass_dt") <= pass(lit(DtTo)))
      .groupBy("farm_no", "pass_dt").agg(count(lit(1)).as("n"))
      .orderBy("farm_no", "pass_dt")
  }

  private[graft] def q64SqlFrom(src: String): String = {
    val toMinus7 = ymdD(DtTo, 7); val toMinus240 = ymdD(DtTo, 240)
    val toMinus1 = ymdD(DtTo, 1)
    s"""WITH $src,
       |md AS (SELECT * FROM modon WHERE use_yn = 'Y' AND out_dt > '$DtTo'),
       |wk_raw AS (SELECT * FROM modon_wk WHERE use_yn = 'Y' AND wk_dt < '$DtFrom'),
       |last_wk AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, daeri_yn FROM (
       |    SELECT w.*, row_number() OVER (PARTITION BY w.farm_no, w.pig_no ORDER BY w.seq DESC) AS rn
       |    FROM wk_raw w
       |    WHERE EXISTS (SELECT 1 FROM md WHERE md.farm_no = w.farm_no AND md.pig_no = w.pig_no))
       |  WHERE rn = 1),
       |md_no_wk AS (
       |  SELECT * FROM md
       |  WHERE NOT EXISTS (SELECT 1 FROM wk_raw w
       |                    WHERE w.farm_no = md.farm_no AND w.pig_no = md.pig_no)),
       |u AS (
       |  SELECT md.farm_no, strptime(w.wk_dt, '%Y%m%d')::DATE + 7 AS pass_dt
       |  FROM md JOIN last_wk w USING (farm_no, pig_no)
       |  WHERE w.wk_gubun = 'E' AND w.daeri_yn = 'N' AND w.wk_dt <= '$toMinus7'
       |  UNION ALL
       |  SELECT farm_no, strptime(last_wk_dt, '%Y%m%d')::DATE + 7
       |  FROM md_no_wk WHERE status_cd = '010005' AND last_wk_dt IS NOT NULL AND last_wk_dt <= '$toMinus7'
       |  UNION ALL
       |  SELECT farm_no, strptime(birth_dt, '%Y%m%d')::DATE + 240
       |  FROM md_no_wk WHERE status_cd = '010001' AND birth_dt IS NOT NULL AND birth_dt <= '$toMinus240'
       |  UNION ALL
       |  SELECT md.farm_no, strptime(w.wk_dt, '%Y%m%d')::DATE + 1
       |  FROM md JOIN last_wk w USING (farm_no, pig_no)
       |  WHERE w.wk_gubun = 'F' AND w.wk_dt <= '$toMinus1'
       |  UNION ALL
       |  SELECT farm_no, strptime(last_wk_dt, '%Y%m%d')::DATE + 1
       |  FROM md_no_wk WHERE status_cd IN ('010006','010007') AND last_wk_dt IS NOT NULL AND last_wk_dt <= '$toMinus1')
       |SELECT farm_no, pass_dt, COUNT(*) AS n
       |FROM u WHERE pass_dt <= strptime('$DtTo', '%Y%m%d')::DATE
       |GROUP BY 1, 2 ORDER BY farm_no, pass_dt""".stripMargin
  }
  private lazy val q64Sql = q64SqlFrom(Fixtures.withClause("modon", "modon_wk"))

  // ---------------------------------------------------------------- schedule: farrowing + weaning
  /** Farm-default farrowing/weaning schedule (schedule.py:513-560):
    * pregnant sows (latest work G, alive sentinel) -> mating+115;
    * lactating/foster (latest B) -> farrowing+21. */
  val q65ScheduleBmEu: Q = (s, d) =>
    q65ScheduleBmEuFrom(s, Fixtures.modonDf(s), Fixtures.modonWkDf(s))

  /** q65's body over caller-supplied source tables (see
    * [[q62FarrowingFrom]]). */
  private[graft] def q65ScheduleBmEuFrom(s: SparkSession, modonSrc: DataFrame,
                                         modonWkSrc: DataFrame): DataFrame = {
    val preg = 115; val wean = 21
    val md = modonSrc.filter(col("use_yn") === "Y" && col("out_dt") === Codes.AliveOutDt)
    val latest = LatestRecord.viaAgg(modonWkSrc.filter(col("use_yn") === "Y"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("seq"))
    // both reference branches in ONE pass over the latest-record
    // frame (the q64 fold rationale: the lazy bm/euB pair re-executed
    // the LatestRecord aggregation over the full modon_wk fact twice;
    // wk_gubun G vs B is exclusive per row, so a CASE preserves the
    // exact UNION ALL multiplicity — same rows, same oracle)
    val bmLo = ymdD(DtFrom, preg); val bmHi = ymdD(DtTo, preg)
    val euLo = ymdD(DtFrom, wean); val euHi = ymdD(DtTo, wean)
    val both = md.join(latest.select(col("farm_no"), col("pig_no"), col("wk_dt"),
          col("wk_gubun"), col("sago_gubun_cd"), col("daeri_yn")),
        Seq("farm_no", "pig_no"))
      .withColumn("st", SowStatus.status(col("wk_gubun"), col("sago_gubun_cd"),
        col("daeri_yn"), lit(null).cast("string")))
      .withColumn("sched_type",
        when(col("wk_gubun") === "G" && col("wk_dt").between(bmLo, bmHi) &&
          col("st") === "010002", "BM")
        .when(col("wk_gubun") === "B" && col("wk_dt").between(euLo, euHi) &&
          col("st").isin("010003", "010004"), "EU"))
      .filter(col("sched_type").isNotNull)
      .select(col("sched_type"), col("farm_no"),
        when(col("sched_type") === "BM",
          date_add(DateOps.ymdToDate(col("wk_dt")), preg))
          .otherwise(date_add(DateOps.ymdToDate(col("wk_dt")), wean))
          .as("pass_dt"))
    both
      .filter(col("pass_dt").between(DateOps.ymdToDate(lit(DtFrom)), DateOps.ymdToDate(lit(DtTo))))
      .groupBy("sched_type", "farm_no", "pass_dt").agg(count(lit(1)).as("n"))
      .orderBy("sched_type", "farm_no", "pass_dt")
  }

  private[graft] def q65SqlFrom(src: String): String = {
    val bmLo = ymdD(DtFrom, 115); val bmHi = ymdD(DtTo, 115)
    val euLo = ymdD(DtFrom, 21); val euHi = ymdD(DtTo, 21)
    s"""WITH $src,
       |md AS (SELECT * FROM modon WHERE use_yn = 'Y' AND out_dt = '99991231'),
       |latest AS (
       |  SELECT farm_no, pig_no, wk_dt, wk_gubun, sago_gubun_cd, daeri_yn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY farm_no, pig_no ORDER BY seq DESC) AS rn
       |    FROM modon_wk WHERE use_yn = 'Y')
       |  WHERE rn = 1),
       |u AS (
       |  SELECT 'BM' AS sched_type, md.farm_no,
       |         strptime(w.wk_dt, '%Y%m%d')::DATE + 115 AS pass_dt
       |  FROM md JOIN latest w USING (farm_no, pig_no)
       |  WHERE w.wk_gubun = 'G' AND w.wk_dt BETWEEN '$bmLo' AND '$bmHi'
       |  UNION ALL
       |  SELECT 'EU', md.farm_no, strptime(w.wk_dt, '%Y%m%d')::DATE + 21
       |  FROM md JOIN latest w USING (farm_no, pig_no)
       |  WHERE w.wk_gubun = 'B' AND w.wk_dt BETWEEN '$euLo' AND '$euHi'
       |    AND (CASE WHEN COALESCE(w.daeri_yn, 'N') = 'Y' THEN '010004' ELSE '010003' END) IN ('010003','010004'))
       |SELECT sched_type, farm_no, pass_dt, COUNT(*) AS n
       |FROM u
       |WHERE pass_dt BETWEEN strptime('$DtFrom', '%Y%m%d')::DATE AND strptime('$DtTo', '%Y%m%d')::DATE
       |GROUP BY 1, 2, 3 ORDER BY sched_type, farm_no, pass_dt""".stripMargin
  }
  private lazy val q65Sql = q65SqlFrom(Fixtures.withClause("modon", "modon_wk"))

  // ---------------------------------------------------------------- geo
  /** KMA Lambert grid + Haversine nearest-station matching
    * (weather.py:279-326, :142-148, :182-210). */
  private val farms = Seq(
    (1, 37.5665, 126.978), (2, 35.1796, 129.0756), (3, 33.4996, 126.5312),
    (4, 36.3504, 127.3845), (5, 37.4563, 126.7052), (6, 35.8714, 128.6014),
    (7, 37.8813, 127.7298), (8, 36.5184, 126.8), (9, 35.1595, 126.8526),
    (10, 37.7519, 128.8761))
  private val stations = Seq(
    (108, 37.5714, 126.9658), (159, 35.1047, 129.032), (184, 33.5141, 126.5297),
    (133, 36.372, 127.3721), (143, 35.885, 128.619))

  val q66Geo: Q = (s, d) => {
    import s.implicits._
    val fdf = farms.toDF("farm_id", "lat", "lon")
    val sdf = stations.toDF("stn_id", "s_lat", "s_lon")
    val withGrid = fdf
      .withColumn("nx", GeoOps.gridNx(col("lat"), col("lon")))
      .withColumn("ny", GeoOps.gridNy(col("lat"), col("lon")))
    val joined = withGrid.crossJoin(broadcast(sdf))
      .withColumn("dist_km", GeoOps.haversineKm(col("lat"), col("lon"),
        col("s_lat"), col("s_lon")))
    val w = Window.partitionBy(col("farm_id")).orderBy(col("dist_km"), col("stn_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("farm_id"), col("nx"), col("ny"), col("stn_id"),
        round1(col("dist_km")).as("dist_km_r1"))
      .orderBy("farm_id")
  }

  private lazy val q66Sql = {
    val fvals = farms.map { case (i, la, lo) => s"($i, $la, $lo)" }.mkString(",")
    val svals = stations.map { case (i, la, lo) => s"($i, $la, $lo)" }.mkString(",")
    val (nxSql, nySql) = GeoOps.gridSql
    val hav = GeoOps.haversineSql("lat", "lon", "s_lat", "s_lon")
    s"""WITH f(farm_id, lat, lon) AS (VALUES $fvals),
       |st(stn_id, s_lat, s_lon) AS (VALUES $svals),
       |g AS (SELECT farm_id, lat, lon, $nxSql AS nx, $nySql AS ny FROM f),
       |j AS (SELECT g.*, st.stn_id, $hav AS dist_km FROM g CROSS JOIN st),
       |r AS (SELECT *, row_number() OVER (PARTITION BY farm_id ORDER BY dist_km, stn_id) AS rn FROM j)
       |SELECT farm_id, nx, ny, stn_id, ${round1Sql("dist_km")} AS dist_km_r1
       |FROM r WHERE rn = 1 ORDER BY farm_id""".stripMargin
  }

  // ---------------------------------------------------------------- weather mapping refresh
  /** The TA_FARM weather-mapping refresh jobs as ONE keyed update
    * (update_farm_asos_mapping, weather.py:213-276; and
    * update_farm_weather_grid, weather.py:2446-2495): farms with
    * USE_YN='Y' and coordinates get (a) the nearest ASOS station —
    * id, name, round(dist, 2) — ONLY where ASOS_STN_ID is NULL
    * (existing mappings are a cache, never recomputed), and (b) the
    * KMA Lambert grid cell ONLY where NX/NY is missing. The
    * reference's per-row UPDATE loop becomes a left join + COALESCE
    * over the dimension (the write-back is S7's keyed upsert,
    * Sinks.upsertParquet); the station list broadcasts. Fixture
    * covers every branch: fresh mapping, cached station, cached grid,
    * missing coordinates, USE_YN='N'. */
  private val farmGeoRows: Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    Seq(
      Row(1, 37.5665, 126.978, "Y", null, null, null, null, null),
      Row(2, 35.1796, 129.0756, "Y", 159, "BUSAN", 8.61, null, null),
      Row(3, 33.4996, 126.5312, "Y", null, null, null, 53, 38),
      Row(4, null, null, "Y", null, null, null, null, null),
      Row(5, 37.4563, 126.7052, "N", null, null, null, null, null),
      Row(6, 35.8714, 128.6014, "Y", null, null, null, null, null))
  }
  private val stationNames =
    Map(108 -> "SEOUL", 159 -> "BUSAN", 184 -> "JEJU", 133 -> "DAEJEON",
      143 -> "DAEGU")
  private def round2(c: Column): Column = floor(c * 100 + 0.5) / 100

  val q121WeatherRefresh: Q = (s, _) => {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("farm_id", IntegerType), StructField("lat", DoubleType),
      StructField("lon", DoubleType), StructField("use_yn", StringType),
      StructField("asos_stn_id", IntegerType),
      StructField("asos_stn_nm", StringType),
      StructField("asos_dist_km", DoubleType),
      StructField("nx", IntegerType), StructField("ny", IntegerType)))
    val farm = s.createDataFrame(
      java.util.Arrays.asList(farmGeoRows: _*), schema)
    import s.implicits._
    val st = stations.map { case (id, la, lo) => (id, stationNames(id), la, lo) }
      .toDF("stn_id", "stn_nm", "s_lat", "s_lon")
    val eligible = farm.filter(col("use_yn") === "Y" &&
        col("lat").isNotNull && col("lon").isNotNull && col("asos_stn_id").isNull)
      .select("farm_id", "lat", "lon")
    val w = Window.partitionBy(col("farm_id")).orderBy(col("dist_km"), col("stn_id"))
    val mapped = eligible.crossJoin(broadcast(st))
      .withColumn("dist_km", GeoOps.haversineKm(col("lat"), col("lon"),
        col("s_lat"), col("s_lon")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("farm_id"), col("stn_id").as("new_stn_id"),
        col("stn_nm").as("new_stn_nm"), round2(col("dist_km")).as("new_dist_km"))
    val grid = farm.filter(col("use_yn") === "Y" &&
        col("lat").isNotNull && col("lon").isNotNull &&
        (col("nx").isNull || col("ny").isNull))
      .select(col("farm_id"), GeoOps.gridNx(col("lat"), col("lon")).as("new_nx"),
        GeoOps.gridNy(col("lat"), col("lon")).as("new_ny"))
    farm.join(broadcast(mapped), Seq("farm_id"), "left")
      .join(broadcast(grid.withColumnRenamed("farm_id", "g_farm")),
        col("farm_id") === col("g_farm"), "left")
      .select(col("farm_id"), col("use_yn"),
        coalesce(col("nx"), col("new_nx")).as("nx"),
        coalesce(col("ny"), col("new_ny")).as("ny"),
        coalesce(col("asos_stn_id"), col("new_stn_id")).as("asos_stn_id"),
        coalesce(col("asos_stn_nm"), col("new_stn_nm")).as("asos_stn_nm"),
        coalesce(col("asos_dist_km"), col("new_dist_km")).as("asos_dist_km"),
        when(col("new_stn_id").isNotNull, "Y").otherwise("N").as("stn_refreshed"),
        when(col("g_farm").isNotNull, "Y").otherwise("N").as("grid_refreshed"))
      .orderBy("farm_id")
  }

  private lazy val q121Sql = {
    val fvals = farmGeoRows.map(r =>
      "(" + (0 until r.length).map(i => Option(r.get(i)) match {
        case None => "NULL"
        case Some(v: String) => s"'$v'"
        case Some(v) => v.toString
      }).mkString(",") + ")").mkString(",")
    val svals = stations.map { case (id, la, lo) =>
      s"($id, '${stationNames(id)}', $la, $lo)" }.mkString(",")
    val (nxSql, nySql) = GeoOps.gridSql
    val hav = GeoOps.haversineSql("lat", "lon", "s_lat", "s_lon")
    s"""WITH f(farm_id, lat, lon, use_yn, asos_stn_id, asos_stn_nm, asos_dist_km, nx, ny)
       |  AS (VALUES $fvals),
       |st(stn_id, stn_nm, s_lat, s_lon) AS (VALUES $svals),
       |eligible AS (
       |  SELECT farm_id, lat, lon FROM f
       |  WHERE use_yn = 'Y' AND lat IS NOT NULL AND lon IS NOT NULL
       |    AND asos_stn_id IS NULL),
       |j AS (SELECT e.farm_id, st.stn_id, st.stn_nm, $hav AS dist_km
       |      FROM eligible e CROSS JOIN st),
       |r AS (SELECT *, row_number() OVER (PARTITION BY farm_id
       |                                   ORDER BY dist_km, stn_id) AS rn FROM j),
       |mapped AS (
       |  SELECT farm_id, stn_id AS new_stn_id, stn_nm AS new_stn_nm,
       |         floor(dist_km * 100 + 0.5) / 100 AS new_dist_km
       |  FROM r WHERE rn = 1),
       |grid AS (
       |  SELECT farm_id, $nxSql AS new_nx, $nySql AS new_ny FROM f
       |  WHERE use_yn = 'Y' AND lat IS NOT NULL AND lon IS NOT NULL
       |    AND (nx IS NULL OR ny IS NULL))
       |SELECT f.farm_id, f.use_yn,
       |  COALESCE(f.nx, g.new_nx) AS nx, COALESCE(f.ny, g.new_ny) AS ny,
       |  COALESCE(f.asos_stn_id, m.new_stn_id) AS asos_stn_id,
       |  COALESCE(f.asos_stn_nm, m.new_stn_nm) AS asos_stn_nm,
       |  COALESCE(f.asos_dist_km, m.new_dist_km) AS asos_dist_km,
       |  CASE WHEN m.farm_id IS NOT NULL THEN 'Y' ELSE 'N' END AS stn_refreshed,
       |  CASE WHEN g.farm_id IS NOT NULL THEN 'Y' ELSE 'N' END AS grid_refreshed
       |FROM f
       |LEFT JOIN mapped m ON m.farm_id = f.farm_id
       |LEFT JOIN grid g ON g.farm_id = f.farm_id
       |ORDER BY f.farm_id""".stripMargin
  }

  // ----------------------------------------------------------------
  val all: Map[String, Q] = Map(
    "q60_week_window" -> q60WeekWindow,
    "q61_sow_status" -> q61SowStatus,
    "q62_farrowing_section" -> q62Farrowing,
    "q63_weaning_section" -> q63Weaning,
    "q64_schedule_mating" -> q64ScheduleMating,
    "q65_schedule_bm_eu" -> q65ScheduleBmEu,
    "q66_geo_grid" -> q66Geo,
    "q121_weather_refresh" -> q121WeatherRefresh,
  )

  lazy val oracle: Map[String, String] = Map(
    "q60_week_window" -> q60Sql,
    "q61_sow_status" -> q61Sql,
    "q62_farrowing_section" -> q62Sql,
    "q63_weaning_section" -> q63Sql,
    "q64_schedule_mating" -> q64Sql,
    "q65_schedule_bm_eu" -> q65Sql,
    "q66_geo_grid" -> q66Sql,
    "q121_weather_refresh" -> q121Sql,
  )
}
