package graft.devtools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Dev harness: generate the DOMAIN fact tables (sow master, work
  * log, farrowing, weaning, piglet transfers, slaughter, farm config)
  * at fleet scale — the 50k-farm corpus the full weekly product runs
  * on (devtools.WeeklyScale). NOT part of the library surface; the
  * measurement-side sibling of GenScale, which scales the TPC-H-ish
  * tables.
  *
  * Every value derives from xxhash64(farm, sow, salt) — fully
  * deterministic, generated DISTRIBUTED (pure column expressions over
  * spark.range, no driver loops), and written as plain parquet that
  * BOTH engines read: the Spark sections and the DuckDB oracle replay
  * compute over the identical bytes, so the generator needs variety
  * and volume, not its own verification.
  *
  * Careers follow the fixtures' event grammar (Fixtures.generated,
  * data_loader.py:28-46): per parity G -> (B -> E | F), dates gapped
  * so a slice of events lands in the report week (DtFrom..DtTo =
  * 20251103..20251109), sows before/through/past the window,
  * eventless gilts (alert NO_WK), foster mothers (DAERI_YN='Y'),
  * culled sows inside and before the month window (with and without
  * reason codes), and config rows present/NULL/absent per farm.
  */
object GenFarms {
  def main(args: Array[String]): Unit = {
    val nFarms = if (args.length > 0) args(0).toInt else 50000
    val out = if (args.length > 1) args(1) else "/root/repo/tmp/farms50k"
    val spark = GraftSession.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, nFarms, out)
    println(s"wrote $out at $nFarms farms")
    spark.stop()
  }

  private def ymd(c: Column): Column = date_format(c, "yyyyMMdd")

  /** Deterministic 0..m-1 from the sow identity and a salt. */
  private def hm(salt: Int, m: Int): Column =
    pmod(xxhash64(col("farm_no"), col("pidx"), lit(salt)), lit(m.toLong)).cast("int")

  def write(spark: SparkSession, nFarms: Int, out: String): Unit = {
    val maxBlocks = 3

    // ---- sows: 7..12 per farm, deterministic herd size per farm
    val sows = spark.range(nFarms.toLong * 12)
      .select(((col("id") / 12) + 1).cast("int").as("farm_no"),
        (col("id") % 12).cast("int").as("pidx"))
      .filter(col("pidx") <
        lit(7) + pmod(xxhash64(col("farm_no"), lit(11)), lit(6L)).cast("int"))
      .withColumn("pig_no", format_string("P%05d", col("pidx")))
      .withColumn("eventless", hm(20, 20) === 0) // ~5%: alert NO_WK branch
      .withColumn("daeri_yn", when(hm(15, 15) === 0, "Y").otherwise("N"))
      .withColumn("nblocks", lit(1) + hm(3, 3)) // 1..3 parities
      // last-block truncation: a live table holds careers MID-block —
      // 0: pregnant at the horizon (last parity ends at its G),
      // 1: lactating (ends at its B), else fully recorded. The
      // schedule sections (q64/q65) exist exactly for these sows.
      .withColumn("truncClass", hm(60, 6))
      // career anchor: 130..459 days before the report week's end, so
      // blocks (~140 days each) straddle the window from both sides
      .withColumn("start0",
        date_sub(lit("2025-11-09").cast("date"), lit(130) + hm(31, 330)))
      .withColumn("birth_d", date_sub(col("start0"), lit(250) + hm(32, 150)))
      .withColumn("in_dt_d", date_add(col("birth_d"), lit(220) + hm(33, 40)))

    // ---- per-block career dates, computed iteratively (maxBlocks is
    // a compile-time constant, so this is a Scala fold over columns)
    def bh(j: Int, salt: Int, m: Int): Column =
      pmod(xxhash64(col("farm_no"), col("pidx"), lit(j), lit(salt)), lit(m.toLong))
        .cast("int")
    var cur: Column = col("start0")
    val blocks = (0 until maxBlocks).map { j =>
      val acc = bh(j, 100, 7) === 0 // ~1/7 parities end in accident
      val g = cur
      val fDt = date_add(g, lit(18) + bh(j, 101, 10))
      val b = date_add(g, lit(114) + bh(j, 102, 3))
      val e = date_add(b, lit(19) + bh(j, 103, 5))
      cur = when(acc, date_add(fDt, lit(2) + bh(j, 104, 5)))
        .otherwise(date_add(e, lit(4) + bh(j, 105, 6)))
      val silsan = lit(8) + bh(j, 106, 7)
      struct(acc.as("acc"), g.as("g"), fDt.as("f"), b.as("b"), e.as("e"),
        when(bh(j, 107, 2) === 0, "020001").otherwise("020002").as("sago"),
        silsan.as("silsan"), bh(j, 108, 3).as("sasan"), bh(j, 109, 2).as("mila"),
        ((lit(95) + bh(j, 110, 60)).cast("double") / 10.0).as("saengsi_kg"),
        greatest(silsan - 1 - bh(j, 111, 3), lit(4)).as("dusu"),
        bh(j, 112, 2).as("dusu_su"),
        ((lit(550) + bh(j, 113, 200)).cast("double") / 10.0).as("total_kg"),
        bh(j, 114, 3).as("ntrans"))
    }
    val withBlocks = sows.filter(!col("eventless"))
      .select(col("*"), posexplode(array(blocks: _*)).as(Seq("j", "blk")))
      .filter(col("j") < col("nblocks"))
      .withColumn("sancha", col("j") + 1)

    // ---- modon_wk: G always; F xor (B, E) per block, minus the
    // truncated tail of the LAST block; gapless seq by date
    val isLast = col("j") === col("nblocks") - 1
    val dropB = isLast && col("truncClass") === 0
    val dropE = isLast && col("truncClass") <= 1
    val evsPerBlock = array(
      struct(lit("G").as("gb"), col("blk.g").as("dt"),
        lit(null).cast("string").as("sago"), lit(true).as("keep")),
      struct(when(col("blk.acc"), lit("F")).otherwise(lit("B")).as("gb"),
        when(col("blk.acc"), col("blk.f")).otherwise(col("blk.b")).as("dt"),
        when(col("blk.acc"), col("blk.sago")).otherwise(lit(null).cast("string")).as("sago"),
        (col("blk.acc") || !dropB).as("keep")),
      struct(lit("E").as("gb"), col("blk.e").as("dt"),
        lit(null).cast("string").as("sago"), (!col("blk.acc") && !dropE).as("keep")))
    val events = withBlocks
      .withColumn("ev", explode(evsPerBlock))
      .filter(col("ev.keep") && col("ev.dt") <= lit("2025-12-31").cast("date"))
      .select(col("farm_no"), col("pig_no"), col("pidx"), col("sancha"),
        col("daeri_yn"), col("ev.gb").as("wk_gubun"), col("ev.dt").as("dt"),
        col("ev.sago").as("sago_gubun_cd"))
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy("farm_no", "pig_no").orderBy("dt", "wk_gubun")
    val modonWk = events
      .withColumn("seq", row_number().over(seqW))
      .select(col("farm_no"), col("pig_no"), col("seq"), ymd(col("dt")).as("wk_dt"),
        col("wk_gubun"), col("sancha"), col("sago_gubun_cd"),
        when(col("wk_gubun").isin("B", "E"), col("daeri_yn"))
          .otherwise(lit("N")).as("daeri_yn"),
        lit("Y").as("use_yn"))

    // ---- bunman / eu from the non-accident, non-truncated blocks:
    // a pregnant-truncated block has no farrowing row yet, a
    // lactating one no weaning row (and no transfers referencing a
    // future weaning date)
    val litters = withBlocks.filter(!col("blk.acc") && !dropE)
    val bunman = withBlocks.filter(!col("blk.acc") && !dropB).select(col("farm_no"), col("pig_no"),
      ymd(col("blk.b")).as("wk_dt"), lit("B").as("wk_gubun"),
      col("blk.silsan").as("silsan"), col("blk.sasan").as("sasan"),
      col("blk.mila").as("mila"), col("blk.saengsi_kg").as("saengsi_kg"),
      lit("Y").as("use_yn"))
    val eu = litters.select(col("farm_no"), col("pig_no"),
      ymd(col("blk.e")).as("wk_dt"), lit("E").as("wk_gubun"),
      col("blk.dusu").as("dusu"), col("blk.dusu_su").as("dusu_su"),
      datediff(col("blk.e"), col("blk.b")).cast("int").as("ilryung"),
      col("blk.total_kg").as("total_kg"), col("daeri_yn"), lit("Y").as("use_yn"))

    // ---- trans: 0..2 piglet transfers between farrowing and weaning
    def th(salt: Int): Column = pmod(
      xxhash64(col("farm_no"), col("pidx"), col("j"), col("ti"), lit(salt)),
      lit(1000000L)).cast("int")
    val trans = litters
      .withColumn("ti", explode(
        when(col("blk.ntrans") > 0, sequence(lit(0), col("blk.ntrans") - 1))
          .otherwise(array().cast("array<int>"))))
      .select(col("farm_no"), col("pig_no"),
        th(130).as("seq"), col("sancha"),
        element_at(array(lit("160001"), lit("160002"), lit("160003"), lit("160004")),
          pmod(th(131), lit(4)) + 1).as("gubun_cd"),
        ymd(date_add(col("blk.b"),
          lit(1) + pmod(th(132), greatest(datediff(col("blk.e"), col("blk.b")) - 2, lit(1)))))
          .as("wk_dt"),
        (lit(1) + pmod(th(133), lit(3))).as("dusu"), lit(0).as("dusu_su"),
        ymd(col("blk.b")).as("bun_dt"), ymd(col("blk.e")).as("eu_dt"),
        lit("Y").as("use_yn"))

    // ---- modon: one master row per sow; culls inside/before the
    // month window, reasons present/absent, eventless status variety
    val lastWk = events.groupBy("farm_no", "pig_no")
      .agg(max(col("dt")).as("last_dt"))
    val modon = sows.join(lastWk, Seq("farm_no", "pig_no"), "left")
      .withColumn("cullClass", hm(40, 25)) // 0: month-window cull, 1: older cull
      .withColumn("out_d",
        when(col("cullClass") === 0,
          date_add(lit("2025-10-07").cast("date"), hm(41, 30)))
          .when(col("cullClass") === 1,
            date_add(lit("2025-06-01").cast("date"), hm(42, 90))))
      .select(col("farm_no"), col("pig_no"),
        when(!col("eventless"), "010001")
          .otherwise(element_at(
            array(lit("010001"), lit("010005"), lit("010006")), hm(43, 3) + 1))
          .as("status_cd"),
        ymd(col("in_dt_d")).as("in_dt"),
        coalesce(ymd(col("out_d")), lit(graft.domain.Codes.AliveOutDt)).as("out_dt"),
        ymd(col("birth_d")).as("birth_dt"),
        when(col("eventless") && hm(44, 3) === 0, lit(null).cast("string"))
          .otherwise(coalesce(ymd(col("last_dt")),
            ymd(date_sub(lit("2025-11-09").cast("date"), lit(10) + hm(45, 60)))))
          .as("last_wk_dt"),
        when(col("eventless"), hm(46, 5)).otherwise(lit(0)).as("in_sancha"),
        when(col("cullClass") <= 1,
          when(hm(47, 2) === 0, "080001").otherwise("080002")).as("out_gubun_cd"),
        when(col("cullClass") <= 1 && hm(48, 5) =!= 0,
          element_at(array(lit("031002"), lit("031003"), lit("031004")),
            hm(49, 3) + 1)).as("out_reason_cd"),
        lit("Y").as("use_yn"))

    // ---- lpd: 8..32 shipments per farm across the month into the week
    def lh(salt: Int, m: Int): Column =
      pmod(xxhash64(col("farm_no"), col("si"), lit(salt)), lit(m.toLong)).cast("int")
    val lpd = spark.range(nFarms.toLong)
      .select((col("id") + 1).cast("int").as("farm_no"))
      .withColumn("si", explode(sequence(lit(0),
        lit(7) + pmod(xxhash64(col("farm_no"), lit(50)), lit(25L)).cast("int"))))
      .select(col("farm_no"),
        date_format(date_add(lit("2025-10-10").cast("date"), lh(51, 31)),
          "yyyy-MM-dd").as("dochuk_dt"),
        ((lit(800) + lh(52, 300)).cast("double") / 10.0).as("net_kg"),
        ((lit(140) + lh(53, 120)).cast("double") / 10.0).as("back_depth"),
        element_at(array(lit("1+"), lit("1"), lit("2")), lh(54, 3) + 1)
          .as("meat_quality"),
        element_at(array(lit("암"), lit("수")), lh(55, 2) + 1).as("sex_gubun"),
        lit("Y").as("use_yn"))

    // ---- farm_config: present with value / present NULL / absent —
    // all three branches of the config fallback at scale
    val farmConfig = spark.range(nFarms.toLong)
      .select((col("id") + 1).cast("int").as("farm_no"))
      .filter(pmod(col("farm_no"), lit(4)) =!= 3) // ~25% of farms have NO row
      .select(col("farm_no"),
        when(pmod(col("farm_no"), lit(4)) === 2, lit(null).cast("int"))
          .otherwise((lit(112) + pmod(col("farm_no"), lit(6))).cast("int")).as("preg_days"),
        lit(null).cast("int").as("wean_days"),
        lit(null).cast("int").as("cull_age_days"),
        lit(null).cast("int").as("gilt_first_mate_days"),
        lit(null).cast("int").as("alert_days"),
        lit(null).cast("int").as("return_check_days"))

    def w(df: DataFrame, name: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
    w(modon, "modon"); w(modonWk, "modon_wk"); w(bunman, "bunman")
    w(eu, "eu"); w(trans, "trans"); w(lpd, "lpd"); w(farmConfig, "farm_config")
  }
}
