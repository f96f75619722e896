package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Num, Tables}
import graft.core.Num._
import graft.ops._

/** Aggregation / window / sort / set-op queries (SURVEY §2.4-2.7). */
object QueryCatalogAgg {
  import QueryCatalog.Q

  // ---------------------------------------------------------------- A3
  /** Fixed-column pivot via conditional aggregation (SURVEY A3, ref
    * base.py:421-453 pivot_data; modon.py:150-243 parity x status
    * crosstab). Static output schema — no distinct-values pre-job. */
  val q13Pivot: Q = (s, d) => {
    val years = (1995 to 2001).map(_.toString)
    val o = Tables.orders(s, d).withColumn("yr", year(col("o_orderdate")).cast("string"))
    val aggs = years.map(y =>
      sum(when(col("yr") === y, dec2(col("o_totalprice")))).cast("double").as(s"total_$y"))
    o.groupBy("o_orderstatus")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("o_orderstatus")
  }

  private val q13Sql = {
    val cols = (1995 to 2001).map(y =>
      s"CAST(SUM(CASE WHEN year(o_orderdate) = $y THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS total_$y")
      .mkString(",\n ")
    s"""SELECT o_orderstatus,
       | $cols
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  }

  // ---------------------------------------------------------------- A7/A12
  /** Histogram buckets + percentage share (SURVEY A7/A12, ref
    * mating.py:258-267 return-interval buckets; accident.py:190-194
    * per-cause share). */
  val q14Hist: Q = (s, d) => {
    val bucket = Buckets.byUpperEdges(col("l_quantity"),
      edges = Seq(10, 20, 30, 40), labels = Seq("b00_10", "b11_20", "b21_30", "b31_40", "b41_up"))
    val b = Tables.lineitem(s, d)
      .groupBy(bucket.as("qty_bucket")).agg(count(lit(1)).as("cnt"))
    val total = Window.partitionBy()
    b.withColumn("pct", col("cnt").cast("double") / sum(col("cnt")).over(total) * 100.0)
      .orderBy("qty_bucket")
  }

  private val q14Sql =
    """WITH b AS (
      |  SELECT CASE WHEN l_quantity <= 10 THEN 'b00_10'
      |              WHEN l_quantity <= 20 THEN 'b11_20'
      |              WHEN l_quantity <= 30 THEN 'b21_30'
      |              WHEN l_quantity <= 40 THEN 'b31_40'
      |              ELSE 'b41_up' END AS qty_bucket,
      |         COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1)
      |SELECT qty_bucket, cnt,
      |       CAST(cnt AS DOUBLE) / SUM(cnt) OVER () * 100.0 AS pct
      |FROM b ORDER BY qty_bucket""".stripMargin

  // ---------------------------------------------------------------- A5
  /** Weighted average = ratio of sums with zero guard (SURVEY A5, ref
    * orchestrator.py:678-692 SUM(cnt*amt)/NULLIF(SUM(cnt),0)). */
  val q15WeightedAvg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(Num.weightedAvg2(col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
        dsum2(col("l_quantity")).as("total_qty"))
      .orderBy("l_returnflag")

  private val q15Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |    / NULLIF(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS wavg_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A6
  /** Avg-of-ratios, explicitly != ratio-of-sums (SURVEY A6, ref
    * processors/config.py:174-221 rearing rate = AVG of monthly
    * ratios). Each monthly ratio is a deterministic double; the outer
    * mean re-quantizes through DECIMAL(18,8) so the cross-month sum
    * is order-independent. */
  val q16AvgOfRatios: Q = (s, d) => {
    val monthly = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"),
        date_trunc("month", col("l_shipdate")).cast("date").as("mo"))
      .agg((dsum2(col("l_discount") * lit(100)) / count(lit(1)))
        .as("avg_disc_pct"))
    monthly.groupBy("l_returnflag")
      .agg((sum(col("avg_disc_pct").cast(DECIMAL8)).cast("double") / count(lit(1)))
        .as("mean_monthly_disc_pct"),
        count(lit(1)).as("n_months"))
      .orderBy("l_returnflag")
  }

  private val DECIMAL8 = org.apache.spark.sql.types.DecimalType(18, 8)

  private val q16Sql =
    """WITH m AS (
      |  SELECT l_returnflag, CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
      |         CAST(SUM(CAST(l_discount * 100 AS DECIMAL(18,2))) AS DOUBLE)
      |           / COUNT(*) AS avg_disc_pct
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  CAST(SUM(CAST(avg_disc_pct AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS mean_monthly_disc_pct,
      |  COUNT(*) AS n_months
      |FROM m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A10
  /** Mode — most frequent value per group, ties to the smallest
    * (SURVEY A10, ref weather.py:935-944 Counter.most_common daily
    * weather code). */
  val q17Mode: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("cnt").as("mode_cnt"))
      .orderBy("user_id")
  }

  private val q17Sql =
    """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rn FROM c)
      |SELECT user_id, event_type AS mode_type, cnt AS mode_cnt
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- A11/A4
  /** Week / month / YTD rollups in ONE pass via windowed sum(when)
    * (SURVEY A11, ref mating.py:98-117, farrowing.py:81-115 — the
    * reference re-aggregates per window; one conditional pass replaces
    * three scans). */
  val q18Ytd: Q = (s, d) => {
    val sd = col("l_shipdate")
    def inWin(from: String, to: String): Column =
      sd >= to_timestamp(lit(from)) && sd < to_timestamp(lit(to))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(when(inWin("2001-06-04", "2001-06-11"), dec2(col("l_quantity")))).cast("double").as("week_qty"),
        count(when(inWin("2001-06-04", "2001-06-11"), lit(1))).as("week_cnt"),
        sum(when(inWin("2001-06-01", "2001-07-01"), dec2(col("l_quantity")))).cast("double").as("month_qty"),
        count(when(inWin("2001-06-01", "2001-07-01"), lit(1))).as("month_cnt"),
        sum(when(inWin("2001-01-01", "2001-06-11"), dec2(col("l_quantity")))).cast("double").as("ytd_qty"),
        count(when(inWin("2001-01-01", "2001-06-11"), lit(1))).as("ytd_cnt"))
      .orderBy("l_returnflag")
  }

  private val q18Sql =
    """SELECT l_returnflag,
      | CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '2001-06-04' AND l_shipdate < TIMESTAMP '2001-06-11' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS week_qty,
      | COUNT(CASE WHEN l_shipdate >= TIMESTAMP '2001-06-04' AND l_shipdate < TIMESTAMP '2001-06-11' THEN 1 END) AS week_cnt,
      | CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '2001-06-01' AND l_shipdate < TIMESTAMP '2001-07-01' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS month_qty,
      | COUNT(CASE WHEN l_shipdate >= TIMESTAMP '2001-06-01' AND l_shipdate < TIMESTAMP '2001-07-01' THEN 1 END) AS month_cnt,
      | CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01' AND l_shipdate < TIMESTAMP '2001-06-11' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS ytd_qty,
      | COUNT(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01' AND l_shipdate < TIMESTAMP '2001-06-11' THEN 1 END) AS ytd_cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- A13
  /** Tall->wide API pivot: first value per (row, col) into fixed
    * columns (SURVEY A13, ref productivity.py:297-373 STATCD pivot to
    * C001..C043). "First" = earliest by a total order. */
  val q19PivotFirst: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val firsts = Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("f"))
      .select(col("user_id"), col("event_type"), col("f.value").as("v"))
    val aggs = types.map(t => max(when(col("event_type") === t, col("v"))).as(s"first_$t"))
    firsts.groupBy("user_id").agg(aggs.head, aggs.tail: _*).orderBy("user_id")
  }

  private val q19Sql = {
    val cols = Seq("click", "error", "purchase", "signup", "view").map(t =>
      s"MAX(CASE WHEN event_type = '$t' AND rn = 1 THEN value END) AS first_$t").mkString(",\n ")
    s"""WITH r AS (
       |  SELECT user_id, event_type, value,
       |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
       |  FROM events)
       |SELECT user_id,
       | $cols
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- A8
  /** Distinct pairs then count (SURVEY A8, ref weather.py:1244-1252
    * distinct grids). */
  val q20Distinct: Q = (s, d) =>
    Tables.events(s, d)
      .select("user_id", "event_type").dropDuplicates()
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  private val q20Sql =
    """SELECT event_type, COUNT(*) AS n_users
      |FROM (SELECT DISTINCT user_id, event_type FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- T1/W6
  /** Global top-k by measure (SURVEY T1/W6, ref base.py:455-481 top_n;
    * server.py:243-252 FETCH FIRST). Plans as TakeOrderedAndProject —
    * per-partition heads, no global sort. */
  val q21TopN: Q = (s, d) => {
    val byCust = Tables.orders(s, d)
      .groupBy("o_custkey").agg(dsum2(col("o_totalprice")).as("total_spend"),
        count(lit(1)).as("n_orders"))
    Ranking.topK(byCust, 10, Seq(col("total_spend").desc, col("o_custkey")))
  }

  private val q21Sql =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey
      |ORDER BY total_spend DESC, o_custkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- T1 per-key via rewrite rule
  /** The SAME query as q56 written as plain window SQL — on a session
    * built through GraftSession (plans.RewriteWindowTopK registered by
    * GraftExtensions), the optimizer rewrites
    * Project(Filter(rn <= k, Window(row_number))) into the custom
    * TopKPerKeyNode automatically; on a session without the
    * extensions it plans as the plain window. Either way it is
    * verified against the identical window oracle: the rewrite's
    * correctness is hash-gated, not just spec-asserted. */
  val q85TopkRewrite: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- set ops
  /** INTERSECT / EXCEPT (SURVEY §2.7 beyond the tagged-union form):
    * customers active in BOTH halves of 1997 vs only the first half —
    * distinct set semantics, identical in both engines. */
  val q89SetOps: Q = (s, d) => {
    val o = Tables.orders(s, d)
    def custs(lo: String, hi: String) =
      o.filter(col("o_orderdate") >= lit(lo).cast("date") &&
          col("o_orderdate") < lit(hi).cast("date"))
        .select("o_custkey")
    val both = custs("1997-01-01", "1997-07-01")
      .intersect(custs("1997-07-01", "1998-01-01"))
    val onlyH1 = custs("1997-01-01", "1997-07-01")
      .except(custs("1997-07-01", "1998-01-01"))
    both.withColumn("cohort", lit("both_halves"))
      .unionByName(onlyH1.withColumn("cohort", lit("h1_only")))
      .groupBy("cohort").agg(count(lit(1)).as("n_customers"))
      .orderBy("cohort")
  }

  private val q89Sql =
    """WITH h1 AS (SELECT o_custkey FROM orders
      |            WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'),
      |h2 AS (SELECT o_custkey FROM orders
      |       WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1998-01-01'),
      |u AS (
      |  SELECT o_custkey, 'both_halves' AS cohort FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
      |  UNION ALL
      |  SELECT o_custkey, 'h1_only' FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2))
      |SELECT cohort, COUNT(*) AS n_customers FROM u
      |GROUP BY cohort ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------- exact quantiles
  /** Exact discrete quantiles (p25/50/75 of quantity per flag) via
    * the sorted-array formulation — index ceil(q*n), identical in
    * both engines, bit-exact on doubles. The 100 TB path swaps
    * collect_list for percentile_approx(accuracy=1000) in the SAME
    * grouped shape: bounded sketch state per group instead of one
    * in-memory array, with rank error <= n/1000 per group (so the
    * reported value sits within 0.1% of the true rank — PlanQuality
    * Spec gates all three quantiles at 5% relative against this exact
    * baseline). Groups here are bounded: one array per returnflag. */
  val q87Quantiles: Q = (s, d) => {
    val g = Tables.lineitem(s, d).groupBy("l_returnflag")
      .agg(sort_array(collect_list(col("l_quantity"))).as("arr"),
        count(lit(1)).as("n"))
    def pick(q: Double) = element_at(col("arr"), ceil(lit(q) * col("n")).cast("int"))
    g.select(col("l_returnflag"), col("n"),
        pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.75).as("p75"))
      .orderBy("l_returnflag")
  }

  private val q87Sql =
    """WITH g AS (SELECT l_returnflag, list_sort(list(l_quantity)) AS arr,
      |                  COUNT(*) AS n
      |           FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |       arr[CAST(ceil(0.25 * n) AS INT)] AS p25,
      |       arr[CAST(ceil(0.5 * n) AS INT)] AS p50,
      |       arr[CAST(ceil(0.75 * n) AS INT)] AS p75
      |FROM g ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- grouping sets
  /** Explicit GROUPING SETS with grouping_id disambiguation (the
    * general form behind q57's rollup): per (flag, status), per flag,
    * and grand total in one pass; gid labels which cell is which so
    * NULL group values never collide with real data. */
  val q88GroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_items")
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  private val q88Sql =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- event-time tumbling window
  /** Tumbling event-time windows as a BATCH query — the exact
    * `window()` semantics the streaming jobs use (StreamingJobs.
    * windowedCounts), pushed through the batch correctness gate so
    * stream/batch parity is hash-verified: per (hour bucket, type)
    * counts and exact decimal sums. Oracle = time_bucket. */
  val q84Tumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private val q84Sql =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
      |       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS win_end,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin

  // ---------------------------------------------------------------- salted aggregation
  /** The skew-safe two-phase salted aggregation (ops.Salting) pushed
    * through the hash gate: salting is semantics-preserving, so the
    * oracle is the PLAIN single-phase GROUP BY — the gate proves the
    * salt splits and re-merges without changing a single bit. Sums
    * ride decimal partials (core.Num), so the two-phase re-sum is
    * exact in any order. This is the verified form of the hot-key
    * fallback every groupBy in SCALE.md points at. */
  val q107SaltedAgg: Q = (s, d) =>
    graft.ops.Salting.saltedSumCount(Tables.events(s, d),
        Seq("event_type"), graft.core.Num.dec2(col("value")),
        col("user_id"), buckets = 16)
      .select(col("event_type"),
        col("sum_value").cast("double").as("sum_value"), col("cnt_value"))
      .orderBy("event_type")

  private val q107Sql =
    """SELECT event_type,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |       COUNT(value) AS cnt_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- salted skew join
  /** The skew-safe salted JOIN (ops.Salting.saltedJoin) pushed through
    * the hash gate: the fact side (events, every hot user's rows) is
    * salted into 8 deterministic buckets and the dimension side
    * (customer) replicated once per bucket, so a hot user's join work
    * spreads over 8 reducers instead of one. Salting is
    * semantics-preserving for fact-driven join types, so the oracle
    * is the PLAIN LEFT JOIN — the gate proves the spread+replicate
    * round trip changes nothing, null-extension included (user_id 0
    * has no customer row). The manual a-priori form of AQE's
    * skew-join split, for keys KNOWN hot before runtime. */
  val q160SaltedJoin: Q = (s, d) =>
    graft.ops.Salting.saltedJoin(
        Tables.events(s, d).withColumn("user_id", col("user_id").cast("long")),
        Tables.customer(s, d)
          .select(col("c_custkey").cast("long").as("user_id"),
            col("c_name"), col("c_mktsegment")),
        Seq("user_id"), saltSource = col("event_id"), buckets = 8,
        joinType = "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_name"), col("c_mktsegment"))
      .orderBy("event_id")

  private val q160Sql =
    """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- time-decay (half-life) score
  /** Recency-weighted engagement score with a one-week HALF-LIFE:
    * weight = 2^-(whole weeks before the anchor), so a user's score
    * is dominated by recent activity — the freshness prior
    * recommendation/curation pipelines put on interaction signals.
    * EXACT integer arithmetic end to end: value rides decimal cents
    * (core.Num), the decay is an arithmetic right-shift by the age
    * bucket (floor division by 2^age — no pow(), no float decay
    * factor whose last ulp differs per engine), and the per-user sum
    * of shifted longs is order-independent. One partial-agg shuffle;
    * the anchor is a fixed literal so the score is reproducible
    * (and incremental: yesterday's scores shift right once per
    * elapsed week and add the new week's mass). */
  val q164DecayScore: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("cents", (graft.core.Num.dec2(col("value")) * 100).cast("long"))
      .withColumn("age_wk",
        floor(datediff(lit("2024-02-01").cast("date"), col("ts").cast("date")) / 7)
          .cast("int"))
      .withColumn("decayed", expr("shiftright(cents, least(age_wk, 40))"))
      .groupBy("user_id")
      .agg(sum("decayed").as("decayed_cents"),
        sum("cents").as("raw_cents"), count(lit(1)).as("n"))
      .orderBy("user_id")

  private val q164Sql =
    """SELECT user_id,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      >> least(datediff('day', CAST(ts AS DATE), DATE '2024-02-01') // 7, 40))
      |    AS BIGINT) AS decayed_cents,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS raw_cents,
      |  COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- statistical aggregates
  /** Variance / stddev / correlation from EXACT moment sums: the
    * builtin corr/stddev stream doubles in partition order (different
    * low-order bits per run), so the moments (n, Σx, Σx², Σy, Σxy)
    * ride exact decimal partials instead and the closed-form
    * combines them in ONE deterministic double expression —
    * order-independent, merge-safe, and the same tree in both
    * engines. This is also the 100 TB shape: moments are algebraic
    * (map-side combinable), the final math is per-group scalar. */
  val q110StatsAgg: Q = (s, d) => {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    // decToDouble, not .cast("double"): the wide moment sums exceed
    // 2^53 in unscaled value, where the direct cast's double rounding
    // is engine-dependent (measured 1-ulp syy disagreement at
    // sf0.001 that flipped corr's last bit)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Num.decToDouble(sum(x)).as("sx"),
        Num.decToDouble(sum(x * x)).as("sxx"),
        Num.decToDouble(sum(y)).as("sy"),
        Num.decToDouble(sum(y * y)).as("syy"),
        Num.decToDouble(sum(x * y)).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean_qty"),
        // n=1 groups have no sample variance; zero variance has no
        // correlation — NULL per SQL convention, never a crash
        when(col("n") > 1,
          sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1))).otherwise(lit(null).cast("double"))
          .as("stddev_qty"),
        when((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n") * col("sxy") - col("sx") * col("sy"))
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy"))))
          .otherwise(lit(null).cast("double"))
          .as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private val q110Sql =
    """WITH s0 AS (SELECT l_returnflag, COUNT(*) AS n,
      |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS dsx,
      |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS dsxx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS dsy,
      |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS dsyy,
      |  SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS dsxy
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (SELECT l_returnflag, n,
      |  CAST(FLOOR(dsx) AS DOUBLE) + CAST(dsx - FLOOR(dsx) AS DOUBLE) AS sx,
      |  CAST(FLOOR(dsxx) AS DOUBLE) + CAST(dsxx - FLOOR(dsxx) AS DOUBLE) AS sxx,
      |  CAST(FLOOR(dsy) AS DOUBLE) + CAST(dsy - FLOOR(dsy) AS DOUBLE) AS sy,
      |  CAST(FLOOR(dsyy) AS DOUBLE) + CAST(dsyy - FLOOR(dsyy) AS DOUBLE) AS syy,
      |  CAST(FLOOR(dsxy) AS DOUBLE) + CAST(dsxy - FLOOR(dsxy) AS DOUBLE) AS sxy
      |  FROM s0)
      |SELECT l_returnflag, n,
      |       sx / n AS mean_qty,
      |       CASE WHEN n > 1
      |            THEN sqrt((sxx - sx * sx / n) / (n - 1)) END AS stddev_qty,
      |       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
      |            THEN (n * sxy - sx * sy)
      |                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      |            END AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- snowflake rollup
  /** Snowflake-dimension rollup (TPC-H Q5 shape): fact revenue
    * aggregated up a two-level dimension chain. The fact side is
    * partial-aggregated per supplier BELOW the joins — one pre-reduced
    * row per suppkey reaches the join instead of every lineitem — and
    * all three dimensions broadcast (they are catalog-sized at any
    * scale factor). The textbook star/snowflake plan: no fact-side
    * shuffle beyond its own aggregation. */
  val q112SupplierRollup: Q = (s, d) => {
    val perSupp = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(Num.D2) - dec2(col("l_discount"))))
        .as("rev"), count(lit(1)).as("n_items"))
    perSupp
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      // decToDouble: the revenue sum is a scale-4 product aggregate
      // whose unscaled value approaches 2^53 with scale factor — the
      // regime where a direct cast double-rounds engine-dependently
      .agg(Num.decToDouble(sum(col("rev"))).as("revenue"),
        sum(col("n_items")).cast("long").as("n_items"),
        count_distinct(col("s_suppkey")).as("n_suppliers"))
      .orderBy("r_name", "n_name")
  }

  private val q112Sql =
    """WITH ps AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev,
      |         COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1)
      |SELECT r_name, n_name,
      |       CAST(FLOOR(SUM(rev)) AS DOUBLE)
      |         + CAST(SUM(rev) - FLOOR(SUM(rev)) AS DOUBLE) AS revenue,
      |       CAST(SUM(n_items) AS BIGINT) AS n_items,
      |       COUNT(DISTINCT s_suppkey) AS n_suppliers
      |FROM ps
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- distribution windows
  /** Distribution window kit — ntile / percent_rank / cume_dist over
    * a TOTAL order (ties broken by key, so peer groups are single
    * rows and every rank-derived ratio is a deterministic
    * small-integer fraction). One hash exchange on the partition
    * key; per-key sort inside the window — the standard
    * quartile-assignment / percentile-score projection. */
  val q111RankKit: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d).filter(col("o_orderkey") < 2000)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  private val q111Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |       ntile(4) OVER w AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume
      |FROM orders WHERE o_orderkey < 2000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- event-time session windows
  /** Gap-close sessionization as a BATCH query — the `session_window`
    * semantics StreamingJobs.sessionCounts uses, hash-gated against a
    * classic gaps-and-islands oracle (lag + running break-sum).
    * Boundary rule: an event exactly `gap` after the previous one
    * starts a NEW session (Spark's [start, last+gap) interval), hence
    * the STRICT `<` in the oracle's merge condition. */
  val q86Session: Q = (s, d) =>
    Tables.events(s, d).filter(col("user_id") < 100)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n"), col("sum_value"))
      .orderBy("user_id", "sess_start")

  private val q86Sql =
    """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 100),
      |m AS (SELECT user_id, ts, value,
      |             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                       < INTERVAL 10 MINUTE
      |                  THEN 0 ELSE 1 END AS brk
      |      FROM e),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                               ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM m)
      |SELECT min(ts) AS sess_start,
      |       max(ts) + INTERVAL 10 MINUTE AS sess_end,
      |       user_id, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin

  // ---------------------------------------------------------------- A11 rollup (native)
  /** Native ROLLUP over the status hierarchy (SURVEY A11 — the
    * reference computes its week/month/YTD and per-flag/total layers
    * with separate scans; rollup produces every level in ONE pass
    * with partial aggregation at each grouping set). Null grouping
    * cells are labeled 'ALL' so the Spark and DuckDB results align on
    * plain string columns. */
  val q57Rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_price"), col("n_items"))
      .orderBy("returnflag", "linestatus")

  private val q57Sql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- T1 per-key (custom plan)
  /** Per-key top-k through the custom Catalyst operator
    * (plans.TopKPerKey: logical node + strategy + partial/final
    * physical pair): top-2 orders per customer by price. The partial
    * exec bounds what crosses the shuffle to k rows per (key,
    * partition) and NO sort appears anywhere in the plan — the
    * scale-shaped alternative to the window/row_number formulation
    * the oracle replays. */
  val q56TopKPerKey: Q = (s, d) =>
    graft.plans.TopKPerKey.topK(
      Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
      keys = Seq(col("o_custkey")),
      order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 2)
      .orderBy("o_custkey", "o_orderkey")

  private val q56Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- T2/W7
  /** Custom multi-key sort chunked into fixed-width wide rows (SURVEY
    * T2, ref culling.py:258-309 — "other" code last, count desc, then
    * packed 15 per output row; here width 5 over part brands). */
  val q22Chunked: Q = (s, d) => {
    val counts = Tables.part(s, d).groupBy("p_brand").agg(count(lit(1)).as("n"))
    val othersLast = when(col("p_brand") === "Brand#55", 1).otherwise(0)
    Ranking.chunkWide(counts,
        ord = Seq(othersLast, col("n").desc, col("p_brand")),
        valueCol = "p_brand", width = 5)
      .orderBy("chunk_no")
  }

  private val q22Sql = {
    val cells = (0 until 5).map(i =>
      s"MAX(CASE WHEN __i % 5 = $i THEN p_brand END) AS p_brand_${i + 1}").mkString(",\n ")
    s"""WITH c AS (SELECT p_brand, COUNT(*) AS n FROM part GROUP BY 1),
       |o AS (SELECT p_brand,
       |        row_number() OVER (ORDER BY CASE WHEN p_brand = 'Brand#55' THEN 1 ELSE 0 END, n DESC, p_brand) - 1 AS __i
       |      FROM c)
       |SELECT CAST(__i // 5 AS BIGINT) AS chunk_no,
       | $cells
       |FROM o GROUP BY 1 ORDER BY chunk_no""".stripMargin
  }

  // ---------------------------------------------------------------- §2.7
  /** UNION ALL of heterogeneous tagged branches (SURVEY §2.7, ref
    * schedule.py:436-507 five mating-candidate branches; alert.py:
    * 181-187 five alert types). */
  val q23Union: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val big = o.filter(col("o_totalprice") > 150000.0).withColumn("tag", lit("BIG"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").withColumn("tag", lit("URGENT"))
    val recent = o.filter(col("o_orderdate") >= to_timestamp(lit("2001-06-01")))
      .withColumn("tag", lit("RECENT"))
    big.unionByName(urgent).unionByName(recent)
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("tag")
  }

  private val q23Sql =
    """WITH u AS (
      |  SELECT *, 'BIG' AS tag FROM orders WHERE o_totalprice > 150000
      |  UNION ALL
      |  SELECT *, 'URGENT' AS tag FROM orders WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT *, 'RECENT' AS tag FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01')
      |SELECT tag, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM u GROUP BY tag ORDER BY tag""".stripMargin

  // ----------------------------------------------------------------
  // ---------------------------------------------------------------- event funnel
  /** Step-ordered conversion funnel over the event stream: first
    * view -> first click within 1h OF THAT VIEW -> first purchase
    * within 24h of that click. Each stage is one keyed aggregate
    * joined forward (the strictly-sequential semantics window
    * functions can't express without per-user sorts); timestamps
    * compare as exact epoch-MICROS integers on both engines (Spark
    * reads the nanos parquet floored to micros; the oracle floors
    * the same way — a raw nanos compare could order two events a
    * sub-microsecond apart differently). Mean stage lag is an exact
    * int64 sum with one final double division. */
  val q133Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tu")).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tu") > col("t_view") &&
        col("tu") <= col("t_view") + lit(3600000000L))
      .groupBy("user_id").agg(min(col("tu")).as("t_click"))
    val cLag = c.join(v, "user_id")
      .select(col("user_id"), col("t_click"), (col("t_click") - col("t_view")).as("lag_us"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tu") > col("t_click") &&
        col("tu") <= col("t_click") + lit(86400000000L))
      .groupBy("user_id").agg(min(col("tu")).as("t_purchase"))
    val pLag = p.join(c, "user_id")
      .select(col("user_id"), (col("t_purchase") - col("t_click")).as("lag_us"))
    def stage(nm: String, df: DataFrame, lag: Option[DataFrame]): DataFrame = {
      val n = df.agg(count(lit(1)).as("n_users"))
      lag match {
        case None => n.select(lit(nm).as("stage"), col("n_users"),
          lit(null).cast("double").as("mean_lag_us"))
        case Some(l) => n.crossJoin(
            l.agg(sum(col("lag_us")).as("s"), count(lit(1)).as("k")))
          .select(lit(nm).as("stage"), col("n_users"),
            (col("s").cast("double") / col("k")).as("mean_lag_us"))
      }
    }
    stage("1_view", v, None)
      .unionByName(stage("2_click", c, Some(cLag)))
      .unionByName(stage("3_purchase", p, Some(pLag)))
      .orderBy("stage")
  }

  private val q133Sql =
    """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tu FROM events),
      |v AS (SELECT user_id, MIN(tu) AS t_view FROM ev
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.tu) AS t_click
      |      FROM ev e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.tu > v.t_view
      |        AND e.tu <= v.t_view + 3600000000 GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.tu) AS t_purchase
      |      FROM ev e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.tu > c.t_click
      |        AND e.tu <= c.t_click + 86400000000 GROUP BY 1),
      |cl AS (SELECT c.user_id, c.t_click - v.t_view AS lag_us
      |       FROM c JOIN v USING (user_id)),
      |pl AS (SELECT p.user_id, p.t_purchase - c.t_click AS lag_us
      |       FROM p JOIN c USING (user_id))
      |SELECT '1_view' AS stage, COUNT(*) AS n_users,
      |       CAST(NULL AS DOUBLE) AS mean_lag_us FROM v
      |UNION ALL
      |SELECT '2_click', COUNT(*),
      |       (SELECT CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) FROM cl) FROM c
      |UNION ALL
      |SELECT '3_purchase', COUNT(*),
      |       (SELECT CAST(SUM(lag_us) AS DOUBLE) / COUNT(*) FROM pl) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- cohort retention
  /** Weekly cohort retention matrix: users cohorted by the ISO week
    * of their FIRST event; a cohort-week cell counts distinct users
    * active in cohort-week + offset. Two keyed aggregates and a
    * distinct — the standard retention triangle; every derived value
    * (week starts, offsets, rates) is exact date/int arithmetic with
    * one final double division per cell. */
  val q134CohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("aw"))
    val coh = ev.groupBy("user_id").agg(min(col("aw")).as("cw"))
    val act = ev.distinct()
    val cohSize = coh.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
    act.join(coh, "user_id")
      .groupBy(col("cw"), (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(cohSize, "cw")
      .select(col("cw").as("cohort_week"), col("week_offset"),
        col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort")).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  private val q134Sql =
    """WITH ev AS (SELECT user_id,
      |                   CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS aw
      |            FROM events),
      |coh AS (SELECT user_id, MIN(aw) AS cw FROM ev GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, aw FROM ev),
      |cs AS (SELECT cw, COUNT(*) AS n_cohort FROM coh GROUP BY 1),
      |cell AS (SELECT coh.cw, CAST((act.aw - coh.cw) // 7 AS INT) AS week_offset,
      |                COUNT(DISTINCT act.user_id) AS n_active
      |         FROM act JOIN coh USING (user_id) GROUP BY 1, 2)
      |SELECT cell.cw AS cohort_week, cell.week_offset, cell.n_active, cs.n_cohort,
      |       CAST(cell.n_active AS DOUBLE) / cs.n_cohort AS retention
      |FROM cell JOIN cs USING (cw)
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- time-weighted average
  /** Time-weighted average of a sampled signal (the TWA every
    * monitoring/billing pipeline computes over irregular samples):
    * each observation holds its value until the next one, so the
    * mean weights each value by its holding interval. Per user over
    * the 'value' series: lead(ts) gives the interval end (last
    * observation contributes nothing — no extrapolation). All
    * arithmetic is exact int64: value quantized at 1e6, gap in
    * SECONDS (products <= 1e8 * 2.6e3 per row — no overflow at any
    * realistic cardinality), ONE double division at the end. One
    * window + one keyed aggregate, both on user_id — a single
    * exchange reused. */
  val q136TimeWeightedAvg: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    val ev = Tables.events(s, d)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("tu_next", lead(col("tu"), 1).over(w))
      .filter(col("tu_next").isNotNull)
      .select(col("user_id"),
        (round(col("value") * 1e6).cast("long") *
          expr("(tu_next - tu) div 1000000")).as("vw"),
        expr("(tu_next - tu) div 1000000").as("gap_s"))
    ev.groupBy("user_id")
      .agg(sum(col("vw")).as("sum_vw"), sum(col("gap_s")).as("sum_gap_s"),
        count(lit(1)).as("n_intervals"))
      .withColumn("twa",
        col("sum_vw").cast("double") / (col("sum_gap_s") * lit(1000000L)))
      .orderBy("user_id")
  }

  private val q136Sql =
    """WITH ev AS (SELECT user_id, event_id, value,
      |                   epoch_ns(ts) // 1000 AS tu
      |            FROM events WHERE user_id < 30),
      |led AS (SELECT user_id, value, tu,
      |               lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
      |                 AS tu_next
      |        FROM ev),
      |iv AS (SELECT user_id,
      |              CAST(round(value * 1e6) AS BIGINT)
      |                * ((tu_next - tu) // 1000000) AS vw,
      |              (tu_next - tu) // 1000000 AS gap_s
      |       FROM led WHERE tu_next IS NOT NULL)
      |SELECT user_id, CAST(SUM(vw) AS BIGINT) AS sum_vw,
      |       CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
      |       COUNT(*) AS n_intervals,
      |       CAST(SUM(vw) AS DOUBLE) / (CAST(SUM(gap_s) AS BIGINT) * 1000000)
      |         AS twa
      |FROM iv GROUP BY 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- rolling 7-day actives
  /** Rolling 7-day active users per day (the WAU-by-day metric):
    * exact distinct across a sliding window — which no window frame
    * can express (countDistinct over RANGE isn't a thing) — done the
    * distributed way: the distinct (user, day) relation joins a
    * 7-offset spine, so each activity row lands in the 7 window-end
    * days it supports, then one countDistinct per day. Output is
    * restricted to complete windows. At scale this is |activity| x 7
    * join rows into one agg — the exact form; the approximate form
    * swaps the distinct for per-day HLL register merges. */
  val q137RollingActives: Q = (s, d) => {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val bounds = days.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    // Guard: a span under 7 days has NO complete window. Spark's
    // sequence(start, stop) throws when start > stop with a positive
    // step, while DuckDB's generate_series returns empty — filter the
    // bounds row away first so both engines agree on the empty result.
    val spine = bounds.filter(col("d1") >= date_add(col("d0"), 6))
      .select(explode(expr(
        "sequence(date_add(d0, 6), d1, interval 1 day)")).as("win_end"))
    days.join(spine,
        col("day") >= date_sub(col("win_end"), 6) && col("day") <= col("win_end"))
      .groupBy("win_end")
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("win_end")
  }

  private val q137Sql =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM days),
      |spine AS (SELECT CAST(unnest(generate_series(d0 + 6, d1, INTERVAL 1 DAY)) AS DATE)
      |            AS win_end
      |          FROM b)
      |SELECT s.win_end, COUNT(DISTINCT d.user_id) AS wau
      |FROM days d JOIN spine s
      |  ON d.day >= s.win_end - 6 AND d.day <= s.win_end
      |GROUP BY 1 ORDER BY s.win_end""".stripMargin

  // ---------------------------------------------------------------- rolling actives via sketches
  /** q137's 100 TB path: rolling 7-day actives from MERGEABLE daily
    * HLL sketches (functions.HllSketch / HllMerge). The exact form
    * fans the whole distinct activity RELATION out 7x; this builds
    * ONE 64-byte sketch per day (raw events never deduped — HLL is
    * duplicate-blind) and fans out 7 sketch ROWS per window end, then
    * merges registers. At warehouse scale the daily sketch table is
    * what you persist; any window/rollup is a register merge, never a
    * re-scan. Same md5-60bit register contract as q54, so the oracle
    * replays every register of every merged window bit-for-bit. */
  val q146RollingActivesHll: Q = (s, d) => {
    import graft.functions.HyperLogLog
    val ev = Tables.events(s, d)
      .select(col("user_id").cast("string").as("u"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("day").agg(HyperLogLog.hllSketch(col("u")).as("sk"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds.filter(col("d1") >= date_add(col("d0"), 6))
      .select(explode(expr(
        "sequence(date_add(d0, 6), d1, interval 1 day)")).as("win_end"))
    daily.join(spine,
        col("day") >= date_sub(col("win_end"), 6) && col("day") <= col("win_end"))
      .groupBy("win_end")
      .agg(HyperLogLog.hllMergeEstimate(col("sk")).as("wau_hll"))
      .orderBy("win_end")
  }

  private val q146Sql = {
    val rankCase = (53 to 0 by -1)
      .map(k => s"WHEN r >= ${1L << k} THEN ${54 - k}")
      .mkString("CASE WHEN r = 0 THEN 55 ", " ", " END")
    s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u, CAST(ts AS DATE) AS day
       |            FROM events),
       |h AS (SELECT DISTINCT day, ('0x' || substr(md5(u), 1, 15))::BIGINT AS h FROM ev),
       |br AS (SELECT day, h % 64 AS b, h // 64 AS r FROM h),
       |rk AS (SELECT day, b, MAX($rankCase) AS m FROM br GROUP BY 1, 2),
       |bnd AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
       |spine AS (SELECT CAST(unnest(generate_series(d0 + 6, d1, INTERVAL 1 DAY)) AS DATE)
       |            AS win_end
       |          FROM bnd),
       |wr AS (SELECT s.win_end, rk.b, MAX(rk.m) AS m
       |       FROM spine s JOIN rk ON rk.day >= s.win_end - 6 AND rk.day <= s.win_end
       |       GROUP BY 1, 2),
       |-- windows with NO event-day drop entirely (the Spark side's
       |-- inner spine join and the exact q137 form agree); only windows
       |-- with >=1 daily sketch zero-fill their missing buckets
       |regs AS (SELECT s.win_end, g.b, COALESCE(wr.m, 0) AS m
       |         FROM (SELECT DISTINCT win_end FROM wr) s
       |         CROSS JOIN (SELECT unnest(range(64)) AS b) g
       |         LEFT JOIN wr ON wr.win_end = s.win_end AND wr.b = g.b),
       |sm AS (SELECT win_end, SUM(CAST(pow(2, 55 - m) AS BIGINT)) AS si FROM regs GROUP BY 1)
       |SELECT win_end,
       |       ((0.709::DOUBLE * 4096::DOUBLE) * 36028797018963968::DOUBLE) / (si::DOUBLE)
       |         AS wau_hll
       |FROM sm ORDER BY win_end""".stripMargin
  }

  // ---------------------------------------------------------------- hdr quantile sketch rollup
  /** Mergeable QUANTILE sketches ([[graft.functions.HdrHistogram]])
    * — the rank-statistics completion of the sketch family (q146
    * HLL distincts, q147 CMS heavy hitters): per-language HDR
    * histograms of document length, plus the global row ('*') MERGED
    * from the per-language sketches — never rebuilt from raw values.
    * Because a value's bucket is a pure function of the value, the
    * merged sketch of a union equals the directly-built one exactly,
    * at ANY scale — the oracle rebuilds both from raw values with the
    * same integer bit arithmetic and must agree bit-for-bit. The
    * per-language sketch frame is lang-count rows x 15 KB — localized
    * ([[graft.ops.Materialize.localize]]) as the stand-in for the
    * PERSISTED sketch table this architecture stores at 100 TB, so
    * the corpus is scanned once, not once per consumer. */
  val q150HdrQuantiles: Q = (s, d) => {
    import graft.functions.HdrHistogram
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("n_chars").cast("long").as("v"))
    val perLang = graft.ops.Materialize.localize(
      docs.groupBy("lang").agg(
        HdrHistogram.hdr(col("v")).as("sk"), count(lit(1)).as("n")))
    val global = perLang
      .agg(HdrHistogram.hdrMerge(col("sk")).as("sk"), sum("n").as("n"))
      .select(lit("*").as("lang"), col("sk"), col("n"))
    perLang.select(col("lang"), col("sk"), col("n")).unionByName(global)
      .select(col("lang"), col("n"),
        HdrHistogram.quantile(col("sk"), 1, 2).as("p50"),
        HdrHistogram.quantile(col("sk"), 9, 10).as("p90"),
        HdrHistogram.quantile(col("sk"), 99, 100).as("p99"))
      .orderBy("lang")
  }

  /** DuckDB replay of the HDR bucket math: msb from the binary digit
    * count, bucket = (msb-K+1)*2^K + ((v >> (msb-K)) - 2^K), quantile
    * = lower bound of the first bucket whose cumulative count reaches
    * ceil(n*p) — all integer, no logs. */
  private val q150Sql =
    """WITH v AS (SELECT lang, greatest(n_chars, 0) AS v FROM documents),
      |b AS (SELECT lang,
      |        CASE WHEN v < 32 THEN v
      |             ELSE (length(format('{:b}', v)) - 5) * 32
      |                  + ((v >> (length(format('{:b}', v)) - 6)) - 32)
      |        END AS b,
      |        COUNT(*) AS cnt
      |      FROM v GROUP BY 1, 2),
      |a AS (SELECT * FROM b
      |      UNION ALL
      |      SELECT '*' AS lang, b, SUM(cnt) AS cnt FROM b GROUP BY 2),
      |c AS (SELECT lang, b, cnt,
      |             SUM(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
      |             SUM(cnt) OVER (PARTITION BY lang) AS n
      |      FROM a),
      |q AS (SELECT lang, n,
      |        MIN(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS b50,
      |        MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN b END) AS b90,
      |        MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN b END) AS b99
      |      FROM c GROUP BY 1, 2)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN b50 < 32 THEN b50
      |            ELSE (32 + b50 % 32) << (b50 // 32 - 1) END AS BIGINT) AS p50,
      |  CAST(CASE WHEN b90 < 32 THEN b90
      |            ELSE (32 + b90 % 32) << (b90 // 32 - 1) END AS BIGINT) AS p90,
      |  CAST(CASE WHEN b99 < 32 THEN b99
      |            ELSE (32 + b99 % 32) << (b99 // 32 - 1) END AS BIGINT) AS p99
      |FROM q ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- weighted hdr quantiles
  /** TOKEN-MASS quantiles by document length
    * ([[graft.functions.HdrWeighted]]): each document contributes
    * its token count — not 1 — to its length bucket, so p50 answers
    * "half the corpus's TOKEN BUDGET sits in documents shorter than
    * this", the statistic that actually drives packing/truncation
    * decisions (q106's seq-len choice, long-doc truncation loss
    * estimates); q150's unweighted twin answers "half the DOCUMENTS
    * are shorter". Same buckets/counters/merge-invariance as q150:
    * the '*' row is merged from the per-lang sketches and must equal
    * a direct build bit-for-bit at any scale. */
  val q156WeightedQuantiles: Q = (s, d) => {
    import graft.functions.HdrHistogram
    val docs = Tables.documents(s, d)
      .select(col("lang"), col("n_chars").cast("long").as("v"),
        graft.ops.text.TextOps.nWsTokens(col("text")).cast("long").as("w"))
    val perLang = graft.ops.Materialize.localize(
      docs.groupBy("lang").agg(
        HdrHistogram.hdrWeighted(col("v"), col("w")).as("sk")))
    val global = perLang
      .agg(HdrHistogram.hdrMerge(col("sk")).as("sk"))
      .select(lit("*").as("lang"), col("sk"))
    perLang.select(col("lang"), col("sk")).unionByName(global)
      .select(col("lang"),
        HdrHistogram.total(col("sk")).as("tok_mass"),
        HdrHistogram.quantile(col("sk"), 1, 2).as("p50_len"),
        HdrHistogram.quantile(col("sk"), 9, 10).as("p90_len"))
      .orderBy("lang")
  }

  private val q156Sql =
    """WITH v AS (SELECT lang, greatest(n_chars, 0) AS v,
      |                  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w
      |           FROM documents),
      |b AS (SELECT lang,
      |        CASE WHEN v < 32 THEN v
      |             ELSE (length(format('{:b}', v)) - 5) * 32
      |                  + ((v >> (length(format('{:b}', v)) - 6)) - 32)
      |        END AS b,
      |        SUM(w) AS cnt
      |      FROM v WHERE w >= 1 GROUP BY 1, 2),
      |a AS (SELECT * FROM b
      |      UNION ALL
      |      SELECT '*' AS lang, b, SUM(cnt) AS cnt FROM b GROUP BY 2),
      |c AS (SELECT lang, b, cnt,
      |             SUM(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
      |             SUM(cnt) OVER (PARTITION BY lang) AS n
      |      FROM a),
      |q AS (SELECT lang, n,
      |        MIN(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS b50,
      |        MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN b END) AS b90
      |      FROM c GROUP BY 1, 2)
      |SELECT lang, CAST(n AS BIGINT) AS tok_mass,
      |  CAST(CASE WHEN b50 < 32 THEN b50
      |            ELSE (32 + b50 % 32) << (b50 // 32 - 1) END AS BIGINT) AS p50_len,
      |  CAST(CASE WHEN b90 < 32 THEN b90
      |            ELSE (32 + b90 % 32) << (b90 // 32 - 1) END AS BIGINT) AS p90_len
      |FROM q ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- z-order layout cells
  /** Z-order (Morton) clustering summary ([[graft.ops.ZOrder]]) —
    * the multi-dimensional data-LAYOUT operator: interleave the bits
    * of two quantized dimensions, group by a 1024-wide z range
    * ("what one output file would hold after a z-ordered write") and
    * report each cell's bounding box. The point the numbers make:
    * every cell's x-span and y-span are <= 32 — BOTH dimensions stay
    * narrow at once, so parquet min/max stats prune scans filtered
    * on either key (a 1-D sort gets ~full-range spans on the second
    * key). The interleave is pure codegen'd bit arithmetic, exactly
    * replayable by the oracle; ZOrderSpec asserts the layout/pruning
    * properties on the physical partitions themselves. */
  val q151ZOrderCells: Q = (s, d) => {
    import graft.ops.ZOrder
    val t = Tables.lineitem(s, d)
      .select((col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
    t.withColumn("z", ZOrder.zValue(Seq(col("x"), col("y")), 8))
      .groupBy((col("z") / 1024).cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("cell")
  }

  private val q151Sql = {
    val zExpr = (0 until 8).flatMap(i => Seq(
      s"(((x >> $i) & 1) << ${2 * i})",
      s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH t AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
       |z AS (SELECT x, y, $zExpr AS z FROM t)
       |SELECT z // 1024 AS cell, COUNT(*) AS n,
       |       MIN(x) AS x_min, MAX(x) AS x_max,
       |       MIN(y) AS y_min, MAX(y) AS y_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- join-key skew report
  /** Join-key skew report — the diagnostic that decides salting /
    * AQE-skew-join configuration before a big join ships: for each
    * candidate key of the fact table, one partial-agg pass yields
    * row count, distinct keys, the heaviest key and its share, and
    * skew = max_key_rows / (rows/keys). The heaviest key comes from
    * max(struct(cnt, key)) — a lexicographic struct max inside the
    * same aggregate, NOT a global window sort (which would funnel
    * every distinct key through one partition). Skew is exact-int
    * (max*keys as double)/rows. */
  val q138SkewReport: Q = (s, d) => {
    def keyStats(keyCol: String): DataFrame =
      Tables.lineitem(s, d)
        .groupBy(col(keyCol).cast("long").as("k")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_key_rows"),
          max(struct(col("cnt"), col("k"))).as("ms"))
        .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_key_rows"), col("ms.k").as("top_key"),
          ((col("max_key_rows") * col("n_keys")).cast("double") / col("n_rows"))
            .as("skew"))
    keyStats("l_orderkey")
      .unionByName(keyStats("l_partkey"))
      .unionByName(keyStats("l_suppkey"))
      .orderBy("key_col")
  }

  private val q138Sql = {
    def one(k: String) =
      s"""SELECT '$k' AS key_col,
         |       CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |       COUNT(*) AS n_keys,
         |       CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
         |       (SELECT CAST(k AS BIGINT) FROM
         |          (SELECT CAST($k AS BIGINT) AS k, COUNT(*) AS cnt
         |           FROM lineitem GROUP BY 1)
         |        ORDER BY cnt DESC, k DESC LIMIT 1) AS top_key,
         |       CAST(MAX(cnt) * COUNT(*) AS DOUBLE) / SUM(cnt) AS skew
         |FROM (SELECT CAST($k AS BIGINT) AS k, COUNT(*) AS cnt
         |      FROM lineitem GROUP BY 1)""".stripMargin
    s"""${one("l_orderkey")}
       |UNION ALL
       |${one("l_partkey")}
       |UNION ALL
       |${one("l_suppkey")}
       |ORDER BY key_col""".stripMargin
  }

  // ---------------------------------------------------------------- data-quality constraints
  /** Data-quality constraint gate (the dbt-test / expectations shape
    * every production pipeline runs before publishing a table): five
    * constraint classes — not-null, key uniqueness, accepted values,
    * referential integrity, numeric range — each one aggregate or
    * anti-join, unioned into a single report with exact violation
    * counts. Uniqueness counts VIOLATING ROWS (total - distinct);
    * referential integrity is a left-anti probe of the fact against
    * the broadcast dimension key set. Nothing here needs more than
    * one exchange per constraint, and the whole report is one job. */
  val q140QualityConstraints: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    def row(name: String, checked: Column, viol: Column, df: DataFrame): DataFrame =
      df.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"),
          when(col("n_violations") === 0, "Y").otherwise("N").as("pass"))
    val notNull = row("1_not_null_l_orderkey",
      count(lit(1)), sum(col("l_orderkey").isNull.cast("long")), li)
    val unique = row("2_unique_o_orderkey",
      count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")), ord)
    val accepted = row("3_accepted_l_returnflag",
      count(lit(1)),
      sum((!col("l_returnflag").isin("A", "N", "R")).cast("long")), li)
    val range = row("4_range_l_quantity",
      count(lit(1)),
      sum((col("l_quantity") < 1 || col("l_quantity") > 50).cast("long")), li)
    val orphans = li.join(ord.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_anti")
    val refInt = li.agg(count(lit(1)).as("n_checked"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
      .select(lit("5_ref_lineitem_orders").as("check_name"),
        col("n_checked"), col("n_violations"),
        when(col("n_violations") === 0, "Y").otherwise("N").as("pass"))
    notNull.unionByName(unique).unionByName(accepted)
      .unionByName(range).unionByName(refInt)
      .orderBy("check_name")
  }

  private val q140Sql =
    """SELECT '1_not_null_l_orderkey' AS check_name, COUNT(*) AS n_checked,
      |       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_violations,
      |       CASE WHEN SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
      |            THEN 'Y' ELSE 'N' END AS pass
      |FROM lineitem
      |UNION ALL
      |SELECT '2_unique_o_orderkey', COUNT(*),
      |       COUNT(*) - COUNT(DISTINCT o_orderkey),
      |       CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey) THEN 'Y' ELSE 'N' END
      |FROM orders
      |UNION ALL
      |SELECT '3_accepted_l_returnflag', COUNT(*),
      |       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
      |            AS BIGINT),
      |       CASE WHEN SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) = 0
      |            THEN 'Y' ELSE 'N' END
      |FROM lineitem
      |UNION ALL
      |SELECT '4_range_l_quantity', COUNT(*),
      |       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      |            AS BIGINT),
      |       CASE WHEN SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
      |            THEN 'Y' ELSE 'N' END
      |FROM lineitem
      |UNION ALL
      |SELECT '5_ref_lineitem_orders',
      |       (SELECT COUNT(*) FROM lineitem),
      |       (SELECT COUNT(*) FROM lineitem l
      |        WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                          WHERE o.o_orderkey = l.l_orderkey)),
      |       CASE WHEN (SELECT COUNT(*) FROM lineitem l
      |                  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                                    WHERE o.o_orderkey = l.l_orderkey)) = 0
      |            THEN 'Y' ELSE 'N' END
      |ORDER BY check_name""".stripMargin

  val all: Map[String, Q] = Map(
    "q140_quality_constraints" -> q140QualityConstraints,
    "q138_skew_report" -> q138SkewReport,
    "q133_funnel" -> q133Funnel,
    "q134_cohort_retention" -> q134CohortRetention,
    "q136_time_weighted_avg" -> q136TimeWeightedAvg,
    "q137_rolling_actives" -> q137RollingActives,
    "q146_rolling_actives_hll" -> q146RollingActivesHll,
    "q150_hdr_quantiles" -> q150HdrQuantiles,
    "q151_zorder_cells" -> q151ZOrderCells,
    "q156_weighted_quantiles" -> q156WeightedQuantiles,
    "q13_pivot_years" -> q13Pivot,
    "q14_histogram_share" -> q14Hist,
    "q15_weighted_avg" -> q15WeightedAvg,
    "q16_avg_of_ratios" -> q16AvgOfRatios,
    "q17_mode" -> q17Mode,
    "q18_ytd_rollup" -> q18Ytd,
    "q19_pivot_first" -> q19PivotFirst,
    "q20_distinct" -> q20Distinct,
    "q21_topn" -> q21TopN,
    "q22_chunked_sort" -> q22Chunked,
    "q23_union_branches" -> q23Union,
    "q56_topk_per_key" -> q56TopKPerKey,
    "q57_rollup" -> q57Rollup,
    "q84_tumbling_window" -> q84Tumbling,
    "q107_salted_agg" -> q107SaltedAgg,
    "q160_salted_join" -> q160SaltedJoin,
    "q164_decay_score" -> q164DecayScore,
    "q110_stats_agg" -> q110StatsAgg,
    "q112_supplier_rollup" -> q112SupplierRollup,
    "q111_rank_kit" -> q111RankKit,
    "q85_topk_rewrite" -> q85TopkRewrite,
    "q86_session_window" -> q86Session,
    "q87_quantiles" -> q87Quantiles,
    "q88_grouping_sets" -> q88GroupingSets,
    "q89_set_ops" -> q89SetOps,
  )

  val oracle: Map[String, String] = Map(
    "q140_quality_constraints" -> q140Sql,
    "q138_skew_report" -> q138Sql,
    "q133_funnel" -> q133Sql,
    "q134_cohort_retention" -> q134Sql,
    "q136_time_weighted_avg" -> q136Sql,
    "q137_rolling_actives" -> q137Sql,
    "q146_rolling_actives_hll" -> q146Sql,
    "q150_hdr_quantiles" -> q150Sql,
    "q151_zorder_cells" -> q151Sql,
    "q156_weighted_quantiles" -> q156Sql,
    "q13_pivot_years" -> q13Sql,
    "q14_histogram_share" -> q14Sql,
    "q15_weighted_avg" -> q15Sql,
    "q16_avg_of_ratios" -> q16Sql,
    "q17_mode" -> q17Sql,
    "q18_ytd_rollup" -> q18Sql,
    "q19_pivot_first" -> q19Sql,
    "q20_distinct" -> q20Sql,
    "q21_topn" -> q21Sql,
    "q22_chunked_sort" -> q22Sql,
    "q23_union_branches" -> q23Sql,
    "q56_topk_per_key" -> q56Sql,
    "q57_rollup" -> q57Sql,
    "q84_tumbling_window" -> q84Sql,
    "q107_salted_agg" -> q107Sql,
    "q160_salted_join" -> q160Sql,
    "q164_decay_score" -> q164Sql,
    "q110_stats_agg" -> q110Sql,
    "q112_supplier_rollup" -> q112Sql,
    "q111_rank_kit" -> q111Sql,
    "q85_topk_rewrite" -> q56Sql,
    "q86_session_window" -> q86Sql,
    "q87_quantiles" -> q87Sql,
    "q88_grouping_sets" -> q88Sql,
    "q89_set_ops" -> q89Sql,
  )
}
