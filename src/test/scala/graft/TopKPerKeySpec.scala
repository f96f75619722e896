package graft

import org.apache.spark.sql.functions._
import graft.plans.TopKPerKey

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
    ("b", 5L, 5.0), ("b", 6L, 1.0),
    ("c", 7L, 7.0)
  ).toDF("k", "id", "v")

  test("top-k per key matches the window/row_number formulation") {
    val got = TopKPerKey.topK(df, Seq(col("k")), Seq(col("v").desc, col("id").asc), 2)
      .orderBy("k", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    // ties on v=30.0 break by id asc: (a,2) then (a,4)
    assert(got.toSeq == Seq(("a", 2L), ("a", 4L), ("b", 5L), ("b", 6L), ("c", 7L)))
  }

  test("agrees with window row_number under shuffled partitioning") {
    val big = (1 to 5000).map(i => (s"k${i % 37}", i.toLong, (i * 2654435761L % 997).toDouble))
      .toDF("k", "id", "v").repartition(13)
    val viaPlan = TopKPerKey.topK(big, Seq(col("k")), Seq(col("v").desc, col("id").asc), 3)
      .select("k", "id").orderBy("k", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id").asc)
    val viaWindow = big.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("k", "id").orderBy("k", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaPlan == viaWindow)
  }

  test("physical plan: partial below the exchange, no sort anywhere") {
    val plan = TopKPerKey.topK(df, Seq(col("k")), Seq(col("v").desc, col("id").asc), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(plan.contains("TopKPerKeyPartial"), plan)
    // partial must sit BELOW the exchange (map-side), final above
    val lines = plan.linesIterator.toSeq
    val iFinal = lines.indexWhere(_.contains("TopKPerKeyFinal"))
    val iEx = lines.indexWhere(_.contains("Exchange"))
    val iPartial = lines.indexWhere(_.contains("TopKPerKeyPartial"))
    assert(iFinal < iEx && iEx < iPartial, s"expected Final/Exchange/Partial order:\n$plan")
    assert(!plan.contains("Sort"), s"no sort should appear:\n$plan")
  }

  test("partial emits at most k rows per key per partition") {
    val big = (1 to 1000).map(i => ("hot", i.toLong, i.toDouble)).toDF("k", "id", "v")
      .repartition(4)
    // count what crosses the exchange: partial output == 4 partitions x k
    val planned = TopKPerKey.topK(big, Seq(col("k")), Seq(col("v").desc, col("id").asc), 5)
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // adaptive root whose children aren't visible until execution
    val partial = planned.queryExecution.sparkPlan.collectFirst {
      case p: graft.plans.TopKPerKey.TopKPerKeyPartialExec => p
    }.get
    assert(partial.execute().count() == 4 * 5)
  }

  test("optimizer rule rewrites window/row_number/filter into the custom plan") {
    val big = (1 to 2000).map(i => (s"k${i % 11}", i.toLong, (i * 2654435761L % 997).toDouble))
      .toDF("k", "id", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id").asc)
    // user writes plain window SQL and projects rn away...
    val q = big.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("k", "id", "v")
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains("TopKPerKeyFinal"), s"rule must fire:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort"), plan)
    // ...and the rows are the window rows
    val viaWindow = big.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("k", "id").orderBy("k", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = q.select("k", "id").orderBy("k", "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == viaWindow)
  }

  test("rule does NOT fire when the rank column is still referenced") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("k", "id", "rn") // rn survives -> semantics need the window
    val plan = q.queryExecution.sparkPlan.toString
    assert(!plan.contains("TopKPerKeyFinal"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("global top-k (no PARTITION BY) stays on Spark's native path") {
    // row_number() OVER (ORDER BY ...) with empty partition keys: the
    // rewrite must NOT fire (TopKPerKeyFinal would demand
    // ClusteredDistribution(Nil) and crash planning) — valid SQL that
    // works in stock Spark must keep working with extensions on
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").desc, col("id").asc)
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("k", "id")
    val plan = q.queryExecution.sparkPlan.toString // planning must not throw
    assert(!plan.contains("TopKPerKeyFinal"), plan)
    val got = q.orderBy("id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("a", 3L), ("a", 4L))) // v=30,30,20 top-3
  }

  // a rewritable frame: row_number() <= k with the rank projected away
  private def windowTop2(in: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id").asc)
    in.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("k", "id", "v")
  }

  // exchange ids are global counters, not plan shape
  private def planOf(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.executedPlan.toString.replaceAll("plan_id=\\d+", "plan_id=_")

  // a fresh Dataset over the same analyzed plan: optimized and planned
  // again (a Dataset caches its QueryExecution), same expression ids
  private def replan(q: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.GraftExpressionBridge._
    ofRows(q.sparkSession, logicalPlan(q))
  }

  test("a GraftSession session rewrites the window frame with no install call") {
    val fresh = spark.newSession() // no topK has run on it
    val plan = planOf(windowTop2(fresh.createDataFrame(df.rdd, df.schema)))
    assert(plan.contains("TopKPerKeyFinal") && plan.contains("TopKPerKeyPartial"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("executedPlan is the same planned first and planned after a topK call") {
    val fresh = spark.newSession() // same extensions, no queries run yet
    val q = windowTop2(fresh.createDataFrame(df.rdd, df.schema))
    val first = planOf(q)
    TopKPerKey.topK(fresh.createDataFrame(df.rdd, df.schema),
      Seq(col("k")), Seq(col("v").desc, col("id").asc), 1).collect()
    val after = planOf(replan(q))
    assert(first == after)
    assert(first.contains("TopKPerKeyFinal"), first)
  }

  test("session without extensions: topK plans and returns the same rows") {
    val plain = org.apache.spark.sql.PlainSession.on(spark)
    val order = Seq(col("v").desc, col("id").asc)
    def rows(in: org.apache.spark.sql.DataFrame) =
      TopKPerKey.topK(in, Seq(col("k")), order, 2).orderBy("k", "id")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val onPlain = TopKPerKey.topK(plain.createDataFrame(df.rdd, df.schema),
      Seq(col("k")), order, 2)
    assert(planOf(onPlain).contains("TopKPerKeyFinal"), planOf(onPlain))
    assert(rows(plain.createDataFrame(df.rdd, df.schema)) == rows(df))
  }

  test("session without extensions: a window frame stays a Window before and after topK") {
    val plain = org.apache.spark.sql.PlainSession.on(spark)
    val q = windowTop2(plain.createDataFrame(df.rdd, df.schema))
    val before = planOf(q)
    assert(before.contains("Window") && !before.contains("TopKPerKey"), before)
    TopKPerKey.topK(plain.createDataFrame(df.rdd, df.schema),
      Seq(col("k")), Seq(col("v").desc, col("id").asc), 1).collect()
    assert(planOf(replan(q)) == before)
  }
}
