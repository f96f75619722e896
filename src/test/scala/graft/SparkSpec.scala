package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.pipeline.MetricsLog

/** Shared local session for specs (one per suite, guide-recommended). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR-only executor logging: the INFO firehose cost real wall
    // clock on 370 tests and buried the suite verdict lines a CI/
    // driver harness reads from the output tail (r16's recorded
    // test_tail was all INFO spam).
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with the text verifier's same-id = same-doc contract
    * guard on (`graft.dedup.assertContract=1`), restoring the previous
    * setting after. */
  protected def withContractGuard[A](body: => A): A = {
    val key = "graft.dedup.assertContract"
    val prev = sys.props.get(key)
    sys.props(key) = "1"
    try body finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  /** `body`'s result, with the Spark jobs and the root SQL executions
    * (one per action, however many jobs it runs) it started, counted
    * by a `MetricsLog` installed for the call. */
  protected def sparkWork[A](body: => A): (A, Long, Long) = {
    val log = MetricsLog.install(spark)
    try {
      val c0 = log.counters()
      val a = body
      val d = log.counters() - c0
      (a, d.jobs, d.sqlExecutions)
    } finally log.close()
  }

  /** Every node of a final plan, through AQE stages and cached plans. */
  protected def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      Seq(m.relation.cachedPlan)
    case _ => Nil
  }) ++ p.children).flatMap(nodes)
}
