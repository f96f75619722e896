package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule completing the TopKPerKey story: the ubiquitous
  * hand-written pattern
  *
  *   SELECT <cols w/o rn> FROM (
  *     SELECT *, row_number() OVER (PARTITION BY k ORDER BY o) rn ...)
  *   WHERE rn <= K
  *
  * is rewritten to the custom TopKPerKeyNode whenever the rank column
  * itself is projected away — same rows, but the full per-group
  * materialize-and-sort becomes bounded heaps with at most K rows per
  * (key, partition) crossing the shuffle (see TopKPerKey). Users keep
  * writing window SQL; the plan quietly stops sorting. Registered
  * next to the strategy in GraftExtensions, at session build only —
  * a strategy alone changes what CAN plan, a rule changes what DOES,
  * so adding the rule to a live session would make a query's plan
  * depend on what ran before it.
  *
  * Guards: single row_number window expression whose spec matches the
  * Window's partition/order; a bare `rn <= lit` / `rn < lit` /
  * `rn = 1` filter; BOTH partition keys and ORDER BY present — a
  * global top-k (no PARTITION BY) stays on Spark's native path
  * (TakeOrderedAndProject / WindowGroupLimit): TopKPerKeyFinalExec
  * would demand ClusteredDistribution(Nil), which Spark rejects at
  * planning. Ties behave like row_number: arbitrary within equal
  * keys — give a total order for determinism, exactly as with the
  * window form.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  private def kOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) && k == 1 => Some(1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(), spec), _)),
            part, order, child, _)))
        if part.nonEmpty && order.nonEmpty &&
          spec.partitionSpec == part && spec.orderSpec == order &&
          !projectList.exists(_.references.contains(alias.toAttribute)) =>
      kOf(cond, alias.toAttribute) match {
        case Some(k) if k > 0 =>
          // Spark's InferWindowGroupLimit may already have wrapped the
          // child in a WindowGroupLimit (its own sort-based rank-limit
          // pushdown); our bounded-heap operator subsumes it — unwrap,
          // or the plan double-pays with a sort below the heaps.
          val input = child match {
            case wgl: WindowGroupLimit => wgl.child
            case c => c
          }
          Project(projectList, TopKPerKey.TopKPerKeyNode(part, order, k, input))
        case _ => p
      }
  }
}
