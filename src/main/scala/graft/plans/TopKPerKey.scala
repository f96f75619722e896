package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Per-key top-k as a first-class Catalyst operator (logical node +
  * planner strategy + two physical operators), the §7.3 path (c)
  * showcase: an operator Spark's built-ins only express as
  * window/row_number/filter, which materializes and SORTS every group
  * in full before discarding all but k rows.
  *
  * This plan instead keeps a bounded heap per key on each input
  * partition (the "partial" exec, no distribution requirement), so the
  * shuffle that clusters by key carries AT MOST k rows per (key,
  * input-partition) — the same partial-aggregation shape that makes
  * sum/count scale, applied to order statistics. At 100 TB with hot
  * keys this is the difference between shuffling the whole fact table
  * and shuffling k rows per partition per key; the full sort never
  * happens anywhere.
  *
  * The reference's per-section "top N rows per farm" listings
  * (e.g. culling lists, shipment scatter caps) are this operator;
  * rank-window SQL is how its Oracle queries spell it.
  */
object TopKPerKey {

  /** Logical node: output = child output; `order` must be a total
    * order for deterministic results (break ties on a unique key). */
  case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
                            k: Int, child: LogicalPlan) extends UnaryNode {
    require(k > 0, "k must be positive")
    override def output: Seq[Attribute] = child.output
    override def maxRows: Option[Long] = child.maxRows
    override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
      copy(child = newChild)
  }

  /** Planner strategy: partial (map-side bounded heaps) under final
    * (clustered by key, exact top-k). */
  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, child) =>
        TopKPerKeyFinalExec(keys, order, k,
          TopKPerKeyPartialExec(keys, order, k, planLater(child))) :: Nil
      case _ => Nil
    }
  }

  /** One bounded-heap pass over an iterator: per key keep the k FIRST
    * rows under `order` (a max-heap per key holds the current worst;
    * a better row evicts it). Emits heap contents, per-key sorted. */
  private def boundedTopK(iter: Iterator[InternalRow], output: Seq[Attribute],
                          keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int): Iterator[InternalRow] = {
    val ord = GenerateOrdering.generate(order, output)
    val keyGen = UnsafeProjection.create(keys, output)
    val heaps = scala.collection.mutable.HashMap
      .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      // keyGen reuses one UnsafeRow: probe with it, copy only on first
      // sight of a key (not once per row)
      val probe = keyGen(row)
      val heap = heaps.get(probe) match {
        case Some(h) => h
        case None =>
          val h = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(probe.copy(), h)
          h
      }
      if (heap.size < k) heap.enqueue(row.copy())
      else if (ord.compare(row, heap.head) < 0) {
        heap.dequeue(); heap.enqueue(row.copy())
      }
    }
    heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
  }

  /** Map-side partial: at most k rows per (key, partition), no
    * distribution requirement, no shuffle. */
  case class TopKPerKeyPartialExec(keys: Seq[Expression], order: Seq[SortOrder],
                                   k: Int, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning = child.outputPartitioning
    override protected def doExecute(): RDD[InternalRow] = {
      val (o, ks, so, kk) = (output, keys, order, k)
      child.execute().mapPartitions(it => boundedTopK(it, o, ks, so, kk))
    }
    override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
      copy(child = newChild)
  }

  /** Reduce-side final: requires clustering by key (EnsureRequirements
    * inserts the hash exchange), emits the exact per-key top-k in
    * `order`. */
  case class TopKPerKeyFinalExec(keys: Seq[Expression], order: Seq[SortOrder],
                                 k: Int, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(keys) :: Nil
    // per-partition row pruning preserves the child's (key-clustered)
    // partitioning — without this override the node reports
    // UnknownPartitioning and EnsureRequirements inserts a SECOND
    // key exchange under any downstream keyed operator (measured in
    // r16: every rank-attach window above a TopK pair re-shuffled the
    // already-reduced winners)
    override def outputPartitioning = child.outputPartitioning
    override protected def doExecute(): RDD[InternalRow] = {
      val (o, ks, so, kk) = (output, keys, order, k)
      child.execute().mapPartitions(it => boundedTopK(it, o, ks, so, kk))
    }
    override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
      copy(child = newChild)
  }

  /** Make `TopKPerKeyNode` plannable on a session not built through
    * GraftSession (a SparkEntry caller may run the queries on a
    * session it builds itself). Idempotent, and the strategy
    * matches only TopKPerKeyNode, so no other query's plan changes;
    * the window rewrite rule is never added here. */
  private def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        TopKStrategy +: spark.experimental.extraStrategies

  /** DataFrame API: top `k` rows per `keys` group in `order` (give a
    * total order — break ties on a unique column — for deterministic
    * output). */
  def topK(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge._
    val spark = df.sparkSession
    ensureStrategy(spark)
    val sortOrder = order.map(toCatalyst(_) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    ofRows(spark, TopKPerKeyNode(keys.map(toCatalyst), sortOrder, k, logicalPlan(df)))
  }
}
