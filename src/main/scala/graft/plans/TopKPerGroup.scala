package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-k-per-group as a whole-operator Catalyst extension (logical
  * node + planner strategy + physical operator): the plan of
  * [[graft.ops.Relational.topKPerGroup]], which builds the node, and of
  * the window form [[TopKRewrite]] rewrites. The window form,
  * `row_number() OVER (PARTITION BY g ORDER BY o) <= k`, plans as
  * Exchange → FULL SORT of every partition → Window → Filter,
  * materializing and ordering all n rows per group when only k survive.
  *
  * This operator keeps a SIZE-k BOUNDED HEAP per group instead:
  * one hash shuffle on the group keys (required child distribution),
  * then a single O(n log k) pass per partition — no full sort, no
  * window buffering, and rows that can't make the heap are never even
  * copied. At 100 TB with k=3 and million-row groups, the window form
  * sorts ~10^6 rows/group; this touches k.
  *
  * Semantics are the window form's (proven against it in PlansSpec and
  * oracle-gated by q05, q167 and q269): ties must be broken by a unique
  * trailing order column, as with any row_number use.
  *
  * The logical node's output is the child columns + the rank attribute.
  * The rank attribute is a constructor field so plan copies keep its exprId
  * stable (a body `val` would mint a fresh id per copy and orphan
  * downstream references).
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroup =>
      TopKPerGroupExec(t.groupExprs, t.orderExprs, t.k, t.rankAttr,
        planLater(t.child)) :: Nil
    case _ => Nil
  }

  /** Add the strategy to a live session (idempotent). Sessions built
    * with `spark.sql.extensions=graft.GraftExtensions` get it injected.
    */
  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
}

/** Physical operator: requires the child clustered on the group keys
  * (EnsureRequirements inserts the one hash shuffle), then one pass per
  * partition over size-k heaps. Rows that cannot beat the current
  * group's worst kept row are never copied.
  *
  * Memory: O(k × groups-per-partition) retained rows, with NO disk
  * spill — the right trade when k·|groups| per partition fits in
  * executor memory (the top-k-per-group norm). For pathologically many
  * groups per partition, raise shuffle partitions or write the window
  * form by hand (no session graft builds rewrites it), whose SortExec
  * spills.
  * Group keys are float-normalized, as a window's partition keys are.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val ord = orderExprs
    val kk = k
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g.map(GraftSqlBridge.normalizeFloats), childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      // Ascending comparator over the sort spec; the heap's head is the
      // WORST kept row (max under the spec).
      val cmp = RowOrdering.create(ord, childOutput)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(pq) =>
            if (pq.size < kk) pq.enqueue(rowProj(row).copy())
            else if (cmp.compare(row, pq.head) < 0) {
              pq.dequeue(): Unit
              pq.enqueue(rowProj(row).copy())
            }
          case None =>
            val pq = mutable.PriorityQueue.empty[UnsafeRow](
              cmp.asInstanceOf[Ordering[UnsafeRow]])
            pq.enqueue(rowProj(row).copy())
            heaps.put(key.copy(), pq)
        }
      }
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      heaps.valuesIterator.flatMap { pq =>
        // dequeueAll yields worst-first; reverse for rank order
        val best = pq.dequeueAll.reverse
        best.iterator.zipWithIndex.map { case (r, i) =>
          outProj(new JoinedRow(r, new GenericInternalRow(Array[Any](i + 1))))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
