package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Inclusive running sum `out` of the BIGINT expression `value` over the
  * child's partition order: partition i's rows count after every row of
  * partitions 0..i-1. Over a range-partitioned, partition-sorted child that
  * is the global `SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`
  * without a single-task window; with `value = 1` it is `row_number()`. A
  * null `value` adds nothing. No optimizer rule pushes a filter or limit
  * through an unknown node, so predicates on `out` stay above it. The
  * analyzer cannot give `out` a fresh id on one side of a join
  * (MultiInstanceRelation would re-instance every PrefixSum nested over
  * another on each analyzer pass), so a frame holding the node is not
  * joined with itself while `out` is in both sides' output. */
case class PrefixSum(value: Expression, out: Attribute, child: LogicalPlan) extends UnaryNode {
  require(value.dataType == LongType, s"PrefixSum needs a BIGINT value, got ${value.dataType}")
  // evaluated once per pass: both passes must read the same value
  require(value.deterministic, s"PrefixSum needs a deterministic value, got $value")
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixSum =
    copy(child = newChild)
}

/** Registered in graft.expr.GraftExtensions next to TopKStrategy. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSum(value, out, child) => PrefixSumExec(value, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The two-pass distributed prefix sum, run inside the query's own
  * execution: per-partition totals (one long per partition on the
  * driver), their exclusive scan, then an emit pass that starts each
  * partition at its offset. Both passes must see identical rows.
  * Shuffle-output reuse gives that for a deterministic child; a child
  * with a nondeterministic expression (rand(), first() over unordered
  * groups) is persisted for the two passes, since recomputing it after a
  * lost shuffle file could misalign the offsets. */
case class PrefixSumExec(value: Expression, out: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    // one partition starts at offset 0: no totals pass, so nothing to pin
    val onePass = input.getNumPartitions <= 1
    // the helper's find descends into adaptive query stages
    val nondeterministic = !onePass && new AdaptiveSparkPlanHelper {}
      .find(child)(_.expressions.exists(!_.deterministic)).isDefined
    val rows =
      if (nondeterministic) input.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK) else input
    val v = BindReferences.bindReference(value, child.output)
    val add = (s: Long, r: InternalRow) => {
      val x = v.eval(r)
      if (x == null) s else s + x.asInstanceOf[Long]
    }
    val offsets =
      if (onePass) Array(0L)
      else rows.mapPartitions(it => Iterator(it.foldLeft(0L)(add))).collect().scanLeft(0L)(_ + _)
    val outAttrs = output
    rows.mapPartitionsWithIndex { (i, it) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val sum = new GenericInternalRow(1)
      val joined = new JoinedRow
      var s = offsets(i)
      it.map { r => s = add(s, r); sum.setLong(0, s); proj(joined(r, sum)) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixSumExec =
    copy(child = newChild)
}
