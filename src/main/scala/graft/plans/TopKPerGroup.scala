package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator Catalyst extension: top-k rows per group via bounded
  * heaps — logical node + planner strategy + physical operator, registered
  * through `SparkSessionExtensions.injectPlannerStrategy` (graft.expr
  * .GraftExtensions).
  *
  * Why a custom operator (SURVEY §7.4 level c): Spark expresses per-group
  * top-k as `row_number().over(partitionBy(g).orderBy(o)) <= k`, which
  * plans a WindowExec — a FULL SORT of every group (O(n log n) per
  * partition, spill-prone) just to discard all but k rows. This operator
  * keeps a k-bounded heap per group (O(n log k), memory bounded by
  * k·|groups-per-partition|) and — the scale win — prunes map-side BEFORE
  * the shuffle: the partial stage emits at most k rows per (input
  * partition, group), so the exchange moves ≤ k·P rows per group instead
  * of the whole fact table. Top-k of a union of per-partition top-ks is
  * the global top-k (monotone), so the two-stage plan is exact.
  *
  * Ties: callers must pass a TOTAL order (e.g. price DESC, id ASC) or the
  * surviving rows at the k boundary are unspecified — same contract as the
  * reference window pattern.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rankAttr: Option[Attribute] = None) extends UnaryNode {
  require(k > 0, "top-k needs k > 0")
  // Optional native rank emission: the final stage already holds each
  // group's k rows — sorting k elements per group is O(k log k), free next
  // to what the window row_number() formulation pays (a full sort of every
  // group).
  override def output: Seq[Attribute] = child.output ++ rankAttr.toSeq
  // the rank column originates HERE, not from the child — declare it so
  // CheckAnalysis doesn't flag it as a missing input attribute
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Plans the logical node as partial(map-side) -> final; EnsureRequirements
  * inserts the hash exchange between them via the final stage's
  * ClusteredDistribution requirement. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child, rank) =>
      // only the final stage emits ranks — the partial stage's output is a
      // pre-shuffle superset where ranks are not yet defined
      val partial = TopKPerGroupExec(g, o, k, partial = true, None, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, rank, partial) :: Nil
    case _ => Nil
  }
}

object TopKPerGroupExec {
  /** Partial-stage flush threshold in retained rows (~tens of MB of copied
    * UnsafeRows at typical widths). Past this, the map-side prune emits its
    * heaps and resets rather than growing with group cardinality — the
    * WindowExec it replaces would spill here; we degrade to a weaker prune
    * instead, which is strictly cheaper than no prune. A `var` only so the
    * spec can force the flush path on small data. */
  @volatile var PartialFlushRows: Long = 1L << 20
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr.toSeq
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr.toSeq)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  /** Memory contract: the heap map holds ≤ k rows per group PRESENT IN THE
    * PARTITION. The final stage is bounded by the shuffle — after the
    * ClusteredDistribution exchange each partition holds ~|groups|/numParts
    * groups, so memory is O(k·|groups|/numParts), same as a hash aggregate.
    * The PARTIAL stage sees every group in every input partition, so with
    * high group cardinality it flush-and-resets once the retained-row count
    * passes [[TopKPerGroupExec.PartialFlushRows]]: emit all current heaps
    * downstream and start fresh. Correct because a row evicted before a
    * flush was beaten by k same-group rows that ARE all emitted in that
    * flush — the true top-k can never include it; the flushed stream is a
    * superset of each group's top-k, which is all a partial prune promises. */
  override protected def doExecute(): RDD[InternalRow] = {
    val ge = groupExprs
    val so = order
    val childOutput = child.output
    val kk = k
    val flushRows =
      if (partial) TopKPerGroupExec.PartialFlushRows else Long.MaxValue
    val ranked = rankAttr.isDefined
    val outAttrs = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(ge, childOutput)
      // "best" row = first under the requested sort order
      val betterFirst = RowOrdering.create(so, childOutput)
      // max-heap: worst of the kept k at the head, evicted on a better row
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          betterFirst.compare(b, a)
      }
      new Iterator[InternalRow] {
        private val heaps =
          new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        private var retained = 0L
        private var out: Iterator[InternalRow] = Iterator.empty

        // identity projection materializing (row ++ rank) as an UnsafeRow
        private lazy val rankProj = UnsafeProjection.create(outAttrs, outAttrs)
        private val joined = new JoinedRow

        private def drain(): Iterator[InternalRow] = {
          import scala.jdk.CollectionConverters._
          val vs = new java.util.ArrayList(heaps.values())
          heaps.clear(); retained = 0L
          if (!ranked) vs.iterator().asScala.flatMap(_.iterator().asScala)
          else vs.iterator().asScala.flatMap { heap =>
            // k elements: sort best-first, rank 1..k
            val arr = heap.toArray(new Array[InternalRow](heap.size()))
            java.util.Arrays.sort(arr, betterFirst)
            Iterator.tabulate(arr.length) { i =>
              rankProj(joined(arr(i), new GenericInternalRow(Array[Any](i + 1))))
            }
          }
        }

        private def advance(): Unit = {
          while (!out.hasNext && (iter.hasNext || retained > 0)) {
            var flushed = false
            while (!flushed && iter.hasNext) {
              val row = iter.next()
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                heap = new java.util.PriorityQueue[InternalRow](kk, worstFirst)
                heaps.put(key.copy(), heap)
              }
              if (heap.size() < kk) {
                heap.add(row.copy())
                retained += 1
                if (retained >= flushRows) { out = drain(); flushed = true }
              } else if (betterFirst.compare(row, heap.peek()) < 0) {
                heap.poll()
                heap.add(row.copy())
              }
            }
            if (!flushed && !iter.hasNext) out = drain()
          }
        }

        override def hasNext: Boolean = { if (!out.hasNext) advance(); out.hasNext }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          out.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** DataFrame-level entry point. Columns are resolved BY NAME against the
  * child's analyzed output — Spark 4's Column objects carry lazy
  * ColumnNode wrappers that the analyzer only converts inside its own
  * operators, so a custom logical node must be built from already-resolved
  * attributes. */
object TopK {
  /** Top `k` rows of `df` per distinct value of `groupCols`, ordered by
    * `orderCols` as (name, ascending) pairs — pass a total order for
    * deterministic results. */
  def perKey(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val child = Bridge.logicalPlan(df)
    def attr(n: String): Attribute =
      child.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    Bridge.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(attr), order, k, child))
  }

  /** Like [[perKey]], but appends a 1-based `rankCol` (1 = best under the
    * requested order) computed natively by the final stage — the operator
    * already holds each group's k winners, so ranking them is O(k log k)
    * per group instead of the full-group sort a window function pays. */
  def perKeyRanked(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int, rankCol: String): DataFrame = {
    val child = Bridge.logicalPlan(df)
    def attr(n: String): Attribute =
      child.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    val rank = AttributeReference(rankCol, IntegerType, nullable = false)()
    Bridge.ofRows(df.sparkSession,
      TopKPerGroup(groupCols.map(attr), order, k, child, Some(rank)))
  }
}
