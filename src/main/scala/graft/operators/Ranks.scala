package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** Distributed exact global ranking.
  *
  * `row_number()` over an empty window partition serializes the whole
  * input through ONE task — the classic 100 TB scale-killer (PlanShapeSpec
  * pins that no registered query does it over unbounded input). The exact
  * same total order can be computed distributed with the standard two-pass
  * shape every large-scale engine uses:
  *
  *   1. range-partition + sort by the order keys (a distributed sort —
  *      Spark samples split points, every partition sorts in parallel);
  *   2. a [[PrefixSum]] over the sorted partitions: per-partition totals,
  *      their exclusive scan, then each row's offset + running value.
  *
  * Every function here returns a lazy frame: the planned [[PrefixSum]]
  * operator runs both of its passes inside the query's own execution.
  * The order must be TOTAL (include a tiebreaker column) for the result to
  * be deterministic and oracle-comparable; range partitioning never splits
  * equal keys across partitions, so a total order guarantees the global
  * index equals the single-task `row_number`.
  */
object Ranks {

  /** `df` range-partitioned and sorted by `order`, with the inclusive
    * running sum of `value` (cast to BIGINT) appended as `out`. */
  private def prefixSum(df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    // analysis resolves `value` against the sorted frame's own attributes
    Bridge.logicalPlan(sorted.select(value.cast("long"))) match {
      case Project(Seq(Alias(v, _)), child) =>
        Bridge.ofRows(df.sparkSession,
          PrefixSum(v, AttributeReference(out, LongType, nullable = false)(), child))
    }
  }

  /** Append a 1-based BIGINT `out` column holding the exact global
    * row_number of the TOTAL order `order`. Project `df` to the minimal
    * columns first — every column is carried through the sort. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame =
    prefixSum(df, order, org.apache.spark.sql.functions.lit(1L), out)

  /** Append an exact global INCLUSIVE running sum (BIGINT `out`) of the
    * integer column `value` over the TOTAL order `order`. Equals
    * `SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` without
    * serializing the input through one window task. Integer-only by
    * design: long addition is associative, so the result is exact and
    * engine-order-independent (a double variant would not be). */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame =
    prefixSum(df, order, value, out)

  /** Append an exact SQL `ntile(k)` bucket (1-based INT) of the TOTAL
    * order `order`, computed without a single-task window: distributed
    * rank ([[globalRowNumber]]) + a broadcast 1-row count + the standard
    * ntile arithmetic (with n rows, the first n % k buckets hold
    * n div k + 1 rows, the rest n div k) — bit-identical to the window
    * function on both engines. The ELSE branch's division by n div k is
    * only reachable when n >= k (non-ANSI mode, so the dead branch can
    * never throw). */
  def globalNtile(df: DataFrame, order: Seq[Column], k: Int, out: String): DataFrame = {
    require(k >= 1, s"ntile needs k >= 1, got $k")
    import org.apache.spark.sql.functions.{broadcast, count, expr, lit}
    val total = df.agg(count(lit(1)).as("_gnt_n"))
    globalRowNumber(df, order, "_gnt_rank")
      .crossJoin(broadcast(total))
      .withColumn(out, expr(
        s"""CAST(CASE
              WHEN _gnt_rank <= (_gnt_n % $k) * ((_gnt_n div $k) + 1)
              THEN (_gnt_rank - 1) div ((_gnt_n div $k) + 1) + 1
              ELSE (_gnt_n % $k)
                   + ((_gnt_rank - 1 - (_gnt_n % $k) * ((_gnt_n div $k) + 1))
                      div (_gnt_n div $k)) + 1
            END AS INT)"""))
      .drop("_gnt_rank", "_gnt_n")
  }

  /** Exact `percentile(value, array(qs))` as a 1-row frame with one
    * ARRAY<DOUBLE> column `out` — computed with a DISTRIBUTED sort instead
    * of the counts-map aggregate. Spark's `Percentile` buffers a
    * value→count OpenHashMap whose final merge and sorted eval are
    * single-threaded in the last reduce task — O(distinct values) serial,
    * ~3.3 s for the 600k-distinct price column at sf0.1 vs ~1.0 s for this
    * shape (range-partitioned sort + two-pass rank + a 4-row pick). At
    * 100 TB the contrast is starker: the counts-map merge task must hold
    * and sort every distinct value; the sort-select only ever moves the
    * column through one range exchange.
    *
    * Bit-parity with `Percentile.getPercentile`: position = q·(n−1) in
    * double, lower/higher = floor/ceil as longs, and the SAME equal-key
    * shortcut — when the two picked values are equal the value is returned
    * directly, NOT via (ceil−pos)·lo + (pos−floor)·hi, whose rounding can
    * differ by 1 ulp from the value itself. Ties in `value` are safe: rank
    * assignment among equal keys is arbitrary but every such rank maps to
    * the same value. Nulls are dropped first (Percentile ignores them). */
  def exactPercentileArray(
      df: DataFrame, value: Column, qs: Seq[Double], out: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val vals = df.select(value.cast("double").as("_pq_v"))
      .filter(col("_pq_v").isNotNull)
    val ranked = globalRowNumber(vals, Seq(col("_pq_v")), "_pq_rk")
    val cnt = vals.agg(count(lit(1)).as("_pq_n"))
    val withN = ranked.crossJoin(broadcast(cnt))
    def posOf(q: Double) = lit(q) * (col("_pq_n") - lit(1L)).cast("double")
    val keep = qs.map { q =>
      val p = posOf(q)
      col("_pq_rk") === (floor(p) + lit(1L)) ||
        col("_pq_rk") === (ceil(p) + lit(1L))
    }.reduce(_ || _)
    val aggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val p = posOf(q)
      Seq(
        min(when(col("_pq_rk") === (floor(p) + lit(1L)), col("_pq_v"))).as(s"_pq_lo_$i"),
        min(when(col("_pq_rk") === (ceil(p) + lit(1L)), col("_pq_v"))).as(s"_pq_hi_$i"))
    } :+ max(col("_pq_n")).as("_pq_n")
    val one = withN.filter(keep).agg(aggs.head, aggs.tail: _*)
    val values = qs.zipWithIndex.map { case (q, i) =>
      val p = posOf(q)
      val lo = col(s"_pq_lo_$i"); val hi = col(s"_pq_hi_$i")
      when(lo === hi, lo)
        .otherwise((ceil(p).cast("double") - p) * lo + (p - floor(p).cast("double")) * hi)
    }
    one.select(array(values: _*).as(out))
  }

  /** Append a 1-based BIGINT per-GROUP row_number — exactly
    * `row_number() OVER (PARTITION BY group ORDER BY order)` — without a
    * keyed window. A window partition cannot be split (one task per key),
    * so a group whose size grows with the corpus (a fixed shard count, a
    * popular length bin) serializes at scale even when the keys are
    * perfectly balanced. Here the TOTAL order (group ++ order) is
    * range-partitioned — big groups SPAN partitions — and the per-group
    * rank is the global index minus the group's exclusive prefix offset,
    * itself a distributed running sum over the one-row-per-group count
    * dim. `order` must be total within each group. */
  def groupedRowNumber(
      df: DataFrame, group: Seq[String], order: Seq[Column], out: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val groupCols = group.map(col)
    val counts = df.groupBy(groupCols: _*).agg(count(lit(1)).as("_ggr_cnt"))
    // null-SAFE offset join: `row_number() OVER (PARTITION BY k)` treats a
    // null key as a regular group, so a plain equi-join here would silently
    // drop every null-keyed row (null never equals null). <=> is still
    // hash-joinable, so the shape is unchanged.
    val bases = globalRunningSum(counts, groupCols, col("_ggr_cnt"), "_ggr_cum")
      .withColumn("_ggr_base", col("_ggr_cum") - col("_ggr_cnt"))
      .select(group.map(k => col(k).as(s"_ggr_k_$k")) :+ col("_ggr_base"): _*)
    globalRowNumber(df, groupCols ++ order, "_ggr_rn")
      .join(bases, group.map(k => col(k) <=> col(s"_ggr_k_$k")).reduce(_ && _))
      .withColumn(out, col("_ggr_rn") - col("_ggr_base"))
      .drop("_ggr_rn" +: "_ggr_base" +: group.map("_ggr_k_" + _): _*)
  }
}
