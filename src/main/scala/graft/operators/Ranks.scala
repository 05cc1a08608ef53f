package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  *   2. assign indices from per-partition offsets (`zipWithIndex` — one
  *      lightweight count job, then a narrow map).
  *
  * The order must be TOTAL (include a tiebreaker column) for the result to
  * be deterministic and oracle-comparable; range partitioning never splits
  * equal keys across partitions, so a total order guarantees the global
  * index equals the single-task `row_number`.
  */
object Ranks {

  /** Every operator here runs TWO jobs over the same sorted RDD (a count/
    * totals pass, then the emit pass); correctness of the offsets needs
    * both passes to see identical partition contents. Shuffle-output reuse
    * makes that automatic for deterministic plans — but a nondeterministic
    * upstream (rand(), sampling, first() over unordered groups) recomputed
    * after shuffle-file loss could silently misalign the offsets (ADVICE
    * r10). Detect the hazard from the optimized plan and pin the sorted
    * RDD (MEMORY_AND_DISK) only then; deterministic callers — every
    * registered query — pay nothing. The pinned RDD is released by
    * Spark's ContextCleaner once the result frame is unreachable. */
  private def pinIfNondeterministic(
      df: DataFrame, rdd: org.apache.spark.rdd.RDD[Row]): org.apache.spark.rdd.RDD[Row] = {
    val deterministic = df.queryExecution.optimizedPlan
      .find(p => p.expressions.exists(e => !e.deterministic))
      .isEmpty
    if (deterministic) rdd
    else rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Append a 1-based BIGINT `out` column holding the exact global
    * row_number of the TOTAL order `order`. Project `df` to the minimal
    * columns first — the two passes carry every column through the sort. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = StructType(sorted.schema.fields :+ StructField(out, LongType, nullable = false))
    // zipWithIndex internally runs the same count-then-emit two-job shape
    val ranked = pinIfNondeterministic(sorted, sorted.rdd).zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Append an exact global INCLUSIVE running sum (BIGINT `out`) of the
    * integer column `value` over the TOTAL order `order` — the classic
    * two-pass distributed prefix sum: range-partition + sort, a narrow
    * pass collects per-partition totals (one long per partition on the
    * driver), their exclusive scan seeds each partition's offset, and a
    * second narrow pass emits offset + within-partition running sum.
    * Equals `SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`
    * without serializing the input through one window task. Integer-only
    * by design: long addition is associative, so the result is exact and
    * engine-order-independent (a double variant would not be). */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column, out: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.withColumn("_grs_v", value.cast("long"))
      .repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val idx = sorted.schema.fieldIndex("_grs_v")
    val rdd = pinIfNondeterministic(sorted, sorted.rdd)
    val totals = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L; it.foreach(s += _.getLong(idx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(0L)(_ + _)
    val schema = StructType(sorted.schema.fields :+ StructField(out, LongType, nullable = false))
    val rows = rdd.mapPartitionsWithIndex { case (i, it) =>
      var s = offsets(i)
      it.map { r => s += r.getLong(idx); Row.fromSeq(r.toSeq :+ s) }
    }
    spark.createDataFrame(rows, schema).drop("_grs_v")
  }

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
