package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The distributed rank/ntile operators must be bit-identical to the
  * single-task window functions they replace — that equivalence is what
  * lets rrf_fusion / rfm_segments keep their unchanged window-function
  * oracles while never serializing a dim through one task. */
class RanksSpec extends SparkSpec {

  private def users = {
    val s0 = spark
    import s0.implicits._
    // deliberately skewed + tied values across several partitions: ties
    // must land in one range partition and the tiebreaker must decide
    (1 to 1013).map(i => (i.toLong, (i % 37).toLong, math.sin(i) * 100))
      .toDF("id", "grp_val", "score").repartition(7)
  }

  test("globalRowNumber equals row_number over the same total order") {
    val order = Seq(col("grp_val").desc, col("id"))
    val expected = users.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Ranks.globalRowNumber(users, order, "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === got.toMap.size, "rank must be assigned once per row")
    assert(got.toMap === expected)
  }

  test("globalRunningSum equals SUM OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)") {
    val order = Seq(col("grp_val").desc, col("id"))
    val expected = users.withColumn("cum",
      sum(col("id")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Ranks.globalRunningSum(users, order, col("id"), "cum")
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === got.toMap.size, "one running-sum row per input row")
    assert(got.toMap === expected)
  }

  test("groupedRowNumber equals row_number over the partitioned window") {
    // the round-11 keyed-window replacement: per-group rank computed from
    // a range-partitioned global order + prefix-sum group offsets must be
    // bit-identical to the window function it displaces
    val order = Seq(col("score").desc, col("id"))
    val expected = users.withColumn("rn",
      row_number().over(Window.partitionBy("grp_val").orderBy(order: _*)).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Ranks.groupedRowNumber(users, Seq("grp_val"), order, "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === got.toMap.size, "one rank per row")
    assert(got.toMap === expected)
  }

  test("groupedRowNumber keeps null group keys (window parity, not join loss)") {
    val s0 = spark
    import s0.implicits._
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(10L)), (4L, None), (5L, Some(20L)))
      .toDF("id", "grp").repartition(3)
    val expected = df.withColumn("rn",
      row_number().over(Window.partitionBy("grp").orderBy("id")).cast("long"))
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Ranks.groupedRowNumber(df, Seq("grp"), Seq(col("id")), "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 5, "null-keyed rows must survive the offset join")
    assert(got === expected)
  }

  test("with rand() upstream, row numbers are 1..n and the sum ends at the total") {
    // both passes of the operator must see identical rows: a rand() column
    // recomputed between the totals pass and the emit pass would misalign
    // the partition offsets (duplicate or missing numbers). Eight
    // uncoalesced range partitions keep both passes in play.
    withConf("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val nonDet = users.withColumn("r", (rand(42) * 1000).cast("long"))
      val order = Seq(col("r"), col("id"))
      val rn = Ranks.globalRowNumber(nonDet, order, "rn")
        .select("rn").collect().map(_.getLong(0)).sorted
      assert(rn.toSeq === (1L to 1013L))
      val cum = Ranks.globalRunningSum(nonDet, order, col("id"), "cum")
        .select(max("cum")).head().getLong(0)
      assert(cum === (1L to 1013L).sum)
      // a predicate on the rank stays above the operator: ranks are
      // assigned over every row, then filtered
      assert(Ranks.globalRowNumber(users, Seq(col("id")), "rn")
        .filter(col("rn") <= 5).select("id").collect().map(_.getLong(0)).sorted.toSeq ===
        (1L to 5L))
    }
  }

  test("building the Ranks frames and their executed plans runs no Spark jobs") {
    val sc = spark.sparkContext
    val group = "ranks-construction"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val order = Seq(col("score"), col("id"))
      Seq(
        Ranks.globalRowNumber(users, order, "rn"),
        Ranks.globalRunningSum(users, order, col("id"), "cum"),
        Ranks.globalNtile(users, order, 5, "t"),
        Ranks.exactPercentileArray(users, col("score"), Seq(0.5), "p"),
        Ranks.groupedRowNumber(users, Seq("grp_val"), order, "rn")
      ).foreach(_.queryExecution.executedPlan)
    } finally sc.clearJobGroup()
    org.apache.spark.graft.Bus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("AQE-coalesced tiny range partitions still give window row_number and sum") {
    // 64 range partitions of ~16 rows, coalesced by AQE to a few: each
    // coalesced partition is a contiguous run of the range, so the
    // offsets must follow the coalesced partitions, not the original ones
    withConf("spark.sql.shuffle.partitions" -> "64",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k") {
      val order = Seq(col("grp_val").desc, col("id"))
      val w = Window.orderBy(order: _*)
      val expected = users
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("id")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "rn", "cum").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val rn = Ranks.globalRowNumber(users, order, "rn")
      val got = Ranks.globalRunningSum(rn, order, col("id"), "cum")
        .select("id", "rn", "cum")
      assert(got.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap === expected)
      val reads = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(got.queryExecution.executedPlan) {
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
        }
      assert(reads.exists(r => r.hasCoalescedPartition && r.partitionSpecs.size > 1),
        s"expected a coalesced range read over several partitions: ${reads.map(_.partitionSpecs.size)}")
    }
  }

  test("globalNtile equals ntile() for k not dividing n, k dividing n, and k > n") {
    for (k <- Seq(5, 1013, 2048)) {
      val order = Seq(col("score"), col("id"))
      val expected = users.withColumn("t", ntile(k).over(Window.orderBy(order: _*)))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = Ranks.globalNtile(users, order, k, "t")
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === expected, s"k=$k")
    }
  }

  test("exactPercentileArray is bit-identical to percentile() — ties, nulls, endpoints") {
    val s0 = spark
    import s0.implicits._
    // heavy ties (i % 11) AND near-unique values (sin), plus nulls: the
    // cases where the equal-key shortcut and the null drop must both match
    // the counts-map aggregate exactly
    val base = (1 to 997).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some(if (i % 3 == 0) (i % 11).toDouble else math.sin(i) * 1e4))
    }.toDF("id", "v").repartition(5)
    val qs = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0)
    val qsSql = qs.mkString("array(", ", ", ")")
    val expected = base.agg(expr(s"percentile(v, $qsSql)"))
      .head().getSeq[Double](0)
    val got = Ranks.exactPercentileArray(base, col("v"), qs, "p")
      .head().getSeq[Double](0)
    assert(got.length === expected.length)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(java.lang.Double.doubleToRawLongBits(g) ===
        java.lang.Double.doubleToRawLongBits(e), s"q=${qs(i)}: got $g expected $e")
    }
    // single-row and two-row inputs: floor==ceil at every q, and the
    // interpolated two-point case
    for (n <- Seq(1, 2)) {
      val tiny = (1 to n).map(i => i.toDouble * 7.3).toDF("v")
      val e2 = tiny.agg(expr(s"percentile(v, $qsSql)")).head().getSeq[Double](0)
      val g2 = Ranks.exactPercentileArray(tiny, col("v"), qs, "p").head().getSeq[Double](0)
      assert(g2 === e2, s"n=$n")
    }
  }
}
