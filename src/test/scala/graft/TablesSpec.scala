package graft

import org.apache.spark.sql.functions.col

/** Pins [[Tables.spreadKeyed]]'s precondition: it counts partitions, which
  * is metadata only on a checkpointed frame. */
class TablesSpec extends SparkSpec {

  test("spreadKeyed hash-spreads a checkpointed frame under projections and filters") {
    val target = spark.sparkContext.defaultParallelism
    assume(target > 2, "spreading needs a parallelism above twice one partition")
    val ck = spark.range(0, 1000, 1, 1).toDF("k").localCheckpoint()
    val out = Tables.spreadKeyed(spark,
      ck.filter(col("k") >= 10).select((col("k") * 2).as("k2")), Seq(col("k2")))
    assert(out.rdd.getNumPartitions === target)
    assert(out.count() === 990)
    // a frame already carrying the session parallelism is left alone
    val wide = spark.range(0, 1000, 1, target).toDF("k").localCheckpoint()
    assert(Tables.spreadKeyed(spark, wide, Seq(col("k"))) eq wide)
  }

  test("spreadKeyed rejects an unmaterialized frame without running its stages") {
    val sc = spark.sparkContext
    val agg = spark.range(100).groupBy((col("id") % 7).as("k")).count()
    sc.setJobGroup("spread-keyed-guard", "spreadKeyed guard", interruptOnCancel = false)
    try intercept[IllegalArgumentException](Tables.spreadKeyed(spark, agg, Seq(col("k"))))
    finally sc.clearJobGroup()
    org.apache.spark.graft.Bus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup("spread-keyed-guard").isEmpty)
  }
}
