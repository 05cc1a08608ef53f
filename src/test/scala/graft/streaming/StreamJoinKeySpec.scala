package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r17: the stream-stream interval joins (stream_exec_join /
  * stream_exec_left_join) pick their equi-key shape adaptively
  * ([[StreamGate.hotPairProbe]]): a bare (user) key at benign skew, the
  * composite (user, hour-bucket) key with one side exploded into two
  * bucket copies when some user's clicks × purchases product crosses
  * [[StreamGate.HotPairThreshold]] (the r16 Zipf fix). This spec pins
  * (a) the probe's verdict on both regimes and (b) that the HOT branch —
  * which the sf testdata never exercises through the oracle gate —
  * still emits exactly the batch interval-join rows. */
class StreamJoinKeySpec extends SparkSpec {

  /** Synthetic skewed events: one user owns 1100 clicks and 1100
    * purchases (c·p ≈ 1.2e6, over the 2^20 threshold), spaced 2 h apart
    * with each purchase 30 min after its click so the in-window pair set
    * stays 1:1 (the skew is in STATE size, not output size). */
  private lazy val hotDir: String = {
    val spark0 = spark
    import spark0.implicits._
    // under the gate root, which is cleaned at start-up and at JVM exit
    val dir = StreamGate.tempDir("graft_hotev_")
    val hot = (0 until 1100).flatMap { i =>
      val base = 1700000000000000L + i.toLong * 7200L * 1000000L
      Seq(
        (i.toLong * 2 + 10, base, 7L, "click", 1.0, "{}"),
        (i.toLong * 2 + 11, base + 1800L * 1000000L, 7L, "purchase", 2.0, "{}"))
    }
    val cold = (0 until 50).map { i =>
      (100000L + i, 1700000000000000L + i.toLong * 3600L * 1000000L,
        100L + i, if (i % 2 == 0) "click" else "purchase", 1.0, "{}")
    }
    (hot ++ cold).toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    dir
  }

  test("hotPairProbe: benign testdata keeps the plain key; a hot key trips the composite") {
    assert(!StreamGate.hotPairProbe(spark, sf),
      "sf testdata (max c*p ~ 7e2) must stay on the plain user key")
    assert(StreamGate.hotPairProbe(spark, hotDir),
      "the synthetic hot user (c*p ~ 1.2e6) must trip the composite key")
  }

  test("stream_exec_join hot branch emits exactly the batch interval-join rows") {
    assert(StreamGate.hotPairProbe(spark, hotDir), "precondition: hot branch")
    val out = graft.SparkEntry.queries("stream_exec_join")(spark, hotDir)
    val ev = graft.Tables.events(spark, hotDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val expected = c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
    assert(out.count() === expected.count())
    assert(out.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(out).count() === 0)
  }
}
