package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.ingest.Standardize

/** The streaming ingest must (a) produce exactly the batch-mode result,
  * (b) be exactly-once across restarts via the checkpoint (T3), and
  * (c) pick up only new files on subsequent runs (incremental, T1). */
class StreamingSpec extends SparkSpec {

  private def csv(n: Int, tag: String): String =
    "id,room_id/id,noted_date,temp,out/in\n" +
      (1 to n).map(i => s"x_${tag}dev$i,Room $i,08-12-2018 09:3${i % 10},${20 + i},In").mkString("\n")

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))

  test("watermarked windowed counts over a file stream match batch windows") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-win")
    val rows = "ts,event_type\n" + (0 until 60).map { i =>
      f"2024-01-01 10:${i % 60}%02d:00,${if (i % 3 == 0) "click" else "view"}"
    }.mkString("\n")
    write(dir, "w1.csv", rows)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.option("header", "true").schema(schema).csv(dir.toString)
    val out = Files.createTempDirectory("graft-win-out").toString + "/agg"
    StreamAggregates.windowedTypeCounts(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-win-ckpt").toString)
      .outputMode("complete")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out); ()
      }.start().awaitTermination()
    val streamed = spark.read.parquet(out)
    val batch = StreamAggregates.windowedTypeCounts(
      spark.read.option("header", "true").schema(schema).csv(dir.toString))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.agg(sum("n")).head().getLong(0) === 60)
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-state")
    write(dir, "s1.csv", "user_id,value\n1,10.0\n1,5.0\n2,1.0")
    write(dir, "s2.csv", "user_id,value\n1,2.5\n3,7.0")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.option("header", "true").schema(schema)
      .option("maxFilesPerTrigger", 1) // force multiple micro-batches
      .csv(dir.toString).as[(Long, Double)]
    val out = Files.createTempDirectory("graft-state-out").toString + "/totals"
    StreamAggregates.runningUserTotals(stream).toDF().writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-state-ckpt").toString)
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }.start().awaitTermination()
    // the LAST state emitted per user must equal the batch totals
    val finalTotals = spark.read.parquet(out)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("events").as("events"),
           org.apache.spark.sql.functions.max("total_value").as("total_value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finalTotals(1L) === ((3L, 17.5)))
    assert(finalTotals(2L) === ((1L, 1.0)))
    assert(finalTotals(3L) === ((1L, 7.0)))
  }

  test("transformWithState accumulates typed ValueState across micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-tws")
    // quantized longs in the CSV: the operator's contract is integer state
    write(dir, "s1.csv", "user_id,q\n1,10000000\n1,5000000\n2,1000000")
    write(dir, "s2.csv", "user_id,q\n1,2500000\n3,7000000")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("q", org.apache.spark.sql.types.LongType)))
    val out = Files.createTempDirectory("graft-tws-out").toString + "/totals"
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass")
    val confBefore = confKeys.map(spark.conf.getOption)
    // no provider is named here: the default HDFS-backed provider rejects
    // transformWithState at start, so this run passing proves the runner
    // derives the RocksDB provider from the plan
    StreamGate.foreachBatch(spark, "streaming_spec_tws") {
      val stream = spark.readStream.option("header", "true").schema(schema)
        .option("maxFilesPerTrigger", 1) // force multiple micro-batches
        .csv(dir.toString).as[(Long, Long)]
      StreamAggregates.runningUserTotalsTws(stream).toDF()
    } { (b, _) => b.write.mode("append").parquet(out) }
    assert(confKeys.map(spark.conf.getOption) === confBefore,
      "the gate runner must restore the confs it scoped")
    val g = StreamGate.gateStats.toMap.apply("streaming_spec_tws")
    assert(g.runs === 1 && g.batches >= 2, s"one run of two or more batches: $g")
    assert(Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit").forall(g.phasesMs.contains),
      s"progress phases missing: ${g.phasesMs}")
    val finalTotals = spark.read.parquet(out)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("events").as("events"),
           org.apache.spark.sql.functions.max("q_sum").as("q_sum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(finalTotals(1L) === ((3L, 17500000L)))
    assert(finalTotals(2L) === ((1L, 1000000L)))
    assert(finalTotals(3L) === ((1L, 7000000L)))
  }

  test("stream-stream interval join with watermarks matches the batch join") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    val pDir = Files.createTempDirectory("graft-ssp")
    val eDir = Files.createTempDirectory("graft-sse")
    // purchases at :00/:10/:20…, errors 3 minutes after some of them
    write(pDir, "p.csv", "ts,user_id\n" +
      (0 until 6).map(i => s"2024-01-01 10:${i}0:00,${i % 3}").mkString("\n"))
    write(eDir, "e.csv", "ts,user_id\n" +
      (0 until 6).map(i => s"2024-01-01 10:${i}3:00,${i % 3}").mkString("\n"))
    def src(dir: java.nio.file.Path, prefix: String) =
      spark.readStream.option("header", "true").schema(schema).csv(dir.toString)
        .withWatermark("ts", "10 minutes")
        .select(col("ts").as(s"${prefix}_ts"), col("user_id").as(s"${prefix}_user"))
    // error joins the purchase of the same user within the prior 5 minutes
    val joined = src(eDir, "e").join(src(pDir, "p"),
      expr("e_user = p_user AND p_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts"))
    val out = Files.createTempDirectory("graft-ss-out").toString + "/j"
    joined.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-ss-ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }.start().awaitTermination()
    val streamed = spark.read.parquet(out)
    def batchSrc(dir: java.nio.file.Path, prefix: String) =
      spark.read.option("header", "true").schema(schema).csv(dir.toString)
        .select(col("ts").as(s"${prefix}_ts"), col("user_id").as(s"${prefix}_user"))
    val batch = batchSrc(eDir, "e").join(batchSrc(pDir, "p"),
      expr("e_user = p_user AND p_ts BETWEEN e_ts - INTERVAL 5 MINUTES AND e_ts"))
    assert(batch.count() === 6)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("AvailableNow run equals batch standardize; rerun is a no-op; new files increment") {
    val landing = Files.createTempDirectory("graft-landing")
    val out = Files.createTempDirectory("graft-stream-out").toString + "/raw"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    write(landing, "f1.csv", csv(5, "a"))
    IngestStream.run(spark, landing.toString, out, ckpt).awaitTermination()
    val got1 = spark.read.parquet(out)
    assert(got1.count() === 5)
    // streamed result == batch result over the same files
    val batch = Standardize.standardize(Standardize.readCsv(spark, landing.toString))
    assert(got1.drop("_batch_id").exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got1.drop("_batch_id")).count() === 0)

    // second AvailableNow run with no new files: checkpoint makes it a no-op
    IngestStream.run(spark, landing.toString, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 5)

    // drop a new file: only it is processed
    write(landing, "f2.csv", csv(3, "b"))
    IngestStream.run(spark, landing.toString, out, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 8)
  }

  test("stream source over a missing table fails fast with a layout-naming error") {
    // VERDICT r13 #8: when NEITHER testdata layout exists (single parquet
    // file or directory of part files), the source must throw a named
    // error at construction — an empty stream masquerading as a fast one
    // (the round-11 sf1 bug) is strictly worse than failing fast.
    val missing = Files.createTempDirectory("graft-missing").toString
    val e = intercept[java.io.FileNotFoundException] {
      graft.Tables.streamSource(spark, missing, "documents", "doc_id BIGINT, text STRING")
    }
    assert(e.getMessage.contains("documents"),
      s"error must name the table: ${e.getMessage}")
    assert(e.getMessage.contains("DIRECTORY") && e.getMessage.contains("FILE"),
      s"error must name both expected layouts: ${e.getMessage}")
  }
}
