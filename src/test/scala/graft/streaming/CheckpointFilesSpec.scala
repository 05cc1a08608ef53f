package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}

import graft.SparkSpec

/** The contract of [[LocalCheckpointFiles]] that Spark's checkpoint and
  * state-store code relies on: atomic create, clean cancel, no silent
  * overwrite, local paths only, and a checkpoint it wrote can be
  * restarted from. */
class CheckpointFilesSpec extends SparkSpec {

  private def manager(dir: JPath) =
    new LocalCheckpointFiles(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def names(dir: JPath): Set[String] =
    if (Files.exists(dir)) Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
    else Set.empty

  test("createAtomic shows nothing before close; cancel leaves no file") {
    val dir = Files.createTempDirectory("graft-lcf")
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString + "/offsets/0")
    val out = fm.createAtomic(target, false)
    out.write("v1".getBytes(StandardCharsets.UTF_8))
    assert(!fm.exists(target), "the final file must not exist before close")
    out.close()
    assert(fm.exists(target))
    val in = fm.open(target)
    try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) === "v1") finally in.close()
    assert(names(dir.resolve("offsets")) === Set("0"), "no temp file or Hadoop .crc sidecar")

    val cancelled = new Path(dir.toUri.toString + "/state/0/1.delta")
    val out2 = fm.createAtomic(cancelled, false)
    out2.write(1)
    out2.cancel()
    assert(names(dir.resolve("state/0")).isEmpty, "cancel must leave no file behind")
  }

  test("an existing file is replaced only when asked; non-local paths are rejected") {
    val dir = Files.createTempDirectory("graft-lcf")
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString + "/commits/0")
    def put(s: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwrite)
      out.write(s.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    put("a", overwrite = false)
    intercept[FileAlreadyExistsException](put("b", overwrite = false))
    put("c", overwrite = true)
    // Hadoop's rename refuses an existing target on the `file:` file system
    // Hive registers; the overwrite must still land
    assert(Files.readString(dir.resolve("commits/0")) === "c")

    val e = intercept[IllegalArgumentException](
      new LocalCheckpointFiles(new Path("s3a://bucket/ckpt"), spark.sessionState.newHadoopConf()))
    assert(e.getMessage.contains("s3a://bucket/ckpt"))
  }

  test("a mapGroupsWithState checkpoint written through it restarts and continues its state") {
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-lcf-in")
    val out = Files.createTempDirectory("graft-lcf-out").toString + "/totals"
    val ckpt = Files.createTempDirectory("graft-lcf-ckpt")
    val schema = "user_id BIGINT, value DOUBLE"
    def write(name: String, body: String): Unit =
      Files.writeString(dir.resolve(name), "user_id,value\n" + body)
    def runOnce(): Unit =
      StreamAggregates.runningUserTotals(
        spark.readStream.option("header", "true").schema(schema).csv(dir.toString).as[(Long, Double)])
        .toDF().writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); ()
        }.start().awaitTermination()
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.checkpointFileManagerClass")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", classOf[LocalCheckpointFiles].getName)
    try {
      write("s1.csv", "1,10.0\n1,5.0\n2,1.0")
      runOnce()
      write("s2.csv", "1,2.5\n3,7.0")
      runOnce()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val last = spark.read.parquet(out).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("events"), org.apache.spark.sql.functions.max("total_value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(last === Map(1L -> ((3L, 17.5)), 2L -> ((1L, 1.0)), 3L -> ((1L, 7.0))),
      "the restarted run must continue the saved per-user state")

    // Spark's own checkpoint checksums sit next to every state delta file;
    // Hadoop's hidden .crc sidecars are absent, so the files went through
    // LocalCheckpointFiles rather than Hadoop's create.
    val stateFiles = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    val deltas = stateFiles.filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty)
    assert(deltas.forall(d => stateFiles.contains(d + ".crc")),
      s"a state delta file lacks its checkpoint checksum: $stateFiles")
    val all = Files.walk(ckpt).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!all.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"Hadoop checksum sidecars in the checkpoint: $all")
  }
}
