package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

import graft.{NioLocalFileSystem, SparkSpec}

/** Spark's `FileSystemBasedCheckpointFileManager` over the `file:` file
  * system graft sessions register ([[NioLocalFileSystem]]), as the gate
  * runner scopes it: the contract Spark's checkpoint and state-store code
  * relies on (atomic create, clean cancel, no silent overwrite, a
  * checkpoint it wrote can be restarted from), the class Hadoop hands out
  * for `file:`, the modes it sets, and the runner's choice of manager. */
class CheckpointFilesSpec extends SparkSpec {
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: JPath) =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), spark.sessionState.newHadoopConf())

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
    assert(names(dir.resolve("offsets")) === Set("0", ".0.crc"), "the file and its checksum, no temp file")

    val cancelled = new Path(dir.toUri.toString + "/state/0/1.delta")
    val out2 = fm.createAtomic(cancelled, false)
    out2.write(1)
    out2.cancel()
    assert(names(dir.resolve("state/0")).isEmpty, "cancel must leave no file behind")
  }

  test("an existing file is replaced only when asked") {
    val dir = Files.createTempDirectory("graft-lcf")
    val fm = manager(dir)
    val target = new Path(dir.toUri.toString + "/commits/0")
    def put(s: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwrite)
      out.write(s.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    put("a", overwrite = false)
    put("c", overwrite = true)
    // the `file:` file system Hive registers refuses an overwriting rename,
    // keeping the old file and the temp file; this one must replace it
    assert(Files.readString(dir.resolve("commits/0")) === "c")
    assert(names(dir.resolve("commits")) === Set("0", ".0.crc"))
    intercept[FileAlreadyExistsException](put("b", overwrite = false))
    assert(Files.readString(dir.resolve("commits/0")) === "c")
  }

  test("FileSystem.getLocal is the graft file system, and it sets the modes Hadoop would") {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(fs.getClass === classOf[NioLocalFileSystem])
    val dir = Files.createTempDirectory("graft-lfs")
    val out = fs.create(new Path(dir.toUri.toString + "/a/b/part-0"))
    out.write(1); out.close()
    def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    // Hadoop applies its configured umask to the FsPermission defaults,
    // then sets the result whatever the process umask is
    val umask = FsPermission.getUMask(fs.getConf)
    val (file, sub) = (mode(dir.resolve("a/b/part-0")), mode(dir.resolve("a/b")))
    assert(file === FsPermission.getFileDefault.applyUMask(umask).toString)
    assert(sub === FsPermission.getDirDefault.applyUMask(umask).toString)
    if (umask.toShort == Integer.parseInt("022", 8)) {
      assert(file === "rw-r--r--")
      assert(sub === "rwxr-xr-x")
    }
    fs.setPermission(new Path(dir.toUri), new FsPermission("750"))
    assert(mode(dir) === "rwxr-x---")
    // the sticky bit has no java.nio form; it must still be set
    fs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)) ===
      Integer.parseInt("1777", 8))
  }

  test("the gate runner scopes Spark's file-system manager only over the graft file system") {
    val dir = Files.createTempDirectory("graft-lcf-src")
    Files.writeString(dir.resolve("v.csv"), "1\n2\n")
    def managerInRun(): Option[String] = {
      var seen: Option[String] = None
      val out = StreamGate.memory(spark, "checkpoint_files_spec", "append") {
        seen = spark.conf.getOption(ManagerKey)
        spark.readStream.schema("v BIGINT").csv(dir.toString)
      }
      assert(out.count() === 2)
      seen
    }
    assert(managerInRun() === Some(classOf[FileSystemBasedCheckpointFileManager].getName))
    // an uncached Hadoop local file system, as a `file:` file system cached
    // before the session's conf was in place would be: Spark's default
    // manager stays
    withConf("fs.file.impl" -> classOf[LocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true") {
      assert(managerInRun() === None)
    }
    assert(spark.conf.getOption(ManagerKey) === None)
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
    withConf("spark.sql.shuffle.partitions" -> "2",
        ManagerKey -> classOf[FileSystemBasedCheckpointFileManager].getName) {
      write("s1.csv", "1,10.0\n1,5.0\n2,1.0")
      runOnce()
      write("s2.csv", "1,2.5\n3,7.0")
      runOnce()
    }
    val last = spark.read.parquet(out).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("events"), org.apache.spark.sql.functions.max("total_value"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(last === Map(1L -> ((3L, 17.5)), 2L -> ((1L, 1.0)), 3L -> ((1L, 7.0))),
      "the restarted run must continue the saved per-user state")

    // Spark's own checkpoint checksums sit next to every state delta file
    val stateFiles = Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    val deltas = stateFiles.filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty)
    assert(deltas.forall(d => stateFiles.contains(d + ".crc")),
      s"a state delta file lacks its checkpoint checksum: $stateFiles")
  }
}
