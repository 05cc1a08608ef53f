package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.util.SerializableConfiguration

/** Pins the session settings that [[Sessions.local]] fixes at creation,
  * the `file:` file system it registers and the Hadoop property sources it
  * drops from the context's conf. */
class SessionsSpec extends SparkSpec {
  private val Isolation = "spark.sql.artifact.isolation.enabled"

  test("artifact isolation is off in the shared session and in a new session") {
    assert(spark.conf.get(Isolation) === "false")
    assert(spark.newSession().conf.get(Isolation) === "false")
  }

  test("a second stream_exec_state run compiles no class") {
    // a gate runs in a clone of its session; with isolation on, each clone
    // has its own task class loader and misses Spark's codegen cache
    val p = new QueryProbe(spark)
    val runs = try Seq.fill(2)(p.run("stream_exec_state", SparkEntry.queries("stream_exec_state"), sf))
      finally p.close()
    assert(runs.forall(_.ok), runs.flatMap(_.error))
    assert(runs(1).compiles === 0)
  }

  /** No key of the context's Hadoop conf carries a property source. */
  private def assertNoSources(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = conf.iterator().asScala.map(_.getKey).filter(k => conf.getPropertySources(k) != null).toSeq
    assert(keys.size === 0, keys.take(5))
  }

  test("the context's Hadoop conf tracks no property source after local and after tune") {
    assertNoSources()
    Sessions.tune(spark)
    assertNoSources()
  }

  test("no property source comes back after parquet, RocksDB and multi-format runs") {
    // a foreachBatch parquet gate, the RocksDB gate and a multi-format scan
    val qs = Seq("stream_exec_upsert", "stream_exec_tws", "multi_format_union")
    val p = new QueryProbe(spark)
    val runs = try qs.map(q => p.run(q, SparkEntry.queries(q), sf)) finally p.close()
    assert(runs.forall(_.ok), runs.flatMap(_.error))
    assertNoSources()
  }

  test("the context's file: file system is the graft one") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
  }

  test("a parquet write and the state, join and RocksDB gates fork no file command") {
    // commands Hadoop's local file system forks without libhadoop: chmod
    // on create, readlink on a FileContext rename, stat and ls for file
    // status. Spark's own `rm -rf` of artifact and RocksDB dirs is not
    // counted.
    val fileCommands = Set("chmod", "readlink", "stat", "ls")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val p = new QueryProbe(spark)
    val runs = try {
      // the recording sees a fork
      new ProcessBuilder("true").start().waitFor()
      spark.range(1000).repartition(2).write.parquet(Files.createTempDirectory("graft-fork").toString + "/t")
      Seq("stream_exec_state", "stream_exec_join", "stream_exec_tws").map(q => p.run(q, SparkEntry.queries(q), sf))
    } finally { p.close(); rec.stop() }
    val file = Files.createTempFile("graft-forks", ".jfr")
    val commands = try { rec.dump(file); RecordingFile.readAllEvents(file).asScala.map(_.getString("command")) }
      finally { rec.close(); Files.delete(file) }
    assert(runs.forall(_.ok), runs.flatMap(_.error))
    def program(c: String) = c.trim.split("\\s+").head.split('/').last
    assert(commands.exists(c => program(c) == "true"), commands)
    assert(commands.filter(c => fileCommands(program(c))).isEmpty)
  }

  test("a serialized conf broadcast carries no property sources") {
    // about 113,000 B with Hadoop's ~1,100 property sources tracked
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    out.close()
    assert(bytes.size < 80000, bytes.size)
  }
}
