package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.util.SerializableConfiguration

/** Pins the session settings that [[Sessions.local]] fixes at creation and
  * the Hadoop property sources it drops from the context's conf. */
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

  test("a serialized conf broadcast carries no property sources") {
    // about 113,000 B with Hadoop's ~1,100 property sources tracked
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    out.close()
    assert(bytes.size < 80000, bytes.size)
  }
}
