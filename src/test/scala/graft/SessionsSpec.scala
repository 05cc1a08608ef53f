package graft

/** Pins the session settings that [[Sessions.local]] fixes at creation. */
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
}
