package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the probe that Bench and Dev both measure with: the build/exec
  * job split, counters read only after the listener bus drains, failures
  * returned rather than thrown, and the listener removed on close. */
class QueryProbeSpec extends SparkSpec {

  private def lazyFrame(s: SparkSession): DataFrame = s.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")

  private def withProbe[A](f: QueryProbe => A): A = {
    val p = new QueryProbe(spark)
    try f(p) finally p.close()
  }

  test("a builder that runs one eager job counts it at construction") {
    val r = withProbe(_.run("eager", (s, _) => {
      s.sparkContext.parallelize(1 to 100, 2).count()
      lazyFrame(s)
    }, sf))
    assert(r.ok, r.error)
    assert(r.jobsBuild === 1)
    assert(r.jobsExec >= 1)
    assert(r.stages.nonEmpty && r.sum.tasks >= 2)
  }

  test("a lazy builder runs no job at construction") {
    val r = withProbe(_.run("lazy", (s, _) => lazyFrame(s).groupBy("k").count(), sf))
    assert(r.ok, r.error)
    assert(r.jobsBuild === 0)
    assert(r.jobsExec >= 1)
  }

  test("back-to-back runs of one query report equal counts (no late events leak across runs)") {
    val fn: (SparkSession, String) => DataFrame = (s, _) => {
      s.sparkContext.parallelize(1 to 100, 3).map(_ * 2).count()
      lazyFrame(s).groupBy("k").count()
    }
    val (a, b) = withProbe(p => (p.run("twice", fn, sf), p.run("twice", fn, sf)))
    def counts(r: QueryProbe.Run) = (r.jobsBuild, r.jobsExec, r.stages.size, r.sum.tasks)
    assert(a.ok && b.ok)
    assert(counts(a) === counts(b))
  }

  test("a lazy query run again in a fresh session compiles no class") {
    // Spark's codegen cache is keyed by the task class loader; with
    // artifact isolation off every session shares the context's loader
    val fn: (SparkSession, String) => DataFrame =
      (s, _) => s.range(0, 1000, 1, 4).selectExpr("id % 11 AS k", "id * 3 AS v").groupBy("k").sum("v")
    val first = withProbe(_.run("compiles", fn, sf))
    val p = new QueryProbe(spark.newSession())
    val again = try p.run("compiles", fn, sf) finally p.close()
    assert(first.ok && again.ok)
    assert(first.compiles > 0 && first.compileMs > 0, "a new query shape compiles its classes")
    assert(again.compiles === 0)
  }

  test("warm runs of a gate report the same nonzero broadcast count") {
    // the stream-stream join broadcasts the Hadoop conf once per plan copy
    val fn = SparkEntry.queries("stream_exec_join")
    val runs = withProbe(p => Seq.fill(3)(p.run("stream_exec_join", fn, sf)))
    assert(runs.forall(_.ok), runs.flatMap(_.error))
    val Seq(_, a, b) = runs
    assert(a.broadcasts > 0)
    assert(a.broadcasts === b.broadcasts)
    assert(a.broadcastBytes > 0 && b.broadcastBytes > 0)
  }

  test("a throwing builder is returned as an error, not thrown") {
    val r = withProbe(_.run("boom", (_, _) => throw new IllegalStateException("boom"), sf))
    assert(!r.ok)
    assert(r.error.exists(_.contains("IllegalStateException: boom")))
  }

  test("close() leaves no probe listener on the context") {
    val p = new QueryProbe(spark)
    val sc = spark.sparkContext
    assert(org.apache.spark.graft.Listeners.of(sc).contains(p.listener))
    p.close()
    // none of this suite's probes, all closed by now, is left either
    assert(!org.apache.spark.graft.Listeners.of(sc)
      .exists(_.getClass.getName.startsWith(classOf[QueryProbe].getName)))
  }
}
