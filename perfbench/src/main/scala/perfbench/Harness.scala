package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{LayerMetrics, Sessions, SparkEntry, Tables}
import graft.streaming.StreamGate

/** One benchmark run of one workload, in one JVM, driven through the
  * library's public entry points only: `Sessions.local`, `Tables.*`,
  * `SparkEntry.queries(name)(spark, dir)`, `df.queryExecution.executedPlan`
  * and the noop write. `run.py` launches it and turns its report into
  * metrics.
  *
  * A run is: set-up (session + one noop scan of the workload's tables);
  * warm-up, a first pass over the workload's queries and one cold and one
  * warm pass after it; then rounds until `--seconds` have passed since the
  * first pass began (at least `--rounds`), each a cold pass in a fresh
  * session, so every shared layer is built again, then `--warm` warm
  * passes that re-query them; then an untimed check pass that writes every
  * result as parquet for the DuckDB oracle. The seed fixes the query order
  * of every pass.
  *
  * With `--trace 1` the first pass and some rounds (see [[tracedRound]])
  * run with the listeners of [[Probe]] attached and spans recorded; the
  * other rounds run bare, so one run yields both the per-layer numbers and
  * the tracing overhead.
  *
  * Usage: Harness --data DIR --queries q1,q2 --tables t1,t2 --seed N
  *   --seconds S --trace 0|1 --rounds K --warm W --check-dir DIR
  *   --out FILE [--spans FILE]
  */
object Harness {

  final case class QueryRun(name: String, span: Long, buildS: Double, planS: Double,
      execS: Double, error: Option[String]) {
    def latencyS: Double = buildS + planS + execS
    def toMap: Map[String, Any] = Map("name" -> name, "build_s" -> buildS,
      "plan_s" -> planS, "exec_s" -> execS, "ok" -> error.isEmpty, "error" -> error)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val tables = a("tables").split(",").toSeq.filter(_.nonEmpty)
    val out = Paths.get(a("out"))

    val spark = Sessions.local("perfbench")
    val scan0 = System.nanoTime()
    tables.foreach(t => noop(loader(spark, data, t)))
    val scanS = (System.nanoTime() - scan0) / 1e9
    val setupEndMs = System.currentTimeMillis()
    val base = Map[String, Any](
      "setup_end_ms" -> setupEndMs, "scan_s" -> scanS,
      "cpus" -> spark.sparkContext.defaultParallelism)

    val queries = a("queries").split(",").toVector
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val minRounds = a("rounds").toInt
    val warmPasses = a("warm").toInt
    val checkDir = a("check-dir")
    val registry = SparkEntry.queries
    val probe = new Probe
    val sc = spark.sparkContext

    var s: SparkSession = null
    // A fresh session on the set-up context with Spark's shared cache
    // cleared: nothing of the workload is memoized (SessionCache is keyed
    // by session) or cached for it.
    def freshSession(): Unit = { spark.catalog.clearCache(); s = spark.newSession() }
    var attachedTo: Option[SparkSession] = None
    def attach(on: Boolean): Unit = {
      attachedTo.foreach { t =>
        sc.removeSparkListener(probe.sparkListener); t.streams.removeListener(probe.streamListener)
      }
      attachedTo = None
      if (on) {
        sc.addSparkListener(probe.sparkListener); s.streams.addListener(probe.streamListener)
        attachedTo = Some(s)
      }
    }

    val rootSpan = probe.newId()
    val rootStart = probe.nowMs
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(idx: Int, kind: String, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 1000003L + idx).shuffle(queries)
      attach(traced)
      val passSpan = probe.newId()
      val layers0 = layerTotals()
      val t0 = System.nanoTime(); val start = probe.nowMs
      val runs = order.map(q => runQuery(s, registry, data, q, idx, passSpan, traced, probe))
      val wallS = (System.nanoTime() - t0) / 1e9
      if (trace) probe.record(Span(passSpan, rootSpan, "pass",
        s"$kind $idx" + (if (traced) "" else " untraced"), start, probe.nowMs))
      val layers1 = layerTotals()
      passes += Map(
        "index" -> idx, "kind" -> kind, "traced" -> traced, "wall_s" -> wallS,
        "queries" -> runs.map(_.toMap),
        "layer_build_s" -> (layers1._1 - layers0._1),
        "layer_builds" -> (layers1._2 - layers0._2),
        "layer_reuses" -> (layers1._3 - layers0._3),
        "cached_bytes" -> cachedBytes(s),
        "outside_trigger_s" -> runs.flatMap { r =>
          probe.triggerMsOf(r.span).map(ms => r.latencyS - ms / 1e3)
        }.sum,
        "counters" -> (if (traced) countersMap(probe.pass(idx)) else Map.empty))
    }

    // The first pass meets a JIT-cold JVM, and the first cold and warm
    // passes after it still run up to 40% slower than the later ones: they
    // are warm-up, round 0. Each round starts from a fresh session, so its
    // cold pass rebuilds every shared layer and its warm passes re-query
    // them.
    val measureStart = System.nanoTime()
    freshSession()
    runPass(0, "first", trace)
    attach(false)
    val heapFirst = heapAfterGc()
    var round = 0
    var idx = 1
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    while (round <= minRounds || (elapsed < seconds && round <= MaxRounds)) {
      val traced = trace && round > 0 && tracedRound(round, minRounds)
      freshSession()
      val kinds = if (round == 0) Seq("warmup", "warmup") else "cold" +: Seq.fill(warmPasses)("warm")
      for (kind <- kinds) {
        runPass(idx, kind, traced)
        idx += 1
      }
      round += 1
    }
    attach(false)
    val cachedEnd = cachedBytes(s)
    probe.record(Span(rootSpan, 0L, "workload", a.getOrElse("workload", "workload"),
      rootStart, probe.nowMs))

    // Untimed check pass: every result as one parquet file for the oracle.
    val check = new scala.util.Random(seed * 1000003L - 1).shuffle(queries).map { q =>
      val err =
        try {
          registry(q)(s, data).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
          None
        } catch { case e: Throwable if isRecoverable(e) => Some(describe(e)) }
      Map("name" -> q, "ok" -> err.isEmpty, "error" -> err)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), Json(oracle))

    val state = StreamGate.stateSnapshot.map(_._2)
    Files.writeString(out, Json(base ++ Map(
      "passes" -> passes.toList,
      "cached_bytes_end" -> cachedEnd,
      "heap_bytes_first" -> heapFirst,
      "state_rows" -> state.map(_._1).sum,
      "state_bytes" -> state.map(_._2).sum,
      "state_rows_evicted" -> state.map(_._3).sum,
      "check" -> check)))
    a.get("spans").filter(_ => trace).foreach { f =>
      Files.writeString(Paths.get(f), probe.allSpans.map(sp => Json(sp.toMap)).mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  private val MaxRounds = 200

  /** Whether round `r` of at least `n` runs traced: the middle one when `n`
    * is odd, the first and the last when it is even (T B B T, B T B), so
    * traced and bare rounds sit equally early on average in the JIT
    * warm-up. Rounds past `n` run bare. */
  private def tracedRound(r: Int, n: Int): Boolean =
    if (n % 2 == 1) 2 * r == n + 1 else r == 1 || r == n

  /** Run one query: build the frame, force its physical plan, execute it
    * with a noop write. A query that throws is reported with its error;
    * its partial time is kept apart and never enters a latency. */
  private def runQuery(s: SparkSession, registry: Map[String, (SparkSession, String) => DataFrame],
      data: String, q: String, pass: Int, passSpan: Long, traced: Boolean, probe: Probe): QueryRun = {
    val sc = s.sparkContext
    val qSpan = probe.newId()
    val qStart = probe.nowMs
    probe.current = (if (traced) pass else -1, qSpan)
    val times = mutable.ArrayBuffer.empty[Double]
    def phase[T](name: String)(body: => T): T = {
      val id = probe.newId()
      if (traced) {
        sc.setLocalProperty(Probe.PassKey, pass.toString)
        sc.setLocalProperty(Probe.PhaseKey, name)
        sc.setLocalProperty(Probe.SpanKey, id.toString)
      }
      val start = probe.nowMs
      val t0 = System.nanoTime()
      try body
      finally {
        times += (System.nanoTime() - t0) / 1e9
        if (traced) probe.record(Span(id, qSpan, name, q, start, probe.nowMs))
      }
    }
    val error =
      try {
        val fn = registry.getOrElse(q, throw new NoSuchElementException(s"no registered query $q"))
        val df = phase("build")(fn(s, data))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(df.write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable if isRecoverable(e) => Some(describe(e)) }
      finally {
        Seq(Probe.PassKey, Probe.PhaseKey, Probe.SpanKey).foreach(sc.setLocalProperty(_, null))
      }
    if (traced) {
      org.apache.spark.perfbench.Bus.drain(sc)
      probe.record(Span(qSpan, passSpan, "query", q, qStart, probe.nowMs))
    }
    val t = times.padTo(3, 0.0)
    QueryRun(q, qSpan, t(0), t(1), t(2), error)
  }

  private def isRecoverable(e: Throwable): Boolean =
    NonFatal(e) || e.isInstanceOf[StackOverflowError]

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
      .take(400)

  private def loader(s: SparkSession, data: String, t: String): DataFrame = t match {
    case "events" => Tables.events(s, data)
    case "documents" => Tables.documents(s, data)
    case "embeddings" => Tables.embeddings(s, data)
    case other => Tables.table(s, data, other)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (exclusive build seconds, builds, reuses) summed over every layer. */
  private def layerTotals(): (Double, Long, Long) = {
    val snap = LayerMetrics.snapshot.map(_._2)
    (snap.map(_._1).sum, snap.map(_._2.toLong).sum, snap.map(_._3.toLong).sum)
  }

  /** Driver heap in use after a full collection. In local mode this holds
    * the executors' in-memory blocks and state-store maps too. The second
    * collection runs after Spark's cleaner has dropped what the first one
    * released. */
  private def heapAfterGc(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Bytes held in Spark storage (memory + disk) by persisted frames. */
  private def cachedBytes(s: SparkSession): Long =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def countersMap(c: PassCounters): Map[String, Any] = c.synchronized(Map(
    "jobs_build" -> c.jobsBuild, "jobs_exec" -> c.jobsExec,
    "stages" -> c.stages, "tasks" -> c.tasks, "tasks_failed" -> c.tasksFailed,
    "task_run_ms" -> c.runMs, "task_deser_ms" -> c.deserMs, "task_gc_ms" -> c.gcMs,
    "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
    "spill_bytes" -> c.spill, "input_bytes" -> c.inputBytes,
    "input_records" -> c.inputRecords, "task_skew" -> c.worstSkew,
    "stream_batches" -> c.batches, "stream_input_rows" -> c.inputRows,
    "stream_trigger_ms" -> c.triggerMs, "stream_add_batch_ms" -> c.addBatchMs,
    "stream_planning_ms" -> c.planningMs, "stream_offsets_ms" -> c.offsetsMs,
    "stream_wal_ms" -> c.walMs, "state_commit_ms" -> c.stateCommitMs))
}
