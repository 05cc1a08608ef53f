package graft

import scala.collection.mutable

import org.apache.spark.graft.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.BroadcastBlockId

/** The one way to measure a query, shared by [[Bench]] and [[Dev]]. A run
  * times build (the query function), plan (forcing `executedPlan`) and
  * exec (a noop write: every column executed, no sink cost); the probe's
  * one listener counts its jobs and each completed stage's task metrics.
  * `compiles`/`compile_ms` are the JVM-wide generated-class compilations
  * (Spark's codegen cache misses) and their Janino time during the run.
  * `broadcasts` counts the broadcast variables stored during the run (their
  * first piece) and `broadcast_bytes` the stored size of all their pieces.
  * Jobs submitted while the query function runs carry a local property
  * (stream threads started then inherit it) and count as construction.
  * Counters are read after the listener bus drains, so no late event of
  * one run leaks into the next; runs must not overlap other work on the
  * context. */
final class QueryProbe(spark: SparkSession) extends AutoCloseable {
  import QueryProbe._

  private val sc = spark.sparkContext
  private var jobsBuild, jobsExec = 0
  private var broadcasts, broadcastBytes = 0L
  private val stages = mutable.ArrayBuffer.empty[Stage]

  private[graft] val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = QueryProbe.this.synchronized {
      if (Option(e.properties).exists(_.getProperty(BuildKey) != null)) jobsBuild += 1 else jobsExec += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = QueryProbe.this.synchronized {
      val (i, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      stages += Stage(i.stageId, i.name, i.numTasks, m.executorRunTime, m.executorDeserializeTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = QueryProbe.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case BroadcastBlockId(_, field) if field.startsWith("piece") && b.storageLevel.isValid =>
          if (field == "piece0") broadcasts += 1
          broadcastBytes += b.memSize + b.diskSize
        case _ =>
      }
    }
  }
  sc.addSparkListener(listener)

  /** One build, plan and exec of `fn(spark, sfDir)`. Never throws: a
    * failure is returned as `error`, with the time spent until it. */
  def run(name: String, fn: (SparkSession, String) => DataFrame, sfDir: String): Run = {
    Bus.drain(sc)
    synchronized { jobsBuild = 0; jobsExec = 0; broadcasts = 0; broadcastBytes = 0; stages.clear() }
    val (compiles0, compileNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val secs = Array(0.0, 0.0, 0.0)
    def timed[A](i: Int)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally secs(i) = (System.nanoTime() - t0) / 1e9
    }
    val error =
      try {
        sc.setLocalProperty(BuildKey, name)
        val df = try timed(0)(fn(spark, sfDir)) finally sc.setLocalProperty(BuildKey, null)
        timed(1)(df.queryExecution.executedPlan)
        timed(2)(df.write.format("noop").mode("overwrite").save())
        None
      } catch { // on one line, for Dev's output and Bench's JSON
        case e: Throwable =>
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(400).map(c => if (c < ' ') ' ' else c))
      }
    Bus.drain(sc)
    synchronized(Run(secs(0), secs(1), secs(2), error, jobsBuild, jobsExec, stages.toList,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0, (CodeGenerator.compileTime - compileNs0) / 1e6,
      broadcasts, broadcastBytes))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object QueryProbe {
  private val BuildKey = "graft.probe.build"

  /** Task counters of one completed stage attempt. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long, deserMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def +(o: Stage): Stage = Stage(id, name, tasks + o.tasks, runMs + o.runMs,
      deserMs + o.deserMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  }

  final case class Run(buildS: Double, planS: Double, execS: Double,
      error: Option[String], jobsBuild: Int, jobsExec: Int, stages: Seq[Stage],
      compiles: Long, compileMs: Double, broadcasts: Long, broadcastBytes: Long) {
    def totalS: Double = buildS + planS + execS
    def ok: Boolean = error.isEmpty
    def sum: Stage = stages.foldLeft(Stage(-1, "all", 0, 0, 0, 0, 0, 0, 0))(_ + _)
    /** The scalar counters in print order; Bench's JSON and Dev's line render this one list. */
    def fields: Seq[(String, Any)] = {
      val s = sum
      Seq("build_s" -> f"$buildS%.3f", "plan_s" -> f"$planS%.3f", "exec_s" -> f"$execS%.3f",
        "jobs_build" -> jobsBuild, "jobs_exec" -> jobsExec, "stages" -> stages.size,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "deser_ms" -> s.deserMs, "gc_ms" -> s.gcMs,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "compiles" -> compiles, "compile_ms" -> f"$compileMs%.1f",
        "broadcasts" -> broadcasts, "broadcast_bytes" -> broadcastBytes)
    }
    def json: String = fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }
}
