package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A recorded span: a named interval with the span that caused it.
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end)
}

/** Per-pass counters gathered by the listeners of the traced run. */
final class PassCounters {
  var jobsBuild = 0L; var jobsExec = 0L
  var stages = 0L; var tasks = 0L; var tasksFailed = 0L
  var runMs = 0L; var deserMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var worstSkew = 1.0
  var batches = 0L; var inputRows = 0L
  var triggerMs = 0L; var addBatchMs = 0L; var planningMs = 0L
  var offsetsMs = 0L; var walMs = 0L; var stateCommitMs = 0L
}

/** The traced run's instruments, all registered from outside the library:
  * a span recorder for the harness's own boundaries (pass, query and its
  * build / plan / exec phases), a `SparkListener` that turns jobs and
  * stages into child spans and sums task metrics per pass, and a
  * `StreamingQueryListener` that turns each stream trigger into a span
  * under the gate query that started it.
  *
  * The harness tags each phase with Spark local properties (pass index,
  * phase name, span id); jobs submitted from stream execution threads
  * inherit them from the thread that started the stream. */
final class Probe {
  import Probe._

  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()

  private val spans = mutable.ArrayBuffer.empty[Span]
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private val counters = mutable.Map.empty[Int, PassCounters]
  def pass(i: Int): PassCounters = counters.synchronized {
    counters.getOrElseUpdate(i, new PassCounters)
  }

  /** Trigger time per gate query span, for the outside-trigger share. */
  private val triggerMsBySpan = mutable.Map.empty[Long, Long]
  def triggerMsOf(span: Long): Option[Long] =
    triggerMsBySpan.synchronized(triggerMsBySpan.get(span))

  /** The query currently running on the harness thread: (pass, span). */
  @volatile var current: (Int, Long) = (-1, 0L)

  private val jobTags = mutable.Map.empty[Int, (JobTag, Double)]
  private val stageTags = mutable.Map.empty[Int, JobTag]
  private val stageRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def tagOf(p: Properties): Option[(JobTag, String)] =
    Option(p).flatMap(p => Option(p.getProperty(PassKey)).map { pass =>
      (JobTag(pass.toInt, p.getProperty(SpanKey, "0").toLong),
        p.getProperty(PhaseKey, ""))
    })

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tagOf(e.properties).foreach { case (tag, phase) =>
        val c = pass(tag.pass)
        c.synchronized {
          if (phase == "build") c.jobsBuild += 1 else c.jobsExec += 1
        }
        synchronized {
          jobTags(e.jobId) = (tag, e.time.toDouble)
          e.stageIds.foreach(sid => stageTags(sid) = JobTag(tag.pass, jobSpan(e.jobId)))
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTags.remove(e.jobId).foreach { case (tag, start) =>
        record(Span(jobSpan(e.jobId), tag.span, "job", s"job ${e.jobId}",
          start, e.time.toDouble))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = synchronized(stageTags.get(e.stageId))
      tag.foreach { t =>
        val c = pass(t.pass)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.tasksFailed += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.deserMs += m.executorDeserializeTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRecords += m.inputMetrics.recordsRead
          }
        }
        if (m != null) synchronized {
          stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val tag = synchronized(stageTags.get(info.stageId))
      val runs = synchronized(stageRuns.remove((info.stageId, info.attemptNumber())))
      tag.foreach { t =>
        val c = pass(t.pass)
        val skew = runs.filter(_.size >= 2).map { r =>
          val sorted = r.sorted
          math.max(sorted.last, 1L).toDouble / math.max(sorted(sorted.size / 2), 1L)
        }
        c.synchronized {
          c.stages += 1
          skew.foreach(k => c.worstSkew = math.max(c.worstSkew, k))
        }
        for (s <- info.submissionTime; f <- info.completionTime)
          record(Span(newId(), t.span, "stage", s"stage ${info.stageId}", s.toDouble, f.toDouble))
      }
    }
  }

  /** Job span ids come from the same id space as the harness's spans. */
  private val jobSpanIds = mutable.Map.empty[Int, Long]
  private def jobSpan(jobId: Int): Long = jobSpanIds.getOrElseUpdate(jobId, newId())

  private val runToQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Int, Long)]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runToQuery.put(e.runId, current)

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (passIdx, span) = Option(runToQuery.get(p.runId)).getOrElse(current)
      if (passIdx >= 0) {
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val trigger = d("triggerExecution")
        val c = pass(passIdx)
        c.synchronized {
          c.batches += 1
          c.inputRows += p.numInputRows
          c.triggerMs += trigger
          c.addBatchMs += d("addBatch")
          c.planningMs += d("queryPlanning")
          c.offsetsMs += d("latestOffset") + d("getBatch")
          c.walMs += d("walCommit") + d("commitOffsets")
          c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        }
        triggerMsBySpan.synchronized {
          triggerMsBySpan(span) = triggerMsBySpan.getOrElse(span, 0L) + trigger
        }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        record(Span(newId(), span, "trigger", s"${p.name} batch ${p.batchId}",
          start, start + trigger))
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Probe {
  private final case class JobTag(pass: Int, span: Long)

  val PassKey = "perfbench.pass"
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
}
