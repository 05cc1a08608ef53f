package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.util.Using

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Shared run-time scaffolding for the `stream_exec_*` gate queries:
  * every gate reaches the engine through [[memory]] or [[foreachBatch]].
  *
  * Five fixed costs dominated those gates at sf0.1 (VERDICT r6: +27 s with
  * no code change):
  *
  *  1. **State stores are per-shuffle-partition per-operator.** Every
  *     stateful operator (windowed agg, dropDuplicates, [flat]MapGroupsWith
  *     State, stream-stream join — the join keeps FOUR stores per partition)
  *     instantiates one HDFSBackedStateStore per shuffle partition per
  *     micro-batch. At the session default (32, sized for batch shuffles on
  *     local[32]) that is pure fixed overhead: the gates' state is a few
  *     thousand keys. The runner drops `spark.sql.shuffle.partitions` to
  *     [[StreamShufflePartitions]] for the duration of one gate query and
  *     restores it after — on a real cluster this knob is sized to state
  *     volume and store memory, not core count, and is safe to scope
  *     per-query because each gate starts from a fresh checkpoint (the
  *     partition count is pinned into the checkpoint at first batch).
  *  2. **Checkpoint litter.** Each gate used to create a temp directory
  *     under /tmp and never delete it, so offset logs + state files
  *     accumulated across bench/verify runs. All temp dirs of the library
  *     (gate checkpoints, builders' scratch table copies) now live under
  *     one per-JVM root that is wiped on first use (clearing any previous
  *     run's leftovers) and again on JVM exit.
  *  3. **A process fork per checkpoint file.** Without libhadoop, Hadoop
  *     forks a `chmod` per local file created, and Spark's default
  *     checkpoint manager a `readlink` per rename. The runner scopes
  *     `spark.sql.streaming.checkpointFileManagerClass` to Spark's file-
  *     system-based manager over [[graft.NioLocalFileSystem]], which forks
  *     neither.
  *  4. **Generated classes compiled again per run.** A gate runs in a clone
  *     of its session; with Spark's artifact isolation on, each clone's
  *     tasks had their own class loader and missed the codegen cache, so
  *     every run recompiled identical code (`stream_exec_join`: 25 classes
  *     per warm run). [[graft.Sessions.local]] turns isolation off, and a
  *     warm gate run compiles no class.
  *  5. **The Hadoop conf broadcast once per plan copy.** Spark's stream-
  *     stream join broadcasts the session's Hadoop conf from its
  *     constructor, so every plan copy (state-operator ids, watermark
  *     propagation, each child rewrite) broadcasts it again: about 29 times
  *     per micro-batch, 58 broadcasts per warm `stream_exec_join` run. The
  *     count stays; [[graft.Sessions]] drops the conf's per-key property
  *     sources, which took a serialized copy from 69,079 B to 112,855 B
  *     and made it several times slower to write.
  */
object StreamGate {

  /** Shuffle-partition count while a streaming gate runs. The gates carry
    * at most a few thousand state keys; 4 partitions keeps micro-batch task
    * count and state-store instantiation proportional to that, not to the
    * machine's core count.
    */
  val StreamShufflePartitions = 4

  /** r17 adaptive band-join key (guide §2.5 hot keys; the estDupRate
    * pattern): the stream-stream interval joins run on a composite
    * (user, hour-bucket) equi-key with one side exploded into two bucket
    * copies — the r16 fix that bounds a hot key's state probing to one
    * interval's events (measured 127 s → output-scale on the Zipf tier).
    * At benign skew the explode's doubled probe stream is the dominant
    * cost (~1.2 s per gate at sf0.1, VERDICT r16), so the key shape is
    * picked by a cheap batch pre-pass over the same events input: the
    * maximum per-user clicks × purchases product bounds the probe work a
    * bare user key would do for its hottest key. BOTH key shapes emit
    * identical rows — the bucket conjunct is implied by the time-range
    * predicate — so the estimate can only ever trade time, never
    * correctness (the StreamJoinKeySpec pins the equivalence), and the
    * two regimes sit orders of magnitude apart (benign testdata maxes
    * near 7e2 pairs, the Zipf tier's hot key carries ~1e9), so the
    * threshold is not finely tuned. Memoized per (session, dir) like
    * contamination_overlap's collapse verdict; the pre-pass is one
    * map-side-aggregable two-stage job over a 2-column projection.
    *
    * Staleness window: the verdict is computed once per (session, dir) and
    * never re-checked, so if files are added under `dir` while the session
    * lives, later gates keep the key shape the first probe chose, even if
    * the new data would flip it. The cost is time only: both key shapes
    * emit identical rows, so a stale verdict can slow a gate (a newly hot
    * key on the bare user key, or the explode on data that went benign)
    * but never change its result. A fresh session re-probes. */
  val HotPairThreshold: Long = 1L << 20
  def hotPairProbe(s: SparkSession, d: String): Boolean =
    graft.SessionCache.getOrElseUpdate(s, ("graft.streamHotPair", d)) {
      import org.apache.spark.sql.functions._
      val m = graft.Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
        .agg(max(col("c") * col("p"))).head()
      !m.isNullAt(0) && m.getLong(0) >= HotPairThreshold
    }

  private lazy val root: Path = {
    // per-PID root: a concurrent graft JVM (driver verify vs local bench)
    // must never wipe this process's live checkpoints at its own first
    // use. Stale siblings from crashed JVMs are reaped here instead —
    // guarded by age so an actually-running sibling's dirs are untouched.
    val base = Paths.get(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    try {
      val cutoff = java.time.Instant.now().minusSeconds(24 * 3600)
      Using.resource(Files.list(base))(_.iterator().forEachRemaining { sib =>
        val name = sib.getFileName.toString
        if (name.startsWith("graft_stream_gate_")) {
          // Liveness first, age only as a fallback: an mtime-only reap
          // would delete the live checkpoints of a legitimately
          // long-running sibling (e.g. a large-SF bench past 24h).
          val sibPid = name.stripPrefix("graft_stream_gate_").toLongOption
          val alive = sibPid.exists { p =>
            try { val h = ProcessHandle.of(p); h.isPresent && h.get().isAlive }
            catch { case _: Exception => true } // can't tell -> keep
          }
          val old = Files.getLastModifiedTime(sib).toInstant.isBefore(cutoff)
          val dead = sibPid.isDefined && !alive
          if (dead || (sibPid.isEmpty && old)) deleteRecursively(sib)
        }
      })
    } catch { case _: Exception => () }
    val p = base.resolve(s"graft_stream_gate_$pid")
    deleteRecursively(p)
    Files.createDirectories(p)
    scala.sys.addShutdownHook(deleteRecursively(p))
    p
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Using.resource(Files.walk(p))(_.iterator().asScala.toSeq.reverse)
        .foreach(f => try Files.deleteIfExists(f) catch { case _: Exception => () })
    }

  /** Fresh temp dir (checkpoint location or scratch space) under the shared
    * cleaned root. The only place the library creates a temp directory.
    */
  def tempDir(tag: String): String =
    Files.createTempDirectory(root, tag).toString

  /** Run one gate into a memory sink and return the sink table. `mode` is
    * the sink's output mode ("append", "update" or "complete").
    */
  def memory(s: SparkSession, tag: String, mode: String)(build: => DataFrame): DataFrame = {
    val name = uniqueName(tag)
    run(s, tag, build)(_.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }

  /** Run one gate with `fn` as its micro-batch sink. */
  def foreachBatch(s: SparkSession, tag: String)(build: => DataFrame)(
      fn: (DataFrame, Long) => Unit): Unit =
    run(s, tag, build)(_.foreachBatch(fn))

  /** The one gate runner. `build` is evaluated with the shuffle-partition
    * count scoped down to [[StreamShufflePartitions]], so a batch pre-pass
    * inside it ([[hotPairProbe]], a cutoff read) runs under the stream's
    * conf. The RocksDB state-store provider is set only when the plan holds
    * a `transformWithState` node: that operator is built on changelog-
    * checkpointing stores and the default HDFS-backed provider rejects it
    * at start, while every other gate keeps exercising the default
    * provider. The checkpoint manager is Spark's file-system-based one
    * only over [[graft.NioLocalFileSystem]]: over the `file:` file system
    * Hive registers, its overwriting renames silently keep the old file.
    * All three confs read as before once the gate ends. The run is one
    * `AvailableNow` pass over a fresh checkpoint dir; its progress is
    * recorded under `tag`.
    */
  private def run(s: SparkSession, tag: String, build: => DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val scoped = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass")
    val prev = scoped.map(k => k -> s.conf.getOption(k))
    val ckpt = tempDir(s"${tag}_ckpt_")
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
    if (new HPath(ckpt).getFileSystem(s.sessionState.newHadoopConf()).isInstanceOf[graft.NioLocalFileSystem])
      s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
    try {
      val df = build
      if (df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val t0 = System.nanoTime()
      val q = sink(df.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      record(tag, q, (System.nanoTime() - t0) / 1000000L)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  private val nameCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-invocation unique memory-sink query name. Memory-sink names are
    * session-global temp views AND active-query identifiers: a second
    * concurrent run of the same gate with a static name either fails to
    * start (duplicate active query name) or clobbers the first run's sink
    * table between the end of its run and the table read (ADVICE r11). */
  private def uniqueName(tag: String): String = s"${tag}_u${nameCounter.incrementAndGet()}"

  /** What the runner records per gate tag, aggregated over the tag's runs.
    * `rows`, `bytes` and `rowsEvicted` are the state store's high-water
    * marks (state rows, state bytes, rows removed by eviction), maxed over
    * every progress event, so a gate's "state is bounded" claim is
    * measured (VERDICT r11 #7); a gate with no stateful operator records
    * zeros, which is itself the statelessness proof. The rest are sums over
    * the runs: `batches` executed, `wallMs` from start to termination,
    * `phasesMs` the progress reports' `durationMs` by phase
    * (`triggerExecution` holds the others: `addBatch`, `queryPlanning`,
    * `walCommit`, ...), and `commitMs` the state stores' commit time. */
  final case class GateStats(
      rows: Long, bytes: Long, rowsEvicted: Long,
      runs: Long, batches: Long, wallMs: Long, phasesMs: Map[String, Long], commitMs: Long) {
    def merge(o: GateStats): GateStats = GateStats(
      math.max(rows, o.rows), math.max(bytes, o.bytes), math.max(rowsEvicted, o.rowsEvicted),
      runs + o.runs, batches + o.batches, wallMs + o.wallMs,
      (phasesMs.toSeq ++ o.phasesMs).groupMapReduce(_._1)(_._2)(_ + _),
      commitMs + o.commitMs)
  }

  private val gateStatsMap = scala.collection.concurrent.TrieMap.empty[String, GateStats]

  /** Record a finished gate query under its tag. Reads the query's
    * retained progress array — synchronous, no listener race with
    * AvailableNow termination. */
  private def record(tag: String, q: StreamingQuery, wallMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val ps = q.recentProgress.toSeq
    val ops = ps.map(_.stateOperators.toSeq)
    val run = GateStats(
      rows = ops.map(_.map(_.numRowsTotal).sum).maxOption.getOrElse(0L),
      bytes = ops.map(_.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L),
      rowsEvicted = ops.map(_.map(_.numRowsRemoved).sum).maxOption.getOrElse(0L),
      runs = 1, batches = ps.map(_.batchId).distinct.size, wallMs = wallMs,
      phasesMs = ps.flatMap(_.durationMs.asScala).groupMapReduce(_._1)(_._2.longValue)(_ + _),
      commitMs = ops.map(_.map(_.commitTimeMs).sum).sum)
    gateStatsMap.updateWith(tag)(prev => Some(prev.fold(run)(_.merge(run))))
    ()
  }

  /** Sorted snapshot of everything recorded per gate. */
  def gateStats: Seq[(String, GateStats)] = gateStatsMap.toSeq.sortBy(_._1)

  /** Sorted snapshot of the per-gate state high-water marks
    * (state rows, state bytes, rows evicted). */
  def stateSnapshot: Seq[(String, (Long, Long, Long))] =
    gateStats.map { case (k, g) => k -> ((g.rows, g.bytes, g.rowsEvicted)) }
}
