package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Shared run-time scaffolding for the `stream_exec_*` gate queries:
  * every gate reaches the engine through [[memory]] or [[foreachBatch]].
  *
  * Two fixed costs dominated those gates at sf0.1 (VERDICT r6: +27 s with no
  * code change):
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
      Files.list(base).iterator().forEachRemaining { sib =>
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
      }
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
      Files.walk(p).iterator().asScala.toSeq.reverse
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
    * provider. Both confs read as before once the gate ends. The run is one
    * `AvailableNow` pass over a fresh checkpoint dir; its state metrics are
    * recorded under `tag`.
    */
  private def run(s: SparkSession, tag: String, build: => DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val shuffleKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevShuffle = s.conf.get(shuffleKey)
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(shuffleKey, StreamShufflePartitions.toString)
    try {
      val df = build
      if (df.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
        s.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = sink(df.writeStream)
        .option("checkpointLocation", tempDir(s"${tag}_ckpt_"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordState(tag, q)
    } finally {
      s.conf.set(shuffleKey, prevShuffle)
      prevProvider match {
        case Some(v) => s.conf.set(providerKey, v)
        case None    => s.conf.unset(providerKey)
      }
    }
  }

  private val nameCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-invocation unique memory-sink query name. Memory-sink names are
    * session-global temp views AND active-query identifiers: a second
    * concurrent run of the same gate with a static name either fails to
    * start (duplicate active query name) or clobbers the first run's sink
    * table between the end of its run and the table read (ADVICE r11). */
  private def uniqueName(tag: String): String = s"${tag}_u${nameCounter.incrementAndGet()}"

  /** Final state-store footprint per gate tag — (state rows, state bytes,
    * rows removed by eviction), maxed over the run's progress events so the
    * published number is the store's high-water mark. VERDICT r11 #7: the
    * gates' "state is bounded" claims should be measured like everything
    * else; Bench publishes this snapshot next to the layer manifest. */
  private val stateMetricsMap = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, Long)]

  /** Record the state-operator metrics of a finished gate query under its
    * tag, aggregating repeated runs of the same gate. Reads the query's
    * retained progress array — synchronous, no listener race with
    * AvailableNow termination. Gates with no stateful operator record
    * (0, 0, 0), which is itself the statelessness proof. */
  private def recordState(tag: String, q: StreamingQuery): Unit = {
    var rows = 0L; var bytes = 0L; var removed = 0L
    q.recentProgress.foreach { p =>
      var r = 0L; var b = 0L; var rm = 0L
      p.stateOperators.foreach { so =>
        r += so.numRowsTotal; b += so.memoryUsedBytes; rm += so.numRowsRemoved
      }
      rows = math.max(rows, r); bytes = math.max(bytes, b); removed = math.max(removed, rm)
    }
    stateMetricsMap.updateWith(tag) {
      case Some((r0, b0, rm0)) =>
        Some((math.max(r0, rows), math.max(b0, bytes), math.max(rm0, removed)))
      case None => Some((rows, bytes, removed))
    }
    ()
  }

  /** Sorted snapshot of the per-gate state high-water marks. */
  def stateSnapshot: Seq[(String, (Long, Long, Long))] =
    stateMetricsMap.toSeq.sortBy(_._1)
}
