package graft

import org.apache.spark.SparkContext
import org.apache.spark.graphx.Graph
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memoization with eviction when the session's context
  * shuts down (ADVICE r12: caches keyed by SparkSession in plain TrieMaps
  * outlive stopped sessions and pin cached/checkpointed block references
  * for the JVM lifetime in multi-session processes). First use on a
  * context installs one SparkListener on it; on application end every
  * entry keyed by one of its sessions is dropped, releasing the DataFrame
  * references so the blocks (already gone with the context) and plans can
  * be garbage-collected.
  *
  * The values memoized through this cache are bounded by construction —
  * table readers (a plan, not data), persisted layer frames, trained
  * model frames — never corpus-sized driver data.
  *
  * This object is the one owner of how long a persisted frame lives:
  *  - a frame another query reuses is a [[persisted]] layer, alive until
  *    the session ends;
  *  - a builder's private loop frames are handed to [[retire]], alive
  *    until the same builder runs again in the same session (the lazy
  *    result still reads them) or the session ends;
  *  - RDDs a builder persists outside the CacheManager (GraphX caches
  *    every round's vertex and edge RDDs) go to the RDD [[retire]] through
  *    [[retiring]], alive until the same builder runs again on the same
  *    context;
  *  - a cached GraphX graph other queries read is a [[layer]] whose build
  *    is [[retiring]] under the layer's name: the next build of that layer
  *    on the context (a fresh session's) releases it, and a hit on a
  *    released graph builds it again;
  *  - a frame whose whole life fits inside one synchronous call (a
  *    foreachBatch body, scratch consumed by an eager count or collect
  *    loop) may be released in that call — those sites are pinned by
  *    ContractSpec's unpersist inventory.
  */
object SessionCache {

  private val store =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Any]
  /** Storage level each [[layer]] value carried right after its builder
    * ran (NONE entries are never recorded). Lets a hit re-assert the
    * persistence: `spark.catalog.clearCache()` (or any cacheQuery
    * eviction) drops the CacheManager REGISTRATION of a memoized layer
    * frame while this cache keeps handing the frame out — without the
    * re-persist every consumer silently recomputes the layer from
    * source for the rest of the session (the r14 order-dependent
    * ContractSpec failure: stress_centrality re-ran the whole wide-graph
    * build at every construction once a clearCache landed between suite
    * runs). Re-persisting only re-registers; blocks repopulate lazily on
    * the next consumer's execution — a one-time cost, not a rebuild. */
  private val builtLevel = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Any), StorageLevel]
  /** Each owner's last RDD generation, keyed by (context, owner). */
  private val rddGenerations =
    scala.collection.concurrent.TrieMap.empty[(SparkContext, String), Seq[RDD[_]]]
  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkContext, java.lang.Boolean])

  /** One application-end listener per context: it drops every session's
    * entries on that context and the context's RDD generations. */
  private def hook(sc: SparkContext): Unit =
    if (hooked.add(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          store.keys.iterator.map(_._1).filter(_.sparkContext eq sc).toSet.foreach(evict)
          rddGenerations.keys.iterator.filter(_._1 eq sc).foreach(rddGenerations.remove)
          hooked.remove(sc)
        }
      })
    }

  /** Drop every entry keyed by `s` — the application-end listener's body
    * for one session, callable directly so the eviction path is
    * unit-testable without stopping the suite's shared context
    * (SessionCacheSpec). */
  private[graft] def evict(s: SparkSession): Unit = {
    store.keys.iterator.filter(_._1 eq s).foreach(store.remove)
    builtLevel.keys.iterator.filter(_._1 eq s).foreach(builtLevel.remove)
  }

  /** Entry count for `s` (test observability). */
  private[graft] def entriesFor(s: SparkSession): Int =
    store.keys.count(_._1 eq s)

  /** Memoize `mk` under (session, key). `mk` may run more than once under
    * concurrent first access (TrieMap getOrElseUpdate is not atomic for
    * side effects) — every memoized builder here is idempotent. */
  def getOrElseUpdate[V](s: SparkSession, key: Any)(mk: => V): V = {
    hook(s.sparkContext)
    store.getOrElseUpdate((s, key), mk).asInstanceOf[V]
  }

  /** [[layer]] for a frame that other queries read: persisted
    * MEMORY_AND_DISK and counted inside the build, so the layer's
    * materialization is charged to its own build timer instead of to
    * whichever consumer's action fires first. */
  def persisted(name: String, s: SparkSession, key: Any)(mk: => DataFrame): DataFrame =
    layer(name, s, key) {
      val df = mk.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** Key of the last generation of loop frames `owner` handed to [[retire]]. */
  private final case class Generation(owner: String)

  /** Record `frames` as `owner`'s current generation in `s` and unpersist
    * the previous one. Releasing a builder's loop frames inside the
    * builder would drop the cache before the returned lazy frame ever
    * executes; never releasing them accumulates blocks across calls. One
    * generation per (session, owner) bounds the footprint, and an earlier
    * call's un-executed result stays correct after retirement (its plan
    * recomputes without the cache).
    *
    * Plan-aware: CacheManager entries are keyed by CANONICAL PLAN, not by
    * Dataset reference, and a deterministic builder's generations are
    * plan-identical — the new generation's persist() calls no-op onto the
    * old generation's entries. Unpersisting those would drop the very
    * entries the new generation relies on, so only old frames whose plan
    * the new generation does not share are released. */
  def retire(s: SparkSession, owner: String, frames: Seq[DataFrame]): Unit = {
    hook(s.sparkContext)
    val keep = frames.map(_.queryExecution.analyzed.canonicalized)
    store.put((s, Generation(owner)), frames).foreach(_.asInstanceOf[Seq[DataFrame]].foreach { old =>
      if (!keep.contains(old.queryExecution.analyzed.canonicalized)) old.unpersist(false)
    })
  }

  /** [[retire]] for RDDs a builder persisted itself, outside the
    * CacheManager — GraphX `.cache()`s each round's vertex and edge RDDs.
    * Records `rdds` as `owner`'s generation and unpersists the previous
    * one. Keyed by (context, owner), not session: an RDD belongs to the
    * context, so a run from any session of it releases the last run's
    * RDDs, and `spark.catalog.clearCache()` never frees them. An earlier
    * run's un-executed result stays correct after release (its lineage
    * recomputes). */
  def retire(sc: SparkContext, owner: String, rdds: Seq[RDD[_]]): Unit = {
    hook(sc)
    rddGenerations.put((sc, owner), rdds)
      .foreach(_.filterNot(rdds.contains).foreach(_.unpersist(blocking = false)))
  }

  /** Runs `body` and hands every RDD persisted while it ran to the RDD
    * [[retire]] as `owner`'s generation. (A builder on another thread
    * persisting in the same window would lose its cache early — a
    * recompute, never a wrong result.) */
  def retiring[T](sc: SparkContext, owner: String)(body: => T): T = {
    val before = sc.getPersistentRDDs.keySet
    val out = body
    retire(sc, owner, sc.getPersistentRDDs.collect { case (id, r) if !before(id) => r }.toSeq)
    out
  }

  /** Memoized layer with [[LayerMetrics]] accounting: hits record a reuse,
    * misses run `mk` under the named build timer. The shared shape of the
    * mart/gram/pair/vocab/graph layer caches (SURVEY §4's materialize-once
    * posture), now with session-end eviction in one place. */
  def layer[V](name: String, s: SparkSession, key: Any)(mk: => V): V = {
    hook(s.sparkContext)
    val k = (s, (name, key))
    store.get(k) match {
      case Some(g: Graph[_, _]) if g.vertices.getStorageLevel == StorageLevel.NONE =>
        // another session's build of this graph layer released it: build again
        store.remove(k, g)
        layer(name, s, key)(mk)
      case Some(v) =>
        LayerMetrics.reuse(name)
        v match { // self-heal a dropped persist registration (see builtLevel)
          case df: org.apache.spark.sql.Dataset[_] =>
            builtLevel.get(k).foreach { lvl =>
              if (df.storageLevel == StorageLevel.NONE)
                df.persist(lvl)
            }
          case _ =>
        }
        v.asInstanceOf[V]
      case None =>
        val v = store.getOrElseUpdate(k, LayerMetrics.build(name)(mk))
        v match {
          case df: org.apache.spark.sql.Dataset[_]
              if df.storageLevel != StorageLevel.NONE =>
            builtLevel.put(k, df.storageLevel)
          case _ =>
        }
        v.asInstanceOf[V]
    }
  }
}
