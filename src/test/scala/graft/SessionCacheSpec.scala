package graft

/** Pins the SessionCache eviction contract (VERDICT r13 #7): layer/model
  * caches are keyed by (session, key) and must not outlive their session
  * in a multi-session process — entries pin DataFrame references whose
  * cached/checkpointed blocks would otherwise leak conceptually (the
  * blocks themselves die with the context; the references and plans
  * should too). The application-end listener's body is exercised
  * directly (stopping the suite's shared context would take every other
  * suite down with it); the listener registration itself is one
  * addSparkListener call on first use.
  */
class SessionCacheSpec extends SparkSpec {

  test("session entries evict on application end and are isolated per session") {
    val child = spark.newSession()
    // populate entries for BOTH sessions, same key
    var builds = 0
    def build(): Int = { builds += 1; builds }
    val a1 = SessionCache.layer("spec_probe", spark, "k")(build())
    val c1 = SessionCache.layer("spec_probe", child, "k")(build())
    assert(a1 !== c1, "sessions must not share cache entries")
    assert(SessionCache.entriesFor(child) === 1)
    // memoized: no rebuild on re-read
    assert(SessionCache.layer("spec_probe", child, "k")(build()) === c1)
    assert(builds === 2)
    // application end for the child: its entries drop, the parent's stay
    val parentEntries = SessionCache.entriesFor(spark)
    SessionCache.evict(child)
    assert(SessionCache.entriesFor(child) === 0)
    assert(SessionCache.entriesFor(spark) === parentEntries)
    // a fresh build after eviction runs the builder again (no stale ref)
    assert(SessionCache.layer("spec_probe", child, "k")(build()) === 3)
    SessionCache.evict(child)
  }

  test("a layer frame whose persist registration was dropped re-persists on hit") {
    // r14's order-dependent ContractSpec failure: clearCache() drops the
    // CacheManager REGISTRATION of a memoized layer frame, but the memo
    // keeps handing the frame out and the builder (a memo hit) never
    // re-persists — every consumer then silently recomputes the layer
    // from source for the rest of the session. The layer() hit path must
    // self-heal: re-assert the storage level recorded at build time.
    import org.apache.spark.storage.StorageLevel
    val df = SessionCache.layer("heal_probe", spark, sf) {
      val d = spark.range(100).toDF("n")
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    spark.catalog.clearCache()
    assert(df.storageLevel === StorageLevel.NONE, "clearCache drops the registration")
    val hit = SessionCache.layer("heal_probe", spark, sf) {
      fail("builder must not re-run on a memo hit"); df
    }
    assert(hit.storageLevel === StorageLevel.MEMORY_AND_DISK,
      "hit path must re-persist at the recorded level")
    hit.unpersist(false)
  }

  test("retire releases the previous generation of the same (session, owner) only") {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, NONE}
    val child = spark.newSession()
    def frame(ss: org.apache.spark.sql.SparkSession, n: Long) =
      ss.range(n).toDF("v").persist(MEMORY_AND_DISK)
    val shared = frame(spark, 10)  // plan repeated by the next generation
    val stale = frame(spark, 11)   // plan the next generation drops
    SessionCache.retire(spark, "retire_probe", Seq(shared, stale))
    val other = frame(child, 12)
    SessionCache.retire(child, "retire_probe", Seq(other))
    val childEntries = SessionCache.entriesFor(child)

    // second generation in the parent session: same plan as `shared`
    val again = frame(spark, 10)
    SessionCache.retire(spark, "retire_probe", Seq(again))
    assert(stale.storageLevel === NONE, "a plan the new generation drops is released")
    assert(shared.storageLevel === MEMORY_AND_DISK,
      "an identical plan shares one cache entry with the new generation and is kept")
    assert(again.storageLevel === MEMORY_AND_DISK)
    assert(other.storageLevel === MEMORY_AND_DISK,
      "another session's generation of the same owner is left alone")

    assert(childEntries === 1)
    SessionCache.evict(child)
    assert(SessionCache.entriesFor(child) === 0, "session end drops the generation entry")
    again.unpersist(false)
    other.unpersist(false)
  }

  test("an RDD generation is released by the owner's next run from any session of the context") {
    // GraphX loops cache their per-round RDDs outside the CacheManager; the
    // generation is keyed by (context, owner), so a run from ANOTHER
    // session of the same context releases the previous run's RDDs
    val sc = spark.sparkContext
    val child = spark.newSession()
    val bfs = SparkEntry.queries("bfs_hops")
    val kCore = SparkEntry.queries("k_core")
    // each window below must see only the RDDs the GraphX loop itself
    // persists, so the session's shared graph layers are built (or, when
    // another session's build released them, rebuilt) just before it
    import graft.queries.Graph.{narrowGraph, wideGraph}
    def persisted = sc.getPersistentRDDs.keySet.toSet
    def generation(run: => Unit): Set[Int] = { val p0 = persisted; run; persisted -- p0 }
    var first: org.apache.spark.sql.DataFrame = null
    narrowGraph(spark, sf); wideGraph(spark, sf)
    val firstGen = generation { first = bfs(spark, sf) }
    val otherGen = generation(kCore(spark, sf))
    assert(firstGen.nonEmpty && otherGen.nonEmpty)

    var second: org.apache.spark.sql.DataFrame = null
    narrowGraph(child, sf)
    val secondGen = generation { second = bfs(child, sf) }
    assert((firstGen & persisted).isEmpty, "the first run's RDDs are released")
    assert(secondGen.nonEmpty && secondGen.subsetOf(persisted))
    assert(otherGen.subsetOf(persisted), "another owner's generation is untouched")
    // the first run's lazy result recomputes from lineage after release
    val rows = first.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty && rows(1L) === 0)
    assert(rows === second.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    SessionCache.evict(child)
  }
}
