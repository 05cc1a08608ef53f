package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{LayerMetrics, QueryProbe, SessionCache, SparkEntry, SparkSpec, Tables}

/** Pins the graph layers: each edge layer is also a cached GraphX graph,
  * built once per (session, dir), whose vertex attribute is the node's
  * out-degree, and which every GraphX consumer reads without building or
  * caching into it. */
class GraphLayerSpec extends SparkSpec {

  private def outDegrees(layer: DataFrame): Map[Long, Long] =
    layer.groupBy("src").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def builds(layer: String): Int =
    LayerMetrics.snapshot.collectFirst { case (`layer`, (_, n, _)) => n }.getOrElse(0)

  test("each graph layer's degree attribute is its DataFrame layer's out-degree") {
    val wide = Graph.wideGraph(spark, sf).vertices.collect().toMap
    assert(wide === outDegrees(Graph.symmetricEdgesWide(spark, sf)))

    // the narrow graph also holds every supplier; an endpoint that is no
    // supplier carries NonMember instead of its degree
    val deg = outDegrees(Graph.symmetricEdges(spark, sf))
    val members = Tables.supplier(spark, sf).select("s_suppkey").collect().map(_.getLong(0)).toSet
    val narrow = Graph.narrowGraph(spark, sf).vertices.collect().toMap
    assert(narrow.keySet === members ++ deg.keySet)
    for ((n, attr) <- narrow)
      assert(attr === (if (members(n)) deg.getOrElse(n, 0L) else Graph.NonMember), s"node $n")
  }

  test("every consumer of a warm graph layer runs no construction job and one job in all") {
    val consumers = Seq("bfs_hops", "sssp_weighted", "label_propagation",
      "closeness_centrality", "k_core", "degree_assortativity")
    Graph.narrowGraph(spark, sf); Graph.wideGraph(spark, sf)
    val probe = new QueryProbe(spark)
    try consumers.foreach { n =>
      val run = probe.run(n, SparkEntry.queries(n), sf)
      assert(run.error === None, n)
      assert((run.jobsBuild, run.jobsExec) === ((0, 1)), n)
    } finally probe.close()
  }

  test("a fresh session after clearCache() builds the graph layer again") {
    Graph.narrowGraph(spark, sf)
    val b0 = builds("graphx_edges")
    spark.catalog.clearCache()
    val fresh = spark.newSession()
    try {
      val g = Graph.narrowGraph(fresh, sf)
      assert(builds("graphx_edges") === b0 + 1, "a fresh session must not reuse another's graph")
      assert(Graph.narrowGraph(fresh, sf) eq g, "a warm hit must not build")
      assert(builds("graphx_edges") === b0 + 1)
      // the fresh build released the first session's graph: a hit there
      // builds it again instead of reading uncached RDDs
      Graph.narrowGraph(spark, sf)
      assert(builds("graphx_edges") === b0 + 2)
      assert(g.vertices.getStorageLevel === org.apache.spark.storage.StorageLevel.NONE)
    } finally SessionCache.evict(fresh)
  }

  test("fresh-session rounds of the graph workload do not grow the persisted RDDs") {
    val workload = Seq("label_propagation", "bfs_hops", "degree_assortativity")
    val sessions = Seq.fill(3)(spark.newSession())
    val counts = sessions.map { s =>
      spark.catalog.clearCache()
      workload.foreach(n =>
        SparkEntry.queries(n)(s, sf).write.format("noop").mode("overwrite").save())
      spark.sparkContext.getPersistentRDDs.size
    }
    sessions.foreach(SessionCache.evict)
    assert(counts.tail.forall(_ <= counts.head), s"persisted RDDs per round: $counts")
  }

  test("tiny fixture: NonMember endpoint, edgeless node 1 at hop 0, edgeless layer's one row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-fixture")
    try {
      val s0 = spark
      import s0.implicits._
      Seq(1L, 2L, 3L, 4L).toDF("s_suppkey").write.parquet(s"$dir/supplier.parquet")
      // one sampled line, supplier 4 and part 4: in the narrow domain
      // (mod 4) the edge 4-0, node 0 being no supplier; in the wide domain
      // (mod 16) the self-pair 4-4, which is dropped
      Seq((10L, 4L, 4L)).toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.parquet(s"$dir/lineitem.parquet")
      assert(Graph.narrowGraph(spark, dir.toString).vertices.collect().toMap ===
        Map(0L -> Graph.NonMember, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
      val hops = Graph.queries("bfs_hops")(spark, dir.toString).collect()
      assert(hops.map(r => r.getLong(0) -> r.getInt(1)).toSeq === Seq(1L -> 0))
      // the SQL grand aggregate over no row: count 0, every sum and r null
      val rows = Graph.queries("degree_assortativity")(spark, dir.toString).collect()
      assert(rows.length === 1)
      assert(rows.head.getLong(0) === 0L && (1 to 4).forall(rows.head.isNullAt))
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
