package graft.queries

import org.apache.spark.graphx.{Graph => GraphX}
import org.apache.spark.sql.DataFrame

import graft.{LayerMetrics, QueryProbe, SessionCache, SparkEntry, SparkSpec, Tables}

/** Pins the graph layers: cached GraphX graphs built once per (session,
  * dir) straight from the lineitem scan, whose vertex attribute is the
  * node's out-degree, whose edges are the SQL consumers' DataFrame layer
  * rows, and which every GraphX consumer reads without building or
  * caching into it. */
class GraphLayerSpec extends SparkSpec {

  private def outDegrees(layer: DataFrame): Map[Long, Long] =
    layer.groupBy("src").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every edge, sorted, duplicates kept. */
  private def edges(g: GraphX[Long, Unit]): Seq[(Long, Long)] =
    g.edges.map(e => (e.srcId, e.dstId)).collect().toSeq.sorted

  private def rows(layer: DataFrame): Seq[(Long, Long)] =
    layer.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** pagerank_integer's edge set as its oracle derives it. */
  private def supplyRows(d: String): Seq[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val nSupp = Tables.supplier(spark, d).agg(count(lit(1)).as("n"))
    rows(Tables.lineitem(spark, d).crossJoin(nSupp)
      .select(col("l_suppkey").as("src"), (col("l_partkey") % col("n")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
  }

  /** Each layer's edges against the derivation its SQL twin uses. */
  private def assertEdgesMatchSql(d: String): Unit = {
    assert(edges(Graph.narrowGraph(spark, d)) === rows(Graph.symmetricEdges(spark, d)))
    assert(edges(Graph.wideGraph(spark, d)) === rows(Graph.symmetricEdgesWide(spark, d)))
    assert(edges(Graph.supplyGraph(spark, d)) === supplyRows(d))
  }

  /** Writes the fixture tables under a temp dir, runs `body` on it. */
  private def withFixture(suppliers: Seq[Long], lines: Seq[(Long, Option[Long], Option[Long])])(
      body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-fixture")
    try {
      val s0 = spark
      import s0.implicits._
      suppliers.toDF("s_suppkey").write.parquet(s"$dir/supplier.parquet")
      lines.toDF("l_orderkey", "l_partkey", "l_suppkey").write.parquet(s"$dir/lineitem.parquet")
      body(dir.toString)
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

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

  test("each graph layer's edges are its SQL twin's rows, each once") {
    assertEdgesMatchSql(sf)
  }

  test("a cold graph layer builds inside its first consumer's one job") {
    for ((q, layer) <- Seq("label_propagation" -> "graphx_edges",
        "degree_assortativity" -> "graphx_edges_wide")) {
      spark.catalog.clearCache()
      val fresh = spark.newSession()
      val probe = new QueryProbe(spark)
      try {
        // the table readers' own footer jobs are not the layer's
        Tables.lineitem(fresh, sf); Tables.supplier(fresh, sf)
        val b0 = builds(layer)
        val run = probe.run(q, (_, d) => SparkEntry.queries(q)(fresh, d), sf)
        assert(run.error === None, q)
        assert((run.jobsBuild, run.jobsExec) === ((0, 1)), q)
        assert(builds(layer) === b0 + 1, q)
      } finally { probe.close(); SessionCache.evict(fresh) }
    }
  }

  test("tiny fixture: NonMember endpoint, edgeless node 1 at hop 0, edgeless layer's one row") {
    // one sampled line, supplier 4 and part 4: in the narrow domain (mod 4)
    // the edge 4-0, node 0 being no supplier; in the wide domain (mod 16)
    // the self-pair 4-4, which is dropped. Lines with a null supplier or
    // part key are no edge.
    withFixture(Seq(1L, 2L, 3L, 4L),
        Seq((10L, Some(4L), Some(4L)), (20L, None, Some(3L)), (30L, Some(5L), None))) { dir =>
      assertEdgesMatchSql(dir)
      assert(edges(Graph.narrowGraph(spark, dir)) === Seq(0L -> 4L, 4L -> 0L))
      assert(edges(Graph.supplyGraph(spark, dir)) === Seq(4L -> 0L))
      assert(Graph.narrowGraph(spark, dir).vertices.collect().toMap ===
        Map(0L -> Graph.NonMember, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
      val hops = Graph.queries("bfs_hops")(spark, dir).collect()
      assert(hops.map(r => r.getLong(0) -> r.getInt(1)).toSeq === Seq(1L -> 0))
      // the SQL grand aggregate over no row: count 0, every sum and r null
      val assort = Graph.queries("degree_assortativity")(spark, dir).collect()
      assert(assort.length === 1)
      assert(assort.head.getLong(0) === 0L && (1 to 4).forall(assort.head.isNullAt))
    }
  }

  test("tiny fixture without suppliers: every layer is edgeless, as its SQL twin") {
    // the SQL layer's part key modulo a zero count is null, so no line is
    // an edge; the graph builds must not divide by that zero
    withFixture(Nil, Seq((10L, Some(4L), Some(3L)), (11L, Some(5L), Some(2L)))) { dir =>
      assertEdgesMatchSql(dir)
      assert(edges(Graph.wideGraph(spark, dir)).isEmpty)
      assert(Graph.narrowGraph(spark, dir).vertices.count() === 0)
      assert(SparkEntry.queries("pagerank_integer")(spark, dir).count() === 0)
      assert(Graph.queries("degree_assortativity")(spark, dir).collect().head.getLong(0) === 0L)
    }
  }
}
