package graft.queries

import org.apache.spark.graphx.{Graph => GraphX}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LayerMetrics, QueryProbe, SessionCache, SparkEntry, SparkSpec, Tables}

/** Pins the graph layers: cached GraphX graphs built once per (session,
  * dir) straight from the lineitem scan, whose vertex attribute is the
  * node's out-degree, whose edges are the oracle SQL's edges, and which
  * every consumer reads without building or caching into it. */
class GraphLayerSpec extends SparkSpec {

  private def outDegrees(edges: Seq[(Long, Long)]): Map[Long, Long] =
    edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }

  /** Every edge, sorted, duplicates kept. */
  private def edges(g: GraphX[Long, Unit]): Seq[(Long, Long)] =
    g.edges.map(e => (e.srcId, e.dstId)).collect().toSeq.sorted

  private def rows(layer: DataFrame): Seq[(Long, Long)] =
    layer.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def nSupp(d: String): DataFrame =
    Tables.supplier(spark, d).agg(count(lit(1)).as("n"))

  /** A symmetric layer's edges as the oracle SQL derives them: sampled
    * lines, the part key modulo `widen` times the supplier count,
    * self-pairs dropped, the DISTINCT (least, greatest) `canon` pairs
    * emitted in both directions. */
  private def canonRows(d: String, widen: Int): Seq[(Long, Long)] = {
    val canon = Tables.lineitem(spark, d).filter(col("l_orderkey") % 10 === 0)
      .crossJoin(nSupp(d))
      .select(col("l_suppkey").as("x"), (col("l_partkey") % (col("n") * widen)).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    rows(canon.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(canon.select(col("b").as("src"), col("a").as("dst"))))
  }

  /** pagerank_integer's edge set as its oracle derives it. */
  private def supplyRows(d: String): Seq[(Long, Long)] =
    rows(Tables.lineitem(spark, d).crossJoin(nSupp(d))
      .select(col("l_suppkey").as("src"), (col("l_partkey") % col("n")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())

  /** Each layer's edges against the derivation of its oracle SQL. */
  private def assertEdgesMatchSql(d: String): Unit = {
    assert(edges(Graph.narrowGraph(spark, d)) === canonRows(d, 1))
    assert(edges(Graph.wideGraph(spark, d)) === canonRows(d, 4))
    assert(edges(Graph.supplyGraph(spark, d)) === supplyRows(d))
  }

  private def query(name: String, d: String) = SparkEntry.queries(name)(spark, d).collect()

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

  test("each graph layer's degree attribute is its oracle edges' out-degree") {
    val wide = Graph.wideGraph(spark, sf).vertices.collect().toMap
    assert(wide === outDegrees(canonRows(sf, 4)))

    // the narrow graph also holds every supplier; an endpoint that is no
    // supplier carries NonMember instead of its degree
    val deg = outDegrees(canonRows(sf, 1))
    val members = Tables.supplier(spark, sf).select("s_suppkey").collect().map(_.getLong(0)).toSet
    val narrow = Graph.narrowGraph(spark, sf).vertices.collect().toMap
    assert(narrow.keySet === members ++ deg.keySet)
    for ((n, attr) <- narrow)
      assert(attr === (if (members(n)) deg.getOrElse(n, 0L) else Graph.NonMember), s"node $n")
  }

  test("every consumer of a warm graph layer runs no construction job and one job in all") {
    val consumers = Seq("bfs_hops", "sssp_weighted", "label_propagation",
      "closeness_centrality", "k_core", "degree_assortativity", "triangle_count",
      "clustering_coefficient", "stress_centrality")
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
      // the oracle's deg groups every edge source, node 0 included; the
      // one edge closes no triangle, and deg < 2 reads lcc 0.0
      val lcc = query("clustering_coefficient", dir)
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(lcc === Map(0L -> ((1L, 0L, 0.0)), 4L -> ((1L, 0L, 0.0))))
      assert(query("triangle_count", dir).map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((0L, 1L)))
      // the wide graph is edgeless: no seed reaches a node besides itself
      assert(query("stress_centrality", dir).isEmpty)
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
      // the oracle's t is a grand aggregate: one row over no edge
      assert(query("triangle_count", dir).map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        Seq((0L, 0L)))
      assert(query("clustering_coefficient", dir).isEmpty)
      assert(query("stress_centrality", dir).isEmpty)
    }
  }

  test("tiny fixture: stress seeds are the suppliers, never part residues") {
    // suppliers 1 and 2, so the wide domain is mod 8 and its nodes 3 and 4
    // are part residues, which id <= 4 must not make seeds. Sampled lines
    // give the edges 1-3 (part 3), 2-3 (part 11) and 1-4 (part 4).
    //   seed 1: levels {1} {3, 4} {2}, sigma 1 each; c(2) = 0, c(3) = 1,
    //           c(4) = 0, so 3 carries 1·1 and 2, 4 carry 0;
    //   seed 2: levels {2} {3} {1} {4}, sigma 1 each; c(4) = 0, c(1) = 1,
    //           c(3) = 2, so 3 carries 2, 1 carries 1 and 4 carries 0.
    // Summed per node over the seeds other than itself (the oracle's
    // v.node <> v.seed): 1 -> 1, 2 -> 0, 3 -> 3, 4 -> 0.
    withFixture(Seq(1L, 2L),
        Seq((10L, Some(3L), Some(1L)), (20L, Some(11L), Some(2L)), (30L, Some(4L), Some(1L)))) {
      dir =>
        assertEdgesMatchSql(dir)
        assert(edges(Graph.wideGraph(spark, dir)) ===
          Seq(1L -> 3L, 1L -> 4L, 2L -> 3L, 3L -> 1L, 3L -> 2L, 4L -> 1L))
        val stress = query("stress_centrality", dir).map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(stress === Map(1L -> 1L, 2L -> 0L, 3L -> 3L, 4L -> 0L))
    }
  }
}
