package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Superstep-replay checks for the iterative graph family: the distributed
  * DataFrame loops re-run as plain driver-side folds over the collected
  * (small-SF) graph, proving join/anti-join/majority semantics — the same
  * discipline as PerceptronSpec/PcaSpec for the other superstep operators. */
class GraphSpec extends SparkSpec {

  test("sssp_weighted matches a driver-side Bellman-Ford replay") {
    val out = Graph.queries("sssp_weighted")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty && out(1L) === 0L)
    val nSupp = Tables.supplier(spark, sf).count()
    val canon = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % nSupp).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val adj = canon.flatMap { case (a, b) =>
      val w = 1L + (a * 31 + b) % 9
      Seq((a, b, w), (b, a, w))
    }
    // full Bellman-Ford relaxation, 4 rounds — min over <=4-edge paths,
    // the bound the frontier-delta engine loop must reproduce exactly
    var dist = Map(1L -> 0L)
    for (_ <- 1 to 4) {
      val offers = adj.flatMap { case (u, v, w) => dist.get(u).map(du => (v, du + w)) }
      dist = (dist.toSeq ++ offers).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    assert(out === dist)
    // weights must actually matter: some node's weighted distance exceeds
    // its unit-weight hop count (else this test degenerates to BFS)
    assert(dist.values.max > 4L)
  }

  test("label_propagation matches a driver-side superstep replay") {
    val out = Graph.queries("label_propagation")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)

    // rebuild the derived supplier graph independently
    val nSupp = Tables.supplier(spark, sf).count()
    val und = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % nSupp).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val adj = und ++ und.map(_.swap)
    val nodes = Tables.supplier(spark, sf)
      .select(col("s_suppkey")).collect().map(_.getLong(0))
    assert(out.keySet === nodes.toSet)

    var lbl: Map[Long, Long] =
      nodes.map(n => n -> (if (n % 10 == 0) n % 5 else -1L)).toMap
    val seeds = nodes.filter(_ % 10 == 0).toSet
    for (_ <- 1 to 3) {
      // votes flow only FROM labeled supplier nodes (node 0 — reachable as
      // an edge endpoint but absent from supplier — never votes, matching
      // the join against the supplier-seeded label frame)
      val votes = adj
        .filter { case (src, _) => lbl.get(src).exists(_ >= 0) }
        .map { case (src, dst) => (dst, lbl(src)) }
        .groupBy(identity).map { case ((n, l), g) => (n, l, g.size.toLong) }
      val voted = votes.groupBy(_._1).map { case (n, vs) =>
        // majority, tie-break smallest label — max struct(cnt, -label)
        n -> vs.minBy(v => (-v._3, v._2))._2
      }
      lbl = lbl.map { case (n, l) =>
        n -> (if (seeds(n)) l else voted.getOrElse(n, l))
      }
    }
    for ((n, l) <- lbl)
      assert(out(n) === l, s"node $n: driver replay disagrees")
    // the replay is vacuous unless propagation actually labeled non-seeds
    assert(lbl.exists { case (n, l) => !seeds(n) && l >= 0 })
    // and a genuine majority vote happened somewhere (some node saw >1 label)
    assert(seeds.nonEmpty && und.nonEmpty)
  }

  /** Driver-side rebuild of the shared symmetric supplier graph. */
  private def symAdj(): Array[(Long, Long)] = {
    val nSupp = Tables.supplier(spark, sf).count()
    val und = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % nSupp).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    und ++ und.map(_.swap)
  }

  test("k_core matches a driver-side peeling replay, and the peel bites") {
    val out = Graph.queries("k_core")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k_core uses the 4×-wider node domain (skewed degrees at every sf)
    val nSupp = Tables.supplier(spark, sf).count()
    val und = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % (nSupp * 4)).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    var adj = und ++ und.map(_.swap)
    val n0 = adj.map(_._1).distinct.length
    val kth = math.floor(adj.length.toDouble * 2 / (n0.toDouble * 3)).toLong
    for (_ <- 1 to 4) {
      val deg = adj.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
      val keep = deg.filter(_._2 >= kth).keySet
      adj = adj.filter { case (u, v) => keep(u) && keep(v) }
    }
    val expect = adj.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    assert(out === expect)
    // the data-dependent threshold must actually remove nodes (a fixed
    // small k never would — the graph's density is sf-invariant)
    assert(expect.size < n0, s"peel removed nothing (k=$kth, |V|=$n0)")
    assert(expect.nonEmpty, "peel emptied the graph — threshold too high")
  }

  test("closeness_centrality matches a driver-side multi-source BFS replay") {
    val out = Graph.queries("closeness_centrality")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val adjMap = symAdj().groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    val seeds = Tables.supplier(spark, sf).select(col("s_suppkey"))
      .collect().map(_.getLong(0)).filter(_ <= 8)
    assert(seeds.nonEmpty)
    val dist = scala.collection.mutable.Map.empty[(Long, Long), Int]
    for (seed <- seeds) {
      var frontier = Set(seed)
      dist((seed, seed)) = 0
      for (h <- 1 to 3) {
        frontier = frontier.flatMap(n => adjMap.getOrElse(n, Set.empty))
          .filterNot(n => dist.contains((seed, n)))
        frontier.foreach(n => dist((seed, n)) = h)
      }
    }
    val expect = dist.toSeq.groupBy(_._1._2).map { case (node, ds) =>
      node -> (ds.size.toLong, ds.map(_._2.toLong).sum)
    }
    assert(out === expect)
    // a seed must reach beyond itself or the replay is vacuous
    assert(expect.values.exists(_._2 > 0L))
  }

  test("stress_centrality matches a driver-side two-pass Brandes replay") {
    val out = Graph.queries("stress_centrality")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    // stress runs on the WIDE (4×-domain) graph — the narrow one is
    // near-complete at sf0.001, leaving no interior shortest paths
    val nSuppW = Tables.supplier(spark, sf).count()
    val undW = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % (nSuppW * 4)).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val adjMap = (undW ++ undW.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).distinct }
    val R = 3
    val seeds = Tables.supplier(spark, sf).select(col("s_suppkey"))
      .collect().map(_.getLong(0)).filter(_ <= 4)
    assert(seeds.nonEmpty)
    val stress = scala.collection.mutable.Map.empty[Long, Long]
    for (s0 <- seeds) {
      // forward: BFS levels with shortest-path counts σ
      var dist = Map(s0 -> 0)
      var sigma = Map(s0 -> 1L)
      var frontier = Seq(s0)
      for (h <- 1 to R) {
        val offers = frontier.flatMap(u =>
          adjMap.getOrElse(u, Array.empty[Long]).map(v => (v, sigma(u))))
        val nxt = offers.groupBy(_._1)
          .collect { case (v, g) if !dist.contains(v) => v -> g.map(_._2).sum }
        dist ++= nxt.keys.map(_ -> h)
        sigma ++= nxt
        frontier = nxt.keys.toSeq
      }
      // backward: continuation counts c(v) = Σ_succ (c(w) + 1)
      val call = scala.collection.mutable.Map.empty[Long, Long]
      dist.collect { case (v, d) if d == R => v }.foreach(call(_) = 0L)
      for (l <- (R - 1) to 0 by -1) {
        for (v <- dist.collect { case (n, d) if d == l => n }) {
          val succ = adjMap.getOrElse(v, Array.empty[Long])
            .filter(w => dist.get(w).contains(l + 1))
          call(v) = succ.map(w => call(w) + 1L).sum
        }
      }
      for ((v, _) <- dist if v != s0)
        stress(v) = stress.getOrElse(v, 0L) + sigma(v) * call(v)
    }
    assert(out === stress.toMap)
    // interior nodes must carry real path mass or the replay is vacuous
    assert(stress.values.exists(_ > 0L))
  }

  test("clustering_coefficient matches a brute-force triangle census") {
    val out = Graph.queries("clustering_coefficient")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val sym = symAdj()
    val edgeSet = sym.filter(e => e._1 < e._2).toSet
    val adjMap = sym.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).distinct.sorted }
    for ((v, nbs) <- adjMap) {
      val d = nbs.size.toLong
      val t = (for {
        i <- nbs.indices; j <- (i + 1) until nbs.size
        if edgeSet((nbs(i), nbs(j)))
      } yield 1).size.toLong
      val lcc = if (d >= 2) 2.0 * t / (d * (d - 1)).toDouble else 0.0
      assert(out(v) === ((d, t, lcc)), s"node $v")
    }
    assert(out.keySet === adjMap.keySet)
    // the graph must actually close triangles or the census is vacuous
    assert(out.values.exists(_._2 > 0L))
  }

  test("triangle_count matches a brute-force triangle census") {
    val out = Graph.queries("triangle_count")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // each triangle once, as its a < b < c orientation
    val canon = symAdj().filter(e => e._1 < e._2).toSet
    val succ = canon.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val tri = canon.toSeq.map { case (a, b) =>
      succ.getOrElse(b, Set.empty[Long]).count(c => canon((a, c))).toLong
    }.sum
    assert(out === Seq((tri, canon.size.toLong)))
    // the graph must actually close triangles or the census is vacuous
    assert(tri > 0L)
  }

  test("degree_assortativity matches the brute-force Newman formula") {
    val row = Graph.queries("degree_assortativity")(spark, sf).collect().head
    val nSupp = Tables.supplier(spark, sf).count()
    val und = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_suppkey").as("x"), (col("l_partkey") % (nSupp * 4)).as("y"))
      .filter(col("x") =!= col("y"))
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val sym = und ++ und.map(_.swap)
    val deg = sym.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val m = sym.length.toLong
    val s1 = sym.map(e => deg(e._1)).sum
    val s2 = sym.map(e => deg(e._1) * deg(e._1)).sum
    val s11 = sym.map(e => deg(e._1) * deg(e._2)).sum
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((m, s1, s2, s11)))
    val r = (m.toDouble * s11.toDouble - s1.toDouble * s1.toDouble) /
      (m.toDouble * s2.toDouble - s1.toDouble * s1.toDouble)
    assert(row.getDouble(4) === r)
    // the 4×-wide domain exists precisely so degrees are skewed enough
    // for the correlation to be defined (the shared graph is near-regular)
    assert(!r.isNaN)
  }

  test("pagerank_integer matches a driver-side replay of its three integer rounds") {
    val out = graft.SparkEntry.queries("pagerank_integer")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nSupp = Tables.supplier(spark, sf).count()
    val nodes = Tables.supplier(spark, sf).select(col("s_suppkey"))
      .collect().map(_.getLong(0))
    // distinct supplier → part-residue edges over every lineitem row
    val edges = Tables.lineitem(spark, sf).select(col("l_suppkey"), col("l_partkey"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) % nSupp))
      .filter { case (u, v) => u != v }
      .distinct
    val outdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    var mass = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      // only supplier nodes hold mass; a non-supplier endpoint (node 0)
      // receives offers but is not a node
      val contrib = edges.collect { case (u, v) if mass.contains(u) =>
          v -> mass(u) * 85 / (100 * outdeg(u))
        }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      mass = nodes.map(n => n -> (150000L + contrib.getOrElse(n, 0L))).toMap
    }
    assert(out === mass)
    // mass must actually move, or the replay is vacuous
    assert(mass.values.forall(_ != 1000000L))
  }

  test("bfs_hops matches a driver-side 4-hop BFS replay") {
    val out = Graph.queries("bfs_hops")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val adjMap = symAdj().groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var hops = Map(1L -> 0)
    var frontier = Set(1L)
    for (h <- 1 to 4) {
      frontier = frontier.flatMap(n => adjMap.getOrElse(n, Array.empty[Long]))
        .filterNot(hops.contains)
      hops ++= frontier.map(_ -> h)
    }
    assert(out === hops)
    // node 1 must reach beyond itself or the replay is vacuous
    assert(hops.size > 1)
  }
}
