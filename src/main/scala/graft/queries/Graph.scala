package graft.queries

import org.apache.spark.HashPartitioner
import org.apache.spark.graphx.{Edge, TripletFields, VertexRDD, Graph => GraphX}
import org.apache.spark.graphx.lib.TriangleCount
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.reflect.ClassTag

import graft.Tables

/** Graph analytics over the supplier graph. Every supplier-graph query
  * reads one of three cached GraphX graph layers ([[graphLayer]]), built
  * once per (session, dir) straight from the lineitem scan, whose vertex
  * attribute is the node's out-degree: [[narrowGraph]], [[wideGraph]] or
  * [[supplyGraph]]. Each graph is the one cached representation of its
  * edges; no query reads a second copy of them. The superstep loops
  * (bfs_hops, sssp_weighted, label_propagation, k_core,
  * closeness_centrality, stress_centrality, and [[Analytics]]'
  * pagerank_integer) run as GraphX `aggregateMessages` rounds through
  * [[supersteps]]: every round of a loop executes inside the result's one
  * job, with no SQL plan update between stages. triangle_count and
  * clustering_coefficient read GraphX's triangle census, and
  * degree_assortativity reads its degrees in one triplet pass.
  * link_prediction stays a composed DataFrame plan over its own
  * co-purchase graph.
  */
object Graph {

  /** The narrow undirected graph: the suppliers and every edge endpoint.
    * Sampled lineitem lines (l_orderkey % 10 = 0) link the supplier to the
    * part key folded into the supplier id space, as canonical undirected
    * edges emitted in both directions. */
  private[graft] def narrowGraph(s: SparkSession, d: String): GraphX[Long, Unit] =
    graphLayer("graphx_edges", s, d, widen = 1, symmetric = true, withSuppliers = true)

  /** The WIDE variant: the edge endpoints only, with part keys folded
    * into a node domain 4× the supplier count (the k_core rationale: the
    * narrow graph is near-complete at small sf, so every degree equals
    * the mean, the diameter collapses to ~1, and any operator that needs
    * skewed degrees or interior shortest-path structure degenerates).
    * Read by k_core, stress_centrality and degree_assortativity. */
  private[graft] def wideGraph(s: SparkSession, d: String): GraphX[Long, Unit] =
    graphLayer("graphx_edges_wide", s, d, widen = 4, symmetric = true, withSuppliers = false)

  /** The directed supply graph of pagerank_integer: every lineitem line
    * (unsampled) links its supplier to its part key folded into the
    * supplier id space; the suppliers and every endpoint are vertices. */
  private[graft] def supplyGraph(s: SparkSession, d: String): GraphX[Long, Unit] =
    graphLayer("graphx_supply", s, d, widen = 1, symmetric = false, withSuppliers = true)

  /** A graph layer as a cached GraphX graph whose vertex attribute is the
    * node's out-degree, built ONCE per (session, dir) from the lineitem
    * scan ([[scanEdges]]) — GraphX's graph as the cached view many
    * algorithms reuse, with no second cached representation under it.
    * The build adds no job of its own: the edge build runs as stages of
    * the first consumer's job. A `symmetric` layer samples the lines
    * (l_orderkey % 10 = 0, as the oracle SQL does); the directed one
    * reads them all. `withSuppliers` makes the vertices the suppliers and
    * every edge endpoint, a non-supplier endpoint carrying [[NonMember]].
    * Its RDDs are the layer name's RDD generation: a fresh session's build
    * releases them, and a hit on a released graph builds it again
    * ([[graft.SessionCache.layer]]). The triplet view is built and cached
    * here, so no consumer upgrades or caches into the shared graph; each
    * derives its own with `mapVertices` inside its [[supersteps]]. */
  private def graphLayer(name: String, s: SparkSession, d: String, widen: Int,
      symmetric: Boolean, withSuppliers: Boolean): GraphX[Long, Unit] =
    graft.SessionCache.layer(name, s, d) {
      // scan crossings carry no exchange, so they run no job
      val suppliers = Tables.supplier(s, d).select("s_suppkey").queryExecution.toRdd
        .map(_.getLong(0))
      val li = Tables.lineitem(s, d)
      val lines = (if (symmetric) li.filter(col("l_orderkey") % 10 === 0) else li)
        .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
        .select("l_suppkey", "l_partkey").queryExecution.toRdd
        .map(r => (r.getLong(0), r.getLong(1)))
      graft.SessionCache.retiring(s.sparkContext, name) {
        val edges = scanEdges(suppliers, lines, widen, symmetric)
        // edge partitions are cached only once upgraded (below), so no
        // intermediate copy is kept; vertex RDDs, a consumer's per-round
        // state included, cache as GraphX's default
        val (edgeLevel, vertexLevel) = (StorageLevel.NONE, StorageLevel.MEMORY_ONLY)
        val g0 =
          if (withSuppliers)
            GraphX(suppliers.map(_ -> 0L), edges, NonMember, edgeLevel, vertexLevel)
          else GraphX.fromEdges(edges, 0L, edgeLevel, vertexLevel)
        val g = g0.outerJoinVertices(g0.outDegrees) { (_, a, deg) =>
          if (a == NonMember) a else deg.getOrElse(0).toLong
        }
        // building the triplet view upgrades the edge partitions to carry
        // both endpoints' attributes; persisting after it keeps the
        // upgraded ones. Their blocks fill in the first consumer's job.
        g.triplets.setName(s"$name triplets")
        g.persist(StorageLevel.MEMORY_ONLY)
      }
    }

  /** A graph layer's edges from the (suppkey, partkey) `lines`: the part
    * key folds into a node domain `widen` times the supplier count, and a
    * line whose two nodes are equal is dropped. Without a supplier there is
    * no edge. Duplicates go by a hash partitioning on the pair and a
    * per-partition set, with no map-side combine: that would run in the
    * one task that reads a one-split scan. A `symmetric` edge set is
    * canonical (least, greatest) pairs emitted in both directions. Every
    * step is an RDD stage, so the build runs inside the job that reads
    * the graph. */
  private def scanEdges(suppliers: RDD[Long], lines: RDD[(Long, Long)], widen: Int,
      symmetric: Boolean): RDD[Edge[Unit]] = {
    val nSupp = foldToOne(suppliers.map(_ => 1L), 0L)(_ + _).filter(_ > 0)
    nSupp.cartesian(lines)
      .flatMap { case (n, (x, part)) =>
        val y = part % (n * widen)
        if (x == y) None
        else Some((if (symmetric) (math.min(x, y), math.max(x, y)) else (x, y)) -> (()))
      }
      .partitionBy(new HashPartitioner(lines.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val pairs = mutable.HashSet.empty[(Long, Long)]
        it.foreach(kv => pairs += kv._1)
        pairs.iterator.flatMap { case (a, b) =>
          if (symmetric) Iterator(Edge(a, b, ()), Edge(b, a, ())) else Iterator.single(Edge(a, b, ()))
        }
      }
  }

  /** Runs a GraphX superstep loop and returns its rows as a frame with
    * `schema`. GraphX builds each round lazily, so construction runs no
    * job and the result's one action runs every round. `rounds` may only
    * read a shared graph layer and RDDs crossed over from EXCHANGE-FREE
    * frames (a materialized layer, a table scan), all obtained before
    * this call: under AQE, `.rdd` on a frame with an exchange runs its
    * stages at construction, as `localCheckpoint` does, and a graph layer
    * built inside the window would become this query's generation.
    * Anything data-dependent (a dedup, a threshold) is computed on the
    * RDD side, inside the job.
    *
    * GraphX `.cache()`s each round's vertex and edge RDDs itself: every
    * RDD persisted while `rounds` builds becomes `owner`'s generation in
    * [[graft.SessionCache]], released when the same owner runs again. A
    * shared graph is read-only here: its triplet view is built and cached
    * with the layer, so nothing caches into it. */
  private[queries] def supersteps(s: SparkSession, owner: String, schema: StructType)(
      rounds: => RDD[Row]): DataFrame =
    s.createDataFrame(graft.SessionCache.retiring(s.sparkContext, owner)(rounds), schema)

  private[queries] def longs(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType, nullable = false))

  /** One-partition RDD holding exactly one element, `xs` folded by `op`
    * from `zero`, computed inside the job that reads it: per-partition
    * partials, then a one-task shuffle. Pair it with a big RDD as
    * `one.cartesian(big)`, never the reverse: a cartesian re-reads its
    * right side (here, a shuffle) for every left row. */
  private def foldToOne[T: ClassTag](xs: RDD[T], zero: T)(op: (T, T) => T): RDD[T] =
    xs.mapPartitions(it => Iterator(it.foldLeft(zero)(op))).repartition(1)
      .mapPartitions(it => Iterator(it.foldLeft(zero)(op)))

  /** Merges two keyed counts by summing them per key. */
  private def addCounts(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
    b.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }

  /** Vertex attribute of a node no round has reached yet. */
  private val Unreached = Long.MaxValue
  /** Vertex attribute of an edge endpoint outside the supplier table (node
    * 0 of `l_partkey % n_supp`) in the narrow and supply graph layers: it
    * neither votes nor holds mass nor appears in output. */
  private[queries] val NonMember = Long.MinValue
  /** Vertex attribute of a node k_core has peeled. */
  private val Peeled = -1L

  /** Bounded BFS from node 1: min-hop label per node within 4 hops. Each
    * round, nodes discovered in the previous round message their
    * unvisited neighbours; a node keeps the hop of its first discovery.
    * The hop bound makes the loop statically 4 supersteps. Node 1 is a
    * supplier, so it is a vertex of the narrow graph even without edges. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "bfs_hops",
      StructType(longs("node") :+ StructField("hops", IntegerType, nullable = false))) {
      var g = g0.mapVertices((n, _) => if (n == 1L) 0L else Unreached)
      for (h <- 1L to 4L) {
        val found = g.aggregateMessages[Long](
          c => if (c.srcAttr == h - 1 && c.dstAttr == Unreached) c.sendToDst(h),
          math.min, TripletFields.All)
        g = g.joinVertices(found)((_, _, hop) => hop)
      }
      g.vertices.filter(_._2 != Unreached).map { case (n, h) => Row(n, h.toInt) }
    }
  }

  // ------------------------------------------------- link_prediction --

  /** Common-neighbors / Jaccard link prediction over the co-purchase
    * graph, on MUTUALLY CAPPED neighbor lists: each part keeps only its
    * top-10 co-purchase partners (by shared-order count, part id
    * tiebreak), and each partner then keeps only its 10 strongest
    * members, before any pairwise work. The two-sided cap is the scale
    * contract — wedge volume is then ≤ N·K² under any key distribution
    * (an out-only cap leaves hub IN-degrees unbounded and wedges
    * quadratic in them — the round-15 Zipf-tier knee; the mutual form is
    * how production kNN-graph builders bound candidate generation). Candidates are distance-2 pairs that
    * are NOT already capped edges (left anti join); score = common
    * capped-neighbors and Jaccard cn/(deg_u+deg_w−cn) — integers and one
    * division — ranked to a deterministic top-20. Orders are strided
    * (l_orderkey % 10, the symmetric graph layers' convention) to keep this
    * bench gate's wedge volume proportionate; the shape is
    * stride-invariant. */
  private def linkPrediction(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
    val pairs = graft.operators.Pairs.pairJoin(
      op, Seq("l_orderkey"), "l_partkey", "p1", "p2", "n_orders")
    // both directions in ONE generator pass — a two-branch union would
    // re-evaluate the pairs subtree (distinct + self-join + groupBy) twice
    val sym = pairs.select(explode(array(
        struct(col("p1").as("node"), col("p2").as("nbr"), col("n_orders")),
        struct(col("p2").as("node"), col("p1").as("nbr"), col("n_orders")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"),
        col("e.n_orders").as("n_orders"))
    // neighbor cap via the bounded-heap TopKPerGroup operator (map-side
    // pruned) — not a full per-node window sort over every edge. The cap
    // is applied in BOTH directions (each node keeps its 10 strongest
    // neighbors, then each neighbor keeps its 10 strongest members — the
    // mutual-kNN discipline): an out-only cap leaves the IN-degree
    // unbounded, and wedges through a common neighbor are C(in-degree, 2)
    // — measured as a WEDGE on the round-15 Zipf tier, where the hot part
    // sat in everyone's top-10 list (13 s uniform → >9 min wedged). With
    // both caps wedge volume is ≤ N·K² under ANY key distribution.
    val adjOut = graft.plans.TopK.perKey(sym,
        Seq("node"), Seq("n_orders" -> false, "nbr" -> true), 10)
    val adj = graft.plans.TopK.perKey(adjOut,
        Seq("nbr"), Seq("n_orders" -> false, "node" -> true), 10)
      .select("node", "nbr")
      // feeds four plan branches (two wedge sides, the anti join, degrees):
      // leafed so they share one computed RDD. Under AQE even the lazy
      // checkpoint runs the adjacency's exchange stages at construction
      // (ContractSpec's construction allow-list names this query); only
      // the final RDD's own tasks wait for the action.
      .localCheckpoint(false)
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    // wedge join = the same shared-key pair join, keyed by the common
    // neighbor; the degree cap above already bounds each key's fan-out
    val wedges = graft.operators.Pairs.pairJoin(
      adj.select(col("nbr").as("v"), col("node")), Seq("v"), "node", "u", "w2", "cn")
    // hash joins against the candidate stream (adjacency and degree dims
    // are node-scale — too big to broadcast at 100 TB, but exactly right
    // as per-partition hash builds; the default SMJ re-sorted the wedge
    // stream at every step — the sf5 sweep's 4.1×-at-2.5× residual)
    val cand = wedges.join(
      adj.select(col("node").as("u"), col("nbr").as("w2")).hint("shuffle_hash"),
      Seq("u", "w2"), "left_anti")
    val scored = cand
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u"))
        .hint("shuffle_hash"), Seq("u"))
      .join(deg.select(col("node").as("w2"), col("deg").as("deg_w"))
        .hint("shuffle_hash"), Seq("w2"))
      .select(col("u"), col("w2").as("w"), col("cn"), col("deg_u"), col("deg_w"),
        (col("cn").cast("double") /
          (col("deg_u") + col("deg_w") - col("cn")).cast("double")).as("jaccard"))
    scored.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("jaccard").desc, col("cn").desc, col("u"), col("w"))))
      .filter(col("rnk") <= 20)
      .select(col("rnk").cast("int").as("rnk"), col("u"), col("w"),
        col("cn"), col("deg_u"), col("deg_w"), col("jaccard"))
  }

  private val linkPredictionSql: String = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS n_orders
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), sym AS (
  SELECT p1 AS node, p2 AS nbr, n_orders FROM pairs
  UNION ALL
  SELECT p2 AS node, p1 AS nbr, n_orders FROM pairs
), adj0 AS (
  SELECT node, nbr, n_orders FROM (
    SELECT node, nbr, n_orders,
      row_number() OVER (PARTITION BY node ORDER BY n_orders DESC, nbr) AS rn
    FROM sym
  ) WHERE rn <= 10
), adj AS (
  SELECT node, nbr FROM (
    SELECT node, nbr,
      row_number() OVER (PARTITION BY nbr ORDER BY n_orders DESC, node) AS rn2
    FROM adj0
  ) WHERE rn2 <= 10
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
), wedges AS (
  SELECT a1.node AS u, a2.node AS w, CAST(count(*) AS BIGINT) AS cn
  FROM adj a1 JOIN adj a2 ON a1.nbr = a2.nbr AND a1.node < a2.node
  GROUP BY 1, 2
), cand AS (
  SELECT wedges.* FROM wedges
  LEFT JOIN adj ON adj.node = wedges.u AND adj.nbr = wedges.w
  WHERE adj.node IS NULL
), scored AS (
  SELECT u, w, cn, du.deg AS deg_u, dw.deg AS deg_w,
    CAST(cn AS DOUBLE) / CAST(du.deg + dw.deg - cn AS DOUBLE) AS jaccard
  FROM cand
  JOIN deg du ON du.node = cand.u
  JOIN deg dw ON dw.node = cand.w
)
SELECT CAST(rnk AS INT) AS rnk, u, w, cn, deg_u, deg_w, jaccard FROM (
  SELECT *, row_number() OVER (ORDER BY jaccard DESC, cn DESC, u, w) AS rnk
  FROM scored
) WHERE rnk <= 20"""

  private val SsspRounds = 4

  /** Single-source shortest paths with WEIGHTED edges (BFS is its
    * unit-weight special case). Edge weights are deterministic integers
    * derived from the canonical pair (1 + (a·31 + b) mod 9, symmetric by
    * construction), so the whole relaxation is exact int64 arithmetic.
    * Bellman–Ford: each round every reached node offers dist + w along
    * its edges and each node keeps the least offer — after r rounds
    * exactly the min cost over ≤r-edge paths, the bound the oracle's
    * macro-expanded relaxation computes. */
  def ssspWeighted(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "sssp_weighted", StructType(longs("node", "dist"))) {
      var g = g0.mapVertices((n, _) => if (n == 1L) 0L else Unreached)
      for (_ <- 1 to SsspRounds) {
        val offers = g.aggregateMessages[Long](
          c => if (c.srcAttr != Unreached) c.sendToDst(c.srcAttr + 1L +
            (math.min(c.srcId, c.dstId) * 31 + math.max(c.srcId, c.dstId)) % 9),
          math.min, TripletFields.Src)
        g = g.joinVertices(offers)((_, dist, offer) => math.min(dist, offer))
      }
      g.vertices.filter(_._2 != Unreached).map { case (n, dist) => Row(n, dist) }
    }
  }

  private val ssspWeightedSql: String = {
    val sb = new StringBuilder
    sb ++= """
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % (SELECT count(*) FROM supplier) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % (SELECT count(*) FROM supplier)
), e AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), ew AS (
  SELECT a AS src, b AS dst, 1 + (a * 31 + b) % 9 AS w FROM e
  UNION ALL
  SELECT b AS src, a AS dst, 1 + (a * 31 + b) % 9 AS w FROM e
), d0 AS (
  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
)"""
    for (r <- 1 to SsspRounds) {
      sb ++= s""",
d$r AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d${r - 1}
    UNION ALL
    SELECT ew.dst AS node, p.dist + ew.w AS dist
    FROM d${r - 1} p JOIN ew ON ew.src = p.node
  ) GROUP BY node
)"""
    }
    sb.toString + s"\nSELECT node, dist FROM d$SsspRounds"
  }

  private val LpRounds = 3

  /** Semi-supervised LABEL PROPAGATION over the shared supplier graph
    * (PageRank spreads mass, BFS spreads distance, this spreads CLASS
    * LABELS from a seed set). Seeds (node % 10 = 0) carry label node % 5
    * and are clamped; every round each other supplier takes the MAJORITY
    * label of its labeled neighbors (count desc, label asc — a total
    * order, no RNG), keeping its previous label when no neighbor is
    * labeled. Suppliers with no edges keep their initial label. The
    * oracle macro-expands the same [[LpRounds]] rounds as CTE stages. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "label_propagation", StructType(longs("node", "label"))) {
      var g = g0.mapVertices((n, a) =>
        if (a == NonMember) a else if (n % 10 == 0) n % 5 else -1L)
      for (_ <- 1 to LpRounds) {
        val votes = g.aggregateMessages[Map[Long, Long]](
          c => if (c.srcAttr >= 0) c.sendToDst(Map(c.srcAttr -> 1L)),
          addCounts, TripletFields.Src)
        g = g.joinVertices(votes) { (n, lbl, vs) =>
          if (lbl == NonMember || n % 10 == 0) lbl
          else vs.maxBy { case (l, cnt) => (cnt, -l) }._1
        }
      }
      g.vertices.filter(_._2 != NonMember).map { case (n, l) => Row(n, l) }
    }
  }

  private val labelPropagationSql: String = {
    val sb = new StringBuilder
    sb ++= """
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % (SELECT count(*) FROM supplier) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % (SELECT count(*) FROM supplier)
), e AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), adj AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL
  SELECT b AS src, a AS dst FROM e
), l0 AS (
  SELECT s_suppkey AS node, s_suppkey % 10 = 0 AS is_seed,
    CASE WHEN s_suppkey % 10 = 0 THEN s_suppkey % 5 ELSE CAST(-1 AS BIGINT) END AS lbl
  FROM supplier
)"""
    for (t <- 1 to LpRounds) {
      sb ++= s""",
c$t AS (
  SELECT adj.dst AS node, l.lbl AS nl, CAST(count(*) AS BIGINT) AS cnt
  FROM adj JOIN l${t - 1} l ON adj.src = l.node
  WHERE l.lbl >= 0 GROUP BY 1, 2
),
v$t AS (
  SELECT node, nl AS voted FROM (
    SELECT node, nl,
      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, nl ASC) AS rn
    FROM c$t)
  WHERE rn = 1
),
l$t AS (
  SELECT p.node, p.is_seed,
    CASE WHEN p.is_seed THEN p.lbl ELSE coalesce(v.voted, p.lbl) END AS lbl
  FROM l${t - 1} p LEFT JOIN v$t v ON p.node = v.node
)"""
    }
    sb.toString + s"\nSELECT node, lbl AS label FROM l$LpRounds"
  }

  private val KCoreRounds = 4

  /** k-core decomposition by iterative peeling: each round drops every
    * node whose CURRENT degree is below k, and an edge survives while
    * both its endpoints do. Per round the work is one degree count over
    * the surviving edges. k is DATA-DEPENDENT (⅔ of the graph's average
    * degree, floor(2·|E_sym| / 3·|V|)) so the peel bites at every scale
    * factor — the supplier graph's density is sf-invariant, a fixed small
    * k would never remove a node. It is computed inside the job: a
    * one-partition summary of the graph layer's degree attribute, paired
    * with every node by `cartesian`, which also runs the first peel (every
    * node is live then, so its live degree is that attribute). Bounded at
    * [[KCoreRounds]] rounds; the oracle
    * macro-expands the same rounds. The node domain is 4× wider than the
    * shared supplier graph's (l_partkey mod 4·|supplier|) so the degree
    * distribution is skewed — supplier-id nodes sit far above the mean,
    * part-residue nodes below — and the peel genuinely removes nodes at
    * every scale factor (the shared graph is near-complete at tiny sf:
    * every degree equals the mean and nothing peels).
    * Output: surviving nodes with their degree in the surviving subgraph. */
  def kCore(s: SparkSession, d: String): DataFrame = {
    val g0 = wideGraph(s, d)
    supersteps(s, "k_core", StructType(longs("node", "deg"))) {
      // ⅔ of the mean degree: measured across sf0.001/0.01/0.1 this peels
      // 55-65% of nodes and always leaves a nonempty core (40→17, 400→149,
      // 4000→1523 survivors); the full mean — and even ¾ of it at sf0.001 —
      // cascades to an empty graph (hubs lose their below-mean neighbors,
      // then fall themselves), and half the mean barely bites.
      val kth = foldToOne(g0.vertices.map { case (_, deg) => (deg, 1L) }, (0L, 0L)) {
        case ((e1, v1), (e2, v2)) => (e1 + e2, v1 + v2)
      }.map { case (e, v) => math.floor(e.toDouble * 2 / (v.toDouble * 3)).toLong }
      // a live node carries k, a peeled one Peeled
      val firstPeel = kth.cartesian(g0.vertices)
        .map { case (k, (n, deg)) => n -> (if (deg >= k) k else Peeled) }
      var g = g0.outerJoinVertices(firstPeel)((_, _, k) => k.getOrElse(Peeled))
      // degree in the surviving subgraph; nodes with no live edge are absent
      def liveDegrees(g: GraphX[Long, Unit]) = g.aggregateMessages[Long](
        c => if (c.srcAttr != Peeled && c.dstAttr != Peeled) c.sendToSrc(1L),
        _ + _, TripletFields.All)
      for (_ <- 2 to KCoreRounds)
        g = g.outerJoinVertices(liveDegrees(g)) { (_, k, deg) =>
          if (k != Peeled && deg.getOrElse(0L) >= k) k else Peeled
        }
      liveDegrees(g).map { case (n, deg) => Row(n, deg) }
    }
  }

  private val kCoreSql: String = {
    val sb = new StringBuilder
    sb ++= """
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % ((SELECT count(*) FROM supplier) * 4) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % ((SELECT count(*) FROM supplier) * 4)
), canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), e0 AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL
  SELECT b AS src, a AS dst FROM canon
), kth AS (
  SELECT CAST(floor(CAST(count(*) AS DOUBLE) * 2
           / (CAST(count(DISTINCT src) AS DOUBLE) * 3)) AS BIGINT) AS kth
  FROM e0
)"""
    for (r <- 1 to KCoreRounds) {
      sb ++= s""",
k$r AS (
  SELECT src AS node FROM e${r - 1}
  GROUP BY src HAVING count(*) >= (SELECT kth FROM kth)
),
e$r AS (
  SELECT e.src, e.dst FROM e${r - 1} e
  JOIN k$r u ON e.src = u.node
  JOIN k$r v ON e.dst = v.node
)"""
    }
    sb.toString +
      s"\nSELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e$KCoreRounds GROUP BY src"
  }

  private val CcSeeds = 8
  private val CcRounds = 3

  /** Closeness-centrality sketch via MULTI-SOURCE BFS from a bounded seed
    * set (suppkeys 1..[[CcSeeds]]): each node carries its hop distance
    * from every seed that reached it — at most seeds × nodes entries, and
    * the SEED BOUND is the scale contract (exact all-pairs closeness is
    * O(N·E), off the table at any real graph size; sampled-seed closeness
    * is how production systems approximate it). Each round, a node
    * reached by a seed in the previous round passes that seed to its
    * neighbours, which keep the first hop that reached them. Output per
    * node: seeds reached within [[CcRounds]] hops and the summed hop
    * distance — exact integers. */
  def closenessCentrality(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "closeness_centrality", StructType(longs("node", "n_reached", "sum_dist"))) {
      var g = g0.mapVertices((n, a) =>
        if (a != NonMember && n <= CcSeeds) Map(n -> 0) else Map.empty[Long, Int])
      for (h <- 1 to CcRounds) {
        val reached = g.aggregateMessages[Set[Long]](
          c => {
            val frontier = c.srcAttr.collect { case (seed, dist) if dist == h - 1 => seed }
            if (frontier.nonEmpty) c.sendToDst(frontier.toSet)
          },
          _ ++ _, TripletFields.Src)
        g = g.joinVertices(reached)((_, dists, seeds) => seeds.map(_ -> h).toMap ++ dists)
      }
      g.vertices.filter(_._2.nonEmpty).map { case (n, dists) =>
        Row(n, dists.size.toLong, dists.values.map(_.toLong).sum)
      }
    }
  }

  private val closenessCentralitySql: String = {
    val sb = new StringBuilder
    sb ++= s"""
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % (SELECT count(*) FROM supplier) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % (SELECT count(*) FROM supplier)
), canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), adj AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL
  SELECT b AS src, a AS dst FROM canon
), v0 AS (
  SELECT s_suppkey AS seed, s_suppkey AS node, 0 AS dist
  FROM supplier WHERE s_suppkey <= $CcSeeds
)"""
    for (h <- 1 to CcRounds) {
      sb ++= s""",
v$h AS (
  SELECT seed, node, min(dist) AS dist FROM (
    SELECT seed, node, dist FROM v${h - 1}
    UNION ALL
    SELECT p.seed, adj.dst AS node, p.dist + 1 AS dist
    FROM v${h - 1} p JOIN adj ON adj.src = p.node
  ) GROUP BY seed, node
)"""
    }
    sb.toString + s"""
SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
  CAST(sum(dist) AS BIGINT) AS sum_dist
FROM v$CcRounds GROUP BY node"""
  }

  private val StressSeeds = 4
  private val StressRounds = 3

  /** STRESS centrality (Shimbel 1953) via the integer-exact two-pass
    * Brandes decomposition, from a bounded seed set (suppliers
    * 1..[[StressSeeds]]): for each seed s and node v, θ_s(v) = σ_s(v) ·
    * c_s(v) counts the shortest s-paths through v to any target within
    * [[StressRounds]] hops, where σ is the BFS shortest-path count
    * (forward pass) and c(v) = Σ_{w ∈ succ(v)} (c(w) + 1) counts
    * shortest-path CONTINUATIONS from v down the BFS DAG (backward pass,
    * levels descending). Unlike betweenness's rational δ accumulation,
    * every quantity here is an exact BIGINT — the cross-engine-hashable
    * member of the centrality family.
    *
    * Runs on the WIDE graph layer: interior shortest-path structure needs
    * a diameter > 2 (on the near-complete narrow graph every non-endpoint
    * stress is identically zero at small sf). Each node carries seed →
    * (level, σ, c) for every seed that reached it — at most seeds × nodes
    * entries, the seed bound being the scale contract (exact all-sources
    * is O(N·E)). Forward round h: a node at level h−1 sends its σ to each
    * neighbour the seed has not reached, which sums the offers at level h
    * (the BFS-DAG invariant: every shortest-path predecessor of a level-h
    * node is at level h−1). Backward round l: a node at level l sums
    * c(w) + 1 over its neighbours w at level l+1. The seeds are the
    * supplier table's, never vertex ids: with fewer than [[StressSeeds]]
    * suppliers a small id can be a part residue. */
  def stressCentrality(s: SparkSession, d: String): DataFrame = {
    val g0 = wideGraph(s, d)
    // a scan crossing carries no exchange, so it runs no job
    val seeds = Tables.supplier(s, d).filter(col("s_suppkey") <= StressSeeds)
      .select("s_suppkey").queryExecution.toRdd.map(r => r.getLong(0) -> r.getLong(0))
    supersteps(s, "stress_centrality", StructType(longs("node", "stress"))) {
      var g = g0.outerJoinVertices(seeds) { (n, _, seed) =>
        if (seed.isDefined) Map(n -> (0, 1L, 0L)) else Map.empty[Long, (Int, Long, Long)]
      }
      for (h <- 1 to StressRounds) {
        val sigmas = g.aggregateMessages[Map[Long, Long]](
          c => {
            val offers = c.srcAttr.collect {
              case (seed, (lvl, sigma, _)) if lvl == h - 1 && !c.dstAttr.contains(seed) =>
                seed -> sigma
            }
            if (offers.nonEmpty) c.sendToDst(offers)
          },
          addCounts, TripletFields.All)
        g = g.joinVertices(sigmas)((_, st, got) => st ++ got.map { case (seed, sigma) =>
          seed -> (h, sigma, 0L) })
      }
      for (l <- (StressRounds - 1) to 0 by -1) {
        val conts = g.aggregateMessages[Map[Long, Long]](
          c => {
            val succ = c.srcAttr.collect {
              case (seed, (lvl, _, _)) if lvl == l && c.dstAttr.get(seed).exists(_._1 == l + 1) =>
                seed -> (c.dstAttr(seed)._3 + 1)
            }
            if (succ.nonEmpty) c.sendToSrc(succ)
          },
          addCounts, TripletFields.All)
        g = g.joinVertices(conts)((_, st, got) => st ++ got.map { case (seed, cont) =>
          val (lvl, sigma, _) = st(seed)
          seed -> (lvl, sigma, cont)
        })
      }
      g.vertices.flatMap { case (n, st) =>
        val through = st.collect { case (seed, (_, sigma, cont)) if seed != n => sigma * cont }
        if (through.isEmpty) None else Some(Row(n, through.sum))
      }
    }
  }

  private val stressCentralitySql: String = {
    val sb = new StringBuilder
    sb ++= s"""
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % ((SELECT count(*) FROM supplier) * 4) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % ((SELECT count(*) FROM supplier) * 4)
), canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), adj AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL
  SELECT b AS src, a AS dst FROM canon
), v0 AS (
  SELECT s_suppkey AS seed, s_suppkey AS node, 0 AS dist,
         CAST(1 AS BIGINT) AS sigma
  FROM supplier WHERE s_suppkey <= $StressSeeds
)"""
    for (h <- 1 to StressRounds) {
      sb ++= s""",
n$h AS (
  SELECT p.seed, adj.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
  FROM v${h - 1} p JOIN adj ON adj.src = p.node
  WHERE p.dist = ${h - 1}
    AND NOT EXISTS (SELECT 1 FROM v${h - 1} w
                    WHERE w.seed = p.seed AND w.node = adj.dst)
  GROUP BY p.seed, adj.dst
), v$h AS (
  SELECT * FROM v${h - 1}
  UNION ALL
  SELECT seed, node, $h AS dist, sigma FROM n$h
)"""
    }
    sb ++= s""",
c$StressRounds AS (
  SELECT seed, node, CAST(0 AS BIGINT) AS c
  FROM v$StressRounds WHERE dist = $StressRounds
)"""
    for (l <- (StressRounds - 1) to 0 by -1) {
      sb ++= s""",
c$l AS (
  SELECT cur.seed, cur.node, CAST(coalesce(sum(nx.c + 1), 0) AS BIGINT) AS c
  FROM (SELECT seed, node FROM v$StressRounds WHERE dist = $l) cur
  LEFT JOIN adj ON adj.src = cur.node
  LEFT JOIN c${l + 1} nx ON nx.seed = cur.seed AND nx.node = adj.dst
  GROUP BY cur.seed, cur.node
)"""
    }
    val unions = (0 to StressRounds).map(l => s"SELECT * FROM c$l")
      .mkString("\n  UNION ALL\n  ")
    sb.toString + s"""
SELECT v.node, CAST(sum(v.sigma * c.c) AS BIGINT) AS stress
FROM v$StressRounds v
JOIN ($unions) c ON c.seed = v.seed AND c.node = v.node
WHERE v.node <> v.seed
GROUP BY v.node"""
  }

  /** Each node of the narrow graph that has an edge, with its degree and
    * the triangles it closes, from GraphX's triangle census (which
    * intersects neighbour sets per edge and counts each triangle at its
    * three corners). The graph is symmetric and deduplicated, so its edges
    * with srcId < dstId are already the canonical edge set the census
    * needs; `triangleCount()` would shuffle and regroup them into it again
    * on every run. The degree comes from the symmetric edges, not the
    * vertex attribute, which is [[NonMember]] for node 0. GraphX counts a
    * node's triangles in an `Int`: exact while no node closes more than
    * 2³¹−1 of them. */
  private def triangles(g: GraphX[Long, Unit]): VertexRDD[(Long, Long)] =
    TriangleCount.runPreCanonicalized(g.subgraph(epred = t => t.srcId < t.dstId)).vertices
      .innerJoin(g.outDegrees)((_, tri, deg) => (deg.toLong, tri.toLong))

  /** Distributed triangle counting over the narrow supplier graph: the
    * per-node census of [[triangles]] folded to one row, each triangle
    * counted once (Σtri / 3) and each undirected edge once (Σdeg / 2).
    * With no edge the result is still one row, (0, 0). */
  def triangleCount(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "triangle_count", StructType(longs("n_triangles", "n_edges"))) {
      foldToOne(triangles(g0).values, (0L, 0L)) { case ((d1, t1), (d2, t2)) => (d1 + d2, t1 + t2) }
        .map { case (deg, tri) => Row(tri / 3, deg / 2) }
    }
  }

  private val triangleCountSql: String = """
WITH raw AS (
  SELECT l_suppkey AS x, l_partkey % (SELECT COUNT(*) FROM supplier) AS y
  FROM lineitem WHERE l_orderkey % 10 = 0
),
edges AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
  FROM raw WHERE x <> y
),
t AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_triangles, (SELECT COUNT(*) FROM edges) AS n_edges FROM t"""

  /** Per-node LOCAL CLUSTERING COEFFICIENT over the narrow supplier
    * graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) from the census of
    * [[triangles]] — every count an exact integer, the one division (in
    * the oracle's double chain) the only float. */
  def clusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    val g0 = narrowGraph(s, d)
    supersteps(s, "clustering_coefficient", StructType(longs("node", "deg", "tri") :+
        StructField("lcc", DoubleType, nullable = false))) {
      triangles(g0).map { case (n, (deg, tri)) =>
        Row(n, deg, tri, if (deg >= 2) (tri * 2).toDouble / (deg * (deg - 1)).toDouble else 0.0)
      }
    }
  }

  private val clusteringCoefficientSql: String = """
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % (SELECT count(*) FROM supplier) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % (SELECT count(*) FROM supplier)
), canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), sym AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL
  SELECT b AS src, a AS dst FROM canon
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  WHERE EXISTS (SELECT 1 FROM canon e3 WHERE e3.a = e1.a AND e3.b = e2.b)
), tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b AS node FROM tris
    UNION ALL SELECT c AS node FROM tris
  ) GROUP BY node
)
SELECT deg.node, deg.deg, CAST(coalesce(tri.tri, 0) AS BIGINT) AS tri,
  CASE WHEN deg.deg >= 2
    THEN CAST(coalesce(tri.tri, 0) * 2 AS DOUBLE)
         / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
    ELSE CAST(0.0 AS DOUBLE) END AS lcc
FROM deg LEFT JOIN tri ON tri.node = deg.node"""

  /** DEGREE ASSORTATIVITY (Newman 2002) of the k-core domain graph —
    * the Pearson correlation of endpoint degrees over the directed edge
    * list, reduced to four exact BIGINT sums (M, Σj, Σj², Σjk) in ONE
    * pass over the wide graph layer's triplets, whose endpoints carry
    * their degrees, with the correlation assembled from them in a fixed
    * double chain. Uses the k_core 4×-wide node domain
    * (l_partkey mod 4·|supplier|) because its degree distribution is
    * genuinely skewed — the shared supplier graph is near-regular at
    * small sf, which degenerates the correlation to 0/0. With no edge the
    * result is the SQL grand aggregate's one row: m = 0, the rest null.
    *
    * Scale contract: per-partition partial sums and a one-task merge;
    * the BIGINT sums are exact to |E|·maxdeg² ≈ 2⁶² (far past any tested
    * sf; the same documented bound idiom as priority_sample's LCG mix). */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val g = wideGraph(s, d)
    val sums = supersteps(s, "degree_assortativity", StructType(longs("m") ++
        Seq("s1", "s2", "s11").map(StructField(_, LongType, nullable = true)))) {
      val perEdge = g.triplets.map { t =>
        (1L, t.srcAttr, t.srcAttr * t.srcAttr, t.srcAttr * t.dstAttr)
      }
      foldToOne(perEdge, (0L, 0L, 0L, 0L)) { (a, b) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4)
      }.map { case (m, s1, s2, s11) =>
        if (m == 0) Row(0L, null, null, null) else Row(m, s1, s2, s11)
      }
    }
    sums.select(col("m"), col("s1"), col("s2"), col("s11"),
      ((col("m").cast("double") * col("s11").cast("double")
          - col("s1").cast("double") * col("s1").cast("double"))
        / (col("m").cast("double") * col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double"))).as("r"))
  }

  private val degreeAssortativitySql: String = """
WITH raw AS (
  SELECT l_suppkey AS x,
         l_partkey % ((SELECT count(*) FROM supplier) * 4) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % ((SELECT count(*) FROM supplier) * 4)
), canon AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), sym AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL
  SELECT b AS src, a AS dst FROM canon
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
    CAST(sum(dj.deg) AS BIGINT) AS s1,
    CAST(sum(dj.deg * dj.deg) AS BIGINT) AS s2,
    CAST(sum(dj.deg * dk.deg) AS BIGINT) AS s11
  FROM sym
  JOIN deg dj ON dj.node = sym.src
  JOIN deg dk ON dk.node = sym.dst
)
SELECT m, s1, s2, s11,
  (CAST(m AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
  / (CAST(m AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS r
FROM sums"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bfs_hops"          -> ((s, d) => bfsHops(s, d)),
    "triangle_count"    -> ((s, d) => triangleCount(s, d)),
    "link_prediction"   -> ((s, d) => linkPrediction(s, d)),
    "label_propagation" -> ((s, d) => labelPropagation(s, d)),
    "sssp_weighted"     -> ((s, d) => ssspWeighted(s, d)),
    "k_core"            -> ((s, d) => kCore(s, d)),
    "closeness_centrality" -> ((s, d) => closenessCentrality(s, d)),
    "stress_centrality" -> ((s, d) => stressCentrality(s, d)),
    "clustering_coefficient" -> ((s, d) => clusteringCoefficient(s, d)),
    "degree_assortativity" -> ((s, d) => degreeAssortativity(s, d))
  )

  def oracles: Map[String, String] = Map(
    // The recursive twin: DuckDB's UNION-recursive CTE dedups states, the
    // d < 4 guard bounds depth, and min(d) per node is exactly the BFS
    // hop count the frontier iteration assigns on first discovery.
    "bfs_hops" -> """
WITH RECURSIVE raw AS (
  SELECT l_suppkey AS x,
         l_partkey % (SELECT count(*) FROM supplier) AS y
  FROM lineitem
  WHERE l_orderkey % 10 = 0
    AND l_suppkey <> l_partkey % (SELECT count(*) FROM supplier)
), e AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw
), adj AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL
  SELECT b AS src, a AS dst FROM e
), walk(node, d) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS d
  UNION
  SELECT adj.dst, walk.d + 1
  FROM walk JOIN adj ON adj.src = walk.node
  WHERE walk.d < 4
)
SELECT node, CAST(min(d) AS INT) AS hops FROM walk GROUP BY node""",

    "triangle_count" -> triangleCountSql,
    "link_prediction" -> linkPredictionSql,
    "label_propagation" -> labelPropagationSql,
    "sssp_weighted" -> ssspWeightedSql,
    "k_core" -> kCoreSql,
    "closeness_centrality" -> closenessCentralitySql,
    "stress_centrality" -> stressCentralitySql,
    "clustering_coefficient" -> clusteringCoefficientSql,
    "degree_assortativity" -> degreeAssortativitySql
  )
}
