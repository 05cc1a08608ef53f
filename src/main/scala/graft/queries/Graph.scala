package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph traversal as DataFrame loops — the Pregel-superstep
  * shape (like [[Analytics]]'s integer PageRank and [[graft.llm.TextDedup]]'s
  * connected components): each superstep is one equi-join + one anti-join,
  * both partitioned on the node key, and only frontier DELTAS flow between
  * steps, never whole-graph state.
  */
object Graph {

  /** The shared undirected supplier graph, built ONCE per (session, dir)
    * and fanned out to every consumer (bfs_hops, label_propagation,
    * closeness_centrality, ...) — the production posture: a pipeline
    * materializes its graph edges once, not per algorithm. Each
    * consumer's supersteps start from cached blocks instead of re-running
    * the lineitem scan + pair distinct (round 14: closeness_centrality's
    * driver-flagged cold cost was dominated by exactly that rebuild).
    * Sampled lineitem rows project to canonical undirected edges
    * (least, greatest), distinct, emitted in both directions. */
  private[queries] def symmetricEdges(s: SparkSession, d: String): DataFrame =
    edgesLayer("graph_edges", s, d, 1)

  /** The WIDE variant of the shared graph (node domain 4× the supplier
    * count — the k_core rationale: the narrow graph is near-complete at
    * small sf, so every degree equals the mean, the diameter collapses to
    * ~1, and any operator that needs skewed degrees or interior
    * shortest-path structure degenerates). Shared by k_core,
    * stress_centrality and degree_assortativity. */
  private def symmetricEdgesWide(s: SparkSession, d: String): DataFrame =
    edgesLayer("graph_edges_wide", s, d, 4)

  /** Both graph layers: part keys fold into a node domain `widen` times
    * the supplier count. */
  private def edgesLayer(name: String, s: SparkSession, d: String, widen: Int): DataFrame =
    graft.SessionCache.persisted(name, s, d) {
      // supplier count stays IN the plan (broadcast 1-row frame, the
      // drift_tvd pattern), the same shape as the oracle's scalar subquery
      val nSupp = Tables.supplier(s, d).agg(count(lit(1)).as("n_supp"))
      val raw = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .crossJoin(broadcast(nSupp))
        .select(col("l_suppkey").as("x"),
          (col("l_partkey") % (col("n_supp") * widen)).as("y"))
        .filter(col("x") =!= col("y"))
      val e = raw.select(
          least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct()
      e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
    }

  /** Bounded BFS from node 1: min-hop label per node within 4 hops.
    * Frontier-delta iteration — each hop joins ONLY the newly discovered
    * frontier against the adjacency list (never re-expands settled nodes)
    * and anti-joins the visited set, so per-superstep work is proportional
    * to the frontier, the distributed BFS invariant that holds at any
    * graph size. The hop bound makes the plan statically 4 supersteps. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val gen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val sym = symmetricEdges(s, d) // shared layer — persisted, not retired here
    val spark = s
    import spark.implicits._
    var visited = Seq((1L, 0)).toDF("node", "hops")
    var frontier = visited.select("node")
    for (h <- 1 to 4) {
      val next = frontier.join(sym, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gen += next
      visited = visited.unionByName(next.withColumn("hops", lit(h)))
      // lineage truncation every 2 supersteps: visited accumulates one
      // union + anti-join layer per hop, so at unbounded hop counts the
      // plan tree (and scheduler cost) grows with the iteration count —
      // the checkpoint keeps each superstep O(frontier), not O(history).
      // Lazy: materializes with the final action, no construction-time job
      if (h % 2 == 0) visited = visited.localCheckpoint(false)
      frontier = next
    }
    graft.SessionCache.retire(s, "bfs_hops", gen.toSeq)
    visited
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
    * (l_orderkey % 10, the `symmetricEdges` convention) to keep this
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
      // feeds four plan branches (two wedge sides, the anti join, degrees).
      // LAZY checkpoint: the plan is leafed immediately (one shared RDD
      // computed once, at action time) but construction runs no job —
      // the eager default was one stray driver job per construction
      // (the triangle_count lesson, VERDICT r12 #4)
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

  /** Single-source shortest paths with WEIGHTED edges — the fourth
    * Pregel-superstep family member (BFS is its unit-weight special
    * case). Edge weights are deterministic integers derived from the
    * canonical pair (1 + (a·31 + b) mod 9, symmetric by construction), so
    * the whole relaxation is exact int64 arithmetic. Frontier-delta
    * Bellman–Ford: each round joins ONLY the nodes whose distance
    * improved last round against the adjacency list, min-merges the
    * offers into the distance table via one full-outer join, and the new
    * frontier is the improved rows — per-superstep cost proportional to
    * the frontier's out-edges, never a full re-relaxation (after r rounds
    * the table is exactly min-cost over ≤r-edge paths, the same bound the
    * oracle's macro-expanded full relaxation computes; equality is the
    * classic queue-based-BF invariant — a node propagates in the round
    * after each improvement, so every ≤r-edge path is covered). */
  def ssspWeighted(s: SparkSession, d: String): DataFrame = {
    val gen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val e = symmetricEdges(s, d) // shared layer
      .withColumn("w", lit(1L) +
        (least(col("src"), col("dst")) * 31 + greatest(col("src"), col("dst"))) % 9)
    val spark = s
    import spark.implicits._
    var dist = Seq((1L, 0L)).toDF("node", "dist")
    var frontier = dist
    for (r <- 1 to SsspRounds) {
      val relax = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy("node").agg(min(col("nd")).as("nd"))
      val upd = dist.join(relax, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("nd")), coalesce(col("nd"), col("dist"))).as("d2"),
          (col("dist").isNull || col("nd") < col("dist")).as("improved"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gen += upd
      frontier = upd.filter(col("improved")).select(col("node"), col("d2").as("dist"))
      dist = upd.select(col("node"), col("d2").as("dist"))
      // superstep lineage truncation, the pagerank/bfs discipline
      if (r % 2 == 0) dist = dist.localCheckpoint(false)
    }
    graft.SessionCache.retire(s, "sssp_weighted", gen.toSeq)
    dist
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

  /** Semi-supervised LABEL PROPAGATION over the shared supplier graph —
    * the third Pregel-superstep family member (PageRank spreads mass, BFS
    * spreads distance, this spreads CLASS LABELS from a seed set). Seeds
    * (node % 10 = 0) carry label node % 5 and are clamped; every round
    * each unlabeled node takes the MAJORITY label of its labeled
    * neighbors (count desc, label asc — a total order, no RNG), keeping
    * its previous label when no neighbor is labeled. Each superstep is
    * one edge join + two grouped aggregations, all partitioned on the
    * node key — per-round cost proportional to the edge list, the shape
    * that holds at any graph size; the majority vote is a max(struct)
    * aggregate, not a per-node window over occurrences. The oracle
    * macro-expands the same [[LpRounds]] rounds as CTE stages. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val und = symmetricEdges(s, d) // shared layer — persisted, not retired here
    val nodes = Tables.supplier(s, d).select(col("s_suppkey").as("node"))
    var lbl = nodes.select(col("node"),
      (col("node") % 10 === 0).as("is_seed"),
      when(col("node") % 10 === 0, col("node") % 5).otherwise(lit(-1L)).as("lbl"))
    for (t <- 1 to LpRounds) {
      val votes = und
        .join(lbl.filter(col("lbl") >= 0)
          .select(col("node").as("src"), col("lbl").as("nl")), "src")
        .groupBy(col("dst").as("node"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
      // majority with (cnt desc, label asc) tiebreak: max of (cnt, -label)
      val voted = votes.groupBy("node")
        .agg(max(struct(col("cnt"), (-col("nl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("voted"))
      lbl = lbl.join(voted, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          when(col("is_seed"), col("lbl"))
            .otherwise(coalesce(col("voted"), col("lbl"))).as("lbl"))
      // superstep lineage truncation, the pagerank/bfs discipline
      if (t % 2 == 0) lbl = lbl.localCheckpoint(false)
    }
    val out = lbl.select(col("node"), col("lbl").as("label"))
    out
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

  /** k-core decomposition by iterative peeling, the fifth superstep
    * family member: each round drops every node whose CURRENT degree is
    * below k and restricts the edge list to survivors. Per round the work
    * is one grouped count (degree, partitioned on the node key) and two
    * semi-joins (edge endpoints against the survivor set) — proportional
    * to the surviving edge list, never to the original graph once peeling
    * bites, which is the invariant that makes peeling viable on
    * billion-edge graphs. k is DATA-DEPENDENT (⅔ of the graph's average
    * degree, floor(2·|E_sym| / 3·|V|)) so the peel bites at every scale
    * factor — the supplier graph's density is sf-invariant, a fixed small
    * k would never remove a node; the threshold stays IN the plan as a
    * broadcast 1-row frame (the drift_tvd pattern — construction runs no
    * eager action). Bounded at [[KCoreRounds]] rounds so the plan is
    * statically finite; the oracle macro-expands the same rounds.
    * The node domain is 4× wider than the shared supplier graph's
    * (l_partkey mod 4·|supplier|) so the degree distribution is skewed —
    * supplier-id nodes sit far above the mean, part-residue nodes below —
    * and the peel genuinely removes nodes at every scale factor (the
    * shared graph is near-complete at tiny sf: every degree equals the
    * mean and nothing peels).
    * Output: surviving nodes with their degree in the surviving subgraph. */
  def kCore(s: SparkSession, d: String): DataFrame = {
    val gen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // shared wide layer — persisted by the layer builder, not retired here
    var e = symmetricEdgesWide(s, d)
    // ⅔ of the mean degree: measured across sf0.001/0.01/0.1 this peels
    // 55-65% of nodes and always leaves a nonempty core (40→17, 400→149,
    // 4000→1523 survivors); the full mean — and even ¾ of it at sf0.001 —
    // cascades to an empty graph (hubs lose their below-mean neighbors,
    // then fall themselves), and half the mean barely bites.
    val kth = e.agg(
      floor(count(lit(1)).cast("double") * 2
          / (countDistinct(col("src")).cast("double") * 3))
        .cast("long").as("kth"))
    for (r <- 1 to KCoreRounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .crossJoin(broadcast(kth))
        .filter(col("deg") >= col("kth"))
        .select(col("src").as("node"))
      // shuffle_hash on the survivor side: AQE otherwise broadcast-converts
      // both semi joins, and each broadcast build is a SEPARATE job that
      // re-derives every unmaterialized earlier round — measured 31 s (and
      // 159 s on re-invocation) vs ~2 s with the single-DAG hash joins.
      // The survivor set is node-scale anyway — never broadcastable at
      // real graph sizes.
      val next = e
        .join(keep.select(col("node").as("src")).hint("shuffle_hash"),
          Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")).hint("shuffle_hash"),
          Seq("dst"), "left_semi")
        .select("src", "dst")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gen += next
      // superstep lineage truncation, the pagerank/bfs discipline (lazy —
      // no construction-time job)
      e = if (r % 2 == 0) next.localCheckpoint(false) else next
    }
    graft.SessionCache.retire(s, "k_core", gen.toSeq)
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
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
    * set (suppkeys 1..[[CcSeeds]]): state is (seed, node, dist), so the
    * per-round work is the BFS frontier-delta shape keyed on (seed, node)
    * — at most seeds × nodes rows ever, and the SEED BOUND is the scale
    * contract (exact all-pairs closeness is O(N·E), off the table at any
    * real graph size; sampled-seed closeness is how production systems
    * approximate it). Each round: frontier ⋈ adjacency, min-dedup per
    * (seed, node), anti-join against the visited set. Output per node:
    * seeds reached within [[CcRounds]] hops and the summed hop distance —
    * exact integers. */
  def closenessCentrality(s: SparkSession, d: String): DataFrame = {
    val gen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val sym = symmetricEdges(s, d) // shared layer — persisted, not retired here
    var visited = Tables.supplier(s, d)
      .filter(col("s_suppkey") <= CcSeeds)
      .select(col("s_suppkey").as("seed"), col("s_suppkey").as("node"),
        lit(0).as("dist"))
    var frontier = visited.select("seed", "node")
    for (h <- 1 to CcRounds) {
      // NO join-strategy hint on the visited anti-join: visited is lazily
      // checkpointed EVERY round, so an AQE broadcast build reads the
      // checkpoint blocks — the 50deb5a cascade (each broadcast re-deriving
      // every unmaterialized earlier round) cannot occur here, and forcing
      // shuffle_hash instead costs two extra full shuffles per round
      // (measured 0.8 → 2.3 s warm at sf0.1/32 threads, round 14). At real
      // graph sizes AQE's runtime stats see a node-scale visited set and
      // pick the shuffled join on their own — that, not a compile-time
      // hint, is the scale posture. k_core is DIFFERENT: its per-round
      // survivor frames are derived, never checkpointed, so it keeps the
      // hints.
      val next = frontier.join(sym, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gen += next
      visited = visited.unionByName(next.withColumn("dist", lit(h)))
        .localCheckpoint(false)
      frontier = next
    }
    graft.SessionCache.retire(s, "closeness_centrality", gen.toSeq)
    visited.groupBy("node")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).cast("long").as("sum_dist"))
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
    * Brandes decomposition, from a bounded seed set: for each seed s and
    * node v, θ_s(v) = σ_s(v) · c_s(v) counts the shortest s-paths through
    * v to any target within [[StressRounds]] hops, where σ is the BFS
    * shortest-path count (forward pass) and c(v) = Σ_{w ∈ succ(v)}
    * (c(w) + 1) counts shortest-path CONTINUATIONS from v down the BFS
    * DAG (backward pass, levels descending). Unlike betweenness's
    * rational δ accumulation, every quantity here is an exact BIGINT —
    * the cross-engine-hashable member of the centrality family.
    *
    * Scale contract: the seed bound (exact all-sources is O(N·E));
    * forward = [[StressRounds]] frontier-delta supersteps keyed on
    * (seed, node) — the closeness shape — and backward = one
    * level-to-level equi-join per level, each proportional to the
    * DAG's edges at that level, never whole-graph state. The BFS-DAG
    * invariant (every shortest-path predecessor of a level-h node is at
    * level h−1) is what lets σ accumulate level-synchronously. */
  def stressCentrality(s: SparkSession, d: String): DataFrame = {
    val gen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the WIDE shared layer: interior shortest-path structure needs a
    // diameter > 2 (on the near-complete narrow graph every non-endpoint
    // stress is identically zero at small sf)
    val sym = symmetricEdgesWide(s, d)
    var visited = Tables.supplier(s, d)
      .filter(col("s_suppkey") <= StressSeeds)
      .select(col("s_suppkey").as("seed"), col("s_suppkey").as("node"),
        lit(0).as("dist"), lit(1L).as("sigma"))
    var frontier = visited.select("seed", "node", "sigma")
    for (h <- 1 to StressRounds) {
      // σ(new node) = Σ σ(frontier predecessors): aggregate BEFORE the
      // visited anti-join so every level-(h−1) predecessor contributes.
      // No join hint: visited is checkpointed every round (see the
      // closeness loop note — broadcast builds read checkpoint blocks,
      // and AQE flips to a shuffled join on its own once the visited
      // set outgrows the broadcast threshold at real graph sizes).
      val next = frontier.join(sym, col("node") === col("src"))
        .select(col("seed"), col("dst"), col("sigma"))
        .groupBy("seed", "dst").agg(sum("sigma").as("sigma"))
        .withColumnRenamed("dst", "node")
        .join(visited.select("seed", "node"), Seq("seed", "node"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gen += next
      visited = visited
        .unionByName(next.withColumn("dist", lit(h))
          .select("seed", "node", "dist", "sigma"))
      frontier = next.select("seed", "node", "sigma")
    }
    // ONE lazy checkpoint after the (statically bounded) forward loop —
    // not per round: [[StressRounds]] is a compile-time constant, so the
    // un-truncated plan depth is bounded and the per-round checkpoints
    // were pure job overhead (each materialization is its own AQE job
    // chain; dropping them + the per-level backward persists cut the
    // query from ~40 jobs / 11.8 s to single digits at sf0.1/32 threads).
    // Loops with DATA-DEPENDENT round counts (the CC label loop) still
    // need periodic truncation — this is the bounded-rounds special case.
    visited = visited.localCheckpoint(false)
    // backward pass: continuation counts, deepest level first, composed
    // as ONE lazy plan — every level filter reads the single checkpointed
    // visited frame, and the doubly-consumed cont_l subtrees dedupe via
    // AQE exchange reuse instead of per-level persisted frames
    var cont = visited.filter(col("dist") === StressRounds)
      .select(col("seed"), col("node"), lit(0L).as("c"))
    var acc = cont
    for (l <- (StressRounds - 1) to 0 by -1) {
      val cur = visited.filter(col("dist") === l).select("seed", "node")
      val contrib = cur.join(sym, col("node") === col("src"))
        .select(col("seed"), col("node"), col("dst"))
        .join(cont.select(col("seed"), col("node").as("dst"), col("c")),
          Seq("seed", "dst"))
        .groupBy("seed", "node").agg(sum(col("c") + 1).as("c"))
      cont = cur.join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), coalesce(col("c"), lit(0L)).as("c"))
      acc = acc.unionByName(cont)
    }
    graft.SessionCache.retire(s, "stress_centrality", gen.toSeq)
    visited.filter(col("node") =!= col("seed"))
      .join(acc, Seq("seed", "node"))
      .groupBy("node")
      .agg(sum(col("sigma") * col("c")).cast("long").as("stress"))
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

  /** Per-node LOCAL CLUSTERING COEFFICIENT over the shared supplier
    * graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), with the triangle
    * census enumerated once as id-oriented (a<b<c) wedge+closure joins —
    * every count an exact integer, the one division the only float.
    *
    * Scale contract: orientation bounds the wedge join by per-node
    * OUT-degree under the a<b order (production systems orient by
    * (degree, id) to cap hub fan-out; on this near-uniform-degree graph
    * id-orientation has the same bound and keeps the oracle twin exact),
    * and the closure check is a shuffle_hash semi-join against the
    * edge list — never broadcast (edge-scale) and never node×node. */
  def clusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    val sym = symmetricEdges(s, d) // shared layer
    val canon = sym.filter(col("src") < col("dst"))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val tris = canon.select(col("src").as("a"), col("dst").as("b"))
      .join(canon.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(canon.select(col("src").as("a"), col("dst").as("c"))
        .hint("shuffle_hash"), Seq("a", "c"), "left_semi")
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc", when(col("deg") >= 2,
          (col("tri") * 2).cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"))
        .otherwise(lit(0.0)))
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
    * partial-aggregable pass, with the correlation assembled from them
    * in a fixed double chain. Uses the k_core 4×-wide node domain
    * (l_partkey mod 4·|supplier|) because its degree distribution is
    * genuinely skewed — the shared supplier graph is near-regular at
    * small sf, which degenerates the correlation to 0/0.
    *
    * Scale contract: two node-keyed hash joins to attach endpoint
    * degrees (node-scale dims — shuffle_hash, never broadcast at real
    * graph sizes) and one map-side-combinable grand aggregate; the BIGINT
    * sums are exact to |E|·maxdeg² ≈ 2⁶² (far past any tested sf; the
    * same documented bound idiom as priority_sample's LCG mix). */
  def degreeAssortativity(s: SparkSession, d: String): DataFrame = {
    val sym = symmetricEdgesWide(s, d) // shared wide layer
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
    val sums = sym
      .join(deg.select(col("node").as("src"), col("deg").as("jd"))
        .hint("shuffle_hash"), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("kd"))
        .hint("shuffle_hash"), "dst")
      .agg(
        count(lit(1)).as("m"),
        sum(col("jd")).as("s1"),
        sum(col("jd") * col("jd")).as("s2"),
        sum(col("jd") * col("kd")).as("s11"))
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
