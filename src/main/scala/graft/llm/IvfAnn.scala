package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** IVF (inverted-file) approximate nearest neighbor: a spherical-k-means
  * coarse quantizer partitions vectors into cells; each query scores only
  * the vectors in its `nprobe` nearest cells.
  *
  * Training (Lloyd iterations) runs on the driver over a bounded sample —
  * the standard IVF recipe: the quantizer is tiny (K·dim floats) and at
  * 100 TB you train it on a ~1M-vector sample, broadcast it, and the
  * *assignment + search* stages stay fully distributed: assignment is a
  * narrow mapPartitions against the broadcast centroids; search shuffles
  * once on cell id. Everything is seeded/deterministic.
  */
object IvfAnn {

  val K = 16
  val NProbe = 3
  val Iterations = 4

  /** Deterministic spherical k-means over a sample: init = the K lowest
    * vec_ids; assignment by max cosine; centroid = L2-normalized mean. */
  private[llm] def trainCentroids(sample: Array[(Long, Array[Float])]): Array[Array[Float]] = {
    val dim = sample.head._2.length
    def normalize(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => if (n > 0) (x / n).toFloat else 0f)
    }
    var centroids = sample.sortBy(_._1).take(K).map(_._2)
    for (_ <- 1 to Iterations) {
      // hoist the K centroid norms out of the N-vector loop (norm(v) drops
      // out of the per-vector argmax entirely — it scales all K scores)
      val cNorms = centroids.map(Similarity.normJvm)
      val sums = Array.fill(K)(new Array[Double](dim))
      val counts = new Array[Int](K)
      sample.foreach { case (_, v) =>
        var best = 0; var bestSim = Double.MinValue
        var c = 0
        while (c < K) {
          val s = Similarity.dotJvm(centroids(c), v) / cNorms(c)
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = (0 until K).map { c =>
        if (counts(c) > 0) normalize(sums(c)) else centroids(c)
      }.toArray
    }
    centroids
  }

  /** (vec_id, embedding, cell) assignment via broadcast centroids. */
  private[llm] def assign(s: SparkSession, d: String, centroids: Array[Array[Float]],
      top: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    val bc = s.sparkContext.broadcast(centroids)
    Tables.embeddings(s, d).select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        val csNorm = cs.map(Similarity.normJvm)
        it.flatMap { case (id, v) =>
          val vn = Similarity.normJvm(v)
          val sims = cs.indices.map(c => (c, Similarity.dotJvm(cs(c), v) / (csNorm(c) * vn)))
          sims.sortBy { case (c, sim) => (-sim, c) }.take(top)
            .map { case (c, _) => (id, v, c) }
        }
      }
      .toDF("vec_id", "embedding", "cell")
  }

  /** Approximate top-k: candidates share at least one of the query's
    * NProbe cells. */
  /** Training-sample cap: only this many vectors ever reach the driver,
    * selected by a deterministic vec_id stride — at 100 TB the stride
    * grows with the table but the collected sample stays ~4k vectors
    * (the IVF recipe: quantizer quality needs a bounded sample, not the
    * corpus). */
  val TrainSampleCap = 4096

  /** Train the coarse quantizer for a sf dir: stride-sampled, vec_id-sorted
    * (collect() order is partition order, not a contract — sorting is what
    * lets the DuckDB oracle replicate the trainer's double-sum folds via
    * list(... ORDER BY vec_id)). Shared by IVF search, semantic dedup, and
    * prototypicality pruning. */
  /** The stride-sampled, vec_id-sorted trainer input — shared with the
    * product quantizer ([[PqAnn]]), which replays the identical sample in
    * its own oracle. */
  private[llm] def trainSample(s: SparkSession, d: String): Array[(Long, Array[Float])] = {
    val n = Tables.embeddings(s, d).count()
    val stride = math.max(1L, n / TrainSampleCap)
    Tables.embeddings(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") % stride === 0)
      .as[(Long, Array[Float])](org.apache.spark.sql.Encoders.product[(Long, Array[Float])])
      .collect().sortBy(_._1)
  }

  private[llm] def quantizer(s: SparkSession, d: String): Array[Array[Float]] =
    trainCentroids(trainSample(s, d))

  def annIvfTopK(s: SparkSession, d: String, k: Int = Similarity.TopK): DataFrame = {
    val centroids = quantizer(s, d)
    val dot = graft.expr.VectorExpressions.dotF _
    // norms precomputed once per SIDE (|vectors| + |queries| array passes),
    // not per candidate pair — the pair scoring below is then a single
    // array traversal per pair instead of three
    val cells = assign(s, d, centroids, top = 1)
    val probes = assign(s, d, centroids, top = NProbe)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cell"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    val cands = cells.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("cell"),
      sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    // a candidate sharing several probed cells appears once per cell:
    // dedup on the (query, neighbor) KEY PAIR after scoring — hashing two
    // longs — rather than `distinct()` over rows that still carry both
    // 64-float embeddings (array-hashing the wide rows costs more than
    // re-scoring the few multi-cell duplicates)
    val scored = probes.join(cands, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cosine")).as("cosine"))
    // bounded-heap top-k with native rank emission (graft.plans.TopKPerGroup)
    graft.plans.TopK.perKeyRanked(
        scored.select("query_id", "neighbor_id", "cosine"),
        Seq("query_id"), Seq("cosine" -> false, "neighbor_id" -> true), k,
        rankCol = "rank")
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_topk" -> ((s, d) => graft.SessionCache.persisted("ann_ivf_topk", s, d)(annIvfTopK(s, d)))
  )

  /** Left-fold dot product of two float lists, identical to
    * [[Similarity.dotJvm]] / [[graft.expr.DotProductFloat]]: per-element
    * float→double casts, index order, 0.0 seed. */
  private[llm] def dotSqlL(a: String, b: String): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(generate_series(1, 64), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** NaN-guarded similarity for the oracle's argmax orderings: a zero-norm
    * vector or centroid makes `sim` NaN, which the JVM argmaxes
    * ([[trainCentroids]]'s `s > bestSim`, [[assign]]'s TotalOrdering sort)
    * NEVER select, while DuckDB's `ORDER BY sim DESC` sorts NaN as the
    * LARGEST double and would pick it first. Mapping NaN below any real
    * cosine (∈ [-1, 1]) makes both engines fall through to the same
    * non-NaN winner — and to the same cell-ASC tiebreak when every sim is
    * NaN. Not reachable with current testdata (all norms > 0) but
    * data-dependent, so the guard is unconditional (ADVICE r6). */
  private[llm] def simGuardSql(sim: String = "sim"): String =
    s"(CASE WHEN isnan($sim) THEN -1e308 ELSE $sim END)"

  /** One unrolled Lloyd iteration: assignment by max cosine against the
    * previous centroids (ties → lowest cell, matching the trainer's
    * first-wins argmax), per-(cell,dim) double sums folded in vec_id order
    * (the trainer iterates the vec_id-sorted sample), then the spherical
    * re-normalization with the same fold and the same double→float32
    * rounding; empty cells keep the previous centroid. */
  private def iterSql(t: Int): String = {
    val prev = s"cent${t - 1}"
    s"""sim$t AS (
  SELECT s.vec_id, c.cell,
    ${dotSqlL("c.emb", "s.embedding")} / sqrt(${dotSqlL("c.emb", "c.emb")}) AS sim
  FROM samp s CROSS JOIN $prev c
), best$t AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY ${simGuardSql()} DESC, cell) AS rn
    FROM sim$t) WHERE rn = 1
), sums$t AS (
  SELECT b.cell, g.i,
    list_reduce([CAST(0.0 AS DOUBLE)] ||
      list(CAST(s.embedding[g.i] AS DOUBLE) ORDER BY s.vec_id), (x, y) -> x + y) AS sv
  FROM samp s JOIN best$t b USING (vec_id), generate_series(1, 64) AS g(i)
  GROUP BY b.cell, g.i
), norm$t AS (
  SELECT cell,
    sqrt(list_reduce([CAST(0.0 AS DOUBLE)] || list(sv * sv ORDER BY i), (x, y) -> x + y)) AS nrm
  FROM sums$t GROUP BY cell
), cent$t AS (
  SELECT p.cell, COALESCE(nc.emb, p.emb) AS emb
  FROM $prev p LEFT JOIN (
    SELECT s.cell,
      list(CASE WHEN n.nrm > 0 THEN CAST(s.sv / n.nrm AS FLOAT)
                ELSE CAST(0.0 AS FLOAT) END ORDER BY s.i) AS emb
    FROM sums$t s JOIN norm$t n USING (cell)
    GROUP BY s.cell
  ) nc ON p.cell = nc.cell
)"""
  }

  /** Full IVF oracle: the quantizer training is seeded and (now)
    * order-deterministic, so the whole pipeline — stride sample, K-lowest
    * init, $Iterations Lloyd iterations, top-1 cell assignment, NProbe
    * probing, in-cell scoring, per-pair dedup, top-k — replays in DuckDB
    * bit-for-bit. No rows-only check needed. */
  /** The replayed quantizer as a reusable CTE chain ending in `enorm`
    * (per-vector norms), `fcent` (trained centroids + norms), `asim`
    * (all vector×cell sims) and `cells` (top-1 assignment) — shared by
    * every oracle that builds on the trained quantizer. */
  private[llm] def quantizerSql: String = {
    val iters = (1 to Iterations).map(iterSql).mkString(",\n")
    s"""params AS (
  SELECT greatest(1, (SELECT count(*) FROM embeddings) // $TrainSampleCap) AS stride
), samp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % (SELECT stride FROM params) = 0
), cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS emb
  FROM samp ORDER BY vec_id LIMIT $K
),
$iters,
enorm AS (
  SELECT vec_id, embedding, sqrt(${dotSqlL("embedding", "embedding")}) AS nrm FROM embeddings
), fcent AS (
  SELECT cell, emb, sqrt(${dotSqlL("emb", "emb")}) AS cnrm FROM cent$Iterations
), asim AS (
  SELECT e.vec_id, f.cell,
    ${dotSqlL("f.emb", "e.embedding")} / (f.cnrm * e.nrm) AS sim
  FROM enorm e CROSS JOIN fcent f
), cells AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY ${simGuardSql()} DESC, cell) AS rn
    FROM asim) WHERE rn = 1
)"""
  }

  def oracles: Map[String, String] = {
    Map("ann_ivf_topk" -> s"""
WITH $quantizerSql, probes AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY ${simGuardSql()} DESC, cell) AS rn
    FROM asim WHERE vec_id % 50 = 0) WHERE rn <= $NProbe
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    max(${dotSqlL("qe.embedding", "ce.embedding")} / (qe.nrm * ce.nrm)) AS cosine
  FROM probes q JOIN cells c USING (cell)
       JOIN enorm qe ON qe.vec_id = q.vec_id
       JOIN enorm ce ON ce.vec_id = c.vec_id
  WHERE q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= ${Similarity.TopK}""")
  }
}
