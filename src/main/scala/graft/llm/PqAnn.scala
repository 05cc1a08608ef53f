package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product quantization (PQ) approximate nearest neighbor — the vector
  * COMPRESSION member of the ANN family (alongside brute-force, LSH and
  * IVF): split each 64-dim embedding into [[M]] subvectors, k-means each
  * subspace independently into [[KSub]] centroids, store every vector as
  * M small codes, and answer queries with ASYMMETRIC DISTANCE COMPUTATION
  * (ADC): the query stays full-precision and each candidate's distance is
  * the sum of per-subspace query→centroid distances looked up by code.
  *
  * Scale posture (the faiss recipe): the codebook is tiny (M·K·subdim
  * floats) and trains on the SAME bounded driver sample as the IVF coarse
  * quantizer; encoding is a narrow broadcast-codebook pass (one code word
  * per vector — 64 floats compress to M bytes, which is what makes
  * billion-vector indexes fit in RAM); search is a small-queries ×
  * all-codes join whose per-pair work is M table lookups, not a 64-dim
  * dot product. Everything is seeded and order-deterministic, so the
  * whole pipeline — sample, init, Lloyd iterations, encoding, ADC, top-k
  * — replays bit-for-bit in the DuckDB oracle (the [[IvfAnn]] precedent,
  * with Euclidean subspace k-means instead of spherical).
  */
object PqAnn {

  val M = 4          // subspaces
  val SubDim = 16    // dims per subspace (4 × 16 = 64)
  val KSub = 16      // centroids per subspace
  val Iterations = 2 // Lloyd iterations per subspace

  /** Squared Euclidean distance between a float subvector of `v` starting
    * at `off` and a centroid, in index order with per-element
    * float→double casts — the fold the oracle mirrors. */
  private def dist2Jvm(v: Array[Float], off: Int, c: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) {
      val diff = v(off + i).toDouble - c(i).toDouble
      d += diff * diff
      i += 1
    }
    d
  }

  /** Deterministic Euclidean k-means per subspace: init = the subvectors
    * of the [[KSub]] lowest vec_ids; assignment by strict-min distance
    * (first/lowest cell wins ties); centroid = per-dim double mean cast
    * to float32; empty cells keep the previous centroid. The sample is
    * vec_id-sorted so every double fold replays in the oracle via
    * `list(... ORDER BY vec_id)`. */
  private[llm] def trainSubspace(
      sample: Array[(Long, Array[Float])], sub: Int): Array[Array[Float]] = {
    val off = sub * SubDim
    var cents: Array[Array[Float]] =
      sample.take(KSub).map(_._2.slice(off, off + SubDim))
    for (_ <- 1 to Iterations) {
      val sums = Array.fill(KSub)(new Array[Double](SubDim))
      val counts = new Array[Int](KSub)
      sample.foreach { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < KSub) {
          val d = dist2Jvm(v, off, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < SubDim) { sums(best)(i) += v(off + i); i += 1 }
        counts(best) += 1
      }
      cents = (0 until KSub).map { c =>
        if (counts(c) > 0) sums(c).map(x => (x / counts(c)).toFloat)
        else cents(c)
      }.toArray
    }
    cents
  }

  private[llm] def codebooks(s: SparkSession, d: String): Array[Array[Array[Float]]] = {
    val sample = IvfAnn.trainSample(s, d)
    (0 until M).map(trainSubspace(sample, _)).toArray
  }

  /** Encode every vector: per subspace, the argmin-distance centroid code
    * (broadcast codebook, narrow pass). */
  private def encoded(s: SparkSession, d: String,
      cbs: Array[Array[Array[Float]]]): DataFrame = {
    val spark = s
    import spark.implicits._
    val bc = s.sparkContext.broadcast(cbs)
    Tables.embeddings(s, d).select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cb = bc.value
        it.map { case (id, v) =>
          val codes = Array.tabulate(M) { sub =>
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < KSub) {
              val dd = dist2Jvm(v, sub * SubDim, cb(sub)(c))
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            best
          }
          (id, codes)
        }
      }
      .toDF("vec_id", "codes")
  }

  /** ADC top-k: every 50th vector queries (the [[Similarity]] contract);
    * per (query, candidate) the distance is the sub-major sum of
    * query-subvector → coded-centroid squared distances. */
  def pqTopK(s: SparkSession, d: String, k: Int = Similarity.TopK): DataFrame = {
    val spark = s
    import spark.implicits._
    val cbs = codebooks(s, d)
    val bc = s.sparkContext.broadcast(cbs)
    val codes = encoded(s, d, cbs)
    val queries = Tables.embeddings(s, d).select("vec_id", "embedding")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = queries.join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("qe"), col("vec_id").as("neighbor_id"), col("codes"))
      .as[(Long, Array[Float], Long, Array[Int])]
      .mapPartitions { it =>
        val cb = bc.value
        it.map { case (qid, q, nid, codes) =>
          var dist = 0.0
          var sub = 0
          while (sub < M) {
            dist += dist2Jvm(q, sub * SubDim, cb(sub)(codes(sub)))
            sub += 1
          }
          (qid, nid, dist)
        }
      }
      .toDF("query_id", "neighbor_id", "adc_dist")
    graft.plans.TopK.perKeyRanked(
        scored, Seq("query_id"), Seq("adc_dist" -> true, "neighbor_id" -> true), k,
        rankCol = "rank")
      .select("query_id", "neighbor_id", "rank", "adc_dist")
  }

  // ------------------------------------------------------------ oracle --

  /** Fold of (a[off+i] − b[i])² over i = 1..SubDim in index order, 0.0
    * seed — the SQL twin of [[dist2Jvm]]. `off` is a SQL expression. */
  private def dist2Sql(a: String, off: String, b: String): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(generate_series(1, $SubDim), " +
      s"i -> (CAST($a[$off + i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[$off + i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** One unrolled Lloyd iteration over ALL subspaces at once (`sub` is
    * just another key column — the M subspace k-means runs are
    * independent). */
  private def iterSql(t: Int): String = {
    val prev = s"pcent${t - 1}"
    s"""pdist$t AS (
  SELECT s.vec_id, c.sub, c.cell,
    ${dist2Sql("s.embedding", "c.sub * " + SubDim, "c.emb")} AS d2
  FROM samp s CROSS JOIN $prev c
), pbest$t AS (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS rn
    FROM pdist$t) WHERE rn = 1
), psums$t AS (
  SELECT b.sub, b.cell, g.i,
    list_reduce([CAST(0.0 AS DOUBLE)] ||
      list(CAST(s.embedding[b.sub * $SubDim + g.i] AS DOUBLE) ORDER BY s.vec_id),
      (x, y) -> x + y) AS sv,
    CAST(count(*) AS BIGINT) AS cnt
  FROM samp s JOIN pbest$t b USING (vec_id), generate_series(1, $SubDim) AS g(i)
  GROUP BY b.sub, b.cell, g.i
), pcent$t AS (
  SELECT p.sub, p.cell, COALESCE(nc.emb, p.emb) AS emb
  FROM $prev p LEFT JOIN (
    SELECT sub, cell, list(CAST(sv / cnt AS FLOAT) ORDER BY i) AS emb
    FROM psums$t GROUP BY sub, cell
  ) nc ON p.sub = nc.sub AND p.cell = nc.cell
)"""
  }

  /** Full PQ oracle: sample → per-subspace init (KSub lowest vec_ids'
    * subvector slices) → unrolled Lloyd → encode all vectors → ADC sums
    * in sub order → per-query top-k. */
  private def pqSql: String = {
    val iters = (1 to Iterations).map(iterSql).mkString(",\n")
    s"""
WITH params AS (
  SELECT greatest(1, (SELECT count(*) FROM embeddings) // ${IvfAnn.TrainSampleCap}) AS stride
), samp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % (SELECT stride FROM params) = 0
), init AS (
  SELECT vec_id, embedding,
    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
  FROM samp ORDER BY vec_id LIMIT $KSub
), pcent0 AS (
  SELECT g.sub, i.cell,
    list_transform(generate_series(1, $SubDim),
      j -> i.embedding[g.sub * $SubDim + j]) AS emb
  FROM init i, (SELECT unnest(generate_series(0, ${M - 1})) AS sub) g
),
$iters,
codes AS (
  SELECT vec_id, sub, cell FROM (
    SELECT e.vec_id, c.sub, c.cell,
      row_number() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
        ${dist2Sql("e.embedding", "c.sub * " + SubDim, "c.emb")}, c.cell) AS rn
    FROM embeddings e CROSS JOIN pcent$Iterations c) WHERE rn = 1
), adc AS (
  SELECT q.vec_id AS query_id, k.vec_id AS neighbor_id,
    list_reduce([CAST(0.0 AS DOUBLE)] ||
      list(${dist2Sql("q.embedding", "k.sub * " + SubDim, "c.emb")} ORDER BY k.sub),
      (x, y) -> x + y) AS adc_dist
  FROM embeddings q
  JOIN codes k ON q.vec_id <> k.vec_id
  JOIN pcent$Iterations c ON c.sub = k.sub AND c.cell = k.cell
  WHERE q.vec_id % 50 = 0
  GROUP BY q.vec_id, k.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adc_dist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
) WHERE rank <= ${Similarity.TopK}"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_pq_topk" -> ((s, d) => graft.SessionCache.persisted("ann_pq_topk", s, d)(pqTopK(s, d)))
  )

  def oracles: Map[String, String] = Map(
    "ann_pq_topk" -> pqSql
  )
}
