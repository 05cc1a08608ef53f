package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Retrieval-quality audit for the ANN family: recall@k of every
  * approximate top-k method against the brute-force exact ground truth
  * (`ann_topk_cosine`) — the metric every production vector pipeline
  * watches when it tunes bucket counts, probe lists or code sizes.
  *
  * recall@k(method) = |approx_topk(method) ∩ exact_topk| / |exact_topk|,
  * counted over the shared bounded query sample (vec_id % 50 = 0). The
  * intersection is a pair-membership join on (query_id, neighbor_id) —
  * integer keys only, no float comparison anywhere — so the whole audit is
  * exact and fully DuckDB-oracled: each method's oracle SQL is reused
  * verbatim as a subquery, making the audit a pure composition of already-
  * verified formulations.
  *
  * Scale shape: the four top-k frames are Q·k rows each (bounded by the
  * query-sample contract); the membership join broadcasts the exact side.
  * The audit costs what the underlying searches cost — nothing new
  * shuffles at scale.
  */
object AnnRecall {

  // each method resolves through its REGISTERED entry, which rides the
  // shared persisted layer — the audit reuses the same materialized top-k
  // frames its standalone queries produce (and vice versa)
  private val Methods: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ivf"         -> IvfAnn.queries("ann_ivf_topk"),
    "lsh"         -> Similarity.lshQueries("ann_lsh_topk"),
    "partitioned" -> Similarity.queries("ann_partitioned_topk"),
    "pq"          -> PqAnn.queries("ann_pq_topk"))

  def annRecallAudit(s: SparkSession, d: String): DataFrame = {
    val exact = Similarity.queries("ann_topk_cosine")(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val approx = Methods.map { case (m, fn) =>
      fn(s, d).select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy("method")
      .agg(
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_exact").cast("double"))
      .select("method", "n_returned", "n_hits", "n_exact", "recall")
  }

  /** Matryoshka (prefix-truncation) retrieval audit: recall@k of top-k
    * search run on the FIRST L dimensions of the embedding (L = 8/16/32)
    * against the full-64-dim exact ground truth — the measurement behind
    * shipping truncated matryoshka vectors as the cheap first-pass index
    * (prefix cosine costs L/64 of the flops and bytes; a production
    * pipeline picks the shortest L whose recall clears its bar, then
    * re-ranks survivors with the full vector). Same bounded query pool,
    * same bounded-heap top-k, same pair-membership recall join as
    * [[annRecallAudit]]; the prefix fold is the identical left-to-right
    * double chain as the full dot, over `slice(embedding, 1, L)`. */
  def annMatryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val exact = Similarity.queries("ann_topk_cosine")(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val approx = Dims.map { l =>
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), slice(col("embedding"), 1, l).as("pe"))
      val withN = e.withColumn("nrm", Similarity.norm(col("pe")))
      val q = withN.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("pe").as("qe"), col("nrm").as("qn"))
      val c = withN.select(col("vec_id").as("neighbor_id"),
        col("pe").as("ce"), col("nrm").as("cn"))
      val scored = q.crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine",
          graft.expr.VectorExpressions.dotF(col("qe"), col("ce")) /
            (col("qn") * col("cn")))
      graft.plans.TopK.perKeyRanked(
          scored.select("query_id", "neighbor_id", "cosine"),
          Seq("query_id"), Seq("cosine" -> false, "neighbor_id" -> true),
          Similarity.TopK, rankCol = "rank")
        .select(lit(l).as("prefix_dim"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    approx
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy("prefix_dim")
      .agg(
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_exact").cast("double"))
      .select("prefix_dim", "n_returned", "n_hits", "n_exact", "recall")
  }

  private val Dims = Seq(8, 16, 32)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall_audit" -> ((s, d) => annRecallAudit(s, d)),
    "ann_matryoshka_recall" -> ((s, d) => annMatryoshkaRecall(s, d))
  )

  /** Prefix-L dot product — the same left-to-right double fold as
    * [[Similarity.dotSql]], stopped at L dims (matches slice + dotF). */
  private def pDotSql(a: String, b: String, l: Int): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(generate_series(1, $l), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def matryoshkaSql: String = {
    val exactSql = Similarity.oracles("ann_topk_cosine")
    val union = Dims.map { l =>
      s"""SELECT $l AS prefix_dim, query_id, neighbor_id FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    row_number() OVER (PARTITION BY q.vec_id
      ORDER BY ${pDotSql("q.embedding", "c.embedding", l)} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
  FROM (SELECT vec_id, embedding, sqrt(${pDotSql("embedding", "embedding", l)}) AS nrm FROM embeddings) q
  JOIN (SELECT vec_id, embedding, sqrt(${pDotSql("embedding", "embedding", l)}) AS nrm FROM embeddings) c
    ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
) WHERE rank <= ${Similarity.TopK}"""
    }.mkString("\nUNION ALL\n")
    s"""
WITH exact AS (SELECT query_id, neighbor_id FROM ($exactSql)),
approx AS (
$union
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
SELECT CAST(a.prefix_dim AS INT) AS prefix_dim,
  CAST(count(*) AS BIGINT) AS n_returned,
  CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  n.n_exact,
  CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(n.n_exact AS DOUBLE) AS recall
FROM approx a
LEFT JOIN exact e
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
CROSS JOIN n
GROUP BY a.prefix_dim, n.n_exact"""
  }

  /** Each method's verified oracle SQL, reused verbatim as a subquery. */
  def oracles: Map[String, String] = {
    val exactSql = Similarity.oracles("ann_topk_cosine")
    val methodSql = Seq(
      "ivf"         -> IvfAnn.oracles("ann_ivf_topk"),
      "lsh"         -> Similarity.lshOracles("ann_lsh_topk"),
      "partitioned" -> Similarity.oracles("ann_partitioned_topk"),
      "pq"          -> PqAnn.oracles("ann_pq_topk"))
    val union = methodSql.map { case (m, sql) =>
      s"SELECT '$m' AS method, query_id, neighbor_id FROM ($sql)"
    }.mkString("\nUNION ALL\n")
    Map("ann_matryoshka_recall" -> matryoshkaSql,
      "ann_recall_audit" -> s"""
WITH exact AS (SELECT query_id, neighbor_id FROM ($exactSql)),
approx AS (
$union
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
SELECT a.method,
  CAST(count(*) AS BIGINT) AS n_returned,
  CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  n.n_exact,
  CAST(sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(n.n_exact AS DOUBLE) AS recall
FROM approx a
LEFT JOIN exact e
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
CROSS JOIN n
GROUP BY a.method, n.n_exact""")
  }
}
