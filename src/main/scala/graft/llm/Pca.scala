package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed PCA over the embedding corpus, exact-integer end to end —
  * the dimensionality-analysis step a training-data pipeline runs before
  * whitening / compressing / drift-checking its embedding shards.
  *
  * Three stages, each the 100 TB-shaped version of its textbook form:
  *
  *  1. **Gramian** (`gramian_features`): G = Σ v·vᵀ in ONE pass via
  *     [[graft.expr.VectorGramian]] — a fixed 64×64 int64 buffer per
  *     partition, no n·d² explode, no self-join. The shuffle carries one
  *     buffer per partition however many rows scanned (the oracle computes
  *     the same matrix with the naive dim×dim self-join DuckDB can afford
  *     at sf0.01).
  *  2. **Power iteration** (`pca_power_component`): the dominant
  *     eigenvector by v ← G·v, six supersteps. G is a BOUNDED aggregate
  *     (d² rows by construction, whatever the corpus size), so each
  *     superstep is a d²-row broadcast join — the Perceptron/Pregel shape:
  *     model state flows as a broadcast subplan, nothing touches the
  *     driver. Normalization is max-abs (no sqrt — the exactness
  *     discipline bans irrationals), fixed-point at [[VScale]], with the
  *     division applied to the non-negative operand only so truncation
  *     direction is engine-independent.
  *  3. **Projection** (`embed_pca_project`): every vector's coordinate
  *     along the learned component — one linear scan with the 64-row
  *     component broadcast, the shape that projects 100 TB without a
  *     shuffle at all.
  *
  * Arithmetic: elements are quantized once via the shortest-decimal float
  * cast (`CAST(CAST(x AS VARCHAR) AS DECIMAL(27,10))`, the
  * [[graft.expr.VectorCentroid]] trick) times [[QScale]], rounded
  * HALF_UP — identical in Spark and DuckDB — and everything downstream is
  * int64: associative, merge-order-free, hash-exact. Magnitudes at sf2:
  * |g| ≤ ~2e10, |u| = |Σ_j g·v| ≤ ~1.3e15, |u|·VScale ≤ ~1.3e18 — inside
  * int64 with one decade of headroom; at larger corpora drop VScale a
  * decade per 100× rows.
  */
object Pca {

  private val D = 64
  private val QScale = 1000 // element fixed-point: e_q = round(e * 1000)
  private val VScale = 1000L // eigenvector fixed-point scale
  private val Steps = 6
  private val RpK = 16 // random-projection sketch width

  /** round(shortest-decimal(x) * QScale) as int64, per element — the
    * rounding all runs inside Spark SQL so it is the same engine every
    * other oracle-checked query exercises. */
  private def quantized: Column = transform(col("embedding"),
    x => round(x.cast("string").cast("decimal(27,10)") * lit(QScale)).cast("long"))

  /** (vec_id, i, e): the quantized element stream. */
  private def eqFlat(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(quantized).as(Seq("i", "e")))

  /** Upper-triangle Gramian (i ≤ j), one aggregation pass, shared by the
    * whole PCA family (layer `pca_gram`): 2080 rows, localCheckpointed so
    * the supersteps restart from the materialized matrix instead of
    * re-scanning the corpus. */
  /** The un-checkpointed Gramian plan — one aggregation pass, no join.
    * Package-visible so PlanShapeSpec can pin the one-pass shape (the
    * registered query returns the layer's checkpointed frame, whose plan
    * is an RDD leaf by design). */
  private[graft] def gramFrame(s: SparkSession, d: String): DataFrame = {
    val ga = udaf(graft.expr.VectorGramian, ExpressionEncoder[Array[Long]]())
    unpack(Tables.embeddings(s, d)
      .select(quantized.as("eq"))
      .agg(ga(col("eq")).as("g")))
  }

  // memoized via SessionCache (ADVICE r12: session-keyed TrieMaps pinned
  // checkpointed frames for the JVM lifetime; entries now evict with the
  // session's context)
  private def gram(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.layer("pca_gram", s, d) {
      gramFrame(s, d).localCheckpoint()
    }

  /** Six power-iteration supersteps from v₀ = VScale·1: per-step
    * (step, i, u, v_q) plus the final component frame (layer `pca_power`,
    * shared by `pca_power_component` and `embed_pca_project`).
    *
    * The iteration runs on the DRIVER over the collected Gramian — the
    * MLlib `RowMatrix.computePrincipalComponents` posture: one
    * distributed corpus pass builds the d²-bounded matrix (layer
    * `pca_gram`; D = 64 → 2080 upper-triangle rows, a constant of the
    * SCHEMA, not of the corpus), then the eigensolve is local. The
    * previous distributed formulation spent 5.5-8.3 s of the first-run
    * budget on 6 supersteps × (broadcast + eager checkpoint) of pure
    * fixed job overhead — corpus-size-independent work either way, so
    * distributing it bought nothing at ANY scale (round 14). Arithmetic
    * is the same wrap-exact int64 sequence the oracle's SQL twin and
    * PcaSpec's replay compute. */
  private def power(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.SessionCache.layer("pca_power", s, d) {
      val gRows = gram(s, d).collect() // bounded: ≤ D·(D+1)/2 rows (audited)
      val g = Array.ofDim[Long](D, D)
      gRows.foreach { r =>
        val (i, j, x) = (r.getInt(0), r.getInt(1), r.getLong(2))
        g(i)(j) = x; g(j)(i) = x
      }
      var v = Array.fill(D)(VScale)
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
      for (t <- 1 to Steps) {
        val u = Array.tabulate(D)(i => (0 until D).map(j => g(i)(j) * v(j)).sum)
        val m = u.map(math.abs).max
        v = u.map(x => if (x < 0) -((-x) * VScale / m) else x * VScale / m)
        for (i <- 0 until D) steps += ((t, i, u(i), v(i)))
      }
      val spark = s
      import spark.implicits._
      (steps.toSeq.toDF("step", "i", "u", "v_q"),
        v.toSeq.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "v"))
    }

  /** Unpack the aggregated d²-long array to (i, j, g_q) upper-triangle
    * rows — shared by the batch query and the streaming gate's sink. */
  private def unpack(g: DataFrame): DataFrame = g
    .select(posexplode(col("g")).as(Seq("idx", "g_q")))
    .filter(col("idx") % D >= expr(s"idx div $D"))
    .select(expr(s"idx div $D").cast("int").as("i"),
      (col("idx") % D).cast("int").as("j"), col("g_q"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gramian_features" -> ((s, d) => gram(s, d)),

    // The SAME Gramian aggregate run as STREAMING STATE: embedding shards
    // arrive as a file stream (AvailableNow micro-batches), the custom
    // typed-imperative aggregate folds each batch into its d²-slot buffer
    // through the state store (Complete mode, global aggregation — state
    // is ONE serialized buffer row, independent of rows streamed), and
    // the final snapshot equals the batch matrix — incremental statistics
    // maintenance through the real engine, with the batch query's oracle.
    // The int64 buffer is what makes the incremental fold exact: merge
    // order across micro-batches cannot drift the result.
    "stream_exec_gramian" -> ((s, d) =>
      unpack(graft.streaming.StreamGate.memory(s, "stream_exec_gramian", "complete") {
        val ga = udaf(graft.expr.VectorGramian, ExpressionEncoder[Array[Long]]())
        Tables.embeddingsStream(s, d)
          .select(quantized.as("eq"))
          .agg(ga(col("eq")).as("g"))
      })),
    "pca_power_component" -> ((s, d) => power(s, d)._1),
    "embed_pca_project" -> ((s, d) => {
      val vf = power(s, d)._2
      eqFlat(s, d)
        .join(broadcast(vf), "i")
        .groupBy("vec_id")
        .agg(sum(col("e") * col("v")).as("proj_q"))
    }),

    // Johnson-Lindenstrauss ±1 random projection, 64 → 16 dims: the cheap
    // sketch an ANN/semdedup pre-filter runs before exact scoring. The
    // sign matrix is DERIVED, not stored — sign(i, j) = a bit of an LCG
    // over (i, j), identical integer arithmetic on both engines — and the
    // whole projection is one nested higher-order expression (transform
    // over output dims × aggregate over input dims) on the quantized
    // elements: zero joins, zero shuffles, whole-stage codegen; at 100 TB
    // this is a pure map over the corpus. Output exact int64.
    "embed_random_projection" -> ((s, d) => {
      // bit 16 of the LCG word (low bits of an LCG are weakly mixed; the
      // plain low-bit parity here would degenerate to parity(i + j))
      val sign = (i: Column, j: Column) =>
        when(((i * 131L + j * 137L) * 1103515245L + 12345L) % 131072L >= 65536L,
          lit(1L)).otherwise(lit(-1L))
      Tables.embeddings(s, d)
        .select(col("vec_id"), quantized.as("eq"))
        .select(col("vec_id"), posexplode(
          transform(sequence(lit(0), lit(RpK - 1)), j =>
            aggregate(sequence(lit(0), lit(D - 1)), lit(0L),
              (acc, i) => acc + element_at(col("eq"), (i + 1).cast("int")) * sign(i, j))))
          .as(Seq("j", "p_q")))
        .select(col("vec_id"), col("j").cast("int").as("j"), col("p_q"))
    })
  )

  /** Shared oracle prelude: quantized elements, the (naive self-join)
    * full symmetric Gramian, and v₀. */
  private def preludeSql: String = s"""
WITH eq AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,10)) * $QScale) AS BIGINT)) AS e
  FROM embeddings
), flat AS (
  SELECT vec_id, CAST(i AS INT) AS i, e[i + 1] AS v
  FROM eq, generate_series(0, ${D - 1}) AS t(i)
), gsym AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS g
  FROM flat a JOIN flat b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS (SELECT CAST(unnest(generate_series(0, ${D - 1})) AS INT) AS i,
       CAST($VScale AS BIGINT) AS v)"""

  /** The supersteps macro-expanded to CTE stages (the Perceptron idiom). */
  private def stepsSql: String = {
    val sb = new StringBuilder
    for (t <- 1 to Steps) {
      sb ++= s""",
u$t AS (
  SELECT g.i, CAST(SUM(g.g * p.v) AS BIGINT) AS u
  FROM gsym g JOIN v${t - 1} p ON g.j = p.i GROUP BY 1
),
m$t AS (SELECT MAX(abs(u)) AS m FROM u$t),
s$t AS (
  SELECT i, u,
    CASE WHEN u < 0 THEN -(((-u) * $VScale) // m) ELSE (u * $VScale) // m END AS v
  FROM u$t, m$t
),
v$t AS (SELECT i, v FROM s$t)"""
    }
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    "gramian_features" -> (preludeSql +
      "\nSELECT i, j, g AS g_q FROM gsym WHERE j >= i"),
    // the streaming fold must land on the identical matrix
    "stream_exec_gramian" -> (preludeSql +
      "\nSELECT i, j, g AS g_q FROM gsym WHERE j >= i"),
    "pca_power_component" -> (preludeSql + stepsSql +
      (1 to Steps).map { t =>
        s"\nSELECT CAST($t AS INT) AS step, i, u, CAST(v AS BIGINT) AS v_q FROM s$t"
      }.mkString("", "\nUNION ALL", "")),
    "embed_pca_project" -> (preludeSql + stepsSql + s"""
SELECT f.vec_id, CAST(SUM(f.v * vv.v) AS BIGINT) AS proj_q
FROM flat f JOIN v$Steps vv ON f.i = vv.i GROUP BY 1"""),
    "embed_random_projection" -> s"""
WITH eq AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,10)) * $QScale) AS BIGINT)) AS e
  FROM embeddings
)
SELECT vec_id, CAST(j AS INT) AS j,
  list_reduce([CAST(0 AS BIGINT)] || list_transform(generate_series(0, ${D - 1}),
    i -> e[i + 1] * (CASE WHEN ((i * 131 + j * 137) * 1103515245 + 12345) % 131072 >= 65536
                          THEN 1 ELSE -1 END)),
    (a, b) -> a + b) AS p_q
FROM eq, generate_series(0, ${RpK - 1}) AS t(j)"""
  )
}
