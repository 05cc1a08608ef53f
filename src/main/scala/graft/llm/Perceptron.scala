package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed supervised-training superstep: the batch perceptron.
  *
  * `kmeans_step` covers the unsupervised training superstep; this is the
  * supervised twin — full-batch updates of a linear classifier over hashed
  * bag-of-words features, in exact integer arithmetic throughout:
  *
  *   margin_d   = Σ_f w_t[f] · x_d[f]                    (int64)
  *   mis_t      = { d : y_d · margin_d ≤ 0 }             (0 counts as wrong,
  *                                                        so step 1 from
  *                                                        w = 0 is total)
  *   w_{t+1}[f] = w_t[f] + Σ_{d ∈ mis_t} y_d · x_d[f]
  *
  * The label is a deterministic corpus property (y = +1 iff lang = 'en'),
  * derived identically on both engines. The classic per-example perceptron
  * is ORDER-DEPENDENT — useless both for distribution (a global example
  * order serializes) and for an oracle (no canonical order exists); the
  * batch variant is a pure aggregate per superstep, which is exactly what
  * makes it distributable and hash-checkable. Each superstep is one
  * aggregation over the sparse (doc, feature) count stream plus a
  * broadcast of the D-row weight dim — the Pregel shape: the corpus is
  * scanned once per step, the model state is D integers, nothing touches
  * the driver (weights flow as a broadcast subplan, not a collect).
  *
  * Output: one row per (step, feature) with the weight before, the batch
  * delta, the weight after, and the step's misclassified-doc count. The
  * oracle macro-expands the same [[Steps]] supersteps.
  */
object Perceptron {

  private val D = 64
  private val P = 2147483647L
  private val Steps = 2

  /** Char-polynomial token code mod P — the same integer fold as
    * `Retrieval`'s hashing-trick featurizer, identical on both engines. */
  private def tokenCode(t: Column): Column =
    aggregate(split(t, ""), lit(0L), (acc, c) => (acc * 131L + ascii(c).cast("long")) % P)
  private def tokenCodeSql(t: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array($t, ''), " +
      s"c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*131 + b) % $P)"

  /** Sparse integer design matrix (doc_id, y, feat, x). */
  private def designMatrix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("feat", (tokenCode(col("tok")) % D).cast("int"))
      .groupBy("doc_id", "y", "feat")
      .agg(count(lit(1)).as("x"))

  def perceptronSteps(s: SparkSession, d: String): DataFrame = {
    // cache the design matrix — every trainer's first move: without it the
    // margin AND delta aggregations of EVERY superstep re-tokenize the
    // corpus through the nested weight subplans (measured 16.6 s at sf1 →
    // 4-ish with the cache). Retired by the next call in this session. The
    // tiny weight dim is localCheckpointed per step so plan depth stays
    // linear in steps, not exponential.
    val xs = designMatrix(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w: DataFrame = s.range(D)
      .select(col("id").cast("int").as("feat"), lit(0L).as("w"))
    val outs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to Steps) {
      val margins = xs.join(broadcast(w), "feat")
        .groupBy("doc_id", "y")
        .agg(sum(col("x") * col("w")).as("margin"))
      val mis = margins.filter(col("y") * col("margin") <= 0)
        .select("doc_id", "y")
      val nMis = mis.agg(count(lit(1)).as("n_mis"))
      val deltas = xs.join(mis, Seq("doc_id", "y"))
        .groupBy("feat")
        .agg(sum(col("y") * col("x")).as("delta"))
      val wNext = w.join(deltas, Seq("feat"), "left")
        .select(col("feat"), col("w").as("w_before"),
          coalesce(col("delta"), lit(0L)).as("delta"),
          (col("w") + coalesce(col("delta"), lit(0L))).as("w_after"))
      outs += wNext.crossJoin(broadcast(nMis))
        .select(lit(t).as("step"), col("feat"), col("w_before"),
          col("delta"), col("w_after"), col("n_mis"))
      w = wNext.select(col("feat"), col("w_after").as("w")).localCheckpoint()
    }
    graft.SessionCache.retire(s, "perceptron_steps", Seq(xs))
    outs.reduce(_ unionByName _)
  }

  /** The same supersteps macro-expanded to CTE stages. */
  val perceptronSql: String = {
    val sb = new StringBuilder
    sb ++= s"""
WITH xs AS (
  SELECT doc_id, y, feat, CAST(count(*) AS BIGINT) AS x FROM (
    SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
           CAST(${tokenCodeSql("tok")} % $D AS INT) AS feat
    FROM (SELECT doc_id, lang, unnest(${Text.tokensSql("text")}) AS tok FROM documents)
  ) GROUP BY 1, 2, 3
),
w0 AS (
  SELECT CAST(unnest(generate_series(0, ${D - 1})) AS INT) AS feat,
         CAST(0 AS BIGINT) AS w
)"""
    for (t <- 1 to Steps) {
      val prev = s"w${t - 1}"
      sb ++= s""",
m$t AS (
  SELECT doc_id, y, CAST(SUM(x * w) AS BIGINT) AS margin
  FROM xs JOIN $prev USING (feat) GROUP BY 1, 2
),
mis$t AS (SELECT doc_id, y FROM m$t WHERE y * margin <= 0),
n$t AS (SELECT CAST(count(*) AS BIGINT) AS n_mis FROM mis$t),
d$t AS (
  SELECT feat, CAST(SUM(y * x) AS BIGINT) AS delta
  FROM xs JOIN mis$t USING (doc_id, y) GROUP BY feat
),
s$t AS (
  SELECT p.feat, p.w AS w_before,
         coalesce(d$t.delta, CAST(0 AS BIGINT)) AS delta,
         p.w + coalesce(d$t.delta, CAST(0 AS BIGINT)) AS w_after
  FROM $prev p LEFT JOIN d$t ON p.feat = d$t.feat
),
w$t AS (SELECT feat, w_after AS w FROM s$t)"""
    }
    sb.toString + (1 to Steps).map { t =>
      s"""
SELECT CAST($t AS INT) AS step, feat, w_before, delta, w_after, n_mis
FROM s$t, n$t"""
    }.mkString("", "\nUNION ALL", "")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "perceptron_steps" -> ((s, d) => perceptronSteps(s, d))
  )

  def oracles: Map[String, String] = Map(
    "perceptron_steps" -> perceptronSql
  )
}
