package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - `ann_topk_cosine`: brute-force exact cosine top-k for a query subset —
  *    the correctness baseline. Dot products are computed with explicit
  *    float→double casts and left-to-right folds so the DuckDB oracle (same
  *    fold, same order) is bit-identical.
  *  - `cosine_neardup`: all-pairs-above-threshold (embedding near-dup
  *    detection); same arithmetic, as a broadcast triangle self-join —
  *    no driver collect.
  *  - `ann_lsh_topk`: the scale path — random-hyperplane LSH bucketing so
  *    each query only scores its bucket. Fully oracled: the seeded planes
  *    are embedded in the DuckDB SQL as literals, so the oracle replicates
  *    bucketing bit-for-bit; recall is additionally ScalaTest-checked
  *    against brute force.
  *
  * Scale posture: brute-force is O(Q·N) — fine for a query subset, the
  * benchmark baseline, and re-ranking; the LSH variant bounds candidate
  * counts per query via signature buckets (more hyperplanes → smaller
  * buckets), which is how this runs over billions of vectors: bucket id is
  * the shuffle key, each bucket scores locally, no all-pairs shuffle.
  */
object Similarity {

  val TopK = 5
  val NearDupThreshold = 0.4

  /** Left-fold dot product with per-element float→double casts — operand
    * order matches [[dotSql]] exactly, via the codegen'd native expression
    * [[graft.expr.DotProductFloat]] (see its doc for why not a UDF or a
    * higher-order function). */
  private[llm] def dot(a: Column, b: Column): Column =
    graft.expr.VectorExpressions.dotF(a, b)

  /** Same fold as [[dotSql]]/dotUdf on primitive arrays (used by the
    * broadcast kernels): ((0 + a0·b0) + a1·b1)… in doubles. */
  private[llm] def dotJvm(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  private[llm] def normJvm(a: Array[Float]): Double = math.sqrt(dotJvm(a, a))

  /** HOF variant for mixed float/double arrays (hyperplane signatures —
    * tiny row counts, codegen cost irrelevant). */
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private[llm] def dotSql(a: String, b: String): String =
    s"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private[llm] def norm(a: Column): Column = sqrt(dot(a, a))
  private[llm] def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Embeddings with precomputed norms (computed once, reused per pair). */
  private[llm] def withNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

  /** Keep the best `k` scored candidates per query via the custom
    * bounded-heap operator (graft.plans.TopKPerGroup) with native rank
    * emission — no per-query sort of the full candidate set, no follow-up
    * window. Same rows/ranks as the pure window formulation under the
    * (cosine DESC, neighbor_id ASC) total order. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKeyRanked(
        scored.select("query_id", "neighbor_id", "cosine"),
        Seq("query_id"), Seq("cosine" -> false, "neighbor_id" -> true), k,
        rankCol = "rank")
      .select("query_id", "neighbor_id", "rank", "cosine")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force exact cosine top-k. CONTRACT: the query side is a BOUNDED
    // SAMPLE (every 50th vector), never the full table — this is the
    // exactness baseline that the ANN paths (ann_partitioned_topk,
    // ann_lsh_topk, ann_ivf_topk) measure recall against, and the 1/50 cap
    // is what keeps the scored-pair count at N²/50 instead of N². The scale
    // paths are the other three queries; widening this sample is a contract
    // change, not a tuning knob.
    // the exact/partitioned frames also feed ann_recall_audit — cache the
    // bounded (Q·k-row) results per (session, dir) as persisted layers
    "ann_topk_cosine" -> ((s, d) => graft.SessionCache.persisted("ann_topk_cosine", s, d) {
      val e = withNorm(s, d)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      val scored = q.crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      rankTopK(scored, TopK)
    }),

    // Mutual nearest neighbors between two disjoint vector pools — the
    // bitext-mining / cross-corpus alignment primitive (a pair survives
    // only when each side is the other's argmax). CONTRACT: both pools
    // are BOUNDED samples (every-50th offsets 0 and 25, the
    // ann_topk_cosine budget) so the scored-pair count is N²/2500; at
    // index scale the candidate set comes from the IVF/LSH buckets
    // instead of a cross join and the mutual check is unchanged. Both
    // argmax passes are bounded-heap TopK(1) over ONE lazily
    // checkpointed scored frame (the cross join runs once, not twice);
    // the mutual filter is an equi-join of two Q-row frames.
    "mutual_nn_pairs" -> ((s, d) => {
      val e = withNorm(s, d)
      val a = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("a_id"), col("embedding").as("ae"), col("nrm").as("an"))
      val b = e.filter(col("vec_id") % 50 === 25)
        .select(col("vec_id").as("b_id"), col("embedding").as("be"), col("nrm").as("bn"))
      val scored = a.crossJoin(b)
        .withColumn("cosine", dot(col("ae"), col("be")) / (col("an") * col("bn")))
        .select("a_id", "b_id", "cosine")
        .localCheckpoint(false)
      val bestB = graft.plans.TopK.perKeyRanked(scored,
          Seq("a_id"), Seq("cosine" -> false, "b_id" -> true), 1, rankCol = "r")
        .select(col("a_id"), col("b_id"), col("cosine"))
      val bestA = graft.plans.TopK.perKeyRanked(scored,
          Seq("b_id"), Seq("cosine" -> false, "a_id" -> true), 1, rankCol = "r")
        .select(col("a_id").as("ba_id"), col("b_id").as("bb_id"))
      bestB.join(bestA,
        col("a_id") === col("ba_id") && col("b_id") === col("bb_id"))
        .select("a_id", "b_id", "cosine")
    }),

    // Label-partitioned exact top-k: the same scoring kernel, but the
    // candidate set is pruned to the query's namespace (label) — the
    // cross join becomes an EQUI-join on the partition key, cutting the
    // scored pairs by the partition count. This is how production vector
    // search scales before ANN even enters: tenant/namespace partitioning
    // of the index, exact within the partition.
    "ann_partitioned_topk" -> ((s, d) => graft.SessionCache.persisted("ann_partitioned_topk", s, d) {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("label"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("label").as("c_label"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      val scored = q.join(c,
          col("label") === col("c_label") && col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      rankTopK(scored, TopK)
    }),

    // Typed-Aggregator UDAF: decimal-exact element-wise centroid per label
    // (see graft.expr.VectorCentroid for the merge-order argument).
    // The centroid vector is unpivoted to (label, dim, x) scalar rows for
    // the compare: the driver's pandas row-sort cannot handle an
    // array-typed cell (round-2 oracle crash).
    "label_centroids" -> ((s, d) => {
      val centroid = udaf(graft.expr.VectorCentroid,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"), centroid(col("embedding")).as("centroid"))
        .select(col("label"), col("n_vectors"), posexplode(col("centroid")).as(Seq("dim0", "x")))
        .select(col("label"), col("n_vectors"), (col("dim0") + 1).as("dim"), col("x"))
    }),

    // Int8 scalar quantization of the embedding column (the compression
    // step before shipping vectors to an ANN index): per-vector scale =
    // max|x|/127, plus reconstruction error of the round-trip. Narrow
    // per-row arithmetic; HOF cost is fine at this table's cardinality.
    "embed_quantize" -> ((s, d) => {
      val x = col("embedding")
      def absd = transform(x, v => abs(v.cast("double")))
      Tables.embeddings(s, d)
        .withColumn("scale", array_max(absd) / lit(127.0))
        .select(
          col("vec_id"), col("scale"),
          array_max(transform(x, v => abs(round(v.cast("double") / col("scale"), 0))))
            .cast("int").as("max_q"),
          (aggregate(
            transform(x, v =>
              abs(v.cast("double") - round(v.cast("double") / col("scale"), 0) * col("scale"))),
            lit(0.0), (a, b) => a + b) / lit(64.0)).as("mean_abs_err"))
    }),

    // Embedding near-duplicate pairs above the cosine threshold — EXACT
    // all-pairs by definition (the exactness baseline; the approximate
    // candidate generators are annLshTopK / SemDeDup). Two physical
    // strategies behind one result contract, picked by a planning-time
    // size gate (Catalyst's file-size statistics — no job is run):
    //  - build side under [[BroadcastBoundBytes]] → broadcast triangle
    //    BNLJ: the norm-augmented table materializes once per executor and
    //    every candidate pair streams through the codegen'd dot kernel and
    //    dies at the threshold filter — no pair materialization, no
    //    driver collect;
    //  - larger → [[nearDupBlocked]]: the B×B block-pair grid shuffle.
    //    No full-table broadcast anywhere, so the query degrades to more
    //    shuffle volume instead of a driver/executor OOM at the broadcast
    //    hint (an explicit broadcast() bypasses
    //    autoBroadcastJoinThreshold — ADVICE r6).
    // An EXACT-COLLAPSE tier runs first (the [[graft.llm.TextDedup]]
    // pattern, on vectors): byte-identical embeddings (array-equality
    // groupBy — no hashing, no collision risk) form one group, the
    // quadratic scan runs on one representative per group, and pairs
    // expand back (cross-group pairs inherit the reps' cosine — the
    // arrays are identical; within-group pairs score the rep against
    // itself with the same kernel). Still the exact result; a corpus
    // duplication rate r shrinks the N² scan (1+r)².
    // Scale ladder at 100 TB stays as before: namespace partitioning →
    // LSH candidates → block grid when exactness must hold.
    "cosine_neardup" -> ((s, d) => nearDupCollapsed(Tables.embeddings(s, d)))
  )

  /** Exact all-pairs cosine near-dup over the exact-collapse tier — see
    * the `cosine_neardup` entry comment. Input needs (vec_id, embedding). */
  private[llm] def nearDupCollapsed(emb: DataFrame): DataFrame = {
    val reps = emb.groupBy("embedding")
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("gsz"))
      .localCheckpoint()
    // (rep_id, vec_id) membership with the heavy array column dropped
    // early; feeds three plan branches
    val m = emb.select(col("embedding"), col("vec_id"))
      .join(reps.select(col("embedding"), col("vec_id").as("rep_id")), Seq("embedding"))
      .select(col("rep_id"), col("vec_id"))
      .localCheckpoint()
    val e = reps.select(
      col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val bytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
    val repPairs =
      if (bytes <= BroadcastBoundBytes) nearDupBroadcast(e) else nearDupBlocked(e)
    val cross = repPairs
      .join(m.select(col("rep_id").as("id_a"), col("vec_id").as("a")), "id_a")
      .join(m.select(col("rep_id").as("id_b"), col("vec_id").as("b")), "id_b")
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("cosine"))
    val selfCos = reps.filter(col("gsz") >= 2)
      .select(col("vec_id").as("rep_id"),
        (dot(col("embedding"), col("embedding"))
          / (norm(col("embedding")) * norm(col("embedding")))).as("cosine"))
      .filter(col("cosine") >= NearDupThreshold)
    val dupMembers = m.join(selfCos, "rep_id")
    val within = dupMembers.select(col("rep_id"), col("vec_id").as("id_a"), col("cosine"))
      .join(dupMembers.select(col("rep_id"), col("vec_id").as("id_b")), "rep_id")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "cosine")
    cross.unionByName(within)
  }

  /** Hard bound on the broadcast build side for the exact near-dup join:
    * past this the blocked path is both safer (no OOM cliff) and faster
    * (per-executor build cost stops scaling with N). 32 MB ≈ 120k 64-dim
    * float vectors with norms.
    */
  val BroadcastBoundBytes: BigInt = BigInt(32L << 20)

  /** Rows per block in the grid fallback — sized so a block pair
    * (2 · blockRows vectors) fits comfortably in a task's memory and each
    * grid cell is meaningful work (~4k² = 16M scored pairs per cell).
    */
  val DefaultBlockRows = 4096L

  private[graft] def nearDupBroadcast(e: DataFrame): DataFrame = {
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= NearDupThreshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact all-pairs without any full-table broadcast: both sides are keyed
    * by block id ⌊vec_id / blockRows⌋; each a-row is replicated to every
    * target block bj ≥ its own (explode of a block-id sequence, bounded by
    * a broadcast 1-row max — the triangle grid, flattened into the plan
    * with no non-equi join anywhere), then a single EQUI-join on the
    * target block routes every (bi ≤ bj) block pair to one reducer, where
    * the join's per-key cross product enumerates the block-local pairs
    * through the same codegen'd kernel. Total scored pairs is the same
    * N²/2 the exactness contract demands; the difference is the N·G/2
    * row shuffle replaces the N-vectors-per-executor broadcast, so task
    * memory is bounded by ~2·blockRows vectors regardless of N. (At
    * genuinely huge N the replication factor G grows linearly — by then
    * exact all-pairs is off the table and the LSH/SemDeDup rungs of the
    * ladder apply.)
    */
  private[graft] def nearDupBlocked(
      e: DataFrame, blockRows: Long = DefaultBlockRows): DataFrame = {
    val blk = (v: Column) => floor(v / lit(blockRows)).cast("long")
    val maxBlk = e.agg(max(blk(col("vec_id"))).as("max_blk"))
    val a = e.select(blk(col("vec_id")).as("blk_a"),
      col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
      .crossJoin(broadcast(maxBlk))
      .withColumn("blk_b", explode(sequence(col("blk_a"), col("max_blk"))))
    val b = e.select(blk(col("vec_id")).as("blk_b"),
      col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, "blk_b")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= NearDupThreshold)
      .select("id_a", "id_b", "cosine")
  }

  def oracles: Map[String, String] = Map(
    "ann_topk_cosine" -> s"""
WITH e AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
  FROM e q JOIN e c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= $TopK""",

    "mutual_nn_pairs" -> s"""
WITH e AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
),
scored AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
  FROM e a JOIN e b ON a.vec_id % 50 = 0 AND b.vec_id % 50 = 25
),
ranked AS (
  SELECT a_id, b_id, cosine,
    row_number() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS ra,
    row_number() OVER (PARTITION BY b_id ORDER BY cosine DESC, a_id) AS rb
  FROM scored
)
SELECT a_id, b_id, cosine FROM ranked WHERE ra = 1 AND rb = 1""",

    "ann_partitioned_topk" -> s"""
WITH e AS (
  SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
  FROM e q JOIN e c
    ON q.vec_id % 50 = 0 AND q.label = c.label AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= $TopK""",

    "label_centroids" -> """
WITH flat AS (
  -- float -> shortest-repr string -> decimal: DuckDB's direct
  -- FLOAT->DECIMAL cast multiplies in float32 precision (lossy); the
  -- VARCHAR hop matches Java Float.toString + HALF_UP exactly
  SELECT label, i, CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(27,10)) AS x
  FROM embeddings, generate_series(1, 64) AS t(i)
)
SELECT label,
  COUNT(*) AS n_vectors,
  CAST(i AS INT) AS dim,
  CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS x
FROM flat GROUP BY label, i""",

    "embed_quantize" -> """
WITH m AS (
  SELECT vec_id,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / CAST(127.0 AS DOUBLE) AS scale
  FROM embeddings
)
SELECT e.vec_id, m.scale,
  CAST(list_max(list_transform(e.embedding, x -> abs(round(CAST(x AS DOUBLE) / m.scale)))) AS INT) AS max_q,
  list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(e.embedding,
    x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / m.scale) * m.scale)), (a, b) -> a + b)
    / CAST(64.0 AS DOUBLE) AS mean_abs_err
FROM embeddings e JOIN m ON e.vec_id = m.vec_id""",

    "cosine_neardup" -> s"""
WITH e AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupThreshold"""
  )

  // ---- LSH ANN (scale path; rows-only + ScalaTest recall check) ----------

  /** Bucket-count knob: 2^NumPlanes buckets. Sized so buckets hold a few
    * dozen vectors at the test scale; at billions of vectors this scales up
    * (more planes → smaller buckets) and/or multi-probes neighboring
    * signatures for recall. */
  private val NumPlanes = 4

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  private[llm] val planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(NumPlanes)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** Sign-bit signature: bit j set iff plane_j · v >= 0. */
  def signature(v: Column): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeLit = array(p.map(lit): _*)
      when(dotHof(v, planeLit) >= 0, shiftleft(lit(1), j)).otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))

  /** The hyperplane as a DuckDB list literal — Scala's Double.toString is
    * shortest-round-trip, so the oracle parses back the identical bits. */
  private def planeLitSql(p: Seq[Double]): String =
    p.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")

  /** Signature in DuckDB: same left-fold as [[signature]]'s dotHof (double
    * cast per element, index order, 0.0 seed), same >= 0 sign test, same
    * bit weights — the planes are seeded constants, so the whole bucketing
    * is replicable as SQL literals and `ann_lsh_topk` gets a FULL oracle,
    * not a rows-only check. */
  private def sigSql(v: String): String =
    planes.zipWithIndex.map { case (p, j) =>
      val dotp = s"list_reduce([CAST(0.0 AS DOUBLE)] || " +
        s"list_transform(generate_series(1, 64), i -> CAST($v[i] AS DOUBLE) * (${planeLitSql(p)})[i]), " +
        "(x, y) -> x + y)"
      s"(CASE WHEN $dotp >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Bucketed approximate top-k: queries only score candidates sharing
    * their signature bucket. */
  def annLshTopK(s: SparkSession, d: String, k: Int = TopK): DataFrame = {
    val e = withNorm(s, d).withColumn("sig", signature(col("embedding")))
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("sig"), col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("sig"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val scored = q.join(c, "sig")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  def lshQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_lsh_topk" -> ((s, d) => graft.SessionCache.persisted("ann_lsh_topk", s, d)(annLshTopK(s, d)))
  )

  def lshOracles: Map[String, String] = Map(
    "ann_lsh_topk" -> s"""
WITH e AS (
  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
    ${sigSql("embedding")} AS sig
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
  FROM e q JOIN e c
    ON q.vec_id % 50 = 0 AND q.sig = c.sig AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= $TopK"""
  )
}
