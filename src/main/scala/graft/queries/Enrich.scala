package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expr.Exact

/** Enrichment / applied-analytics operators: Markov transition census, CDC
  * changelog apply, RFM behavioral segmentation, grid-bucketed spatial
  * self-join, exact largest-remainder allocation, systematic PPS sampling,
  * and URL component extraction.
  *
  * Exactness: every float that reaches an oracle hash is either a single
  * division of integer aggregates (transition probabilities), an exact
  * decimal sum ([[Exact.dsum]] — RFM monetary), or +/−/×/÷/sqrt chains
  * over hash-derived integers (spatial distance) — all IEEE
  * correctly-rounded, so bit-identical across engines. No `round()` on
  * doubles anywhere (Spark rounds the SHORTEST-DECIMAL repr via
  * BigDecimal, C engines round the binary value — they can disagree at
  * .5 boundaries); integer cents come from `floor()`, which both engines
  * define identically on the binary double.
  *
  * Scale shapes:
  *  - transition_matrix: one (user) shuffle + ordered window, then a
  *    25-cell aggregate — the per-key timeline pattern every funnel op
  *    here uses.
  *  - cdc_apply: one shuffle on the merge key, row_number desc, rn=1 —
  *    the standard distributed changelog-compaction plan (same shape
  *    Delta/Hudi merge-on-read compaction lowers to).
  *  - geo_grid_join: radius self-join WITHOUT a cross join — constant
  *    9× probe-side replication onto R-sized grid cells, equi-join on
  *    cell id, then the exact distance filter. Skew is bounded by cell
  *    occupancy (points per R×R cell), not dataset size.
  *  - allocate_largest_remainder: joins fact→parent on the natural
  *    co-partition key (orderkey) and runs two bounded windows inside
  *    each order — no global state.
  *  - pps_systematic_sample: the global weighted cumsum is the textbook
  *    scalable two-phase prefix (per-bucket partials + tiny prefix dim
  *    broadcast back), NOT a single-partition window; the oracle uses the
  *    naive global window as an independent formulation.
  */
object Enrich {

  // ------------------------------------------------- transition_matrix --

  /** First-order Markov transition census over each user's event
    * timeline: counts and row-normalized probabilities of event_type →
    * next event_type. */
  def transitionMatrix(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val rowTotal = Window.partitionBy("from_type")
    pairs.withColumn("p",
      col("n").cast("double") / sum(col("n")).over(rowTotal).cast("double"))
  }

  /** Stationary distribution of the event-type Markov chain: six
    * fixed-point power-iteration steps x ← xP over the transition counts
    * behind [[transitionMatrix]], entirely in SCALED BIGINT arithmetic
    * (xv·c div r per edge — no floats until the final readout, so both
    * engines truncate identically). The chain state is BOUNDED by the
    * event-type domain: after the one per-user window + grouped count
    * over the corpus (the only scalable work), every iteration is a join
    * of a |types|-row vector against a |types|²-row matrix — the matrix
    * is lazily checkpointed once and each superstep is broadcast-sized.
    * Scale for the integer products: xv ≤ 10⁹ and c ≤ corpus rows, so
    * xv·c stays under 2⁶³ through ~10⁹-row transition cells. Mass
    * routed to types with no outgoing edges leaves the domain (dropped
    * by the inner join) — deterministic and mirrored in the oracle. */
  def markovStationary(s: SparkSession, d: String): DataFrame = {
    val Iters = 6
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("c"))
    val withR = trans
      .withColumn("r", sum("c").over(Window.partitionBy("from_type")))
      .localCheckpoint(false) // |types|² rows; leafs the corpus scan once
    val types = withR.select(col("from_type").as("event_type")).distinct()
    val x0 = types
      .crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
      .select(col("event_type"), expr("1000000000L div k").as("xv"))
    val xFinal = (1 to Iters).foldLeft(x0) { (x, _) =>
      x.join(withR, col("event_type") === col("from_type"))
        .select(col("to_type"), expr("(xv * c) div r").as("m"))
        .groupBy("to_type").agg(sum("m").as("xv"))
        .select(col("to_type").as("event_type"), col("xv"))
    }
    xFinal.select(col("event_type"), col("xv").as("stationary_scaled"),
      (col("xv").cast("double") / lit(1.0e9)).as("stationary"))
  }

  val markovSql: String = {
    val iters = (1 to 6).map { i =>
      s"x$i AS (SELECT t.to_type AS event_type, CAST(sum((x.xv * t.c) // t.r) AS BIGINT) AS xv FROM x${i - 1} x JOIN trr t ON x.event_type = t.from_type GROUP BY 1)"
    }.mkString(",\n")
    s"""
WITH seq AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), tr AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
), trr AS (
  SELECT from_type, to_type, c,
    CAST(sum(c) OVER (PARTITION BY from_type) AS BIGINT) AS r
  FROM tr
), x0 AS (
  SELECT from_type AS event_type,
    CAST(1000000000 // (SELECT count(DISTINCT from_type) FROM trr) AS BIGINT) AS xv
  FROM (SELECT DISTINCT from_type FROM trr)
),
$iters
SELECT event_type, xv AS stationary_scaled,
  CAST(xv AS DOUBLE) / 1000000000.0 AS stationary FROM x6"""
  }

  /** Top-20 3-step event paths (the path-mining / Sankey feed next to the
    * 1-step [[transitionMatrix]]): per-user ordered windows emit each
    * consecutive event-type triple, one grouped count per path plus an
    * exact distinct-user count, and the top slice is a physical
    * TakeOrderedAndProject under the deterministic (count DESC, users
    * DESC, path) total order — never a global sort of all paths. Scale:
    * the window partitions by user (no global ordering), the path
    * domain is at most |types|³ after the first map-side combine. */
  def eventPathsTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"),
        col("user_id"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_paths"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("n_users").desc, col("path"))
      .limit(20)
  }

  val eventPathsSql: String = """
WITH seq AS (
  SELECT user_id, event_type AS t1,
    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM events
)
SELECT t1 || '>' || t2 || '>' || t3 AS path,
  CAST(count(*) AS BIGINT) AS n_paths,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, n_users DESC, path
LIMIT 20"""

  val transitionSql: String = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
  CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE) AS p
FROM pairs"""

  // -------------------------------------------------------- cdc_apply --

  /** Changelog-apply (CDC compaction): interpret the event stream as a
    * keyed upsert/delete log — `error` events are deletes, everything
    * else upserts `value` — and materialize the final state: last
    * writer wins per user (ordered by ts, event_id), deleted keys
    * dropped. */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("value").as("last_value"),
        col("ts").as("last_ts"), col("event_type").as("last_event_type"),
        col("n_ops"))
  }

  val cdcSql: String = """
WITH log AS (
  SELECT user_id, ts, event_id, event_type, value,
    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
  FROM events
)
SELECT user_id, value AS last_value, ts AS last_ts, event_type AS last_event_type, n_ops
FROM log WHERE rn = 1 AND op = 'U'"""

  // ----------------------------------------------------- rfm_segments --

  /** RFM segmentation over purchase events: per-user Recency (days since
    * last purchase, against the corpus max timestamp — deterministic, no
    * wall clock), Frequency (purchase count) and Monetary (exact decimal
    * sum of value), each cut into quintiles with a total order
    * (user_id tie-break) so ntile is deterministic on both engines.
    * The concatenated `segment` code is the classic RFM cell label.
    *
    * Scale: the quintile cuts run on the USER dim (one row per user), but
    * at billions of users even that dim must not serialize through one
    * task, so each cut is the DISTRIBUTED exact ntile
    * ([[graft.operators.Ranks.globalNtile]] — range-sort rank + broadcast
    * count + the standard bucket arithmetic), joined back on user_id.
    * The per-user base is checkpointed so the events aggregate runs once,
    * not once per cut. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
    val perUser = purchases.groupBy("user_id").agg(
      max(col("ts")).as("last_purchase_ts"),
      count(lit(1)).as("frequency"),
      Exact.dsum(col("value")).as("monetary"))
    val corpusMax = purchases.agg(max(col("ts")).as("corpus_max_ts"))
    val base = perUser.crossJoin(broadcast(corpusMax))
      .withColumn("recency_days",
        expr("(unix_micros(corpus_max_ts) - unix_micros(last_purchase_ts)) div 86400000000"))
      .select("user_id", "recency_days", "frequency", "monetary")
      .localCheckpoint()
    val rs = graft.operators.Ranks.globalNtile(
        base.select("user_id", "recency_days"),
        Seq(col("recency_days"), col("user_id")), 5, "r_score")
      .select("user_id", "r_score")
    val fs = graft.operators.Ranks.globalNtile(
        base.select("user_id", "frequency"),
        Seq(col("frequency").desc, col("user_id")), 5, "f_score")
      .select("user_id", "f_score")
    val ms = graft.operators.Ranks.globalNtile(
        base.select("user_id", "monetary"),
        Seq(col("monetary").desc, col("user_id")), 5, "m_score")
      .select("user_id", "m_score")
    base.join(rs, "user_id").join(fs, "user_id").join(ms, "user_id")
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
  }

  val rfmSql: String = s"""
WITH per_user AS (
  SELECT user_id, max(ts) AS last_purchase_ts,
         CAST(count(*) AS BIGINT) AS frequency,
         ${Exact.dsumSql("value")} AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), scored AS (
  SELECT user_id,
    (epoch_us((SELECT max(ts) FROM events WHERE event_type = 'purchase')) - epoch_us(last_purchase_ts)) // 86400000000 AS recency_days,
    frequency, monetary
  FROM per_user
)
SELECT user_id, recency_days, frequency, monetary,
  CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS INTEGER) AS r_score,
  CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_score,
  CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS INTEGER) AS m_score,
  CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS VARCHAR)
    || CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS VARCHAR)
    || CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS VARCHAR) AS segment
FROM scored"""

  // --------------------------------------------------- geo_grid_join --

  /** Synthetic planar coordinates per customer: hash-derived METER
    * positions on a 1000×1000 km plane (integer arithmetic, so both
    * engines derive identical points), from which km doubles are a single
    * exact division.
    *
    * The hash is an LCG with XOR-SHIFT TEMPERING between rounds — a plain
    * LCG puts every pairwise (Δx, Δy) on a 1-dimensional lattice (both
    * deltas are multiples of the same Δkey), and at this density the
    * lattice has NO point inside the 5 km disc, so the join would be
    * vacuously empty. The xor rounds break the linearity (measured: 108
    * qualifying pairs at 1 500 points, matching the Poisson estimate).
    * Everything stays < 2^62, so no BIGINT overflow on either engine. */
  private val RadiusKm = 5.0
  private val CellMeters = 5000L // = radius, so neighbors span ±1 cell

  private def ptsFrame(s: SparkSession, d: String): DataFrame = {
    val M = 2147483648L // 2^31
    Tables.customer(s, d)
      .select(col("c_custkey").as("key"),
        ((col("c_custkey") * lit(1103515245L) + lit(12345L)) % lit(M)).as("h0"))
      .withColumn("h1", col("h0").bitwiseXOR(expr("h0 div 65536")))
      .withColumn("h2", (col("h1") * lit(69069L) + lit(1L)) % lit(M))
      .withColumn("h3", col("h2").bitwiseXOR(expr("h2 div 2048")))
      .withColumn("h4", (col("h3") * lit(1103515245L) + lit(12345L)) % lit(M))
      .withColumn("h5", col("h4").bitwiseXOR(expr("h4 div 65536")))
      .select(col("key"),
        (col("h3") % lit(1000000L)).as("xm"),
        (col("h5") % lit(1000000L)).as("ym"))
      .withColumn("cx", expr(s"xm div $CellMeters"))
      .withColumn("cy", expr(s"ym div $CellMeters"))
  }

  /** All customer pairs within [[RadiusKm]], via the grid-bucket
    * neighbor join (see object doc): explode each point into its 3×3
    * neighbor cells, equi-join on cell id, exact distance filter,
    * `key_a < key_b` canonicalization so each pair appears once. */
  def geoGridJoin(s: SparkSession, d: String): DataFrame = {
    val pts = ptsFrame(s, d)
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val a = pts.select(col("key").as("key_a"), col("xm").as("xa"), col("ym").as("ya"),
        col("cx"), col("cy"))
      .withColumn("o", explode(array(offsets: _*)))
      .select(col("key_a"), col("xa"), col("ya"),
        (col("cx") + col("o.dx")).as("ncx"), (col("cy") + col("o.dy")).as("ncy"))
    val b = pts.select(col("key").as("key_b"), col("xm").as("xb"), col("ym").as("yb"),
      col("cx").as("cxb"), col("cy").as("cyb"))
    val dxKm = col("xa").cast("double") / lit(1000.0) - col("xb").cast("double") / lit(1000.0)
    val dyKm = col("ya").cast("double") / lit(1000.0) - col("yb").cast("double") / lit(1000.0)
    a.join(b, col("ncx") === col("cxb") && col("ncy") === col("cyb") &&
        col("key_a") < col("key_b"))
      .withColumn("dist2", dxKm * dxKm + dyKm * dyKm)
      .filter(col("dist2") <= lit(RadiusKm * RadiusKm))
      .select(col("key_a"), col("key_b"), sqrt(col("dist2")).as("dist_km"))
  }

  val geoSql: String = s"""
WITH h0s AS (
  SELECT c_custkey AS key, (c_custkey * 1103515245 + 12345) % 2147483648 AS h0 FROM customer
), h3s AS (
  SELECT key, xor(h2, h2 // 2048) AS h3 FROM (
    SELECT key, (xor(h0, h0 // 65536) * 69069 + 1) % 2147483648 AS h2 FROM h0s)
), pts AS (
  SELECT key, h3 % 1000000 AS xm, xor(h4, h4 // 65536) % 1000000 AS ym FROM (
    SELECT key, h3, (h3 * 1103515245 + 12345) % 2147483648 AS h4 FROM h3s)
), cells AS (
  SELECT key, xm, ym, xm // $CellMeters AS cx, ym // $CellMeters AS cy FROM pts
), a AS (
  SELECT key AS key_a, xm AS xa, ym AS ya, cx + o.dx AS ncx, cy + o.dy AS ncy
  FROM cells, (SELECT unnest([${(for (dx <- -1 to 1; dy <- -1 to 1) yield s"{'dx': $dx, 'dy': $dy}").mkString(", ")}]) AS o)
), joined AS (
  SELECT key_a, key_b,
    (CAST(xa AS DOUBLE)/1000.0 - CAST(xb AS DOUBLE)/1000.0) AS dx,
    (CAST(ya AS DOUBLE)/1000.0 - CAST(yb AS DOUBLE)/1000.0) AS dy
  FROM a JOIN (SELECT key AS key_b, xm AS xb, ym AS yb, cx AS cxb, cy AS cyb FROM cells) b
    ON a.ncx = b.cxb AND a.ncy = b.cyb AND a.key_a < b.key_b
)
SELECT key_a, key_b, sqrt(dx*dx + dy*dy) AS dist_km
FROM joined WHERE dx*dx + dy*dy <= ${RadiusKm * RadiusKm}"""

  // ------------------------------------- allocate_largest_remainder --

  /** Exact largest-remainder allocation: split each order's total cents
    * across its lineitems proportionally to extended price, in integer
    * cents, so per-order allocations sum EXACTLY to the order total (the
    * invariant the spec asserts). floor(), integer division and integer
    * remainders only — no float rounding anywhere. */
  def allocateLargestRemainder(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_extendedprice") * lit(100)).cast("long").as("w"))
    val ord = Tables.orders(s, d).select(
      col("o_orderkey"),
      floor(col("o_totalprice") * lit(100)).cast("long").as("total_cents"))
    val byOrder = Window.partitionBy("l_orderkey")
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("order_w", sum(col("w")).over(byOrder))
      .withColumn("base", expr("(total_cents * w) div order_w"))
      .withColumn("rem", expr("(total_cents * w) % order_w"))
      .withColumn("leftover", col("total_cents") - sum(col("base")).over(byOrder))
      .withColumn("rnk", row_number().over(
        byOrder.orderBy(col("rem").desc, col("l_linenumber"))))
    joined.select(col("l_orderkey"), col("l_linenumber"), col("w").as("w_cents"),
      col("total_cents"),
      (col("base") + when(col("rnk") <= col("leftover"), 1L).otherwise(0L))
        .as("alloc_cents"))
  }

  val allocateSql: String = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS w
  FROM lineitem
), ord AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders
), j AS (
  SELECT l_orderkey, l_linenumber, w, total_cents,
    CAST(sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_w
  FROM li JOIN ord ON l_orderkey = o_orderkey
), alloc AS (
  SELECT *, (total_cents * w) // order_w AS base, (total_cents * w) % order_w AS rem
  FROM j
), ranked AS (
  SELECT *,
    total_cents - CAST(sum(base) OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover,
    row_number() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rnk
  FROM alloc
)
SELECT l_orderkey, l_linenumber, w AS w_cents, total_cents,
       base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc_cents
FROM ranked"""

  // --------------------------------------- pps_systematic_sample -------

  private val SampleK = 25L

  /** Systematic probability-proportional-to-size sampling over documents
    * weighted by n_chars: lay K evenly-spaced thresholds over the weighted
    * cumulative axis and emit each document hit, with its hit count (a
    * heavy doc can be picked more than once — correct PPS semantics).
    * The cumulative sum is the scalable two-phase prefix: per-bucket
    * partial sums + a tiny bucket-prefix dim broadcast back, never a
    * single-partition global window. All arithmetic is integer; the
    * truncating `div` both engines share is kept on positive numerators
    * by a +step shift. */
  def ppsSystematicSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("bucket", expr("doc_id div 64"))
    val bucketTotals = docs.groupBy("bucket").agg(sum(col("w")).as("bw"))
    val prefix = bucketTotals
      .withColumn("bucket_prefix",
        coalesce(sum(col("bw")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("bucket_prefix"))
    val total = docs.agg(sum(col("w")).as("total_w"))
    val withCum = docs
      .join(broadcast(prefix), Seq("bucket"))
      .withColumn("cum_in_bucket", sum(col("w")).over(
        Window.partitionBy("bucket").orderBy("doc_id")))
      .withColumn("cum", col("bucket_prefix") + col("cum_in_bucket"))
      .crossJoin(broadcast(total))
      .withColumn("step", expr(s"total_w div $SampleK"))
      .withColumn("off", expr("step div 2"))
    // Threshold index clamped at SampleK on both engines: without the
    // clamp, whenever total_w % K > step/2 an extra (K+1)-th threshold
    // off + K*step still lands inside the weighted axis and the sample
    // emits K+1 picks — the clamp makes the sample size exactly K for
    // ANY weight distribution, not just the current data.
    withCum
      .withColumn("n_picks",
        expr(s"least((cum - 1 - off + step) div step, ${SampleK}L) - " +
          s"least((cum - w - 1 - off + step) div step, ${SampleK}L)"))
      .filter(col("n_picks") > 0)
      .select(col("doc_id"), col("w"), col("cum"), col("n_picks"))
  }

  // ---------------------------------------------- priority_sample -------

  private val PrioK = 256

  /** Priority sampling (Duffield–Lund–Thorup) — THE production primitive
    * for estimating subset sums from a fixed-size weighted sample: each
    * row gets priority q = w/u for a per-key uniform u, the top-K by
    * priority are kept, and Σ max(w, τ) over the sample — τ the (K+1)-th
    * priority — is an (near-)unbiased estimator of Σw with variance
    * optimal among K-sample schemes. u derives from the shared LCG+xor
    * integer mix (the rendezvous_shards idiom) so both engines draw the
    * identical "randomness"; the two top-K's are map-side bounded heaps
    * (TakeOrdered — never a global sort); τ is integerized (ceil, cents)
    * so the estimate is an order-independent BIGINT sum, not a
    * fold-order-dependent double. Output: one audit row — sample size, τ,
    * the estimate, the true total (the self-check), and the relative
    * error. */
  def prioritySample(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("w"))
      // key masked BEFORE the LCG multiply: k * 1103515245 silently wraps
      // int64 in non-ANSI Spark but raises an overflow error in the DuckDB
      // oracle once keys exceed ~8.4e9 (very large SFs) — masking keeps
      // both engines in-range at any scale, and is a no-op at every
      // tested SF (o_orderkey < 2^31 there) (ADVICE r13)
      .withColumn("h0", expr("((k % 2147483647) * 1103515245 + 12345) % 2147483647"))
      .withColumn("h", expr("((h0 ^ (h0 div 65536)) * 69069 + 1) % 2147483648"))
      .withColumn("q", col("w").cast("double")
        / ((col("h") + 1).cast("double") / lit(2147483648.0)))
    val topK = scored.orderBy(col("q").desc, col("k")).limit(PrioK)
    val tau = scored.orderBy(col("q").desc, col("k")).limit(PrioK + 1)
      .agg(ceil(min(col("q"))).cast("long").as("tau"))
    val truth = scored.agg(sum(col("w")).as("true_total"))
    topK.crossJoin(broadcast(tau))
      .agg(max(col("tau")).as("tau"),
        count(lit(1)).as("n_sampled"),
        sum(greatest(col("w"), col("tau"))).as("est_total"))
      .crossJoin(broadcast(truth))
      .select(col("n_sampled"), col("tau"), col("est_total"), col("true_total"),
        ((col("est_total") - col("true_total")).cast("double")
          / col("true_total").cast("double")).as("rel_err"))
  }

  val prioritySampleSql: String = s"""
WITH scored AS (
  SELECT o_orderkey AS k,
    CAST(round(o_totalprice * 100) AS BIGINT) AS w,
    (xor(((o_orderkey % 2147483647) * 1103515245 + 12345) % 2147483647,
         (((o_orderkey % 2147483647) * 1103515245 + 12345) % 2147483647) // 65536)
     * 69069 + 1) % 2147483648 AS h
  FROM orders
), q AS (
  SELECT k, w,
    CAST(w AS DOUBLE) / (CAST(h + 1 AS DOUBLE) / 2147483648.0) AS q
  FROM scored
), tau AS (
  SELECT CAST(ceil(min(q)) AS BIGINT) AS tau
  FROM (SELECT q FROM q ORDER BY q DESC, k LIMIT ${PrioK + 1})
), topk AS (
  SELECT * FROM q ORDER BY q DESC, k LIMIT $PrioK
), truth AS (
  SELECT CAST(sum(w) AS BIGINT) AS true_total FROM q
)
SELECT CAST(count(*) AS BIGINT) AS n_sampled,
  (SELECT tau FROM tau) AS tau,
  CAST(sum(greatest(w, (SELECT tau FROM tau))) AS BIGINT) AS est_total,
  (SELECT true_total FROM truth) AS true_total,
  CAST(sum(greatest(w, (SELECT tau FROM tau)))
         - (SELECT true_total FROM truth) AS DOUBLE)
    / CAST((SELECT true_total FROM truth) AS DOUBLE) AS rel_err
FROM topk"""

  val ppsSql: String = s"""
WITH cums AS (
  SELECT doc_id, n_chars AS w,
    CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
    CAST(sum(n_chars) OVER () AS BIGINT) AS total_w
  FROM documents
), params AS (
  SELECT *, total_w // $SampleK AS step, (total_w // $SampleK) // 2 AS off FROM cums
)
SELECT doc_id, w, cum,
  least((cum - 1 - off + step) // step, $SampleK) -
  least((cum - w - 1 - off + step) // step, $SampleK) AS n_picks
FROM params
WHERE least((cum - 1 - off + step) // step, $SampleK) -
      least((cum - w - 1 - off + step) // step, $SampleK) > 0"""

  // ------------------------------------------------------- url_parse --

  /** URL synthesis + component extraction: build a canonical URL per
    * event, then pull host / path / query / named query param back out
    * with the native `parse_url` (codegen'd). The oracle re-extracts the
    * same components with anchored regexes — an independent formulation
    * of RFC URL structure. */
  def urlParse(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("url", concat(
        lit("https://shard"), (col("user_id") % 4).cast("string"),
        lit(".example.com/"), col("event_type"), lit("/"),
        col("event_id").cast("string"),
        lit("?k="), col("k").cast("string"), lit("&u="), col("user_id").cast("string")))
    ev.select(
      col("event_id"), col("url"),
      parse_url(col("url"), lit("HOST")).as("host"),
      parse_url(col("url"), lit("PATH")).as("path"),
      parse_url(col("url"), lit("QUERY")).as("query"),
      parse_url(col("url"), lit("QUERY"), lit("k")).as("k_val"),
      parse_url(col("url"), lit("QUERY"), lit("u")).as("u_val"))
  }

  val urlSql: String = """
WITH u AS (
  SELECT event_id,
    'https://shard' || CAST(user_id % 4 AS VARCHAR) || '.example.com/' || event_type
      || '/' || CAST(event_id AS VARCHAR) || '?k='
      || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
      || '&u=' || CAST(user_id AS VARCHAR) AS url
  FROM events
)
SELECT event_id, url,
  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
  regexp_extract(url, '\?([^#]*)', 1) AS query,
  regexp_extract(url, '[?&]k=([^&#]*)', 1) AS k_val,
  regexp_extract(url, '[?&]u=([^&#]*)', 1) AS u_val
FROM u"""

  // ----------------------------------------------- url_prefix_policy --

  /** Longest-prefix-match policy join — the robots.txt / crawl-policy /
    * routing-table shape: every URL path is checked against a rule table
    * of path prefixes and the MOST SPECIFIC (longest) matching rule wins,
    * so "/click/100 deny" carves an exception out of "/click allow" which
    * itself overrides the root default "/ deny". The 100 TB shape: each
    * path explodes into its SEGMENT prefixes — fan-out bounded by URL
    * depth (3 here), never by data — the rule dim broadcasts (policy
    * tables are small by nature), and one `max_by` aggregation per URL
    * picks the longest match. No shuffle beyond the per-URL aggregation;
    * prefix lengths within one path are strictly nested, so the argmax is
    * tie-free and deterministic on both engines. */
  val PolicyRules: Seq[(String, String, Long)] = Seq(
    ("/", "deny", 0L),            // default-deny root
    ("/click", "allow", 1L),
    ("/view", "allow", 2L),
    ("/purchase", "allow", 3L),
    ("/view/100", "deny", 4L),    // most-specific carve-out (event 100 is
                                  // a view at every driver SF)
    ("/click/100", "deny", 5L),   // carve-out exercised by the planted spec
    ("/checkout", "allow", 6L))   // never matches — dead rules are legal
  def urlPrefixPolicy(s: SparkSession, d: String): DataFrame = {
    val s0 = s
    import s0.implicits._
    val rules = PolicyRules.toDF("prefix", "action", "rule_id")
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"))
      .withColumn("path",
        concat(lit("/"), col("event_type"), lit("/"), col("event_id").cast("string")))
    ev.select(col("event_id"), col("path"),
        explode(array(lit("/"), concat(lit("/"), col("event_type")), col("path")))
          .as("prefix"))
      .join(broadcast(rules), "prefix")
      .groupBy("event_id", "path")
      .agg(
        expr("max_by(rule_id, length(prefix))").as("rule_id"),
        expr("max_by(action, length(prefix))").as("action"),
        max(length(col("prefix"))).as("matched_len"))
  }

  val urlPrefixPolicySql: String = {
    val ruleRows = PolicyRules
      .map { case (p, a, i) => s"('$p', '$a', CAST($i AS BIGINT))" }
      .mkString(", ")
    s"""
WITH rules(prefix, action, rule_id) AS (VALUES $ruleRows),
ev AS (
  SELECT event_id, '/' || event_type || '/' || CAST(event_id AS VARCHAR) AS path,
         event_type
  FROM events
),
px AS (
  SELECT event_id, path,
         unnest(['/', '/' || event_type, path]) AS prefix
  FROM ev
)
SELECT event_id, path,
  arg_max(rule_id, len(prefix)) AS rule_id,
  arg_max(action, len(prefix)) AS action,
  CAST(max(len(prefix)) AS INT) AS matched_len
FROM px JOIN rules USING (prefix)
GROUP BY event_id, path"""
  }

  // ------------------------------------------------------- url_dedup --

  /** Canonical-URL deduplication — the web-corpus ingest step that
    * collapses crawl variants of the same page before text dedup ever
    * runs. Each event synthesizes a DELIBERATELY messy URL (upper-case
    * host, explicit :443 port, tracking params, fragment, trailing
    * slash — each keyed off a different event_id residue so the variants
    * mix), then canonicalizes in a fixed normalization order:
    * fragment → utm params → default port → trailing slash → lowercase.
    * Grouping on the canonical form reports how many raw variants each
    * page collapsed from. All string primitives (regexp_replace on
    * patterns valid in both Java and RE2 dialects, fixed-string replace,
    * lower) — codegen'd, shuffle only on the final canonical groupBy. */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
    val host = concat(lit("shard"), (col("user_id") % 4).cast("string"),
      when(col("event_id") % 3 === 0, lit(".EXAMPLE.com")).otherwise(lit(".example.com")))
    val raw = concat(lit("https://"), host,
      when(col("event_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/page/"), (col("k") % 16).cast("string"),
      when(col("event_id") % 11 === 0, lit("/")).otherwise(lit("")),
      lit("?u="), col("user_id").cast("string"),
      when(col("event_id") % 2 === 0, lit("&utm_source=news")).otherwise(lit("")),
      when(col("event_id") % 7 === 0, lit("#ref")).otherwise(lit("")))
    val canon = lower(
      regexp_replace(
        expr("replace(" +
          "regexp_replace(regexp_replace(raw_url, '#.*$', ''), '&utm_[a-z]+=[^&#]*', '')" +
          ", ':443/', '/')"),
        "/\\?", "?"))
    ev.select(col("event_id"), raw.as("raw_url"))
      .withColumn("canonical_url", canon)
      .groupBy("canonical_url")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("raw_url")).as("n_raw_forms"),
        min(col("event_id")).as("first_event"))
  }

  val urlDedupSql: String = """
WITH base AS (
  SELECT event_id, user_id,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), raw AS (
  SELECT event_id,
    'https://shard' || CAST(user_id % 4 AS VARCHAR)
      || CASE WHEN event_id % 3 = 0 THEN '.EXAMPLE.com' ELSE '.example.com' END
      || CASE WHEN event_id % 5 = 0 THEN ':443' ELSE '' END
      || '/page/' || CAST(k % 16 AS VARCHAR)
      || CASE WHEN event_id % 11 = 0 THEN '/' ELSE '' END
      || '?u=' || CAST(user_id AS VARCHAR)
      || CASE WHEN event_id % 2 = 0 THEN '&utm_source=news' ELSE '' END
      || CASE WHEN event_id % 7 = 0 THEN '#ref' ELSE '' END AS raw_url
  FROM base
), canon AS (
  SELECT event_id, raw_url,
    lower(regexp_replace(
      replace(
        regexp_replace(regexp_replace(raw_url, '#.*$', ''), '&utm_[a-z]+=[^&#]*', ''),
        ':443/', '/'),
      '/\?', '?')) AS canonical_url
  FROM raw
)
SELECT canonical_url,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
  CAST(min(event_id) AS BIGINT) AS first_event
FROM canon GROUP BY 1"""

  // ------------------------------------------------------ ewma_value --

  /** Finite-lag EWMA (half-life smoothing, α = 1/2) of each user's value
    * series: 5 taps with coefficients 1, 1/2, 1/4, 1/8, 1/16 — all exact
    * binary doubles, so there is no cross-engine `pow()` anywhere (libm
    * pow, like log, is not bit-stable across engines). Partial windows at
    * a series head renormalize over the taps actually present. One (user)
    * shuffle + one ordered window. */
  def ewmaValue(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val coefs = Seq(1.0, 0.5, 0.25, 0.125, 0.0625)
    val taps = coefs.zipWithIndex.map { case (c, j) =>
      (lag(col("value"), j).over(w), lit(c))
    }
    val num = taps.map { case (v, c) => when(v.isNotNull, v * c).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    val den = taps.map { case (v, c) => when(v.isNotNull, c).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("ewma", num / den)
  }

  val ewmaSql: String = {
    val coefs = Seq("1.0", "0.5", "0.25", "0.125", "0.0625")
    def tap(j: Int) =
      if (j == 0) "value" else s"lag(value, $j) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    val num = coefs.zipWithIndex.map { case (c, j) =>
      s"CASE WHEN ${tap(j)} IS NOT NULL THEN ${tap(j)} * $c ELSE 0.0 END"
    }.mkString("(", ") + (", ")")
    val den = coefs.zipWithIndex.map { case (c, j) =>
      s"CASE WHEN ${tap(j)} IS NOT NULL THEN $c ELSE 0.0 END"
    }.mkString("(", ") + (", ")")
    s"""
SELECT event_id, user_id, ts, value, ($num) / ($den) AS ewma
FROM events"""
  }

  // --------------------------------------------- stream_exec_left_join --

  /** Stream-stream LEFT OUTER interval join through the real engine:
    * watermarked click and purchase streams, clicks left-joined to
    * purchases within the following hour — unmatched clicks must be
    * EMITTED WITH NULLS once the watermark passes their join window, the
    * semantics that distinguish outer from inner streaming joins.
    *
    * Determinism contract: clicks are restricted to those ≥ 3 h before the
    * stream's max event time, so every click's join window closes strictly
    * before the terminal watermark (min(max click, max purchase) − 1 h) —
    * every unmatched click is guaranteed flushed, and the append-mode
    * output equals the batch left join the oracle runs. Without the
    * restriction, clicks near stream end would sit in state forever and
    * the result would depend on micro-batch slicing. */
  def streamLeftJoin(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamGate.memory(s, "stream_exec_left_join", "append") {
      // micros everywhere (Spark's timestamp→long cast is SECONDS and
      // DuckDB's epoch() is fractional — micros are the shared exact unit).
      // The terminal watermark is min over BOTH inputs of (own max − 1 h),
      // so the flush guarantee needs the cutoff 3 h before the SMALLER of
      // the two stream maxima.
      val bounds = Tables.events(s, d).agg(
        max(when(col("event_type") === "click", unix_micros(col("ts")))).as("mc"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("mp"))
        .head()
      val cutoff = math.min(bounds.getLong(0), bounds.getLong(1)) - 3L * 3600 * 1000000L
      def src = Tables.eventsStream(s, d)
      // Clicks past the cutoff are NOT dropped — dropping them would cap
      // the click-side watermark 3 h early and strand the tail of the
      // eligible clicks in state forever. They stay in the stream as
      // non-joinable sentinels (user −1) that keep advancing the
      // watermark, and are filtered from the sink table afterwards.
      val late = unix_micros(col("ts")) > lit(cutoff)
      // Composite (user, 1-hour bucket) equi-key — same band-join shape as
      // the inner stream_exec_join (see its comment for the quadratic
      // hot-key probe this prevents), but here the EXPLODED side must be
      // the nullable (purchase) side: a left row duplicated across two
      // bucket copies would emit a spurious null row for the unmatched
      // copy, while an unmatched purchase copy emits nothing under
      // left_outer. Clicks keep their single bucket cb; purchases are
      // expanded into {pb, pb−1}, which covers cb ∈ {pb−1, pb} — every
      // in-window pair matches exactly once, every unmatched click still
      // emits exactly one null row.
      // r17: the composite key is ADAPTIVE (StreamGate.hotPairProbe, see
      // stream_exec_join) — the bucket conjunct is implied by the
      // time-range predicate, so both shapes emit identical rows and the
      // pre-pass only trades the explode tax against the hot-key probe.
      val hot = graft.streaming.StreamGate.hotPairProbe(s, d)
      val hourUs = 3600L * 1000000L
      def hbkt(c: org.apache.spark.sql.Column) =
        floor(unix_micros(c).cast("double") / lit(hourUs.toDouble)).cast("long")
      val clicks0 = src.filter(col("event_type") === "click")
        .select(
          when(late, -col("event_id")).otherwise(col("event_id")).as("click_id"),
          when(late, lit(-1L)).otherwise(col("user_id")).as("user_id"),
          col("ts").as("click_ts"))
      val clicks = (if (hot) clicks0.withColumn("bkt", hbkt(col("click_ts")))
        else clicks0)
        .withWatermark("click_ts", "1 hour")
      val purchases0 = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      val purchases = (if (hot) purchases0.withColumn("p_bkt",
          explode(array(hbkt(col("purchase_ts")), hbkt(col("purchase_ts")) - 1)))
        else purchases0)
        .withWatermark("purchase_ts", "1 hour")
      val range = col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR")
      val cond =
        if (hot) col("user_id") === col("p_user_id") &&
          col("bkt") === col("p_bkt") && range
        else col("user_id") === col("p_user_id") && range
      clicks.join(purchases, cond, "left_outer")
        .select(col("click_id"), col("user_id"), col("click_ts"),
          col("purchase_id"), col("purchase_ts"), col("purchase_value"))
    }.filter(col("user_id") >= 0)

  val streamLeftJoinSql: String = """
WITH mx AS (
  SELECT least(
    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS mts
  FROM events
), c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events, mx
  WHERE event_type = 'click' AND epoch_us(ts) <= mts - 10800000000
), p AS (
  SELECT event_id AS purchase_id, user_id AS p_user_id,
         ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT click_id, c.user_id, click_ts, purchase_id, purchase_ts, purchase_value
FROM c LEFT JOIN p
  ON c.user_id = p.p_user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR"""

  // ------------------------------------------------ winsorize_values --

  /** Winsorization: clip order totals to their group's exact [p05, p95]
    * band — the robust-scaling cousin of the IQR outlier screen. Exact
    * percentile_cont bounds (the mad_by_status parity precedent) +
    * pure min/max clipping, so no arithmetic drift is possible. Two
    * passes: a tiny per-group bounds dim broadcast back over the fact. */
  def winsorizeValues(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val bounds = o.groupBy("o_orderpriority").agg(
      expr("percentile_cont(0.05) WITHIN GROUP (ORDER BY o_totalprice)").as("p05"),
      expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice)").as("p95"))
    o.join(broadcast(bounds), Seq("o_orderpriority"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        col("p05"), col("p95"),
        least(greatest(col("o_totalprice"), col("p05")), col("p95")).as("winsorized"))
  }

  val winsorizeSql: String = """
WITH bounds AS (
  SELECT o_orderpriority,
    quantile_cont(o_totalprice, 0.05) AS p05,
    quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority, o_totalprice, p05, p95,
  least(greatest(o_totalprice, p05), p95) AS winsorized
FROM orders o JOIN bounds USING (o_orderpriority)"""

  // ------------------------------------------------- rank_normalize --

  /** Rank normalization (quantile-uniform feature transform): per
    * event_type, value → (rank − 0.5) / n ∈ (0, 1) under a total order
    * (value, event_id) — the distribution-free scaling used before
    * inverse-CDF transforms. One shuffle + one ordered window.
    *
    * Scale caveat: event_type has ~5 values, so each window partition is
    * N/5 rows on one task — fine here, a straggler at 100 TB. The scalable
    * form is the two-phase global rank: range-partition each group on
    * value (rangepartitioning exchange), rank within ranges, then add the
    * per-range row-count prefix (the pps_systematic_sample cumsum
    * pattern); same result, no single-task partition. */
  def rankNormalize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("rn").cast("double") - lit(0.5)) / col("n").cast("double")).as("qnorm"))
  }

  val rankNormalizeSql: String = """
SELECT event_id, event_type, value,
  (CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS DOUBLE) - 0.5)
    / CAST(CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS DOUBLE) AS qnorm
FROM events"""

  // ---------------------------------------------------- group_kfold --

  /** Leakage-safe GROUP k-fold assignment: every event of a user lands in
    * the same fold (fold = integer hash of user_id mod 5), so no user
    * straddles train/validation — the group-aware split sklearn's
    * GroupKFold implements. Output is the per-fold audit: distinct users,
    * events, and event share. */
  def groupKfold(s: SparkSession, d: String): DataFrame = {
    val folds = Tables.events(s, d)
      .withColumn("fold",
        (((col("user_id") * lit(2654435761L)) % lit(1000003L)) % 5).cast("int"))
      .groupBy("fold")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
    folds.withColumn("event_share",
      col("n_events").cast("double") /
        sum(col("n_events")).over(Window.partitionBy()).cast("double"))
  }

  val groupKfoldSql: String = """
WITH folds AS (
  SELECT CAST(((user_id * 2654435761) % 1000003) % 5 AS INT) AS fold,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT fold, n_users, n_events,
  CAST(n_events AS DOUBLE) / CAST(CAST(sum(n_events) OVER () AS BIGINT) AS DOUBLE) AS event_share
FROM folds"""

  // --------------------------------------------- entity_match_blocked --

  /** Blocked entity resolution over part names — the record-linkage /
    * fuzzy-dedupe shape, with every tier carrying its 100 TB discipline:
    *  1. COLLAPSE to distinct names + part counts (the rep tier — all
    *     pair work is then invariant to row-level duplication, the same
    *     move as the text-dedup family);
    *  2. MULTI-KEY BLOCKING: each name emits two block keys (first and
    *     last token) — candidate pairs are names sharing ≥1 key, the
    *     standard blocking trade that avoids all-pairs while catching
    *     both adjective- and noun-sharing variants (single-key blocking
    *     misses half of them); the key space is open-domain text, so
    *     candidates go through the shared degree-capped pair join
    *     ([[graft.operators.Pairs.pairJoin]], cap 1000 in name order —
    *     a hot block degrades to linear, never quadratic);
    *  3. VERIFY: exact Levenshtein ≤ 3 on the candidates only (identical
    *     integer DP on both engines).
    * Blocking is the recall CONTRACT, not an approximation to hide: a
    * pair sharing no token is out of scope by definition of the match
    * rule. Output: matched name pairs with distance, shared-key count
    * and each side's collapsed row weight. */
  def entityMatchBlocked(s: SparkSession, d: String): DataFrame = {
    val reps = Tables.part(s, d)
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_parts"))
    val toks = split(col("name"), " ")
    val keyed = reps.select(col("name"),
      explode(array(concat(lit("f:"), element_at(toks, 1)),
        concat(lit("l:"), element_at(toks, -1)))).as("bk"))
    val cand = graft.operators.Pairs.pairJoin(
      keyed, Seq("bk"), "name", "name_a", "name_b", "n_shared_keys",
      maxPerKey = Some((1000, Seq("name" -> true))))
    cand
      .withColumn("lev_dist", levenshtein(col("name_a"), col("name_b")).cast("int"))
      .filter(col("lev_dist") <= 3)
      .join(reps.select(col("name").as("name_a"), col("n_parts").as("n_parts_a")),
        Seq("name_a"))
      .join(reps.select(col("name").as("name_b"), col("n_parts").as("n_parts_b")),
        Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("lev_dist"),
        col("n_shared_keys"), col("n_parts_a"), col("n_parts_b"))
  }

  val entityMatchSql: String = """
WITH reps AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY 1
), keyed AS (
  SELECT name, unnest(['f:' || w[1], 'l:' || w[-1]]) AS bk
  FROM (SELECT name, string_split(name, ' ') AS w FROM reps)
), capped AS (
  SELECT bk, name FROM (
    SELECT bk, name, row_number() OVER (PARTITION BY bk ORDER BY name) AS rn
    FROM keyed
  ) WHERE rn <= 1000
), cand AS (
  SELECT a.name AS name_a, b.name AS name_b, CAST(count(*) AS BIGINT) AS n_shared_keys
  FROM capped a JOIN capped b ON a.bk = b.bk AND a.name < b.name
  GROUP BY 1, 2
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS lev_dist,
  n_shared_keys, ra.n_parts AS n_parts_a, rb.n_parts AS n_parts_b
FROM cand
JOIN reps ra ON ra.name = cand.name_a
JOIN reps rb ON rb.name = cand.name_b
WHERE levenshtein(name_a, name_b) <= 3"""

  // ------------------------------------------------- cohort_retention --

  /** Weekly cohort retention matrix — the product-analytics staple: users
    * cohorted by FIRST active ISO week, the (cohort, week-offset) cell
    * counts users active that many weeks later, as a share of cohort
    * size. Three aggregations and two joins, every one of them keyed on
    * user_id or the tiny (cohort, offset) pair — one partitioning reused
    * across the chain, no windows, no per-user sequences materialized.
    * Week truncation (Monday) and day arithmetic agree across engines;
    * offsets are exact integers (both endpoints are week-truncated, so
    * the day diff is always a multiple of 7). */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy("cohort_wk").agg(count(lit(1)).as("n_cohort"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_wk"),
        expr("datediff(wk, cohort_wk) div 7").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_wk")
      .select(col("cohort_wk").cast("date").as("cohort_week"),
        col("week_offset").cast("long").as("week_offset"),
        col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
  }

  val cohortRetentionSql: String = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
), sizes AS (
  SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort FROM cohort GROUP BY 1
), cells AS (
  SELECT c.cohort_wk,
    CAST(date_diff('day', c.cohort_wk, uw.wk) // 7 AS BIGINT) AS week_offset,
    CAST(count(*) AS BIGINT) AS n_active
  FROM uw JOIN cohort c ON uw.user_id = c.user_id
  GROUP BY 1, 2
)
SELECT CAST(cells.cohort_wk AS DATE) AS cohort_week, week_offset,
  n_active, n_cohort,
  CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention
FROM cells JOIN sizes ON cells.cohort_wk = sizes.cohort_wk"""

  // ------------------------------------------------ funnel_within_hour --

  /** Time-windowed conversion funnel: each user's FIRST view, the first
    * click within ONE HOUR after that view, and the first purchase within
    * one hour after that click — the ordered-steps-with-deadline shape
    * `event_pattern_match`'s regex cannot express (it has no clock).
    * Three filtered aggregations chained by equi-joins, all keyed on
    * user_id — the per-user event sequence is never materialized or
    * sorted, so a power user with 10⁶ events costs three grouped scans,
    * not a window. Timestamp arithmetic is exact micros on both
    * engines. */
  def funnelWithinHour(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("view_ts") &&
        col("ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("click_ts") &&
        col("ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
        (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0)
          + when(col("purchase_ts").isNotNull, 1).otherwise(0))
          .cast("int").as("stage"))
  }

  val funnelSql: String = """
WITH v AS (
  SELECT user_id, min(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
  CAST(1 + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
     + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id"""

  // ---------------------------------------------- hhi_concentration --

  /** Herfindahl–Hirschman market-concentration index per brand market:
    * each supplier's share of a brand's shipped quantity, HHI = Σ share²
    * kept EXACT as the rational Σ vol² / (Σ vol)² — quantities are
    * integral in this schema, so both the numerator and the squared
    * total are exact BIGINTs (safe to brand totals ≈ 2³¹, the same
    * documented-bound idiom as degree_assortativity) and the single
    * division is the only float. The antitrust-threshold flag
    * (HHI > 0.25, the DOJ "highly concentrated" line scaled to [0,1])
    * is decided on INTEGERS — 4·num > den — so the flag can never flake
    * on the division's rounding.
    *
    * Scale shape: lineitem ⋈ part is an equi-join on the part key with
    * the brand dim PRE-AGGREGATED ONLY AFTER the join (part is
    * key-partitioned, the join shuffles lineitem once); then two nested
    * grouped aggregations, both map-side combinable. Never a window. */
  def hhiConcentration(s: SparkSession, d: String): DataFrame = {
    val vol = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .groupBy("p_brand", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("vol"))
    vol.groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("vol")).as("total_vol"),
        sum(col("vol") * col("vol")).as("hhi_num"))
      .select(col("p_brand"), col("n_suppliers"), col("total_vol"), col("hhi_num"),
        (col("hhi_num").cast("double")
          / (col("total_vol") * col("total_vol")).cast("double")).as("hhi"),
        (col("hhi_num") * 4 > col("total_vol") * col("total_vol"))
          .as("concentrated"))
  }

  val hhiSql: String = """
WITH vol AS (
  SELECT p_brand, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vol
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand, l_suppkey
)
SELECT p_brand,
  CAST(count(*) AS BIGINT) AS n_suppliers,
  CAST(sum(vol) AS BIGINT) AS total_vol,
  CAST(sum(vol * vol) AS BIGINT) AS hhi_num,
  CAST(sum(vol * vol) AS DOUBLE)
    / CAST(CAST(sum(vol) AS BIGINT) * CAST(sum(vol) AS BIGINT) AS DOUBLE) AS hhi,
  CAST(sum(vol * vol) AS BIGINT) * 4
    > CAST(sum(vol) AS BIGINT) * CAST(sum(vol) AS BIGINT) AS concentrated
FROM vol GROUP BY p_brand"""

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hhi_concentration"          -> ((s, d) => hhiConcentration(s, d)),
    "cohort_retention"           -> ((s, d) => cohortRetention(s, d)),
    "funnel_within_hour"         -> ((s, d) => funnelWithinHour(s, d)),
    "entity_match_blocked"       -> ((s, d) => entityMatchBlocked(s, d)),
    "transition_matrix"          -> ((s, d) => transitionMatrix(s, d)),
    "event_paths_topk"           -> ((s, d) => eventPathsTopK(s, d)),
    "markov_stationary"          -> ((s, d) => markovStationary(s, d)),
    "cdc_apply"                  -> ((s, d) => cdcApply(s, d)),
    "rfm_segments"               -> ((s, d) => rfmSegments(s, d)),
    "geo_grid_join"              -> ((s, d) => geoGridJoin(s, d)),
    "allocate_largest_remainder" -> ((s, d) => allocateLargestRemainder(s, d)),
    "pps_systematic_sample"      -> ((s, d) => ppsSystematicSample(s, d)),
    "priority_sample"            -> ((s, d) => prioritySample(s, d)),
    "url_parse"                  -> ((s, d) => urlParse(s, d)),
    "url_prefix_policy"          -> ((s, d) => urlPrefixPolicy(s, d)),
    "url_dedup"                  -> ((s, d) => urlDedup(s, d)),
    "ewma_value"                 -> ((s, d) => ewmaValue(s, d)),
    "stream_exec_left_join"      -> ((s, d) => streamLeftJoin(s, d)),
    "winsorize_values"           -> ((s, d) => winsorizeValues(s, d)),
    "rank_normalize"             -> ((s, d) => rankNormalize(s, d)),
    "group_kfold"                -> ((s, d) => groupKfold(s, d))
  )

  def oracles: Map[String, String] = Map(
    "hhi_concentration"          -> hhiSql,
    "cohort_retention"           -> cohortRetentionSql,
    "funnel_within_hour"         -> funnelSql,
    "entity_match_blocked"       -> entityMatchSql,
    "transition_matrix"          -> transitionSql,
    "event_paths_topk"           -> eventPathsSql,
    "markov_stationary"          -> markovSql,
    "cdc_apply"                  -> cdcSql,
    "rfm_segments"               -> rfmSql,
    "geo_grid_join"              -> geoSql,
    "allocate_largest_remainder" -> allocateSql,
    "pps_systematic_sample"      -> ppsSql,
    "priority_sample"            -> prioritySampleSql,
    "url_parse"                  -> urlSql,
    "url_prefix_policy"          -> urlPrefixPolicySql,
    "url_dedup"                  -> urlDedupSql,
    "ewma_value"                 -> ewmaSql,
    "stream_exec_left_join"      -> streamLeftJoinSql,
    "winsorize_values"           -> winsorizeSql,
    "rank_normalize"             -> rankNormalizeSql,
    "group_kfold"                -> groupKfoldSql
  )
}
