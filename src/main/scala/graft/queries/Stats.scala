package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical-testing operators: two-sample Kolmogorov–Smirnov, Welch's
  * unequal-variance t-test, and autocorrelation of an aggregated series —
  * the distribution-drift / A-B-comparison layer of a data pipeline
  * (complementing the simpler `drift_tvd` total-variation check).
  *
  * Exactness contract (same discipline as [[Enrich]]): every number that
  * reaches the oracle hash is either an integer, or a short chain of
  * IEEE correctly-rounded double ops (+ − × ÷ sqrt) over integer-derived
  * operands, written with the SAME expression tree on both engines.
  * No ln/exp/pow anywhere (JVM Math.log vs glibc log differ ~1 ulp in
  * tens-of-ppm of inputs — measured in round 8).
  *
  * Scale shapes:
  *  - ks_statistic: the empirical-CDF cumulative count is the two-phase
  *    prefix (per-value-bucket partials + a tiny broadcast bucket-prefix
  *    dim + within-bucket window) — the same scalable pattern as
  *    `pps_systematic_sample`, never a single-partition global window
  *    over raw rows.
  *  - welch_ttest: one scan, one 2-group aggregate of integer sums —
  *    embarrassingly partial-aggregable (map-side combine does nearly
  *    all the work at 100 TB).
  *  - acf_lags: the series is the per-HOUR count aggregate, so its
  *    length is bounded by the time span (720 points here), not the row
  *    count; the ordered-window lag runs on that bounded aggregate, and
  *    the heavy work (the groupBy) is a plain scalable shuffle.
  */
object Stats {

  // ---------------------------------------------------- ks_statistic --

  /** Per-distinct-value click/purchase counts with their cumulative sums,
    * shared by `ks_statistic` and `mannwhitney_u`. The cumulative count
    * is the two-phase prefix: per-bucket partials + a tiny broadcast
    * bucket-prefix dim + within-bucket windows — never a global window
    * over the raw value axis. */
  private def cumCounts(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      // order-preserving integer bucket of the double value axis: the
      // distinct-value rows (already one shuffle) get their cumulative
      // counts from per-bucket partials, not one global window partition
      .withColumn("bucket", floor(col("value")).cast("long"))
    val bucketTotals = pts.groupBy("bucket")
      .agg(sum("c1").as("b1"), sum("c2").as("b2"))
    val prefix = bucketTotals
      .withColumn("p1", coalesce(sum("b1").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("p2", coalesce(sum("b2").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "p1", "p2")
    val inBucket = Window.partitionBy("bucket").orderBy("value")
    pts
      .join(broadcast(prefix), Seq("bucket"))
      .withColumn("cum1", col("p1") + sum("c1").over(inBucket))
      .withColumn("cum2", col("p2") + sum("c2").over(inBucket))
  }

  /** Two-sample KS statistic between the `value` distributions of click
    * vs purchase events, as an exact rational: with cumulative counts
    * cum1/cum2 at each distinct value and sample sizes n, m,
    * D = max |cum1·m − cum2·n| / (n·m). The single final division of two
    * exact BIGINTs is correctly rounded on both engines. */
  def ksStatistic(s: SparkSession, d: String): DataFrame = {
    val cc = cumCounts(s, d)
    val totals = cc.agg(sum("c1").as("n"), sum("c2").as("m"))
    cc
      .crossJoin(broadcast(totals))
      .withColumn("diff", abs(col("cum1") * col("m") - col("cum2") * col("n")))
      .groupBy("n", "m")
      .agg(max("diff").as("d_num"))
      .withColumn("d", col("d_num").cast("double") / (col("n") * col("m")).cast("double"))
  }

  val ksSql: String = """
WITH pts AS (
  SELECT value,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value
), c AS (
  SELECT
    CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
    CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
  FROM pts
), t AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n, CAST(sum(c2) AS BIGINT) AS m FROM pts
)
SELECT n, m,
  CAST(max(abs(cum1 * m - cum2 * n)) AS BIGINT) AS d_num,
  CAST(max(abs(cum1 * m - cum2 * n)) AS DOUBLE) / CAST(n * m AS DOUBLE) AS d
FROM c, t GROUP BY n, m"""

  // --------------------------------------------------- mannwhitney_u --

  /** Mann–Whitney U (rank-sum) test between click and purchase `value`
    * samples — the nonparametric counterpart of `welch_ttest`, robust to
    * the non-normal value distribution. Everything structural is kept in
    * EXACT integers by working with doubled rank sums: with pooled
    * counts below a value L = (cum1−c1)+(cum2−c2) and ties t = c1+c2,
    * the doubled average rank is 2L + t + 1 (an integer even when the
    * average rank itself is x.5), so
    *   2·R1 = Σ_v c1·(2L + t + 1),   2·U1 = 2·R1 − n1·(n1+1),
    *   2·U2 = 2·n1·n2 − 2·U1,        ΣT   = Σ_v (t³ − t).
    * The normal-approximation z with tie correction is the only float:
    *   z = (2U1 − n1·n2) / (2·sqrt(var)),
    *   var = n1·n2·(N³ − N − ΣT) / (12·N·(N−1)),  N = n1+n2,
    * where N³−N−ΣT is computed as one exact BIGINT (safe to N ≈ 2M)
    * before the cast, and the double chain is identical on both engines.
    * Cumulative counts reuse the scalable two-phase prefix of
    * [[cumCounts]] — one extra conditional aggregate over that frame. */
  def mannWhitneyU(s: SparkSession, d: String): DataFrame = {
    val cc = cumCounts(s, d)
    val less2 = lit(2L) * (col("cum1") - col("c1") + col("cum2") - col("c2"))
    val tie = col("c1") + col("c2")
    val agg = cc.agg(
      sum("c1").as("n1"),
      sum("c2").as("n2"),
      sum(col("c1") * (less2 + tie + 1L)).as("r1_x2"),
      sum(tie * tie * tie - tie).as("tie_sum"))
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val u1x2 = col("r1_x2") - col("n1") * (col("n1") + 1L)
    val bigN = col("n1") + col("n2")
    val varNum = bigN * bigN * bigN - bigN - col("tie_sum")
    val variance = dbl(col("n1")) * dbl(col("n2")) * dbl(varNum) /
      (lit(12.0) * dbl(bigN) * (dbl(bigN) - lit(1.0)))
    agg
      .withColumn("u1_x2", u1x2)
      .withColumn("u2_x2", lit(2L) * col("n1") * col("n2") - col("u1_x2"))
      .withColumn("z",
        (dbl(col("u1_x2")) - dbl(col("n1")) * dbl(col("n2"))) /
          (lit(2.0) * sqrt(variance)))
      .select("n1", "n2", "r1_x2", "u1_x2", "u2_x2", "tie_sum", "z")
  }

  val mannWhitneySql: String = """
WITH pts AS (
  SELECT value,
    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value
), c AS (
  SELECT c1, c2,
    CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
    CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
  FROM pts
), agg AS (
  SELECT
    CAST(sum(c1) AS BIGINT) AS n1,
    CAST(sum(c2) AS BIGINT) AS n2,
    CAST(sum(c1 * (2 * ((cum1 - c1) + (cum2 - c2)) + (c1 + c2) + 1)) AS BIGINT) AS r1_x2,
    CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS BIGINT) AS tie_sum
  FROM c
), u AS (
  SELECT n1, n2, r1_x2, tie_sum,
    r1_x2 - n1 * (n1 + 1) AS u1_x2,
    2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
    n1 + n2 AS nn
  FROM agg
)
SELECT n1, n2, r1_x2, u1_x2, u2_x2, tie_sum,
  (CAST(u1_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) /
    (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        * CAST(nn * nn * nn - nn - tie_sum AS DOUBLE)
      / (12.0 * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))) AS z
FROM u"""

  // ----------------------------------------------------- welch_ttest --

  /** Welch's unequal-variance t between l_extendedprice of return flags
    * R and A, over whole-dollar integer values (floor — BIGINT-safe to
    * sf10 where cents² sums would overflow int64). n, S=Σv, Q=Σv² are
    * exact integers; mean, per-group variance-over-n, t, and the
    * Welch–Satterthwaite df are the identical correctly-rounded double
    * chains on both engines. */
  def welchTTest(s: SparkSession, d: String): DataFrame = {
    val v = Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice")).cast("long").as("v"))
    // single scan, conditional sums — map-side combine does all the work
    def cond(flag: String, e: org.apache.spark.sql.Column) =
      sum(when(col("flag") === flag, e).otherwise(0L))
    val joined = v.agg(
      cond("R", lit(1L)).as("n1"), cond("R", col("v")).as("s1"),
      cond("R", col("v") * col("v")).as("q1"),
      cond("A", lit(1L)).as("n2"), cond("A", col("v")).as("s2"),
      cond("A", col("v") * col("v")).as("q2"))
    def dbl(c: String) = col(c).cast("double")
    // se2_i = (Q - S·S/n) / (n-1) / n  — sample variance over n
    def se2(q: String, sS: String, n: String) =
      (dbl(q) - dbl(sS) * dbl(sS) / dbl(n)) / (dbl(n) - lit(1.0)) / dbl(n)
    joined
      .withColumn("mean1", dbl("s1") / dbl("n1"))
      .withColumn("mean2", dbl("s2") / dbl("n2"))
      .withColumn("se2_1", se2("q1", "s1", "n1"))
      .withColumn("se2_2", se2("q2", "s2", "n2"))
      .withColumn("t",
        (col("mean1") - col("mean2")) / sqrt(col("se2_1") + col("se2_2")))
      .withColumn("df",
        (col("se2_1") + col("se2_2")) * (col("se2_1") + col("se2_2")) /
          (col("se2_1") * col("se2_1") / (dbl("n1") - lit(1.0)) +
           col("se2_2") * col("se2_2") / (dbl("n2") - lit(1.0))))
      .select("n1", "n2", "mean1", "mean2", "t", "df")
  }

  val welchSql: String = """
WITH g AS (
  SELECT l_returnflag AS flag, CAST(floor(l_extendedprice) AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
), agg AS (
  SELECT
    CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN flag = 'R' THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN flag = 'R' THEN v * v ELSE 0 END) AS BIGINT) AS q1,
    CAST(sum(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN flag = 'A' THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(sum(CASE WHEN flag = 'A' THEN v * v ELSE 0 END) AS BIGINT) AS q2
  FROM g
), w AS (
  SELECT n1, n2,
    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2,
    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS se2_1,
    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE) AS se2_2
  FROM agg
)
SELECT n1, n2, mean1, mean2,
  (mean1 - mean2) / sqrt(se2_1 + se2_2) AS t,
  (se2_1 + se2_2) * (se2_1 + se2_2) /
    (se2_1 * se2_1 / (CAST(n1 AS DOUBLE) - 1.0) +
     se2_2 * se2_2 / (CAST(n2 AS DOUBLE) - 1.0)) AS df
FROM w"""

  // ---------------------------------------------------- spearman_rho --

  /** Spearman rank correlation between two per-customer metrics (total
    * order value in exact cents vs order count), on the tie-broken total
    * orders (rank by metric DESC, custkey — a permutation, so
    * rho = 1 − 6·Σd² / (n·(n²−1)) applies directly with Σd² an exact
    * BIGINT; the single closing division is correctly rounded on both
    * engines; widen to decimal(38,0) before n³ nears 2^63, ~10⁶
    * customers). Both rankings run over the CUSTOMER DIM, which grows
    * with the data, so they use the DISTRIBUTED exact global rank
    * ([[graft.operators.Ranks.globalRowNumber]]) instead of single-task
    * row_number windows — bit-identical ranks, unchanged oracle. */
  def spearmanRho(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
    val base = per.localCheckpoint() // feeds both rank branches + the join
    val rv = graft.operators.Ranks.globalRowNumber(
        base.select("o_custkey", "rev_cents"),
        Seq(col("rev_cents").desc, col("o_custkey")), "rank_rev")
      .select("o_custkey", "rank_rev")
    val rc = graft.operators.Ranks.globalRowNumber(
        base.select("o_custkey", "n_orders"),
        Seq(col("n_orders").desc, col("o_custkey")), "rank_cnt")
      .select("o_custkey", "rank_cnt")
    val ranked = base.join(rv, "o_custkey").join(rc, "o_custkey")
    val dd = (col("rank_rev") - col("rank_cnt")) * (col("rank_rev") - col("rank_cnt"))
    ranked
      .agg(count(lit(1)).as("n"), sum(dd).as("sum_d2"))
      .withColumn("rho",
        lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
          (col("n") * (col("n") * col("n") - 1L)).cast("double"))
      .select("n", "sum_d2", "rho")
  }

  val spearmanSql: String = """
WITH per AS (
  SELECT o_custkey,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT
    CAST(row_number() OVER (ORDER BY rev_cents DESC, o_custkey) AS BIGINT) AS rank_rev,
    CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS rank_cnt
  FROM per
)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum((rank_rev - rank_cnt) * (rank_rev - rank_cnt)) AS BIGINT) AS sum_d2,
  1.0 - 6.0 * CAST(sum((rank_rev - rank_cnt) * (rank_rev - rank_cnt)) AS DOUBLE)
    / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE) AS rho
FROM ranked"""

  // -------------------------------------------------- theil_sen_trend --

  /** Theil–Sen robust trend of weekly order revenue: the median of all
    * pairwise slopes (y_b − y_a)/(x_b − x_a) over the weekly series, plus
    * the companion robust intercept median(y − slope·x). Up to 29.4% of
    * the points can be corrupted before the estimator breaks down —
    * the robust alternative to the OLS `regr_price_qty`.
    *
    * Exactness: y is exact revenue cents (BIGINT), x is exact week index
    * (both engines truncate to the same Monday); each slope is ONE
    * correctly-rounded division of exact integers, and both medians are
    * `percentile_cont` over those doubles (the winsorize/mad parity
    * precedent). No float accumulates anywhere.
    *
    * Scale shape: the pair set is quadratic in the TIME AXIS, not rows —
    * the weekly aggregate is calendar-bounded (~370 weeks regardless of
    * SF, ~68k pairs), so the fact-side work is one linear groupBy and the
    * pair join is a broadcast nested loop over a bounded dim. Week (not
    * day) granularity keeps the slope set small enough that the exact
    * single-buffer `percentile_cont` is a non-issue; for a finer or
    * unbounded x-axis, swap in the two-phase bucket-prefix selection
    * (`vocab_coverage` pattern) or the repeated-median variant. */
  def theilSenTrend(s: SparkSession, d: String): DataFrame = {
    val weekly = Tables.orders(s, d)
      .select(
        expr("datediff(cast(date_trunc('week', o_orderdate) as date), date'1991-12-30') div 7")
          .cast("long").as("x"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("x").agg(sum("cents").as("y"))
      // tiny calendar-bounded frame feeding 3 plan branches (a, b, resid)
      // — checkpoint once so orders isn't rescanned per branch
      .localCheckpoint()
    val a = weekly.select(col("x").as("xa"), col("y").as("ya"))
    val b = weekly.select(col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b), col("xa") < col("xb"))
      .select(((col("yb") - col("ya")).cast("double") /
        (col("xb") - col("xa")).cast("double")).as("slope"))
    val med = pairs.agg(
      count(lit(1)).as("n_pairs"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY slope)").as("slope_med"))
    weekly.crossJoin(broadcast(med))
      .select(col("x"), col("y"), col("n_pairs"), col("slope_med"),
        (col("y").cast("double") - col("slope_med") * col("x").cast("double"))
          .as("resid"))
      .groupBy("n_pairs", "slope_med")
      .agg(
        count(lit(1)).as("n_weeks"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY resid)").as("intercept_med"))
      .select("n_weeks", "n_pairs", "slope_med", "intercept_med")
  }

  val theilSenSql: String = """
WITH weekly AS (
  SELECT CAST(datediff('day', DATE '1991-12-30',
      date_trunc('week', CAST(o_orderdate AS DATE))) // 7 AS BIGINT) AS x,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), pairs AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM weekly a JOIN weekly b ON a.x < b.x
), med AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
    quantile_cont(slope, 0.5) AS slope_med
  FROM pairs
)
SELECT CAST(count(*) AS BIGINT) AS n_weeks, n_pairs, slope_med,
  quantile_cont(CAST(y AS DOUBLE) - slope_med * CAST(x AS DOUBLE), 0.5) AS intercept_med
FROM weekly, med
GROUP BY n_pairs, slope_med"""

  // ------------------------------------------------------- acf_lags --

  private val MaxLag = 6

  /** Autocorrelation of the hourly event-count series at lags 1..6, as an
    * exact integer rational. With S=Σx, Q=Σx², n the series length,
    * A_k = Σ x_t·x_{t+k} and B_k = Σ (x_t + x_{t+k}) over the n−k lag
    * pairs, the mean-centered ACF multiplies out to
    * r_k = (n²·A_k − n·S·B_k + (n−k)·S²) / (n²·Q − n·S²) — integer
    * numerator and denominator, one final division. The ordered lag
    * window runs over the per-hour AGGREGATE (bounded by the time span,
    * 720 points here), never over raw events. */
  def acfLags(s: SparkSession, d: String): DataFrame = {
    val series = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy("h")
    // the lagged frame feeds 7 plan branches (6 per-lag aggregates +
    // totals) — without the checkpoint each branch re-runs the events
    // groupBy (the diamond-reuse trap; 1.46 s → one scan). 720 rows.
    val lagged = (1 to MaxLag).foldLeft(series) { (df, k) =>
      df.withColumn(s"x$k", lead("x", k).over(w))
    }.localCheckpoint()
    val totals = lagged.agg(
      count(lit(1)).as("n"), sum("x").as("s"), sum(col("x") * col("x")).as("q"))
    // all six lag aggregates in ONE pass: explode each series row into its
    // (lag, x·x_k, x+x_k) contributions, then a single groupBy(lag) — six
    // union branches would cost six jobs for 720 rows of data
    val perLag = lagged
      .select(explode(array((1 to MaxLag).map(k => struct(
        lit(k).as("lag"),
        (col("x") * col(s"x$k")).as("xx"),
        (col("x") + col(s"x$k")).as("xs"))): _*)).as("e"))
      .filter(col("e.xx").isNotNull)
      .groupBy(col("e.lag").as("lag"))
      .agg(sum("e.xx").as("a"), sum("e.xs").as("b"))
    perLag.crossJoin(broadcast(totals))
      .withColumn("num",
        col("n") * col("n") * col("a") - col("n") * col("s") * col("b") +
          (col("n") - col("lag")) * col("s") * col("s"))
      .withColumn("den",
        col("n") * col("n") * col("q") - col("n") * col("s") * col("s"))
      .withColumn("r", col("num").cast("double") / col("den").cast("double"))
      .select("lag", "num", "den", "r")
  }

  val acfSql: String = {
    val lags = (1 to MaxLag).map { k =>
      s"""SELECT $k AS lag,
  CAST(sum(x * x$k) FILTER (WHERE x$k IS NOT NULL) AS BIGINT) AS a,
  CAST(sum(x + x$k) FILTER (WHERE x$k IS NOT NULL) AS BIGINT) AS b
FROM lagged"""
    }.mkString("\nUNION ALL\n")
    val leadCols = (1 to MaxLag).map(k =>
      s"lead(x, $k) OVER (ORDER BY h) AS x$k").mkString(", ")
    s"""
WITH series AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), lagged AS (
  SELECT x, $leadCols FROM series
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS q
  FROM series
), per_lag AS (
$lags
)
SELECT CAST(lag AS INT) AS lag,
  n * n * a - n * s * b + (n - lag) * s * s AS num,
  n * n * q - n * s * s AS den,
  CAST(n * n * a - n * s * b + (n - lag) * s * s AS DOUBLE)
    / CAST(n * n * q - n * s * s AS DOUBLE) AS r
FROM per_lag, t"""
  }

  // ------------------------------------------------ exact_median_twopass

  /** EXACT k-th order statistic (lower median) with NO global sort — the
    * two-pass histogram-narrowing algorithm that makes exact order
    * statistics feasible at 100 TB: pass 1 aggregates counts per coarse
    * value bin (truncating div is monotone, so bin order = value order)
    * and a cumulative window over the BIN table — bounded by the value
    * domain / 65536, never the corpus — locates the bin holding rank k
    * plus the residual rank inside it; pass 2 aggregates counts per
    * DISTINCT value within that one bin (≤ 65536 rows by construction)
    * and the same prefix logic picks the value. Two grouped scans + two
    * tiny windows, versus approx_quantiles' sketch (approximate) or
    * percentile_disc's per-group sort. The oracle is an independent
    * formulation: row_number over the fully sorted values. */
  def exactMedianTwoPass(s: SparkSession, d: String): DataFrame = {
    val W = 65536L
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(round(col("value") * 1e6, 0).cast("long").as("q"))
    val tot = ev.agg(count(lit(1)).as("n"))
      .select(col("n"), expr("(n + 1) div 2").as("k"))
    val hist = ev.groupBy(expr(s"q div $W").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .withColumn("prev", col("cum") - col("c"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= col("k") && col("prev") < col("k"))
      .select(col("bin"), (col("k") - col("prev")).as("k_in_bin"),
        col("n"), col("k"))
    val inBin = ev
      .join(broadcast(cand), expr(s"q div $W") === col("bin"))
      .groupBy("q", "k_in_bin", "n", "k")
      .agg(count(lit(1)).as("cq"))
    val wq = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBin
      .withColumn("cumq", sum(col("cq")).over(wq))
      .filter(col("cumq") >= col("k_in_bin") &&
        col("cumq") - col("cq") < col("k_in_bin"))
      .select(col("n"), col("k"), (col("q").cast("double") / 1e6).as("median"))
  }

  // ----------------------------------------------- grouped_median_twopass

  /** The per-GROUP form of [[exactMedianTwoPass]]: exact lower median of
    * `value` for every event_type, with NO per-group sort — the shape
    * `percentile_disc(...) OVER/GROUP BY` cannot take at 100 TB (it sorts
    * each group). Same two grouped scans: pass 1 counts per (group,
    * coarse-bin) and a window PARTITIONED BY GROUP over the bin table
    * (rows bounded by groups × domain/65536, never the corpus) locates
    * each group's rank-k bin; pass 2 counts per (group, distinct value)
    * inside the ≤65536-value target bins and the same prefix logic picks
    * each group's value. Both shuffles are plain hash partitions on the
    * group key — the aggregation-only plan that scales with executors. */
  def groupedMedianTwoPass(s: SparkSession, d: String): DataFrame = {
    val W = 65536L
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type").as("g"),
        round(col("value") * 1e6, 0).cast("long").as("q"))
    val tot = ev.groupBy("g").agg(count(lit(1)).as("n"))
      .select(col("g"), col("n"), expr("(n + 1) div 2").as("k"))
    val hist = ev.groupBy(col("g"), expr(s"q div $W").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("g").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .withColumn("prev", col("cum") - col("c"))
      .join(tot, Seq("g"))
      .filter(col("cum") >= col("k") && col("prev") < col("k"))
      .select(col("g").as("cg"), col("bin"), (col("k") - col("prev")).as("k_in_bin"),
        col("n"), col("k"))
    val inBin = ev
      .join(cand, col("g") === col("cg") && expr(s"q div $W") === col("bin"))
      .groupBy("g", "q", "k_in_bin", "n", "k")
      .agg(count(lit(1)).as("cq"))
    val wq = Window.partitionBy("g").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBin
      .withColumn("cumq", sum(col("cq")).over(wq))
      .filter(col("cumq") >= col("k_in_bin") &&
        col("cumq") - col("cq") < col("k_in_bin"))
      .select(col("g").as("event_type"), col("n"), col("k"),
        (col("q").cast("double") / 1e6).as("median"))
  }

  private val groupedMedianSql: String = """
WITH q AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
    CAST((count(*) + 1) // 2 AS BIGINT) AS k
  FROM q GROUP BY g
)
SELECT t.g AS event_type, t.n, t.k, CAST(s.q AS DOUBLE) / 1e6 AS median
FROM t JOIN (
  SELECT g, q, row_number() OVER (PARTITION BY g ORDER BY q) AS rn FROM q
) s ON s.g = t.g AND s.rn = t.k"""

  private val exactMedianSql: String = """
WITH q AS (
  SELECT CAST(round(value * 1e6) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST((count(*) + 1) // 2 AS BIGINT) AS k
  FROM q
)
SELECT t.n, t.k, CAST(s.q AS DOUBLE) / 1e6 AS median
FROM t JOIN (
  SELECT q, row_number() OVER (ORDER BY q) AS rn FROM q
) s ON s.rn = t.k"""

  /** Exact 10%-trimmed and winsorized means per order priority — the
    * robust-statistics pair every data-quality pipeline wants, computed
    * EXACTLY at scale with the binned-selection discipline of
    * [[groupedMedianTwoPass]] (never a per-group window over raw rows):
    *
    *  1. bin histogram per (group, q div 65536) carrying count AND sum;
    *  2. a window over the BIN aggregate (≤ value-range/65536 rows per
    *     group) locates the ≤2 "anchor" bins holding the trim ranks
    *     k_lo = n div 10 + 1 and k_hi = n − n div 10;
    *  3. bins strictly inside the trim window contribute their whole
    *     (count, sum) via one conditional aggregate — no value-level work;
    *  4. only anchor-bin VALUES are re-scanned: per distinct value the
    *     rank-interval overlap contribution
    *     max(0, min(le,k_hi) − max(lt,k_lo−1)) — exact under ties — plus
    *     the boundary order statistics v_lo/v_hi;
    *  5. winsorized sum = trimmed sum + (k_lo−1)·v_lo + (n−k_hi)·v_hi
    *     (identical to rank-clamping, including tie semantics).
    *
    * All sums are int64 cents (|Σ| < 9e14 at sf5 — headroom 1e4; a 100 TB
    * deployment would swap in Sum128); divisions happen once, after the
    * final reduction, in lock-step operand order with the oracle. */
  def trimmedStats(s: SparkSession, d: String): DataFrame = {
    val W = 65536L
    val ev = Tables.orders(s, d)
      .select(col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100, 0).cast("long").as("q"))
    val tot = ev.groupBy("g").agg(count(lit(1)).as("n"))
      .select(col("g"), col("n"),
        expr("n div 10 + 1").as("k_lo"), expr("n - n div 10").as("k_hi"))
    val hist = ev.groupBy(col("g"), expr(s"q div $W").as("bin"))
      .agg(count(lit(1)).as("c"), sum(col("q")).as("sq"))
    val wb = Window.partitionBy("g").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .withColumn("prev", col("cum") - col("c"))
      .join(tot, Seq("g"))
    val anchor = (col("prev") < col("k_lo") && col("cum") >= col("k_lo")) ||
      (col("prev") < col("k_hi") && col("cum") >= col("k_hi"))
    val mid = cum.groupBy("g").agg(
      sum(when(!anchor && col("prev") >= col("k_lo") - 1 && col("cum") <= col("k_hi"),
        col("sq")).otherwise(0L)).as("mid_sum"))
    val cand = cum.filter(anchor)
      .select(col("g").as("cg"), col("bin"), col("prev"),
        col("k_lo").as("klo"), col("k_hi").as("khi"))
    val wq = Window.partitionBy("cg", "bin").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vals = ev
      .join(cand, col("g") === col("cg") && expr(s"q div $W") === col("bin"))
      .groupBy("cg", "bin", "q", "prev", "klo", "khi")
      .agg(count(lit(1)).as("cq"))
      .withColumn("le", col("prev") + sum(col("cq")).over(wq))
      .withColumn("lt", col("le") - col("cq"))
      .groupBy(col("cg").as("g")).agg(
        sum(col("q") * greatest(lit(0L),
          least(col("le"), col("khi")) - greatest(col("lt"), col("klo") - 1)))
          .as("b_sum"),
        min(when(col("le") >= col("klo") && col("lt") < col("klo"), col("q")))
          .as("v_lo"),
        min(when(col("le") >= col("khi") && col("lt") < col("khi"), col("q")))
          .as("v_hi"))
    tot.join(mid, Seq("g")).join(vals, Seq("g"))
      .withColumn("trim_sum", col("mid_sum") + col("b_sum"))
      .withColumn("trim_cnt", col("k_hi") - col("k_lo") + 1)
      .withColumn("win_sum", col("trim_sum")
        + (col("k_lo") - 1) * col("v_lo") + (col("n") - col("k_hi")) * col("v_hi"))
      .select(col("g").as("o_orderpriority"), col("n"), col("k_lo"), col("k_hi"),
        (col("v_lo").cast("double") / 100.0).as("p10"),
        (col("v_hi").cast("double") / 100.0).as("p90"),
        (col("trim_sum").cast("double") / col("trim_cnt").cast("double") / 100.0)
          .as("trimmed_mean"),
        (col("win_sum").cast("double") / col("n").cast("double") / 100.0)
          .as("winsorized_mean"))
  }

  // Independent twin: the oracle ranks every row with row_number (fine
  // single-threaded) and derives the same statistics from rank windows and
  // value clamping — a different formulation proving the binned selection.
  private val trimmedStatsSql: String = """
WITH q AS (
  SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS q
  FROM orders
), t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
    CAST(count(*) // 10 + 1 AS BIGINT) AS k_lo,
    CAST(count(*) - count(*) // 10 AS BIGINT) AS k_hi
  FROM q GROUP BY g
), rk AS (
  SELECT g, q, row_number() OVER (PARTITION BY g ORDER BY q) AS rn FROM q
), j AS (
  SELECT rk.g, rk.q, rk.rn, t.n, t.k_lo, t.k_hi
  FROM rk JOIN t ON rk.g = t.g
), bounds AS (
  SELECT g, min(CASE WHEN rn = k_lo THEN q END) AS v_lo,
         min(CASE WHEN rn = k_hi THEN q END) AS v_hi
  FROM j GROUP BY g
), agg AS (
  SELECT j.g, j.n, j.k_lo, j.k_hi, b.v_lo, b.v_hi,
    CAST(sum(CASE WHEN j.rn BETWEEN j.k_lo AND j.k_hi THEN j.q ELSE 0 END) AS BIGINT)
      AS trim_sum,
    CAST(sum(CASE WHEN j.q < b.v_lo THEN b.v_lo
                  WHEN j.q > b.v_hi THEN b.v_hi
                  ELSE j.q END) AS BIGINT) AS win_sum
  FROM j JOIN bounds b ON j.g = b.g
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT g AS o_orderpriority, n, k_lo, k_hi,
  CAST(v_lo AS DOUBLE) / 100.0 AS p10,
  CAST(v_hi AS DOUBLE) / 100.0 AS p90,
  CAST(trim_sum AS DOUBLE) / CAST(k_hi - k_lo + 1 AS DOUBLE) / 100.0 AS trimmed_mean,
  CAST(win_sum AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean
FROM agg"""

  /** Exact p50/p90/p99 per event type in ONE binned-selection pass — the
    * latency-report staple, generalizing [[groupedMedianTwoPass]] from one
    * target rank to many: the bin histogram and its per-group window are
    * built once, each (group, percentile) target locates its anchor bin
    * against that shared cumulative, and a single value-level re-scan of
    * the ≤3 anchor bins per group resolves all targets (nearest-rank
    * k = ceil(p·n/100), exact under ties). Adding percentiles costs one
    * more row in the bounded target dim — never another pass over the
    * data. */
  def groupedQuantilesExact(s: SparkSession, d: String): DataFrame = {
    val W = 65536L
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type").as("g"),
        round(col("value") * 1e6, 0).cast("long").as("q"))
    val targets = ev.groupBy("g").agg(count(lit(1)).as("n"))
      .selectExpr("g", "n", """stack(3,
          50, (n * 50 + 99) div 100,
          90, (n * 90 + 99) div 100,
          99, (n * 99 + 99) div 100) AS (pct, k)""")
    val hist = ev.groupBy(col("g"), expr(s"q div $W").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("g").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .withColumn("prev", col("cum") - col("c"))
    val cand = targets.join(cum, Seq("g"))
      .filter(col("cum") >= col("k") && col("prev") < col("k"))
      .select(col("g").as("cg"), col("bin"), col("pct"), col("n"), col("k"),
        (col("k") - col("prev")).as("k_in_bin"))
    val wq = Window.partitionBy("cg", "pct").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(cand, col("g") === col("cg") && expr(s"q div $W") === col("bin"))
      .groupBy("cg", "pct", "q", "k_in_bin", "n", "k")
      .agg(count(lit(1)).as("cq"))
      .withColumn("cumq", sum(col("cq")).over(wq))
      .filter(col("cumq") >= col("k_in_bin") &&
        col("cumq") - col("cq") < col("k_in_bin"))
      .select(col("cg").as("event_type"), col("pct"), col("n"), col("k"),
        (col("q").cast("double") / 1e6).as("value"))
  }

  // Independent twin: plain per-group row_number ranking, one join per
  // percentile target — a different formulation proving the shared-pass
  // binned selection.
  private val groupedQuantilesSql: String = """
WITH q AS (
  SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY g
), targets AS (
  SELECT g, n, 50 AS pct, (n * 50 + 99) // 100 AS k FROM t
  UNION ALL SELECT g, n, 90, (n * 90 + 99) // 100 FROM t
  UNION ALL SELECT g, n, 99, (n * 99 + 99) // 100 FROM t
), rk AS (
  SELECT g, q, row_number() OVER (PARTITION BY g ORDER BY q) AS rn FROM q
)
SELECT targets.g AS event_type, targets.pct, targets.n, targets.k,
  CAST(rk.q AS DOUBLE) / 1e6 AS value
FROM targets JOIN rk ON rk.g = targets.g AND rk.rn = targets.k"""

  // ----------------------------------------------- quantile_normalize --

  /** Quantile normalization: map every purchase-event value onto the
    * click-event value DISTRIBUTION by relative rank — the feature-prep
    * transform that forces one column's distribution onto a reference
    * (microarray normalization, rank-based feature scaling). Source rank
    * r of n maps to reference index ceil(r·m/n) ∈ [1, m], computed as the
    * exact integer (r·m + n − 1) div n; the mapped value is the reference
    * value at that rank. Both rankings use the DISTRIBUTED exact rank
    * ([[graft.operators.Ranks.globalRowNumber]], never a single-task
    * global window), the counts
    * stay in-plan as broadcast 1-row frames, and the mapping is one
    * integer equi-join — every stage shuffles on keys, nothing collects.
    * Rank ties on equal values order by event_id on both engines; the
    * mapped value at a given index is invariant to tie order anyway
    * (tied rows carry the same value). */
  def quantileNormalize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("event_id"), round(col("value") * 1e6, 0).cast("long").as("q"))
    val src = graft.operators.Ranks.globalRowNumber(
      side("purchase"), Seq(col("q"), col("event_id")), "r")
    val ref = graft.operators.Ranks.globalRowNumber(
      side("click"), Seq(col("q"), col("event_id")), "rr")
      .select(col("rr"), col("q").as("q_ref"))
    val n = side("purchase").agg(count(lit(1)).as("n"))
    val m = side("click").agg(count(lit(1)).as("m"))
    src.crossJoin(broadcast(n)).crossJoin(broadcast(m))
      .withColumn("idx", expr("(r * m + n - 1) div n"))
      .join(ref, col("idx") === col("rr"))
      .select(col("event_id"), col("q"), col("r"), col("idx"),
        col("q_ref"),
        (col("q_ref").cast("double") / 1e6).as("normalized_value"))
  }

  val quantileNormalizeSql: String = """
WITH src AS (
  SELECT event_id, CAST(round(value * 1e6, 0) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
), ref AS (
  SELECT event_id, CAST(round(value * 1e6, 0) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL AND event_type = 'click'
), sr AS (
  SELECT event_id, q,
    CAST(row_number() OVER (ORDER BY q, event_id) AS BIGINT) AS r
  FROM src
), rr AS (
  SELECT CAST(row_number() OVER (ORDER BY q, event_id) AS BIGINT) AS rr,
    q AS q_ref
  FROM ref
), c AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM src) AS n,
         (SELECT CAST(count(*) AS BIGINT) FROM ref) AS m
)
SELECT sr.event_id, sr.q, sr.r, (sr.r * c.m + c.n - 1) // c.n AS idx,
  rr.q_ref, CAST(rr.q_ref AS DOUBLE) / 1e6 AS normalized_value
FROM sr CROSS JOIN c
JOIN rr ON (sr.r * c.m + c.n - 1) // c.n = rr.rr"""

  // ------------------------------------------------- cuped_adjustment --

  /** CUPED variance reduction for an A/B readout (Deng et al., WSDM'13):
    * the experiment metric is each user's post-period spend, the
    * covariate is the same user's PRE-period spend, and the adjusted
    * metric Y − θ(X − X̄) removes the between-user variance the
    * pre-period already explains. θ = cov(X,Y)/var(X) is computed from
    * exact pooled moments; the report shows, per variant (user_id % 2),
    * the raw and adjusted means and the variance reduction the
    * adjustment buys. Scale shape: one scan with the in-plan midpoint
    * cutoff (the split_leakage_audit pattern), one user-keyed groupBy,
    * one 2-row moments groupBy (per-user products stay exact: cents ≤
    * ~5·10⁶ per user, squares ≤ 2⁵³, summed on the int128 [[Sum128]]
    * path), then closed-form doubles — no second pass over the data, no
    * per-user join-back (the adjusted aggregates expand algebraically:
    * Σadj = Sy − θ(Sx − n·X̄), var(Y−θX) = var Y − 2θcov + θ²var X).
    * The 2-row moments frame is lazily checkpointed: theta needs the
    * pooled sums of exactly those rows. */
  def cupedAdjustment(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val cut = ev.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .select(expr("lo + (hi - lo) div 2").as("cutoff"))
    val perUser = ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(
        sum(when(col("t") < col("cutoff"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("t") >= col("cutoff"), col("cents")).otherwise(0L)).as("y"))
      .select(col("user_id") % 2 as "variant", col("x"), col("y"))
    val m = perUser.groupBy("variant")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        // cast to double BEFORE multiplying (ADVICE r14): a Long×Long
        // product past 2^63 wraps silently in Spark while the oracle's
        // BIGINT multiply raises — the double product is exact for the
        // documented ≤2^26.5 per-user cent magnitudes and degrades
        // gracefully (identically on both engines) beyond them
        graft.expr.Sum128.sum128(
          col("x").cast("double") * col("x").cast("double"), 0).as("sxx"),
        graft.expr.Sum128.sum128(
          col("y").cast("double") * col("y").cast("double"), 0).as("syy"),
        graft.expr.Sum128.sum128(
          col("x").cast("double") * col("y").cast("double"), 0).as("sxy"))
      .localCheckpoint(false) // 2 rows; feeds both the pooled θ and the report
    val g = m.agg(sum("n").as("gn"), sum("sx").as("gsx"), sum("sy").as("gsy"),
        sum("sxx").as("gsxx"), sum("sxy").as("gsxy"))
      .select(col("gn"), col("gsx"), col("gsy"),
        (col("gn").cast("double") * col("gsxy") -
          col("gsx").cast("double") * col("gsy").cast("double")).as("num"),
        (col("gn").cast("double") * col("gsxx") -
          col("gsx").cast("double") * col("gsx").cast("double")).as("den"))
      .select(col("gn"), col("gsx"),
        when(col("den") === 0.0, lit(0.0))
          .otherwise(col("num") / col("den")).as("theta"))
    m.crossJoin(broadcast(g))
      .withColumn("mean_x_g", col("gsx").cast("double") / col("gn").cast("double"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("mean_post", col("sy").cast("double") / col("nn"))
      .withColumn("mean_adj",
        (col("sy").cast("double") - col("theta") *
          (col("sx").cast("double") - col("nn") * col("mean_x_g"))) / col("nn"))
      .withColumn("var_post",
        col("syy") / col("nn") - (col("sy").cast("double") / col("nn")) *
          (col("sy").cast("double") / col("nn")))
      .withColumn("cov_v",
        col("sxy") / col("nn") - (col("sx").cast("double") / col("nn")) *
          (col("sy").cast("double") / col("nn")))
      .withColumn("var_x",
        col("sxx") / col("nn") - (col("sx").cast("double") / col("nn")) *
          (col("sx").cast("double") / col("nn")))
      .withColumn("var_adj",
        col("var_post") - (lit(2.0) * col("theta")) * col("cov_v") +
          (col("theta") * col("theta")) * col("var_x"))
      .withColumn("var_reduction",
        when(col("var_post") === 0.0, lit(0.0))
          .otherwise(lit(1.0) - col("var_adj") / col("var_post")))
      .select(col("variant"), col("n").as("n_users"), col("theta"),
        col("mean_post"), col("mean_adj"), col("var_post"), col("var_adj"),
        col("var_reduction"))
  }

  val cupedSql: String = {
    val sxx = graft.expr.Sum128.sql("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)", 0)
    val syy = graft.expr.Sum128.sql("CAST(y AS DOUBLE) * CAST(y AS DOUBLE)", 0)
    val sxy = graft.expr.Sum128.sql("CAST(x AS DOUBLE) * CAST(y AS DOUBLE)", 0)
    s"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT min(t) + (max(t) - min(t)) // 2 AS cutoff FROM ev
), pu AS (
  SELECT user_id % 2 AS variant,
    CAST(sum(CASE WHEN t < cutoff THEN cents ELSE 0 END) AS BIGINT) AS x,
    CAST(sum(CASE WHEN t >= cutoff THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM ev CROSS JOIN c GROUP BY user_id, cutoff
), m AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    $sxx AS sxx, $syy AS syy, $sxy AS sxy
  FROM pu GROUP BY variant
), g AS (
  SELECT gn, gsx,
    CASE WHEN den = 0.0 THEN 0.0 ELSE num / den END AS theta
  FROM (
    SELECT gn, gsx,
      CAST(gn AS DOUBLE) * gsxy - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE) AS num,
      CAST(gn AS DOUBLE) * gsxx - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) AS den
    FROM (
      SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(sx) AS BIGINT) AS gsx,
        CAST(sum(sy) AS BIGINT) AS gsy, sum(sxx) AS gsxx, sum(sxy) AS gsxy
      FROM m))
), e2 AS (
  SELECT m.variant, m.n, g.theta,
    CAST(g.gsx AS DOUBLE) / CAST(g.gn AS DOUBLE) AS mean_x_g,
    CAST(m.n AS DOUBLE) AS nn,
    m.sx, m.sy, m.sxx, m.syy, m.sxy
  FROM m CROSS JOIN g
), e3 AS (
  SELECT variant, n, theta, nn,
    CAST(sy AS DOUBLE) / nn AS mean_post,
    (CAST(sy AS DOUBLE) - theta * (CAST(sx AS DOUBLE) - nn * mean_x_g)) / nn AS mean_adj,
    syy / nn - (CAST(sy AS DOUBLE) / nn) * (CAST(sy AS DOUBLE) / nn) AS var_post,
    sxy / nn - (CAST(sx AS DOUBLE) / nn) * (CAST(sy AS DOUBLE) / nn) AS cov_v,
    sxx / nn - (CAST(sx AS DOUBLE) / nn) * (CAST(sx AS DOUBLE) / nn) AS var_x
  FROM e2
)
SELECT variant, n AS n_users, theta, mean_post, mean_adj, var_post,
  var_post - (2.0 * theta) * cov_v + (theta * theta) * var_x AS var_adj,
  CASE WHEN var_post = 0.0 THEN 0.0
    ELSE 1.0 - (var_post - (2.0 * theta) * cov_v + (theta * theta) * var_x) / var_post
  END AS var_reduction
FROM e3"""
  }

  // ----------------------------------------------------- kendall_tau --

  /** Kendall rank correlation (τ-b, tie-corrected) between monthly revenue
    * and monthly shipped quantity. Concordance is quadratic in the series
    * length, so the pair enumeration runs over the BOUNDED month grid
    * (length = calendar span, not row count): the scalable work is the
    * one map-side-combinable groupBy over lineitem; the self-join rides
    * the bounded aggregate with a broadcast side, and one grand aggregate
    * folds exact BIGINT concordant/discordant/tie counts. τ-b's closing
    * sqrt runs on tiny exact integers — the [[spearmanRho]] discipline.
    * (An O(n log n) inversion count replaces the self-join when the
    * series itself grows with the data.) */
  def kendallTau(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.lineitem(s, d)
      .select(date_trunc("month", col("l_shipdate")).as("month"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        floor(col("l_quantity")).cast("long").as("qty"))
      .groupBy("month")
      .agg(sum("cents").as("x"), sum("qty").as("y"))
      .localCheckpoint(false) // bounded grid; feeds both join sides + n
    val m1 = monthly.select(col("month").as("mo1"), col("x").as("x1"), col("y").as("y1"))
    val m2 = monthly.select(col("month").as("mo2"), col("x").as("x2"), col("y").as("y2"))
    val pairs = m1.join(broadcast(m2), col("mo1") < col("mo2"))
      .agg(
        graft.expr.Exact.cntIf(
          (col("x1") < col("x2") && col("y1") < col("y2")) ||
          (col("x1") > col("x2") && col("y1") > col("y2"))).as("concordant"),
        graft.expr.Exact.cntIf(
          (col("x1") < col("x2") && col("y1") > col("y2")) ||
          (col("x1") > col("x2") && col("y1") < col("y2"))).as("discordant"),
        graft.expr.Exact.cntIf(col("x1") === col("x2")).as("ties_x"),
        graft.expr.Exact.cntIf(col("y1") === col("y2")).as("ties_y"))
    val n = monthly.agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(n))
      .withColumn("n0", expr("n * (n - 1) div 2")) // BIGINT div, not `/` (double)
      .select(col("n"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        ((col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n0") - col("ties_x")) * (col("n0") - col("ties_y")))
            .cast("double"))).as("tau_b"))
  }

  val kendallSql: String = """
WITH monthly AS (
  SELECT date_trunc('month', l_shipdate) AS month,
    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x,
    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
), pairs AS (
  SELECT
    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y) OR (a.x > b.x AND a.y > b.y)
      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y) OR (a.x > b.x AND a.y < b.y)
      THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM monthly a JOIN monthly b ON a.month < b.month
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n0
  FROM monthly
)
SELECT n, concordant, discordant, ties_x, ties_y,
  CAST(concordant - discordant AS DOUBLE)
    / sqrt(CAST((n0 - ties_x) * (n0 - ties_y) AS DOUBLE)) AS tau_b
FROM pairs CROSS JOIN nn"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quantile_normalize" -> ((s, d) => quantileNormalize(s, d)),
    "exact_median_twopass" -> ((s, d) => exactMedianTwoPass(s, d)),
    "trimmed_stats" -> ((s, d) => trimmedStats(s, d)),
    "grouped_quantiles_exact" -> ((s, d) => groupedQuantilesExact(s, d)),
    "grouped_median_twopass" -> ((s, d) => groupedMedianTwoPass(s, d)),
    "cuped_adjustment" -> ((s, d) => cupedAdjustment(s, d)),
    "kendall_tau"   -> ((s, d) => kendallTau(s, d)),
    "ks_statistic"  -> ((s, d) => ksStatistic(s, d)),
    "mannwhitney_u" -> ((s, d) => mannWhitneyU(s, d)),
    "spearman_rho"  -> ((s, d) => spearmanRho(s, d)),
    "theil_sen_trend" -> ((s, d) => theilSenTrend(s, d)),
    "welch_ttest"   -> ((s, d) => welchTTest(s, d)),
    "acf_lags"      -> ((s, d) => acfLags(s, d))
  )

  def oracles: Map[String, String] = Map(
    "quantile_normalize" -> quantileNormalizeSql,
    "exact_median_twopass" -> exactMedianSql,
    "trimmed_stats" -> trimmedStatsSql,
    "grouped_quantiles_exact" -> groupedQuantilesSql,
    "grouped_median_twopass" -> groupedMedianSql,
    "cuped_adjustment" -> cupedSql,
    "kendall_tau"   -> kendallSql,
    "ks_statistic"  -> ksSql,
    "mannwhitney_u" -> mannWhitneySql,
    "spearman_rho"  -> spearmanSql,
    "theil_sen_trend" -> theilSenSql,
    "welch_ttest"   -> welchSql,
    "acf_lags"      -> acfSql
  )
}
