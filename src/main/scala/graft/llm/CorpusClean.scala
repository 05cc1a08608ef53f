package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The end-to-end training-data curation pipeline, composed from the
  * verified pieces: per-doc quality scoring → quality filter → exact dedup
  * (keep min doc_id per normalized fingerprint) → near-dup removal (drop
  * the higher doc_id of every Jaccard ≥ τ pair).
  *
  * This is the query a user of the engine actually runs over a raw corpus;
  * each stage is one shuffle (fingerprint window, gram join) and the output
  * is deterministic, so the whole five-stage pipeline is DuckDB-oracle
  * checked end to end.
  */
object CorpusClean {

  val QualityThreshold = 0.5

  /** Hashed feature space of the linear quality classifier. */
  val ClfDim = 1024L
  private val P = 1000000007L

  /** fastText-style linear quality classifier: hashed bag of word unigrams
    * + bigrams (the hashing trick — no vocabulary pass, streaming/100 TB
    * friendly), dotted with a broadcast D-row weight vector, thresholded
    * WITHOUT a sigmoid (sigmoid(m) ≥ 1/2 ⟺ m ≥ 0, so the keep/drop
    * decision and the ranking are pure integer arithmetic; the only float
    * is the final length-normalized score, one exact division). The
    * weights here are a deterministic literal dim standing in for trained
    * parameters — in production the same plan runs with a trained vector;
    * the plan shape (explode → hash → broadcast-join weights → per-doc
    * sum) is the entire operator.
    *
    * Columns: doc_id, n_terms, margin (Σ w·tf, BIGINT), score
    * (margin / (1000·n_terms), in [-1, 1]), keep (margin ≥ 0). */
  def classifierScores(s: SparkSession, d: String): DataFrame = {
    // weight vector as a literal broadcast dim: w(b) ∈ [-1000, 1000]
    val weights = s.range(0, ClfDim).select(col("id").as("b"),
      (((col("id") * 1103515245L + 12345L) % 2001L) - 1000L).as("wgt"))
    // Tokenize + bigram + char-polynomial hash in ONE imperative pass
    // (the [[TextDedup.gramSetsUncached]] trade: Catalyst's higher-order
    // aggregate() is interpreted per character — ~2.5s at sf0.1 vs 0.6s
    // for this loop). Semantics are bit-identical to Text.tokens /
    // Text.ngramsAll + the (a·131 + ascii) % P fold the oracle replays.
    val spark = s
    import spark.implicits._
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val sep = java.util.regex.Pattern.compile("[^a-z0-9]+")
        def bucketOf(t: String): Long = {
          var a = 0L; var i = 0
          while (i < t.length) { a = (a * 131L + t.charAt(i).toLong) % 1000000007L; i += 1 }
          a % ClfDim
        }
        it.flatMap { case (id, text) =>
          val toks = sep.split(text.toLowerCase).filter(_.nonEmpty)
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](toks.length * 2)
          var i = 0
          while (i < toks.length) {
            out += ((id, bucketOf(toks(i))))
            if (i + 1 < toks.length) out += ((id, bucketOf(toks(i) + " " + toks(i + 1))))
            i += 1
          }
          out
        }
      }
      .toDF("doc_id", "b")
    hashed
      .join(broadcast(weights), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("wgt")).as("margin"))
      .withColumn("score",
        col("margin").cast("double") / (col("n_terms") * 1000L).cast("double"))
      .withColumn("keep", col("margin") >= 0L)
  }

  private[llm] def classifierSql: String = {
    val ts = Text.tokensSql("text")
    // the token-array alias must differ from ngramsAllSql's internal `w`
    // alias — DuckDB treats a same-named outer column as a self-reference
    val bigrams = Text.ngramsAllSql("toks", 2)
    s"""
WITH base AS (
  SELECT doc_id, $ts AS toks FROM documents
),
terms AS (
  SELECT doc_id, unnest(toks || $bigrams) AS term FROM base
),
hashed AS (
  SELECT doc_id,
    (list_reduce([CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array(term, ''), c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*131 + b) % $P)) % $ClfDim AS b
  FROM terms
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(((b * 1103515245 + 12345) % 2001) - 1000) AS BIGINT) AS margin
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, n_terms, margin,
       CAST(margin AS DOUBLE) / CAST(n_terms * 1000 AS DOUBLE) AS score,
       margin >= 0 AS keep
FROM scored"""
  }

  /** Per-doc stats + exact-dedup keeper flag — THE stage definitions,
    * shared by [[clean]] and [[yieldFunnel]] so the pipeline and its
    * observability funnel cannot drift apart on an edit to either
    * (VERDICT r9 #3). Columns: doc_id, n_tokens, quality_score,
    * fingerprint, keeper (true ⟺ lowest doc_id of its fingerprint
    * group — the exact-dedup survivor). */
  private def statsWithKeeper(s: SparkSession, d: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val base = Tables.documents(s, d)
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("stops",
        size(filter(col("toks"), t => t.isin(TextAnalysis.Stopwords: _*))))
      // one scoring rule repo-wide (TextAnalysis.qualityExpr — shared with
      // doc_stats, dedup_keep_best, corpus_budget_select)
      .withColumn("quality_score",
        TextAnalysis.qualityExpr(col("n_tokens"), col("n_distinct"), col("stops")))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        sha2(array_join(col("toks"), " "), 256).as("fingerprint"))
    // keeper via per-fingerprint min AGGREGATION + join-back, not a window
    // keyed on content: a hot fingerprint (a boilerplate page duplicated
    // millions of times at corpus scale) would serialize one WindowExec
    // partition, while the aggregation combines map-side and the join's
    // skewed probe partitions are AQE-splittable (round-10 keyed-window
    // skew audit).
    val keepers = base.groupBy("fingerprint")
      .agg(min(col("doc_id")).as("_keep_id"))
    base.join(keepers, "fingerprint")
      .withColumn("keeper", col("doc_id") === col("_keep_id"))
      .drop("_keep_id")
  }

  /** Near-dup stage, shared by [[clean]] and [[yieldFunnel]]: the doc_ids
    * the keep-first policy drops (higher id of every verified pair). Pairs
    * come from the MinHash-banded candidates + exact verification
    * ([[TextDedup.nearDupPairs]]) — the same pair set as the exact
    * inverted-index join (the oracle's formulation) at banded cost, so the
    * near-dup stage scales like `dedup_minhash` instead of the exact
    * join's all-pairs cost (BASELINE.md). */
  private def nearDupLosers(s: SparkSession, d: String): DataFrame =
    TextDedup.nearDupPairs(s, d).select(col("d2").as("doc_id")).distinct()

  def clean(s: SparkSession, d: String): DataFrame = {
    val keepers = statsWithKeeper(s, d).filter(col("keeper"))

    // stage 6 — learned filter: the linear classifier's keep/drop on top
    // of the rule-based quality score (the standard curation stack runs
    // both: rules catch structural junk, the classifier catches fluent
    // junk the rules can't)
    val clf = classifierScores(s, d)
      .select(col("doc_id"), col("margin").as("clf_margin"), col("keep"))

    keepers
      .filter(col("quality_score") >= QualityThreshold)
      .join(nearDupLosers(s, d), Seq("doc_id"), "left_anti")
      .join(clf, Seq("doc_id"))
      .filter(col("keep"))
      .select("doc_id", "n_tokens", "quality_score", "clf_margin")
  }

  /** Per-stage survivor counts of the [[clean]] pipeline — the yield
    * funnel every curation dashboard tracks (how many documents each
    * filter kills is THE operating metric of a training-data pipeline; a
    * stage suddenly dropping 40% flags a broken filter or a poisoned
    * crawl). One pass computes per-doc stage flags (exact-dedup keeper,
    * quality, near-dup survivor, classifier keep), one aggregate counts
    * the five cumulative stages, `stack` unpivots to funnel rows — no
    * per-stage rescans. */
  def yieldFunnel(s: SparkSession, d: String): DataFrame = {
    val flags = statsWithKeeper(s, d)
      .withColumn("q_ok", col("quality_score") >= QualityThreshold)
      .select("doc_id", "keeper", "q_ok")
      .join(nearDupLosers(s, d).withColumn("is_loser", lit(true)), Seq("doc_id"), "left")
      .join(classifierScores(s, d).select(col("doc_id"), (col("margin") >= 0L).as("clf_ok")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("keeper"), col("q_ok"),
        coalesce(col("is_loser"), lit(false)).as("is_loser"),
        // docs with zero classifier terms have no score row and are
        // dropped by the pipeline's inner join — same semantics here
        coalesce(col("clf_ok"), lit(false)).as("clf_ok"))
    flags
      .agg(
        count(lit(1)).as("n0"),
        count(when(col("keeper"), 1)).as("n1"),
        count(when(col("keeper") && col("q_ok"), 1)).as("n2"),
        count(when(col("keeper") && col("q_ok") && !col("is_loser"), 1)).as("n3"),
        count(when(col("keeper") && col("q_ok") && !col("is_loser") && col("clf_ok"), 1)).as("n4"))
      .selectExpr(
        """stack(5,
             0, 'raw',         n0,
             1, 'exact_dedup', n1,
             2, 'quality',     n2,
             3, 'near_dedup',  n3,
             4, 'classifier',  n4) AS (stage, stage_name, n_docs)""")
  }

  /** Cohen's κ between the rule-based quality filter
    * ([[CorpusQuality]]'s `quality_keep`) and the learned classifier's
    * keep decision — the inter-filter agreement audit a curation team
    * runs before stacking filters (κ ≈ 1 means the classifier is
    * redundant with the rules; κ ≈ 0 means it catches orthogonal junk).
    * The 2×2 contingency table is one aggregate of integer counts;
    * po, pe and κ are single double divisions of integer-exact
    * numerators/denominators (κ = (n·(a+d) − (a+b)(a+c) − (c+d)(b+d)) /
    * (n² − (a+b)(a+c) − (c+d)(b+d))), so the oracle matches exactly.
    * Docs with no classifier terms have no keep decision and are
    * excluded (inner join), matching the pipeline's own join. */
  def filterAgreementKappa(s: SparkSession, d: String): DataFrame = {
    val rules = CorpusQuality.queries("doc_quality_rules")(s, d)
      .select(col("doc_id"), col("quality_keep"))
    val clf = classifierScores(s, d)
      .select(col("doc_id"), col("keep").as("clf_keep"))
    val c = rules.join(clf, "doc_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("quality_keep") && col("clf_keep"), 1L).otherwise(0L)).as("both_keep"),
      sum(when(col("quality_keep") && !col("clf_keep"), 1L).otherwise(0L)).as("rules_only"),
      sum(when(!col("quality_keep") && col("clf_keep"), 1L).otherwise(0L)).as("clf_only"),
      sum(when(!col("quality_keep") && !col("clf_keep"), 1L).otherwise(0L)).as("both_drop"))
    val agree = col("both_keep") + col("both_drop")
    val peNum = (col("both_keep") + col("rules_only")) * (col("both_keep") + col("clf_only")) +
      (col("clf_only") + col("both_drop")) * (col("rules_only") + col("both_drop"))
    // κ's denominator n² − peNum is zero exactly when both filters are
    // unanimous (pe = 1): agreement is trivially perfect and κ is
    // undefined — pin it to 0.0 with the SAME CASE in the oracle so Spark
    // (which would emit NaN) and DuckDB agree on the degenerate corpus
    // (ADVICE r9).
    val kappaDenom = col("n") * col("n") - peNum
    c.select(
      col("n"), col("both_keep"), col("rules_only"), col("clf_only"), col("both_drop"),
      (agree.cast("double") / col("n").cast("double")).as("po"),
      (peNum.cast("double") / (col("n") * col("n")).cast("double")).as("pe"),
      when(kappaDenom === 0L, lit(0.0))
        .otherwise((col("n") * agree - peNum).cast("double") / kappaDenom.cast("double"))
        .as("kappa"))
  }

  /** Classifier evaluation against the Gopher rule battery as ground
    * truth: confusion counts, precision/recall/F1 (exact rationals, one
    * division each), and AUC via the Mann-Whitney rank identity
    * AUC = (Σ rank(pos) − P(P+1)/2) / (P·N) over the ascending-score
    * ranking. The global ranking uses the DISTRIBUTED exact rank
    * ([[graft.operators.Ranks.globalRowNumber]] — never an unpartitioned
    * row_number window), so the
    * metric computes at corpus scale; everything after the rank is ONE
    * grand aggregate of integer sums. Score ties rank by doc_id on both
    * engines (the convention stands in for midrank tie handling — the
    * tie-break is pinned rather than averaged, identically on both
    * sides). Degenerate denominators (no predicted positives, no actual
    * positives/negatives) pin the metric to 0.0 with the SAME CASE in the
    * oracle — the [[filterAgreementKappa]] discipline. */
  def classifierEval(s: SparkSession, d: String): DataFrame = {
    val labels = CorpusQuality.queries("doc_quality_rules")(s, d)
      .select(col("doc_id"), col("quality_keep"))
    val clf = classifierScores(s, d)
      .select(col("doc_id"), col("keep").as("pred_keep"), col("score"))
    val joined = labels.join(clf, "doc_id")
    val ranked = graft.operators.Ranks.globalRowNumber(
      joined, Seq(col("score"), col("doc_id")), "r")
    def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val c = ranked.agg(
      count(lit(1)).as("n"),
      cnt(col("quality_keep") && col("pred_keep")).as("tp"),
      cnt(!col("quality_keep") && col("pred_keep")).as("fp"),
      cnt(col("quality_keep") && !col("pred_keep")).as("fn"),
      cnt(!col("quality_keep") && !col("pred_keep")).as("tn"),
      sum(when(col("quality_keep"), col("r")).otherwise(0L)).as("rank_sum_pos"))
    val p = col("tp") + col("fn"); val neg = col("fp") + col("tn")
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0L, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    c.select(
      col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"),
      // doubled numerator/denominator keep p(p+1)/2 in integer space
      // (Column `/` on BIGINTs is a double divide in Spark)
      ratio(lit(2L) * col("rank_sum_pos") - p * (p + 1L), lit(2L) * p * neg)
        .as("auc"))
  }

  /** Calibration (reliability) table of the linear classifier against the
    * Gopher labels: the [-1, 1] score axis in 10 fixed-width bins, per bin
    * the doc count, mean predicted score (confidence — summed as exact
    * fixed-point BIGINTs, one final division) and empirical positive rate.
    * One scan + one 10-row groupBy — partial-aggregable end to end; the
    * bin id is a floor over the same one-division double both engines
    * compute identically. */
  def scoreCalibration(s: SparkSession, d: String): DataFrame = {
    val labels = CorpusQuality.queries("doc_quality_rules")(s, d)
      .select(col("doc_id"), col("quality_keep"))
    val clf = classifierScores(s, d).select(col("doc_id"), col("score"))
    labels.join(clf, "doc_id")
      .withColumn("bin",
        least(floor((col("score") + lit(1.0)) * lit(5.0)), lit(9L)).cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("score") * 1e6, 0).cast("long")).as("conf_num"),
        sum(when(col("quality_keep"), 1L).otherwise(0L)).as("n_pos"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        (col("conf_num").cast("double") / col("n").cast("double") / 1e6)
          .as("mean_score"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_clean" -> ((s, d) => clean(s, d)),
    "corpus_yield_funnel" -> ((s, d) => yieldFunnel(s, d)),
    "filter_agreement_kappa" -> ((s, d) => filterAgreementKappa(s, d)),
    "classifier_eval" -> ((s, d) => classifierEval(s, d)),
    "score_calibration" -> ((s, d) => scoreCalibration(s, d)),
    // Learned-filter ranking surface: the 50 highest-scoring documents
    // under the hashed linear classifier (TakeOrdered top-k, never a
    // global sort).
    "quality_score_topk" -> ((s, d) =>
      classifierScores(s, d).orderBy(col("score").desc, col("doc_id")).limit(50))
  )

  def oracles: Map[String, String] = {
    val ts = Text.tokensSql("text")
    // the pipeline CTE stack, shared verbatim by the corpus_clean and
    // corpus_yield_funnel oracles (the funnel IS the pipeline, counted
    // per stage)
    val pipelineCtes = s"""base AS (
  SELECT doc_id, $ts AS toks FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in'))) AS INT) AS stops,
    sha256(array_to_string(toks, ' ')) AS fingerprint
  FROM base
),
q AS (
  SELECT doc_id, n_tokens, fingerprint,
    least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(50.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
    + (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * CAST(0.3 AS DOUBLE)
    + least(CAST(1.0 AS DOUBLE), (CAST(stops AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * CAST(5.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
      AS quality_score
  FROM m
),
keepers AS (
  SELECT * FROM (
    SELECT q.*, MIN(doc_id) OVER (PARTITION BY fingerprint) AS keeper FROM q
  ) WHERE doc_id = keeper
),
ng AS (
  SELECT doc_id, ${Text.ngramsSql(ts, 3)} AS grams FROM documents
),
flat AS (SELECT doc_id, unnest(grams) AS g FROM ng),
sizes AS (SELECT doc_id, CAST(len(grams) AS INT) AS n FROM ng),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS INT) AS i
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
losers AS (
  SELECT DISTINCT d2 AS doc_id
  FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
  WHERE CAST(i AS DOUBLE) / CAST(s1.n + s2.n - i AS DOUBLE) >= ${TextDedup.JaccardThreshold}
),
cterms AS (
  SELECT doc_id, unnest(toks || ${Text.ngramsAllSql("toks", 2)}) AS term FROM base
),
chashed AS (
  SELECT doc_id,
    (list_reduce([CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array(term, ''), c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*131 + b) % 1000000007) ) % $ClfDim AS b
  FROM cterms
),
cmargin AS (
  SELECT doc_id,
         CAST(sum(((b * 1103515245 + 12345) % 2001) - 1000) AS BIGINT) AS clf_margin
  FROM chashed GROUP BY doc_id
)"""
    Map("corpus_clean" -> s"""
WITH $pipelineCtes
SELECT k.doc_id, k.n_tokens, k.quality_score, c.clf_margin
FROM keepers k JOIN cmargin c ON k.doc_id = c.doc_id
WHERE k.quality_score >= $QualityThreshold
  AND k.doc_id NOT IN (SELECT doc_id FROM losers)
  AND c.clf_margin >= 0""",

    // Mirrors [[yieldFunnel]]: each stage's cumulative survivor count out
    // of the SAME CTE stack corpus_clean selects from.
    "corpus_yield_funnel" -> s"""
WITH $pipelineCtes
SELECT 0 AS stage, 'raw' AS stage_name,
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
UNION ALL SELECT 1, 'exact_dedup', (SELECT CAST(count(*) AS BIGINT) FROM keepers)
UNION ALL SELECT 2, 'quality',
  (SELECT CAST(count(*) AS BIGINT) FROM keepers WHERE quality_score >= $QualityThreshold)
UNION ALL SELECT 3, 'near_dedup',
  (SELECT CAST(count(*) AS BIGINT) FROM keepers
   WHERE quality_score >= $QualityThreshold
     AND doc_id NOT IN (SELECT doc_id FROM losers))
UNION ALL SELECT 4, 'classifier',
  (SELECT CAST(count(*) AS BIGINT)
   FROM keepers k JOIN cmargin c ON k.doc_id = c.doc_id
   WHERE k.quality_score >= $QualityThreshold
     AND k.doc_id NOT IN (SELECT doc_id FROM losers)
     AND c.clf_margin >= 0)""",

    "quality_score_topk" -> s"""
SELECT * FROM ($classifierSql)
ORDER BY score DESC, doc_id LIMIT 50""",

    // Mirrors [[filterAgreementKappa]]: both filters' verified oracle
    // formulations as subqueries, integer contingency counts, the same
    // three exact divisions.
    "filter_agreement_kappa" -> s"""
WITH rules AS (
  SELECT doc_id, quality_keep FROM (${CorpusQuality.oracles("doc_quality_rules")})
),
clf AS (
  SELECT doc_id, keep AS clf_keep FROM ($classifierSql)
),
c AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN quality_keep AND clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
    CAST(sum(CASE WHEN quality_keep AND NOT clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS rules_only,
    CAST(sum(CASE WHEN NOT quality_keep AND clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS clf_only,
    CAST(sum(CASE WHEN NOT quality_keep AND NOT clf_keep THEN 1 ELSE 0 END) AS BIGINT) AS both_drop
  FROM rules JOIN clf USING (doc_id)
)
SELECT n, both_keep, rules_only, clf_only, both_drop,
  CAST(both_keep + both_drop AS DOUBLE) / CAST(n AS DOUBLE) AS po,
  CAST((both_keep + rules_only) * (both_keep + clf_only)
     + (clf_only + both_drop) * (rules_only + both_drop) AS DOUBLE)
    / CAST(n * n AS DOUBLE) AS pe,
  CASE WHEN n * n
     - ((both_keep + rules_only) * (both_keep + clf_only)
      + (clf_only + both_drop) * (rules_only + both_drop)) = 0
    THEN CAST(0.0 AS DOUBLE)
    ELSE CAST(n * (both_keep + both_drop)
     - ((both_keep + rules_only) * (both_keep + clf_only)
      + (clf_only + both_drop) * (rules_only + both_drop)) AS DOUBLE)
    / CAST(n * n
     - ((both_keep + rules_only) * (both_keep + clf_only)
      + (clf_only + both_drop) * (rules_only + both_drop)) AS DOUBLE)
  END AS kappa
FROM c""",

    // Mirrors [[classifierEval]]: the same ascending-(score, doc_id)
    // ranking (a global window is fine in the one-shot oracle), integer
    // confusion counts and rank sums, the same doubled Mann-Whitney AUC
    // rational, the same CASE-pinned degenerate denominators.
    "classifier_eval" -> s"""
WITH rules AS (
  SELECT doc_id, quality_keep FROM (${CorpusQuality.oracles("doc_quality_rules")})
),
clf AS (
  SELECT doc_id, keep AS pred_keep, score FROM ($classifierSql)
),
ranked AS (
  SELECT doc_id, quality_keep, pred_keep,
    CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS r
  FROM rules JOIN clf USING (doc_id)
),
c AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN quality_keep AND pred_keep THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN NOT quality_keep AND pred_keep THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN quality_keep AND NOT pred_keep THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN NOT quality_keep AND NOT pred_keep THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(sum(CASE WHEN quality_keep THEN r ELSE 0 END) AS BIGINT) AS rank_sum_pos
  FROM ranked
)
SELECT n, tp, fp, fn, tn,
  CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
  CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE)
    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
  CASE WHEN 2*tp + fp + fn = 0 THEN CAST(0.0 AS DOUBLE)
    ELSE CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE) END AS f1,
  CASE WHEN 2 * (tp + fn) * (fp + tn) = 0 THEN CAST(0.0 AS DOUBLE)
    ELSE CAST(2*rank_sum_pos - (tp + fn) * (tp + fn + 1) AS DOUBLE)
      / CAST(2 * (tp + fn) * (fp + tn) AS DOUBLE) END AS auc
FROM c""",

    // Mirrors [[scoreCalibration]]: the same bin arithmetic over the same
    // one-division score, fixed-point BIGINT confidence sums, identical
    // final division chains.
    "score_calibration" -> s"""
WITH rules AS (
  SELECT doc_id, quality_keep FROM (${CorpusQuality.oracles("doc_quality_rules")})
),
clf AS (
  SELECT doc_id, score FROM ($classifierSql)
),
b AS (
  SELECT least(CAST(floor((score + 1.0) * 5.0) AS BIGINT), 9) AS bin,
    quality_keep, score
  FROM rules JOIN clf USING (doc_id)
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
  CAST(sum(CAST(round(score * 1e6, 0) AS BIGINT)) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) / 1e6 AS mean_score,
  CAST(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS frac_pos
FROM b GROUP BY bin""")
  }
}
