package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Lexical retrieval + frequency-sketch operators over the documents
  * corpus — the search-side counterpart of the embedding ANN family
  * (IvfAnn / Similarity): BM25 ranking, a Count-Min frequency sketch, and
  * corpus diversity statistics.
  *
  * Exactness discipline (same stance as [[LangModel]] / the drift screen in
  * Analytics): no cross-engine `ln`/`exp` in any oracle-checked value —
  * JVM `Math.log` and C libm disagree at 1 ulp on ~75 ppm of inputs
  * (measured on this image), so scoring functions are re-expressed with
  * rational arithmetic only (+, −, ×, ÷ are IEEE correctly-rounded and
  * therefore bit-identical across engines when evaluated in the same
  * order).
  *
  * Scale shapes:
  *  - BM25: per-doc term frequencies are computed with array `filter`
  *    inside codegen (no explode, no shuffle); corpus stats (N, Σdl, df
  *    per query term) are ONE global aggregate broadcast back as a 1-row
  *    cross join; ranking is TakeOrdered top-k. Total: one narrow pass +
  *    one 1-row agg — the inverted-index-free scoring path that works when
  *    the query-term set is small and fixed.
  *  - Count-Min: the sketch is 3×64 integer cells — a partial-aggregable
  *    groupBy whose state is bounded regardless of corpus size (the whole
  *    point of CMS at 100 TB); probes join the 192-row sketch broadcast.
  *  - Diversity: Σn² per language is an order-free integer aggregate —
  *    no per-token probability fold, so no float fold-order coupling at
  *    all. (At corpus sizes where n_tokens² nears 2^63, widen s2 to
  *    decimal(38,0) — the cast sites are marked.)
  */
object Retrieval {

  /** Fixed query-term set for the BM25 demo (all present in the synthetic
    * vocabulary; see TESTDATA.md). */
  val QueryTerms: Seq[String] = Seq("spark", "join", "window", "stream")

  private val K1 = 1.2
  private val B = 0.75

  /** BM25 with a RATIONAL idf variant: idf(t) = (N − df + 0.5)/(df + 0.5)
    * — the classic Robertson–Sparck-Jones idf without the outer `ln`,
    * which is a strictly monotone per-term transform chosen so every score
    * is exact rational arithmetic (see object doc: cross-engine `ln` is
    * not bit-stable). Single-engine deployments can wrap the idf factor in
    * `log1p` without touching anything else. */
  /** Every doc's BM25 score (no cut) — shared by the top-k query and the
    * RRF fusion below. */
  private[llm] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val withTf = QueryTerms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", size(filter(col("toks"), x => x === lit(t))).cast("long"))
    }
    val statAggs =
      sum(col("dl")).as("sum_dl") +:
        QueryTerms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(count(lit(1)).cast("long").as("n_docs"), statAggs: _*)

    val joined = withTf.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    // One contribution per query term; the final score is the left-to-right
    // sum c0 + c1 + c2 + c3 — the oracle SQL spells the same association.
    def contrib(i: Int): Column = {
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i").cast("double")
      val idf = (col("n_docs").cast("double") - df + lit(0.5)) / (df + lit(0.5))
      idf * ((tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) + lit(B) * (col("dl").cast("double") / avgdl))))
    }
    val score = QueryTerms.indices.map(contrib).reduceLeft(_ + _)
    joined.select(col("doc_id"), col("dl"), score.as("score"))
  }

  def bm25TopK(s: SparkSession, d: String, k: Int = 20): DataFrame =
    bm25Scored(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  private val bm25TermSqls: Seq[String] = QueryTerms.zipWithIndex.map { case (t, i) =>
    s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
  }

  /** The scored-docs CTE chain (ends in `scored`), shared by the top-k
    * oracle and the RRF fusion oracle. */
  private val bm25CtesSql: String = {
    val contribs = QueryTerms.indices.map { i =>
      s"""((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
         | * ((CAST(tf_$i AS DOUBLE) * ${K1 + 1}) /
         |    (CAST(tf_$i AS DOUBLE) + $K1 * ((${1 - B}) + $B * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"""
        .stripMargin
    }.mkString("(", ") + (", ")")
    s"""toked AS (
  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
), dd AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, ${bm25TermSqls.mkString(", ")}
  FROM toked
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
    ${QueryTerms.indices.map(i => s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")}
  FROM dd
), scored AS (
  SELECT doc_id, dl, $contribs AS score
  FROM dd, st
)"""
  }

  val bm25Sql: String = s"""
WITH $bm25CtesSql
SELECT doc_id, dl, score FROM scored
ORDER BY score DESC, doc_id
LIMIT 20"""

  // ---------------------------------------------------------------- CMS --

  /** Count-Min sketch geometry: DEPTH independent hash rows × WIDTH
    * buckets. 3×64 keeps the demo sketch readable; production widths are
    * ~2/ε columns — the shape (bounded mergeable state) is identical. */
  private val Depth = 3
  private val Width = 64
  private val P = 1000000007L
  private val HashA = Seq(31L, 37L, 41L)
  private val HashB = Seq(7L, 11L, 13L)

  /** Probe set: mixed heavy/medium tokens plus one absent token ("zebra")
    * whose exact count is 0 — its CMS estimate exposes the collision
    * overestimate that CMS is allowed to make (never an underestimate). */
  val ProbeTokens: Seq[String] = Seq("table", "spark", "window", "merge", "slow", "zebra")

  /** Character-level polynomial code mod P — identical fold on both
    * engines (integer only). */
  private def tokenCode(t: Column): Column =
    aggregate(split(t, ""), lit(0L), (acc, c) => (acc * 131L + ascii(c).cast("long")) % P)

  private def bucket(j: Int, code: Column): Column =
    ((lit(HashA(j)) * code + lit(HashB(j))) % P) % Width

  private def tokenCodeSql(t: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(regexp_split_to_array($t, ''), c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a*131 + b) % $P)"

  private def bucketSql(j: Int): String =
    s"((${HashA(j)} * code + ${HashB(j)}) % $P) % $Width"

  /** Count-Min sketch over the full token stream (with multiplicity),
    * probed for [[ProbeTokens]]: exact count vs CMS estimate
    * (min over the Depth hash rows) and the guaranteed-non-negative
    * overestimate. */
  def cmsHeavyCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("code", tokenCode(col("tok")))
    val cells = toks.select(
      posexplode(array((0 until Depth).map(j => bucket(j, col("code"))): _*))
        .as(Seq("j", "bucket")))
    val sketch = cells.groupBy("j", "bucket").agg(count(lit(1)).as("cnt"))

    val probes = ProbeTokens.toDF("tok")
      .withColumn("code", tokenCode(col("tok")))
      .select(col("tok"),
        posexplode(array((0 until Depth).map(j => bucket(j, col("code"))): _*))
          .as(Seq("j", "bucket")))
    val estimates = probes
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))

    val exact = toks.filter(col("tok").isin(ProbeTokens: _*))
      .groupBy("tok").agg(count(lit(1)).as("exact_n"))
    estimates
      .join(exact, Seq("tok"), "left")
      .select(col("tok"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"),
        col("cms_estimate"),
        (col("cms_estimate") - coalesce(col("exact_n"), lit(0L))).as("overestimate"))
  }

  val cmsSql: String = {
    val probeList = ProbeTokens.map(t => s"'$t'").mkString(", ")
    s"""
WITH toks AS (
  SELECT unnest(${Text.tokensSql("text")}) AS tok FROM documents
), coded AS (
  SELECT tok, ${tokenCodeSql("tok")} AS code FROM toks
), cells AS (
  ${(0 until Depth).map(j => s"SELECT $j AS j, ${bucketSql(j)} AS bucket FROM coded").mkString("\n  UNION ALL\n  ")}
), sketch AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2
), probes AS (
  SELECT tok, ${tokenCodeSql("tok")} AS code FROM (SELECT unnest([$probeList]) AS tok)
), probe_cells AS (
  ${(0 until Depth).map(j => s"SELECT tok, $j AS j, ${bucketSql(j)} AS bucket FROM probes").mkString("\n  UNION ALL\n  ")}
), est AS (
  SELECT pc.tok, CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_estimate
  FROM probe_cells pc LEFT JOIN sketch s ON pc.j = s.j AND pc.bucket = s.bucket
  GROUP BY 1
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM coded
  WHERE tok IN ($probeList) GROUP BY 1
)
SELECT est.tok, COALESCE(exact.exact_n, 0) AS exact_n, est.cms_estimate,
       est.cms_estimate - COALESCE(exact.exact_n, 0) AS overestimate
FROM est LEFT JOIN exact ON est.tok = exact.tok"""
  }

  // ---------------------------------------------------- diversity -------

  /** Per-language corpus diversity without `ln`: collision mass
    * Σp² = Σn² / N² (Simpson index) and its inverse — the "effective
    * vocabulary size", exactly exp(Rényi-2 entropy). Both are single
    * divisions over order-free INTEGER aggregates, so there is no float
    * fold anywhere. At 100 TB widen s2/N² to decimal(38,0) before the
    * final division. */
  def renyiDiversity(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("n"))
    counts.groupBy("lang")
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * col("n")).as("s2"))
      .withColumn("collision_mass",
        col("s2").cast("double") / (col("n_tokens") * col("n_tokens")).cast("double"))
      .withColumn("eff_vocab",
        (col("n_tokens") * col("n_tokens")).cast("double") / col("s2").cast("double"))
  }

  val renyiSql: String = s"""
WITH counts AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT lang, unnest(${Text.tokensSql("text")}) AS tok FROM documents)
  GROUP BY 1, 2
)
SELECT lang,
  CAST(sum(n) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_distinct,
  CAST(sum(n*n) AS BIGINT) AS s2,
  CAST(CAST(sum(n*n) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT) AS DOUBLE) AS collision_mass,
  CAST(CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(n*n) AS BIGINT) AS DOUBLE) AS eff_vocab
FROM counts GROUP BY lang"""

  // ------------------------------------------------------- oov_rate ----

  private val VocabK = 16

  /** Tokenizer-vocabulary coverage: build the top-[[VocabK]] corpus
    * vocabulary (count desc, token asc — a total order, so the cut is
    * deterministic), then report each document's out-of-vocabulary token
    * count and rate. The vocab is a TakeOrdered micro-dim broadcast to the
    * token stream — the standard shape for "score the corpus against a
    * fixed tokenizer" at any scale. */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(VocabK)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  val oovSql: String = s"""
WITH toks AS (
  SELECT doc_id, unnest(${Text.tokensSql("text")}) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
  ORDER BY n DESC, tok LIMIT $VocabK
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
    / CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS oov_rate
FROM toks GROUP BY doc_id"""

  // ------------------------------------------------ feature_hashing ----

  private val HashDim = 1024

  /** The hashing trick (HashingVectorizer): map every token to a fixed
    * feature index via the char-polynomial hash mod [[HashDim]] and count
    * per (doc, index) — a sparse bag-of-words in fixed dimensionality with
    * no vocabulary pass at all, which is what makes it the streaming/
    * 100 TB-friendly featurizer. Output is the sparse COO triple stream. */
  def featureHashing(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .withColumn("feat_idx", tokenCode(col("tok")) % HashDim)
      .groupBy("doc_id", "feat_idx")
      .agg(count(lit(1)).as("n"))

  val featureHashingSql: String = s"""
WITH toks AS (
  SELECT doc_id, unnest(${Text.tokensSql("text")}) AS tok FROM documents
)
SELECT doc_id, ${tokenCodeSql("tok")} % $HashDim AS feat_idx,
       CAST(count(*) AS BIGINT) AS n
FROM toks GROUP BY 1, 2"""

  // ----------------------------------------------- domain_reweight -----

  /** DoReMi-style domain reweighting: per-source token shares vs a uniform
    * target mixture → importance weight (target/actual) per source. The
    * weight is what a sampler multiplies each domain's inclusion
    * probability by to hit the target mixture. One groupBy + one 1-row
    * broadcast agg; every float is a division of integer aggregates in an
    * order the oracle mirrors exactly. */
  def domainReweight(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(Text.tokens(col("text"))).cast("long").as("ntok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("tot_tokens"), count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("actual_share"),
        (lit(1.0) / col("n_sources").cast("double")).as("target_share"),
        ((lit(1.0) / col("n_sources").cast("double")) /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double")))
          .as("weight"))
  }

  val domainReweightSql: String = s"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(${Text.tokensSql("text")})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM per
)
SELECT source, n_docs, n_tokens,
  CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS actual_share,
  1.0 / CAST(n_sources AS DOUBLE) AS target_share,
  (1.0 / CAST(n_sources AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS weight
FROM per, tot"""

  // ------------------------------------------- jaccard_prefix_join -----

  /** AllPairs/PPJoin-style prefix-filtered set-similarity self-join over
    * distinct TRIGRAM sets, Jaccard ≥ 7/10. Trigram choice is deliberate:
    * the synthetic vocabulary is ~31 words, so unigrams don't discriminate
    * at all and even bigram prefixes stay dense (measured: the 1/2-threshold
    * bigram prefix pruned 10.3M sharing pairs only to 7.9M candidates at
    * sf0.1); trigram prefixes at t=0.7 cut 11 533 sharing pairs to 28
    * candidates for the 25 true pairs at sf0.01.
    *
    * Scale shape — the point of the operator: candidates come ONLY from
    * pairs sharing a token inside each set's (n − ⌈t·n⌉ + 1)-prefix under
    * the global (frequency asc, token asc) order, i.e. the RAREST tokens —
    * provably complete for J ≥ t. Verification joins token streams ONLY
    * for candidates, and the J ≥ 7/10 test is the integer
    * cross-multiplication 10·|∩| ≥ 7·(|A| + |B| − |∩|) — no float
    * threshold anywhere. The oracle is the naive all-sharing-pairs
    * formulation — an independent algorithm whose agreement also proves
    * prefix-filter completeness on this data. The trigram stream feeds
    * five plan branches (freq, ranking, sizes, both verify sides), so it
    * is localCheckpoint'ed once — the diamond-reuse rule every multi-branch
    * query here follows. */
  /** Registered path: the trigram layer and its exact collapse are the
    * SAME (set-keyed) tier the dedup family runs on, so reuse
    * [[TextDedup.collapsedOf]]'s cached materialization instead of
    * re-tokenizing and re-collapsing here. */
  def jaccardPrefixJoin(s: SparkSession, d: String): DataFrame = {
    val (members, reps0) = TextDedup.collapsedOf(s, d)
    jaccardPrefixFrom(members,
      reps0.select(col("fp"), col("rep_id").as("doc_id"),
        col("grams").as("toks"), col("gsz")))
  }

  def jaccardPrefixJoin(docs: DataFrame): DataFrame = {
    // Checkpoint the per-doc trigram ARRAY (|docs| rows), not the exploded
    // token stream (|tokens| rows ~ 50x larger): tokenization runs once,
    // and each consumer branch re-derives its token stream with a cheap
    // in-memory explode of the checkpointed arrays. The tokens are
    // projected into an attribute column BEFORE ngrams sees them — an
    // expression argument gets inlined into the transform lambda and
    // re-evaluated per gram element (the round-7 ngram trap: O(grams)
    // regex splits per doc, 3.7s; as an attribute it is 0.3s).
    val tokArr0 = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
      .select(col("doc_id"), Text.ngrams(col("w"), 3).as("toks"))
      .localCheckpoint()
    // Exact-collapse tier (the TextDedup pattern): docs with identical
    // trigram SETS join once through one representative and expand back
    // at the end — cross-group pairs inherit the reps' intersection,
    // within-group pairs are J = 1.0. The PPJoin machinery below is
    // untouched: the prefix theorem only needs SOME fixed global token
    // order shared by both sides, which the rep-level frequency order is.
    val keyed = tokArr0.withColumn("fp",
      sha2(array_join(sort_array(col("toks")), "|"), 256))
    val members = keyed.select(col("fp"), col("doc_id"))
    val reps = keyed.groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"),
        first(col("toks")).as("toks"), count(lit(1)).as("gsz"))
      .localCheckpoint()
    jaccardPrefixFrom(members, reps)
  }

  private def jaccardPrefixFrom(members: DataFrame, reps: DataFrame): DataFrame = {
    val tokArr = reps.select("doc_id", "toks")
    val sets = tokArr.select(col("doc_id"), explode(col("toks")).as("tok"))
    // The global PPJoin order (frequency asc, token asc) is made DENSE:
    // each vocabulary token gets its row_number rank, a bijection that
    // lets every downstream step — per-doc sort, prefix slice, candidate
    // equi-join, verification intersect — run on primitive longs instead
    // of trigram strings (array_intersect over primitives skips per-call
    // string hashing; measured 4.4s -> ~1s on the verify stage). The
    // unpartitioned window runs over the VOCABULARY dim (27k rows at
    // sf0.1), not the corpus — a single-task sort of dictionary size,
    // the same cost class as the freq aggregate itself.
    val freq = sets.groupBy("tok").agg(count(lit(1)).as("ftok"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ftok"), col("tok"))).cast("long"))
    // One grouped frame carries everything per doc: the rank array sorted
    // ascending (= the global frequency order), the set size, and the
    // prefix slice. It feeds the prefix explode and both verify sides, so
    // it is checkpointed once.
    // r17: re-spread the CHECKPOINTED frame (guarded no-op at scale) —
    // cached-plan AQE materializes this aggregate at ~1 partition at
    // small SF, and its consumers (prefix explode, candidate join, the
    // array_intersect verify) are compute-heavy narrow stages.
    val perDoc = graft.Tables.spreadKeyed(members.sparkSession,
      sets.join(freq, Seq("tok"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("rk"))).as("arr"),
        count(lit(1)).as("n"))
      // prefix length n − ⌈7n/10⌉ + 1, in pure integers
      .withColumn("plen", (col("n") - expr("(7*n + 9) div 10") + 1).cast("int"))
      .select(col("doc_id"), col("n"), col("arr"),
        slice(col("arr"), lit(1), col("plen")).as("prefix_rks"))
      .localCheckpoint(), Seq(col("doc_id")))
    val prefix = perDoc.select(col("doc_id"), col("n"),
      explode(col("prefix_rks")).as("tok"))
    // PPJoin length filter inside candidate generation: J ≥ 7/10 forces
    // 7·|a| ≤ 10·|b| and 7·|b| ≤ 10·|a| — halves the candidates here
    // (202k → 104k at sf0.1) before any verification work.
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.tok") === col("pb.tok") && col("pa.doc_id") < col("pb.doc_id") &&
          col("pa.n") * 7 <= col("pb.n") * 10 &&
          col("pb.n") * 7 <= col("pa.n") * 10)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()
    // Verify against the per-doc ARRAY dim (one row per doc): |∩| is a
    // codegen'd array_intersect per candidate pair — candidate-bounded
    // work with no third shuffle. No broadcast hint: the dim grows with
    // the corpus, so Catalyst/AQE picks broadcast at small SF and shuffle
    // join at scale (the cosine_neardup lesson — never force a
    // linearly-growing build side).
    val repPairs = cand
      .join(perDoc.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("n").as("na")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter_n", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("union_n", col("na") + col("nb") - col("inter_n"))
      .filter(col("inter_n") * 10 >= col("union_n") * 7)
      .select(col("doc_a"), col("doc_b"), col("inter_n"), col("union_n"),
        (col("inter_n").cast("double") / col("union_n").cast("double"))
          .as("jaccard"))
    // expansion back through the duplicate groups (see collapse above)
    val repFp = reps.select(col("doc_id").as("rep"), col("fp"))
    val cross = repPairs
      .join(repFp.select(col("rep").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(repFp.select(col("rep").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .join(members.select(col("fp").as("fp_a"), col("doc_id").as("a")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("doc_id").as("b")), "fp_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"),
        col("inter_n"), col("union_n"), col("jaccard"))
    // identical non-empty sets: |∩| = |∪| = n, J = n/n = 1.0 ≥ 7/10
    val dup = members
      .join(reps.select(col("fp"), size(col("toks")).cast("long").as("n"),
        col("gsz")), "fp")
      .filter(col("gsz") >= 2 && col("n") >= 1)
    val within = dup.select(col("fp"), col("doc_id").as("a"), col("n"))
      .join(dup.select(col("fp"), col("doc_id").as("b")), "fp")
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n").as("inter_n"), col("n").as("union_n"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  val jaccardPrefixSql: String = s"""
WITH sets AS (
  SELECT doc_id, unnest(${Text.ngramsSql(Text.tokensSql("text"), 3)}) AS tok FROM documents
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sets GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter_n
  FROM sets a JOIN sets b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_n, sa.n + sb.n - inter_n AS union_n,
  CAST(inter_n AS DOUBLE) / CAST(sa.n + sb.n - inter_n AS DOUBLE) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter_n * 10 >= (sa.n + sb.n - inter_n) * 7"""

  // ----------------------------------------------------- rrf_fusion ----

  /** Hybrid-retrieval rank fusion (RRF): combine the BM25 ranking with an
    * independent lexical-richness ranking via reciprocal rank fusion,
    * score = Σ 1/(60 + rank) — the standard hybrid-search merge (the k=60
    * constant is the published default). Ranks come from total orders
    * (tie-break doc_id) so both engines agree exactly; the two reciprocals
    * are single exact divisions summed in fixed order. Both rankings run
    * over the full doc dim, so they use the DISTRIBUTED exact global rank
    * ([[graft.operators.Ranks.globalRowNumber]]) instead of an
    * unpartitioned row_number window,
    * which would serialize every document through one task (the global-
    * window pin in PlanShapeSpec). */
  def rrfFusion(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val ra = graft.operators.Ranks.globalRowNumber(
        bm25Scored(s, d).select(col("doc_id"), col("score")),
        Seq(col("score").desc, col("doc_id")), "rank_bm25")
      .select(col("doc_id"), col("rank_bm25"))
    val rb = graft.operators.Ranks.globalRowNumber(
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct")),
        Seq(col("n_distinct").desc, col("doc_id")), "rank_rich")
      .select(col("doc_id"), col("rank_rich"))
    ra.join(rb, Seq("doc_id"))
      .withColumn("rrf",
        lit(1.0) / (lit(60) + col("rank_bm25")).cast("double") +
          lit(1.0) / (lit(60) + col("rank_rich")).cast("double"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("rank_bm25"), col("rank_rich"), col("rrf"))
  }

  val rrfSql: String = s"""
WITH $bm25CtesSql, rich AS (
  SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM toked
), ra AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25
  FROM scored
), rb AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_distinct DESC, doc_id) AS BIGINT) AS rank_rich
  FROM rich
)
SELECT ra.doc_id, rank_bm25, rank_rich,
  CAST(1.0 AS DOUBLE) / CAST(60 + rank_bm25 AS DOUBLE)
    + CAST(1.0 AS DOUBLE) / CAST(60 + rank_rich AS DOUBLE) AS rrf
FROM ra JOIN rb ON ra.doc_id = rb.doc_id
ORDER BY rrf DESC, ra.doc_id
LIMIT 20"""

  // --------------------------------------------------- rbo_rankings ----

  private val RboDepth = 10

  /** Rank-biased overlap (Webber et al. 2010) between the BM25 ranking
    * and the lexical-richness ranking of `rrf_fusion`, truncated at depth
    * 10 with persistence p = 1/2:
    *   RBO = Σ_{d=1..10} (1−p)·p^(d−1) · |A_1:d ∩ B_1:d| / d.
    * p = 1/2 makes every weight an EXACT dyadic double (1/2^d via integer
    * shift — no `pow`), each per-depth agreement is one correctly rounded
    * division of exact integers, and the final sum is an explicitly
    * ordered left fold over the depth-sorted terms (the `list(... ORDER
    * BY ...)` + fold pattern — window cumsums over doubles are NOT used
    * because DuckDB's segment-tree windowed sum need not associate like a
    * left fold). The overlap-at-depth census needs no per-depth pass: a
    * doc in both top-10s contributes to every depth ≥ max(rank_a, rank_b),
    * so one explode of that range + one count covers all depths. Both
    * rankings live on the bounded top-10 frame after the rank filter. */
  def rboRankings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = bm25Scored(s, d)
      .withColumn("ra", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("ra") <= RboDepth).select("doc_id", "ra")
    val rb = Tables.documents(s, d)
      .select(col("doc_id"),
        size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
      .withColumn("rb", row_number().over(
        Window.orderBy(col("n_distinct").desc, col("doc_id"))))
      .filter(col("rb") <= RboDepth).select("doc_id", "rb")
    val overlaps = ra.join(rb, Seq("doc_id"))
      .select(explode(sequence(greatest(col("ra"), col("rb")), lit(RboDepth))).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("overlap"))
    val spine = s.range(1).select(
      explode(sequence(lit(1), lit(RboDepth))).as("depth"))
    val perDepth = spine.join(overlaps, Seq("depth"), "left")
      .select(col("depth").cast("long").as("depth"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .withColumn("a_d", col("overlap").cast("double") / col("depth").cast("double"))
      // 1/2^d via integer shift: the Scala shiftleft() helper only takes a
      // literal shift amount, so spell the column-shift in SQL
      .withColumn("term",
        expr("(1.0D / cast(shiftleft(1L, cast(depth as int)) as double))") * col("a_d"))
    val rbo = perDepth
      .agg(sort_array(collect_list(struct(col("depth"), col("term")))).as("arr"))
      .select(aggregate(col("arr"), lit(0.0),
        (acc, x) => acc + x.getField("term")).as("rbo"))
    perDepth.crossJoin(broadcast(rbo))
      .select("depth", "overlap", "a_d", "term", "rbo")
  }

  val rboSql: String = s"""
WITH $bm25CtesSql, rich AS (
  SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM toked
), ta AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_a
  FROM scored QUALIFY rank_a <= $RboDepth
), tb AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY n_distinct DESC, doc_id) AS INT) AS rank_b
  FROM rich QUALIFY rank_b <= $RboDepth
), ov AS (
  SELECT depth, CAST(count(*) AS BIGINT) AS overlap FROM (
    SELECT unnest(generate_series(CAST(greatest(rank_a, rank_b) AS BIGINT), $RboDepth)) AS depth
    FROM ta JOIN tb USING (doc_id)
  ) GROUP BY depth
), spine AS (SELECT unnest(generate_series(1, $RboDepth)) AS depth),
pd AS (
  SELECT CAST(s.depth AS BIGINT) AS depth,
    CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap,
    CAST(coalesce(o.overlap, 0) AS DOUBLE) / CAST(s.depth AS DOUBLE) AS a_d,
    (1.0 / CAST(1 << s.depth AS DOUBLE))
      * (CAST(coalesce(o.overlap, 0) AS DOUBLE) / CAST(s.depth AS DOUBLE)) AS term
  FROM spine s LEFT JOIN ov o USING (depth)
), r AS (
  SELECT list_reduce([CAST(0.0 AS DOUBLE)] || list(term ORDER BY depth),
    (a, b) -> a + b) AS rbo
  FROM pd
)
SELECT depth, overlap, a_d, term, rbo FROM pd, r"""

  // --------------------------------------------------------------- HLL --

  /** HyperLogLog geometry: m = 64 registers (the LOW 6 bits of a 31-bit
    * tempered hash), rank from the DISJOINT upper 25 bits — index and
    * rank bits must not overlap or they correlate and bias the estimate.
    * 64 registers keeps the demo auditable (±1.04/√64 ≈ 13% std error);
    * production uses 2^12–2^14 — the shape is identical. */
  private val HllM = 64
  private val HllCap = 25 // w = h3 div 64 < 2^25, so rank ≤ 25

  /** HyperLogLog distinct-order estimate per lineitem return flag PLUS
    * the register-level union ('ALL') — Flajolet et al. 2007 (the sketch
    * behind the reference's COUNT(DISTINCT device_id),
    * models/marts/mart_pipeline_summary.sql), re-expressed so the raw
    * estimator is ORACLE-HASHABLE:
    *
    *  - the key hash is the xor-shift-TEMPERED LCG of `geo_grid_join`
    *    (Enrich.scala): a plain affine-mod hash of structured keys puts
    *    the values on a 1-D lattice and the trailing-zero ranks come out
    *    wildly non-geometric (measured: −78% bias on l_orderkey before
    *    tempering, ±10–30% after — the 64-register theory line).
    *  - register index j = low 6 bits; rank ρ = trailing-zeros + 1 of the
    *    upper 25 bits — `bit_count((w & -w) - 1) + 1`, integer only.
    *  - the harmonic-mean state Σ 2^(−M_j) is scaled by 2^25 into the
    *    exact BIGINT `s_int` = Σ 2^(25−M_j) (absent registers contribute
    *    2^25), so the whole sketch is integer — no float fold anywhere.
    *  - estimate = α₆₄·m²·2^25 / s_int: α₆₄ = 0.709 parsed once as
    *    DOUBLE, scaled only by powers of two (exact), then ONE
    *    correctly-rounded division. No `ln`/`pow`, so the paper's
    *    small/large-range corrections are intentionally omitted (raw
    *    estimator; `m_zero` is emitted so a consumer can apply linear
    *    counting).
    *
    * This is the mergeable-sketch posture for 100 TB COUNT DISTINCT: the
    * per-scope state is a BOUNDED 64-slot integer vector built by a
    * partial-aggregable max (map-side combine does most of the work), and
    * scopes merge by elementwise register max WITHOUT rescanning the
    * fact — the 'ALL' row is derived purely from the per-flag registers,
    * and its estimate lands BELOW the sum of the shard estimates because
    * orders straddle flags (the overlap a naive sum double-counts). Exact
    * distincts ride along to expose the estimator error (`rel_err`). */
  def hllUnionEstimate(s: SparkSession, d: String): DataFrame = {
    val M31 = 2147483648L // 2^31
    val hw = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("scope"), col("l_orderkey"))
      .withColumn("h0", (col("l_orderkey") * lit(1103515245L) + lit(12345L)) % lit(M31))
      .withColumn("h2", (col("h0").bitwiseXOR(expr("h0 div 65536")) * lit(69069L) + lit(1L)) % lit(M31))
      .withColumn("h3", col("h2").bitwiseXOR(expr("h2 div 2048")))
      .select(col("scope"), (col("h3") % HllM).as("j"), expr(s"h3 div $HllM").as("w"))
    val ranked = hw.withColumn("rho", expr(
      s"CASE WHEN w = 0 THEN CAST($HllCap AS BIGINT) " +
        "ELSE CAST(bit_count((w & -w) - 1) + 1 AS BIGINT) END"))
    val regs = ranked.groupBy("scope", "j").agg(max(col("rho")).as("m_j"))
    val union = regs.groupBy("j").agg(max(col("m_j")).as("m_j"))
      .select(lit("ALL").as("scope"), col("j"), col("m_j"))
    val perScope = regs.unionByName(union)
      .groupBy("scope")
      .agg(
        count(lit(1)).as("hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($HllCap - m_j AS INT))")).as("s_hit"))
      .select(col("scope"),
        (lit(HllM.toLong) - col("hit")).as("m_zero"),
        (col("s_hit") + (lit(HllM.toLong) - col("hit")) * lit(1L << HllCap)).as("s_int"))
    val li = Tables.lineitem(s, d)
    val exact = li.groupBy(col("l_returnflag").as("scope"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      .unionByName(li.agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
        .select(lit("ALL").as("scope"), col("exact_distinct")))
    val est = lit(0.709) * lit(HllM.toDouble) * lit(HllM.toDouble) *
      lit((1L << HllCap).toDouble) / col("s_int").cast("double")
    perScope.join(exact, Seq("scope"))
      .select(col("scope"), col("m_zero"), col("s_int"), col("exact_distinct"),
        est.as("hll_estimate"),
        ((est - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")).as("rel_err"))
  }

  val hllSql: String = s"""
WITH h0s AS (
  SELECT l_returnflag AS scope,
    (l_orderkey * 1103515245 + 12345) % 2147483648 AS h0
  FROM lineitem
), h3s AS (
  SELECT scope, xor(h2, h2 // 2048) AS h3 FROM (
    SELECT scope, (xor(h0, h0 // 65536) * 69069 + 1) % 2147483648 AS h2 FROM h0s)
), hw AS (
  SELECT scope, h3 % $HllM AS j, h3 // $HllM AS w FROM h3s
), ranked AS (
  SELECT scope, j,
    CASE WHEN w = 0 THEN CAST($HllCap AS BIGINT)
      ELSE CAST(bit_count((w & -w) - 1) + 1 AS BIGINT)
    END AS rho
  FROM hw
), regs AS (
  SELECT scope, j, CAST(max(rho) AS BIGINT) AS m_j FROM ranked GROUP BY 1, 2
), allregs AS (
  SELECT scope, j, m_j FROM regs
  UNION ALL
  SELECT 'ALL' AS scope, j, CAST(max(m_j) AS BIGINT) AS m_j FROM regs GROUP BY j
), per AS (
  SELECT scope, CAST($HllM - count(*) AS BIGINT) AS m_zero,
    CAST(CAST(sum(CAST(1 AS BIGINT) << ($HllCap - m_j)) AS BIGINT)
      + ($HllM - count(*)) * ${1L << HllCap} AS BIGINT) AS s_int
  FROM allregs GROUP BY 1
), ex AS (
  SELECT l_returnflag AS scope, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'ALL' AS scope, CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
)
SELECT scope, m_zero, s_int, exact_distinct,
  CAST(0.709 AS DOUBLE) * $HllM * $HllM * CAST(${1L << HllCap} AS DOUBLE)
    / CAST(s_int AS DOUBLE) AS hll_estimate,
  (CAST(0.709 AS DOUBLE) * $HllM * $HllM * CAST(${1L << HllCap} AS DOUBLE)
    / CAST(s_int AS DOUBLE) - CAST(exact_distinct AS DOUBLE))
    / CAST(exact_distinct AS DOUBLE) AS rel_err
FROM per JOIN ex USING (scope)"""

  // ----------------------------------------------- token_chisq_topk ----

  private val ChisqK = 25

  /** χ² feature selection: the top-[[ChisqK]] tokens most associated with
    * the language label (y = lang = 'en'), by the 2×2 document-frequency
    * contingency per token — the classifier-feature shortlist a quality/
    * routing pipeline computes before training. Counts (a, b, c, d) are
    * exact int64 aggregates; the χ² statistic N(ad−bc)²/((a+b)(c+d)(a+c)
    * (b+d)) is a pure per-row scalar over those exact counts, written in
    * lock-step operand order on both engines (IEEE doubles are
    * bit-deterministic for identical expression trees) and quantized at
    * 1e6 with a total (χ², token) order, so the top-k cut is exact. One
    * token-explode aggregation + a 1-row broadcast of the corpus totals —
    * no shuffle beyond the groupBy, linear at any corpus size. */
  def tokenChisqTopK(s: SparkSession, d: String): DataFrame = {
    import graft.expr.Exact
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("y"), col("text"))
    val totals = docs.agg(
      count(lit(1)).as("n_docs"), Exact.cntIf(col("y")).as("n_pos"))
    val df = docs
      .select(col("y"), explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      .groupBy("tok")
      .agg(Exact.cntIf(col("y")).as("a"), Exact.cntIf(!col("y")).as("b"))
    df.crossJoin(broadcast(totals))
      .withColumn("c", col("n_pos") - col("a"))
      .withColumn("d2", col("n_docs") - col("n_pos") - col("b"))
      .withColumn("det",
        col("a").cast("double") * col("d2").cast("double") -
          col("b").cast("double") * col("c").cast("double"))
      .withColumn("den",
        (col("a") + col("b")).cast("double") * (col("c") + col("d2")).cast("double") *
          (col("a") + col("c")).cast("double") * (col("b") + col("d2")).cast("double"))
      .withColumn("chisq_q",
        when(col("den") === 0.0, 0L).otherwise(
          round(col("n_docs").cast("double") * col("det") * col("det") /
            col("den") * lit(1000000.0)).cast("long")))
      .select(col("tok"), col("a").as("n_pos_docs"), col("b").as("n_neg_docs"),
        col("chisq_q"))
      .orderBy(col("chisq_q").desc, col("tok"))
      .limit(ChisqK)
  }

  private val tokenChisqSql: String = {
    val cnt = graft.expr.Exact.cntIfSql _
    s"""
WITH docs AS (SELECT doc_id, lang = 'en' AS y, text FROM documents),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, ${cnt("y")} AS n_pos FROM docs),
dfp AS (
  SELECT tok, ${cnt("y")} AS a, ${cnt("NOT y")} AS b FROM (
    SELECT y, unnest(list_distinct(${Text.tokensSql("text")})) AS tok FROM docs
  ) GROUP BY tok
),
cells AS (
  SELECT tok, a, b, n_pos - a AS c, n_docs - n_pos - b AS d2, n_docs FROM dfp, tot
),
scored AS (
  SELECT tok, a, b,
    CASE WHEN CAST(a + b AS DOUBLE) * CAST(c + d2 AS DOUBLE)
            * CAST(a + c AS DOUBLE) * CAST(b + d2 AS DOUBLE) = 0
         THEN CAST(0 AS BIGINT)
         ELSE CAST(round(CAST(n_docs AS DOUBLE)
            * (CAST(a AS DOUBLE) * CAST(d2 AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            * (CAST(a AS DOUBLE) * CAST(d2 AS DOUBLE) - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            / (CAST(a + b AS DOUBLE) * CAST(c + d2 AS DOUBLE)
               * CAST(a + c AS DOUBLE) * CAST(b + d2 AS DOUBLE))
            * 1000000) AS BIGINT) END AS chisq_q
  FROM cells
)
SELECT tok, a AS n_pos_docs, b AS n_neg_docs, chisq_q
FROM scored ORDER BY chisq_q DESC, tok LIMIT $ChisqK"""
  }

  // ------------------------------------------- kmv_distinct_overlap ----

  private val KmvK = 128
  private val KmvP = 1000000007L

  /** KMV (k-minimum-values) distinct-set sketch with an INTERSECTION
    * estimate — the set operation HLL registers cannot provide
    * ([[hllUnionEstimate]] merges for unions only). Each side keeps the k
    * smallest DISTINCT key hashes (a TakeOrdered — 128 rows cross the wire
    * per side, never the key sets); the kth value θ of the merged sketch
    * estimates the union ((m−1)·P/θ), and the fraction of merged-sketch
    * members present in BOTH side sketches scales it to the overlap
    * (the KMV synopsis of Beyer et al., SIGMOD'07). θ ≤ min(θ_A, θ_B), so
    * every merged-sketch member of A is in A's sketch and the membership
    * joins over the 128-row sketches are exact — and broadcast. At 100 TB
    * this is two TakeOrdered(128) scans plus 128-row joins where the exact
    * answer needs a distinct-join over billions of keys; the exact
    * baseline ships alongside as the audit columns, hll-style. The hash is
    * the overflow-safe mod-P multiplicative map the repo's checksums use
    * ((P−1)·2654435761 < 2^63) — deterministic on both engines. */
  def kmvDistinctOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.expr.Exact
    val o = Tables.orders(s, d)
    val h = ((col("o_custkey") % KmvP) * 2654435761L + 40503L) % KmvP
    def sketch(status: String, flag: String) =
      o.filter(col("o_orderstatus") === status)
        .select(h.as("h")).distinct()
        .orderBy("h").limit(KmvK)
        .withColumn(flag, lit(1))
    val sa = sketch("F", "in_a")
    val sb = sketch("O", "in_b")
    val merged = sa.select("h").union(sb.select("h")).distinct()
      .orderBy("h").limit(KmvK)
    def keys(status: String) =
      o.filter(col("o_orderstatus") === status)
        .select(col("o_custkey")).distinct()
    val exact = keys("F").join(keys("O"), "o_custkey")
      .agg(count(lit(1)).as("exact_common"))
    val estU = (col("m") - 1).cast("double") * lit(KmvP.toDouble) /
      col("theta").cast("double")
    merged
      .join(broadcast(sa), Seq("h"), "left")
      .join(broadcast(sb), Seq("h"), "left")
      .agg(
        count(lit(1)).as("m"),
        max(col("h")).as("theta"),
        Exact.cntIf(col("in_a").isNotNull && col("in_b").isNotNull).as("c_common"))
      .crossJoin(broadcast(exact))
      .select(col("m"), col("theta"), col("c_common"), col("exact_common"),
        estU.as("est_union"),
        (col("c_common").cast("double") / col("m").cast("double") * estU)
          .as("est_common"),
        ((col("c_common").cast("double") / col("m").cast("double") * estU -
          col("exact_common").cast("double")) /
          col("exact_common").cast("double")).as("rel_err"))
  }

  private val kmvSql: String = {
    val cnt = graft.expr.Exact.cntIfSql _
    s"""
WITH sa AS (
  SELECT DISTINCT ((o_custkey % $KmvP) * 2654435761 + 40503) % $KmvP AS h
  FROM orders WHERE o_orderstatus = 'F' ORDER BY h LIMIT $KmvK
), sb AS (
  SELECT DISTINCT ((o_custkey % $KmvP) * 2654435761 + 40503) % $KmvP AS h
  FROM orders WHERE o_orderstatus = 'O' ORDER BY h LIMIT $KmvK
), merged AS (
  SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
  ORDER BY h LIMIT $KmvK
), mem AS (
  SELECT merged.h, sa.h IS NOT NULL AND sb.h IS NOT NULL AS both_sides
  FROM merged LEFT JOIN sa ON merged.h = sa.h LEFT JOIN sb ON merged.h = sb.h
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m, max(h) AS theta,
    ${cnt("both_sides")} AS c_common
  FROM mem
), ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_common FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F') a
  JOIN (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') b
  USING (o_custkey)
)
SELECT m, theta, c_common, exact_common,
  CAST(m - 1 AS DOUBLE) * CAST($KmvP AS DOUBLE) / CAST(theta AS DOUBLE)
    AS est_union,
  CAST(c_common AS DOUBLE) / CAST(m AS DOUBLE)
    * (CAST(m - 1 AS DOUBLE) * CAST($KmvP AS DOUBLE) / CAST(theta AS DOUBLE))
    AS est_common,
  (CAST(c_common AS DOUBLE) / CAST(m AS DOUBLE)
    * (CAST(m - 1 AS DOUBLE) * CAST($KmvP AS DOUBLE) / CAST(theta AS DOUBLE))
    - CAST(exact_common AS DOUBLE)) / CAST(exact_common AS DOUBLE) AS rel_err
FROM agg, ex"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmv_distinct_overlap" -> ((s, d) => kmvDistinctOverlap(s, d)),
    "token_chisq_topk"    -> ((s, d) => tokenChisqTopK(s, d)),
    "bm25_topk"           -> ((s, d) => bm25TopK(s, d)),
    "rrf_fusion"          -> ((s, d) => rrfFusion(s, d)),
    "rbo_rankings"        -> ((s, d) => rboRankings(s, d)),
    "hll_union_estimate"  -> ((s, d) => hllUnionEstimate(s, d)),
    "cms_heavy_counts"    -> ((s, d) => cmsHeavyCounts(s, d)),
    "renyi_diversity"     -> ((s, d) => renyiDiversity(s, d)),
    "oov_rate"            -> ((s, d) => oovRate(s, d)),
    "feature_hashing"     -> ((s, d) => featureHashing(s, d)),
    "domain_reweight"     -> ((s, d) => domainReweight(s, d)),
    "jaccard_prefix_join" -> ((s, d) => jaccardPrefixJoin(s, d))
  )

  def oracles: Map[String, String] = Map(
    "kmv_distinct_overlap" -> kmvSql,
    "token_chisq_topk"    -> tokenChisqSql,
    "bm25_topk"           -> bm25Sql,
    "rrf_fusion"          -> rrfSql,
    "rbo_rankings"        -> rboSql,
    "hll_union_estimate"  -> hllSql,
    "cms_heavy_counts"    -> cmsSql,
    "renyi_diversity"     -> renyiSql,
    "oov_rate"            -> oovSql,
    "feature_hashing"     -> featureHashingSql,
    "domain_reweight"     -> domainReweightSql,
    "jaccard_prefix_join" -> jaccardPrefixSql
  )
}
