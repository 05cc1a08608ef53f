package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data assembly operators — the last-mile steps between a cleaned
  * corpus and a training run:
  *
  *  - `hash_split`: deterministic train/val/test assignment (80/10/10) from
  *    a cross-engine LCG hash of the document id. Hash-based splits are the
  *    industry pattern because they are stable under re-runs, joins, and
  *    re-partitioning — no RNG state, no order dependence.
  *  - `seq_packing`: greedy contiguous sequence packing — assign documents
  *    to fixed-size context windows (512 tokens — sized so multiple bins are exercised at every tested scale factor) by running token count,
  *    per source shard. The window cumsum is PARTITIONED BY source: packing
  *    is per-shard at scale (a single global ORDER BY window would
  *    serialize on one task at 100 TB).
  *  - `stratified_sample`: per-language deterministic 20% sample via the
  *    same hash — one aggregation pass reporting per-stratum totals,
  *    sampled counts, and achieved fractions.
  *  - `embed_slice_norm`: Matryoshka-style embedding truncation — L2 norms
  *    of the 16-dim prefix vs the full 64 dims and the retained-energy
  *    ratio, the measurement behind "can we serve the short vector".
  *
  * All integer/hash arithmetic is exact on both engines (no overflow:
  * |doc_id·a + c| < 2^63); float folds are identical left-to-right
  * per-element double ops, and sqrt is correctly rounded IEEE on both.
  */
object TrainPrep {

  /** LCG-style mix: (id·1103515245 + 12345) mod (2^31−1). Both engines
    * evaluate it in exact BIGINT arithmetic. */
  private def hashOf(id: org.apache.spark.sql.Column) =
    (id * 1103515245L + 12345L) % 2147483647L
  private def hashSql(e: String) = s"(($e * 1103515245 + 12345) % 2147483647)"

  // ------------------------------------------------------ train_export --

  /** THE north-star chain as ONE query (VERDICT r12 #7 — the LLM-side twin
    * of `stream_exec_iot_chain`): quality + classifier filter and exact +
    * near dedup ([[CorpusClean.clean]], stages 1-4 of the curation stack)
    * → token-budget selection (half the cleaned corpus's token mass,
    * greedy by quality — the `corpus_budget_select` shape over the CLEANED
    * set) → deterministic hash split (the export ships the TRAIN slice) →
    * per-source-shard sequence packing (`seq_packing`) → 2-epoch seeded
    * shuffle (`epoch_shuffle`'s hash/shard/pos, over the export set).
    *
    * Scale posture inherits from the verified stages: dedup is
    * banded-over-representatives, the global budget prefix sum is the
    * distributed [[graft.operators.Ranks.globalRunningSum]], the
    * packing window partitions by source shard, and the epoch permutation
    * is [[graft.operators.Ranks.groupedRowNumber]] — no corpus-wide
    * single-task operator anywhere in the chain.
    *
    * Returns (cleaned, selected, train, export): each stage's frame, so
    * the export query and its yield funnel cannot drift apart. Built ONCE
    * per (session, dir) with each stage localCheckpoint-materialized (the
    * mart/ANN/pair layer-cache posture): the `cleaned` subtree feeds the
    * budget aggregate, both phases of the distributed prefix sum, and the
    * funnel — without the leaf it re-evaluates the whole 5-stage clean
    * per consumer (measured 20 s vs ~1 s warm at sf0.1). */
  private def trainExportStages(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    graft.SessionCache.layer("train_export", s, d) {
      val cleaned = CorpusClean.clean(s, d)
        .select("doc_id", "n_tokens", "quality_score")
        .localCheckpoint()
      val ranked = graft.operators.Ranks.globalRunningSum(
        cleaned, Seq(col("quality_score").desc, col("doc_id")),
        col("n_tokens"), "cum_tokens")
      val budget = cleaned.agg(expr("sum(n_tokens) div 2").as("budget"))
      val selected = ranked.crossJoin(broadcast(budget))
        .filter(col("cum_tokens") <= col("budget"))
        .select("doc_id", "n_tokens", "quality_score")
        .localCheckpoint()
      val train = selected.filter(hashOf(col("doc_id")) % 100L < 80L)
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ctx = 512L
      val packed = train
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_bin",
          ((col("cum") - col("n_tokens")) / ctx).cast("long"))
        .withColumn("pack_offset",
          col("cum") - col("n_tokens") - col("pack_bin") * ctx)
      // epoch_shuffle's exact hash family (BatchPrep): 2 epochs, 8 shards
      val byEpoch = packed
        .withColumn("epoch", explode(array(lit(1), lit(2))))
        .withColumn("h",
          ((col("doc_id") * 7919L + col("epoch")) * 1103515245L + 12345L)
            % 2147483647L)
        .withColumn("shard", col("h") % 8L)
      val export = graft.operators.Ranks.groupedRowNumber(
          byEpoch, Seq("epoch", "shard"), Seq(col("h"), col("doc_id")), "pos")
        .select(col("epoch"), col("doc_id"), col("source"), col("n_tokens"),
          col("quality_score"), col("pack_bin"), col("pack_offset"),
          col("shard"), col("pos"))
        .localCheckpoint()
      (cleaned, selected, train, export)
    }

  def trainExport(s: SparkSession, d: String): DataFrame =
    trainExportStages(s, d)._4

  /** Per-stage survivor counts of [[trainExport]] — the same observability
    * contract as `corpus_yield_funnel` (stage counts ARE the operating
    * metric of a training-data export). Five 1-row aggregates crossed
    * (all broadcast) + one stack. */
  def trainExportFunnel(s: SparkSession, d: String): DataFrame = {
    val (cleaned, selected, train, export) = trainExportStages(s, d)
    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    n(Tables.documents(s, d), "n0")
      .crossJoin(broadcast(n(cleaned, "n1")))
      .crossJoin(broadcast(n(selected, "n2")))
      .crossJoin(broadcast(n(train, "n3")))
      .crossJoin(broadcast(n(export, "n4")))
      .selectExpr(
        """stack(5,
             0, 'raw',            n0,
             1, 'cleaned',        n1,
             2, 'budget_select',  n2,
             3, 'train_split',    n3,
             4, 'export_rows',    n4) AS (stage, stage_name, n_docs)""")
  }

  private def trainExportCtes: String = s"""
cleaned AS (
  SELECT doc_id, n_tokens, quality_score
  FROM (${CorpusClean.oracles("corpus_clean")})
),
texp_r AS (
  SELECT doc_id, n_tokens, quality_score,
    SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM cleaned
),
texp_b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM cleaned),
texp_sel AS (
  SELECT doc_id, n_tokens, quality_score
  FROM texp_r, texp_b WHERE cum_tokens <= budget
),
texp_train AS (
  SELECT * FROM texp_sel WHERE ${hashSql("doc_id")} % 100 < 80
),
texp_pk AS (
  SELECT doc_id, source, n_tokens, quality_score,
    CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_bin,
    CAST(cum - n_tokens - ((cum - n_tokens) // 512) * 512 AS BIGINT) AS pack_offset
  FROM (
    SELECT t.doc_id, d.source, t.n_tokens, t.quality_score,
      SUM(t.n_tokens) OVER (PARTITION BY d.source ORDER BY t.doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM texp_train t JOIN documents d USING (doc_id)
  )
),
texp AS (
  SELECT CAST(epoch AS INT) AS epoch, doc_id, source, n_tokens, quality_score,
    pack_bin, pack_offset,
    ((doc_id * 7919 + epoch) * 1103515245 + 12345) % 2147483647 % 8 AS shard,
    CAST(row_number() OVER (
      PARTITION BY epoch,
        ((doc_id * 7919 + epoch) * 1103515245 + 12345) % 2147483647 % 8
      ORDER BY ((doc_id * 7919 + epoch) * 1103515245 + 12345) % 2147483647,
        doc_id) AS BIGINT) AS pos
  FROM texp_pk, (SELECT unnest(generate_series(1, 2)) AS epoch)
)"""

  private def trainExportSql: String = s"""
WITH $trainExportCtes
SELECT epoch, doc_id, source, n_tokens, quality_score,
  pack_bin, pack_offset, shard, pos
FROM texp"""

  private def trainExportFunnelSql: String = s"""
WITH $trainExportCtes
SELECT 0 AS stage, 'raw' AS stage_name,
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
UNION ALL SELECT 1, 'cleaned', (SELECT CAST(count(*) AS BIGINT) FROM cleaned)
UNION ALL SELECT 2, 'budget_select', (SELECT CAST(count(*) AS BIGINT) FROM texp_sel)
UNION ALL SELECT 3, 'train_split', (SELECT CAST(count(*) AS BIGINT) FROM texp_train)
UNION ALL SELECT 4, 'export_rows', (SELECT CAST(count(*) AS BIGINT) FROM texp)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T5-style span corruption: mask one deterministic token span per
    // document (chained-LCG start/length, the fim_transform idiom at
    // token level) and emit the (input-with-sentinel, target) pair. Pure
    // per-row array slicing — zero shuffles, linear with the scan at any
    // corpus size. Docs under 8 tokens pass through unmasked ('raw').
    "span_corruption" -> ((s, d) => {
      val r1 = hashOf(col("doc_id"))
      val r2 = hashOf(r1)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        // span start in [2, n-4] keeps a non-empty prefix; length in
        // [2, 4] then always fits (n - s >= 4), so neither side of the
        // sentinel is ever empty — no '' concat edge to mismatch on
        .withColumn("sp", when(col("n") >= 8, lit(2L) + r1 % (col("n") - 5L)))
        .withColumn("ln", when(col("n") >= 8, lit(2L) + r2 % 3L))
      base.select(
        col("doc_id"), col("n").as("n_tokens"),
        when(col("n") >= 8, "corrupt").otherwise("raw").as("mode"),
        col("sp"), col("ln"),
        when(col("n") >= 8,
          concat(
            concat_ws(" ", slice(col("toks"), lit(1), (col("sp") - 1L).cast("int"))),
            lit(" <extra_id_0> "),
            concat_ws(" ", slice(col("toks"), (col("sp") + col("ln")).cast("int"),
              (col("n") - col("sp") - col("ln") + 1L).cast("int")))))
          .otherwise(concat_ws(" ", col("toks"))).as("input_text"),
        when(col("n") >= 8,
          concat(lit("<extra_id_0> "),
            concat_ws(" ", slice(col("toks"), col("sp").cast("int"),
              col("ln").cast("int")))))
          .otherwise(lit("")).as("target_text"))
    }),

    // DPO/RLHF preference-pair assembly: per source shard, the highest-
    // and lowest-scoring documents under the linear quality classifier
    // become the (chosen, rejected) pair. Two row_number windows over the
    // SAME source partition (one shuffle); ties pin by doc_id in opposite
    // directions so the pair is distinct whenever the shard has >= 2 docs.
    "preference_pairs" -> ((s, d) => {
      val scored = CorpusClean.classifierScores(s, d)
        .select(col("doc_id"), col("score"))
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id")
      val hi = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").asc)
      val lo = Window.partitionBy("source")
        .orderBy(col("score").asc, col("doc_id").desc)
      val ranked = scored
        .withColumn("rn_hi", row_number().over(hi))
        .withColumn("rn_lo", row_number().over(lo))
        .withColumn("n_docs", count(lit(1)).over(
          Window.partitionBy("source")))
        .filter(col("n_docs") >= 2L)
      val chosen = ranked.filter(col("rn_hi") === 1)
        .select(col("source"), col("n_docs").cast("long").as("n_docs"),
          col("doc_id").as("chosen_doc"), col("score").as("chosen_score"))
      val rejected = ranked.filter(col("rn_lo") === 1)
        .select(col("source"), col("doc_id").as("rejected_doc"),
          col("score").as("rejected_score"))
      chosen.join(rejected, "source")
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
    }),

    // Shard manifest — the integrity record a training job checks before
    // reading a shard: per shard (doc_id mod 8), row count, id range,
    // total characters, and an order-independent XOR fold of the
    // per-document rolling hashes (bit_xor never overflows and any
    // dropped/duplicated/altered doc flips it). One 8-row groupBy,
    // fully partial-aggregable.
    "shard_manifest" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), (col("doc_id") % 8L).as("shard"),
          col("n_chars"), Text.rollingHash(Text.tokens(col("text"))).as("rh"))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          sum(col("n_chars")).as("n_chars_total"),
          expr("bit_xor(rh)").as("xor_checksum"))
    }),

    // Deterministic negative sampling for contrastive training: each doc
    // gets 3 pseudo-random partner docs via an arithmetic hash of
    // (doc_id, k) mapped into the dense id space, bumped by one when the
    // hash lands on the anchor itself. Reproducible across runs/engines
    // (no RNG state), and the partner fetch is a plain equi-join — the
    // shape negative mining takes when the corpus no longer fits one node.
    "negative_samples" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val raw = (col("doc_id") * 1103515245L + 12345L +
        col("k") * 2654435761L) % col("n_docs")
      docs.select(col("doc_id"), col("lang").as("anchor_lang"))
        .crossJoin(broadcast(n))
        .withColumn("k", explode(array(lit(0L), lit(1L), lit(2L))))
        .withColumn("neg_doc_id",
          when(raw === col("doc_id"), (raw + 1) % col("n_docs")).otherwise(raw))
        .join(Tables.documents(s, d)
            .select(col("doc_id").as("neg_doc_id"), col("lang").as("neg_lang")),
          "neg_doc_id")
        .select(col("doc_id"), col("k"), col("neg_doc_id"),
          col("anchor_lang"), col("neg_lang"))
    }),

    // SFT pair assembly: consecutive docs per source become
    // (prompt, completion) examples — the instruction-tuning data-prep
    // shape (pair construction is a lead() window inside one source
    // shard, never a driver loop). Texts are clipped to keep example
    // rows bounded.
    "sft_pairs" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          substring(col("text"), 1, 80).as("clip"))
        .withColumn("completion_doc_id", lead(col("doc_id"), 1).over(w))
        .withColumn("completion", lead(col("clip"), 1).over(w))
        .filter(col("completion_doc_id").isNotNull)
        .select(col("source"), col("doc_id").as("prompt_doc_id"),
          col("completion_doc_id"), col("clip").as("prompt"), col("completion"))
    }),

    "hash_split" -> ((s, d) => {
      val pct = hashOf(col("doc_id")) % 100L
      Tables.documents(s, d).select(
        col("doc_id"),
        pct.as("bucket"),
        when(pct < 80, "train").when(pct < 90, "val").otherwise("test").as("split"))
    }),

    // Fill-in-the-middle transform (Bavarian et al. 2022): each document
    // ≥30 chars splits at two deterministic points into prefix/middle/
    // suffix and re-emits in PSM sentinel order — the code-model data
    // augmentation that teaches infilling with plain next-token loss.
    // Split points come from two chained LCG draws off doc_id (the
    // hash_split/priority_sample mix — cross-engine exact), each bounded
    // to one third of the doc so all three spans are nonempty. Pure
    // per-row projection — zero shuffles, linear with the scan at any
    // corpus size; short docs pass through tagged 'raw' (the mode split
    // keeps the oracle total-row invariant: one output row per document).
    "fim_transform" -> ((s, d) => {
      val r1 = hashOf(col("doc_id"))
      val r2 = hashOf(r1)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n"))
        .withColumn("third", ((col("n") - col("n") % 3) / 3).cast("long"))
        // Spark's % 0 yields NULL (never an error), and the `when` guard
        // keeps the NULL out of every 'psm' row; DuckDB's CASE evaluates
        // lazily so its % never sees a zero divisor.
        .withColumn("p1", when(col("n") >= 30, lit(1L) + r1 % col("third")))
        .withColumn("p2", when(col("n") >= 30,
          col("p1") + lit(1L) + r2 % col("third")))
      base.select(
        col("doc_id"), col("n").as("n_chars"),
        when(col("n") >= 30, "psm").otherwise("raw").as("mode"),
        col("p1"), col("p2"),
        when(col("n") >= 30,
          concat(
            lit("<FIM_PRE>"), col("text").substr(lit(1L), col("p1")),
            lit("<FIM_SUF>"), col("text").substr(col("p2") + 1, col("n")),
            lit("<FIM_MID>"),
            col("text").substr(col("p1") + 1, col("p2") - col("p1"))))
          .otherwise(col("text")).as("fim_text"))
    }),

    // Sliding-window document chunking with overlap — the RAG/embedding
    // prep step (retrieval corpora index CHUNKS, not documents): windows
    // of 64 tokens at stride 48 (16-token overlap so no boundary context
    // is lost), the final partial window kept. Pure per-row
    // generate+explode — zero shuffles, output rows ≈ n_tokens/stride,
    // linear at any corpus size with the scan.
    "rag_chunk_overlap" -> ((s, d) => {
      val W = 64
      val S = 48
      val base = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") > 0)
      val sliced = slice(col("toks"), (col("chunk_idx") * S + 1).cast("int"), lit(W))
      base
        .withColumn("n_chunks", when(col("n_tok") <= W, lit(1L))
          .otherwise(expr(s"(n_tok - $W + ${S - 1}) div $S + 1")))
        .select(col("doc_id"), col("n_tok"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"),
          col("toks"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * S).as("start_tok"),
          size(sliced).cast("long").as("n_tok_chunk"),
          concat_ws(" ", sliced).as("chunk_text"))
    }),

    "seq_packing" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ctx = 512L
      Tables.documents(s, d)
        .withColumn("n_tokens", size(Text.tokens(col("text"))).cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(
          col("doc_id"), col("source"), col("n_tokens"),
          (((col("cum") - col("n_tokens")) / ctx).cast("long")).as("pack_bin"),
          (col("cum") - col("n_tokens")
            - ((col("cum") - col("n_tokens")) / ctx).cast("long") * ctx).as("pack_offset"))
    }),

    // Token-budget-constrained corpus selection: keep the highest-quality
    // documents until half the corpus's total token mass is spent — the
    // "select the best N tokens" step every budgeted training run makes.
    // Greedy-by-quality is the exact optimum of the knapsack relaxation
    // here because the budget cuts a PREFIX of the quality order. The
    // running token total over that global order is the classic 100 TB
    // trap (a single-task window) — computed instead by the distributed
    // prefix sum [[graft.operators.Ranks.globalRunningSum]], with the
    // budget a broadcast 1-row aggregate. Integer token arithmetic end-to-end.
    "corpus_budget_select" -> ((s, d) => {
      val q = TextAnalysis.qualityOf(Tables.documents(s, d))
      val ranked = graft.operators.Ranks.globalRunningSum(
        q, Seq(col("quality_score").desc, col("doc_id")),
        col("n_tokens"), "cum_tokens")
      val budget = q.agg(expr("sum(n_tokens) div 2").as("budget"))
      ranked.crossJoin(broadcast(budget))
        .filter(col("cum_tokens") <= col("budget"))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          col("cum_tokens"))
    }),

    "stratified_sample" -> ((s, d) => {
      val sampled = (hashOf(col("doc_id")) % 5L === 0L).cast("int")
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("total_docs"),
          sum(sampled).as("sampled_docs"),
          (sum(sampled).cast("double") / count(lit(1)).cast("double")).as("sampled_frac"))
    }),

    // Temperature-scaled mixture weights over language shards — the
    // multilingual-sampling step (exponent-smoothed p^α, the XLM-R
    // pattern) at α = 1/2: q_lang ∝ sqrt(n_tokens). α = 1/2 is chosen
    // deliberately — sqrt is the one non-trivial exponent IEEE requires
    // correctly rounded, so the whole schedule stays oracle-hashable
    // (general pow/ln are NOT cross-engine stable; see the header note).
    // Shape: one token-count aggregate + a 1-row total broadcast back;
    // the Σ√n fold runs over the ~5-row lang dim in an explicitly ordered
    // left fold (sort_array + aggregate == list(ORDER BY) + list_reduce).
    "temperature_mix" -> ((s, d) => {
      val per = Tables.documents(s, d)
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("lang").agg(count(lit(1)).as("n_tokens"))
      val tot = per.agg(
        sum(col("n_tokens")).as("n_total"),
        aggregate(
          sort_array(collect_list(struct(col("lang"),
            sqrt(col("n_tokens").cast("double")).as("sq")))),
          lit(0.0), (a, x) => a + x.getField("sq")).as("z"))
      val p = col("n_tokens").cast("double") / col("n_total").cast("double")
      val q = sqrt(col("n_tokens").cast("double")) / col("z")
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tokens"), p.as("p_raw"), q.as("p_temp"),
          (q / p).as("upsample"))
    }),

    "train_export"        -> ((s, d) => trainExport(s, d)),
    "train_export_funnel" -> ((s, d) => trainExportFunnel(s, d)),

    "embed_slice_norm" -> ((s, d) => {
      def sq(v: org.apache.spark.sql.Column) = {
        val x = v.cast("double"); x * x
      }
      val e16 = aggregate(slice(col("embedding"), 1, 16), lit(0.0), (a, v) => a + sq(v))
      val e64 = aggregate(col("embedding"), lit(0.0), (a, v) => a + sq(v))
      Tables.embeddings(s, d).select(
        col("vec_id"),
        sqrt(e16).as("norm16"),
        sqrt(e64).as("norm64"),
        (e16 / e64).as("energy_ratio"))
    })
  )

  def oracles: Map[String, String] = {
    val h = hashSql("doc_id")
    Map(
      // Mirrors span_corruption: the same chained LCG, DuckDB 1-based
      // inclusive list slices standing in for Spark's slice(start, len).
      "span_corruption" -> s"""
WITH b AS (
  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
), c AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n, $h AS r1 FROM b
), p AS (
  SELECT doc_id, toks, n,
    CASE WHEN n >= 8 THEN 2 + r1 % (n - 5) END AS sp,
    CASE WHEN n >= 8
      THEN 2 + ((r1 * 1103515245 + 12345) % 2147483647) % 3 END AS ln
  FROM c
)
SELECT doc_id, n AS n_tokens,
  CASE WHEN n >= 8 THEN 'corrupt' ELSE 'raw' END AS mode,
  CAST(sp AS BIGINT) AS sp, CAST(ln AS BIGINT) AS ln,
  CASE WHEN n >= 8 THEN
    array_to_string(toks[1 : CAST(sp - 1 AS INT)], ' ')
    || ' <extra_id_0> '
    || array_to_string(toks[CAST(sp + ln AS INT) : CAST(n AS INT)], ' ')
  ELSE array_to_string(toks, ' ') END AS input_text,
  CASE WHEN n >= 8 THEN
    '<extra_id_0> ' || array_to_string(toks[CAST(sp AS INT) : CAST(sp + ln - 1 AS INT)], ' ')
  ELSE '' END AS target_text
FROM p""",

      // Mirrors preference_pairs: the classifier-score CTE, two opposed
      // row_number windows per source, the same >= 2 docs gate.
      "preference_pairs" -> s"""
WITH clf AS (
  SELECT doc_id, score FROM (${CorpusClean.classifierSql})
), scored AS (
  SELECT c.doc_id, c.score, d.source
  FROM clf c JOIN documents d USING (doc_id)
), ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rn_hi,
    row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) AS rn_lo,
    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM scored
)
SELECT a.source, a.n_docs,
  a.doc_id AS chosen_doc, a.score AS chosen_score,
  b.doc_id AS rejected_doc, b.score AS rejected_score,
  a.score - b.score AS margin
FROM ranked a JOIN ranked b
  ON a.source = b.source AND a.rn_hi = 1 AND b.rn_lo = 1
WHERE a.n_docs >= 2""",

      // Mirrors shard_manifest: the same rolling hash and xor fold.
      "shard_manifest" -> s"""
SELECT doc_id % 8 AS shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS min_doc,
  CAST(max(doc_id) AS BIGINT) AS max_doc,
  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
  CAST(bit_xor(${Text.rollingHashSql(Text.tokensSql("text"))}) AS BIGINT) AS xor_checksum
FROM documents
GROUP BY 1""",

      "sft_pairs" -> """
WITH c AS (
  SELECT source, doc_id, substring(text, 1, 80) AS clip FROM documents
), l AS (
  SELECT source, doc_id AS prompt_doc_id,
    lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS completion_doc_id,
    clip AS prompt,
    lead(clip) OVER (PARTITION BY source ORDER BY doc_id) AS completion
  FROM c
)
SELECT source, prompt_doc_id, completion_doc_id, prompt, completion
FROM l WHERE completion_doc_id IS NOT NULL""",

      "negative_samples" -> """
WITH n AS (SELECT count(*) AS n_docs FROM documents),
anchors AS (
  SELECT d.doc_id, d.lang AS anchor_lang, k.k, n.n_docs,
    (d.doc_id * 1103515245 + 12345 + k.k * 2654435761) % n.n_docs AS raw
  FROM documents d, n, (SELECT unnest(generate_series(0, 2)) AS k) k
)
SELECT a.doc_id, a.k,
  CASE WHEN a.raw = a.doc_id THEN (a.raw + 1) % a.n_docs ELSE a.raw END AS neg_doc_id,
  a.anchor_lang, d2.lang AS neg_lang
FROM anchors a
JOIN documents d2
  ON d2.doc_id = CASE WHEN a.raw = a.doc_id THEN (a.raw + 1) % a.n_docs ELSE a.raw END""",

      "hash_split" -> s"""
SELECT doc_id,
  ($h % 100) AS bucket,
  CASE WHEN ($h % 100) < 80 THEN 'train'
       WHEN ($h % 100) < 90 THEN 'val'
       ELSE 'test' END AS split
FROM documents""",

      "fim_transform" -> s"""
WITH b AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n, $h AS r1
  FROM documents
), c AS (
  SELECT doc_id, text, n, r1,
    ((r1 * 1103515245 + 12345) % 2147483647) AS r2,
    CAST((n - n % 3) / 3 AS BIGINT) AS third
  FROM b
), p AS (
  SELECT doc_id, text, n,
    CASE WHEN n >= 30 THEN 1 + r1 % third END AS p1,
    CASE WHEN n >= 30 THEN 2 + r1 % third + r2 % third END AS p2
  FROM c
)
SELECT doc_id, n AS n_chars,
  CASE WHEN n >= 30 THEN 'psm' ELSE 'raw' END AS mode,
  CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
  CASE WHEN n >= 30 THEN
    '<FIM_PRE>' || substr(text, 1, p1)
    || '<FIM_SUF>' || substr(text, p2 + 1, n)
    || '<FIM_MID>' || substr(text, p1 + 1, p2 - p1)
  ELSE text END AS fim_text
FROM p""",

      "rag_chunk_overlap" -> s"""
WITH base AS (
  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
), b2 AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM base
  WHERE len(toks) > 0
), c AS (
  SELECT doc_id, n_tok, toks,
    unnest(generate_series(0,
      CASE WHEN n_tok <= 64 THEN CAST(0 AS BIGINT)
           ELSE (n_tok - 64 + 47) // 48 END)) AS chunk_idx
  FROM b2
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT) AS n_tok_chunk,
  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
FROM c""",

      "seq_packing" -> s"""
WITH base AS (
  SELECT doc_id, source,
    CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM base
)
SELECT doc_id, source, n_tokens,
  CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_bin,
  CAST(cum - n_tokens - ((cum - n_tokens) // 512) * 512 AS BIGINT) AS pack_offset
FROM c""",

      // Mirrors corpus_budget_select: the single-task window the engine
      // side avoids is exactly right at oracle scale; RANGE default equals
      // ROWS here because the order is total.
      "corpus_budget_select" -> s"""
WITH q AS (${TextAnalysis.qualityOfSql}),
r AS (
  SELECT doc_id, n_tokens, quality_score,
    SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM q
),
b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM q)
SELECT doc_id, n_tokens, quality_score, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r, b WHERE cum_tokens <= budget""",

      "stratified_sample" -> s"""
SELECT lang,
  COUNT(*) AS total_docs,
  CAST(SUM(CASE WHEN ($h % 5) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
  CAST(SUM(CASE WHEN ($h % 5) = 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS sampled_frac
FROM documents GROUP BY lang""",

      "temperature_mix" -> s"""
WITH toks AS (
  SELECT lang, unnest(${Text.tokensSql("text")}) AS tok FROM documents
), per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1
), t AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
    list_reduce([CAST(0.0 AS DOUBLE)] || list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY lang),
      (a, b) -> a + b) AS z
  FROM per
)
SELECT lang, n_tokens,
  CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_raw,
  sqrt(CAST(n_tokens AS DOUBLE)) / z AS p_temp,
  (sqrt(CAST(n_tokens AS DOUBLE)) / z)
    / (CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE)) AS upsample
FROM per, t""",

      "train_export"        -> trainExportSql,
      "train_export_funnel" -> trainExportFunnelSql,

      "embed_slice_norm" -> """
WITH m AS (
  SELECT vec_id,
    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(embedding[1:16],
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS e16,
    list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS e64
  FROM embeddings
)
SELECT vec_id, sqrt(e16) AS norm16, sqrt(e64) AS norm64, (e16 / e64) AS energy_ratio
FROM m"""
    )
  }
}
