package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantics checks for the lexical retrieval / sketch family. */
class RetrievalSpec extends SparkSpec {

  test("bm25: scores are non-increasing and every scored doc exists") {
    val rows = Retrieval.bm25TopK(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(s => !s.isNaN && s >= 0))
  }

  test("bm25: a doc with more query-term hits outranks an equal-length doc with none") {
    // Structural sanity on the rational-idf variant: zero-hit docs score 0.
    val rows = Retrieval.bm25TopK(spark, sf, k = 1000).collect()
    val zeroScores = rows.filter(_.getAs[Double]("score") == 0.0)
    // every zero-score doc must truly contain none of the query terms
    val ids = zeroScores.map(_.getAs[Long]("doc_id")).toSet
    if (ids.nonEmpty) {
      val hasTerm = graft.Tables.documents(spark, sf)
        .filter(col("doc_id").isin(ids.toSeq: _*))
        .select(Text.tokens(col("text")).as("toks"))
        .filter(Retrieval.QueryTerms.map(t => array_contains(col("toks"), t)).reduce(_ || _))
      assert(hasTerm.count() === 0)
    }
  }

  test("cms: estimates never underestimate, and the absent probe is exactly 0") {
    val rows = Retrieval.cmsHeavyCounts(spark, sf).collect()
    assert(rows.length === Retrieval.ProbeTokens.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_n"), r.toString)
      assert(r.getAs[Long]("overestimate") >= 0, r.toString)
    }
    val zebra = rows.find(_.getAs[String]("tok") == "zebra").get
    assert(zebra.getAs[Long]("exact_n") === 0L)
  }

  test("oov_rate: rates in [0,1] and oov never exceeds token count") {
    val rows = Retrieval.oovRate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0, r.toString)
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"), r.toString)
    }
  }

  test("feature_hashing: indices inside the hash dimension; counts conserve tokens") {
    val out = Retrieval.featureHashing(spark, sf).cache()
    try {
      assert(out.filter(col("feat_idx") < 0 || col("feat_idx") >= 1024).count() === 0)
      val perDoc = out.groupBy("doc_id").agg(sum(col("n")).as("hashed")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hashed")).toMap
      val direct = graft.Tables.documents(spark, sf)
        .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("n"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
      assert(perDoc === direct)
    } finally out.unpersist() // leaked caches hijack later suites' plan pins
  }

  test("domain_reweight: shares sum to 1 and weight restores the target mixture") {
    val rows = Retrieval.domainReweight(spark, sf).collect()
    val shareSum = rows.map(_.getAs[Double]("actual_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    rows.foreach { r =>
      val restored = r.getAs[Double]("weight") * r.getAs[Double]("actual_share")
      assert(math.abs(restored - r.getAs[Double]("target_share")) < 1e-12, r.toString)
    }
  }

  test("jaccard_prefix_join: every emitted pair clears the threshold exactly") {
    val rows = Retrieval.jaccardPrefixJoin(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("inter_n") * 10 >= r.getAs[Long]("union_n") * 7, r.toString)
      assert(r.getAs[Double]("jaccard") >= 0.7 - 1e-12, r.toString)
    }
  }

  test("jaccard_prefix_join collapse tier matches brute force with exact duplicates") {
    import org.apache.spark.sql.functions._
    // re-id every 4th doc as an exact copy — exercises the cross-group and
    // within-group expansion paths the driver testdata cannot reach
    val base = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val docs = base.unionByName(base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    // driver-side brute force over distinct trigram sets
    val sets = docs
      .select(col("doc_id"), Text.ngrams(Text.tokens(col("text")), 3).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
    val truth = (for {
      (a, ta) <- sets; (b, tb) <- sets if a < b
      inter = (ta & tb).size.toLong
      union = ta.size + tb.size - inter
      if inter * 10 >= union * 7
    } yield (a, b) -> ((inter, union))).toMap
    val gotRows = Retrieval.jaccardPrefixJoin(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("inter_n"), r.getAs[Long]("union_n"))))
    val got = gotRows.toMap
    // toMap silently dedups — a pair emitted twice through overlapping
    // expansion joins must fail, not vanish (ADVICE r9)
    assert(gotRows.length === got.size, "expansion emitted duplicate pairs")
    assert(truth.exists { case ((_, b), _) => b >= 500000L },
      "planted copies must appear in the ground truth")
    assert(got === truth)
  }

  test("rrf_fusion: scores bounded by 2/61, non-increasing, ranks positive") {
    val rows = Retrieval.rrfFusion(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("rrf"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getAs[Double]("rrf") > 0 && r.getAs[Double]("rrf") <= 2.0 / 61.0 + 1e-12)
      assert(r.getAs[Long]("rank_bm25") >= 1L && r.getAs[Long]("rank_rich") >= 1L)
    }
  }

  test("rbo_rankings: overlap census is consistent and RBO is the exact dyadic fold") {
    val rows = Retrieval.rboRankings(spark, sf).collect()
      .sortBy(_.getAs[Long]("depth"))
    assert(rows.map(_.getAs[Long]("depth")).toSeq === (1L to 10L))
    val ov = rows.map(_.getAs[Long]("overlap"))
    // overlap-at-depth is non-decreasing, grows by at most 2 per depth
    // (one new doc per list), and never exceeds the depth
    ov.zip(ov.tail).foreach { case (a, b) => assert(b >= a && b - a <= 2) }
    rows.foreach { r =>
      val d = r.getAs[Long]("depth")
      val o = r.getAs[Long]("overlap")
      assert(o >= 0 && o <= d, r.toString)
      assert(r.getAs[Double]("a_d") === o.toDouble / d.toDouble)
      // term = a_d / 2^d exactly (dyadic weight — no rounding slack)
      assert(r.getAs[Double]("term") === r.getAs[Double]("a_d") / (1L << d).toDouble)
    }
    // rbo column: constant across rows, equals the depth-ordered left fold,
    // bounded by sum of weights = 1 - 2^-10
    val rbos = rows.map(_.getAs[Double]("rbo")).distinct
    assert(rbos.length === 1)
    val fold = rows.map(_.getAs[Double]("term")).foldLeft(0.0)(_ + _)
    assert(rbos.head === fold)
    assert(rbos.head >= 0.0 && rbos.head <= 1.0 - 1.0 / 1024.0)
  }

  test("hll_union_estimate: registers replay exactly; union merges by max") {
    val rows = Retrieval.hllUnionEstimate(spark, sf).collect()
      .map(r => r.getAs[String]("scope") -> r).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val M31 = 2147483648L
    def h3(k: Long): Long = {
      val h0 = (k * 1103515245L + 12345L) % M31
      val h2 = ((h0 ^ (h0 / 65536)) * 69069L + 1L) % M31
      h2 ^ (h2 / 2048)
    }
    val regs = scala.collection.mutable.Map.empty[(String, Long), Long]
    li.foreach { case (flag, k) =>
      val h = h3(k); val j = h % 64; val w = h / 64
      val rho = if (w == 0) 25L else java.lang.Long.numberOfTrailingZeros(w) + 1L
      val key = (flag, j)
      if (rho > regs.getOrElse(key, 0L)) regs(key) = rho
    }
    def sInt(m: Map[Long, Long]): Long =
      (0L until 64L).map(j => 1L << (25 - m.getOrElse(j, 0L))).sum
    val flags = li.map(_._1).distinct
    flags.foreach { flag =>
      val m = regs.collect { case ((f, j), v) if f == flag => j -> v }.toMap
      assert(rows(flag).getAs[Long]("s_int") === sInt(m), flag)
      assert(rows(flag).getAs[Long]("m_zero") === 64L - m.size, flag)
    }
    // the ALL row is the elementwise register max of the shard sketches
    val mu = regs.groupBy(_._1._2).map { case (j, kv) => j -> kv.values.max }
    assert(rows("ALL").getAs[Long]("s_int") === sInt(mu))
    assert(rows("ALL").getAs[Long]("exact_distinct") ===
      li.map(_._2).distinct.length.toLong)
    // union estimate must not double-count the cross-flag order overlap:
    // it stays below the sum of the shard estimates
    val shardSum = flags.map(f => rows(f).getAs[Double]("hll_estimate")).sum
    assert(rows("ALL").getAs[Double]("hll_estimate") < shardSum)
    // tempered hash keeps the raw estimator inside sane error at every SF
    rows.values.foreach(r =>
      assert(math.abs(r.getAs[Double]("rel_err")) < 0.35, r.toString))
  }

  test("token_chisq_topk ranks a perfectly discriminative planted token first") {
    // synthetic documents table: `zyzzyxq` appears in EVERY en doc and NO
    // other doc (chi-square = N, the maximum); `the` appears in every doc
    // (zero association). The query runs unchanged against the temp dir.
    val dir = java.nio.file.Files.createTempDirectory("graft_chisq_docs_").toString
    val s2 = spark
    import s2.implicits._
    (1 to 40).map { i =>
      val en = i % 2 == 0
      val text =
        if (en) s"the common filler zyzzyxq token w$i" else s"the common filler token w$i"
      (i.toLong, text, if (en) "en" else "de", "synthetic", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Retrieval.queries("token_chisq_topk")(spark, dir).collect()
    val top = out.head
    assert(top.getString(0) === "zyzzyxq")
    assert(top.getLong(1) === 20L && top.getLong(2) === 0L)
    // chisq = n_docs exactly for a perfect discriminator, quantized at 1e6
    assert(top.getLong(3) === 40L * 1000000L)
    // an everywhere-token carries zero signal (present but scored 0, or cut)
    assert(out.find(_.getString(0) == "the").forall(_.getLong(3) == 0L))
  }

  test("kmv sketch replays exactly from the driver and estimates inside tolerance") {
    val K = 128
    val P = 1000000007L
    def h(k: Long) = ((k % P) * 2654435761L + 40503L) % P
    val orders = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderstatus")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def side(st: String) =
      orders.collect { case (k, s) if s == st => h(k) }.toSet
    val (ha, hb) = (side("F"), side("O"))
    def sketch(s: Set[Long]) = s.toSeq.sorted.take(K).toSet
    val (sa, sb) = (sketch(ha), sketch(hb))
    val merged = sketch(sa ++ sb)
    val theta = merged.max
    val c = merged.count(v => sa(v) && sb(v))
    val row = Retrieval.kmvDistinctOverlap(spark, sf).collect().head
    assert(row.getAs[Long]("m") === merged.size.toLong)
    assert(row.getAs[Long]("theta") === theta)
    assert(row.getAs[Long]("c_common") === c.toLong)
    // the membership joins are exact because θ ≤ min(θ_A, θ_B)
    assert(theta <= sa.max && theta <= sb.max)
    // k=128 keeps the overlap estimate inside coarse-sketch error
    assert(math.abs(row.getAs[Double]("rel_err")) < 0.35, row.toString)
    // exact audit column equals a driver recount
    val (ka, kb) = (orders.collect { case (k, "F") => k }.toSet,
      orders.collect { case (k, "O") => k }.toSet)
    assert(row.getAs[Long]("exact_common") === ka.intersect(kb).size.toLong)
  }

  test("renyi diversity: collision mass in (0,1], eff_vocab bounded by support") {
    val rows = Retrieval.renyiDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cm = r.getAs[Double]("collision_mass")
      assert(cm > 0 && cm <= 1.0, r.toString)
      // inverse-Simpson (exp Renyi-2) never exceeds the distinct-token count
      assert(r.getAs[Double]("eff_vocab") <= r.getAs[Long]("n_distinct") + 1e-9, r.toString)
    }
  }
}
