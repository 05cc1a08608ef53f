package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkSpec, Tables}

/** Dedup-operator guarantees: MinHash-LSH must reproduce the exact n-gram
  * Jaccard pairs (its banding is sized for ~zero miss probability at the
  * threshold), and SimHash must collapse the planted near-duplicates. */
class DedupSpec extends SparkSpec {

  private def pairsOf(name: String): Set[(Long, Long)] =
    TextDedup.queries(name)(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH finds exactly the exact-Jaccard near-dup pairs") {
    val exact = pairsOf("dedup_jaccard")
    val mh    = pairsOf("dedup_minhash")
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(mh === exact)
  }

  test("streaming near-dup gate emits exactly the batch verified pair set") {
    // the flatMapGroupsWithState candidate path (per-bucket id state,
    // pairs emitted on second arrival) must reduce to the same verified
    // pairs as the batch banded join — stream ≡ batch, and both ≡ the
    // exact inverted-index oracle
    val streamed = pairsOf("stream_exec_neardup")
    val batch    = pairsOf("dedup_minhash")
    assert(streamed === batch)
  }

  test("streaming gate state is signature-keyed: duplication cannot inflate candidates") {
    val s0 = spark; import s0.implicits._
    // 3 distinct texts × 8 exact copies each: doc-keyed bucket state
    // would emit up to 32 bands × C(24, 2) candidate rows; signature-
    // keyed state can emit at most 32 × C(3, 2) = 96 — the streaming
    // analog of the collapse tier, pinned as a hard bound on the sink.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy cat again and again",
      "completely different text about apples bananas and cherries today")
    val docs = (0 until 24).map(i => (i.toLong, base(i % 3))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndstream_").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextDedup.queries("stream_exec_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    // sink names are per-invocation unique since round 12 (ADVICE r11);
    // the run just executed registered the highest-numbered suffix
    val sink = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("stream_exec_neardup_u"))
      .maxBy(_.stripPrefix("stream_exec_neardup_u").toLong)
    val emitted = spark.table(sink).count()
    assert(emitted <= 96L,
      s"sink saw $emitted candidate rows — state is no longer content-keyed")
    // and the expansion still restores the FULL doc-level pair set
    val truth = TextDedup.nearDupPairsFromGrams(TextDedup.gramsOf(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3)))).toMap
    assert(out === truth)
    assert(out.keySet.exists { case (a, b) => base(a.toInt % 3) == base(b.toInt % 3) },
      "within-group J=1 pairs must be present")
  }

  test("TTL gate: in-horizon pairs emit, expired signatures are evicted from state") {
    // the bounded-state contract of stream_exec_neardup_ttl (VERDICT r11
    // #1), proven through a real multi-batch run: three time-ordered files
    // (one per micro-batch via maxFilesPerTrigger=1) where batch 1's
    // near-dup pair sits inside the horizon, batch 2 advances the
    // watermark far past it, and batch 3 carries a NEW near-dup pair plus
    // content near-duplicate to batch 1's docs — the gate must emit both
    // in-horizon signature pairs, never a cross-horizon one, and must
    // physically remove expired state rows (numRowsRemoved > 0).
    val s0 = spark; import s0.implicits._
    // in-horizon pairs are built by APPENDING a token (J = 10/11 — band
    // miss odds ~1e-16; a mid-text word swap gives J ≈ 0.54, where 32×4
    // banding deterministically missed one of the pairs on first cut)
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = tA + " woof"                   // near-dup of A, in-horizon
    val tFar = "completely different text about apples bananas cherries grapes melons today"
    val tC = tA.replace("quick", "swift")   // near-dup of A by CONTENT, out of horizon by TIME
    val tE = tC + " meow"                   // near-dup of C, in-horizon
    val dir = java.nio.file.Files.createTempDirectory("graft_ndttl_")
    def addFile(n: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ndttl_w_")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      val it = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(it, dir.resolve(n))
    }
    // event time = doc_id minutes; horizon = 250 min
    addFile("f1.parquet", Seq((0L, tA), (10L, tB)))
    addFile("f2.parquet", Seq((6000L, tFar)))
    addFile("f3.parquet", Seq((6010L, tC), (6020L, tE)))
    val tag = "dedup_spec_ndttl"
    val out = graft.streaming.StreamGate.memory(spark, tag, "append") {
      val src = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      TextDedup.streamNearDupTtlCandidates(src).toDF()
    }.distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    // rows removed by eviction, as Bench publishes it
    val removed = graft.streaming.StreamGate.stateSnapshot.toMap.apply(tag)._3
    assert(removed > 0,
      "expired signatures were never evicted from the state store")
    def sigOf(text: String): String =
      TextDedup.gramsOf(Seq((0L, text)).toDF("doc_id", "text"))
        .withColumn("fp", sha2(array_join(sort_array(col("grams")), "|"), 256))
        .head().getAs[String]("fp")
    def pair(a: String, b: String) = {
      val (sa, sb) = (sigOf(a), sigOf(b)); if (sa < sb) (sa, sb) else (sb, sa)
    }
    // exactly the two in-horizon pairs: (A,B) from batch 1, (C,E) from
    // batch 3 — and in particular NOT (A,C)/(A,E)/(B,C): those contents
    // are near-dups but their times straddle the horizon and A/B's state
    // is gone by the time C/E arrive
    assert(out === Set(pair(tA, tB), pair(tC, tE)))
  }

  test("simhash blocking is complete at its own radius (pigeonhole)") {
    // The operator's guarantee: EVERY pair at Hamming distance <= 3 is
    // found (3 differing bits touch at most 3 of the 4 bands). Brute-force
    // all-pairs Hamming on the driver is the ground truth at this scale.
    val sigs = TextDedup.simhashes(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (d1, h1) <- sigs; (d2, h2) <- sigs if d1 < d2
      if java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield (d1, d2)).toSet
    val sh = TextDedup.simhashPairs(Tables.documents(spark, sf), maxHamming = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh === truth)
    // and it should still surface a nontrivial share of the planted
    // near-dups (simhash on tiny-vocab synthetic text is inherently noisy)
    val exact = pairsOf("dedup_jaccard")
    assert(exact.count(sh.contains).toDouble / exact.size >= 0.2)
  }

  test("collapse/expansion tier is exact on a corpus with planted exact duplicates") {
    // The driver testdata has no exact-duplicate docs, so the collapse
    // tier's expansion paths (cross-group, within-group clique, isolated
    // dup group, gram-less doc) never fire there — exercise them against
    // a brute-force JVM ground truth. 0=1 exact dups, 2 a near-dup of
    // both; 3=4 an exact-dup group with NO rep-level edge (isolated
    // clique); 5 has fewer than 3 tokens (empty gram set -> no pairs).
    val s0 = spark; import s0.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different text about apples bananas and cherries today"),
      (4L, "completely different text about apples bananas and cherries today"),
      (5L, "short text")
    ).toDF("doc_id", "text")
    val grams = TextDedup.gramsOf(docs)
    // brute-force ground truth on the driver
    val sets = grams.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val truth = (for {
      (a, ga) <- sets.toSeq; (b, gb) <- sets.toSeq
      if a < b && ga.nonEmpty
      inter = (ga & gb).size
      j = inter.toDouble / (ga.size + gb.size - inter)
      if j >= TextDedup.JaccardThreshold
    } yield (a, b) -> ((inter, j))).toMap
    val gotRows = TextDedup.nearDupPairsFromGrams(grams).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
    val got = gotRows.toMap
    // toMap silently dedups — a pair expanded twice through overlapping
    // joins must fail the test, not vanish into the map (ADVICE r9)
    assert(gotRows.length === got.size, "expansion emitted duplicate pairs")
    assert(got.keySet === truth.keySet)
    got.foreach { case (k, (ns, j)) =>
      assert((ns, j) === truth(k), s"pair $k")
    }
    // the exact inverted-index path collapses and expands identically
    val exactRows = TextDedup.jaccardPairsFromGrams(grams).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
    assert(exactRows.length === exactRows.toMap.size,
      "exact path emitted duplicate pairs")
    assert(exactRows.toMap === got)
    assert(got.contains((0L, 1L)) && got.contains((3L, 4L)),
      "exact-dup pairs must surface through the within-group expansion")
    assert(got.contains((0L, 2L)) && got.contains((1L, 2L)),
      "near-dup pairs must expand to every group member")
    // clusters: {0,1,2} keep 0; {3,4} keep 3 (the isolated-clique path)
    val clusterRows = TextDedup.clusterAssignments(grams).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
    val clusters = clusterRows.toMap
    assert(clusterRows.length === clusters.size,
      "cluster expansion emitted duplicate doc rows")
    assert(clusters === Map(
      0L -> ((0L, true)), 1L -> ((0L, false)), 2L -> ((0L, false)),
      3L -> ((3L, true)), 4L -> ((3L, false))))
  }

  test("containment rarest-gram prefix filter is lossless vs the unfiltered join") {
    // ground truth: the UNFILTERED inverted-index join (every shared gram a
    // candidate) at the same threshold — the pigeonhole prefix must find
    // every ordered pair it finds, by construction, not probabilistically
    val grams = TextDedup.gramSets(spark, sf)
    val flat = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    val t = TextDedup.ContainmentThreshold
    val brute = flat.select(col("doc_id").as("d1"), col("g"))
      .join(flat.select(col("doc_id").as("d2"), col("g")), "g")
      .filter(col("d1") =!= col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("ns"))
      .join(grams.select(col("doc_id").as("d1"), size(col("grams")).as("n1")), "d1")
      .filter(col("ns").cast("double") / col("n1").cast("double") >= t)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = TextDedup.queries("dedup_containment")(spark, sf)
      .select(col("contained_doc"), col("container_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "testdata should contain containment pairs")
    assert(pruned === brute)
  }

  test("containment gram rank rk is strictly increasing in (df, g) order") {
    // rk is monotonically_increasing_id over a range-partitioned sort; the
    // containment output is exact only while rk is order-isomorphic to
    // (df, g). That rests on range partitions keeping the sort order under
    // AQE coalescing and on the sort surviving beneath the id's project.
    // Checked on the query's own vocabulary at the session's settings, and
    // on a larger vocabulary spread over several range partitions, with
    // and without coalescing.
    // asserts the order; returns how many partitions the ids came from
    def rankPartitions(gdf: DataFrame): Int = {
      val rows = TextDedup.gramRanks(gdf).collect()
        .map(r => (r.getAs[Long]("rk"), r.getAs[Long]("df"), UTF8String.fromString(r.getAs[String]("g"))))
        .sortBy(_._1)
      rows.sliding(2).foreach {
        case Array((_, df1, g1), (_, df2, g2)) =>
          assert(df1 < df2 || (df1 == df2 && g1.compareTo(g2) < 0), s"rk out of (df, g) order at ($df2, $g2)")
        case _ =>
      }
      rows.map(_._1 >>> 33).distinct.length
    }
    val (_, reps) = TextDedup.collapsedOf(spark, sf)
    val vocab = reps.select(explode(col("grams")).as("g")).groupBy("g").agg(count(lit(1)).as("df"))
    assert(rankPartitions(vocab) >= 1, "empty vocabulary")
    val wide = spark.range(0, 40000, 1, 8)
      .selectExpr("concat('g', CAST(id * 7919 % 40000 AS STRING)) AS g", "id % 23 AS df")
    for (coalesce <- Seq("false", "true")) withConf("spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k",
        "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce) {
      assert(rankPartitions(wide) > 1, s"coalesce=$coalesce: one range partition exercises nothing")
    }
  }

  test("collapse stats are internally consistent and exact on planted duplicates") {
    // on the driver corpus: totals must reconcile with the documents table
    val r = TextDedup.queries("dedup_collapse_stats")(spark, sf).head()
    val (nDocs, nGroups, nDup, maxG) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nDocs === Tables.documents(spark, sf).count())
    assert(nGroups + nDup === nDocs && nGroups >= 1 && maxG >= 1)
    assert(r.getDouble(4) === nDup.toDouble / nGroups)
    assert(r.getDouble(5) === (nDocs.toDouble * nDocs) / (nGroups.toDouble * nGroups))
    // on a corpus with planted exact duplicates the rate must move: re-id
    // half the docs as copies -> n_docs = 2g fixed points the formulas
    val s0 = spark; import s0.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally unrelated words appear here now")
    ).toDF("doc_id", "text")
    val grams = TextDedup.gramsOf(docs)
    val planted = grams
      .withColumn("fp", sha2(array_join(sort_array(col("grams")), "|"), 256))
      .groupBy("fp").count().collect().map(_.getLong(1)).sorted.toSeq
    assert(planted === Seq(1L, 1L, 2L), "0=1 collapse, 2 and 3 alone")
  }

  test("exact dedup groups every document and keeps the min doc_id") {
    val docs = Tables.documents(spark, sf).count()
    val dd = TextDedup.queries("dedup_exact")(spark, sf).cache()
    try {
      assert(dd.agg(sum(col("copies"))).head().getLong(0) === docs)
      assert(dd.filter(col("keeper_doc_id").isNull).count() === 0)
    } finally dd.unpersist() // leaked caches hijack later suites' plan pins
  }

  test("near-dup similarity gap: planted pairs >= 0.5, noise well below") {
    val j = TextDedup.queries("dedup_jaccard")(spark, sf)
    assert(j.filter(col("jaccard") < 0.5).count() === 0)
  }

  test("substring dedup equals the brute-force span merge on every document") {
    val g = TextDedup.SubstringG
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // corpus-wide occurrence count of every G-char window
    val occ = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (t <- texts.values; i <- 0 to t.length - g) occ(t.substring(i, i + g)) += 1
    // independent driver-side reimplementation: duplicated positions ->
    // gap>G interval merge -> (start, end, len, n_dup_grams)
    val expected = (for {
      (doc, t) <- texts.toSeq
      dupPos = (1 to t.length - g + 1).filter(p => occ(t.substring(p - 1, p - 1 + g)) >= 2)
      if dupPos.nonEmpty
      island <- dupPos.foldLeft(List.empty[List[Int]]) {
        case ((cur :: rest), p) if p - cur.head <= g => (p :: cur) :: rest
        case (acc, p) => List(p) :: acc
      }
    } yield (doc, island.min.toLong, island.max.toLong + g - 1,
      (island.max + g - island.min).toLong, island.size.toLong)).toSet
    val actual = TextDedup.substringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(expected.nonEmpty, "testdata should contain duplicate spans")
    assert(actual === expected)
    // structural invariants: spans per doc are disjoint with a real gap
    // (two spans closer than G would have merged) and within bounds
    for ((doc, spans) <- actual.groupBy(_._1)) {
      val sorted = spans.toSeq.sortBy(_._2)
      sorted.foreach { case (_, s0, e0, len, n) =>
        assert(len === e0 - s0 + 1); assert(len >= g)
        assert(s0 >= 1 && e0 <= texts(doc).length); assert(n >= 1)
      }
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _, _), (_, s2, _, _, _)) =>
          assert(s2 - (e1 - g + 1) > g, s"spans in doc $doc should not merge")
        case _ =>
      }
    }
  }

  test("substring dedup: collapsed and direct paths are row-identical (adaptive gate)") {
    // The estDupRate gate is a cost choice only — both plans must be exact
    // on ANY input, including one where they disagree with the gate's pick.
    val g = TextDedup.SubstringG
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def rows(collapse: Boolean) =
      TextDedup.substringSpansOver(spark, docs, g, collapseTier = collapse)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
    val a = rows(collapse = true)
    val b = rows(collapse = false)
    assert(a.nonEmpty)
    assert(a === b)
    // duplicate-emission guard: sorted SEQUENCES compared above, so a pair
    // expanding twice through overlapping joins cannot hide in a Set/Map
    assert(a.distinct.size === a.size)
  }

  test("adaptive-collapse gate: high-dup corpus collapses, unique corpus does not") {
    val s0 = spark; import s0.implicits._
    val unique = (1L to 400L).map(i => (i, s"doc body nr $i with its own words")).toDF("doc_id", "text")
    assert(TextDedup.estDupRate(unique, col("text")) < TextDedup.CollapseMinDupRate)
    val duped = (1L to 400L).map(i => (i, s"copy nr ${i % 40} shared body")).toDF("doc_id", "text")
    assert(TextDedup.estDupRate(duped, col("text")) >= TextDedup.CollapseMinDupRate)
    assert(TextDedup.estDupRate(unique.limit(0), col("text")) === 0.0)
  }

  test("simhash signature-collapse tier is exact on planted exact duplicates") {
    val s0 = spark; import s0.implicits._
    // 0=1=2 exact dups (identical signature clique, no rep edge needed);
    // 3 a near variant; 4 unrelated; 5 empty-token doc (no signature)
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different text about apples bananas and cherries today"),
      (5L, "...")
    ).toDF("doc_id", "text")
    val sigs = TextDedup.simhashes(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (d1, h1) <- sigs; (d2, h2) <- sigs if d1 < d2
      if java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield (d1, d2) -> java.lang.Long.bitCount(h1 ^ h2)).toMap
    val got = TextDedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
    val gm = got.toMap
    assert(got.length === gm.size, "each pair emitted exactly once")
    assert(gm === truth)
    // the planted clique must actually be in there as Hamming-0 pairs
    val clique = Seq((0L, 1L), (0L, 2L), (1L, 2L))
    assert(clique.toSet.subsetOf(gm.keySet))
    assert(clique.forall(p => gm(p) === 0))
  }

  test("band audit: S-curve matches libm pow; steeper configs only lose recall") {
    val rows = TextDedup.queries("minhash_band_audit")(spark, sf)
      .collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")) -> r)
      .toMap
    val order = Seq((64, 2), (32, 4), (16, 8), (8, 16))
    assert(rows.keySet === order.toSet)
    // independent ground truth: per-pair 1-(1-s^r)^b via libm pow over the
    // verified pair similarities (the query itself uses multiply trees)
    val js = TextDedup.queries("dedup_minhash")(spark, sf)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(js.nonEmpty)
    for ((b, r) <- order) {
      val row = rows((b, r))
      assert(row.getAs[Long]("n_pairs") === js.length.toLong)
      val exp = js.map(s => 1.0 - math.pow(1.0 - math.pow(s, r), b)).sum
      // 1e-6 fixed-point quantization per pair + multiply-tree vs libm slack
      assert(math.abs(row.getAs[Double]("expected_caught") - exp) <=
        1e-6 * js.length + 1e-9)
      assert(math.abs(row.getAs[Double]("expected_missed") -
        (js.length - row.getAs[Double]("expected_caught"))) <= 1e-9)
    }
    // doubling rows-per-band (halving bands) lowers capture POINTWISE:
    // (1-s^r)^2 <= (1-s^r)(1+s^r) = 1-s^2r, so expected recall and the
    // worst pair's odds are both monotone down the config list
    def chainDesc(v: Seq[Double]): Unit =
      v.sliding(2).foreach { case Seq(a, b) => assert(a >= b - 1e-12) case _ => }
    chainDesc(order.map(k => rows(k).getAs[Double]("expected_caught")))
    chainDesc(order.map(k => rows(k).getAs[Double]("min_catch_prob")))
    // the production 32x4 banding keeps every verified pair's capture
    // probability >= the S-curve value at the J=0.5 threshold (~0.873)
    assert(rows((32, 4)).getAs[Double]("min_catch_prob") >=
      1.0 - math.pow(1.0 - math.pow(TextDedup.JaccardThreshold, 4), 32) - 1e-9)
  }

  test("keep-best picks each cluster's max-quality member (tie: min doc_id)") {
    val clusters = TextDedup.queries("dedup_clusters")(spark, sf)
      .select("doc_id", "cluster_rep").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(clusters.nonEmpty)
    val quality = TextAnalysis.qualityOf(graft.Tables.documents(spark, sf))
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = clusters.groupBy(_._2).map { case (rep, ms) =>
      val members = ms.map(_._1)
      // argmax quality, ties to the smallest doc_id
      val keeper = members.minBy(id => (-quality(id), id))
      rep -> ((keeper, quality(keeper), members.length.toLong))
    }
    val got = TextDedup.queries("dedup_keep_best")(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_rep") ->
        ((r.getAs[Long]("keeper_doc_id"), r.getAs[Double]("keeper_quality"),
          r.getAs[Long]("n_members"))))
    assert(got.length === got.toMap.size, "one keeper per cluster")
    assert(got.toMap === expected)
  }

  test("threshold curve is monotone and anchors at the operating point") {
    val rows = TextDedup.queries("dedup_threshold_curve")(spark, sf).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === Set(0.5, 0.6, 0.7, 0.8, 0.9))
    val pairs = TextDedup.queries("dedup_minhash")(spark, sf)
      .select("d2", "jaccard").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // τ = operating threshold covers the whole verified pair set
    assert(rows(0.5)._1 === pairs.length.toLong)
    assert(rows(0.5)._2 === pairs.map(_._1).distinct.length.toLong)
    // raising τ can only shrink both counts
    val ordered = Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(rows)
    ordered.sliding(2).foreach { case Seq((p1, d1), (p2, d2)) =>
      assert(p2 <= p1); assert(d2 <= d1)
      case _ => }
    // exact per-τ ground truth from the collected pairs
    for (t <- Seq(0.6, 0.7, 0.8, 0.9)) {
      val qualifying = pairs.filter(_._2 >= t)
      assert(rows(t)._1 === qualifying.length.toLong, s"tau=$t n_pairs")
      assert(rows(t)._2 === qualifying.map(_._1).distinct.length.toLong, s"tau=$t dropped")
    }
  }

  test("incremental dedup = full pair set restricted to new-bucket partners") {
    def isNew(id: Long): Boolean = ((id * 1103515245L + 12345L) % 2147483647L) % 100L >= 80L
    val inc = TextDedup.queries("dedup_incremental")(spark, sf)
      .select("new_doc", "partner_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc.forall { case (n, _) => isNew(n) })
    // full symmetric jaccard pairs, re-keyed to (new, partner) form
    val full = pairsOf("dedup_jaccard").flatMap { case (a, b) =>
      Seq(if (isNew(b)) Some((b, a)) else None,
        if (isNew(a)) Some((a, b)) else None).flatten
    }.toSet
    assert(inc === full)
  }
}
