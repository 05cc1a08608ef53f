package graft

import graft.llm._
import graft.queries._

/** Pins on the driver contract itself (SparkEntry): the full-oracle
  * discipline and the merge of ~30 module query maps are load-bearing and
  * easy to break silently — `Map ++` resolves a cross-module name
  * collision by dropping one implementation without a compile error. */
class ContractSpec extends SparkSpec {

  test("every registered query has an oracle and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("no cross-module query-name collision is silently dropped by the merge") {
    val moduleMaps: Seq[(String, Int)] = Seq(
      "iot" -> 12,
      "Relational" -> Relational.queries.size,
      "Temporal" -> Temporal.queries.size,
      "Analytics" -> Analytics.queries.size,
      "Windowed" -> Windowed.queries.size,
      "Diagnostics" -> Diagnostics.queries.size,
      "Graph" -> Graph.queries.size,
      "Linkage" -> graft.queries.Linkage.queries.size,
      "TextAnalysis" -> TextAnalysis.queries.size,
      "TextDedup" -> TextDedup.queries.size,
      "LangModel" -> LangModel.queries.size,
      "CorpusClean" -> CorpusClean.queries.size,
      "CorpusQuality" -> CorpusQuality.queries.size,
      "TrainPrep" -> TrainPrep.queries.size,
      "KMeans" -> KMeans.queries.size,
      "Similarity" -> (Similarity.queries.size + Similarity.lshQueries.size),
      "IvfAnn" -> IvfAnn.queries.size,
      "PqAnn" -> PqAnn.queries.size,
      "AnnRecall" -> AnnRecall.queries.size,
      "SemDeDup" -> SemDeDup.queries.size,
      "Multimodal" -> Multimodal.queries.size,
      "Retrieval" -> Retrieval.queries.size,
      "Enrich" -> Enrich.queries.size,
      "Stats" -> Stats.queries.size,
      "ScaleOps" -> ScaleOps.queries.size,
      "PhraseIndex" -> PhraseIndex.queries.size,
      "KnnLabel" -> KnnLabel.queries.size,
      "BatchPrep" -> BatchPrep.queries.size,
      "Lexicon" -> Lexicon.queries.size,
      "Perceptron" -> Perceptron.queries.size,
      "Pca" -> Pca.queries.size,
      "Stump" -> Stump.queries.size)
    val expected = moduleMaps.map(_._2).sum
    assert(SparkEntry.queries.size === expected,
      s"merged query map lost ${expected - SparkEntry.queries.size} entries to a name collision " +
        s"(module sizes: ${moduleMaps.map { case (n, c) => s"$n=$c" }.mkString(", ")})")
  }

  test("query names are driver-safe (lowercase snake case)") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-snake-case query names: $bad")
  }

  test("driver-side collect() stays confined to the audited bounded sites") {
    // Every .collect() in main is bounded by construction (one long per
    // partition in PrefixSum's totals pass, the ≤4096-vector IVF codebook
    // sample, a 1-row argmax in the BPE trainer, the generator mains'
    // top-key reports). A new collect site means a new driver-bound
    // audit — this test forces that conversation instead of letting an
    // unbounded driver materialization slip in as "just a collect".
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val audited = Map(
      "operators/PrefixSum.scala" -> 1, // per-partition totals (longs)
      "llm/IvfAnn.scala" -> 1,      // bounded codebook sample
      "llm/LangModel.scala" -> 1,   // limit(1) argmax
      "llm/Pca.scala" -> 1,         // d²-bounded Gramian (driver eigensolve)
      "SkewGen.scala" -> 1,         // 3-row top-key report in the generator main
      "ContentSkewGen.scala" -> 1)  // 5-row top-text report in the generator main
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = java.util.regex.Pattern.quote(".collect()").r
          .findAllIn(java.nio.file.Files.readString(p)).size
        if (n > 0) Some(p.toString.replaceFirst(".*graft/", "") -> n) else None
      }.toMap
    assert(found === audited,
      s"collect() inventory drifted — audit any new site for driver-side boundedness: $found")
  }

  test("cache releases stay confined to the audited same-call sites") {
    // SessionCache owns frame lifetimes: shared frames are persisted
    // layers, builders' loop frames are retired per (session, owner). A
    // hand-placed unpersist elsewhere is either a premature release (the
    // returned lazy plan then runs without its cache) or a second
    // lifetime mechanism — this test forces that conversation.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val audited = Map(
      "SessionCache.scala" -> 2,              // both retires: the previous generation
      "streaming/IncrementalMart.scala" -> 6, // foreachBatch-local frames
      "llm/TextDedup.scala" -> 1,             // clusters loop scratch after its count()
      "llm/LangModel.scala" -> 2)             // vocab after the collect/checkpoint loop
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = java.util.regex.Pattern.quote(".unpersist(").r
          .findAllIn(java.nio.file.Files.readString(p)).size
        if (n > 0) Some(p.toString.replaceFirst(".*graft/", "") -> n) else None
      }.toMap
    assert(found === audited,
      s"unpersist() inventory drifted — route frame lifetimes through SessionCache: $found")
  }

  test("streaming queries run and temp dirs are made only in the gate runner") {
    // StreamGate owns the gate lifecycle (scoped conf, plan-derived state
    // provider, checkpoint dir, AvailableNow run, state record) and the
    // temp root that dies with the JVM. A hand-started query elsewhere
    // skips all of that; a stray temp directory outlives its session.
    // IngestStream.run is the one library API that returns a started query.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val tokens = Seq("writeStream", ".start()", "awaitTermination(", "createTempDirectory(")
    val audited = Map(
      "streaming/StreamGate.scala" -> Map(
        "writeStream" -> 1, ".start()" -> 1, "awaitTermination(" -> 1,
        "createTempDirectory(" -> 1),
      "streaming/IngestStream.scala" -> Map("writeStream" -> 1, ".start()" -> 1))
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        val counts = tokens.map(t => t -> java.util.regex.Pattern.quote(t).r
          .findAllIn(src).size).filter(_._2 > 0).toMap
        if (counts.nonEmpty) Some(p.toString.replaceFirst(".*graft/", "") -> counts) else None
      }.toMap
    assert(found === audited,
      s"streaming run / temp dir inventory drifted — route gates through StreamGate: $found")
  }

  test("the file: file system is registered only where sessions are built") {
    // one class decides how graft writes local files, fixed with the
    // context; the checkpoint manager that routes checkpoints through it is
    // scoped to one gate run, and set anywhere else it would leak into user
    // queries with their own (possibly remote) checkpoints
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    def filesWith(token: String): Set[String] = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && java.nio.file.Files.readString(p).contains(token))
      .map(_.toString.replaceFirst(".*graft/", "")).toSet
    assert(filesWith("fs.file.impl") === Set("Sessions.scala"))
    assert(filesWith("checkpointFileManagerClass") === Set("streaming/StreamGate.scala"))
  }

  test("query construction runs no Spark jobs outside the audited mechanisms") {
    // VERDICT r12 #4: builders must be LAZY — a stray count()/head() at
    // construction is one driver job per call and, at 100 TB, an
    // accidental full scan before the user even picks an action (the
    // triangle_count regression this audit exists to keep fixed). Every
    // registered query is constructed TWICE (the first pass un-instrumented
    // so shared layer caches — BPE vocab, PCA gramian, ANN codebooks,
    // bloom images, mart layers — build once and memoize), then the second
    // construction runs under a tagged job group and its job count is read
    // back. The set of queries allowed nonzero construction jobs is pinned
    // EXACTLY (both directions — a new eager action fails, and a builder
    // that went lazy must leave the list), each entry justified by its
    // mechanism below.
    //
    // Excluded outright (construction intentionally EXECUTES each time):
    //  - stream_exec_*: a memory-sink stream must RUN to produce its
    //    table, and the watermark-cutoff head() reads are stream configs
    //    that cannot live in-plan (Enrich.streamLeftJoin);
    //  - dedup_substring + contamination_overlap: the adaptive dup-rate
    //    gate (count+HLL pre-pass, TextDedup.estDupRate) IS the plan
    //    choice — AQE-style, two sketch buffers of driver data, exact
    //    either way. contamination_overlap memoizes the verdict per
    //    (session, dir), so only a fresh session's FIRST construction runs
    //    the pre-pass — pinned here rather than hidden by the warm pass's
    //    memoization (ADVICE r13).
    val excluded: String => Boolean =
      n => n.startsWith("stream_exec_") || n == "dedup_substring" ||
        n == "contamination_overlap"
    // Checkpointed DataFrame loops: perceptron_steps and bpe_merges_batch
    // checkpoint eagerly between rounds, and link_prediction leafs its
    // shared adjacency with a lazy localCheckpoint — under AQE producing
    // the checkpoint RDD still runs its stages at construction. The work
    // is the query's own stages moved earlier, never redundant.
    // (The supplier-graph queries — pagerank_integer, bfs_hops,
    // sssp_weighted, label_propagation, k_core, closeness_centrality,
    // stress_centrality, triangle_count, clustering_coefficient — run as
    // GraphX rounds over the cached graph layers, inside the result's one
    // job.)
    val supersteps = Set("perceptron_steps", "bpe_merges_batch", "link_prediction")
    // Shared-frame eager checkpoint: a frame feeding several plan branches
    // is leafed once at construction, so the branch-shared compute runs
    // once instead of per-branch at action time. (rrf_fusion left the
    // list once its ranks became the planned PrefixSum: its construction
    // jobs were the ranks', not a checkpoint's.)
    val sharedFrame = Set(
      "cosine_neardup", "semdedup", "doc_rarity_score", "tf_cosine_pairs",
      "proto_outliers", "jaccard_prefix_join", "acf_lags",
      "theil_sen_trend", "seasonal_decompose", "paragraph_dedup",
      "doc_surprisal_bits", "kendall_tau", "mutual_nn_pairs",
      "cdc_chunk_dedup", "markov_stationary", "cuped_adjustment",
      "kcenter_coreset", "kcenter_coreset_k16",
      // r16: the rank-array frame feeds prefix explode + probe + both
      // verify sides (the jaccard_prefix_join diamond, same mechanism)
      "dedup_containment",
      // the per-customer / per-user base feeds every rank branch plus the
      // join back (left the Ranks list when PrefixSum made ranks lazy;
      // without the leaf the aggregate re-runs per branch: spearman_rho
      // 10 -> 11 jobs, rfm_segments 19 -> 27 jobs at sf0.1)
      "spearman_rho", "rfm_segments",
      // lazy localCheckpoint(false) of the scored frame: under AQE its
      // join stages run when the checkpoint RDD is produced
      "score_decile_lift")
    // Write-lifecycle queries: the operator under test IS a write + read
    // back (partitioned layout pruning, multi-format round-trip).
    val writeLifecycle = Set("partition_pruned_counts", "multi_format_union")
    val allowedJobs = supersteps ++ sharedFrame ++ writeLifecycle

    val sc = spark.sparkContext
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, f) =>
      if (!excluded(n)) f(spark, sf)
    }
    // tagged pass: any job submitted synchronously during construction
    // inherits the thread-local job group
    SparkEntry.queries.keys.toSeq.sorted.filterNot(excluded).foreach { n =>
      sc.setJobGroup(s"construct-audit-$n", n, interruptOnCancel = false)
      try SparkEntry.queries(n)(spark, sf) finally sc.clearJobGroup()
    }
    // the status store is fed from the listener bus asynchronously: read
    // it only once every job event posted so far has been delivered
    org.apache.spark.graft.Bus.drain(sc)
    val ran = SparkEntry.queries.keys.toSeq.sorted.filterNot(excluded)
      .map(n => n -> sc.statusTracker.getJobIdsForGroup(s"construct-audit-$n").length)
      .filter(_._2 > 0).toMap
    val offenders = ran.keySet -- allowedJobs
    assert(offenders.isEmpty,
      s"builders running Spark jobs at construction outside the audited mechanisms " +
        s"(jobs per query): ${offenders.toSeq.sorted.map(n => s"$n=${ran(n)}")}")
    val stale = allowedJobs -- ran.keySet
    assert(stale.isEmpty,
      s"audited entries now construction-lazy — remove from the whitelist: $stale")
  }

  test("superstep builders leave no growing persisted-RDD footprint across invocations") {
    // VERDICT r13 #3: the SessionCache.retire discipline (each builder
    // hands its loop frames — or, for the GraphX loops, the RDDs GraphX
    // cached — over, and the PREVIOUS invocation's are unpersisted when it
    // is re-invoked) must hold mechanically for the whole superstep
    // family, or repeated invocations accumulate blocks for the JVM
    // lifetime. Checkpointed
    // frames (localCheckpoint) are excluded: their blocks are their ONLY
    // storage (unpersisting one severs it), they are node-scale by design,
    // and the ContextCleaner reclaims them when the frame is GC'd.
    val names = Seq("bfs_hops", "sssp_weighted", "k_core", "closeness_centrality",
      "pagerank_integer", "label_propagation", "link_prediction",
      "dedup_clusters", "dedup_keep_best", "stress_centrality",
      "triangle_count", "clustering_coefficient", "perceptron_steps",
      "degree_assortativity")
    def run(n: String): Unit = SparkEntry.queries(n)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    // Count AFTER a GC pass: a lazily-checkpointed frame whose
    // materialization never fired (e.g. a superstep round AQE folded
    // away) is reclaimed by the ContextCleaner only once GC runs, so an
    // un-collected straggler from an EARLIER suite would otherwise flip
    // this count nondeterministically. The frames retire() is auditing
    // are STRONGLY held in SessionCache's generation entries — GC cannot
    // launder a missing unpersist.
    def persistedNonCkpt: Int = {
      System.gc()
      Thread.sleep(1500)
      spark.sparkContext.getPersistentRDDs.values.count(r => !r.isCheckpointed)
    }
    names.foreach(run) // shared layers (graph layers, clusters, ...) build once
    names.foreach(run) // steady state: every retire() key now has a generation
    val before = persistedNonCkpt
    names.foreach(run)
    val after = persistedNonCkpt
    assert(after <= before,
      s"persisted (non-checkpoint) RDDs grew across re-invocations: $before -> $after " +
        "— a superstep builder is missing the retire() discipline")
  }
}
