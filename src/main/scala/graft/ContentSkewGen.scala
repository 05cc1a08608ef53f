package graft

import org.apache.spark.sql.functions._

/** Content-skewed corpus tier (VERDICT r15 #2): rewrites the `documents`
  * table so its CONTENT — not its keys — is Zipf-distributed, the
  * production shape of crawl data the uniform and key-skew tiers never
  * exercised:
  *
  *  1. **Duplicate-text skew**: document i keeps its id/lang/source but
  *     takes the TEXT of the document at Zipf(s=1) rank of hash(i) — the
  *     hottest text is shared by ~1/H(N) of all docs (≈9% at N=5·10⁴,
  *     i.e. thousands of exact copies of one document), with the full
  *     Zipf tail behind it. This is the axis that breaks pair-generating
  *     dedup: an all-pairs candidate generator sees C(hot,2) pairs, a
  *     collapse-before-join spine sees `hot` rows once.
  *  2. **Hot-token skew**: a fixed token is appended to 90% of docs, so
  *     one vocabulary entry's document frequency is 0.9 — the stop-word
  *     shape that breaks inverted-index / band-bucket approaches that
  *     key candidate generation on token occurrence.
  *
  * Every other table is copied verbatim. Like ScaleGen/SkewGen the output
  * is for PERFORMANCE measurement only — the DuckDB oracle never reads it
  * (dedup semantics on a different corpus are still covered by the sf0.01
  * oracle gate; this tier measures the SHAPE of the work).
  *
  * Usage: runMain graft.ContentSkewGen [srcDir] [outDir]
  */
object ContentSkewGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("/tmp/graft_cskew1")
    val spark = Sessions.local("graft-cskewgen")

    val write = ScaleGen.write(spark, out, "CSKEWGEN") _

    // non-document tables: verbatim copies so every query still runs
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings")
      .foreach(n => write(n, Tables.table(spark, src, n)))

    val docs = Tables.table(spark, src, "documents")
    // rank→id placement is arithmetic, so the id domain must be dense
    val (minId, n) = SkewGen.domain(docs, "doc_id")

    val texts = docs.select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val skewed = docs.drop("text")
      .withColumn("src_id", SkewGen.zipfRank(col("doc_id"), n) - 1L + lit(minId))
      .join(texts, "src_id")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) =!= 0,
          concat(col("src_text"), lit(" spark")))
          .otherwise(col("src_text")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    write("documents", skewed)

    // record the achieved content skew as evidence
    val d2 = spark.read.parquet(s"$out/documents.parquet")
    val top = d2.groupBy(sha2(col("text"), 256).as("h")).count()
      .orderBy(col("count").desc).limit(5)
      .collect().map(x => x.getLong(1)).mkString(",")
    println(s"CSKEWGEN top-text-counts $top of total=${d2.count()}")
    spark.stop()
  }
}
