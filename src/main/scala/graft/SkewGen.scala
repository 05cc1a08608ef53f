package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skewed-tier generator (VERDICT r14 #6): rewrites the FK / grouping keys
  * of a (possibly already [[ScaleGen]]-replicated) testdata directory to a
  * Zipf(s=1) distribution over the SAME key domain, so the hottest key
  * carries ~1/H(N) of all child rows (≈7-10% at N=10⁴..10⁶) instead of the
  * uniform 1/N. Every scale sweep so far replicated keys uniformly — skew
  * is the one scale axis those tiers never exercised, and it is the axis
  * that breaks shuffle-hash joins, per-key windows, and wedge-enumerating
  * graph queries in production.
  *
  * Mechanics: a child key k maps to `floor(N^u)` where u = hash64(k)/2⁶⁴
  * — the inverse-CDF trick for P(rank r) ∝ 1/r. The map is deterministic
  * (same key → same hot rank everywhere), ranks stay inside [1, N] and are
  * then mapped back into the parent's ACTUAL key domain by modular
  * placement, so referential integrity is preserved exactly: a remapped
  * child key always references an existing parent row. Parent tables are
  * copied unchanged; only child-side FK columns move.
  *
  * Like ScaleGen, the output is for PERFORMANCE measurement only — the
  * DuckDB oracle never reads it.
  *
  * Usage: runMain graft.SkewGen [srcDir] [outDir]
  */
object SkewGen {
  /** Zipf rank in [1, n] from a deterministic uniform in [0,1):
    * xxhash64 of the key, mapped to u, then floor(n^u) — the standard
    * inverse-CDF approximation for Zipf(s=1). */
  private[graft] def zipfRank(k: Column, n: Long): Column = {
    val u = (xxhash64(k) / lit(2.0) / lit(Long.MaxValue.toDouble) + lit(0.5))
    least(greatest(floor(pow(lit(n.toDouble), u)).cast("long"), lit(1L)), lit(n))
  }

  /** The rank→key placement is ARITHMETIC (minKey + rank − 1), so
    * it is only referentially sound when the parent key domain is dense:
    * any gap would make some ranks orphan FKs, silently breaking the
    * "referential integrity preserved exactly" contract and the
    * referential_integrity audit on this tier (ADVICE r15). True for the
    * driver testdata's contiguous keys — asserted here so any other
    * input fails at generation time instead of producing a subtly
    * wrong tier. */
  private[graft] def domain(df: DataFrame, k: String): (Long, Long) = {
    val r = df.agg(min(col(k)).cast("long"), max(col(k)).cast("long"),
      countDistinct(col(k))).head()
    val (lo, hi, nd) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(nd == hi - lo + 1L,
      s"parent key $k is not dense: $nd distinct over [$lo, $hi] — " +
        "arithmetic rank placement would orphan FKs")
    (lo, hi - lo + 1L)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("/tmp/graft_skew1")
    val spark = Sessions.local("graft-skewgen")

    /** Remap FK column `fk` of `df` to a Zipf-distributed key drawn from
      * the existing key domain [minKey, minKey+n): rank 1 (the hot key)
      * lands on `minKey`, rank r on minKey + (r-1). Nulls stay null. */
    def zipfFk(df: DataFrame, fk: String, minKey: Long, n: Long): DataFrame =
      df.withColumn(fk,
        when(col(fk).isNull, lit(null))
          .otherwise(zipfRank(col(fk), n) - 1L + lit(minKey)))

    val write = ScaleGen.write(spark, out, "SKEWGEN") _

    val customer = Tables.table(spark, src, "customer")
    val supplier = Tables.table(spark, src, "supplier")
    val part     = Tables.table(spark, src, "part")
    val orders   = Tables.table(spark, src, "orders")
    val lineitem = Tables.table(spark, src, "lineitem")
    val events   = Tables.table(spark, src, "events") // raw nano longs

    val (cMin, cN) = domain(customer, "c_custkey")
    val (sMin, sN) = domain(supplier, "s_suppkey")
    val (pMin, pN) = domain(part, "p_partkey")
    val (uMin, uN) = domain(events, "user_id")

    // parents + non-keyed tables: verbatim copies
    Seq("region", "nation", "customer", "supplier", "part",
        "documents", "embeddings")
      .foreach(n => write(n, Tables.table(spark, src, n)))
    // children: FK columns re-drawn Zipf over the parent domain. Primary
    // keys (o_orderkey, event_id, l_orderkey as a join key to orders'
    // OWN pk) are left alone — orders keeps its key set, so
    // lineitem->orders stays uniform while the dimension FKs go hot.
    write("orders", zipfFk(orders, "o_custkey", cMin, cN))
    write("lineitem",
      zipfFk(zipfFk(lineitem, "l_suppkey", sMin, sN), "l_partkey", pMin, pN))
    write("events", zipfFk(events, "user_id", uMin, uN))

    // report the achieved skew so the tier's shape is recorded evidence
    Seq(("orders", "o_custkey"), ("lineitem", "l_suppkey"),
        ("events", "user_id")).foreach { case (t, k) =>
      val df = spark.read.parquet(s"$out/$t.parquet")
      val top = df.groupBy(col(k)).count().orderBy(col("count").desc).limit(3)
        .collect().map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(" ")
      println(s"SKEWGEN top-$k $top of total=${df.count()}")
    }
    spark.stop()
  }
}
