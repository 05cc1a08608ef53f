package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The int128 fixed-point sum must be exact, partition-order invariant,
  * correct on negatives (two's-complement carry path), and null-skipping —
  * it carries every Exact.* aggregate, so an error here would silently skew
  * the whole oracle surface. */
class Sum128Spec extends SparkSpec {

  private def sumOf(values: Seq[Double], scale: Int, parts: Int): Option[Double] = {
    val spark0 = spark
    import spark0.implicits._
    val r = values.toDF("v").repartition(parts)
      .agg(Sum128.sum128(col("v"), scale).as("s")).head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("exact sum of 2-decimal values, any partitioning") {
    val vals = (1 to 5000).map(i => ((i % 997) - 498) * 0.25)
    val expected = vals.map(v => math.round(v * 1e6)).sum / 1e6
    for (parts <- Seq(1, 7, 32)) {
      assert(sumOf(vals, 6, parts) === Some(expected))
    }
  }

  test("negative totals cross the 64-bit carry correctly") {
    // large alternating magnitudes force lo-word overflow in both signs
    val vals = (1 to 4000).map(i => if (i % 2 == 0) 8.9e8 else -8.9e8) :+ -123.456789
    val s = sumOf(vals, 6, 16).get
    assert(math.abs(s - -123.456789) < 1e-9)
  }

  test("nulls are skipped; all-null group yields null") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq[(Int, Option[Double])]((1, Some(1.5)), (1, None), (2, None))
      .toDF("k", "v")
    val rows = df.groupBy("k").agg(Sum128.sum128(col("v"), 6).as("s"))
      .orderBy("k").collect()
    assert(rows(0).getDouble(1) === 1.5)
    assert(rows(1).isNullAt(1))
  }

  test("quantization matches DuckDB round semantics (half away from zero)") {
    // .5 boundary cases in both signs at scale 0
    val s = sumOf(Seq(2.5, -2.5, 0.5, -1.5), 0, 3).get
    // 3 + (-3) + 1 + (-2) = -1
    assert(s === -1.0)
  }

  test("registered as a SQL function via session extensions") {
    val spark0 = spark
    import spark0.implicits._
    Seq(1.25, 2.25, -0.5).toDF("v").createOrReplaceTempView("s128_vals")
    val r = spark.sql("SELECT graft_sum128(v, 2) AS s FROM s128_vals").head()
    assert(r.getDouble(0) === 3.0)
  }
}
