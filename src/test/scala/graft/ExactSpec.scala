package graft

import org.apache.spark.sql.functions._

import graft.expr.Exact

/** The Exact builders must be (a) numerically faithful to the plain float
  * aggregates and (b) partitioning/order independent — that second property
  * is what makes the DuckDB oracle hash-compare stable. */
class ExactSpec extends SparkSpec {

  private def df(parts: Int) = {
    val spark0 = spark
    import spark0.implicits._
    (1 to 10000).map(i => (i % 7, math.sin(i) * 40 + 10)).toDF("k", "v").repartition(parts)
  }

  test("davg matches avg and dstd matches stddev_samp within float tolerance") {
    val r = df(8).agg(
      Exact.davg(col("v")).as("ea"), avg(col("v")).as("pa"),
      Exact.dstd(col("v")).as("es"), stddev_samp(col("v")).as("ps")).head()
    // tolerance reflects the DECIMAL(27,6) quantization (~5e-7 per value,
    // ~1e-8 on a 10k-row mean) — the price of order-independence
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5)
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5)
  }

  test("results are bit-identical across different partitionings") {
    def run(parts: Int): (Double, Double, Double) = {
      val r = df(parts).agg(
        Exact.dsum(col("v")).as("s"),
        Exact.davg(col("v")).as("a"),
        Exact.dstd(col("v")).as("d")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val a = run(1); val b = run(13); val c = run(64)
    assert(a === b)
    assert(b === c)
  }

  test("dstd of a single observation is null (stddev_samp semantics)") {
    val spark0 = spark
    import spark0.implicits._
    val r = Seq((1, 5.0)).toDF("k", "v").agg(Exact.dstd(col("v"))).head()
    assert(r.isNullAt(0))
  }

  test("cntIf counts exactly the true rows") {
    val spark0 = spark
    import spark0.implicits._
    val r = (1 to 100).toDF("i").agg(Exact.cntIf(col("i") % 3 === 0)).head()
    assert(r.getLong(0) === 33)
  }
}
