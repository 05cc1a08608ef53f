package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headroom-data generator: writes an sf-scaled copy of a testdata
  * directory by unioning F key-shifted replicas of each table (each key
  * domain offset by `copy × (max_key + 1)`, foreign keys shifted with
  * their parents so join fan-outs are preserved exactly). Dim tables
  * (region, nation) are copied as-is.
  *
  * Purpose: the bench only sees sf0.1, where a hidden O(n²) still looks
  * flat — running the most expensive queries once at ~sf1 exposes
  * super-linear scaling. The output is for PERFORMANCE measurement only
  * (the DuckDB oracle never reads it): `events.ts` in the driver files is
  * parquet TIMESTAMP(NANOS), which Spark cannot write back, so the scaled
  * copy stores the raw nano longs that [[Tables.events]] already consumes
  * under `nanosAsLong`.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [outDir] [factor]
  */
object ScaleGen {
  /** Write `df` to `<out>/<name>.parquet` and print `<tag> <name> rows=<n>`,
    * counted from the written files (shared by the tier generators). */
  private[graft] def write(spark: SparkSession, out: String, tag: String)(
      name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    println(s"$tag $name rows=" + spark.read.parquet(s"$out/$name.parquet").count())
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local("graft-scalegen")

    def replicate(df: DataFrame, keys: Map[String, Long]): DataFrame = {
      val copies = spark.range(factor).select(col("id").as("graft_copy"))
      val shifted = keys.foldLeft(df.crossJoin(broadcast(copies))) {
        case (acc, (k, base)) =>
          acc.withColumn(k, col(k) + col("graft_copy") * base)
      }
      shifted.select(df.columns.map(col): _*)
    }

    def keyBase(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0) + 1L

    val write = ScaleGen.write(spark, out, "SCALEGEN") _

    val customer = Tables.table(spark, src, "customer")
    val supplier = Tables.table(spark, src, "supplier")
    val part     = Tables.table(spark, src, "part")
    val orders   = Tables.table(spark, src, "orders")
    val lineitem = Tables.table(spark, src, "lineitem")
    val events   = Tables.table(spark, src, "events") // raw nano longs
    val docs     = Tables.table(spark, src, "documents")
    val embs     = Tables.table(spark, src, "embeddings")

    val cBase = keyBase(customer, "c_custkey")
    val sBase = keyBase(supplier, "s_suppkey")
    val pBase = keyBase(part, "p_partkey")
    val oBase = keyBase(orders, "o_orderkey")
    val eBase = keyBase(events, "event_id")
    val uBase = keyBase(events, "user_id")
    val dBase = keyBase(docs, "doc_id")
    val vBase = keyBase(embs, "vec_id")

    Seq("region", "nation").foreach(n => write(n, Tables.table(spark, src, n)))
    write("customer", replicate(customer, Map("c_custkey" -> cBase)))
    write("supplier", replicate(supplier, Map("s_suppkey" -> sBase)))
    write("part", replicate(part, Map("p_partkey" -> pBase)))
    write("orders", replicate(orders,
      Map("o_orderkey" -> oBase, "o_custkey" -> cBase)))
    write("lineitem", replicate(lineitem,
      Map("l_orderkey" -> oBase, "l_partkey" -> pBase, "l_suppkey" -> sBase)))
    write("events", replicate(events,
      Map("event_id" -> eBase, "user_id" -> uBase)))
    write("documents", replicate(docs, Map("doc_id" -> dBase)))
    write("embeddings", replicate(embs, Map("vec_id" -> vBase)))
    spark.stop()
  }
}
