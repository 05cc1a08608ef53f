package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.Analytics

/** Semantics beyond the oracle hash-compare for the kmeans / range-join /
  * checksum / containment / negative-sampling batch. */
class KMeansSpec extends SparkSpec {

  test("kmeans_step: every vector lands in exactly one cluster; dims complete") {
    val out = KMeans.queries("kmeans_step")(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    // n_vectors summed over clusters (once per cluster, not per dim row)
    val perCluster = out.select("cluster", "n_vectors").distinct()
    assert(perCluster.agg(sum("n_vectors")).head.getLong(0) == total)
    // every cluster row set carries all 64 dims
    val badDims = out.groupBy("cluster").agg(countDistinct("dim").as("nd"))
      .filter(col("nd") =!= 64)
    assert(badDims.count() == 0)
  }

  test("binned_range_join equals the direct range-predicate formulation") {
    val binned = Analytics.queries("binned_range_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ev = Tables.events(spark, sf)
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), unix_micros(col("ts")).as("et"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("pt"))
    val direct = err.crossJoin(pur)
      .groupBy("error_id")
      .agg(sum(when(abs(col("pt") - col("et")) <= 900000000L, 1L).otherwise(0L)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(binned == direct)
    assert(binned.values.exists(_ > 0), "degenerate: no nearby purchases at all")
  }

  test("table_checksum is deterministic and reflects row count") {
    val a = Analytics.queries("table_checksum")(spark, sf).head
    val b = Analytics.queries("table_checksum")(spark, sf).head
    assert(a == b)
    assert(a.getLong(0) == Tables.lineitem(spark, sf).count())
    assert(a.getLong(2) >= 0 && a.getLong(3) < 1000000007L)
  }

  test("dedup_containment: asymmetric, bounded, and implied by jaccard pairs") {
    val c = TextDedup.queries("dedup_containment")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(c.forall { case (_, _, x) => x >= TextDedup.ContainmentThreshold && x <= 1.0 })
    assert(c.forall { case (a, b, _) => a != b })
  }

  test("negative_samples: 3 per doc, never the anchor, ids in range") {
    val out = TrainPrep.queries("negative_samples")(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.count() == 3 * nDocs)
    assert(out.filter(col("neg_doc_id") === col("doc_id")).count() == 0)
    assert(out.filter(col("neg_doc_id") < 0 || col("neg_doc_id") >= nDocs).count() == 0)
    assert(out.groupBy("doc_id").count().filter(col("count") =!= 3).count() == 0)
  }

  test("kcenter_coreset matches a driver-side greedy farthest-point replay") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val dx = a(i).toDouble - b(i).toDouble; acc += dx * dx; i += 1
      }
      acc
    }
    var centers = Vector(vecs.head._1)
    var expect = Vector((1, vecs.head._1, Option.empty[Double]))
    for (r <- 2 to KMeans.KCenters) {
      val cands = vecs.map { case (id, v) =>
        (id, centers.map(c => sq(v, vecs.find(_._1 == c).get._2)).min)
      }
      val (bid, bd) = cands.minBy { case (id, d) => (-d, id) }
      centers :+= bid
      expect :+= ((r, bid, Some(bd)))
    }
    val got = collectCenters(KMeans.queries("kcenter_coreset")(spark, sf))
    assert(got === expect)
    // radii shrink (or tie) as coverage grows
    val radii = expect.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
  }

  private def collectCenters(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1),
      if (r.isNullAt(2)) Option.empty[Double] else Some(r.getDouble(2))))
      .sortBy(_._1).toVector
}
