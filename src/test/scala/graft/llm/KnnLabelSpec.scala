package graft.llm

import graft.SparkSpec

/** Semantics checks for the label-space embedding operators, against a
  * JVM brute-force recomputation with the shared fold-exact dot kernel. */
class KnnLabelSpec extends SparkSpec {

  private lazy val vecs: Array[(Long, Int, Array[Float])] =
    graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))

  private def cos(a: Array[Float], b: Array[Float]): Double =
    Similarity.dotJvm(a, b) / (Similarity.normJvm(a) * Similarity.normJvm(b))

  test("knn_classify agrees with brute-force majority vote") {
    val out = KnnLabel.knnClassify(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Int]("pred_label"), r.getAs[Long]("votes"))).toMap
    val queries = vecs.filter(_._1 % 50 == 0)
    assert(out.keySet === queries.map(_._1).toSet)
    queries.foreach { case (qid, _, qe) =>
      val top = vecs.filter(_._1 != qid)
        .map { case (id, lbl, e) => (id, lbl, cos(qe, e)) }
        .sortBy { case (id, _, c) => (-c, id) }
        .take(KnnLabel.K)
      val votes = top.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (predLabel, nVotes) = votes.toSeq.minBy { case (l, v) => (-v, l) }
      assert(out(qid) === ((predLabel, nVotes)), s"query $qid")
    }
  }

  test("hard_negatives picks the top cross-label neighbor") {
    val out = KnnLabel.hardNegatives(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neg_id"), r.getAs[Int]("neg_label"))).toMap
    val queries = vecs.filter(_._1 % 50 == 0)
    queries.foreach { case (qid, qLbl, qe) =>
      val best = vecs.filter { case (id, lbl, _) => id != qid && lbl != qLbl }
        .map { case (id, lbl, e) => (id, lbl, cos(qe, e)) }
        .minBy { case (id, _, c) => (-c, id) }
      assert(out(qid) === ((best._1, best._2)), s"query $qid")
      assert(best._2 !== qLbl)
    }
  }
}
