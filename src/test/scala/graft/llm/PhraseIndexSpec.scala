package graft.llm

import graft.SparkSpec

/** Semantics checks for the positional-index retrieval family. */
class PhraseIndexSpec extends SparkSpec {

  private def tokenize(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  test("phrase_search matches a brute-force sliding-window scan") {
    val fast = PhraseIndex.phraseSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos")))).toMap
    val phrase = PhraseIndex.Phrase
    val slow = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val toks = tokenize(r.getString(1))
        val starts = (0 to toks.length - phrase.size).filter(i =>
          phrase.indices.forall(j => toks(i + j) == phrase(j)))
        if (starts.isEmpty) None
        // 1-based positions to match the engine contract
        else Some(r.getLong(0) -> (starts.size.toLong, (starts.min + 1).toLong))
      }.toMap
    assert(fast === slow)
  }

  test("collocation_lift: counts are exact and ranking is by lift") {
    val rows = PhraseIndex.collocationLift(spark, sf).orderBy("rnk").collect()
    assert(rows.nonEmpty && rows.length <= PhraseIndex.TopN)
    val docs = graft.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val uni = docs.flatMap(tokenize).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTokens = uni.values.sum
    val bi = docs.flatMap(t => tokenize(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var prev = Double.MaxValue
    rows.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(r.getAs[Long]("c_xy") === bi(s"$w1 $w2"))
      assert(r.getAs[Long]("c_x") === uni(w1))
      assert(r.getAs[Long]("c_y") === uni(w2))
      assert(r.getAs[Long]("c_xy") >= PhraseIndex.MinSupport)
      val lift = (r.getAs[Long]("c_xy") * nTokens).toDouble /
        (r.getAs[Long]("c_x") * r.getAs[Long]("c_y")).toDouble
      assert(r.getAs[Double]("lift") === lift)
      assert(lift <= prev + 1e-12); prev = lift
    }
  }
}
