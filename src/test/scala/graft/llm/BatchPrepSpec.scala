package graft.llm

import graft.SparkSpec

/** Semantics checks for the batch/epoch preparation family. */
class BatchPrepSpec extends SparkSpec {

  test("epoch_shuffle: each epoch is a complete permutation, epochs differ") {
    val rows = BatchPrep.epochShuffle(spark, sf).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos")))
    val nDocs = graft.Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(1, 2))
    byEpoch.values.foreach { es =>
      // every doc appears exactly once per epoch
      assert(es.map(_._2).distinct.length.toLong === nDocs)
      // positions are contiguous 1..n within each shard
      es.groupBy(_._3).values.foreach { sh =>
        assert(sh.map(_._4).sorted.toSeq === (1L to sh.length))
      }
    }
    // the two epochs order at least one shard differently
    def order(e: Int) = byEpoch(e).sortBy(r => (r._3, r._4)).map(_._2).toSeq
    assert(order(1) !== order(2), "epoch seed must change the permutation")
  }

  test("resume_page: page is the shard-offset global order, 100 rows past 40%") {
    val rows = BatchPrep.resumePage(spark, sf).collect()
    assert(rows.length === 100)
    val total = graft.Tables.documents(spark, sf).count()
    val skip = total * 2 / 5
    val poss = rows.map(_.getAs[Long]("global_pos")).sorted
    assert(poss.toSeq === ((skip + 1) to (skip + 100)))
    // global_pos is consistent with (shard, pos) lexicographic order:
    // same shard → global_pos ordered like pos
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("global_pos")).toSeq ===
        sorted.map(_.getAs[Long]("global_pos")).sorted.toSeq)
    }
  }

  test("length_batching: batches respect size cap and pad waste is exact") {
    val rows = BatchPrep.lengthBatching(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, maxLen, sumLen, pad) = (r.getAs[Long]("n_seqs"),
        r.getAs[Long]("max_len"), r.getAs[Long]("sum_len"), r.getAs[Long]("pad_waste"))
      assert(n >= 1 && n <= 8)
      assert(pad === n * maxLen - sumLen)
      assert(pad >= 0)
      // every sequence in a bin is within BinWidth of the max → bounded waste
      assert(pad <= n * 15, s"bin-mate lengths must be within the bin width: $r")
    }
  }

  test("tokenizer_fertility: ratios are the exact integer-sum divisions") {
    val rows = BatchPrep.tokenizerFertility(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("chars_per_token") ===
        r.getAs[Long]("n_chars").toDouble / r.getAs[Long]("n_tokens").toDouble)
      assert(r.getAs[Double]("tokens_per_doc") ===
        r.getAs[Long]("n_tokens").toDouble / r.getAs[Long]("n_docs").toDouble)
      // sanity: tokens are non-empty alnum runs → at least 1 char each
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
  }
}
