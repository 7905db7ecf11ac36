package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * curation wave (dedup_split_leakage, txt_waterfill_budget,
  * mm_contrastive_pairs).
  */
class Round16Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("split leakage: cells partition the LSH pair set, leak flags " +
       "mark exactly the cross-split cells, shares total ~1e6") {
    val rows = run("dedup_split_leakage", sf01).collect()
    assert(rows.nonEmpty)
    val totalPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    val lshPairs = run("dedup_lsh_pairs", sf01).count()
    assert(totalPairs == lshPairs,
      "leakage cells must partition the candidate pair set")
    var leaked = 0L
    for (r <- rows) {
      val lo = r.getAs[String]("split_lo")
      val hi = r.getAs[String]("split_hi")
      assert(lo <= hi, "cells must be canonicalized")
      assert(r.getAs[Long]("is_leak") == (if (lo != hi) 1L else 0L))
      if (lo != hi) leaked += r.getAs[Long]("n_pairs")
      assert(r.getAs[Long]("share_ppm") ==
        r.getAs[Long]("n_pairs") * 1000000L / totalPairs)
    }
    // An 80/10/10 hash split leaks ~34% of duplicate pairs in
    // expectation (1 − 0.8² − 0.1² − 0.1²); with thousands of planted
    // pairs the measured share can't collapse to 0 or blow past 60%.
    val leakPpm = leaked * 1000000L / totalPairs
    assert(leakPpm > 100000L && leakPpm < 600000L,
      s"leak share $leakPpm ppm outside plausibility band")
  }

  // -------------------------------------------------------------------
  test("water-fill: feasible within budget, caps respected, " +
       "non-exhausted sources share one level, leftover < n") {
    val rows = run("txt_waterfill_budget", sf01).collect()
    assert(rows.length >= 2)
    val avail = rows.map(_.getAs[Long]("avail")).sum
    val budget = avail / 2
    val alloc = rows.map(_.getAs[Long]("alloc")).sum
    assert(alloc <= budget, s"allocated $alloc exceeds budget $budget")
    val nonExh = rows.filter(_.getAs[Long]("exhausted") == 0L)
    assert(nonExh.nonEmpty, "B = total/2 cannot exhaust every source")
    for (r <- rows) {
      assert(r.getAs[Long]("alloc") <= r.getAs[Long]("avail"))
      if (r.getAs[Long]("exhausted") == 1L)
        assert(r.getAs[Long]("alloc") == r.getAs[Long]("avail") &&
          r.getAs[Long]("fill_ppm") == 1000000L)
    }
    // All non-exhausted, uncapped sources receive the same level.
    val levels = nonExh.map(_.getAs[Long]("alloc"))
      .filter(a => a < nonExh.map(_.getAs[Long]("avail")).min)
    assert(levels.distinct.length <= 1,
      s"water level must be common: ${levels.distinct.mkString(",")}")
    // Integer-div leftover is bounded by the non-exhausted count.
    assert(budget - alloc < rows.length.toLong,
      s"leftover ${budget - alloc} not < n=${rows.length}")
  }

  // -------------------------------------------------------------------
  test("contrastive pairs: negatives come from the anchor's source, " +
       "never the anchor itself, and rank by the true nearest gaps " +
       "among sort-neighbors") {
    import spark.implicits._
    val rows = run("mm_contrastive_pairs", sf01).collect()
    assert(rows.nonEmpty)
    val img = graft.Tables.documents(spark, sf01)
      .filter($"doc_id" % 3 === 0)
      .select($"doc_id", $"source",
        org.apache.spark.sql.functions.octet_length($"text")
          .cast("long"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    val bySource = img.groupBy(_._2._1)
    for (r <- rows) {
      val a = r.getAs[Long]("anchor_id")
      val n = r.getAs[Long]("neg_id")
      assert(a != n, "anchor can never be its own negative")
      assert(img(n)._1 == r.getAs[String]("source"), "same source")
      assert(r.getAs[Long]("len_gap") ==
        math.abs(img(a)._2 - img(n)._2))
    }
    // Per anchor: at most 3, ranks contiguous from 1, gaps
    // non-decreasing in rank.
    for ((a, rs0) <- rows.groupBy(_.getAs[Long]("anchor_id"))) {
      val rs = rs0.sortBy(_.getAs[Long]("rank"))
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rs.length.toLong))
      val gaps = rs.map(_.getAs[Long]("len_gap"))
      assert(gaps.zip(gaps.tail).forall { case (x, y) => x <= y })
      // Candidates are the ≤4 sort-neighbors (lag/lead 1..2), so an
      // anchor at position p in its source's (blen, id) order has
      // min(p, 2) + min(m-1-p, 2) of them.
      val peers = bySource(img(a)._1).toSeq
        .map { case (id, (_, len)) => (len, id) }.sorted
      val p = peers.indexOf((img(a)._2, a))
      val nCand = math.min(p, 2) + math.min(peers.length - 1 - p, 2)
      val expected = math.min(3, nCand)
      assert(rs.length == expected,
        s"anchor $a (pos $p of ${peers.length}): ${rs.length} " +
          s"negatives, expected $expected")
    }
  }

  // -------------------------------------------------------------------
  test("round-5 curation wave results are bit-identical under 4 and " +
       "7 shuffle partitions") {
    val queries = Seq("dedup_split_leakage" -> sf001,
      "txt_waterfill_budget" -> sf001, "mm_contrastive_pairs" -> sf001)
    assertPartitionInvariant(queries)
  }
}
