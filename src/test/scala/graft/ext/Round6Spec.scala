package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Partition-count invariance + semantic pins for the streaks /
  * attribution / containment / decile-lift / novelty / pHash wave.
  * Same contract as [[Round5InvarianceSpec]]: identical row multisets
  * under different shuffle-partition counts, plus per-query
  * invariants that an oracle hash cannot express (credit
  * conservation, pigeonhole completeness, monotone shares).
  */
class Round6Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "ev_streaks", "ev_multitouch_attribution", "dedup_containment",
    "rel_decile_lift", "txt_ngram_novelty", "mm_phash_hamming",
    "ev_churn_risk", "gr_bfs_reach", "mm_modality_balance",
    "txt_vocab_coverage")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("streaks: longest <= total active days, streaks partition the days") {
    val rows = SparkEntry.queries("ev_streaks")(spark, sf).collect()
    rows.foreach { r =>
      val longest = r.getLong(1); val days = r.getLong(2); val n = r.getLong(3)
      assert(longest >= 1 && longest <= days, s"longest $longest days $days")
      // n streaks of length >= 1 each, one of them `longest`:
      assert(days >= n + longest - 1, s"days $days n $n longest $longest")
    }
  }

  test("attribution: every purchase's credit sums to exactly 1e6 ppm") {
    val rows = SparkEntry.queries("ev_multitouch_attribution")(spark, sf)
      .collect()
    val totalCredit = rows.map(_.getLong(2)).sum
    val nFirst = rows.map(_.getLong(3)).sum
    val nLast = rows.map(_.getLong(4)).sum
    // first/last flags each appear exactly once per attributed
    // purchase, and integer credit conservation means total credit
    // is exactly 1e6 × that purchase count:
    assert(nFirst == nLast, s"first $nFirst vs last $nLast")
    assert(totalCredit == 1000000L * nFirst,
      s"credit $totalCredit for $nFirst purchases")
  }

  test("containment: ratio in (0,1], subsumes jaccard-0.5 pairs' direction") {
    val rows = SparkEntry.queries("dedup_containment")(spark, sf).collect()
    rows.foreach { r =>
      val inter = r.getLong(2); val na = r.getLong(3); val nb = r.getLong(4)
      val c = r.getDouble(5)
      assert(inter <= math.min(na, nb), "intersection exceeds a set size")
      assert(c >= 0.8 && c <= 1.0, s"containment $c out of band")
    }
  }

  test("decile lift: shares sum to 1, cumulative share is monotone to 1") {
    val rows = SparkEntry.queries("rel_decile_lift")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0).toInt).toSeq == (1 to 10),
      "expected exactly deciles 1..10")
    val shares = rows.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 1e-9, s"shares sum ${shares.sum}")
    val cums = rows.map(_.getDouble(4))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b },
      "cumulative share must be monotone")
    assert(math.abs(cums.last - 1.0) < 1e-12, s"final cum ${cums.last}")
    // Deciles are ordered by spend DESC: shares must be non-increasing.
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b - 1e-12 },
      "decile revenue share must decrease down the ranking")
  }

  test("novelty: doc 1 is fully novel; novel counts never exceed grams") {
    val rows = SparkEntry.queries("txt_ngram_novelty")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val first = rows.minBy(_._1)
    assert(first._2 == first._3, "the earliest doc's grams are all novel")
    rows.foreach { case (id, g, n) =>
      assert(n <= g, s"doc $id novel $n > grams $g")
    }
  }

  test("churn bands partition the user base with consistent silence edges") {
    val rows = SparkEntry.queries("ev_churn_risk")(spark, sf).collect()
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users,
      "every user lands in exactly one band")
    val edges = Map("active" -> (0L, 0L), "cooling" -> (1L, 1L),
      "at_risk" -> (2L, 2L), "churned" -> (3L, Long.MaxValue))
    rows.foreach { r =>
      val (lo, hi) = edges(r.getString(0))
      assert(r.getLong(3) >= lo && r.getLong(4) <= hi,
        s"${r.getString(0)} silence range out of band")
    }
  }

  test("bfs layers: hops 0..3 only, layer 0 is exactly the seed set") {
    val rows = SparkEntry.queries("gr_bfs_reach")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(rows.getOrElse(0L, 0L) >= 1, "there must be seed nodes")
  }

  test("modality balance: medians bounded by max, docs fully partitioned") {
    val rows = SparkEntry.queries("mm_modality_balance")(spark, sf).collect()
    val total = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(5) <= r.getLong(4), "p50 exceeds max byte length")
      assert(r.getLong(3) >= r.getLong(4), "total below max byte length")
    }
  }

  test("vocab coverage: monotone in k, ppm consistent with exact counts") {
    val rows = SparkEntry.queries("txt_vocab_coverage")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 1000L, 10000L))
    val covs = rows.map(_.getLong(2))
    assert(covs.zip(covs.tail).forall { case (a, b) => a <= b },
      "coverage must grow with k")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "covered_occ exceeds total")
      assert(r.getLong(4) == 1000000L * r.getLong(2) / r.getLong(3))
      assert(r.getLong(1) <= r.getLong(0), "covered_types exceeds k")
    }
  }

  test("phash banding finds exactly the brute-force hamming<=3 pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val banded = SparkEntry.queries("mm_phash_hamming")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Brute force over the same stub hash (small at sf0.001):
    val docs = graft.Tables.documents(spark, sf).selectExpr(
      "doc_id",
      "array('image','audio','video')[CAST(doc_id % 3 AS INT)] AS kind",
      """CAST((instr('0123456789abcdef', substr(md5(encode(text, 'UTF-8')), 1, 1)) - 1) * 4096 +
              (instr('0123456789abcdef', substr(md5(encode(text, 'UTF-8')), 2, 1)) - 1) * 256 +
              (instr('0123456789abcdef', substr(md5(encode(text, 'UTF-8')), 3, 1)) - 1) * 16 +
              (instr('0123456789abcdef', substr(md5(encode(text, 'UTF-8')), 4, 1)) - 1) AS BIGINT) AS ph""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = (for {
      (ida, ka, pa) <- docs; (idb, kb, pb) <- docs
      if ka == kb && ida < idb
      h = java.lang.Long.bitCount(pa ^ pb)
      if h <= 3
    } yield (ida, idb, h.toLong)).toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs vs brute ${brute.size}")
  }
}
