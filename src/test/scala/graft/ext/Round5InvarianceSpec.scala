package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Partition-count invariance + semantic pins for the round-3
  * closing-session queries (the TPC-H completion wave and the
  * repetition/label-prop/dwell/cluster-size wave). Same contract as
  * [[Round4InvarianceSpec]]: identical row multisets under different
  * shuffle-partition counts. rel_volume_shipping is pinned at sf0.01
  * in TpchFinalSpec (its nation pair has no sf0.001 rows) and so is
  * excluded from the nonEmpty sweep here.
  */
class Round5InvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "rel_market_share", "rel_promo_revenue", "rel_top_supplier",
    "rel_lapsed_customers",
    "dedup_cluster_sizes", "gr_label_prop", "ev_dwell_percentiles",
    "txt_repetition_ratio")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("label propagation: labels only decrease toward the 2-hop min") {
    val rows = SparkEntry.queries("gr_label_prop")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    rows.foreach { case (v, lbl) => assert(lbl <= v, s"label $lbl > node $v") }
    assert(rows.exists { case (v, lbl) => lbl < v },
      "at least one node must adopt a neighbor's smaller label")
  }

  test("cluster sizes: every cluster has >= 2 members and totals match cc") {
    val sizes = SparkEntry.queries("dedup_cluster_sizes")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(sizes.forall(_._1 >= 2),
      "a CC cluster from pair edges cannot be a singleton")
    val totalDocs = sizes.map { case (sz, n) => sz * n }.sum
    val ccRows = SparkEntry.queries("dedup_cc")(spark, sf).count()
    assert(totalDocs == ccRows, s"$totalDocs docs in sizes vs $ccRows in cc")
  }

  test("repetition ratios are valid fractions") {
    val rows = SparkEntry.queries("txt_repetition_ratio")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val uni = r.getDouble(4); val bi = r.getDouble(5)
      assert(uni > 0.0 && uni <= 1.0, s"uni $uni")
      assert(bi > 0.0 && bi <= 1.0, s"bi $bi")
      assert(bi <= 2.0 * uni + 1e-9,
        "top bigram cannot repeat more often than twice the top unigram")
    }
  }

  test("dwell percentiles are ordered and nonnegative") {
    val rows = SparkEntry.queries("ev_dwell_percentiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p50 = r.getLong(2); val p90 = r.getLong(3); val mx = r.getLong(4)
      assert(0 <= p50 && p50 <= p90 && p90 <= mx, s"$p50 / $p90 / $mx")
    }
  }
}
