package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Partition-count invariance + semantic pins for the session-4
  * additions. Same contract as [[Round4InvarianceSpec]] /
  * [[Round5InvarianceSpec]]: identical row multisets under different
  * shuffle-partition counts — the determinism the DuckDB oracle gate
  * cannot see (it runs one configuration).
  */
class Session4InvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "rel_table_fingerprint", "sim_ivf_recall", "txt_domain_affinity",
    "gr_modularity", "gr_assortativity", "ev_ewma_trend",
    "ev_semi_additive_balance", "txt_inverted_postings",
    "dedup_minhash_accuracy", "gr_local_clustering",
    "dedup_stack_verdict", "dedup_span_scrub", "rel_merkle_ranges",
    "ev_forecast_backtest")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("minhash accuracy: estimate and truth are valid ppm, error consistent") {
    val rows = SparkEntry.queries("dedup_minhash_accuracy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getLong(5); val truth = r.getLong(6); val err = r.getLong(7)
      assert(est >= 0 && est <= 1000000, s"est $est")
      assert(truth >= 1 && truth <= 1000000,
        "candidates share a band, so true Jaccard is strictly positive")
      assert(err == math.abs(est - truth))
    }
  }

  test("IVF recall is a valid fraction of the exact top-5") {
    val rows = SparkEntry.queries("sim_ivf_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nExact = r.getLong(1); val nHit = r.getLong(2)
      val ppm = r.getLong(3)
      assert(nExact == 5L)
      assert(nHit >= 0 && nHit <= nExact)
      assert(ppm == nHit * 1000000L / nExact)
    }
  }

  test("stack verdict: exactly one kept doc per cluster, sizes consistent") {
    val rows = SparkEntry.queries("dedup_stack_verdict")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid kept != 1")
      val kept = members.find(_._4).get
      assert(kept._1 == cid, "the survivor is the min-label root")
      assert(members.forall(_._3 == members.size.toLong),
        s"cluster $cid size column disagrees with membership")
    }
  }

  test("modularity of the real graph lies in a sane range and sums check") {
    val r = SparkEntry.queries("gr_modularity")(spark, sf).collect().head
    val (m, w) = (r.getLong(1), r.getLong(2))
    val q = r.getDouble(4)
    assert(w <= m, "within-community edges cannot exceed all edges")
    assert(q >= -0.5 && q < 1.0, s"modularity $q out of range")
  }
}
