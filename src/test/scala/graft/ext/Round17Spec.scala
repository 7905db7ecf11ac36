package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * health/planning wave (sim_hubness_audit,
  * rel_partition_skew_planner, rel_mix_shift).
  */
class Round17Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("hubness audit: the histogram accounts for every vector and " +
       "every kNN edge (Σ n = |corpus|, Σ deg·n = 3·matched-capable)") {
    val rows = run("sim_hubness_audit", sf01).collect()
    val nTotal = graft.Tables.embeddings(spark, sf01).count()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == nTotal,
      "histogram must partition the corpus (incl. in_deg=0 antihubs)")
    val edgeSum = rows.map(r =>
      r.getAs[Long]("in_deg") * r.getAs[Long]("n_nodes")).sum
    val edges = run("sim_knn_graph", sf01).count()
    assert(edgeSum == edges,
      s"in-degree mass $edgeSum must equal the kNN edge count $edges")
    assert(rows.count(_.getAs[Long]("in_deg") == 0L) <= 1,
      "at most one antihub row")
  }

  // -------------------------------------------------------------------
  test("partition planner: ceil arithmetic replays, the global " +
       "recommendation covers the total, uniform months show no skew") {
    val rows = run("rel_partition_skew_planner", sf01).collect()
    assert(rows.nonEmpty)
    val target = 134217728L
    val total = rows.map(_.getAs[Long]("bytes")).sum
    val rec = rows.head.getAs[Long]("recommended_shuffle_partitions")
    assert(rows.forall(
      _.getAs[Long]("recommended_shuffle_partitions") == rec))
    assert(rec == (total + target - 1) / target, "global ceil replay")
    val mean = total / rows.length
    for (r <- rows) {
      val b = r.getAs[Long]("bytes")
      assert(r.getAs[Long]("needed_partitions") ==
        (b + target - 1) / target)
      val skew = b > mean * 2
      assert(r.getAs[Long]("is_skewed") == (if (skew) 1L else 0L))
      assert(r.getAs[Long]("salt_factor") ==
        (if (skew) (b + target - 1) / target else 1L))
    }
    assert(rows.forall(_.getAs[Long]("is_skewed") == 0L),
      "uniform testdata months must not be flagged skewed")
  }

  // -------------------------------------------------------------------
  test("mix shift: the decomposition sums to the true delta by " +
       "construction and volume replays from the old average ticket") {
    val rows = run("rel_mix_shift", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n0 = r.getAs[Long]("n0"); val n1 = r.getAs[Long]("n1")
      val rev0 = r.getAs[Long]("rev0")
      val delta = r.getAs[Long]("delta_cents")
      assert(delta == r.getAs[Long]("rev1") - rev0)
      val vol = (n1 - n0) * (rev0 * 1000000L / n0)
      assert(r.getAs[Long]("volume_effect_micro") == vol)
      assert(r.getAs[Long]("rate_effect_micro") ==
        delta * 1000000L - vol,
        "volume + rate must reconstruct delta exactly")
    }
    // Months must chain: every (prio, ym) row's n0/rev0 is the
    // previous month's n1/rev1 in that priority.
    for ((_, rs0) <- rows.groupBy(_.getAs[String]("prio"))) {
      val rs = rs0.sortBy(_.getAs[Long]("ym"))
      for (pair <- rs.sliding(2) if pair.length == 2) {
        val (a, b) = (pair(0), pair(1))
        assert(b.getAs[Long]("n0") == a.getAs[Long]("n1") &&
          b.getAs[Long]("rev0") == a.getAs[Long]("rev1"),
          "lag chain must be contiguous per priority")
      }
    }
  }

  // -------------------------------------------------------------------
  test("round-5 health wave results are bit-identical under 4 and 7 " +
       "shuffle partitions") {
    val queries = Seq("sim_hubness_audit" -> sf001,
      "rel_partition_skew_planner" -> sf001, "rel_mix_shift" -> sf001)
    assertPartitionInvariant(queries)
  }
}
