package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * statistics/packing wave (gr_louvain_move, rel_cardinality_est,
  * txt_pack_efficiency).
  */
class Round13Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("louvain move: one row per node, targets are real neighbors, " +
       "gains replay from the degree frame, ties break to min id") {
    import spark.implicits._
    val rows = run("gr_louvain_move", sf01).collect()
    assert(rows.nonEmpty)
    val nodes = rows.map(_.getAs[Long]("node_id"))
    assert(nodes.distinct.length == nodes.length, "one move per node")
    // Recompute the weighted graph independently and replay every
    // node's argmax (gain formula + min-id tiebreak).
    val li = graft.Tables.lineitem(spark, sf01)
      .select($"l_orderkey", $"l_partkey")
    val pw = li.join(
        li.select($"l_orderkey".as("ok2"), $"l_partkey".as("pk2")),
        $"l_orderkey" === $"ok2" && $"l_partkey" < $"pk2")
      .groupBy($"l_partkey", $"pk2").count()
      .filter($"count" >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val adj = scala.collection.mutable.Map[Long, Map[Long, Long]]()
      .withDefaultValue(Map.empty)
    for (((a, b), w) <- pw) {
      adj(a) = adj(a) + (b -> w); adj(b) = adj(b) + (a -> w)
    }
    val k = adj.map { case (n, m) => n -> m.values.sum }
    val sTot = k.values.sum
    for (r <- rows) {
      val n = r.getAs[Long]("node_id")
      val best = adj(n).map { case (j, w) =>
        (j, sTot * w - k(n) * k(j))
      }.toSeq.sortBy { case (j, g) => (-g, j) }.head
      assert(r.getAs[Long]("target_id") == best._1,
        s"node $n: expected target ${best._1}")
      assert(r.getAs[Long]("gain_num") == best._2,
        s"node $n: gain mismatch")
      assert(r.getAs[Long]("would_move") == (if (best._2 > 0) 1L else 0L))
    }
  }

  // -------------------------------------------------------------------
  test("cardinality estimate: cells partition the join, estimates " +
       "replay from the marginals, independent-ish data keeps " +
       "|err| under 10%") {
    import spark.implicits._
    val rows = run("rel_cardinality_est", sf01).collect()
    assert(rows.length >= 6, "at least 3 flags x 2+ priorities")
    val total = rows.map(_.getAs[Long]("actual")).sum
    val joinN = graft.Tables.lineitem(spark, sf01).count()
    assert(total == joinN,
      "cells must partition the FK join (actual sums to |lineitem|)")
    val mFlag = rows.groupBy(_.getAs[String]("flag"))
      .map { case (f, rs) => f -> rs.map(_.getAs[Long]("actual")).sum }
    val mPrio = rows.groupBy(_.getAs[String]("prio"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("actual")).sum }
    for (r <- rows) {
      val est = mFlag(r.getAs[String]("flag")) *
        mPrio(r.getAs[String]("prio")) / total
      assert(r.getAs[Long]("est") == est, "estimate replay")
      val err = (est - r.getAs[Long]("actual")) * 1000000L /
        r.getAs[Long]("actual")
      assert(r.getAs[Long]("err_ppm") == err, "error replay")
      assert(math.abs(err) < 100000L,
        s"independence should roughly hold on testdata: $err ppm")
    }
  }

  // -------------------------------------------------------------------
  test("pack efficiency: the running-sum packer never uses more bins " +
       "than the lower bound, fills what it allocates, and overflow " +
       "accounts for any fill past capacity") {
    val rows = run("txt_pack_efficiency", sf01).collect()
    assert(rows.length >= 4, "at least 2 langs x 2 caps")
    assert(rows.map(_.getAs[Long]("cap")).distinct.sorted.toSeq ==
      Seq(512L, 2000L))
    for (r <- rows) {
      val cap = r.getAs[Long]("cap")
      val nBins = r.getAs[Long]("n_bins")
      val total = r.getAs[Long]("total_tok")
      val lb = (total + cap - 1) / cap
      assert(r.getAs[Long]("lb_bins") == lb, "lower-bound replay")
      // floor((cum - n)/cap) <= (total - 1)/cap, so the boundary-
      // crossing packer never exceeds ceil(total/cap) bins.
      assert(nBins >= 1L && nBins <= lb,
        s"bins $nBins vs lower bound $lb")
      assert(r.getAs[Long]("fill_ppm") ==
        total * 1000000L / (nBins * cap), "fill replay")
      // Everything past the allocated capacity must show as overflow.
      assert(r.getAs[Long]("overflow_tok") >=
        math.max(0L, total - nBins * cap))
    }
  }

  // -------------------------------------------------------------------
  test("round-5 statistics wave results are bit-identical under 4 " +
       "and 7 shuffle partitions") {
    val queries = Seq("gr_louvain_move" -> sf001,
      "rel_cardinality_est" -> sf001, "txt_pack_efficiency" -> sf001)
    assertPartitionInvariant(queries)
  }
}
