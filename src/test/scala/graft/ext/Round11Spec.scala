package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * layout-and-planning wave (rel_compaction_plan, rel_zorder_layout,
  * ev_power_analysis, gr_sssp).
  */
class Round11Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("compaction plan: greedy groups replay exactly, no group " +
       "overfills past one file, large files stay singletons") {
    val rows = run("rel_compaction_plan", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val nRows = r.getAs[Long]("n_rows")
      assert(r.getAs[Long]("bytes") == nRows * 4096L)
      assert((r.getAs[Long]("is_small") == 1L) ==
        (r.getAs[Long]("bytes") < 16384L))
    }
    val (small, large) = rows.partition(_.getAs[Long]("is_small") == 1L)
    assert(small.nonEmpty && large.nonEmpty,
      "testdata must exercise both the packed and the left-alone branch")
    // Large files: unique negative singleton ids.
    assert(large.forall(_.getAs[Long]("group_id") < 0L))
    assert(large.map(r => (r.getAs[java.sql.Timestamp]("part_month"),
      r.getAs[Long]("group_id"))).distinct.length == large.length)
    // Small files: replay the greedy exclusive-cumsum packing per
    // month and check each group's fill never exceeds target by more
    // than one file (the greedy bound: a group closes only once full).
    for ((_, fs) <- small.groupBy(_.getAs[java.sql.Timestamp]("part_month"))) {
      var cum = 0L
      for (r <- fs.sortBy(_.getAs[Long]("file_seq"))) {
        assert(r.getAs[Long]("group_id") == cum / 65536L,
          s"greedy replay diverges at file_seq=${r.getAs[Long]("file_seq")}")
        cum += r.getAs[Long]("bytes")
      }
      val fill = fs.groupBy(_.getAs[Long]("group_id"))
        .map { case (_, g) => g.map(_.getAs[Long]("bytes")).sum }
      assert(fill.forall(_ < 65536L + 16384L),
        "a compaction group overfilled past target + one small file")
    }
  }

  // -------------------------------------------------------------------
  test("z-order buckets are bounded 64-aligned rectangles covering " +
       "every row — the pruning guarantee") {
    val rows = run("rel_zorder_layout", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (x0, x1) = (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"))
      val (y0, y1) = (r.getAs[Long]("min_y"), r.getAs[Long]("max_y"))
      assert(x0 / 64 == x1 / 64 && y0 / 64 == y1 / 64,
        s"bucket ${r.getAs[Long]("zbucket")} spans a 64-window " +
          s"boundary: x=[$x0,$x1] y=[$y0,$y1]")
    }
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    val liCount = graft.Tables.lineitem(spark, sf01).count()
    assert(total == liCount, s"bucketed $total of $liCount rows")
  }

  // -------------------------------------------------------------------
  test("power analysis: n_required replays from exact BigInt moments " +
       "and is_powered is consistent") {
    import spark.implicits._
    val ux = graft.Tables.events(spark, sf01)
      .groupBy($"event_type", $"user_id")
      .agg(sum(floor($"value" * 1000000).cast("long")).as("u"))
      .collect()
      .groupBy(_.getAs[String]("event_type"))
      .view.mapValues(_.map(r => BigInt(r.getAs[Long]("u")))).toMap
    val rows = run("ev_power_analysis", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val t = r.getAs[String]("event_type")
      val us = ux(t)
      val n = BigInt(us.length)
      val s = us.sum
      val ssq = us.map(u => u * u).sum
      val varn = n * ssq - s * s
      val mean = s / n
      val delta = mean / 20
      val expected =
        if (delta == 0 || n <= 1) BigInt(-1)
        else (BigInt(15697757) * varn) /
          (BigInt(1000000) * n * (n - 1) * delta * delta)
      assert(r.getAs[Long]("n_users") == us.length.toLong)
      assert(BigInt(r.getAs[Long]("mean_micro")) == mean)
      assert(BigInt(r.getAs[Long]("delta_micro")) == delta)
      assert(BigInt(r.getAs[Long]("n_required")) == expected,
        s"$t: n_required mismatch vs BigInt replay")
      val powered = r.getAs[Long]("is_powered")
      assert(powered == (if (expected >= 0 &&
        expected * 2 <= BigInt(us.length)) 1L else 0L))
    }
  }

  // -------------------------------------------------------------------
  test("sssp: distances bounded by 3 rounds of max weight, reachable " +
       "set identical to the 3-hop BFS from the same seeds") {
    val sssp = run("gr_sssp", sf01).collect()
    assert(sssp.nonEmpty)
    for (r <- sssp) {
      val d = r.getAs[Long]("dist")
      assert(d >= 0L && d <= 21L, s"dist $d outside [0, 3*7]")
    }
    assert(sssp.exists(_.getAs[Long]("dist") == 0L),
      "seeds must sit at distance 0")
    // Same seeds, same graph, same round count as gr_bfs_reach — the
    // weighted and unweighted traversals must reach the same node set.
    val bfs = run("gr_bfs_reach", sf01).collect()
    assert(sssp.map(_.getAs[Long]("n_nodes")).sum ==
      bfs.map(_.getAs[Long]("n_nodes")).sum,
      "weighted and unweighted traversals disagree on reachability")
  }

  // -------------------------------------------------------------------
  test("round-5 layout wave results are bit-identical under 4 and 7 " +
       "shuffle partitions") {
    val queries = Seq("rel_compaction_plan" -> sf001,
      "rel_zorder_layout" -> sf001, "ev_power_analysis" -> sf001,
      "gr_sssp" -> sf001)
    assertPartitionInvariant(queries)
  }
}
