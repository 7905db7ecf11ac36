package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** RangeBinJoinRule: a natural BETWEEN join plans as a binned hash
  * join (no nested-loop operator), the rewrite preserves semantics
  * exactly (bounds, nulls, inverted intervals), and out-of-scope
  * shapes are left alone.
  */
class RangeBinJoinSpec extends AnyFunSuite with SharedSpark {

  // Parquet-backed so ConvertToLocalRelation can't fold the join away.
  private lazy val (pointsPath, intervalsPath) = {
    import spark.implicits._
    val pp = java.nio.file.Files.createTempDirectory("rb_points").toString
    val ip = java.nio.file.Files.createTempDirectory("rb_ivals").toString
    (0L until 5000L).map(i => (i, i % 7)).toDF("p", "tag")
      .write.mode("overwrite").parquet(pp)
    // Overlapping intervals, one inverted (lo > hi), one null-bounded.
    (Seq((0L, 100L, 350L), (1L, 300L, 2500L), (2L, 4000L, 4099L),
         (3L, 900L, 100L))
      .toDF("ival_id", "lo", "hi")
      .unionByName(Seq((4L, Option.empty[Long], Option(50L)))
        .toDF("ival_id", "lo", "hi")))
      .write.mode("overwrite").parquet(ip)
    (pp, ip)
  }
  private def points = spark.read.parquet(pointsPath)
  private def intervals = spark.read.parquet(intervalsPath)

  private def naturalJoin(strictHi: Boolean = false): DataFrame = {
    val upper = if (strictHi) col("p") < col("hi") else col("p") <= col("hi")
    points.join(intervals, col("p") >= col("lo") && upper)
  }

  /** Ground truth computed without any join. */
  private def expected(strictHi: Boolean = false): Set[(Long, Long)] = {
    val ivals = Seq((0L, 100L, 350L), (1L, 300L, 2500L), (2L, 4000L, 4099L),
      (3L, 900L, 100L))
    (for {
      p <- 0L until 5000L
      (id, lo, hi) <- ivals
      if p >= lo && (if (strictHi) p < hi else p <= hi)
    } yield (p, id)).toSet
  }

  test("BETWEEN join plans as a binned hash join, no nested loop") {
    val plan = naturalJoin().queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__graft_pbin") || plan.contains("__graft_ibin"),
      plan)
  }

  test("rewrite preserves semantics: bounds, nulls, inverted intervals") {
    val got = naturalJoin().select(col("p"), col("ival_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected())
  }

  test("strict upper bound survives as the residual filter") {
    val got = naturalJoin(strictHi = true)
      .select(col("p"), col("ival_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected(strictHi = true))
    // Boundary rows differ between the two forms — proves the
    // residual is the original comparison, not the bin overlap.
    assert(expected() != expected(strictHi = true))
  }

  test("joins with a cross-side equality are left alone") {
    val withEqui = points.join(intervals,
      col("tag") === col("ival_id") &&
      col("p") >= col("lo") && col("p") <= col("hi"))
    val plan = withEqui.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_pbin"), plan)
    // Still correct, and already a hash join on the equality.
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("non-integral point types are left alone") {
    val fpoints = points.select(col("p").cast("double").as("p"))
    val plan = fpoints.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_pbin"), plan)
  }

  test("interval-overlap join rewrites to a binned hash join") {
    import spark.implicits._
    // second interval table with disjoint column names
    val p2 = java.nio.file.Files.createTempDirectory("rb_iv2").toString
    (Seq((10L, 50L, 200L), (11L, 2400L, 2600L), (12L, 330L, 310L)) // 12 inverted
      .toDF("b_id", "b_lo", "b_hi"))
      .write.mode("overwrite").parquet(p2)
    val b = spark.read.parquet(p2)
    val joined = intervals.join(b,
      col("lo") <= col("b_hi") && col("b_lo") <= col("hi"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("__graft_lbin"), plan)
    // Ground truth by hand over the 4 valid a-intervals × 3 b rows
    // (overlap predicate on RAW bounds, inverted rows included).
    val as = Seq((0L, 100L, 350L), (1L, 300L, 2500L), (2L, 4000L, 4099L),
      (3L, 900L, 100L))
    val bs = Seq((10L, 50L, 200L), (11L, 2400L, 2600L), (12L, 330L, 310L))
    val want = (for {
      (aid, alo, ahi) <- as; (bid, blo, bhi) <- bs
      if alo <= bhi && blo <= ahi
    } yield (aid, bid)).toSet
    val got = joined.select(col("ival_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got $got want $want")
  }

  test("bin width conf is honored") {
    withConf("spark.graft.rangeJoin.binWidth" -> "64") {
      val got = naturalJoin().select(col("p"), col("ival_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected())
    }
  }
}
