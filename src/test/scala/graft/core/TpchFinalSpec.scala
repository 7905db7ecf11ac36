package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** The closing TPC-H wave (Q7/Q8/Q14/Q15/adapted Q22): result
  * invariants plus the plan shapes that matter at 100 TB — every dim
  * lookup a broadcast hash join, scalar thresholds broadcast back
  * (never collected), no accidental cartesian beyond the explicit
  * 1-row threshold cross joins.
  */
class TpchFinalSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)
  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  test("volume shipping: both directions present, nothing else") {
    // sf0.01: the sf0.001 sample has no lineitem for this nation pair in
    // the window — the gate scale is the smallest one with signal here.
    val rows = SparkEntry.queries("rel_volume_shipping")(spark, "/root/testdata/sf0.01")
      .collect()
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))))
    assert(rows.map(_.getInt(2)).forall(y => y == 1996 || y == 1997))
    assert(rows.nonEmpty)
  }

  test("volume shipping: dims broadcast, fact side only shuffles for orders") {
    val p = plan("rel_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p.take(500))
  }

  test("market share is a valid ratio with exact-decimal building blocks") {
    val rows = run("rel_market_share").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getDouble(1)
      assert(share >= 0.0 && share <= 1.0, s"share $share out of range")
      assert(r.getDouble(2) > 0.0, "denominator must be positive")
    }
  }

  test("promo revenue: 12 months of 1997, pct in [0,100]") {
    val rows = run("rel_promo_revenue").collect()
    assert(rows.length == 12)
    rows.foreach { r =>
      val pct = r.getDouble(1)
      assert(pct >= 0.0 && pct <= 100.0, s"pct $pct")
    }
  }

  test("top supplier: every returned supplier has the exact max revenue") {
    val rows = run("rel_top_supplier").collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getDouble(2)).distinct
    assert(revs.length == 1, s"all winners share one revenue, got ${revs.toSeq}")
  }

  test("top supplier: threshold joins back as a broadcast, no collect") {
    val p = plan("rel_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("Cartesian"), p.take(500))
  }

  test("lapsed customers: anti join present; balances above the mean") {
    import spark.implicits._
    val p = plan("rel_lapsed_customers")
    assert(p.contains("LeftAnti"), p.take(800))
    val total = run("rel_lapsed_customers")
      .agg(org.apache.spark.sql.functions.sum($"numcust")).collect()(0).getLong(0)
    assert(total > 0)
  }
}
