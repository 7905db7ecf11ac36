package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}

class AdvancedSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct eval: sampled exact counts match an " +
       "independent salted-sample recount, bounds hold") {
    import spark.implicits._
    val rows = SparkEntry.queries("rel_approx_distinct")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toMap
    // Independent recount of the deterministic 1/16 key-sample the
    // query scores the sketch against (filter-then-distinct, a
    // different plan from the query's countDistinct(when(...))).
    def keep(c: String) = substring(
      md5(concat(lit("acd5|"), col(c).cast("string"))), 1, 1) === "0"
    val exact = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(countDistinct(when(keep("l_orderkey"), $"l_orderkey")),
        countDistinct(when(keep("l_partkey"), $"l_partkey")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == exact.keySet)
    for ((flag, (eo, ep)) <- exact) {
      val (no, np, okO, okP) = rows(flag)
      assert((no, np) == (eo, ep), s"$flag exact: ($no,$np) vs ($eo,$ep)")
      // the sample keeps ~1/16 of thousands of keys — never empty
      assert(no > 0L && np > 0L, s"$flag sample unexpectedly empty")
      assert(okO && okP, s"$flag estimate out of bounds")
    }
  }

  test("approx_percentile eval: exact values match, bounds hold") {
    val rows = SparkEntry.queries("rel_approx_percentiles")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows; i <- 4 to 6)
      assert(r.getBoolean(i),
        s"${r.getString(0)} approx percentile out of its rank band (col $i)")
    // The exported exact percentiles are the interpolated form —
    // bit-identical to rel_percentiles' single-fraction aggregates.
    val exact = SparkEntry.queries("rel_percentiles")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    for (r <- rows)
      assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) ==
        exact(r.getString(0)),
        s"${r.getString(0)} exact percentiles mismatch vs rel_percentiles")
  }

  test("saltedJoin equals the plain join") {
    import spark.implicits._
    val orders = Tables.orders(spark, sf)
    val cust = Tables.customer(spark, sf)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, Seq("o_custkey"))
      .select($"o_orderkey", $"c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = Joins.saltedJoin(orders, cust, "o_custkey", factor = 8)
      .select($"o_orderkey", $"c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("asofJoin matches the naive max_by formulation") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"value")
    val got = Joins.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("value"))
      .select($"event_id", $"asof_value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    // naive: left join on user & click.ts <= purchase.ts, take latest
    val naive = purchases.as("p").join(clicks.as("c"),
        $"p.user_id" === $"c.user_id" && $"c.ts" <= $"p.ts", "left")
      .groupBy($"event_id")
      .agg(expr("max_by(c.value, c.ts)").as("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got.keySet == naive.keySet)
    val diffs = got.filter { case (k, v) => naive(k) != v }
    assert(diffs.isEmpty, s"${diffs.take(5)}")
    assert(got.values.exists(_ != null))
  }

  test("asofJoin carries right rows atomically and ignores null timestamps") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "ts")
    // Most-recent right row at ts=15 has a null in column `b`: the
    // joined row must keep (a=3, b=null) — not mix b=2 from the older
    // row. The null-ts right row would otherwise sort first and leak
    // its values into every left row.
    val right = Seq(
      (1L, Option(5L), Option(1), Option(2)),
      (1L, Option(15L), Option(3), Option.empty[Int]),
      (1L, Option.empty[Long], Option(99), Option(99))
    ).toDF("k", "ts", "a", "b")
    val got = Joins.asofJoin(left, right, "k", "ts", Seq("a", "b"))
      .orderBy($"ts").collect()
      .map(r => (r.getLong(1),
        if (r.isNullAt(2)) null else r.getInt(2),
        if (r.isNullAt(3)) null else r.getInt(3))).toSeq
    assert(got == Seq((10L, 1, 2), (20L, 3, null)), got.toString)
    // no right rows at all for a key → outer nulls
    val lonely = Joins.asofJoin(Seq((7L, 1L)).toDF("k", "ts"), right,
      "k", "ts", Seq("a", "b")).collect()
    assert(lonely.length == 1 && lonely(0).isNullAt(2) && lonely(0).isNullAt(3))
  }

  test("IVF ANN recall overlaps exact top-k") {
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.1, s"IVF recall too low: $recall")
  }

  test("HLL month→year rollup: exact distincts, 5% bound, mergeability") {
    import spark.implicits._
    // (o_year, n_orders, n_exact_customers, est_within_5pct,
    //  direct_within_5pct)
    val rolled = SparkEntry.queries("rel_hll_rollup")(spark, sf)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getBoolean(3),
        r.getBoolean(4))).toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(year($"o_orderdate").as("y"))
      .agg(countDistinct($"o_custkey").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rolled.keySet == exact.keySet)
    for ((y, e) <- exact) {
      val (n, within, directOk) = rolled(y)
      assert(n == e, s"year $y exact: $n vs $e")
      // Both the month-union path and the direct year sketch must
      // land within 5% of truth (they are close but not identical).
      assert(within, s"year $y: merged estimate outside 5% of $e")
      assert(directOk, s"year $y: direct estimate outside 5% of $e")
    }
  }

  test("weighted median: window and distributed regimes are " +
       "row-identical on the real corpus at two SFs") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val li = Tables.lineitem(spark, d)
      val w = Advanced.weightedMedianFrame(li, distributed = false)
        .collect().map(_.toString).sorted.toSeq
      val r = Advanced.weightedMedianFrame(li, distributed = true)
        .collect().map(_.toString).sorted.toSeq
      assert(w.nonEmpty && w == r, s"regimes diverge at $d")
    }
  }
}
