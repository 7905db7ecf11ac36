package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Regimes, Tables}

/** Relational operator coverage: scan/filter/project, equi + semi +
  * anti + multi-way joins (broadcast where the build side is small),
  * hash aggregation (partial/final comes free from Catalyst), distinct
  * aggregates, conditional aggregates, rollup, window functions
  * (ranking + running frames), sort/limit top-k, and set operations.
  *
  * The reference pipeline itself contains no joins/aggregations beyond
  * its fold (SURVEY.md §2.3-§2.4); these queries exercise the engine
  * surface a user of the generalized library gets, over the driver
  * testdata, each hash-verified against DuckDB.
  */
object Relational {

  /** Exact associative sum of a double expression: cast each value to
    * decimal, sum (exact, order-insensitive), cast back once. Keeps the
    * DuckDB oracle bit-identical under any partial-agg / AQE plan.
    */
  private def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(27, scale))).cast("double")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    Q("rel_pricing_summary",
      (s, d) => {
        import s.implicits._
        // Fan the single-split scan before the decimal aggregation:
        // the 4 exact decimal sums are the per-row cost here, and
        // fused over a one-row-group scan they run on one core
        // (guide §2.5). Project first so the exchange carries only
        // the 6 needed columns (§2.3). No-op on multi-split sources.
        Par.fan(
          Tables.lineitem(s, d)
            .filter($"l_shipdate" <= to_timestamp(lit("2001-06-30 00:00:00")))
            .select($"l_returnflag", $"l_linestatus", $"l_quantity",
              $"l_extendedprice", $"l_discount", $"l_tax"),
          $"l_quantity", $"l_extendedprice")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity", 2).as("sum_qty"),
            dsum($"l_extendedprice", 2).as("sum_base_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
            count(lit(1)).as("count_order"))
      },
      // The two scale-6 sums cross 15 significant digits at sf1 and
      // DuckDB's direct DECIMAL→DOUBLE cast is not correctly rounded
      // there (SKILL.md) — bridge via VARCHAR (strtod IS correctly
      // rounded, and matches at every smaller magnitude too).
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) AS sum_base_price,
        CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30 00:00:00'
        GROUP BY l_returnflag, l_linestatus""")),

    // ------------------------------------------------------------------
    // Projection + predicate pushed down to the parquet scan.
    Q("rel_filter_proj",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" >= to_timestamp(lit("1997-01-01 00:00:00")) &&
                  $"l_shipdate" <  to_timestamp(lit("1998-01-01 00:00:00")) &&
                  $"l_discount" > lit(0.05) && $"l_quantity" < lit(10.0))
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
          l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount > 0.05 AND l_quantity < 10.0""")),

    // ------------------------------------------------------------------
    // 3-way join; customer side broadcast (small dim at every SF).
    Q("rel_top_revenue_orders",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        val ord  = Tables.orders(s, d)
        val li   = Tables.lineitem(s, d)
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .groupBy($"o_orderkey", $"o_orderdate")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_orderdate,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ------------------------------------------------------------------
    // Left-semi join (EXISTS).
    Q("rel_order_priority_semi",
      (s, d) => {
        import s.implicits._
        val ord = Tables.orders(s, d)
          .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                  $"o_orderdate" <  to_timestamp(lit("1997-01-01 00:00:00")))
        val li = Tables.lineitem(s, d).filter($"l_quantity" > lit(45.0))
        ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        GROUP BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // Star join region→nation→customer→orders→lineitem; dims broadcast.
    Q("rel_revenue_by_nation",
      (s, d) => {
        import s.implicits._
        val dims = Tables.customer(s, d)
          .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
          .join(Tables.region(s, d).filter($"r_name" === "ASIA"),
                $"n_regionkey" === $"r_regionkey")
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
          .join(broadcast(dims), $"o_custkey" === $"c_custkey")
          .groupBy($"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
               count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name""")),

    // ------------------------------------------------------------------
    // Single-row global aggregate over a pushed-down range predicate.
    Q("rel_forecast_revenue",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                  $"l_shipdate" <  to_timestamp(lit("1997-01-01 00:00:00")) &&
                  $"l_discount" >= lit(0.05) && $"l_discount" <= lit(0.07) &&
                  $"l_quantity" < lit(24.0))
          .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
               count(lit(1)).as("n_rows"))
      },
      Some("""SELECT
        CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""")),

    // ------------------------------------------------------------------
    // Left-anti join (NOT EXISTS).
    Q("rel_cust_no_orders_anti",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
        val ord  = Tables.orders(s, d)
        cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
               min($"c_custkey").as("min_custkey"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers,
        MIN(c_custkey) AS min_custkey
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // Ranking window: top-3 orders per customer by price.
    Q("rel_window_top_orders",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t WHERE rn <= 3""")),

    // ------------------------------------------------------------------
    // Running-frame window: cumulative spend per customer.
    Q("rel_window_running_sum",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select($"o_custkey", $"o_orderkey", $"o_orderdate",
            sum($"o_totalprice".cast(DecimalType(27, 2))).over(w)
              .cast("double").as("running_spend"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_spend
        FROM orders""")),

    // ------------------------------------------------------------------
    // Multi-way join through supplier side + extract(year).
    Q("rel_profit_by_nation_year",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
          .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name", year($"l_shipdate").as("ship_year"))
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
                    $"p_retailprice" * $"l_quantity").as("amount"))
      },
      Some("""SELECT n_name, EXTRACT(YEAR FROM l_shipdate) AS ship_year,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                      - p_retailprice * l_quantity AS DECIMAL(27,6))) AS DOUBLE)
          AS amount
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, EXTRACT(YEAR FROM l_shipdate)""")),

    // ------------------------------------------------------------------
    // Join + agg + global top-k (TakeOrderedAndProject).
    Q("rel_top_returned_customers",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d).filter($"l_returnflag" === "R")
          .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
          .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
          .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ------------------------------------------------------------------
    // Distinct aggregates (Catalyst expands to two-phase plan).
    Q("rel_distinct_counts",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_suppkey").as("n_supp"),
               countDistinct($"l_partkey").as("n_part"),
               count(lit(1)).as("n_rows"))
      },
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_suppkey) AS n_supp,
        COUNT(DISTINCT l_partkey) AS n_part,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Conditional aggregation (CASE inside SUM).
    Q("rel_conditional_agg",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderpriority")
          .agg(
            sum(when($"l_quantity" > 25.0, 1L).otherwise(0L)).as("high_qty"),
            sum(when($"l_quantity" <= 25.0, 1L).otherwise(0L)).as("low_qty"))
      },
      Some("""SELECT o_orderpriority,
        CAST(SUM(CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty,
        CAST(SUM(CASE WHEN l_quantity <= 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // Two-level aggregation over an outer join (TPC-H Q13 shape).
    Q("rel_order_histogram",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
        val ord  = Tables.orders(s, d)
        cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) t
        GROUP BY c_count""")),

    // ------------------------------------------------------------------
    // ROLLUP grouping sets.
    Q("rel_rollup_qty",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(dsum($"l_quantity", 2).as("sum_qty"),
               count(lit(1)).as("n_rows"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // ------------------------------------------------------------------
    // Set ops: INTERSECT and EXCEPT (both distinct semantics).
    Q("rel_intersect_custkeys",
      (s, d) => {
        import s.implicits._
        val ord = Tables.orders(s, d)
        ord.filter($"o_orderstatus" === "F").select($"o_custkey".as("custkey"))
          .intersect(
            ord.filter($"o_orderstatus" === "O").select($"o_custkey".as("custkey")))
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""")),

    Q("rel_except_custkeys",
      (s, d) => {
        import s.implicits._
        Tables.customer(s, d).select($"c_custkey".as("custkey"))
          .except(Tables.orders(s, d)
            .filter($"o_orderstatus" === "P").select($"o_custkey".as("custkey")))
      },
      Some("""SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""")),

    // ------------------------------------------------------------------
    // Time bucketing (tumbling calendar window over a batch table).
    Q("rel_monthly_orders",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy(date_trunc("month", $"o_orderdate").as("order_month"))
          .agg(count(lit(1)).as("n_orders"),
               dsum($"o_totalprice", 2).as("month_total"))
      },
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS month_total
        FROM orders GROUP BY date_trunc('month', o_orderdate)""")),

    // ------------------------------------------------------------------
    // Range (point-in-interval) join via bin bucketing
    // (Joins.rangeJoinBinned): overlapping value intervals derived
    // from nation keys, events matched by containment. The oracle is
    // the plain theta join; the engine runs the equi-join-on-bin +
    // residual-filter plan that stays a hash join at scale instead of
    // a broadcast-nested-loop.
    Q("rel_range_join_binned",
      (s, d) => {
        import s.implicits._
        val intervals = Tables.nation(s, d).select(
          $"n_nationkey".cast("long").as("int_id"),
          ($"n_nationkey".cast("double") * 12.5).as("lo"),
          ($"n_nationkey".cast("double") * 12.5 + 30.0).as("hi"))
        val ev = Tables.events(s, d).select($"event_id", $"value")
        Joins.rangeJoinBinned(ev, "value", intervals, "lo", "hi",
            binWidth = 30.0)
          .groupBy($"int_id")
          .agg(count(lit(1)).as("n_events"),
               sum($"event_id").as("id_sum"))
      },
      Some("""SELECT i.int_id, COUNT(*) AS n_events,
          CAST(SUM(e.event_id) AS BIGINT) AS id_sum
        FROM (SELECT CAST(n_nationkey AS BIGINT) AS int_id,
                     CAST(n_nationkey AS DOUBLE) * 12.5 AS lo,
                     CAST(n_nationkey AS DOUBLE) * 12.5 + 30.0 AS hi
              FROM nation) i
        JOIN events e ON e.value >= i.lo AND e.value < i.hi
        GROUP BY i.int_id""")),

    // ------------------------------------------------------------------
    // As-of join through core.Joins.asofJoin (the single-shuffle
    // window-carry sort-merge form), verified against DuckDB's native
    // ASOF LEFT JOIN: each order picks up the most recent prior
    // "big day" (per-customer day whose max order topped 150k) —
    // sparse right side, so matches genuinely reach back in time and
    // the no-match null wing is exercised. Right side is unique per
    // (key, ts) by construction, so tie-break order can't matter.
    Q("rel_asof_join",
      (s, d) => {
        import s.implicits._
        val orders = Tables.orders(s, d)
        val left = orders.select($"o_orderkey", $"o_custkey", $"o_orderdate")
        val bigDays = orders.groupBy($"o_custkey", $"o_orderdate")
          .agg(max($"o_totalprice").as("day_max"))
          .filter($"day_max" > 150000.0)
        Joins.asofJoin(left, bigDays, "o_custkey", "o_orderdate",
            Seq("day_max"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"asof_day_max")
      },
      Some("""WITH big_days AS (
          SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS day_max
          FROM orders GROUP BY o_custkey, o_orderdate
          HAVING MAX(o_totalprice) > 150000.0)
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               b.day_max AS asof_day_max
        FROM orders o ASOF LEFT JOIN big_days b
          ON o.o_custkey = b.o_custkey AND o.o_orderdate >= b.o_orderdate""")),

    // ------------------------------------------------------------------
    // As-of join with a staleness bound (pandas merge_asof tolerance /
    // the feature-store freshness contract): the carried match
    // degrades to null once it is older than 30 days. Same joinless
    // single-shuffle window-carry as rel_asof_join — the right
    // timestamp rides inside the carried struct and freshness is one
    // codegen'd comparison. The oracle takes DuckDB's native ASOF
    // match and nulls it past the bound, pinning that "stale match"
    // and "no match" are the same outcome.
    Q("rel_asof_tolerance",
      (s, d) => {
        import s.implicits._
        val orders = Tables.orders(s, d)
        val left = orders.select($"o_orderkey", $"o_custkey", $"o_orderdate")
        val bigDays = orders.groupBy($"o_custkey", $"o_orderdate")
          .agg(max($"o_totalprice").as("day_max"))
          .filter($"day_max" > 150000.0)
        Joins.asofJoin(left, bigDays, "o_custkey", "o_orderdate",
            Seq("day_max"), maxStaleness = Some("INTERVAL 30 DAYS"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"asof_day_max")
      },
      Some("""WITH big_days AS (
          SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS day_max
          FROM orders GROUP BY o_custkey, o_orderdate
          HAVING MAX(o_totalprice) > 150000.0)
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               CASE WHEN b.o_orderdate >= o.o_orderdate - INTERVAL 30 DAY
                    THEN b.day_max END AS asof_day_max
        FROM orders o ASOF LEFT JOIN big_days b
          ON o.o_custkey = b.o_custkey AND o.o_orderdate >= b.o_orderdate""")),

    // ------------------------------------------------------------------
    // Forward as-of: the NEXT qualifying right row at-or-after each
    // left timestamp ("next big-spend day on or after this order") —
    // merge_asof direction='forward', the same joinless window carry
    // over the reversed timestamp order. DuckDB's ASOF infers the
    // direction from the inequality (l.ts <= r.ts).
    Q("rel_asof_forward",
      (s, d) => {
        import s.implicits._
        val orders = Tables.orders(s, d)
        val left = orders.select($"o_orderkey", $"o_custkey", $"o_orderdate")
        val bigDays = orders.groupBy($"o_custkey", $"o_orderdate")
          .agg(max($"o_totalprice").as("day_max"))
          .filter($"day_max" > 150000.0)
        Joins.asofJoin(left, bigDays, "o_custkey", "o_orderdate",
            Seq("day_max"), direction = "forward")
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"asof_day_max")
      },
      Some("""WITH big_days AS (
          SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS day_max
          FROM orders GROUP BY o_custkey, o_orderdate
          HAVING MAX(o_totalprice) > 150000.0)
        SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
               b.day_max AS asof_day_max
        FROM orders o ASOF LEFT JOIN big_days b
          ON o.o_custkey = b.o_custkey AND o.o_orderdate <= b.o_orderdate""")),

    // ------------------------------------------------------------------
    // Salted skew join (core.Joins.saltedJoin): the hot-key-safe form
    // must produce exactly the plain join's rows — the oracle IS the
    // unsalted join. Aggregated so the check covers every joined row.
    Q("rel_salted_skew_join",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select($"l_suppkey".as("suppkey"), $"l_quantity")
        val sup = Tables.supplier(s, d)
          .select($"s_suppkey".as("suppkey"), $"s_nationkey")
        Joins.saltedJoin(li, sup, "suppkey", factor = 8)
          .groupBy($"s_nationkey")
          .agg(dsum($"l_quantity", 2).as("sum_qty"),
               count(lit(1)).as("n_items"))
      },
      Some("""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
          COUNT(*) AS n_items
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey""")),

    // ------------------------------------------------------------------
    // Unpivot/melt (Dataset.unpivot → Catalyst Expand: one pass, no
    // join/union re-scan of the input).
    Q("rel_unpivot",
      (s, d) => {
        import s.implicits._
        Tables.part(s, d)
          .select($"p_partkey", $"p_size".cast("double").as("p_size"),
            $"p_retailprice")
          .unpivot(Array($"p_partkey"),
            Array($"p_size", $"p_retailprice"), "attr", "val")
      },
      Some("""SELECT p_partkey, 'p_size' AS attr,
          CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
        FROM part""")),

    // ------------------------------------------------------------------
    // RANGE-frame window: per-customer trailing-30-day revenue. The
    // frame is a value range over epoch days (Spark rangeBetween
    // needs a numeric ordering key), so same-day orders are peers and
    // land in each other's frames — ROWS would not do that. One
    // shuffle on the partition key; decimal window sum for
    // bit-identical totals under any intra-frame order.
    Q("rel_trailing_30d_revenue",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy(datediff(to_date($"o_orderdate"), lit("1970-01-01")))
          .rangeBetween(-30, 0)
        Tables.orders(s, d)
          .withColumn("rev_30d",
            sum($"o_totalprice".cast(DecimalType(27, 2))).over(w)
              .cast("double"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"rev_30d")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE))
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rev_30d
        FROM orders""")),

    // ------------------------------------------------------------------
    // TPC-H Q21 shape ("suppliers who kept orders waiting"): suppliers
    // that were the SOLE late supplier in a multi-supplier order. The
    // textbook form is lineitem × EXISTS(lineitem) × NOT EXISTS
    // (lineitem) — two correlated self-joins that rescan the fact
    // table. Reformulated as ONE per-order aggregation (n suppliers,
    // n late suppliers, the late supplier when unique): the
    // lineitem⋈orders join and the groupBy share the orderkey
    // partitioning (no extra exchange), the fact table scans once,
    // and the shuffle carries per-order partials, not candidate
    // tuples. Late = shipped > 60 days after the order date (this
    // schema has no commit/receipt dates). Exact same result set as
    // the EXISTS form: "no OTHER supplier late" ≡ n_late_supp = 1
    // given this supplier is late, and max() of the single non-null
    // suppkey IS that supplier.
    Q("rel_waiting_suppliers",
      (s, d) => {
        import s.implicits._
        val late = $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")
        // Collapse per (orderkey, suppkey) FIRST, then count flags —
        // the two countDistincts planned an Expand (3× the joined
        // rows through the aggregation). Both aggregations reuse the
        // join's orderkey partitioning ([l_orderkey] ⊆ both key
        // sets), so no exchange is added and the Expand disappears.
        // Identical results: n_supp = row count of the collapsed
        // frame, a distinct suppkey is late iff ANY of its rows is.
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).filter($"o_orderstatus" === "F")
              .select($"o_orderkey", $"o_orderdate"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_orderkey", $"l_suppkey")
          .agg(max(late).as("is_late"))
          .groupBy($"l_orderkey")
          .agg(count(lit(1)).as("n_supp"),
            count(when($"is_late", 1)).as("n_late_supp"),
            max(when($"is_late", $"l_suppkey")).as("late_supp"))
          .filter($"n_supp" > 1 && $"n_late_supp" === 1)
          .groupBy($"late_supp")
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(Tables.supplier(s, d)),
            $"late_supp" === $"s_suppkey")
          .select($"s_name", $"numwait")
          .orderBy($"numwait".desc, $"s_name")
          .limit(10)
      },
      Some("""WITH per_order AS (
          SELECT l_orderkey,
            COUNT(DISTINCT l_suppkey) AS n_supp,
            COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate
              + INTERVAL 60 DAY THEN l_suppkey END) AS n_late_supp,
            MAX(CASE WHEN l_shipdate > o_orderdate
              + INTERVAL 60 DAY THEN l_suppkey END) AS late_supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
          GROUP BY l_orderkey)
        SELECT s_name, COUNT(*) AS numwait
        FROM per_order JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp > 1 AND n_late_supp = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 10""")),

    // ------------------------------------------------------------------
    // The NATURAL point-in-interval join — written as the plain
    // BETWEEN theta-join a SQL user would type, with no equi key.
    // Without intervention Spark plans this as a broadcast-nested-loop
    // join; under the engine's RangeBinJoinRule (GraftExtensions) it
    // rewrites to the binned hash-join form automatically — the
    // plan-level twin of the hand-written rel_range_join_binned.
    // Semantics are rewrite-independent (the rule re-applies the exact
    // range as a residual), so this oracle checks the rule end-to-end
    // in the Verify session where it is active. RangeBinJoinSpec pins
    // the plan shape itself.
    Q("rel_range_join_auto",
      (s, d) => {
        import s.implicits._
        val intervals = Tables.nation(s, d).select(
          $"n_nationkey".cast("long").as("int_id"),
          ($"n_nationkey".cast("long") * 400L).as("lo"),
          ($"n_nationkey".cast("long") * 400L + 900L).as("hi"))
        Tables.events(s, d).select($"event_id")
          .join(intervals, $"event_id" >= $"lo" && $"event_id" <= $"hi")
          .groupBy($"int_id")
          .agg(count(lit(1)).as("n_points"), sum($"event_id").as("id_sum"))
      },
      Some("""SELECT i.int_id, COUNT(*) AS n_points,
          CAST(SUM(e.event_id) AS BIGINT) AS id_sum
        FROM (SELECT CAST(n_nationkey AS BIGINT) AS int_id,
                     CAST(n_nationkey AS BIGINT) * 400 AS lo,
                     CAST(n_nationkey AS BIGINT) * 400 + 900 AS hi
              FROM nation) i
        JOIN events e ON e.event_id >= i.lo AND e.event_id <= i.hi
        GROUP BY i.int_id""")),

    // ------------------------------------------------------------------
    // TPC-H Q3 shape (shipping priority): top unshipped-revenue orders
    // for one market segment at a date cutoff. The selective dimension
    // (filtered customer) broadcasts; the lineitem⋈orders join
    // shuffles on orderkey and the groupBy reuses that partitioning;
    // the top-10 is TakeOrderedAndProject, never a global sort.
    Q("rel_shipping_priority",
      (s, d) => {
        import s.implicits._
        val cutoff = to_timestamp(lit("1998-06-30 00:00:00"))
        Tables.lineitem(s, d).filter($"l_shipdate" > cutoff)
          .join(Tables.orders(s, d).filter($"o_orderdate" < cutoff),
            $"l_orderkey" === $"o_orderkey")
          .join(broadcast(Tables.customer(s, d)
              .filter($"c_mktsegment" === "BUILDING")),
            $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"))
          .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
          CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")),

    // ------------------------------------------------------------------
    // Winsorized statistics — the outlier-robust aggregation a data-
    // cleaning pass runs before training on numeric features: clip
    // each value into its group's [p01, p99] and aggregate the
    // clipped column. Two-pass shape that scales: the percentile
    // aggregation collapses to one row per group, broadcasts back,
    // and the clip + re-aggregation is one more scan — no windowed
    // percentile (which would buffer whole partitions). Interpolated
    // exact percentiles match quantile_cont bit-for-bit (the
    // rel_percentiles contract); the winsorized sum goes through the
    // usual decimal quantization.
    Q("rel_winsorized_stats",
      (s, d) => {
        import s.implicits._
        // one percentile aggregate with an array of fractions: the
        // group's values buffer ONCE, not once per requested quantile.
        // Scale switch (the ev_rfm_segments pattern): the EXACT
        // percentile buffers every group value in the aggregation
        // buffer — fine while groups fit an executor, memory death
        // beyond. Past the threshold the clip bounds come from the
        // mergeable approx_percentile sketch instead (bounded buffer,
        // same plan shape); only the bounds' exactness is traded, the
        // clipped sum stays an exact decimal. Oracle scales run the
        // exact path; PlanSpec forces the big side and pins that no
        // exact `percentile` (full per-group value buffering)
        // survives in its plan.
        val bigFrame = Regimes.big(s, Regimes.ExactPercentile,
          Tables.rowCount(s, d, "lineitem"))
        val pctExpr =
          if (!bigFrame) "percentile(l_extendedprice, array(0.01D, 0.99D))"
          else "approx_percentile(l_extendedprice, array(0.01D, 0.99D), 10000)"
        // Both passes fan the single-split scan (guide §2.5): the
        // percentile partials buffer per-task and the clip+decimal
        // re-aggregation is the per-row cost — fused over one row
        // group they run on one core. No-op on multi-split sources.
        def base = Par.fan(
          Tables.lineitem(s, d).select($"l_returnflag", $"l_extendedprice"),
          $"l_extendedprice")
        val pct = base
          .groupBy($"l_returnflag")
          .agg(expr(pctExpr).as("pcts"))
          .select($"l_returnflag",
            element_at($"pcts", 1).cast("double").as("p01"),
            element_at($"pcts", 2).cast("double").as("p99"))
        base
          .join(broadcast(pct), Seq("l_returnflag"))
          .withColumn("clipped",
            least(greatest($"l_extendedprice", $"p01"), $"p99"))
          .groupBy($"l_returnflag")
          .agg(
            count(when($"l_extendedprice" < $"p01" ||
                       $"l_extendedprice" > $"p99", 1)).as("n_clipped"),
            count(lit(1)).as("n_rows"),
            dsum($"clipped").as("winsorized_sum"))
      },
      Some("""WITH pct AS (
          SELECT l_returnflag,
            quantile_cont(l_extendedprice, 0.01) AS p01,
            quantile_cont(l_extendedprice, 0.99) AS p99
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag,
          COUNT(CASE WHEN l_extendedprice < p01 OR l_extendedprice > p99
            THEN 1 END) AS n_clipped,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(least(greatest(l_extendedprice, p01), p99)
            AS DECIMAL(27,6))) AS DOUBLE) AS winsorized_sum
        FROM lineitem l JOIN pct USING (l_returnflag)
        GROUP BY l.l_returnflag""")),

    // ------------------------------------------------------------------
    // Interval × interval overlap join through Joins.overlapJoinBinned:
    // 5-minute event activity windows against 6-hourly one-hour promo
    // windows, with NO key connecting the sides. The binned form
    // hash-joins on the bin and claims each pair only in the bin of
    // the overlap's left edge — one join, no pair dedup, no
    // nested-loop operator (PlanSpec pins that). The oracle runs the
    // plain inclusive-overlap theta join; epoch arithmetic in integer
    // seconds on both sides.
    Q("rel_interval_overlap_join",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"event_id",
            expr("unix_micros(ts) div 1000000").as("e_lo"))
          .withColumn("e_hi", $"e_lo" + 300L)
        // Jan 2024 6-hourly promo spine; 2024-01-01 UTC = 1704067200.
        val promos = s.range(0, 124).select(
          $"id".as("promo_id"),
          (lit(1704067200L) + $"id" * 21600L).as("p_lo"))
          .withColumn("p_hi", $"p_lo" + 3600L)
        Joins.overlapJoinBinned(ev, "e_lo", "e_hi",
            promos, "p_lo", "p_hi", binWidth = 3600L)
          .groupBy($"promo_id")
          .agg(count(lit(1)).as("n_events"), sum($"event_id").as("id_sum"))
      },
      Some("""WITH ev AS (
          SELECT event_id, epoch_us(ts) // 1000000 AS e_lo,
                 epoch_us(ts) // 1000000 + 300 AS e_hi
          FROM events),
        promos AS (
          SELECT k AS promo_id, 1704067200 + k * 21600 AS p_lo,
                 1704067200 + k * 21600 + 3600 AS p_hi
          FROM (SELECT unnest(generate_series(0, 123)) AS k) g)
        SELECT promo_id, COUNT(*) AS n_events,
          CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM ev JOIN promos ON e_lo <= p_hi AND p_lo <= e_hi
        GROUP BY promo_id""")),

    // ------------------------------------------------------------------
    // The same overlap join written as the NATURAL theta condition —
    // no library call: RangeBinJoinRule's interval-overlap case
    // rewrites it to the binned, dedup-free hash join in the Verify/
    // Bench sessions (vanilla Spark would broadcast-nested-loop it).
    // Identical result set to rel_interval_overlap_join by
    // construction — the oracle is the same SQL.
    Q("rel_interval_overlap_auto",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"event_id",
            expr("unix_micros(ts) div 1000000").as("e_lo"))
          .withColumn("e_hi", $"e_lo" + 300L)
        val promos = s.range(0, 124).select(
          $"id".as("promo_id"),
          (lit(1704067200L) + $"id" * 21600L).as("p_lo"))
          .withColumn("p_hi", $"p_lo" + 3600L)
        ev.join(promos, $"e_lo" <= $"p_hi" && $"p_lo" <= $"e_hi")
          .groupBy($"promo_id")
          .agg(count(lit(1)).as("n_events"), sum($"event_id").as("id_sum"))
      },
      Some("""WITH ev AS (
          SELECT event_id, epoch_us(ts) // 1000000 AS e_lo,
                 epoch_us(ts) // 1000000 + 300 AS e_hi
          FROM events),
        promos AS (
          SELECT k AS promo_id, 1704067200 + k * 21600 AS p_lo,
                 1704067200 + k * 21600 + 3600 AS p_hi
          FROM (SELECT unnest(generate_series(0, 123)) AS k) g)
        SELECT promo_id, COUNT(*) AS n_events,
          CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM ev JOIN promos ON e_lo <= p_hi AND p_lo <= e_hi
        GROUP BY promo_id""")),

    // ------------------------------------------------------------------
    // Median absolute deviation — the robust dispersion measure
    // (stddev is dominated by the outliers a cleaning pass is hunting
    // for). Same two-pass broadcast shape as rel_winsorized_stats:
    // per-group median collapses small and broadcasts back; MAD is
    // the median of |x − median| on the second scan. Interpolated
    // exact percentiles match quantile_cont bit-for-bit; the |x−med|
    // derivation is one IEEE subtract applied identically on both
    // sides.
    Q("rel_median_abs_deviation",
      (s, d) => {
        import s.implicits._
        // Scale switch (the rel_winsorized_stats pattern above): the
        // exact `percentile` buffers every group value in one
        // aggregation buffer — ~2M doubles per returnflag at sf1, a
        // per-task OOM at 100×. Past the threshold BOTH passes
        // (the group median and the deviation median) come from the
        // mergeable approx_percentile sketch instead — bounded
        // buffer, identical two-pass broadcast plan shape. Oracle
        // scales run the exact path; PlanSpec forces the big side
        // and pins that no exact percentile survives.
        val bigFrame = Regimes.big(s, Regimes.ExactPercentile,
          Tables.rowCount(s, d, "lineitem"))
        def pct(c: String) =
          if (!bigFrame) s"percentile($c, 0.5D)"
          else s"approx_percentile($c, 0.5D, 10000)"
        // Fan both passes of the single-split scan — the percentile
        // buffers are the per-row cost (guide §2.5; no-op on
        // multi-split sources).
        def base = Par.fan(
          Tables.lineitem(s, d).select($"l_returnflag", $"l_extendedprice"),
          $"l_extendedprice")
        val med = base
          .groupBy($"l_returnflag")
          .agg(expr(pct("l_extendedprice")).cast("double").as("med"))
        base
          .join(broadcast(med), Seq("l_returnflag"))
          .withColumn("dev", abs($"l_extendedprice" - $"med"))
          .groupBy($"l_returnflag")
          .agg(max($"med").as("median_price"),
            expr(pct("dev")).cast("double").as("mad"),
            count(lit(1)).as("n_rows"))
      },
      Some("""WITH med AS (
          SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
          FROM lineitem GROUP BY l_returnflag)
        SELECT l.l_returnflag, MAX(med) AS median_price,
          quantile_cont(abs(l_extendedprice - med), 0.5) AS mad,
          COUNT(*) AS n_rows
        FROM lineitem l JOIN med USING (l_returnflag)
        GROUP BY l.l_returnflag"""))
  )
}
