package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}

/** Pipeline-lifecycle relational shapes: the decorrelated
  * aggregate-subquery joins of TPC-H Q17/Q18 (the two classic
  * "compare each row against its group's aggregate" forms the
  * reference's fold never needs but any warehouse user runs), a
  * single-join data-quality audit, and incremental materialized-
  * aggregate maintenance (merge a delta batch's partials into a
  * snapshot without rescanning history).
  *
  * Exactness rules follow Tables.Q's documented conventions: every
  * compared or exported aggregate travels as DECIMAL (associative
  * addition — bit-identical under any partial-aggregation order);
  * the Q17 average test `qty < 0.2 * avg` is cleared of division
  * entirely by comparing `5 * qty * cnt < sum` in integers/decimals.
  */
object Lifecycle {

  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(27, scale))).cast("double")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // TPC-H Q17 shape: revenue from small-quantity orders of small
    // parts, where "small quantity" means below 20% of that part's own
    // average order quantity. The correlated AVG subquery decorrelates
    // into a per-part pre-aggregation joined back on partkey — the
    // probe scan and the aggregate share one l_partkey hash
    // partitioning (no second lineitem shuffle), and the part dim is
    // broadcast. Division-free exactness: l_quantity < 0.2*(sum/cnt)
    // ⟺ 5*qty*cnt < sum (cnt > 0), all in exact decimals.
    Q("rel_small_qty_revenue",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val perPart = li
          .groupBy($"l_partkey".as("ap_partkey"))
          .agg(sum($"l_quantity".cast(DecimalType(18, 2))).as("qty_sum"),
            count(lit(1)).as("qty_cnt"))
        li.join(broadcast(Tables.part(s, d).filter($"p_size" <= 5)
              .select($"p_partkey")),
            $"l_partkey" === $"p_partkey")
          .join(perPart, $"l_partkey" === $"ap_partkey")
          .filter($"l_quantity".cast(DecimalType(18, 2)) * 5 * $"qty_cnt"
            < $"qty_sum")
          .agg(count(lit(1)).as("n_small"),
            dsum($"l_extendedprice").as("small_qty_revenue"))
      },
      Some("""WITH per_part AS (
          SELECT l_partkey AS ap_partkey,
            SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
            COUNT(*) AS qty_cnt
          FROM lineitem GROUP BY l_partkey)
        SELECT COUNT(*) AS n_small,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DOUBLE)
            AS small_qty_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_size <= 5
        JOIN per_part ON l_partkey = ap_partkey
        WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * qty_cnt < qty_sum""")),

    // ------------------------------------------------------------------
    // TPC-H Q18 shape: large-volume orders — orders whose total line
    // quantity exceeds a threshold, re-joined to orders and customer
    // for reporting. The HAVING pre-aggregation runs on the lineitem
    // orderkey partitioning and survives as a small filtered set, so
    // the detail joins see only qualifying orderkeys; customer joins
    // AFTER the filter (the join input is 10^2-10^3 smaller than
    // joining customer to all orders first).
    Q("rel_large_orders",
      (s, d) => {
        import s.implicits._
        val big = Tables.lineitem(s, d)
          .groupBy($"l_orderkey")
          .agg(sum($"l_quantity".cast(DecimalType(18, 2))).as("sum_qty"))
          .filter($"sum_qty" > 180)
        big.join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
          .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
          .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
            $"o_totalprice", $"sum_qty".cast("double").as("total_qty"))
          .orderBy($"total_qty".desc, $"o_orderkey")
          .limit(50)
      },
      Some("""WITH big AS (
          SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2)))
            AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
          CAST(sum_qty AS DOUBLE) AS total_qty
        FROM big JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_qty DESC, o_orderkey LIMIT 50""")),

    // ------------------------------------------------------------------
    // Data-quality audit: the assertion sweep a pipeline runs before
    // publishing a table, as ONE left join + ONE conditional
    // aggregation (not one scan per check): row count, domain
    // violations (non-positive quantity, discount outside [0,1],
    // unknown return flag), referential orphans (lineitem without its
    // order — the join's null wing), and cross-table invariant
    // violations (shipdate before orderdate). At 100 TB the join is
    // the orderkey co-partitioning every fact query already uses, and
    // each check is a codegen'd conditional count in the same pass.
    Q("rel_dq_audit",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
            $"l_orderkey" === $"o_orderkey", "left")
          .agg(count(lit(1)).as("n_rows"),
            count(when($"l_quantity" <= 0, 1)).as("bad_qty"),
            count(when($"l_discount" < 0 || $"l_discount" > 1, 1))
              .as("bad_discount"),
            count(when(!$"l_returnflag".isin("A", "N", "R"), 1))
              .as("bad_returnflag"),
            count(when($"o_orderkey".isNull, 1)).as("orphan_lines"),
            count(when($"l_shipdate" < $"o_orderdate", 1))
              .as("ship_before_order"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
          COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS bad_qty,
          COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END)
            AS bad_discount,
          COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 END)
            AS bad_returnflag,
          COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS orphan_lines,
          COUNT(CASE WHEN l_shipdate < o_orderdate THEN 1 END)
            AS ship_before_order
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""")),

    // ------------------------------------------------------------------
    // Incremental aggregate maintenance: a monthly-revenue rollup kept
    // as mergeable partials (count + decimal sum), refreshed by
    // aggregating ONLY the delta batch and merging it into the
    // snapshot's partials — the materialized-view update that replaces
    // rescanning all history on every refresh. Here the snapshot
    // (orders before 1999) and the delta (the rest) are built from the
    // same table and their merge is asserted equal to the full
    // recompute by the oracle; in production the snapshot arm is a
    // read of the previous run's parquet. AVG-style metrics derive
    // from the partials at read time (sum/count), never stored.
    Q("rel_incremental_agg",
      (s, d) => {
        import s.implicits._
        val cutoff = lit("1999-01-01").cast("timestamp")
        def monthly(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(date_trunc("month", $"o_orderdate").as("month"))
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast(DecimalType(27, 2))).as("total"))
        val snapshot = monthly(Tables.orders(s, d)
          .filter($"o_orderdate" < cutoff))
        val delta = monthly(Tables.orders(s, d)
          .filter($"o_orderdate" >= cutoff))
        snapshot.unionAll(delta)
          .groupBy($"month")
          .agg(sum($"n").as("n_orders"),
            sum($"total").cast("double").as("revenue"))
      },
      Some("""WITH snapshot AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
              AS month,
            COUNT(*) AS n,
            SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS total
          FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
          GROUP BY 1),
        delta AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
              AS month,
            COUNT(*) AS n,
            SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS total
          FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          GROUP BY 1)
        SELECT month, CAST(SUM(n) AS BIGINT) AS n_orders,
          CAST(SUM(total) AS DOUBLE) AS revenue
        FROM (SELECT * FROM snapshot UNION ALL SELECT * FROM delta)
        GROUP BY month""")),

    // ------------------------------------------------------------------
    // TPC-H Q19 shape: disjunctive join predicate — an OR of
    // (brand, size-range, quantity-range) conjunctions mixing
    // join-side and probe-side columns. The planner must (a) keep the
    // equi key (partkey) as the hash-join key with the disjunction as
    // residual — never fall back to a nested loop — and (b) push the
    // extractable common conjuncts (p_size >= 1, the quantity hull)
    // below the join as scan filters. Revenue per branch stays
    // decimal-exact; the per-row double product
    // l_extendedprice*(1-l_discount) is the same IEEE operation in
    // both engines.
    Q("rel_disjunctive_join",
      (s, d) => {
        import s.implicits._
        val branch1 = $"p_brand" === "Brand#1" &&
          $"p_size".between(1, 15) && $"l_quantity".between(1, 11)
        val branch2 = $"p_brand" === "Brand#2" &&
          $"p_size".between(1, 25) && $"l_quantity".between(10, 20)
        val branch3 = $"p_brand" === "Brand#3" &&
          $"p_size".between(1, 35) && $"l_quantity".between(20, 30)
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey"
            && (branch1 || branch2 || branch3))
          .agg(count(lit(1)).as("n_matched"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)
              .as("revenue"))
      },
      Some("""SELECT COUNT(*) AS n_matched,
          CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 30))""")),

    // ------------------------------------------------------------------
    // Snapshot reconciliation: the added/removed/changed/unchanged
    // audit between two table versions, as ONE full outer join on the
    // key with a value comparison — the diff a pipeline runs before
    // promoting a rebuilt table (and the check that catches silent
    // row loss). Versions are derived deterministically from orders
    // (v1 drops keys ≡0 mod 5; v2 drops ≡0 mod 7 and perturbs the
    // price of keys ≡0 mod 3), so both engines reconstruct identical
    // inputs. At 100 TB both sides hash-partition on the key — the
    // same co-partitioning every fact join uses; the status rollup is
    // map-side combined.
    Q("rel_snapshot_diff",
      (s, d) => {
        import s.implicits._
        val orders = Tables.orders(s, d)
        val v1 = orders.filter($"o_orderkey" % 5 =!= 0)
          .select($"o_orderkey".as("k1"), $"o_totalprice".as("p1"))
        val v2 = orders.filter($"o_orderkey" % 7 =!= 0)
          .select($"o_orderkey".as("k2"),
            when($"o_orderkey" % 3 === 0, $"o_totalprice" + 100.0)
              .otherwise($"o_totalprice").as("p2"))
        v1.join(v2, $"k1" === $"k2", "full_outer")
          .select(
            when($"k1".isNull, "added")
              .when($"k2".isNull, "removed")
              .when($"p1" =!= $"p2", "changed")
              .otherwise("unchanged").as("status"))
          .groupBy($"status")
          .agg(count(lit(1)).as("n_rows"))
      },
      Some("""WITH v1 AS (
          SELECT o_orderkey AS k1, o_totalprice AS p1 FROM orders
          WHERE o_orderkey % 5 <> 0),
        v2 AS (
          SELECT o_orderkey AS k2,
            CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                 ELSE o_totalprice END AS p2
          FROM orders WHERE o_orderkey % 7 <> 0)
        SELECT CASE WHEN k1 IS NULL THEN 'added'
                    WHEN k2 IS NULL THEN 'removed'
                    WHEN p1 <> p2 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COUNT(*) AS n_rows
        FROM v1 FULL OUTER JOIN v2 ON k1 = k2
        GROUP BY 1""")),

    // ------------------------------------------------------------------
    // NOT IN under three-valued logic: a NULL in the subquery list
    // makes `x NOT IN (list)` UNKNOWN for every x outside the list —
    // SQL's most-misread semantics, and the reason Spark has a
    // dedicated null-aware anti join (a plain hash anti join would
    // return the complement and be WRONG). The query counts survivors
    // against a null-free list and a null-bearing list of the same
    // keys: the second count must be 0, not "orders of other
    // customers". Plan-pinned to the single-column null-aware
    // broadcast anti join, not a nested loop over the fact side.
    Q("rel_not_in_nulls",
      (s, d) => {
        import s.implicits._
        val orders = Tables.orders(s, d)
        orders.createOrReplaceTempView("o_tmp")
        Tables.customer(s, d).createOrReplaceTempView("c_tmp")
        s.sql("""
          SELECT
            (SELECT COUNT(*) FROM o_tmp
             WHERE o_custkey NOT IN
               (SELECT c_custkey FROM c_tmp WHERE c_acctbal > 9000))
              AS n_not_in_clean,
            (SELECT COUNT(*) FROM o_tmp
             WHERE o_custkey NOT IN
               (SELECT CASE WHEN c_acctbal > 9000 THEN c_custkey END
                FROM c_tmp))
              AS n_not_in_nullable""")
      },
      Some("""SELECT
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer WHERE c_acctbal > 9000))
            AS n_not_in_clean,
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey NOT IN
             (SELECT CASE WHEN c_acctbal > 9000 THEN c_custkey END
              FROM customer))
            AS n_not_in_nullable""")),

    // ------------------------------------------------------------------
    // Aggregate null semantics in one pass: COUNT(*) counts rows,
    // COUNT(col)/SUM/MIN/AVG skip NULLs, and an all-NULL group yields
    // NULL (not 0) for SUM/MIN/AVG — the rules engines have
    // historically disagreed on, pinned here as an engine-parity
    // query. The nullable column is derived (price only for 'F'
    // status), so the 'P'/'O' groups exercise the all-NULL wing.
    Q("rel_null_agg_semantics",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .withColumn("p",
            when($"o_orderstatus" === "F",
              $"o_totalprice".cast(DecimalType(18, 2))))
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            count($"p").as("n_nonnull"),
            sum($"p").cast("double").as("sum_p"),
            min($"p").cast("double").as("min_p"),
            // avg derived from the exact sum in DOUBLE division — a
            // decimal division would round under each engine's own
            // scale rules before the export cast
            (sum($"p").cast("double") / count($"p")).as("avg_p"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_rows,
          COUNT(p) AS n_nonnull,
          CAST(SUM(p) AS DOUBLE) AS sum_p,
          CAST(MIN(p) AS DOUBLE) AS min_p,
          CAST(SUM(p) AS DOUBLE) / COUNT(p) AS avg_p
        FROM (SELECT o_orderstatus,
                CASE WHEN o_orderstatus = 'F'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END AS p
              FROM orders) t
        GROUP BY o_orderstatus""")),

    // ------------------------------------------------------------------
    // Calendar month arithmetic parity: add_months/+INTERVAL MONTH
    // clamp to the target month's last day (Jan 31 + 1 month =
    // Feb 29), and last_day marks ends — the date-edge behavior
    // billing/retention jobs depend on. Grouped by whether the order
    // date was a month end, with the clamped next-month day spread.
    Q("rel_month_end_arith",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .select($"o_orderdate",
            (to_date($"o_orderdate") === last_day($"o_orderdate"))
              .as("is_month_end"),
            dayofmonth(add_months($"o_orderdate", 1)).cast("long")
              .as("next_month_day"))
          .groupBy($"is_month_end", $"next_month_day")
          .agg(count(lit(1)).as("n_orders"))
      },
      Some("""SELECT CAST(o_orderdate AS DATE) = last_day(o_orderdate)
              AS is_month_end,
          CAST(day(o_orderdate + INTERVAL 1 MONTH) AS BIGINT)
              AS next_month_day,
          COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1, 2""")),

    // ------------------------------------------------------------------
    // Ratio-to-report: each nation's share of its region's revenue —
    // the percent-of-total window over a pre-aggregated table. The
    // share divides two exact decimal sums in DOUBLE (one IEEE
    // division per row; a decimal division would round under
    // engine-specific scale rules). The window runs over the
    // nation-count-sized rollup, never the fact table.
    Q("rel_revenue_share",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"r_name")
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(broadcast(Tables.customer(s, d)
            .select($"c_custkey", $"c_nationkey")),
            $"o_custkey" === $"c_custkey")
          .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast(DecimalType(27, 6))).as("rev"))
          .withColumn("region_rev", sum($"rev").over(w))
          .select($"r_name", $"n_name", $"rev".cast("double").as("revenue"),
            ($"rev".cast("double") / $"region_rev".cast("double"))
              .as("share"))
      },
      Some("""WITH by_nation AS (
          SELECT r_name, n_name,
            SUM(CAST(l_extendedprice * (1.0 - l_discount)
              AS DECIMAL(27,6))) AS rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name)
        SELECT r_name, n_name,
          CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
          CAST(CAST(rev AS VARCHAR) AS DOUBLE) /
            CAST(CAST(SUM(rev) OVER (PARTITION BY r_name) AS VARCHAR)
              AS DOUBLE) AS share
        FROM by_nation""")),

    // ------------------------------------------------------------------
    // Benford first-digit audit: the fraud/data-entry screen — digit
    // frequencies of order totals vs Benford's log distribution.
    // Counts and permille shares are exact integers; the engine only
    // asserts the OBSERVED distribution (the expected log10 curve is
    // the analyst's lookup, not computed here, keeping the oracle
    // float-free).
    Q("rel_benford_check",
      (s, d) => {
        import s.implicits._
        val total = Tables.rowCount(s, d, "orders")
        Tables.orders(s, d)
          // first digit via the floored integer part: integer→string
          // is format-identical across engines, double→string is not
          // (scientific notation at 1e7+), and a bare double→bigint
          // CAST truncates in Spark but rounds in DuckDB
          .select(substring(floor($"o_totalprice").cast("long")
            .cast("string"), 1, 1).cast("long").as("first_digit"))
          .groupBy($"first_digit")
          .agg(count(lit(1)).as("n_orders"))
          .withColumn("permille",
            expr(s"n_orders * 1000 div ${total}L"))
          .orderBy($"first_digit")
      },
      Some("""WITH digits AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
          FROM orders)
        SELECT first_digit, COUNT(*) AS n_orders,
          COUNT(*) * 1000 // (SELECT COUNT(*) FROM orders) AS permille
        FROM digits
        GROUP BY first_digit
        ORDER BY first_digit""")),

    // ------------------------------------------------------------------
    // Sequence-gap audit: missing id ranges in a surrogate-key column
    // (the dropped-batch detector — a silent ingestion failure shows
    // up as holes in the key sequence). Gaps-and-islands via lead()
    // over the DISTINCT keys: one sort of the key column, each gap
    // reported as [gap_start, gap_end] with its width. Keys are
    // sampled (every 3rd orderkey filtered out of a window) so the
    // query demonstrably finds the holes it planted.
    Q("rel_sequence_gaps",
      (s, d) => {
        import s.implicits._
        sequenceGaps(Tables.orders(s, d)
          .filter($"o_orderkey" <= 3000 &&
            !($"o_orderkey" % 3 === 0 && $"o_orderkey" > 1500))
          .select($"o_orderkey".as("k")).distinct())
      },
      Some("""WITH ks AS (
          SELECT DISTINCT o_orderkey AS k FROM orders
          WHERE o_orderkey <= 3000
            AND NOT (o_orderkey % 3 = 0 AND o_orderkey > 1500)),
        seq AS (
          SELECT k, LEAD(k, 1) OVER (ORDER BY k) AS next_k FROM ks)
        SELECT k + 1 AS gap_start, next_k - 1 AS gap_end,
          next_k - k - 1 AS gap_width
        FROM seq WHERE next_k > k + 1""")),

    // ------------------------------------------------------------------
    // Discrete percentiles: percentile_disc SELECTS an existing value
    // (smallest with cumulative distribution >= p) instead of
    // interpolating — the form that stays meaningful for ordinal data
    // and, because the output is an actual stored value, hash-exact
    // across engines with no IEEE-arithmetic caveat at all (the
    // interpolated rel_percentiles needs both engines to share the
    // interpolation formula).
    Q("rel_percentile_disc",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d).createOrReplaceTempView("li_tmp")
        s.sql("""SELECT l_returnflag,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
              AS q25,
            percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
              AS q50,
            percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
              AS price_p99
          FROM li_tmp GROUP BY l_returnflag""")
      },
      Some("""SELECT l_returnflag,
          percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS q50,
          percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
            AS price_p99
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // SLI / error-budget burn: per-hour error share of all events in
    // integer permille, flagged where it exceeds a 250‰ budget — the
    // SRE rollup a monitoring pipeline materializes. Single
    // conditional aggregation on the hour×(nothing) grain; exact
    // integers end-to-end.
    Q("ev_error_budget",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(date_trunc("hour", $"ts").as("hour"))
          .agg(count(lit(1)).as("n_events"),
            count(when($"event_type" === "error", 1)).as("n_errors"))
          .withColumn("error_permille",
            expr("n_errors * 1000 div n_events"))
          .withColumn("budget_burned", $"error_permille" > 250)
      },
      Some("""SELECT date_trunc('hour', ts) AS hour,
          COUNT(*) AS n_events,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 1000
            // COUNT(*) AS error_permille,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) * 1000
            // COUNT(*) > 250 AS budget_burned
        FROM events GROUP BY 1""")),

    // ------------------------------------------------------------------
    // Content fingerprint: an order-independent per-(returnflag,
    // linestatus) checksum of lineitem — SUM over rows of a 32-bit
    // md5 prefix of the row's canonical string form. Addition is
    // commutative, so the fingerprint needs NO global sort: replicas,
    // migrations and engine ports compare checksums without moving
    // data (the 100 TB promotion audit rel_snapshot_diff's full outer
    // join is too expensive for). Canonical forms chosen for
    // engine parity: integers and decimals render identically in
    // Spark and DuckDB, timestamps travel as epoch microseconds
    // (double→string would diverge, see verify notes). The DECIMAL(38)
    // sum keeps the checksum exact at any row count.
    Q("rel_table_fingerprint",
      (s, d) => {
        import s.implicits._
        val key = concat_ws("|",
          $"l_orderkey", $"l_linenumber",
          $"l_quantity".cast(DecimalType(12, 2)).cast("string"),
          $"l_extendedprice".cast(DecimalType(14, 2)).cast("string"),
          $"l_discount".cast(DecimalType(4, 2)).cast("string"),
          $"l_returnflag", $"l_linestatus",
          unix_micros($"l_shipdate".cast("timestamp")))
        Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_linestatus",
            conv(substring(md5(key), 1, 8), 16, 10).cast("long").as("h"))
          .groupBy($"l_returnflag", $"l_linestatus")
          // The checksum stays DECIMAL(38) internally (exact at any
          // row count) but EXPORTS as a digit string: a DECIMAL
          // column lands as pandas object(Decimal) vs DuckDB's
          // HUGEINT→float64 and can never hash-match; int→string is
          // format-identical across engines.
          .agg(count(lit(1)).as("n_rows"),
            sum($"h".cast(DecimalType(38, 0))).cast("string")
              .as("fingerprint"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
          CAST(SUM(CAST(${hex8Sql("md5(key)")} AS DECIMAL(38,0)))
            AS VARCHAR) AS fingerprint
        FROM (
          SELECT l_returnflag, l_linestatus,
            CAST(l_orderkey AS VARCHAR) || '|' ||
            CAST(l_linenumber AS VARCHAR) || '|' ||
            CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
            CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
              || '|' ||
            CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR) || '|' ||
            l_returnflag || '|' || l_linestatus || '|' ||
            CAST(epoch_us(l_shipdate) AS VARCHAR) AS key
          FROM lineitem) t
        GROUP BY l_returnflag, l_linestatus""")),

    // ------------------------------------------------------------------
    // Merkle key ranges — the locate step rel_table_fingerprint's
    // table-level verdict feeds: the same commutative checksum per
    // 1024-wide l_orderkey range, so two replicas that disagree
    // compare ~rows/1024 small (range, count, checksum) rows and
    // re-sync ONLY the ranges whose checksums differ (the Cassandra/
    // Dynamo anti-entropy shape, here as one aggregation — no tree
    // levels needed when the range table is already tiny relative to
    // the data). Same canonical row strings as the table fingerprint;
    // ranges align with key-ordered storage so a divergent range maps
    // to a contiguous scan.
    Q("rel_merkle_ranges",
      (s, d) => {
        import s.implicits._
        val key = concat_ws("|",
          $"l_orderkey", $"l_linenumber",
          $"l_quantity".cast(DecimalType(12, 2)).cast("string"),
          $"l_extendedprice".cast(DecimalType(14, 2)).cast("string"),
          $"l_discount".cast(DecimalType(4, 2)).cast("string"),
          $"l_returnflag", $"l_linestatus",
          unix_micros($"l_shipdate".cast("timestamp")))
        Tables.lineitem(s, d)
          .select(expr("l_orderkey div 1024").as("key_range"),
            conv(substring(md5(key), 1, 8), 16, 10).cast("long").as("h"))
          .groupBy($"key_range")
          // Digit-string export — see rel_table_fingerprint.
          .agg(count(lit(1)).as("n_rows"),
            sum($"h".cast(DecimalType(38, 0))).cast("string")
              .as("fingerprint"))
      },
      Some(s"""SELECT l_orderkey // 1024 AS key_range,
          COUNT(*) AS n_rows,
          CAST(SUM(CAST(${hex8Sql("md5(key)")} AS DECIMAL(38,0)))
            AS VARCHAR) AS fingerprint
        FROM (
          SELECT l_orderkey,
            CAST(l_orderkey AS VARCHAR) || '|' ||
            CAST(l_linenumber AS VARCHAR) || '|' ||
            CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
            CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
              || '|' ||
            CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR) || '|' ||
            l_returnflag || '|' || l_linestatus || '|' ||
            CAST(epoch_us(l_shipdate) AS VARCHAR) AS key
          FROM lineitem) t
        GROUP BY l_orderkey // 1024"""))
  )

  /** Gaps in a distinct integer key column as [gap_start, gap_end,
    * gap_width] rows, via BUCKETED gaps-and-islands: an unpartitioned
    * `lead(k) over (order by k)` funnels EVERY key through one
    * WindowExec partition — the single-threaded bottleneck at 10⁹+
    * keys. Here the key space is cut into `bucketWidth`-wide buckets:
    * the in-bucket successor comes from a bucket-partitioned window
    * (fully parallel), and each bucket's LAST key finds its successor
    * in the per-bucket summary frame (|keys|/bucketWidth rows —
    * collapsed enough for its tiny global window; chain a second
    * bucketing level if even that collapses too slowly). `lead` over
    * the non-empty-bucket summary hands off to the next NON-EMPTY
    * bucket's min, so arbitrarily long runs of empty buckets read as
    * one gap. Output is identical to the naive global-lead form
    * (Round7InvarianceSpec pins equality across bucket boundaries;
    * the rel_sequence_gaps oracle keeps the naive SQL form).
    */
  def sequenceGaps(keys: DataFrame, bucketWidth: Long = 4096L): DataFrame = {
    val s = keys.sparkSession
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val ks = keys.withColumn("b", expr(s"k div ${bucketWidth}L"))
    val wb = W.partitionBy($"b").orderBy($"k")
    val inBucket = ks.withColumn("next_k", lead($"k", 1).over(wb))
    val wSummary = W.orderBy($"b")
    val nextBucketMin = ks.groupBy($"b").agg(min($"k").as("bmin"))
      .withColumn("handoff", lead($"bmin", 1).over(wSummary))
      .select($"b", $"handoff")
    inBucket
      .join(nextBucketMin, Seq("b"), "left")
      .withColumn("next_k", coalesce($"next_k", $"handoff"))
      .filter($"next_k" > $"k" + 1)
      .select(($"k" + 1).as("gap_start"), ($"next_k" - 1).as("gap_end"),
        ($"next_k" - $"k" - 1).as("gap_width"))
  }

  /** DuckDB-side 32-bit int from 8 hex chars of a hash (no conv()
    * there) — same digit-arithmetic shape as TextAnalysis.hex8Sql. */
  private def hex8Sql(h: String): String =
    (0 until 8).map { i =>
      s"(instr('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")
}
