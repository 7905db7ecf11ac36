package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Regimes, Tables}

/** Second tier of relational coverage: CUBE grouping sets, exact
  * percentiles, cross-table joins between the text and vector
  * corpora, and approximate aggregates (HLL — verified by tolerance
  * spec rather than oracle, since sketch internals are engine-
  * specific).
  */
object Advanced {

  private def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(27, scale))).cast("double")

  /** Per-cell chi-square term in exact milli-units over 128-bit
    * integers: (o·n − r·c)²·1000 div (r·c·n). The difference stays
    * int64 (|o·n − r·c| ≤ n² ⇒ safe to n ≈ 3·10⁹); the square and
    * the r·c·n denominator go through DECIMAL(38,0) (= DuckDB
    * HUGEINT), holding exactly to n ≲ 5.6·10⁸. `div` truncates
    * toward zero in both engines; all values here are positive.
    * Shared by rel_chi2_independence and Chi2BoundarySpec so the
    * test pins the exact registered expression. */
  private[graft] val chi2TermMilliSql: String =
    "((cast(o * n - r * c as decimal(38,0)) * (o * n - r * c) * 1000)" +
      " div (cast(r as decimal(38,0)) * c * n))"

  /** SCD type-2 dimension over order status (the rel_scd2_dimension
    * body, reusable): gaps-and-islands runs with [valid_from,
    * valid_to) epoch-day ranges, one custkey shuffle shared by the
    * change flag, run rollup and valid_to lead. */
  def scd2Dim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"o_custkey")
      .orderBy($"day_num", $"o_orderkey")
    val runs = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
        datediff($"o_orderdate", lit("1970-01-01")).cast("long")
          .as("day_num"))
      .withColumn("chg",
        when(lag($"o_orderstatus", 1).over(wOrd).isNull ||
          lag($"o_orderstatus", 1).over(wOrd) =!= $"o_orderstatus", 1)
          .otherwise(0))
      .withColumn("run_id", sum($"chg").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"o_custkey", $"run_id")
      .agg(min($"o_orderstatus").as("status"),
        min($"day_num").as("valid_from_day"),
        max($"day_num").as("last_seen_day"),
        count(lit(1)).as("n_orders"))
    val wRun = Window.partitionBy($"o_custkey").orderBy($"run_id")
    runs
      .withColumn("valid_to_day", lead($"valid_from_day", 1).over(wRun))
      .withColumn("is_current", $"valid_to_day".isNull)
      .select($"o_custkey", $"run_id", $"status", $"valid_from_day",
        $"valid_to_day", $"last_seen_day", $"n_orders", $"is_current")
  }

  /** Oracle CTEs mirroring [[scd2Dim]], ending in a `dim` CTE. */
  private def scd2Sql: String =
    """ord AS (
        SELECT o_custkey, o_orderkey, o_orderstatus,
          datediff('day', DATE '1970-01-01', o_orderdate) AS day_num
        FROM orders),
      flagged AS (
        SELECT *, CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                    OR LAG(o_orderstatus) OVER w <> o_orderstatus
                   THEN 1 ELSE 0 END AS chg
        FROM ord
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY day_num, o_orderkey)),
      runs0 AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
            ORDER BY day_num, o_orderkey
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM flagged),
      runs AS (
        SELECT o_custkey, run_id, MIN(o_orderstatus) AS status,
          MIN(day_num) AS valid_from_day,
          MAX(day_num) AS last_seen_day,
          COUNT(*) AS n_orders
        FROM runs0 GROUP BY o_custkey, run_id),
      dim AS (
        SELECT o_custkey, run_id, status, valid_from_day,
          LEAD(valid_from_day) OVER w2 AS valid_to_day,
          last_seen_day, n_orders,
          LEAD(valid_from_day) OVER w2 IS NULL AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id))"""

  /** rel_weighted_median body, both regimes (round 10). The window
    * form partitions by l_returnflag — 3 distinct values, so every
    * window sorts a third of the corpus in ONE task (guide §2.5:
    * partitioning keys with too few distinct values). Fine to a few
    * million rows, a scale wall beyond. The distributed form:
    *
    *  1. Collapse to per-(flag, price) quantity sums — the crossing
    *     PRICE is invariant to ordering within a price tie group
    *     (cumq is monotone in the sort order, so the first row with
    *     2·cum ≥ tot lands in the first price group whose
    *     END-cumulative reaches half under any permutation of tied
    *     rows; the original's (orderkey, linenumber) tiebreak never
    *     influenced the selected price, only WHICH tied row carried
    *     it). The collapsed frame is PRICE-DOMAIN-bounded (594k
    *     distinct (flag, price) at sf0.1 AND sf1), not corpus-sized.
    *  2. [[Ranking.runningSums]] over the global (flag, price) total
    *     order — the distributed two-pass prefix sum
    *     (txt_vocab_growth's device) instead of a 3-partition window.
    *  3. Per-flag prefix offset and total from one tiny rollup of
    *     the same cached sorted frame (the flag's first row has
    *     gcum − qg = prefix, its last gcum = prefix + total);
    *     broadcast back, keep the crossing suffix, MIN(price) per
    *     flag IS the crossing price (the filtered set is an
    *     upward-closed suffix in price).
    *
    * Both regimes are exact integer arithmetic over long quantities
    * and provably equal (WeightedMedianRegimeSpec compares them on
    * the real corpus); the switch consults the memoized row count —
    * measured crossover: window 1.46 s vs distributed 2.70 s at
    * 600k rows, window 6.0 s vs distributed 3.6 s at 6M rows. */
  private[core] def weightedMedianFrame(li: DataFrame,
                                        distributed: Boolean): DataFrame = {
    val s = li.sparkSession
    import s.implicits._
    if (!distributed) {
      val ord = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
      val cum = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = Window.partitionBy($"l_returnflag")
      li.select($"l_returnflag", $"l_extendedprice",
          $"l_orderkey", $"l_linenumber", $"l_quantity".cast("long").as("q"))
        .withColumn("cumq", sum($"q").over(cum))
        .withColumn("totq", sum($"q").over(tot))
        .filter($"cumq" * 2 >= $"totq")
        .withColumn("rk", row_number().over(ord))
        .filter($"rk" === 1)
        .select($"l_returnflag", $"totq".as("total_qty"),
          $"l_extendedprice".as("weighted_median_price"))
    } else {
      val byPrice = li
        .select($"l_returnflag", $"l_extendedprice",
          $"l_quantity".cast("long").as("q"))
        .groupBy($"l_returnflag", $"l_extendedprice")
        .agg(sum($"q").as("qg"))
      val cum = Ranking.runningSums(byPrice,
        Seq($"l_returnflag", $"l_extendedprice"), Seq("qg" -> "gcum"))
      val fstats = cum.groupBy($"l_returnflag")
        .agg(min($"gcum" - $"qg").as("pfx"), max($"gcum").as("endcum"))
        .select($"l_returnflag", $"pfx", ($"endcum" - $"pfx").as("totq"))
      cum.join(broadcast(fstats), "l_returnflag")
        .filter(($"gcum" - $"pfx") * 2 >= $"totq")
        .groupBy($"l_returnflag", $"totq")
        .agg(min($"l_extendedprice").as("weighted_median_price"))
        .select($"l_returnflag", $"totq".as("total_qty"),
          $"weighted_median_price")
    }
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // CUBE: all 4 grouping-set combinations.
    Q("rel_cube_status",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
               dsum($"o_totalprice", 2).as("total"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // ------------------------------------------------------------------
    // Exact interpolated percentiles (both engines: linear
    // interpolation over the sorted set — deterministic doubles).
    // Exact percentiles (hash-comparable with DuckDB quantile_cont).
    // The exact aggregate buffers a value→count map per group on the
    // final reducer — correct here because group count is tiny and
    // value domains are bounded; a 100 TB pipeline with wide domains
    // should use approx_percentile (t-digest, mergeable partials,
    // bounded memory) and give up bit-exactness.
    Q("rel_percentiles",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
            expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
      },
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_extendedprice, 0.25) AS p25_price,
        quantile_cont(l_extendedprice, 0.75) AS p75_price
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Cross-corpus equi-join: documents ↔ embeddings on id
    // (SURVEY.md §2.3's doc↔embedding join), text stats × label.
    Q("rel_doc_embedding_join",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .groupBy($"lang", $"label")
          .agg(count(lit(1)).as("n_docs"),
               sum($"n_chars").as("sum_chars"))
      },
      Some("""SELECT lang, CAST(label AS BIGINT) AS label, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents JOIN embeddings ON doc_id = vec_id
        GROUP BY lang, label""")),

    // ------------------------------------------------------------------
    // Approximate distinct (HLL sketch), exported as its accuracy
    // EVAL (the sim_ivf_recall pattern): raw sketch estimates are
    // engine-specific and can never hash-match DuckDB, but "the
    // estimate lands within the configured 2%+slack bound of the
    // exact count" is a deterministic boolean (Spark's HLL is
    // hash-based and order-independent), and the exact counts are
    // oracle-exact integers. Ground truth comes from a DETERMINISTIC
    // SALTED KEY-SAMPLE (the dedup_minhash_accuracy device): a key
    // participates iff its salted md5 starts with '0' — ~1/16 of the
    // DISTINCT keys, decided per key, so countDistinct over the
    // sample is itself exact and engine-reproducible. The exact
    // distinct shuffle therefore carries 1/16 of the keys instead of
    // all of them — at 100 TB the eval costs a full scan plus a
    // SMALL distinct, not the two full-width exact-distinct shuffles
    // the sketch exists to avoid. (Production rollups call the
    // sketch alone — an un-sampled exact arm would be the thing
    // being replaced.) The sketch is scored on the SAME sampled key
    // set, so the 5% bound check is like-for-like.
    Q("rel_approx_distinct",
      (s, d) => {
        import s.implicits._
        // ONE distinct column per aggregation: two countDistincts in
        // one agg make Catalyst Expand the scan once per distinct
        // group (3× the rows through the shuffle). Each single-
        // distinct agg plans as the efficient partial-distinct
        // two-stage shape; the sketch of the sampled keys rides the
        // same pass, and the per-flag 3-row frames broadcast-join
        // back together.
        def keep(c: String) = substring(
          md5(concat(lit("acd5|"), col(c).cast("string"))), 1, 1) === "0"
        def arm(c: String, exact: String, ok: String) =
          Tables.lineitem(s, d)
            .groupBy($"l_returnflag")
            .agg(countDistinct(when(keep(c), col(c))).as(exact),
              approx_count_distinct(when(keep(c), col(c)), 0.02).as("a"))
            .select($"l_returnflag", col(exact),
              (abs($"a" - col(exact)).cast("double") /
                col(exact) <= 0.05).as(ok))
        arm("l_orderkey", "n_exact_orders_sampled", "orders_within_5pct")
          .join(arm("l_partkey", "n_exact_parts_sampled",
            "parts_within_5pct"), Seq("l_returnflag"))
          .select($"l_returnflag",
            $"n_exact_orders_sampled", $"n_exact_parts_sampled",
            $"orders_within_5pct", $"parts_within_5pct")
      },
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT CASE WHEN substring(md5(
              'acd5|' || CAST(l_orderkey AS VARCHAR)), 1, 1) = '0'
            THEN l_orderkey END) AS n_exact_orders_sampled,
          COUNT(DISTINCT CASE WHEN substring(md5(
              'acd5|' || CAST(l_partkey AS VARCHAR)), 1, 1) = '0'
            THEN l_partkey END) AS n_exact_parts_sampled,
          TRUE AS orders_within_5pct, TRUE AS parts_within_5pct
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Approximate percentiles — the scale path rel_percentiles points
    // at: mergeable rank-sketch partials with bounded memory per
    // group. Exported as the accuracy eval (see rel_approx_distinct):
    // the approx value must land inside the ±5-rank-percent band of
    // exact interpolated percentiles (approx_percentile returns a
    // STORED value whose rank error at accuracy 10000 is ≤ 0.01%,
    // far inside the band; any stored value with rank in [p−ε, p+ε]
    // lies between the continuous percentiles at the band edges),
    // alongside exact interpolated values DuckDB's quantile_cont
    // recomputes bit-identically (the rel_percentiles formula). Each
    // column's exact percentiles come from ONE array-fraction
    // `percentile` aggregate, so the group's values buffer once per
    // column — not once per requested quantile (nine separate
    // percentile_disc aggregates measured 4.9 s at sf0.1).
    Q("rel_approx_percentiles",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, array(0.45D, 0.5D, 0.55D))")
              .as("aq"),
            expr("percentile(l_extendedprice," +
              " array(0.20D, 0.25D, 0.30D, 0.70D, 0.75D, 0.80D))")
              .as("ap"),
            expr("approx_percentile(l_quantity, 0.5, 10000)").as("xq"),
            expr("approx_percentile(l_extendedprice," +
              " array(0.25D, 0.75D), 10000)").as("xp"))
          .select($"l_returnflag",
            element_at($"aq", 2).as("q50_exact"),
            element_at($"ap", 2).as("p25_exact"),
            element_at($"ap", 5).as("p75_exact"),
            ($"xq" >= element_at($"aq", 1) &&
              $"xq" <= element_at($"aq", 3)).as("median_ok"),
            (element_at($"xp", 1) >= element_at($"ap", 1) &&
              element_at($"xp", 1) <= element_at($"ap", 3)).as("p25_ok"),
            (element_at($"xp", 2) >= element_at($"ap", 4) &&
              element_at($"xp", 2) <= element_at($"ap", 6)).as("p75_ok"))
      },
      Some("""SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS q50_exact,
          quantile_cont(l_extendedprice, 0.25) AS p25_exact,
          quantile_cont(l_extendedprice, 0.75) AS p75_exact,
          TRUE AS median_ok, TRUE AS p25_ok, TRUE AS p75_ok
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // Pivot: priority values become columns. Values are passed
    // explicitly — with an inferred pivot Spark first runs a distinct
    // job over the column, an extra full scan a 100 TB pipeline with a
    // known domain never needs. Missing combinations surface as null
    // counts; coalesce to 0 for the COUNT FILTER parity.
    Q("rel_pivot_priority",
      (s, d) => {
        import s.implicits._
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        val slug = (p: String) =>
          "n_" + p.split("-")(1).toLowerCase.replace(" ", "_")
        val pivoted = Tables.orders(s, d)
          .groupBy($"o_orderstatus")
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
        pivoted.select($"o_orderstatus" +:
          prios.map(p => coalesce(col(s"`$p`"), lit(0L)).as(slug(p))): _*)
      },
      Some("""SELECT o_orderstatus,
        COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_not_specified,
        COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        FROM orders GROUP BY o_orderstatus""")),

    // ------------------------------------------------------------------
    // Correlated scalar subquery: lineitems carrying their order's max
    // quantity. Catalyst decorrelates the subquery into an aggregate +
    // equi-join (one shuffle on l_orderkey) — the plan shape that
    // scales; a per-row re-execution semantics would be quadratic.
    Q("rel_correlated_max",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("li_corr")
        s.sql("""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
          FROM li_corr l
          WHERE l.l_quantity = (SELECT MAX(l2.l_quantity)
                                FROM li_corr l2
                                WHERE l2.l_orderkey = l.l_orderkey)""")
      },
      Some("""SELECT l.l_orderkey,
          CAST(l.l_linenumber AS BIGINT) AS l_linenumber, l.l_quantity
        FROM lineitem l
        WHERE l.l_quantity = (SELECT MAX(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_orderkey = l.l_orderkey)""")),

    // ------------------------------------------------------------------
    // Bloom-filter join pruning: build a bloom filter over the dim-side
    // keys (driver-side sketch, broadcast to every task), pre-filter
    // the 100 TB fact side before it reaches the join shuffle, then a
    // broadcast semi join removes the bloom's false positives. At
    // scale this is the shape of Spark's own runtime row-group
    // pruning: the fact scan drops ~non-matching rows at the source
    // for the cost of one broadcast bitmap, instead of shuffling them
    // all into the join. Result is exactly the semi join (bloom has no
    // false negatives), so the oracle is the plain IN form.
    Q("rel_bloom_prune",
      (s, d) => {
        import s.implicits._
        val dim = Tables.customer(s, d)
          .filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey")
        val bloom = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
        val bloomB = s.sparkContext.broadcast(bloom)
        val mightContain = udf((k: Long) => bloomB.value.mightContain(k))
        Tables.orders(s, d)
          .filter(mightContain($"o_custkey"))
          .join(broadcast(dim), $"o_custkey" === $"c_custkey", "left_semi")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
               dsum($"o_totalprice", 2).as("total"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS total
        FROM orders WHERE o_custkey IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus""")),

    // ------------------------------------------------------------------
    // Full outer join: BUILDING-segment customer counts vs high-balance
    // supplier counts per nation — both sides aggregate BEFORE the
    // join (one row per nation each), so the outer join is between two
    // tiny pre-collapsed sides regardless of fact volume; the filters
    // leave ~half the nations one-sided, exercising both null wings.
    Q("rel_outer_nation_balance",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d)
          .filter($"c_mktsegment" === "BUILDING")
          .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
        val supp = Tables.supplier(s, d)
          .filter($"s_acctbal" > 8000.0)
          .groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
        cust.join(supp, $"c_nationkey" === $"s_nationkey", "full_outer")
          .select(
            coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
            coalesce($"n_cust", lit(0L)).as("n_cust"),
            coalesce($"n_supp", lit(0L)).as("n_supp"))
      },
      Some("""SELECT CAST(COALESCE(c_nationkey, s_nationkey) AS BIGINT)
            AS nationkey,
          COALESCE(n_cust, 0) AS n_cust,
          COALESCE(n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
              WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) c
        FULL OUTER JOIN
             (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
              WHERE s_acctbal > 8000.0 GROUP BY s_nationkey) s
          ON c_nationkey = s_nationkey""")),

    // ------------------------------------------------------------------
    // Data profiling: row count, exact distinct cardinalities, and
    // min/max ranges in one aggregate. Multiple exact COUNT(DISTINCT)s
    // plan as one Expand (rows duplicated per distinct column) + one
    // shuffle — acceptable for scheduled profiling; an always-on 100 TB
    // profile should switch to approx_count_distinct (single pass,
    // mergeable HLL — see rel_approx_distinct).
    Q("rel_profile_columns",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
            .select($"l_orderkey", $"l_partkey", $"l_shipdate",
              $"l_quantity", $"l_returnflag").agg(
          count(lit(1)).as("n_rows"),
          countDistinct($"l_orderkey").as("nd_orderkey"),
          countDistinct($"l_partkey").as("nd_partkey"),
          countDistinct($"l_shipdate").as("nd_shipdate"),
          min($"l_shipdate").as("min_shipdate"),
          max($"l_shipdate").as("max_shipdate"),
          min($"l_quantity").as("min_qty"),
          max($"l_quantity").as("max_qty"),
          count(when($"l_returnflag".isNull, 1)).as("null_returnflag"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
        COUNT(DISTINCT l_orderkey) AS nd_orderkey,
        COUNT(DISTINCT l_partkey) AS nd_partkey,
        COUNT(DISTINCT l_shipdate) AS nd_shipdate,
        MIN(l_shipdate) AS min_shipdate,
        MAX(l_shipdate) AS max_shipdate,
        MIN(l_quantity) AS min_qty,
        MAX(l_quantity) AS max_qty,
        COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END) AS null_returnflag
        FROM lineitem""")),

    // ------------------------------------------------------------------
    // Explicit GROUPING SETS — the general form under cube/rollup —
    // with grouping_id disambiguating which set produced each row
    // (a grouped NULL vs. a data NULL). One Expand + one shuffle:
    // rows are duplicated once per grouping set before the partial
    // aggregation, so the shuffle carries |sets| × |groups| partials,
    // not |sets| × row count.
    Q("rel_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("ord_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
            CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
              AS gid,
            COUNT(*) AS n_orders
          FROM ord_gs
          GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                  (o_orderstatus), ())""")
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())""")),

    // ------------------------------------------------------------------
    // SQL-frontend round trip: temp views + the custom aggregate
    // GraftExtensions injects into every session (mode_det, a
    // TypedImperativeAggregate) driven entirely through spark.sql —
    // the surface a SQL-first user of the library sees. Catalyst
    // plans it like the DataFrame form (broadcast dims, partial-agg'd
    // custom buffers); the oracle recomputes the deterministic mode
    // relationally.
    Q("rel_sql_frontend",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_sqlv")
        Tables.customer(s, d).createOrReplaceTempView("customer_sqlv")
        Tables.nation(s, d).createOrReplaceTempView("nation_sqlv")
        s.sql("""WITH cust AS (
            SELECT c_custkey, n_name
            FROM customer_sqlv JOIN nation_sqlv ON c_nationkey = n_nationkey)
          SELECT n_name, COUNT(*) AS n_orders,
                 mode_det(o_orderpriority) AS mode_priority,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
                   AS revenue
          FROM orders_sqlv JOIN cust ON o_custkey = c_custkey
          GROUP BY n_name""")
      },
      Some("""WITH cust AS (
          SELECT c_custkey, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey),
        j AS (SELECT n_name, o_orderpriority, o_totalprice
              FROM orders JOIN cust ON o_custkey = c_custkey),
        pc AS (SELECT n_name, o_orderpriority, COUNT(*) AS n
               FROM j GROUP BY n_name, o_orderpriority),
        md AS (SELECT n_name, o_orderpriority AS mode_priority,
                 ROW_NUMBER() OVER (PARTITION BY n_name
                   ORDER BY n DESC, o_orderpriority ASC) AS rn
               FROM pc)
        SELECT a.n_name, a.n_orders, md.mode_priority, a.revenue
        FROM (SELECT n_name, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
                  AS revenue
              FROM j GROUP BY n_name) a
        JOIN md ON md.n_name = a.n_name AND md.rn = 1""")),

    // ------------------------------------------------------------------
    // SCD type-2 dimension build (gaps-and-islands): collapse each
    // customer's order history into contiguous runs of equal order
    // status, with [valid_from, valid_to) day ranges — the standard
    // change-capture shape a warehouse build emits. One shuffle on
    // custkey; the change-flag window, the run rollup and the
    // valid_to lead all reuse that partitioning. Days as epoch-day
    // integers (no date/timezone ambiguity in the compare); ordering
    // tiebroken by orderkey so runs are deterministic under same-day
    // orders.
    Q("rel_scd2_dimension",
      (s, d) => scd2Dim(s, d),
      Some("""WITH ord AS (
          SELECT o_custkey, o_orderkey, o_orderstatus,
            datediff('day', DATE '1970-01-01', o_orderdate) AS day_num
          FROM orders),
        flagged AS (
          SELECT *, CASE WHEN LAG(o_orderstatus) OVER w IS NULL
                      OR LAG(o_orderstatus) OVER w <> o_orderstatus
                     THEN 1 ELSE 0 END AS chg
          FROM ord
          WINDOW w AS (PARTITION BY o_custkey
                       ORDER BY day_num, o_orderkey)),
        runs0 AS (
          SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
              ORDER BY day_num, o_orderkey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
          FROM flagged),
        runs AS (
          SELECT o_custkey, run_id, MIN(o_orderstatus) AS status,
            MIN(day_num) AS valid_from_day,
            MAX(day_num) AS last_seen_day,
            COUNT(*) AS n_orders
          FROM runs0 GROUP BY o_custkey, run_id)
        SELECT o_custkey, run_id, status, valid_from_day,
          LEAD(valid_from_day) OVER w2 AS valid_to_day,
          last_seen_day, n_orders,
          LEAD(valid_from_day) OVER w2 IS NULL AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY o_custkey ORDER BY run_id)""")),

    // ------------------------------------------------------------------
    // Latest-wins merge upsert (the compaction step of an
    // incremental-ingest table): a change batch (here every 10th
    // order re-priced, version 1) merged into the snapshot
    // (version 0), newest version per key surviving. One shuffle on
    // the key; the per-key pick is a window top-1, which Spark
    // lowers to WindowGroupLimit partial filtering BEFORE the
    // shuffle — no full sort of the union. At 100 TB this is the
    // shape that replaces read-modify-write: both sides stay
    // columnar, nothing collects.
    Q("rel_merge_upsert",
      (s, d) => {
        import s.implicits._
        val snapshot = Tables.orders(s, d)
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus",
            lit(0).as("version"))
        val changes = Tables.orders(s, d)
          .filter($"o_orderkey" % 10 === 0)
          .select($"o_orderkey",
            ($"o_totalprice" * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus"), lit(1).as("version"))
        val w = Window.partitionBy($"o_orderkey").orderBy($"version".desc)
        snapshot.unionByName(changes)
          .withColumn("rk", row_number().over(w))
          .filter($"rk" === 1)
          .select($"o_orderkey", $"o_totalprice", $"o_orderstatus",
            $"version")
      },
      Some("""WITH unioned AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus, 0 AS version
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
            'U' AS o_orderstatus, 1 AS version
          FROM orders WHERE o_orderkey % 10 = 0)
        SELECT o_orderkey, o_totalprice, o_orderstatus,
          CAST(version AS BIGINT) AS version FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
            ORDER BY version DESC) AS rk
          FROM unioned) t
        WHERE rk = 1""")),

    // ------------------------------------------------------------------
    // Key-skew profile — the diagnosis step before choosing a join
    // strategy (salt? broadcast? AQE skew split?): per-key counts
    // collapsed map-side, then one-row summary with max/median/share
    // concentration measures. Exact integer counts; the two ratios
    // are single IEEE divisions; the median is the interpolated
    // exact percentile both engines define identically. At 100 TB
    // the per-key rollup is the same scan a shuffle would do anyway
    // — run it once, cache the histogram, size the salt from it.
    Q("rel_data_skew_profile",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupBy($"l_suppkey").agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"),
               sum($"c").as("total_rows"),
               max($"c").as("max_c"),
               min($"c").as("min_c"),
               percentile($"c", lit(0.5)).as("median_c"))
          .select($"n_keys", $"total_rows", $"max_c", $"min_c", $"median_c",
            ($"max_c".cast("double") / $"total_rows".cast("double"))
              .as("top_key_share"),
            ($"max_c".cast("double") / $"median_c").as("skew_ratio"))
      },
      Some("""WITH per AS (
          SELECT l_suppkey, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey)
        SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS total_rows,
          MAX(c) AS max_c,
          MIN(c) AS min_c, quantile_cont(c, 0.5) AS median_c,
          CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_key_share,
          CAST(MAX(c) AS DOUBLE) / quantile_cont(c, 0.5) AS skew_ratio
        FROM per""")),

    // ------------------------------------------------------------------
    // Correlated EXISTS / NOT EXISTS through the SQL frontend —
    // Catalyst's RewritePredicateSubquery turns them into a left-semi
    // and a left-anti join (PlanSpec pins both): big customers with at
    // least one 300k+ order but no finalized 450k+ order. The
    // subquery form is what SQL users write; the engine must plan it
    // as joins, never per-row subquery execution.
    Q("rel_exists_sql",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_exv")
        Tables.orders(s, d).createOrReplaceTempView("orders_exv")
        s.sql("""SELECT c_custkey, c_name FROM customer_exv c
          WHERE EXISTS (
              SELECT 1 FROM orders_exv o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
            AND NOT EXISTS (
              SELECT 1 FROM orders_exv o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F' AND o.o_totalprice > 450000)""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'F' AND o.o_totalprice > 450000)""")),

    // ------------------------------------------------------------------
    // Correlated LATERAL subquery with ORDER BY + LIMIT — top-3
    // customers by balance per nation, written the way a SQL user
    // writes per-group top-k. Catalyst decorrelates the limited
    // lateral into a window/join plan; per-row subquery execution
    // never happens. Total order inside the lateral (balance desc,
    // custkey) so both engines pick identical survivors.
    Q("rel_lateral_topk",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_latv")
        Tables.nation(s, d).createOrReplaceTempView("nation_latv")
        s.sql("""SELECT n_name, t.c_custkey, t.c_name, t.c_acctbal
          FROM nation_latv n,
          LATERAL (SELECT c_custkey, c_name, c_acctbal FROM customer_latv c
                   WHERE c.c_nationkey = n.n_nationkey
                   ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t""")
      },
      Some("""SELECT n_name, t.c_custkey, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_custkey, c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t""")),

    // ------------------------------------------------------------------
    // Recursive CTE (Spark 4 WITH RECURSIVE): ancestor chain over a
    // synthetic binary-tree hierarchy (parent(k) = k div 2 over
    // supplier keys, root 0) — the org-chart / BOM-explosion shape.
    // Each iteration is one self-union step the engine re-plans;
    // depth is bounded by log₂(max key), so the recursion terminates
    // in ~⌈log₂ n⌉ rounds regardless of table size — the same
    // doubling bound as dedup_cc's pointer jumping.
    Q("rel_recursive_closure",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier_recv")
        s.sql("""WITH RECURSIVE anc(node, anc_node, depth) AS (
            SELECT s_suppkey AS node, s_suppkey div 2 AS anc_node,
                   1 AS depth
            FROM supplier_recv WHERE s_suppkey > 0
            UNION ALL
            SELECT node, anc_node div 2, depth + 1
            FROM anc WHERE anc_node > 0)
          SELECT node, MAX(depth) AS depth_to_root,
                 COUNT(*) AS n_ancestors
          FROM anc GROUP BY node""")
      },
      Some("""WITH RECURSIVE anc(node, anc_node, depth) AS (
          SELECT s_suppkey AS node, s_suppkey // 2 AS anc_node, 1 AS depth
          FROM supplier WHERE s_suppkey > 0
          UNION ALL
          SELECT node, anc_node // 2, depth + 1
          FROM anc WHERE anc_node > 0)
        SELECT node, CAST(MAX(depth) AS BIGINT) AS depth_to_root,
          COUNT(*) AS n_ancestors
        FROM anc GROUP BY node""")),

    // ------------------------------------------------------------------
    // Pearson correlation from exact ingredients: built-in corr()
    // merges co-moments incrementally, so its low-order bits depend
    // on partial-agg order — not oracle-comparable. Instead the six
    // sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    // decimal sums (associative), and corr is ONE fixed IEEE formula
    // over them, written identically in both engines — the
    // ev_ab_ttest pattern applied to covariance.
    //
    // Oracle subtlety: DuckDB's direct DECIMAL→DOUBLE cast is not
    // correctly rounded at wide magnitudes (observed 1 ulp off for a
    // 17-significant-digit DECIMAL(38,4), vs Spark's exact
    // BigDecimal.doubleValue) — the oracle therefore converts through
    // VARCHAR, whose strtod parse IS correctly rounded, making both
    // engines' formula inputs bit-identical.
    Q("rel_corr_manual",
      (s, d) => {
        import s.implicits._
        def dbl(c: Column) = c.cast("double")
        val dec = DecimalType(27, 4)
        val agg = Tables.lineitem(s, d)
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity".cast(dec)).as("sx"),
            sum($"l_extendedprice".cast(dec)).as("sy"),
            sum(($"l_quantity" * $"l_extendedprice").cast(dec)).as("sxy"),
            sum(($"l_quantity" * $"l_quantity").cast(dec)).as("sxx"),
            sum(($"l_extendedprice" * $"l_extendedprice").cast(dec)).as("syy"))
        agg.select($"l_returnflag", $"n",
          ((dbl($"n") * dbl($"sxy") - dbl($"sx") * dbl($"sy")) /
           (sqrt(dbl($"n") * dbl($"sxx") - dbl($"sx") * dbl($"sx")) *
            sqrt(dbl($"n") * dbl($"syy") - dbl($"sy") * dbl($"sy"))))
            .as("corr_qty_price"))
      },
      Some("""WITH agg AS (
          SELECT l_returnflag, COUNT(*) AS n,
            SUM(CAST(l_quantity AS DECIMAL(27,4))) AS sx,
            SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS sy,
            SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(27,4))) AS sxy,
            SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,4))) AS sxx,
            SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(27,4)))
              AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
             - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
               * CAST(CAST(sy AS VARCHAR) AS DOUBLE)) /
          (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
             - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
               * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) *
           sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
             - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
               * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
            AS corr_qty_price
        FROM agg"""))
  )

  /** Second page (keeps the Seq literal under codegen size limits). */
  val all2: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Mergeable-sketch distinct rollup: per-month HLL sketches of the
    // ordering customers, UNIONED up to per-year estimates — the
    // incremental-distinct pattern a 100 TB warehouse runs (daily
    // sketch partials persisted once, any coarser rollup or ad-hoc
    // range union is sketch-merge work, never a rescan of history;
    // exact distincts cannot be merged this way). DataSketches HLL via
    // Spark's hll_sketch_agg/hll_union_agg. Raw estimates are
    // engine-specific, so the EXPORT is the accuracy eval (the
    // rel_approx_distinct pattern): exact per-year distincts
    // (DuckDB-recomputable) plus within-5% bounds for BOTH the
    // month-union path and the direct year sketch. (Union and direct
    // estimates are close but NOT bit-identical — the union pass
    // through HllUnion re-buckets — so the eval bounds each path
    // against exact truth rather than asserting a false identity;
    // sf0.001 happened to collide, sf0.01 does not.)
    Q("rel_hll_rollup",
      (s, d) => {
        import s.implicits._
        val merged = Tables.orders(s, d)
          .groupBy(date_trunc("month", $"o_orderdate").as("month"))
          .agg(hll_sketch_agg($"o_custkey").as("sk"),
            count(lit(1)).as("n_orders"))
          .groupBy(year($"month").as("o_year"))
          .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"),
            sum($"n_orders").as("n_orders"))
        val direct = Tables.orders(s, d)
          .groupBy(year($"o_orderdate").as("o_year"))
          .agg(hll_sketch_estimate(hll_sketch_agg($"o_custkey"))
              .as("direct_est"),
            countDistinct($"o_custkey").as("n_exact_customers"))
        merged.join(direct, Seq("o_year"))
          .select($"o_year", $"n_orders", $"n_exact_customers",
            (abs($"est" - $"n_exact_customers").cast("double") /
              $"n_exact_customers" <= 0.05).as("est_within_5pct"),
            (abs($"direct_est" - $"n_exact_customers").cast("double") /
              $"n_exact_customers" <= 0.05).as("direct_within_5pct"))
          .orderBy($"o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          COUNT(*) AS n_orders,
          COUNT(DISTINCT o_custkey) AS n_exact_customers,
          TRUE AS est_within_5pct, TRUE AS direct_within_5pct
        FROM orders GROUP BY 1 ORDER BY o_year"""))
  )

  val all3: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Equal-frequency discretization: exact price deciles with a full
    // (price, orderkey, linenumber) tiebreak — bucket membership is a
    // total-order property, so both engines agree row-for-row
    // (standard SQL ntile puts the remainder rows in the earlier
    // buckets). This is the EXACT binning form, and it runs through
    // [[Ranking.exactNtile]]: a distributed range-partitioned sort +
    // offset ranking instead of `ntile() over (order by ...)`, whose
    // single WindowExec partition single-threads the whole table —
    // the one formulation of exact global binning that survives 10⁹+
    // rows. The always-on companion at 100 TB is
    // rel_approx_percentiles' mergeable sketch; this one is for when
    // bin edges must be exact.
    Q("rel_price_deciles",
      (s, d) => {
        import s.implicits._
        Ranking.exactNtile(
            Tables.lineitem(s, d)
              .select($"l_extendedprice", $"l_orderkey", $"l_linenumber"),
            10,
            Seq($"l_extendedprice", $"l_orderkey", $"l_linenumber"),
            out = "decile")
          .groupBy($"decile")
          .agg(count(lit(1)).as("n"),
            min($"l_extendedprice").as("lo"),
            max($"l_extendedprice").as("hi"))
      },
      Some("""SELECT decile, COUNT(*) AS n,
          MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        FROM (SELECT l_extendedprice,
                NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                                l_linenumber) AS decile
              FROM lineitem) x
        GROUP BY decile""")),

    // ------------------------------------------------------------------
    // Weighted median: per return flag, the price at which cumulative
    // QUANTITY reaches half the group's total — the inventory-
    // weighted "typical price". No arithmetic touches the price
    // (it is selected, not computed) and the half-total test is
    // integer (2·cum >= total on long quantities), so the result is
    // bit-exact. One partitioned window for the running weight, one
    // min-row pick per group via a rank filter.
    Q("rel_weighted_median",
      (s, d) => weightedMedianFrame(Tables.lineitem(s, d),
        distributed = Regimes.big(s, Regimes.PrefixSum,
          Tables.rowCount(s, d, "lineitem"))),
      Some("""WITH base AS (
          SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
            CAST(l_quantity AS BIGINT) AS q,
            SUM(CAST(l_quantity AS BIGINT)) OVER (
              PARTITION BY l_returnflag
              ORDER BY l_extendedprice, l_orderkey, l_linenumber
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumq,
            CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
              PARTITION BY l_returnflag) AS BIGINT) AS totq
          FROM lineitem),
        hit AS (
          SELECT l_returnflag, totq, l_extendedprice,
            ROW_NUMBER() OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk
          FROM base WHERE cumq * 2 >= totq)
        SELECT l_returnflag, totq AS total_qty,
          l_extendedprice AS weighted_median_price
        FROM hit WHERE rk = 1"""))
  ,
    // ------------------------------------------------------------------
    // Skyline / Pareto frontier (minimize price, maximize size): a
    // part is on the frontier iff nothing is both cheaper-or-equal
    // and larger (with one strict). Two-step exact form: collapse to
    // the max size per distinct price (tie groups keep their best),
    // then a running-max-of-size window over ascending price keeps a
    // point iff it beats every strictly-cheaper point. The frontier
    // window rides the per-price collapsed table; if the price
    // domain were near-unique at 100 TB, the transitive dominance
    // property allows a per-partition local frontier pre-filter
    // before this global pass (local non-dominated ⊇ global
    // frontier) — the standard two-level skyline.
    Q("rel_pareto_frontier",
      (s, d) => {
        import s.implicits._
        Skyline.paretoFrontier(
          Tables.part(s, d)
            .groupBy($"p_retailprice".as("price"), $"p_size".as("size"))
            .agg(count(lit(1)).as("n_parts")))
      },
      Some("""WITH ps AS (
          SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
            COUNT(*) AS n_parts
          FROM part GROUP BY 1, 2),
        top AS (
          SELECT price, size, n_parts,
            ROW_NUMBER() OVER (PARTITION BY price ORDER BY size DESC) AS rk
          FROM ps),
        flagged AS (
          SELECT price, size, n_parts,
            MAX(size) OVER (ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
          FROM top WHERE rk = 1)
        SELECT price, size, n_parts FROM flagged
        WHERE m IS NULL OR size > m"""))
  ,
    // ------------------------------------------------------------------
    // Month-over-month rank movers: nations ranked by monthly order
    // revenue, each carrying its previous-month rank and the delta —
    // the "movers report" over two stacked windows (rank within
    // month, lag along each nation's month series) that both ride
    // the tiny month×nation rollup. Revenue is an exact decimal sum
    // exported double; rank ties are impossible by construction
    // (nation is unique within a month and is the tiebreak).
    Q("rel_rank_movers",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val wMonth = W.partitionBy($"month")
          .orderBy($"revenue".desc, $"nation")
        val wNation = W.partitionBy($"nation").orderBy($"month")
        Tables.orders(s, d)
          .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
          .join(Tables.nation(s, d), $"c_nationkey" === $"n_nationkey")
          .groupBy(date_trunc("month", $"o_orderdate").as("month"),
            $"n_name".as("nation"))
          .agg(dsum($"o_totalprice", 2).as("revenue"))
          .withColumn("rnk", rank().over(wMonth).cast("long"))
          .withColumn("prev_rnk", lag($"rnk", 1).over(wNation))
          .withColumn("moved", $"prev_rnk" - $"rnk")
      },
      Some("""WITH rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
            n_name AS nation,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
              AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        ranked AS (
          SELECT month, nation, revenue,
            RANK() OVER (PARTITION BY month
              ORDER BY revenue DESC, nation) AS rnk
          FROM rev)
        SELECT month, nation, revenue, rnk,
          LAG(rnk) OVER (PARTITION BY nation ORDER BY month) AS prev_rnk,
          LAG(rnk) OVER (PARTITION BY nation ORDER BY month) - rnk AS moved
        FROM ranked"""))
  ,
    // ------------------------------------------------------------------
    // Distribution-window semantics pin: percent_rank, cume_dist,
    // nth_value and ntile stacked over ONE totally-ordered window —
    // the window functions engines historically disagree on (default
    // frames, tie handling). The full (qty, orderkey, linenumber)
    // tiebreak makes rank = row_number, so percent_rank/cume_dist
    // divide exact small integers (one IEEE division each, bit-
    // identical) and nth_value's running frame is row-deterministic;
    // the price is selected, never computed. One exchange + sort.
    Q("rel_window_semantics",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val ord = W.partitionBy($"l_returnflag")
          .orderBy($"l_quantity", $"l_orderkey", $"l_linenumber")
        val frame = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        Tables.lineitem(s, d)
          .filter($"l_orderkey" % 10 === 0)
          .select($"l_returnflag", $"l_quantity", $"l_orderkey",
            $"l_linenumber", $"l_extendedprice")
          .withColumn("pr", percent_rank().over(ord))
          .withColumn("cd", cume_dist().over(ord))
          .withColumn("nth3", nth_value($"l_extendedprice", 3).over(frame))
          .withColumn("quartile", ntile(4).over(ord))
      },
      Some("""SELECT l_returnflag, l_quantity, l_orderkey,
          CAST(l_linenumber AS BIGINT) AS l_linenumber,
          l_extendedprice,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd,
          nth_value(l_extendedprice, 3) OVER (w ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW) AS nth3,
          ntile(4) OVER w AS quartile
        FROM lineitem WHERE l_orderkey % 10 = 0
        WINDOW w AS (PARTITION BY l_returnflag
          ORDER BY l_quantity, l_orderkey, l_linenumber)""")),

    // ------------------------------------------------------------------
    // Customer-value decile lift table: rank customers by lifetime
    // spend, cut into ntile(10) deciles, report each decile's
    // revenue share and cumulative share — the "top decile drives
    // X% of revenue" concentration report. Spend is an exact
    // decimal sum; ntile orders by (spend DESC, custkey), a total
    // order, so bucket assignment is deterministic. Shares are
    // single divisions of decimal-exact numerators/denominators
    // (magnitudes ≪ the 17-sig-digit decimal→double caveat). The
    // ntile window is whole-table — fine for customer-sized frames;
    // at 10⁹+ customers the same buckets come from
    // Ranking.exactNtile's distributed sort. The 10-row decile frame
    // then carries cumulative/total windows for free.
    Q("rel_decile_lift",
      (s, d) => {
        import s.implicits._
        val spend = Tables.orders(s, d)
          .groupBy($"o_custkey")
          .agg(sum($"o_totalprice".cast(DecimalType(27, 2))).as("spend"))
        // Scale switch (see ev_rfm_segments): the global ntile(10)
        // window single-threads the per-customer frame; past the
        // threshold Ranking.exactNtile cuts the same buckets.
        val bigFrame = Regimes.big(s, Regimes.GlobalNtile,
          Tables.rowCount(s, d, "orders"))
        val bucketed =
          if (!bigFrame) {
            // small-regime branch only (WindowAuditSpec allowlist)
            val wN = Window.orderBy($"spend".desc, $"o_custkey")
            spend.withColumn("decile", ntile(10).over(wN).cast("long"))
          } else {
            Ranking.exactNtile(spend, 10, Seq($"spend".desc, $"o_custkey"),
              "decile")
          }
        val deciles = bucketed
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_customers"), sum($"spend").as("rev"))
        val wCum = Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        deciles
          .withColumn("cum_rev", sum($"rev").over(wCum))
          .withColumn("tot_rev", sum($"rev").over(wTot))
          .select($"decile", $"n_customers",
            $"rev".cast("double").as("decile_rev"),
            ($"rev".cast("double") / $"tot_rev".cast("double"))
              .as("rev_share"),
            ($"cum_rev".cast("double") / $"tot_rev".cast("double"))
              .as("cum_share"))
      },
      Some("""WITH spend AS (
          SELECT o_custkey,
            SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS spend
          FROM orders GROUP BY o_custkey),
        deciles AS (
          SELECT decile, COUNT(*) AS n_customers, SUM(spend) AS rev
          FROM (SELECT spend,
                  NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
                FROM spend) x
          GROUP BY decile),
        framed AS (
          SELECT decile, n_customers, rev,
            SUM(rev) OVER (ORDER BY decile) AS cum_rev,
            SUM(rev) OVER () AS tot_rev
          FROM deciles)
        SELECT decile, n_customers,
          CAST(rev AS DOUBLE) AS decile_rev,
          CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) AS rev_share,
          CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) AS cum_share
        FROM framed""")),

    // ------------------------------------------------------------------
    // k-anonymity / l-diversity audit — the privacy gate a dataset
    // passes before external release: every quasi-identifier
    // equivalence class (nation × market segment) with its class
    // size (k), the number of distinct sensitive-value buckets it
    // contains (l — balances bucketed to hundreds), and the k≥5
    // verdict. A failing class re-identifies its members by the
    // public attributes alone; low l leaks the sensitive value even
    // at good k. ONE aggregation over one scan — the same rollup
    // shape at any table size — with the two-phase countDistinct
    // keeping the exchange deduplicated. Bucketing is floor() over a
    // stored double: identical IEEE in both engines.
    Q("rel_k_anonymity",
      (s, d) => {
        import s.implicits._
        Tables.customer(s, d)
          .groupBy($"c_nationkey".cast("long").as("nationkey"),
            $"c_mktsegment".as("mktsegment"))
          .agg(count(lit(1)).as("class_size"),
            countDistinct(floor($"c_acctbal" / 100.0).cast("long"))
              .as("l_diversity"))
          .withColumn("k_anonymous", $"class_size" >= 5)
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
          c_mktsegment AS mktsegment,
          COUNT(*) AS class_size,
          COUNT(DISTINCT CAST(floor(c_acctbal / 100.0) AS BIGINT))
            AS l_diversity,
          COUNT(*) >= 5 AS k_anonymous
        FROM customer
        GROUP BY c_nationkey, c_mktsegment""")),

    // ------------------------------------------------------------------
    // Chi-square independence test between two categoricals (nation
    // × market segment) — the association screen beside the Welch
    // t-test (ev_ab_ttest) and Pearson correlation (rel_corr_manual):
    // "is segment mix independent of nation". The textbook
    // Σ(o−e)²/e sums IEEE terms in engine-dependent order; here each
    // cell contributes the exact integer (o·n − r·c)²·1000 div
    // (r·c·n) — milli-units with one floor per cell — and the sum is
    // integer-associative, so the statistic is bit-identical under
    // any partial-agg order and in DuckDB. The squared numerator is
    // computed in 128-bit exact arithmetic (Spark DECIMAL(38,0),
    // DuckDB HUGEINT — both truncate division toward zero on these
    // positive values): |o·n − r·c| ≤ n², so the int64 form would
    // overflow past n ≈ 10⁴ while the 128-bit form holds to
    // n⁴·1000 < 10³⁸ ⇒ n ≲ 5.6·10⁸ rows — past any plausible
    // contingency input (beyond it, rescale d by 10^k before
    // squaring, trading k digits of the milli-statistic).
    // Chi2BoundarySpec pins exactness at n=2·10⁶, ~100× the int64
    // breaking point. One scan → cell counts; margins from two
    // rollups of the cell table (never a rescan), joined back
    // broadcast.
    Q("rel_chi2_independence",
      (s, d) => {
        import s.implicits._
        val cells = Tables.customer(s, d)
          .groupBy($"c_nationkey".cast("long").as("nk"), $"c_mktsegment")
          .agg(count(lit(1)).as("o"))
        val rowM = cells.groupBy($"nk").agg(sum($"o").as("r"))
        val colM = cells.groupBy($"c_mktsegment").agg(sum($"o").as("c"))
        val tot = cells.agg(sum($"o").as("n"),
          countDistinct($"nk").as("nr"),
          countDistinct($"c_mktsegment").as("nc"))
        cells
          .join(broadcast(rowM), "nk")
          .join(broadcast(colM), "c_mktsegment")
          .crossJoin(broadcast(tot))
          .withColumn("term_milli", expr(chi2TermMilliSql))
          .agg(min($"n").as("n"),
            min(expr("(nr - 1) * (nc - 1)")).as("dof"),
            sum($"term_milli").as("chi2_milli"))
      },
      Some("""WITH cells AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment,
            COUNT(*) AS o
          FROM customer GROUP BY 1, 2),
        rm AS (SELECT nk, CAST(SUM(o) AS BIGINT) AS r FROM cells
               GROUP BY nk),
        cm AS (SELECT c_mktsegment, CAST(SUM(o) AS BIGINT) AS c
               FROM cells GROUP BY c_mktsegment),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                  COUNT(DISTINCT nk) AS nr,
                  COUNT(DISTINCT c_mktsegment) AS nc
                FROM cells)
        SELECT MIN(n) AS n,
          MIN((nr - 1) * (nc - 1)) AS dof,
          CAST(SUM((CAST(o * n - r * c AS HUGEINT)
              * (o * n - r * c) * 1000)
            // (CAST(r AS HUGEINT) * c * n)) AS BIGINT) AS chi2_milli
        FROM cells
        JOIN rm USING (nk)
        JOIN cm USING (c_mktsegment)
        CROSS JOIN tot""")),

    // ------------------------------------------------------------------
    // IQR-fence outlier screen — completing the robust-outlier trio
    // beside rel_median_abs_deviation and rel_winsorized_stats: per
    // return flag, Tukey fences at Q1/Q3 ± 1.5·IQR over order
    // quantities, with the quartiles taken by percentile_disc
    // (STORED values — the zero-IEEE-caveat percentile) and the
    // fence comparison done in integer-exact arithmetic
    // (4·x ⋛ 4·q ± 6·iqr avoids the 1.5 multiplier's float). Two
    // passes sharing the flag partitioning: quartiles from one
    // aggregation, outlier counts from a broadcast join back.
    Q("rel_outlier_iqr",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_returnflag",
            floor($"l_quantity" * 4).cast("long").as("q4"))
          .createOrReplaceTempView("li_q4")
        s.sql("""
          WITH quartiles AS (
            SELECT l_returnflag,
              percentile_disc(0.25) WITHIN GROUP (ORDER BY q4) AS q1_4,
              percentile_disc(0.75) WITHIN GROUP (ORDER BY q4) AS q3_4
            FROM li_q4 GROUP BY l_returnflag)
          SELECT t.l_returnflag,
            CAST(q.q1_4 / 4.0 AS DOUBLE) AS q1,
            CAST(q.q3_4 / 4.0 AS DOUBLE) AS q3,
            COUNT(*) AS n_rows,
            COUNT(CASE WHEN 4 * t.q4 < 4 * q.q1_4 - 6 * (q.q3_4 - q.q1_4)
                       THEN 1 END) AS n_low,
            COUNT(CASE WHEN 4 * t.q4 > 4 * q.q3_4 + 6 * (q.q3_4 - q.q1_4)
                       THEN 1 END) AS n_high
          FROM li_q4 t JOIN quartiles q ON t.l_returnflag = q.l_returnflag
          GROUP BY t.l_returnflag, q.q1_4, q.q3_4""")
      },
      Some("""WITH li AS (
          SELECT l_returnflag,
            CAST(l_quantity * 4 AS BIGINT) AS q4
          FROM lineitem),
        quartiles AS (
          SELECT l_returnflag,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY q4) AS q1_4,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY q4) AS q3_4
          FROM li GROUP BY l_returnflag)
        SELECT t.l_returnflag,
          CAST(q.q1_4 / 4.0 AS DOUBLE) AS q1,
          CAST(q.q3_4 / 4.0 AS DOUBLE) AS q3,
          COUNT(*) AS n_rows,
          COUNT(CASE WHEN 4 * t.q4 < 4 * q.q1_4 - 6 * (q.q3_4 - q.q1_4)
                     THEN 1 END) AS n_low,
          COUNT(CASE WHEN 4 * t.q4 > 4 * q.q3_4 + 6 * (q.q3_4 - q.q1_4)
                     THEN 1 END) AS n_high
        FROM li t JOIN quartiles q ON t.l_returnflag = q.l_returnflag
        GROUP BY t.l_returnflag, q.q1_4, q.q3_4""")),

    // ------------------------------------------------------------------
    // Point-in-time (as-of) dimension lookup — the query side of the
    // SCD2 build: for a set of probe days, the status mix of the
    // customer base AS OF each day, read from the versioned
    // dimension's [valid_from, valid_to) intervals. This is the
    // time-travel read every SCD2 consumer runs (what did the world
    // look like on day D), and the plan shape matters: the probe set
    // is tiny and broadcasts against the dimension's interval table
    // (a nested-loop by necessity — no equi key — but the broadcast
    // side is |probes| rows, so the scan cost is |dim|·|probes|,
    // never a shuffle); rows active at a probe collapse to a
    // |probes|×|statuses| rollup. Reuses the scd2Dim operator
    // verbatim — build and lookup pinned to the same run table.
    Q("rel_scd2_lookup",
      (s, d) => {
        import s.implicits._
        val probes = s.range(9200, 10900, 200)
          .select($"id".as("probe_day"))
        scd2Dim(s, d)
          .join(broadcast(probes),
            $"valid_from_day" <= $"probe_day" &&
            ($"valid_to_day".isNull || $"probe_day" < $"valid_to_day"))
          .groupBy($"probe_day", $"status")
          .agg(count(lit(1)).as("n_customers"),
            sum($"n_orders").as("n_orders_in_run"))
      },
      Some(s"""WITH $scd2Sql,
        probes AS (
          SELECT unnest(generate_series(9200, 10899, 200)) AS probe_day)
        SELECT p.probe_day, dim.status, COUNT(*) AS n_customers,
          CAST(SUM(dim.n_orders) AS BIGINT) AS n_orders_in_run
        FROM dim JOIN probes p
          ON dim.valid_from_day <= p.probe_day
         AND (dim.valid_to_day IS NULL OR p.probe_day < dim.valid_to_day)
        GROUP BY p.probe_day, dim.status""")),

    // ------------------------------------------------------------------
    // GROUPING markers on a rollup — the OLAP-semantics corner
    // rel_rollup_qty/rel_cube_status leave untested: a consumer of a
    // rollup cannot tell a NULL produced by aggregation from a NULL
    // in the data without GROUPING()/GROUPING_ID(), so the marker
    // columns are part of the contract. Bit order (leftmost group
    // column = most significant bit) is the SQL standard both
    // engines implement; pinned here cross-engine.
    Q("rel_grouping_id",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .rollup($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            grouping_id().cast("long").as("gid"),
            grouping($"o_orderstatus").cast("long").as("g_status"),
            grouping($"o_orderpriority").cast("long").as("g_priority"))
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
          CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    // ------------------------------------------------------------------
    // Bounded version retention (keep-last-N compaction) — the
    // time-travel retention policy between rel_merge_upsert's
    // keep-1 and keeping everything: a three-version change history
    // per order key compacted to its 2 newest versions. The per-key
    // pick is a window top-N, which Spark lowers to WindowGroupLimit
    // partial filtering BEFORE the exchange — each map task forwards
    // at most N rows per key, so the shuffle carries ≤ N·|keys| rows
    // whatever the history depth: the property that makes retention
    // compaction affordable on a 100 TB versioned table.
    Q("rel_keep_last_n",
      (s, d) => {
        import s.implicits._
        def version(v: Int, filt: Column, price: Column): DataFrame =
          Tables.orders(s, d).filter(filt)
            .select($"o_orderkey", price.as("o_totalprice"),
              lit(v.toLong).as("version"))
        val history = version(0, lit(true), $"o_totalprice")
          .unionByName(version(1, $"o_orderkey" % 10 === 0,
            $"o_totalprice" * 2))
          .unionByName(version(2, $"o_orderkey" % 20 === 0,
            $"o_totalprice" * 3))
        val w = Window.partitionBy($"o_orderkey")
          .orderBy($"version".desc)
        history
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 2)
          .select($"o_orderkey", $"version", $"o_totalprice")
      },
      Some("""WITH history AS (
          SELECT o_orderkey, o_totalprice, CAST(0 AS BIGINT) AS version
          FROM orders
          UNION ALL
          SELECT o_orderkey, o_totalprice * 2, 1 FROM orders
          WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, o_totalprice * 3, 2 FROM orders
          WHERE o_orderkey % 20 = 0)
        SELECT o_orderkey, version, o_totalprice FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
            ORDER BY version DESC) AS rk
          FROM history) t
        WHERE rk <= 2"""))
  )
}
