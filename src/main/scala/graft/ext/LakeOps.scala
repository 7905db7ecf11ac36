package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}

/** Round-5 layout-and-planning wave: the table-maintenance and
  * experiment-planning operators that run BESIDE the query families —
  *
  *   - `rel_compaction_plan`: small-file bin-packing (the OPTIMIZE /
  *     compaction planner every parquet lake runs: files under
  *     minFileSize are grouped per partition into targetSize
  *     compaction groups; files at or above minFileSize are left in
  *     place);
  *   - `rel_zorder_layout`: Morton (Z-order) interleave of two join /
  *     filter dimensions into one clustering key — the multi-column
  *     data-layout that turns 2-D predicates into contiguous file
  *     ranges, with the bounded-rectangle property the spec pins;
  *   - `ev_power_analysis`: the pre-experiment sample-size calculator
  *     (alpha 0.05 two-sided, power 0.8) from exact per-user moment
  *     sums — read BEFORE ev_srm_check and ev_ab_ttest ever run.
  *
  * Determinism contract (the family-wide rule): every exported number
  * is an integer produced by associative integer/decimal sums and
  * `div`; no IEEE double is exported.
  */
object LakeOps {

  /** Morton interleave of the low 10 bits of two non-negative longs,
    * written with `%` and integer division only — the arithmetic
    * subset Spark (`div`) and DuckDB (`//`) evaluate identically on
    * non-negative values, so ONE generated formula serves both the
    * Column expression and the oracle SQL. Bit i of x lands at z-bit
    * 2i, bit i of y at 2i+1. */
  private def mortonSql(x: String, y: String, divOp: String): String =
    (0 until 10).map { i =>
      val p = 1L << i
      s"(($x $divOp $p) % 2) * ${1L << (2 * i)}" +
        s" + (($y $divOp $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Compaction planning (Delta/Iceberg OPTIMIZE shape): the file
    // inventory is modeled as one "file" per (ship-month partition,
    // 512-wide orderkey range) — n_rows rows at 4096 bytes/row.
    // Files under minFileSize = 16 KiB are packed, in file_seq order
    // within their partition, into targetSize = 64 KiB compaction
    // groups via the exclusive-running-sum device (txt_pack_batches /
    // mm_modality_pack); files at or above minFileSize keep a
    // singleton group (-(file_seq+1) — disjoint from packed ids by
    // sign). The shuffle carries ONE ROW PER FILE, never file
    // contents — the property that makes the planner itself a
    // metadata-scale job at 100 TB (the rewrite it plans is the
    // expensive part, and each group is an independent task). The
    // window partitions by month, so no global ordering exists.
    Q("rel_compaction_plan",
      (s, d) => {
        import s.implicits._
        val files = Tables.lineitem(s, d)
          .groupBy(date_trunc("month", $"l_shipdate").as("part_month"),
            expr("l_orderkey div 512").as("file_seq"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("bytes", $"n_rows" * 4096L)
        val w = Window.partitionBy($"part_month").orderBy($"file_seq")
        val small = files.filter($"bytes" < 16384L)
          .withColumn("cx", sum($"bytes").over(w) - $"bytes")
          .select($"part_month", $"file_seq", $"n_rows", $"bytes",
            lit(1L).as("is_small"), expr("cx div 65536").as("group_id"))
        val large = files.filter($"bytes" >= 16384L)
          .select($"part_month", $"file_seq", $"n_rows", $"bytes",
            lit(0L).as("is_small"), (-$"file_seq" - 1L).as("group_id"))
        small.unionByName(large)
      },
      Some("""WITH files AS (
          SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
              AS part_month,
            l_orderkey // 512 AS file_seq,
            COUNT(*) AS n_rows, COUNT(*) * 4096 AS bytes
          FROM lineitem GROUP BY 1, 2),
        small AS (
          SELECT part_month, file_seq, n_rows, bytes,
            CAST(1 AS BIGINT) AS is_small,
            CAST((SUM(bytes) OVER (PARTITION BY part_month
                ORDER BY file_seq) - bytes) // 65536 AS BIGINT)
              AS group_id
          FROM files WHERE bytes < 16384),
        large AS (
          SELECT part_month, file_seq, n_rows, bytes,
            CAST(0 AS BIGINT) AS is_small,
            -file_seq - 1 AS group_id
          FROM files WHERE bytes >= 16384)
        SELECT * FROM small UNION ALL SELECT * FROM large""")),

    // ------------------------------------------------------------------
    // Z-order layout audit: each row's (l_partkey % 1024,
    // l_suppkey % 1024) pair is interleaved into a 20-bit Morton key
    // and bucketed by its high 8 bits (z div 4096) — the clustering
    // key a 2-D-filtered table is rewritten under so that a predicate
    // on EITHER dimension prunes contiguous buckets. The output is
    // the per-bucket bounding rectangle: by construction a bucket
    // spans at most a 64-aligned 64×64 square (low 6 bits of each
    // dimension vary, high bits are fixed), which the spec pins —
    // that bounded-span property IS the pruning guarantee. One scan,
    // one aggregation, everything integer; the Morton formula is
    // generated once and evaluated identically by both engines.
    Q("rel_zorder_layout",
      (s, d) => {
        import s.implicits._
        val z = mortonSql("x", "y", "div")
        Tables.lineitem(s, d)
          .select(($"l_partkey" % 1024L).as("x"),
            ($"l_suppkey" % 1024L).as("y"))
          .withColumn("zbucket", expr(s"$z div 4096"))
          .groupBy($"zbucket")
          .agg(count(lit(1)).as("n_rows"),
            min($"x").as("min_x"), max($"x").as("max_x"),
            min($"y").as("min_y"), max($"y").as("max_y"))
      },
      Some(s"""WITH pts AS (
          SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
          FROM lineitem),
        keyed AS (
          SELECT x, y, ${mortonSql("x", "y", "//")} // 4096 AS zbucket
          FROM pts)
        SELECT zbucket, COUNT(*) AS n_rows,
          MIN(x) AS min_x, MAX(x) AS max_x,
          MIN(y) AS min_y, MAX(y) AS max_y
        FROM keyed GROUP BY zbucket""")),

    // ------------------------------------------------------------------
    // Pre-experiment power analysis: per event type, the per-arm
    // sample size needed to detect a 5% lift on the per-user value
    // total at alpha 0.05 (two-sided) / power 0.8 —
    // n = 2 (z_.975 + z_.8)^2 sigma^2 / delta^2, with the constant
    // 2 * (1.959964 + 0.841621)^2 = 15.697757 carried in micro-units.
    // Variance comes from EXACT per-user micro-sums and DECIMAL(38,0)
    // moments (the ev_cuped device): varn = n*ssq - s^2 is exact, and
    // n_required is one integer division of 128-bit exact products —
    // bit-identical under any partial-agg order and in DuckDB
    // (HUGEINT). A type with no measurable mean (delta_micro = 0)
    // reports -1. This is the planning read BEFORE ev_srm_check
    // validates the split and ev_ab_ttest / ev_cuped read the result.
    Q("ev_power_analysis",
      (s, d) => {
        import s.implicits._
        val dec = DecimalType(38, 0)
        val vMicro = floor($"value" * 1000000).cast("long")
        val ux = Tables.events(s, d)
          .groupBy($"event_type", $"user_id")
          .agg(sum(vMicro).as("u"))
        ux.groupBy($"event_type")
          .agg(count(lit(1)).as("n_users"),
            sum($"u".cast(dec)).as("s"),
            sum($"u".cast(dec) * $"u").as("ssq"))
          .withColumn("varn", expr("n_users * ssq - s * s"))
          .withColumn("mean_micro", expr("s div n_users"))
          .withColumn("delta_micro", expr("mean_micro div 20"))
          .withColumn("n_required", coalesce(expr(
            "(15697757 * varn) div nullif(cast(1000000 as decimal(38,0))" +
              " * (n_users * (n_users - 1)) * delta_micro * delta_micro," +
              " 0)"), lit(-1L)))
          .select($"event_type", $"n_users", $"mean_micro", $"delta_micro",
            $"n_required",
            when($"n_required" >= 0L &&
              $"n_required" * 2L <= $"n_users", 1L).otherwise(0L)
              .as("is_powered"))
      },
      Some("""WITH ux AS (
          SELECT event_type, user_id,
            CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
              AS u
          FROM events GROUP BY event_type, user_id),
        agg AS (
          SELECT event_type, COUNT(*) AS n_users,
            CAST(SUM(u) AS HUGEINT) AS s,
            CAST(SUM(CAST(u AS HUGEINT) * u) AS HUGEINT) AS ssq
          FROM ux GROUP BY event_type),
        norm AS (
          SELECT event_type, n_users,
            n_users * ssq - s * s AS varn,
            CAST(s // n_users AS BIGINT) AS mean_micro
          FROM agg),
        fin AS (
          SELECT event_type, n_users, mean_micro,
            mean_micro // 20 AS delta_micro,
            COALESCE(CAST((15697757 * varn) // NULLIF(
              1000000 * CAST(n_users AS HUGEINT) * (n_users - 1)
              * (mean_micro // 20) * (mean_micro // 20), 0) AS BIGINT),
              -1) AS n_required
          FROM norm)
        SELECT event_type, n_users, mean_micro, delta_micro, n_required,
          CASE WHEN n_required >= 0 AND n_required * 2 <= n_users
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
            AS is_powered
        FROM fin""")),

    // ------------------------------------------------------------------
    // Zone-map pruning comparison — the MEASUREMENT that justifies
    // rel_zorder_layout: for 16 deterministic 64×64 rectangle
    // predicates, how many buckets (and how many rows) survive
    // zone-map pruning under the Z-order layout vs a single-dimension
    // (x-sorted) layout of the same 256-bucket budget. Z-order zone
    // maps bound BOTH dimensions, so a 2-D predicate prunes to a few
    // buckets; the linear layout's y zone maps span everything and
    // every x-matching bucket must be scanned. ONE fact scan total:
    // both layouts derive from the pre-aggregated (x, y) point grid
    // (≤ 2^20 rows at any table size), and the predicate probe is a
    // 16-row broadcast against 256-row zone-map frames — the planner
    // runs at metadata scale, exactly like a real file-skipping pass.
    Q("rel_zone_map_prune",
      (s, d) => {
        import s.implicits._
        val z = mortonSql("x", "y", "div")
        // ONE fact scan, structurally: each row explodes into its two
        // (layout, bucket) tags and aggregates STRAIGHT to the
        // 512-bucket zone-map frame — a twice-referenced pts frame
        // would scan the table twice (Catalyst does not dedupe
        // repeated subplans; the dedup_ngram_jaccard lesson), and the
        // earlier (x, y) point-grid pre-aggregation (round 10) paid a
        // full extra exchange of up to 2^20 grid rows for nothing:
        // map-side partial aggregation on the 512 bucket keys already
        // compresses each task's output to ≤ 1024 rows before the
        // only shuffle (guide §2.3 aggregate-before-you-shuffle,
        // §1.2 remove passes). min/count/sum over rows ≡ min/sum over
        // the grid's per-cell rollups — exact integers either way.
        // Dimensions must span their 0..1023 domain at EVERY test
        // scale or the comparison lies: suppkey%1024 covers only
        // 1..100 at sf0.01, so a 64-high Z tile swallows most of the
        // y mass while a 4-wide linear stripe stays selective and
        // "wins". partkey and orderkey are dense mod 1024 from
        // sf0.001 up.
        val zones = Tables.lineitem(s, d)
          .select(($"l_partkey" % 1024L).as("x"),
            ($"l_orderkey" % 1024L).as("y"))
          .select($"x", $"y", explode(array(
            struct(lit("z").as("layout"),
              expr(s"$z div 4096").as("bucket")),
            struct(lit("lin").as("layout"),
              expr("x div 4").as("bucket")))).as("t"))
          .select($"x", $"y",
            $"t.layout".as("layout"), $"t.bucket".as("bucket"))
          .groupBy($"layout", $"bucket")
          .agg(count(lit(1)).as("n_rows"),
            min($"x").as("min_x"), max($"x").as("max_x"),
            min($"y").as("min_y"), max($"y").as("max_y"))
        val preds = s.range(16).select($"id".as("qid"),
          (($"id" * 193L) % 960L).as("x0"), (($"id" * 389L) % 960L).as("y0"))
          .withColumn("x1", $"x0" + 63L).withColumn("y1", $"y0" + 63L)
        preds.join(zones, !($"max_x" < $"x0" || $"min_x" > $"x1" ||
            $"max_y" < $"y0" || $"min_y" > $"y1"), "left")
          .groupBy($"qid", $"x0", $"y0")
          .agg(
            count(when($"layout" === "z", $"bucket")).as("touched_z"),
            coalesce(sum(when($"layout" === "z", $"n_rows")), lit(0L))
              .as("rows_z"),
            count(when($"layout" === "lin", $"bucket")).as("touched_lin"),
            coalesce(sum(when($"layout" === "lin", $"n_rows")), lit(0L))
              .as("rows_lin"))
      },
      Some(s"""WITH pts AS (
          SELECT l_partkey % 1024 AS x, l_orderkey % 1024 AS y,
            COUNT(*) AS n
          FROM lineitem GROUP BY 1, 2),
        zones AS (
          SELECT 'z' AS layout, ${mortonSql("x", "y", "//")} // 4096
              AS bucket,
            CAST(SUM(n) AS BIGINT) AS n_rows,
            MIN(x) AS min_x, MAX(x) AS max_x,
            MIN(y) AS min_y, MAX(y) AS max_y
          FROM pts GROUP BY 1, 2
          UNION ALL
          SELECT 'lin' AS layout, x // 4 AS bucket,
            CAST(SUM(n) AS BIGINT) AS n_rows,
            MIN(x) AS min_x, MAX(x) AS max_x,
            MIN(y) AS min_y, MAX(y) AS max_y
          FROM pts GROUP BY 1, 2),
        preds AS (
          SELECT i AS qid, (i * 193) % 960 AS x0, (i * 389) % 960 AS y0,
            (i * 193) % 960 + 63 AS x1, (i * 389) % 960 + 63 AS y1
          FROM (SELECT unnest(generate_series(0, 15)) AS i))
        SELECT qid, x0, y0,
          COUNT(CASE WHEN layout = 'z' THEN bucket END) AS touched_z,
          COALESCE(CAST(SUM(CASE WHEN layout = 'z' THEN n_rows END)
            AS BIGINT), 0) AS rows_z,
          COUNT(CASE WHEN layout = 'lin' THEN bucket END) AS touched_lin,
          COALESCE(CAST(SUM(CASE WHEN layout = 'lin' THEN n_rows END)
            AS BIGINT), 0) AS rows_lin
        FROM preds LEFT JOIN zones ON NOT (max_x < x0 OR min_x > x1
          OR max_y < y0 OR min_y > y1)
        GROUP BY 1, 2, 3""")),

    // ------------------------------------------------------------------
    // 2×2 factorial experiment readout: two INDEPENDENT salted-md5
    // assignments (factor A, factor B) per user, per-event-type cell
    // means in integer micro-units, and the three contrasts — main
    // effect of A, main effect of B, and the A×B interaction (the
    // quantity a pair of separate ev_ab_ttest reads structurally
    // cannot see). Like ev_diff_in_diff, the cells ride map-side
    // partials on (type, a, b) collapsed by ONE conditional
    // aggregation — no user-level shuffle exists at any scale. All
    // means and contrasts are integer `div` arithmetic; independence
    // of the two salts is what makes the off-diagonal cells balanced
    // (the Round12 spec checks cell counts are within chi-square
    // bounds of 25% each).
    Q("ev_factorial_interaction",
      (s, d) => {
        import s.implicits._
        def arm(salt: String) = when(
          substring(md5(concat(lit(salt), $"user_id".cast("string"))), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L).otherwise(0L)
        val vMicro = floor($"value" * 1000000).cast("long")
        def cnt(a: Int, b: Int) =
          sum(when($"a" === a && $"b" === b, 1L).otherwise(0L))
        def vsum(a: Int, b: Int) =
          sum(when($"a" === a && $"b" === b, $"v").otherwise(0L))
        Tables.events(s, d)
          .select($"event_type", arm("fa|").as("a"), arm("fb|").as("b"),
            vMicro.as("v"))
          .groupBy($"event_type")
          .agg(cnt(0, 0).as("n00"), cnt(0, 1).as("n01"),
            cnt(1, 0).as("n10"), cnt(1, 1).as("n11"),
            vsum(0, 0).as("s00"), vsum(0, 1).as("s01"),
            vsum(1, 0).as("s10"), vsum(1, 1).as("s11"))
          .withColumn("m00", expr("s00 div nullif(n00, 0)"))
          .withColumn("m01", expr("s01 div nullif(n01, 0)"))
          .withColumn("m10", expr("s10 div nullif(n10, 0)"))
          .withColumn("m11", expr("s11 div nullif(n11, 0)"))
          .select($"event_type", $"n00", $"n01", $"n10", $"n11",
            $"m00", $"m01", $"m10", $"m11",
            expr("((m11 + m10) - (m01 + m00)) div 2").as("main_a_micro"),
            expr("((m11 + m01) - (m10 + m00)) div 2").as("main_b_micro"),
            expr("m11 - m10 - m01 + m00").as("interaction_micro"))
      },
      Some("""WITH cells AS (
          SELECT event_type,
            CASE WHEN substr(md5('fa|' || CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END AS a,
            CASE WHEN substr(md5('fb|' || CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END AS b,
            CAST(floor(value * 1000000) AS BIGINT) AS v
          FROM events),
        agg AS (
          SELECT event_type,
            CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
            CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN v ELSE 0 END) AS BIGINT) AS s00,
            CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN v ELSE 0 END) AS BIGINT) AS s01,
            CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN v ELSE 0 END) AS BIGINT) AS s10,
            CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN v ELSE 0 END) AS BIGINT) AS s11
          FROM cells GROUP BY event_type),
        means AS (
          SELECT event_type, n00, n01, n10, n11,
            s00 // NULLIF(n00, 0) AS m00, s01 // NULLIF(n01, 0) AS m01,
            s10 // NULLIF(n10, 0) AS m10, s11 // NULLIF(n11, 0) AS m11
          FROM agg)
        SELECT event_type, n00, n01, n10, n11, m00, m01, m10, m11,
          ((m11 + m10) - (m01 + m00)) // 2 AS main_a_micro,
          ((m11 + m01) - (m10 + m00)) // 2 AS main_b_micro,
          m11 - m10 - m01 + m00 AS interaction_micro
        FROM means""")),

    // ------------------------------------------------------------------
    // Join-output cardinality estimation audit — the System-R
    // independence assumption every optimizer rests on, measured
    // against ground truth: for each (l_returnflag × o_orderpriority)
    // cell of the lineitem⋈orders join, the estimate
    // |cell| ≈ m_flag · m_prio / N from the two 1-D marginals vs the
    // actual cell count. ONE fact join and ONE aggregation produce
    // the 15-row cell table; the marginals and total are WINDOW sums
    // over those 15 rows (a repeated-subplan assembly — cube +
    // grouping_id filtered four ways, or marginal CTEs — would
    // re-derive the fact join once per reference; Catalyst does not
    // dedupe repeated subplans, the dedup_ngram_jaccard lesson). The
    // estimate arithmetic runs at metadata scale, like a real
    // optimizer's stats lookup. err_ppm is signed integer ppm:
    // (est − actual)·10⁶ div actual. Returnflag correlates with ship
    // date (and through it, weakly, with priority mix), so the audit
    // reports real — small — independence violations; correlated
    // real columns are exactly what it exists to expose. At 100 TB
    // the marginal product m_flag·m_prio can cross int64 (~10¹² rows
    // per marginal) — the production form widens that one product
    // to DECIMAL(38,0), as the chi2/power queries do.
    Q("rel_cardinality_est",
      (s, d) => {
        import s.implicits._
        val j = Tables.lineitem(s, d).select($"l_orderkey", $"l_returnflag")
          .join(Tables.orders(s, d)
            .select($"o_orderkey", $"o_orderpriority"),
            $"l_orderkey" === $"o_orderkey")
          .select($"l_returnflag".as("flag"), $"o_orderpriority".as("prio"))
        j.groupBy($"flag", $"prio").agg(count(lit(1)).as("actual"))
          .select($"flag", $"prio", $"actual",
            sum($"actual").over(Window.partitionBy($"flag")).as("m_flag"),
            sum($"actual").over(Window.partitionBy($"prio")).as("m_prio"),
            sum($"actual").over(Window.partitionBy()).as("n_tot"))
          .select($"flag", $"prio", $"actual",
            expr("m_flag * m_prio div n_tot").as("est"),
            expr("(m_flag * m_prio div n_tot - actual) * 1000000 div actual")
              .as("err_ppm"))
      },
      Some("""WITH cells AS (
          SELECT l_returnflag AS flag, o_orderpriority AS prio,
            CAST(COUNT(*) AS BIGINT) AS actual
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        stats AS (
          SELECT flag, prio, actual,
            CAST(SUM(actual) OVER (PARTITION BY flag) AS BIGINT) AS m_flag,
            CAST(SUM(actual) OVER (PARTITION BY prio) AS BIGINT) AS m_prio,
            CAST(SUM(actual) OVER () AS BIGINT) AS n_tot
          FROM cells)
        SELECT flag, prio, actual,
          m_flag * m_prio // n_tot AS est,
          (m_flag * m_prio // n_tot - actual) * 1000000 // actual
            AS err_ppm
        FROM stats"""))
  )

  val all2: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Equi-depth histogram construction + selectivity-estimation
    // audit — the other half of the optimizer-statistics family
    // (rel_cardinality_est audits the independence assumption; this
    // audits the per-column range estimator). A 16-bucket equi-depth
    // histogram over o_totalprice (in exact CENTS — round(x*100) is
    // 4e-9 from an integer here, never near a .5 boundary, so both
    // engines round identically) is built with Ranking.exactNtile:
    // a range-partitioned sort + per-partition offsets, NOT the
    // single-partition `NTILE() OVER (ORDER BY ...)` window — the
    // construction distributes at any scale. Tiebreak (cents,
    // o_orderkey) makes bucket assignment a total order, so bucket
    // boundary stats are bit-identical to DuckDB's NTILE. Then eight
    // fixed `price < T` predicates are estimated from the 16-row
    // histogram with integer-cents uniform interpolation
    // (cnt·(T−min) div width — one div per partial bucket, no IEEE)
    // and audited against ground truth from ONE conditional-
    // aggregation scan (eight FILTER-style sums riding one pass —
    // never eight scans). err_ppm is signed integer ppm. At 100 TB
    // the truth arm is the expensive audit half — production serves
    // estimates from the 16-row histogram alone; the audit is the
    // eval that says when to re-collect stats.
    Q("rel_histogram_equidepth",
      (s, d) => {
        import s.implicits._
        val thrs = Seq(200000L, 500000L, 1000000L, 1500000L,
          2000000L, 2500000L, 3000000L, 4000000L)
        val c = Tables.orders(s, d).select(
          round($"o_totalprice" * 100).cast("long").as("cents"),
          $"o_orderkey")
        val h = graft.core.Ranking
          .exactNtile(c, 16, Seq($"cents", $"o_orderkey"))
          .groupBy($"tile")
          .agg(count(lit(1)).as("cnt"),
            min($"cents").as("min_c"), max($"cents").as("max_c"))
        val est = h
          .select($"cnt", $"min_c", $"max_c",
            explode(array(thrs.map(lit): _*)).as("thr"))
          .groupBy($"thr")
          .agg(sum(when($"max_c" < $"thr", $"cnt")
            .when($"min_c" >= $"thr", 0L)
            .otherwise(expr(
              "cnt * (thr - min_c) div (max_c - min_c + 1)")))
            .as("est"))
        val actAggs = thrs.map(t =>
          sum(when($"cents" < t, 1L).otherwise(0L)).as(s"a$t"))
        val act = c.agg(actAggs.head, actAggs.tail: _*)
          .select(expr("stack(8, " + thrs.map(t =>
            s"${t}L, a$t").mkString(", ") + ") AS (thr, actual)"))
        est.join(act, Seq("thr"))
          .select($"thr".as("threshold_cents"), $"actual", $"est",
            expr("(est - actual) * 1000000 div actual").as("err_ppm"))
      },
      Some("""WITH c AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
            o_orderkey
          FROM orders),
        t AS (SELECT cents,
            NTILE(16) OVER (ORDER BY cents, o_orderkey) AS tile
          FROM c),
        h AS (SELECT tile, CAST(COUNT(*) AS BIGINT) AS cnt,
            MIN(cents) AS min_c, MAX(cents) AS max_c
          FROM t GROUP BY 1),
        thr AS (SELECT unnest([200000, 500000, 1000000, 1500000,
            2000000, 2500000, 3000000, 4000000]) AS thr),
        est AS (SELECT thr,
            CAST(SUM(CASE WHEN max_c < thr THEN cnt
              WHEN min_c >= thr THEN 0
              ELSE cnt * (thr - min_c) // (max_c - min_c + 1)
            END) AS BIGINT) AS est
          FROM h CROSS JOIN thr GROUP BY 1),
        act AS (SELECT thr,
            CAST(COUNT(*) FILTER (WHERE cents < thr) AS BIGINT)
              AS actual
          FROM c CROSS JOIN thr GROUP BY 1)
        SELECT CAST(thr AS BIGINT) AS threshold_cents, actual, est,
          (est - actual) * 1000000 // actual AS err_ppm
        FROM est JOIN act USING (thr)""")),

    // ------------------------------------------------------------------
    // Encoding advisor — the physical-layout statistic that decides
    // RLE vs dictionary vs plain encoding per column, computed the
    // way a parquet writer actually experiences the data: per
    // simulated FILE (4096-orderkey ranges, the same file fiction as
    // rel_compaction_plan) in the writer's row order (l_orderkey,
    // l_linenumber). Three columns ride ONE scan via a stack
    // unpivot BEFORE the window, so each (file, column) partition
    // counts its value runs independently — per-file windows, never
    // a global sort, embarrassingly parallel at any scale. Per
    // column: files, rows, runs, mean run length in milli-rows
    // (integer div), files where dictionary encoding is viable
    // (≤256 distinct values → 1-byte codes) and where RLE wins
    // (mean run ≥ 2). A real advisor reads this table and picks the
    // encoding + sort-key change; rel_zorder_layout/
    // rel_zone_map_prune are the downstream layout moves.
    Q("rel_encoding_advisor",
      (s, d) => {
        import s.implicits._
        val base = Tables.lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber",
            expr("l_orderkey div 4096").as("file_id"),
            expr("""stack(3,
              'returnflag', l_returnflag,
              'linestatus', l_linestatus,
              'ship_month', CAST(month(l_shipdate) AS STRING))
              AS (col_name, val)"""))
        // (l_orderkey, l_linenumber) is NOT unique in this corpus —
        // appending val makes run counting permutation-invariant:
        // rows tying on all three sort keys carry equal values, so
        // any order among them yields the same run structure.
        val w = Window.partitionBy($"file_id", $"col_name")
          .orderBy($"l_orderkey", $"l_linenumber", $"val")
        val perFile = base
          .withColumn("rs",
            when(!(lag($"val", 1).over(w) <=> $"val"), 1L)
              .otherwise(0L))
          .groupBy($"file_id", $"col_name")
          .agg(count(lit(1)).as("n_rows"), sum($"rs").as("n_runs"),
            countDistinct($"val").as("n_distinct"))
        perFile.groupBy($"col_name")
          .agg(count(lit(1)).as("n_files"),
            sum($"n_rows").as("n_rows"),
            sum($"n_runs").as("n_runs"),
            sum(when($"n_distinct" <= 256, 1L).otherwise(0L))
              .as("n_dict_files"),
            sum(when($"n_runs" * 2 <= $"n_rows", 1L).otherwise(0L))
              .as("n_rle_files"))
          .select($"col_name", $"n_files", $"n_rows", $"n_runs",
            expr("n_rows * 1000 div n_runs").as("mean_run_len_milli"),
            $"n_dict_files", $"n_rle_files")
      },
      Some("""WITH base AS (
          SELECT l_orderkey, l_linenumber,
            l_orderkey // 4096 AS file_id, col_name, val
          FROM (
            SELECT l_orderkey, l_linenumber,
              'returnflag' AS col_name, l_returnflag AS val
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'linestatus',
              l_linestatus
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'ship_month',
              CAST(month(l_shipdate) AS VARCHAR)
            FROM lineitem)),
        runs AS (
          SELECT file_id, col_name, val,
            CASE WHEN lag(val) OVER (
                PARTITION BY file_id, col_name
                ORDER BY l_orderkey, l_linenumber, val)
              IS DISTINCT FROM val THEN 1 ELSE 0 END AS rs
          FROM base),
        per_file AS (
          SELECT file_id, col_name,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(rs) AS BIGINT) AS n_runs,
            CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct
          FROM runs GROUP BY 1, 2)
        SELECT col_name,
          CAST(COUNT(*) AS BIGINT) AS n_files,
          CAST(SUM(n_rows) AS BIGINT) AS n_rows,
          CAST(SUM(n_runs) AS BIGINT) AS n_runs,
          CAST(SUM(n_rows) AS BIGINT) * 1000
            // CAST(SUM(n_runs) AS BIGINT) AS mean_run_len_milli,
          CAST(COUNT(CASE WHEN n_distinct <= 256 THEN 1 END)
            AS BIGINT) AS n_dict_files,
          CAST(COUNT(CASE WHEN n_runs * 2 <= n_rows THEN 1 END)
            AS BIGINT) AS n_rle_files
        FROM per_file GROUP BY 1""")),

    // ------------------------------------------------------------------
    // Materialized-view rewrite audit — the summary-table move every
    // warehouse runs: a quarterly revenue question is answered (a)
    // from the base fact scan and (b) by RE-AGGREGATING the monthly
    // pre-aggregate (the view rel_monthly_orders-style pipelines
    // maintain), proving the month→quarter rollup rewrite exact —
    // SUM is distributive, month nests inside quarter, and revenue
    // is summed in exact CENTS so not even an IEEE reassociation can
    // split the arms. Keys are integers (yq = year·10 + quarter)
    // end to end. At 100 TB the view arm aggregates tens of rows
    // per month per priority — metadata scale — while the base arm
    // is the full fact scan; production serves from the view and
    // runs this audit on sampled partitions when the view's
    // freshness is in question. Every row must land match = 1; a 0
    // would mean the rewrite (or the view maintenance) is broken.
    Q("rel_view_answer",
      (s, d) => {
        import s.implicits._
        val cents = round($"o_totalprice" * 100).cast("long")
        val base = Tables.orders(s, d)
          .groupBy($"o_orderpriority".as("prio"),
            (year($"o_orderdate") * 10 + quarter($"o_orderdate"))
              .cast("long").as("yq"))
          .agg(sum(cents).as("rev_base_cents"))
        val view = Tables.orders(s, d)
          .groupBy($"o_orderpriority".as("prio"),
            (year($"o_orderdate") * 100 + month($"o_orderdate"))
              .cast("long").as("ym"))
          .agg(sum(cents).as("rev_m"))
        val fromView = view
          .groupBy($"prio",
            expr("ym div 100 * 10 + (ym % 100 + 2) div 3").as("yq"))
          .agg(sum($"rev_m").as("rev_view_cents"))
        base.join(fromView, Seq("prio", "yq"))
          .select($"prio", $"yq", $"rev_base_cents", $"rev_view_cents",
            when($"rev_base_cents" === $"rev_view_cents", 1L)
              .otherwise(0L).as("is_match"))
      },
      Some("""WITH base AS (
          SELECT o_orderpriority AS prio,
            CAST(year(o_orderdate) * 10 + quarter(o_orderdate)
              AS BIGINT) AS yq,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_base_cents
          FROM orders GROUP BY 1, 2),
        mview AS (
          SELECT o_orderpriority AS prio,
            CAST(year(o_orderdate) * 100 + month(o_orderdate)
              AS BIGINT) AS ym,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_m
          FROM orders GROUP BY 1, 2),
        fromview AS (
          SELECT prio, ym // 100 * 10 + (ym % 100 + 2) // 3 AS yq,
            CAST(SUM(rev_m) AS BIGINT) AS rev_view_cents
          FROM mview GROUP BY 1, 2)
        SELECT b.prio, b.yq, b.rev_base_cents, f.rev_view_cents,
          CASE WHEN b.rev_base_cents = f.rev_view_cents
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
            AS is_match
        FROM base b JOIN fromview f
          ON b.prio = f.prio AND b.yq = f.yq""")),

    // ------------------------------------------------------------------
    // Partition/skew planner — the pre-shuffle sizing read a 100 TB
    // job makes before setting spark.sql.shuffle.partitions or
    // salting a hot key: per shuffle key (ship-month here), measured
    // bytes (rows × the 4096 B/row fiction the compaction planner
    // uses), the partition count that key needs at a 128 MiB target,
    // a skew flag (key > 2× the mean key) and the salt factor a
    // salted join should apply (ceil(bytes/target), 1 when the key
    // fits). The global row recommends ceil(total/target) shuffle
    // partitions. The planner output is key-count-sized — metadata
    // scale — and everything is integer div/ceil arithmetic. On this
    // uniform testdata no month is skewed (the spec pins both the
    // arithmetic and that honesty); the skew-arm generator in
    // SkewSpec exercises the flag.
    Q("rel_partition_skew_planner",
      (s, d) => {
        import s.implicits._
        val keys = Tables.lineitem(s, d)
          .groupBy(date_trunc("month", $"l_shipdate").as("part_month"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("bytes", $"n_rows" * 4096L)
        keys
          .withColumn("mean_bytes",
            expr("sum(bytes) over () div count(*) over ()"))
          .withColumn("total_bytes", expr("sum(bytes) over ()"))
          .select($"part_month", $"n_rows", $"bytes",
            expr("(bytes + 134217727) div 134217728")
              .as("needed_partitions"),
            when($"bytes" > $"mean_bytes" * 2, 1L).otherwise(0L)
              .as("is_skewed"),
            when($"bytes" > $"mean_bytes" * 2,
              expr("(bytes + 134217727) div 134217728"))
              .otherwise(1L).as("salt_factor"),
            expr("(total_bytes + 134217727) div 134217728")
              .as("recommended_shuffle_partitions"))
      },
      Some("""WITH keys AS (
          SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
              AS part_month,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(*) AS BIGINT) * 4096 AS bytes
          FROM lineitem GROUP BY 1),
        stats AS (
          SELECT *,
            CAST(SUM(bytes) OVER () AS BIGINT)
              // CAST(COUNT(*) OVER () AS BIGINT) AS mean_bytes,
            CAST(SUM(bytes) OVER () AS BIGINT) AS total_bytes
          FROM keys)
        SELECT part_month, n_rows, bytes,
          (bytes + 134217727) // 134217728 AS needed_partitions,
          CASE WHEN bytes > mean_bytes * 2 THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS is_skewed,
          CASE WHEN bytes > mean_bytes * 2
            THEN (bytes + 134217727) // 134217728
            ELSE CAST(1 AS BIGINT) END AS salt_factor,
          (total_bytes + 134217727) // 134217728
            AS recommended_shuffle_partitions
        FROM stats""")),

    // ------------------------------------------------------------------
    // Mix-shift (volume vs rate) KPI decomposition — the "why did
    // revenue move" answer a plain month-over-month delta can't
    // give: per (priority, month), the revenue change against the
    // previous month splits into a VOLUME effect (order-count change
    // at the old average ticket: (n1−n0) · (rev0·10⁶ div n0), the
    // avg computed FIRST so the largest intermediate is rev0·10⁶ —
    // in-range through sf1; at true 100 TB revenue the product
    // widens to DECIMAL(38,0) like the chi2/power queries) and a
    // RATE effect (everything else — defined as the exact residual
    // delta·10⁶ − volume, so the decomposition sums to the true
    // delta BY CONSTRUCTION, no drifting remainders). Revenue is
    // exact cents; lag() rides one
    // (priority)-partitioned month window over the ~100-row rollup.
    // At 100 TB the rollup is one fact aggregation; the
    // decomposition is metadata-scale window arithmetic.
    Q("rel_mix_shift",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"prio").orderBy($"ym")
        Tables.orders(s, d)
          .groupBy($"o_orderpriority".as("prio"),
            (year($"o_orderdate") * 100 + month($"o_orderdate"))
              .cast("long").as("ym"))
          .agg(count(lit(1)).as("n1"),
            sum(round($"o_totalprice" * 100).cast("long")).as("rev1"))
          .withColumn("n0", lag($"n1", 1).over(w))
          .withColumn("rev0", lag($"rev1", 1).over(w))
          .filter($"n0".isNotNull)
          .withColumn("delta_cents", $"rev1" - $"rev0")
          .withColumn("volume_effect_micro",
            expr("(n1 - n0) * (rev0 * 1000000 div n0)"))
          .select($"prio", $"ym", $"n0", $"n1", $"rev0", $"rev1",
            $"delta_cents", $"volume_effect_micro",
            ($"delta_cents" * 1000000L - $"volume_effect_micro")
              .as("rate_effect_micro"))
      },
      Some("""WITH cells AS (
          SELECT o_orderpriority AS prio,
            CAST(year(o_orderdate) * 100 + month(o_orderdate)
              AS BIGINT) AS ym,
            CAST(COUNT(*) AS BIGINT) AS n1,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev1
          FROM orders GROUP BY 1, 2),
        lagged AS (
          SELECT *, lag(n1) OVER w AS n0, lag(rev1) OVER w AS rev0
          FROM cells
          WINDOW w AS (PARTITION BY prio ORDER BY ym))
        SELECT prio, ym, n0, n1, rev0, rev1,
          rev1 - rev0 AS delta_cents,
          (n1 - n0) * (rev0 * 1000000 // n0) AS volume_effect_micro,
          (rev1 - rev0) * 1000000
            - (n1 - n0) * (rev0 * 1000000 // n0) AS rate_effect_micro
        FROM lagged WHERE n0 IS NOT NULL"""))
  )
}
