package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Regimes, Tables}

/** Event-stream operators over the `events` table: semi-structured
  * (JSON-in-string) extraction, calendar bucketing, gap-based
  * sessionization, and an as-of ("latest event before") correlation.
  *
  * Sessionization mirrors the reference's spatial banding operator
  * (/root/reference/lambda_function.py:605-652 — new band when the gap
  * to the previous anchor exceeds a tolerance) re-hosted on the time
  * axis: lag + running-sum windows, the same decomposition SURVEY.md
  * §2.5 derives. All timestamp gaps are computed in integer
  * microseconds so the DuckDB oracle is bit-exact.
  */
object EventsOps {

  private val sessionGapMicros = 1800L * 1000000L // 30 min

  /** ev_peak_concurrency body, both regimes (round 10). The window
    * form partitions by event_type — a handful of distinct values, so
    * each window sorts a type's full 2n delta stream in ONE task
    * (guide §2.5: partitioning keys with too few distinct values).
    * The distributed form collapses the sweep to per-(type, t) delta
    * groups and runs [[graft.core.Ranking.runningSums]] over the
    * global (type, t) order. Why that is exact:
    *
    *  - Every span contributes one +1 and one −1, so each type's NET
    *    delta is 0 — at any type boundary the global running sum
    *    returns to 0, making the global cumulative EQUAL to the
    *    per-type running count C(t) with no prefix subtraction.
    *  - Within a (type, t) tie group the original orders ends (−1)
    *    before starts (+1): the running value descends from C(prev)
    *    then ascends to C(t). An end row's value C(prev) − j is
    *    strictly below C(prev), which is itself ATTAINED by the
    *    previous group's last row — so end rows never attain the
    *    peak, and the peak is max C(t) over groups containing a
    *    start (mx = 1). t_peak is the earliest such group at the max
    *    (start rows of a group all carry t, and the group's maximum
    *    running value C(t) sits on its last start row).
    *
    * Both regimes are exact integer arithmetic; the switch consults
    * the memoized events row count (EventsOpsSpec compares them on
    * the real corpus). */
  private[ext] def peakConcurrencyFrame(ev: DataFrame,
                                        distributed: Boolean): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val spans = ev.select($"event_type", unix_micros($"ts").as("s0"))
    val deltas = spans
      .select($"event_type", $"s0".as("t"), lit(1L).as("delta"))
      .unionByName(spans.select($"event_type",
        ($"s0" + 300000000L).as("t"), lit(-1L).as("delta")))
    if (!distributed) {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy($"event_type").orderBy($"t", $"delta")
        .rowsBetween(W.unboundedPreceding, 0)
      deltas
        .withColumn("running", sum($"delta").over(w))
        .withColumn("peak",
          max($"running").over(W.partitionBy($"event_type")))
        .filter($"running" === $"peak")
        .groupBy($"event_type")
        .agg(first($"peak").as("peak_concurrency"),
          min($"t").as("t_peak_us"))
    } else {
      val byT = deltas.groupBy($"event_type", $"t")
        .agg(sum($"delta").as("dg"), max($"delta").as("mx"))
      val cum = graft.core.Ranking.runningSums(byT,
        Seq($"event_type", $"t"), Seq("dg" -> "gcum"))
      val starts = cum.filter($"mx" === 1L)
      val peaks = starts.groupBy($"event_type")
        .agg(max($"gcum").as("peak_concurrency"))
      starts.join(broadcast(peaks), "event_type")
        .filter($"gcum" === $"peak_concurrency")
        .groupBy($"event_type", $"peak_concurrency")
        .agg(min($"t").as("t_peak_us"))
        .select($"event_type", $"peak_concurrency", $"t_peak_us")
    }
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // JSON field extraction from the props string.
    Q("ev_json_extract",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .withColumn("k", regexp_extract($"props", """"k"\s*:\s*(\d+)""", 1)
            .cast("long"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
               sum($"k").as("sum_k"),
               min($"k").as("min_k"),
               max($"k").as("max_k"))
      },
      Some("""SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(k) AS BIGINT) AS sum_k,
        MIN(k) AS min_k, MAX(k) AS max_k
        FROM (SELECT event_type,
                CAST(NULLIF(regexp_extract(props, '"k"\s*:\s*(\d+)', 1), '') AS BIGINT) AS k
              FROM events) t
        GROUP BY event_type""")),

    // ------------------------------------------------------------------
    // Tumbling 1-hour windows per event type.
    Q("ev_hourly_rollup",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
               sum($"value".cast(DecimalType(27, 6))).cast("double").as("sum_value"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY date_trunc('hour', ts), event_type""")),

    // ------------------------------------------------------------------
    // Gap-based sessionization: lag + running sum of session-open flags.
    Q("ev_sessionize",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prev = lag(unix_micros($"ts"), 1).over(w)
        val isNew = when(prev.isNull ||
          (unix_micros($"ts") - prev) > lit(sessionGapMicros), 1L).otherwise(0L)
        Tables.events(s, d)
          .withColumn("session_id", sum(isNew).over(wRun))
          .groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n_events"),
               min($"ts").as("session_start"),
               max($"ts").as("session_end"),
               sum($"value".cast(DecimalType(27, 6))).cast("double").as("session_value"))
      },
      Some("""WITH flagged AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts, value,
            CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id, COUNT(*) AS n_events,
          MIN(ts) AS session_start, MAX(ts) AS session_end,
          CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS session_value
        FROM sessioned GROUP BY user_id, session_id""")),

    // ------------------------------------------------------------------
    // As-of correlation: for each purchase, the latest click by the
    // same user at or before it. Expressed as a running-max window — a
    // single sort-based pass, no self-join — which is exactly the
    // partition-local sort-merge an as-of join needs at 100 TB scale
    // (SURVEY.md §2.3: compose built-ins before custom plans).
    Q("ev_asof_last_click",
      (s, d) => {
        import s.implicits._
        val wRun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("last_click_ts",
            max(when($"event_type" === "click", $"ts")).over(wRun))
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts", $"last_click_ts")
      },
      Some("""SELECT event_id, user_id, ts, last_click_ts FROM (
        SELECT event_id, user_id, ts, event_type,
          MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        FROM events) t WHERE event_type = 'purchase'""")),

    // ------------------------------------------------------------------
    // Keep-first dedup: earliest event per (user, type), made
    // deterministic by min over a (ts, event_id) struct — the
    // URL-dedup / first-seen pattern. One shuffle with map-side
    // partial min (one row per group per partition); never
    // dropDuplicates, whose survivor is whichever row a task sees
    // first.
    Q("ev_first_seen",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id", $"event_type")
          .agg(min(struct($"ts", $"event_id")).as("first"))
          .select($"user_id", $"event_type",
            $"first.ts".as("first_ts"),
            $"first.event_id".as("first_event_id"))
      },
      Some("""SELECT user_id, event_type, first_ts,
          MIN(event_id) AS first_event_id
        FROM (SELECT e.user_id, e.event_type, e.ts AS first_ts, e.event_id
              FROM events e
              JOIN (SELECT user_id, event_type, MIN(ts) AS mts
                    FROM events GROUP BY user_id, event_type) m
                ON e.user_id = m.user_id AND e.event_type = m.event_type
               AND e.ts = m.mts) x
        GROUP BY user_id, event_type, first_ts""")),

    // ------------------------------------------------------------------
    // Interval-containment attribution: every non-signup event within
    // one hour after a signup of the same user is attributed to that
    // signup. Equi-join on the partition key (user_id) with the time
    // range as a residual filter — the interval-join shape that stays
    // a hash join at scale because intervals-per-key is small, unlike
    // a bare theta join.
    Q("ev_session_attribution",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val windows = ev.filter($"event_type" === "signup")
          .select($"user_id", $"event_id".as("signup_id"),
            unix_micros($"ts").as("w_start"))
          .withColumn("w_end", $"w_start" + lit(3600L * 1000000L))
        ev.filter($"event_type" =!= "signup")
          .select($"user_id", unix_micros($"ts").as("t_us"), $"value")
          .join(windows, Seq("user_id"))
          .filter($"t_us" >= $"w_start" && $"t_us" < $"w_end")
          .groupBy($"signup_id")
          .agg(count(lit(1)).as("n_attributed"),
               sum($"value".cast(DecimalType(27, 6))).cast("double")
                 .as("attributed_value"))
      },
      Some("""SELECT s.event_id AS signup_id, COUNT(*) AS n_attributed,
          CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE)
            AS attributed_value
        FROM events s JOIN events e
          ON e.user_id = s.user_id
         AND epoch_us(e.ts) >= epoch_us(s.ts)
         AND epoch_us(e.ts) < epoch_us(s.ts) + 3600000000
        WHERE s.event_type = 'signup' AND e.event_type <> 'signup'
        GROUP BY s.event_id""")),

    // ------------------------------------------------------------------
    // Ordered funnel: signup → first later click → first later
    // purchase, with the stage reached per user. Formulated as three
    // chained whole-partition window minima over ONE
    // partitionBy(user_id) — each stage's cutoff references the
    // previous stage's window column, and identical partitioning means
    // Catalyst stacks the Window operators behind a single exchange
    // with no sort (unbounded frame). The equivalent per-stage
    // join/groupBy cascade plans 10 exchanges and re-scans events six
    // times, because Spark does not dedupe the repeated t1/t2
    // subtrees. The trailing groupBy reuses the window's hash
    // partitioning (no second shuffle). Strict `>` ordering makes the
    // stage assignment deterministic.
    Q("ev_funnel",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
        Tables.events(s, d).select($"user_id", $"event_type", $"ts")
          .withColumn("t_signup",
            min(when($"event_type" === "signup", $"ts")).over(w))
          .withColumn("t_click",
            min(when($"event_type" === "click" && $"ts" > $"t_signup", $"ts"))
              .over(w))
          .withColumn("t_purchase",
            min(when($"event_type" === "purchase" && $"ts" > $"t_click", $"ts"))
              .over(w))
          .filter($"t_signup".isNotNull)
          .groupBy($"user_id")
          .agg(min($"t_signup").as("t_signup"), min($"t_click").as("t_click"),
               min($"t_purchase").as("t_purchase"))
          .select($"user_id", $"t_signup", $"t_click", $"t_purchase",
            (lit(1) + when($"t_click".isNotNull, 1).otherwise(0)
                    + when($"t_purchase".isNotNull, 1).otherwise(0))
              .as("stage"))
      },
      Some("""WITH t1 AS (
          SELECT user_id, MIN(ts) AS t_signup FROM events
          WHERE event_type = 'signup' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t_signup
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
          GROUP BY e.user_id)
        SELECT t1.user_id, t_signup, t_click, t_purchase,
          CAST(1 + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS stage
        FROM t1
        LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id""")),

    // ------------------------------------------------------------------
    // Cohort retention matrix: users bucketed by first-seen day,
    // counted on every day they were active (day granularity — the
    // testdata spans one month). No join at all: one groupBy(user_id)
    // computes the cohort (min day) AND the distinct active-day set
    // together — collect_set partials collapse days map-side, so the
    // single wide shuffle carries one small set per (partition, user)
    // regardless of event volume. Explode + the tiny matrix
    // aggregation finish it: two exchanges total, versus the naive
    // cohort⋈activity join's three plus a join that stops
    // broadcasting once users outgrow one executor.
    Q("ev_retention",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"user_id", date_trunc("day", $"ts").as("dy"))
          .groupBy($"user_id")
          .agg(min($"dy").as("cohort_day"),
               collect_set($"dy").as("days"))
          .select($"cohort_day", explode($"days").as("active_day"))
          .groupBy($"cohort_day", $"active_day")
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH cohort AS (
          SELECT user_id,
            CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
          FROM events GROUP BY user_id),
        active AS (
          SELECT DISTINCT user_id,
            CAST(date_trunc('day', ts) AS TIMESTAMP) AS active_day
          FROM events)
        SELECT cohort_day, active_day, COUNT(*) AS n_users
        FROM active JOIN cohort USING (user_id)
        GROUP BY cohort_day, active_day""")),

    // ------------------------------------------------------------------
    // Deterministic per-user modal event type via the custom
    // mode_det TypedImperativeAggregate (ties broken by smaller
    // value — stable under any partitioning, unlike engine mode()).
    // Partial buffers are value→count maps merged map-side, so the
    // shuffle carries one small map per (partition, user).
    Q("ev_mode_event",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id")
          .agg(graft.functions.NativeFunctions.modeDet($"event_type")
                 .as("mode_event"),
               count(lit(1)).as("n_events"))
      },
      Some("""WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY user_id, event_type),
        r AS (
          SELECT user_id, event_type,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY n DESC, event_type ASC) AS rn
          FROM c)
        SELECT r.user_id, r.event_type AS mode_event, t.n_events
        FROM r JOIN (SELECT user_id, COUNT(*) AS n_events
                     FROM events GROUP BY user_id) t
          ON r.user_id = t.user_id
        WHERE r.rn = 1""")),

    // ------------------------------------------------------------------
    // Sequential-context window functions: gap to the previous event,
    // the next event's type, and the event's quartile position in the
    // user's history — lag/lead/ntile stacked over ONE
    // (user_id, ts, event_id) window, so the plan is a single
    // exchange + sort. (ts, event_id) is a total order per user,
    // making all three deterministic.
    Q("ev_lag_lead",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"t_us", $"event_id")
        Tables.events(s, d)
          .select($"user_id", $"event_id", $"event_type",
            unix_micros($"ts").as("t_us"))
          .withColumn("gap_us", $"t_us" - lag($"t_us", 1).over(w))
          .withColumn("next_type", lead($"event_type", 1).over(w))
          .withColumn("quartile", ntile(4).over(w))
          .select($"user_id", $"event_id", $"gap_us", $"next_type",
            $"quartile")
      },
      Some("""SELECT user_id, event_id,
          epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
          lead(event_type, 1) OVER w AS next_type,
          ntile(4) OVER w AS quartile
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""")),

    // ------------------------------------------------------------------
    // Native session_window aggregation (Spark's merging-window
    // operator, the same code path Structured Streaming session
    // windows use): per-user sessions with a 30-minute gap, one
    // shuffle on user_id. Spark merges two events into one session
    // when the later start is strictly inside the earlier window
    // [ts, ts+gap), i.e. a gap of exactly 30 min starts a NEW
    // session — the oracle's sessionization flag is therefore >=.
    // session end = last event + gap by definition on both sides.
    // Same-timestamp events are peers (diff 0 < gap) so intra-tie
    // ordering cannot change session assignment.
    Q("ev_session_window",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
               sum($"value".cast(DecimalType(27, 6))).cast("double")
                 .as("sum_value"))
          .select($"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events", $"sum_value")
      },
      Some("""WITH flagged AS (
          SELECT user_id, ts, value,
            CASE WHEN LAG(ts) OVER w IS NULL
                 OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
          MAX(ts) + INTERVAL 30 MINUTE AS session_end,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM sess GROUP BY user_id, sid""")),

    // ------------------------------------------------------------------
    // Merged-interval coverage (gaps-and-islands): each view event
    // claims [ts, ts+5min); per user, total covered time with
    // overlaps collapsed. Island start = a row whose start exceeds
    // the running max end of all PRIOR rows (touching intervals
    // merge); island id = running sum of starts; coverage = Σ per
    // island (max end − min start). All integer-microsecond
    // arithmetic — exact on both engines — and one (user_id)
    // shuffle feeding window + two aggs over the same partitioning.
    // Interval ends are start+constant, so equal starts tie-break
    // identically under any intra-peer order.
    Q("ev_interval_coverage",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy($"user_id").orderBy($"s0")
        val spans = Tables.events(s, d)
          .filter($"event_type" === "view")
          .select($"user_id", unix_micros($"ts").as("s0"))
          .withColumn("e0", $"s0" + 300000000L)
        spans
          .withColumn("prev_end",
            max($"e0").over(w.rowsBetween(W.unboundedPreceding, -1)))
          .withColumn("new_island",
            when($"prev_end".isNull || $"s0" > $"prev_end", 1).otherwise(0))
          .withColumn("island",
            sum($"new_island").over(w.rowsBetween(W.unboundedPreceding, 0)))
          .groupBy($"user_id", $"island")
          .agg(min($"s0").as("i_start"), max($"e0").as("i_end"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_islands"),
               sum($"i_end" - $"i_start").as("covered_us"))
      },
      Some("""WITH spans AS (
          SELECT user_id, epoch_us(ts) AS s0, epoch_us(ts) + 300000000 AS e0
          FROM events WHERE event_type = 'view'),
        flagged AS (
          SELECT user_id, s0, e0,
            CASE WHEN MAX(e0) OVER (PARTITION BY user_id ORDER BY s0
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR s0 > MAX(e0) OVER (PARTITION BY user_id ORDER BY s0
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS new_island
          FROM spans),
        islands AS (
          SELECT user_id, s0, e0,
            SUM(new_island) OVER (PARTITION BY user_id ORDER BY s0
              ROWS UNBOUNDED PRECEDING) AS island
          FROM flagged),
        per_island AS (
          SELECT user_id, island, MIN(s0) AS i_start, MAX(e0) AS i_end
          FROM islands GROUP BY user_id, island)
        SELECT user_id, COUNT(*) AS n_islands,
          CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
        FROM per_island GROUP BY user_id""")),

    // ------------------------------------------------------------------
    // Full ranking-window family — rank, dense_rank, percent_rank,
    // cume_dist, first_value — stacked over ONE (event_type) window
    // ordered by (value, event_id): a single exchange + sort serves
    // all five. The event_id tiebreaker makes first_value
    // deterministic; rank metrics are tie-stable by definition, and
    // percent_rank/cume_dist are exact integer ratios so the doubles
    // are IEEE-identical across engines.
    Q("ev_rank_metrics",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"value", $"event_id")
        Tables.events(s, d)
          .select($"event_type", $"event_id", $"value")
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .withColumn("first_id", first_value($"event_id").over(w))
      },
      Some("""SELECT event_type, event_id, value,
          RANK() OVER w AS rnk,
          DENSE_RANK() OVER w AS drnk,
          PERCENT_RANK() OVER w AS pct_rank,
          CUME_DIST() OVER w AS cume,
          FIRST_VALUE(event_id) OVER w AS first_id
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")),

    // ------------------------------------------------------------------
    // Ordered sequence aggregation: each user's event-type journey as
    // one delimited string. collect_list has no cross-partition
    // order, so the aggregate gathers (ts, event_id, type) structs
    // and array_sort imposes the total order AFTER collection —
    // deterministic under any partitioning, matching the oracle's
    // string_agg(... ORDER BY ts, event_id). One shuffle; per-group
    // state bounded by the user's history.
    Q("ev_user_journey",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
               concat_ws(">", transform(
                 array_sort(collect_list(
                   struct($"ts", $"event_id", $"event_type"))),
                 x => x.getField("event_type"))).as("journey"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
          string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
        FROM events GROUP BY user_id""")),

    // ------------------------------------------------------------------
    // Typed JSON parsing: from_json with an explicit schema (the
    // Jackson-backed native parser, one pass, malformed → null) —
    // versus ev_json_extract's regex form. Narrow map, no shuffle.
    Q("ev_json_typed",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            from_json($"props", lit("k BIGINT")).getField("k").as("k"))
      },
      Some("""SELECT event_id,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events""")),

    // ------------------------------------------------------------------
    // Calendar gap-fill with forward fill: each user's daily value
    // series densified over their [first, last] day (per-user
    // calendar via sequence — no global calendar broadcast, spans
    // scale with each user's own history), missing days carry the
    // last observed value via last(_, ignoreNulls) over a running
    // frame. Days as epoch-day integers end-to-end: no date-type
    // or timezone ambiguity in the oracle compare. The leading
    // window has no null prefix by construction (the calendar
    // starts on an observed day).
    Q("ev_gap_fill",
      (s, d) => {
        import s.implicits._
        val daily = Tables.events(s, d)
          .groupBy($"user_id", to_date($"ts").as("day"))
          .agg(sum($"value".cast(DecimalType(27, 6))).cast("double")
            .as("day_value"))
        val calendar = daily.groupBy($"user_id")
          .agg(min($"day").as("mn"), max($"day").as("mx"))
          .select($"user_id", explode(sequence($"mn", $"mx")).as("day"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"day")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        calendar.join(daily, Seq("user_id", "day"), "left")
          .withColumn("filled_value",
            last($"day_value", ignoreNulls = true).over(w))
          .select($"user_id",
            datediff($"day", lit("1970-01-01")).cast("long").as("day_num"),
            $"filled_value")
      },
      Some("""WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
            CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS day_value
          FROM events GROUP BY user_id, CAST(ts AS DATE)),
        cal AS (
          SELECT user_id,
            CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
              CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
          FROM (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
                FROM daily GROUP BY user_id) b)
        SELECT c.user_id,
          datediff('day', DATE '1970-01-01', c.day) AS day_num,
          last_value(d.day_value IGNORE NULLS) OVER (
            PARTITION BY c.user_id ORDER BY c.day
            ROWS UNBOUNDED PRECEDING) AS filled_value
        FROM cal c LEFT JOIN daily d
          ON d.user_id = c.user_id AND d.day = c.day""")),

    // ------------------------------------------------------------------
    // Trailing-window anomaly detection: hourly event counts per
    // type, each hour z-scored against its trailing 24 observations.
    // The window carries only exact integer sums (count, sum,
    // sum-of-squares — associative, order-insensitive, map-side
    // combinable); the z-score is derived from those integers by one
    // fixed sequence of IEEE double ops identical on both engines, so
    // the compare is bit-exact. Hours as epoch-hour integers: no
    // timestamp/timezone ambiguity. One shuffle (hour rollup); the
    // window reuses the event_type partitioning.
    Q("ev_anomaly_zscore",
      (s, d) => {
        import s.implicits._
        val hourly = Tables.events(s, d)
          .groupBy($"event_type",
            expr("unix_micros(ts) div 3600000000").as("hour_num"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy($"event_type").orderBy($"hour_num")
          .rowsBetween(-24, -1)
        val n = count(lit(1)).over(w)
        val sSum = sum($"c").over(w)
        val sSq = sum($"c" * $"c").over(w)
        val mean = sSum.cast("double") / n.cast("double")
        val varExpr = (sSq.cast("double") -
          (sSum.cast("double") * sSum.cast("double")) / n.cast("double")) /
          (n - 1).cast("double")
        hourly
          .withColumn("n_prev", n)
          .withColumn("z",
            when(varExpr > 0.0,
              ($"c".cast("double") - mean) / sqrt(varExpr)))
          .filter($"n_prev" >= 12)
          .withColumn("is_anomaly",
            coalesce(abs($"z") > 3.0, lit(false)))
          .select($"event_type", $"hour_num", $"c", $"z", $"is_anomaly")
      },
      Some("""WITH hourly AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS hour_num,
            COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT event_type, hour_num, c,
            COUNT(*) OVER tw AS n_prev,
            SUM(c) OVER tw AS s,
            SUM(c * c) OVER tw AS ssq
          FROM hourly
          WINDOW tw AS (PARTITION BY event_type ORDER BY hour_num
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT event_type, hour_num, c,
          CASE WHEN (CAST(ssq AS DOUBLE) -
              (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_prev AS DOUBLE))
              / CAST(n_prev - 1 AS DOUBLE) > 0.0
            THEN (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_prev AS DOUBLE))
              / sqrt((CAST(ssq AS DOUBLE) -
                  (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_prev AS DOUBLE))
                / CAST(n_prev - 1 AS DOUBLE))
          END AS z,
          COALESCE(abs(CASE WHEN (CAST(ssq AS DOUBLE) -
              (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_prev AS DOUBLE))
              / CAST(n_prev - 1 AS DOUBLE) > 0.0
            THEN (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_prev AS DOUBLE))
              / sqrt((CAST(ssq AS DOUBLE) -
                  (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_prev AS DOUBLE))
                / CAST(n_prev - 1 AS DOUBLE))
          END) > 3.0, false) AS is_anomaly
        FROM win WHERE n_prev >= 12""")),

    // ------------------------------------------------------------------
    // Conversion lag: per user, first `view` to first `purchase`.
    // Single shuffle — both firsts come out of one conditional
    // aggregation (no self-join of two filtered scans); all outputs
    // are exact integer microseconds.
    Q("ev_conversion_lag",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy($"user_id")
          .agg(
            min(when($"event_type" === "view", unix_micros($"ts")))
              .as("first_view_us"),
            min(when($"event_type" === "purchase", unix_micros($"ts")))
              .as("first_purchase_us"))
          .filter($"first_view_us".isNotNull && $"first_purchase_us".isNotNull)
          .withColumn("lag_us", $"first_purchase_us" - $"first_view_us")
          .withColumn("converted_after_view", $"lag_us" > 0L)
      },
      Some("""SELECT user_id, first_view_us, first_purchase_us,
          first_purchase_us - first_view_us AS lag_us,
          (first_purchase_us - first_view_us) > 0 AS converted_after_view
        FROM (
          SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
              AS first_view_us,
            MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
              AS first_purchase_us
          FROM events GROUP BY user_id) t
        WHERE first_view_us IS NOT NULL
          AND first_purchase_us IS NOT NULL""")),

    // ------------------------------------------------------------------
    // Event-type transition matrix (first-order Markov chain over
    // each user's ordered stream): lag window on the user_id shuffle,
    // then the (prev, cur) rollup collapses to at most |types|² cells
    // via map-side partials — the wide input never shuffles twice.
    // Row-normalized probability from two exact integers, one IEEE
    // division. Ordering tiebroken by event_id (ts collisions exist).
    Q("ev_markov_transitions",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts", $"event_id")
        val wRow = Window.partitionBy($"prev_type")
        Tables.events(s, d)
          .select($"user_id", $"event_id", $"ts", $"event_type")
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNotNull)
          .groupBy($"prev_type", $"event_type".as("cur_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_total", sum($"n").over(wRow))
          .withColumn("p", $"n".cast("double") / $"row_total".cast("double"))
      },
      Some("""WITH seq AS (
          SELECT user_id, event_type,
            LAG(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS prev_type
          FROM events),
        cells AS (
          SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type)
        SELECT prev_type, cur_type, n,
          CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total,
          CAST(n AS DOUBLE) /
            CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        FROM cells""")),

    // ------------------------------------------------------------------
    // RFM (recency / frequency / monetary) customer scoring: one
    // conditional rollup per user, then quartile buckets via ntile
    // with a user_id tiebreak (total order ⇒ identical buckets on
    // any engine). The global ntile is a single-partition sort of
    // the ALREADY-AGGREGATED user table (one row per user) — fine
    // into the millions of users; beyond that swap in approx
    // percentile cutoffs and give up bucket-boundary exactness.
    // Fixed reference date so the metric is reproducible.
    Q("ev_rfm_segments",
      (s, d) => {
        import s.implicits._
        val per = Tables.events(s, d)
          .filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(max(to_date($"ts")).as("last_day"),
               count(lit(1)).as("frequency"),
               sum($"value".cast(DecimalType(27, 6))).cast("double")
                 .as("monetary"))
          .withColumn("recency_days",
            datediff(lit("2024-02-01").cast("date"), $"last_day")
              .cast("long"))
        // Path selection (the documented scale switch, now real): the
        // exact global ntile sorts the WHOLE one-row-per-user frame
        // through one WindowExec partition — fine into the millions
        // of users, single-threaded death beyond. Past the threshold
        // (cheap metadata-ish count of the raw events scan, an upper
        // bound on users) quartiles come instead from broadcast
        // approx-percentile cutoffs + comparisons — fully parallel,
        // trading only bucket-BOUNDARY exactness. The oracle always
        // exercises the exact path (sf dirs are far below the
        // threshold).
        val bigFrame = Regimes.big(s, Regimes.GlobalNtile,
          Tables.rowCount(s, d, "events"))
        val scored =
          if (!bigFrame) {
            // threshold-bounded branch (small regime only): the
            // single-partition ntile is deliberate (WindowAuditSpec).
            val rW = Window.orderBy($"recency_days".asc, $"user_id")
            val fW = Window.orderBy($"frequency".desc, $"user_id")
            val mW = Window.orderBy($"monetary".desc, $"user_id")
            per.withColumn("r", ntile(4).over(rW).cast("long"))
              .withColumn("f", ntile(4).over(fW).cast("long"))
              .withColumn("m", ntile(4).over(mW).cast("long"))
          } else {
            val qs = array(lit(0.25), lit(0.5), lit(0.75))
            val cuts = per.agg(
              percentile_approx($"recency_days", qs, lit(10000)).as("rc"),
              percentile_approx($"frequency", qs, lit(10000)).as("fc"),
              percentile_approx($"monetary", qs, lit(10000)).as("mc"))
            def bucketAsc(v: org.apache.spark.sql.Column,
                          c: org.apache.spark.sql.Column)
                : org.apache.spark.sql.Column =
              (lit(1) + (v > c(0)).cast("int") + (v > c(1)).cast("int") +
                (v > c(2)).cast("int")).cast("long")
            def bucketDesc(v: org.apache.spark.sql.Column,
                           c: org.apache.spark.sql.Column)
                : org.apache.spark.sql.Column =
              (lit(1) + (v < c(2)).cast("int") + (v < c(1)).cast("int") +
                (v < c(0)).cast("int")).cast("long")
            per.crossJoin(broadcast(cuts))
              .withColumn("r", bucketAsc($"recency_days", $"rc"))
              .withColumn("f", bucketDesc($"frequency", $"fc"))
              .withColumn("m", bucketDesc($"monetary", $"mc"))
          }
        scored
          .withColumn("segment",
            concat($"r".cast("string"), $"f".cast("string"),
              $"m".cast("string")))
          .select($"user_id", $"recency_days", $"frequency", $"monetary",
            $"r", $"f", $"m", $"segment")
      },
      Some("""WITH per AS (
          SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
            COUNT(*) AS frequency,
            CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS monetary
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        scored AS (
          SELECT user_id,
            datediff('day', last_day, DATE '2024-02-01') AS recency_days,
            frequency, monetary
          FROM per)
        SELECT user_id, recency_days, frequency, monetary,
          NTILE(4) OVER (ORDER BY recency_days ASC, user_id) AS r,
          NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f,
          NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m,
          CAST(NTILE(4) OVER (ORDER BY recency_days ASC, user_id) AS VARCHAR)
            || CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS VARCHAR)
            || CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS VARCHAR)
            AS segment
        FROM scored""")),

    // ------------------------------------------------------------------
    // Heavy hitters via the custom SpaceSaving aggregate
    // (graft.functions.ApproxTopK): fixed-size summaries merge
    // map-side, so the shuffle carries one sketch per partition —
    // the wide-domain replacement for exact count+sort. Here
    // capacity (64) exceeds the event-type domain (5), where
    // SpaceSaving provably degenerates to exact counts with zero
    // error — making THIS configuration DuckDB-checkable; the
    // sketch regime (capacity < domain) is pinned by
    // NativeFunctionsSpec on constructed skew.
    Q("ev_heavy_hitters",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .agg(graft.functions.NativeFunctions
            .approxTopK($"event_type", 3, 64).as("top"))
          .select(explode($"top").as("t"))
          .select($"t.value".as("value"), $"t.est".as("est"),
            $"t.err".as("err"))
      },
      Some("""SELECT event_type AS value, COUNT(*) AS est,
          CAST(0 AS BIGINT) AS err
        FROM events GROUP BY event_type
        ORDER BY est DESC, value ASC LIMIT 3""")),

    // ------------------------------------------------------------------
    // Sliding-window counts (1 h window, 15 min slide): Spark's
    // native `window()` generator replicates each event into its 4
    // covering windows (a narrow Expand — rows × windows/slide, no
    // shuffle), then one hash aggregation with map-side partials.
    // Window starts as epoch-micros integers; Spark's epoch-aligned
    // grid is mirrored exactly by integer modulus in the oracle.
    Q("ev_sliding_window_counts",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(27, 6))).cast("double").as("v"))
          .select(unix_micros($"window.start").as("win_start_us"),
            $"event_type", $"n", $"v")
      },
      Some("""WITH slid AS (
          SELECT epoch_us(ts) - epoch_us(ts) % 900000000
              - i * 900000000 AS win_start_us,
            event_type, value
          FROM events
          CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g)
        SELECT win_start_us, event_type, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
        FROM slid GROUP BY win_start_us, event_type""")),

    // ------------------------------------------------------------------
    // Inter-event regularity ("bot score"): the coefficient of
    // variation of each user's event gaps — automated traffic fires
    // on near-constant timers (cv → 0), humans are bursty (cv ≈ 1).
    // Gaps are exact integer microseconds from one lag window; the
    // rollup carries only integer sums (n, Σgap, Σgap² — map-side
    // combinable), and mean/cv derive from them by one fixed IEEE
    // formula, bit-exact vs the oracle. Both window and rollup share
    // the user_id shuffle.
    Q("ev_bot_score",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        // Whole seconds, not micros: the Σgap² sum must stay inside
        // int64 (a multi-day gap in µs squared already overflows it,
        // which Spark wraps silently and DuckDB raises on).
        val gaps = Tables.events(s, d)
          .select($"user_id", $"event_id", $"ts",
            expr("unix_micros(ts) div 1000000").as("sec"))
          .withColumn("gap_s", $"sec" - lag($"sec", 1).over(w))
          .filter($"gap_s".isNotNull)
        val agg = gaps.groupBy($"user_id")
          .agg(count(lit(1)).as("n_gaps"),
               sum($"gap_s").as("s"),
               sum($"gap_s" * $"gap_s").as("ssq"))
          .filter($"n_gaps" >= 5)
        val mean = $"s".cast("double") / $"n_gaps".cast("double")
        val variance = ($"ssq".cast("double") -
          ($"s".cast("double") * $"s".cast("double")) /
            $"n_gaps".cast("double")) / ($"n_gaps" - 1).cast("double")
        agg
          .withColumn("mean_gap_s", mean)
          .withColumn("cv",
            when(mean > 0.0, sqrt(variance) / mean))
          .withColumn("is_regular", coalesce($"cv" < 0.1, lit(false)))
          .select($"user_id", $"n_gaps", $"mean_gap_s", $"cv",
            $"is_regular")
      },
      Some("""WITH gaps AS (
          SELECT user_id,
            epoch_us(ts) // 1000000 - LAG(epoch_us(ts) // 1000000)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
          FROM events),
        agg AS (
          SELECT user_id, COUNT(*) AS n_gaps, SUM(gap_s) AS s,
            SUM(gap_s * gap_s) AS ssq
          FROM gaps WHERE gap_s IS NOT NULL
          GROUP BY user_id
          HAVING COUNT(*) >= 5)
        SELECT user_id, n_gaps,
          CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
          CASE WHEN CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0.0 THEN
            sqrt((CAST(ssq AS DOUBLE) -
              (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
              / CAST(n_gaps - 1 AS DOUBLE))
            / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
          END AS cv,
          COALESCE(CASE WHEN CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0.0 THEN
            sqrt((CAST(ssq AS DOUBLE) -
              (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
              / CAST(n_gaps - 1 AS DOUBLE))
            / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
          END < 0.1, false) AS is_regular
        FROM agg""")),

    // ------------------------------------------------------------------
    // Exact distinct users per hour × event type — the DAU/HAU shape.
    // count(DISTINCT) expands to Catalyst's two-phase plan: a partial
    // dedup on (hour, type, user) BEFORE the shuffle, so the exchange
    // carries each (hour, type, user) once per map partition, never
    // raw events — the property that keeps exact uniques feasible at
    // 100 TB (the sketch alternative is rel_approx_distinct's HLL).
    // n_events rides the same Expand: one scan serves both aggregates.
    Q("ev_hourly_uniques",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(countDistinct($"user_id").as("n_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
        COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM events GROUP BY date_trunc('hour', ts), event_type""")),

    // ------------------------------------------------------------------
    // A/B experiment readout: Welch's t-statistic on event value
    // between the two user-hash variants, per event type — ONE
    // conditional aggregation (no per-variant scans or self-join).
    // The shuffle carries exact ingredients only: counts and decimal
    // sums of value and value² (associative, partial-agg-order-proof);
    // means, variances and t are one fixed IEEE formula over those
    // exact numbers, written identically in the oracle — the same
    // exact-integers-then-one-formula pattern as ev_anomaly_zscore.
    Q("ev_ab_ttest",
      (s, d) => {
        import s.implicits._
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        val dec = DecimalType(27, 6)
        val isA = pmod($"user_id", lit(2L)) === 0
        val agg = Tables.events(s, d)
          .groupBy($"event_type")
          .agg(
            count(when(isA, 1)).as("n_a"),
            count(when(!isA, 1)).as("n_b"),
            sum(when(isA, $"value").cast(dec)).as("s_a"),
            sum(when(!isA, $"value").cast(dec)).as("s_b"),
            sum(when(isA, $"value" * $"value").cast(dec)).as("ssq_a"),
            sum(when(!isA, $"value" * $"value").cast(dec)).as("ssq_b"))
        val meanA = dbl($"s_a") / dbl($"n_a")
        val meanB = dbl($"s_b") / dbl($"n_b")
        val varA = (dbl($"ssq_a") - dbl($"s_a") * dbl($"s_a") / dbl($"n_a")) /
          dbl($"n_a" - 1)
        val varB = (dbl($"ssq_b") - dbl($"s_b") * dbl($"s_b") / dbl($"n_b")) /
          dbl($"n_b" - 1)
        agg
          .withColumn("mean_a", meanA)
          .withColumn("mean_b", meanB)
          .withColumn("t_stat",
            (meanA - meanB) / sqrt(varA / dbl($"n_a") + varB / dbl($"n_b")))
          .select($"event_type", $"n_a", $"n_b", $"mean_a", $"mean_b",
            $"t_stat")
      },
      Some("""WITH agg AS (
          SELECT event_type,
            COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
            COUNT(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
            SUM(CAST(CASE WHEN user_id % 2 = 0 THEN value END
              AS DECIMAL(27,6))) AS s_a,
            SUM(CAST(CASE WHEN user_id % 2 <> 0 THEN value END
              AS DECIMAL(27,6))) AS s_b,
            SUM(CAST(CASE WHEN user_id % 2 = 0 THEN value * value END
              AS DECIMAL(27,6))) AS ssq_a,
            SUM(CAST(CASE WHEN user_id % 2 <> 0 THEN value * value END
              AS DECIMAL(27,6))) AS ssq_b
          FROM events GROUP BY event_type)
        SELECT event_type, n_a, n_b,
          CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
          CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
          (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          / sqrt(
            ((CAST(ssq_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE))
              / CAST(n_a AS DOUBLE)
            + ((CAST(ssq_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))
              / CAST(n_b AS DOUBLE)) AS t_stat
        FROM agg""")),

    // ------------------------------------------------------------------
    // Velocity flags (fraud/rate-limit shape): for every event, how
    // many events the same user produced in the trailing 10 minutes —
    // a RANGE frame over integer epoch seconds (same-second events
    // are peers, which a ROWS frame would get wrong), one user_id
    // shuffle. At 100 TB this is the per-key streaming-state check
    // run as a batch backfill; the burst threshold is a parameter.
    Q("ev_velocity_flags",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"t_s")
          .rangeBetween(-600, 0)
        Tables.events(s, d)
          .select($"user_id", $"event_id",
            expr("unix_micros(ts) div 1000000").as("t_s"))
          .withColumn("n_10min", count(lit(1)).over(w))
          .withColumn("is_burst", $"n_10min" >= 5)
          .select($"user_id", $"event_id", $"n_10min", $"is_burst")
      },
      Some("""SELECT user_id, event_id,
          COUNT(*) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) // 1000000
            RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS n_10min,
          COUNT(*) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) // 1000000
            RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) >= 5 AS is_burst
        FROM events"""))
  )

  /** Second page of event ops (Scala 2.13 keeps Seq literals under
    * the method-size codegen limit this way). */
  val all2: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Time-constrained funnel: view → click within 30 min → purchase
    // within 30 min of the click. Unlike ev_funnel (any later event
    // qualifies), each stage has a DEADLINE anchored on the previous
    // stage's time — the product-analytics definition of a session
    // conversion. Three chained window minima all run on ONE user_id
    // exchange (each references the previous stage's column, so they
    // stay ordered but share the partitioning — plan-pinned), then a
    // single distinct-count aggregation produces the one-row
    // conversion report. Timestamp comparisons are exact integer
    // microseconds in both engines.
    Q("ev_constrained_funnel",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
        val m30 = expr("INTERVAL 30 MINUTES")
        Tables.events(s, d).select($"user_id", $"event_type", $"ts")
          .withColumn("t1",
            min(when($"event_type" === "view", $"ts")).over(w))
          .withColumn("t2",
            min(when($"event_type" === "click" &&
              $"ts" > $"t1" && $"ts" <= $"t1" + m30, $"ts")).over(w))
          .withColumn("t3",
            min(when($"event_type" === "purchase" &&
              $"ts" > $"t2" && $"ts" <= $"t2" + m30, $"ts")).over(w))
          // Collapse per user FIRST — this groupBy reuses the windows'
          // user_id partitioning (zero new exchange), and the final
          // one-row count sums 0/1 flags from the node-sized user
          // table. (Three countDistincts here instead would Expand
          // every event row 3× and add a dedup shuffle.)
          .groupBy($"user_id")
          .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
          .agg(
            count(when($"t1".isNotNull, 1)).as("n_viewed"),
            count(when($"t2".isNotNull, 1)).as("n_clicked_30m"),
            count(when($"t3".isNotNull, 1)).as("n_purchased_30m"))
      },
      Some("""WITH t1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t1
            AND e.ts <= t1.t1 + INTERVAL 30 MINUTE
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            AND e.ts <= t2.t2 + INTERVAL 30 MINUTE
          GROUP BY e.user_id)
        SELECT (SELECT COUNT(*) FROM t1) AS n_viewed,
               (SELECT COUNT(*) FROM t2) AS n_clicked_30m,
               (SELECT COUNT(*) FROM t3) AS n_purchased_30m""")),

    // ------------------------------------------------------------------
    // Exact per-group top-k through the TopKRows heap aggregate: the
    // shuffle carries k pairs per (partition, group) instead of every
    // row sorted behind one exchange (the row_number form the oracle
    // uses — identical output, different cost curve: the aggregate's
    // state is O(k) for a billion-row group). Values quantized to
    // integer micro-units so the ranking boundary is exact in both
    // engines; rank reconstructed from the sorted array position.
    Q("ev_topk_per_type",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_type",
            floor($"value" * 1000000).cast("long").as("v"), $"event_id")
          .groupBy($"event_type")
          .agg(graft.functions.NativeFunctions
            .topKPairs($"v", $"event_id", 5).as("top"))
          .select($"event_type", posexplode($"top"))
          .select($"event_type", ($"pos" + 1).cast("long").as("rank"),
            $"col.ord".as("v"), $"col.value".as("event_id"))
      },
      Some("""SELECT event_type, rank, v, event_id FROM (
          SELECT event_type,
            CAST(floor(value * 1000000) AS BIGINT) AS v, event_id,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY CAST(floor(value * 1000000) AS BIGINT) DESC,
                       event_id) AS rank
          FROM events) t
        WHERE rank <= 5""")),

    // ------------------------------------------------------------------
    // Cumulative distinct users per day — the growth metric a naive
    // COUNT(DISTINCT) OVER (ORDER BY day) cannot express at scale
    // (running distinct state grows with the user base). The
    // first-occurrence trick makes it exact in two aggregations:
    // each user contributes once on their first-seen day, daily
    // new-user counts running-sum into the cumulative curve. The
    // user_id shuffle collapses to one row per user before anything
    // global; the running sum runs over the tiny per-day table.
    Q("ev_cumulative_users",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"day")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.events(s, d)
          .groupBy($"user_id")
          .agg(min(to_date($"ts")).as("day"))
          .groupBy($"day")
          .agg(count(lit(1)).as("n_new_users"))
          .withColumn("cumulative_users", sum($"n_new_users").over(w))
          .select($"day".cast("timestamp").as("day"),
            $"n_new_users", $"cumulative_users")
      },
      Some("""WITH first_seen AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS day
          FROM events GROUP BY user_id),
        daily AS (
          SELECT day, COUNT(*) AS n_new_users FROM first_seen GROUP BY day)
        SELECT CAST(day AS TIMESTAMP) AS day, n_new_users,
          CAST(SUM(n_new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cumulative_users
        FROM daily""")),

    // ------------------------------------------------------------------
    // DAU / trailing-7-day WAU stickiness: EXACT sliding-window
    // distinct users. A window function cannot deduplicate across
    // frames, so each active (user, day) is EXPLODED into the ≤7
    // window-end days it contributes to, then distinct-counted per
    // window day — work scales with active-pairs × 7, never
    // users × days. DAU rides the same collapsed (user, day) table;
    // the ratio is an exact integer permille.
    Q("ev_stickiness",
      (s, d) => {
        import s.implicits._
        val active = Tables.events(s, d)
          .select($"user_id", datediff(to_date($"ts"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
          .distinct()
        val dau = active.groupBy($"day")
          .agg(count(lit(1)).as("dau"))
        val wau = active
          .select($"user_id",
            explode(sequence($"day", $"day" + 6)).as("wday"))
          .distinct()
          .groupBy($"wday".as("day"))
          .agg(count(lit(1)).as("wau"))
        // WAU windows with no activity on their end day still exist;
        // inner-join keeps the reported days = active days (the DAU
        // table), matching the oracle.
        dau.join(wau, "day")
          .select($"day", $"dau", $"wau",
            expr("dau * 1000 div wau").as("stickiness_permille"))
      },
      Some("""WITH active AS (
          SELECT DISTINCT user_id,
            datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
          FROM events),
        dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day),
        wau AS (
          SELECT wday AS day, COUNT(*) AS wau FROM (
            SELECT DISTINCT user_id,
              unnest(generate_series(day, day + 6)) AS wday
            FROM active) t
          GROUP BY wday)
        SELECT day, dau, wau, dau * 1000 // wau AS stickiness_permille
        FROM dau JOIN wau USING (day)""")),

    // ------------------------------------------------------------------
    // Inter-event gap histogram on a log-ish scale: per event type,
    // the distribution of per-user gaps bucketed by DECIMAL DIGIT
    // COUNT of the gap in seconds (1-9s, 10-99s, ...) — the latency-
    // histogram shape with integer-exact buckets: digit count is
    // length(CAST(int AS VARCHAR)), identical in both engines, where
    // floor(log10()) flutters at power-of-ten boundaries. One
    // user-shuffle window for the lag, then a map-side-combined
    // rollup to |types|×|buckets| cells.
    Q("ev_gap_histogram",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", $"event_type").orderBy($"ts")
        Tables.events(s, d)
          .select($"user_id", $"event_type", $"ts")
          .withColumn("gap_s",
            (unix_timestamp($"ts") - unix_timestamp(lag($"ts", 1).over(w)))
              .cast("long"))
          .filter($"gap_s" >= 1)
          .withColumn("bucket_digits",
            length($"gap_s".cast("string")).cast("long"))
          .groupBy($"event_type", $"bucket_digits")
          .agg(count(lit(1)).as("n_gaps"), sum($"gap_s").as("sum_gap_s"))
      },
      Some("""WITH gaps AS (
          SELECT event_type,
            epoch_us(ts) // 1000000
              - LAG(epoch_us(ts) // 1000000, 1) OVER (
                  PARTITION BY user_id, event_type ORDER BY ts) AS gap_s
          FROM events)
        SELECT event_type,
          CAST(length(CAST(gap_s AS VARCHAR)) AS BIGINT) AS bucket_digits,
          COUNT(*) AS n_gaps,
          CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s
        FROM gaps WHERE gap_s >= 1
        GROUP BY event_type, bucket_digits"""))
  )

  val all3: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // CUSUM changepoint detection on the daily event-count series:
    // cusum_t = Σ (x_i·n_days − total) — the classic Σ(x−mean)
    // statistic scaled by n_days so it stays EXACT integer (no
    // mean division anywhere); the day where |cusum| peaks is the
    // most likely level-shift point. The heavy part is one
    // map-side-combined daily rollup; the cusum window and the
    // global peak ride the tiny day-level frame. Scale note: at
    // 100 TB the rollup shuffles |days| partials per partition —
    // the window stays driver-trivial.
    Q("ev_changepoint_cusum",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"day") // |days| rows (WindowAuditSpec allowlist)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val daily = Tables.events(s, d)
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
        val tot = daily.agg(sum($"n").as("total"), count(lit(1)).as("nd"))
        val c = daily.crossJoin(broadcast(tot))
          .withColumn("cusum", sum($"n" * $"nd" - $"total").over(w))
          .select($"day", $"n", $"cusum")
        val peak = c.agg(max(abs($"cusum")).as("mx"))
        c.crossJoin(broadcast(peak))
          .select($"day".cast("timestamp").as("day"), $"n", $"cusum",
            when(abs($"cusum") === $"mx", 1L).otherwise(0L).as("is_peak"))
      },
      Some("""WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1),
        tot AS (SELECT SUM(n) AS total, COUNT(*) AS nd FROM daily),
        c AS (
          SELECT day, n,
            CAST(SUM(n * nd - total) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cusum
          FROM daily, tot)
        SELECT CAST(day AS TIMESTAMP) AS day, n, cusum,
          CAST(CASE WHEN abs(cusum) = (SELECT MAX(abs(cusum)) FROM c)
               THEN 1 ELSE 0 END AS BIGINT) AS is_peak
        FROM c"""))
  ,
    // ------------------------------------------------------------------
    // Peak concurrency per event type via the sweep line: each event
    // holds a 5-minute span; +1/−1 deltas ordered by (t, delta) —
    // ends sort before starts at the same instant, making spans
    // half-open — and a running sum whose maximum is the peak. Rows
    // tied on (t, delta) are interchangeable, so the running-value
    // MULTISET (and hence the max and its first time) is order-
    // independent — engine-safe without a per-row total order. One
    // type-partitioned window; deltas double the row count but
    // never widen rows.
    Q("ev_peak_concurrency",
      (s, d) => peakConcurrencyFrame(Tables.events(s, d),
        distributed = Regimes.big(s, Regimes.PrefixSum,
          Tables.rowCount(s, d, "events"))),
      Some("""WITH deltas AS (
          SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, epoch_us(ts) + 300000000 AS t, -1 AS delta
          FROM events),
        swept AS (
          SELECT event_type, t, delta,
            SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
          FROM deltas),
        peaks AS (
          SELECT event_type, t, running,
            MAX(running) OVER (PARTITION BY event_type) AS peak
          FROM swept)
        SELECT event_type, CAST(peak AS BIGINT) AS peak_concurrency,
          MIN(t) AS t_peak_us
        FROM peaks WHERE running = peak
        GROUP BY event_type, peak""")),

    // ------------------------------------------------------------------
    // Cohort LTV matrix: cumulative purchase value per signup cohort
    // by age week. Money stays DECIMAL through BOTH the per-cell
    // aggregation and the cumulative window (decimal addition is
    // associative — a double cum-sum could flutter under DuckDB's
    // segment-tree window evaluation), cast to double only on
    // export. The cohort join co-partitions on user_id; the
    // cumulative window rides the tiny (cohort × age) matrix.
    Q("ev_cohort_ltv",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy($"cohort_day").orderBy($"age_week")
          .rowsBetween(W.unboundedPreceding, 0)
        val ev = Tables.events(s, d)
        val cohort = ev.groupBy($"user_id")
          .agg(min(to_date($"ts")).as("cohort_day"))
        ev.filter($"event_type" === "purchase")
          .select($"user_id", to_date($"ts").as("day"), $"value")
          .join(cohort, "user_id")
          .groupBy($"cohort_day",
            expr("datediff(day, cohort_day) div 7").as("age_week"))
          .agg(countDistinct($"user_id").as("n_buyers"),
            sum($"value".cast(org.apache.spark.sql.types.DecimalType(27, 6)))
              .as("wv_dec"))
          .withColumn("cum_dec", sum($"wv_dec").over(w))
          .select($"cohort_day".cast("timestamp").as("cohort_day"),
            $"age_week", $"n_buyers",
            $"wv_dec".cast("double").as("week_value"),
            $"cum_dec".cast("double").as("cum_value"))
      },
      Some("""WITH cohort AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id),
        cells AS (
          SELECT cohort_day,
            (CAST(ts AS DATE) - cohort_day) // 7 AS age_week,
            COUNT(DISTINCT e.user_id) AS n_buyers,
            SUM(CAST(value AS DECIMAL(27,6))) AS wv_dec
          FROM events e JOIN cohort c ON e.user_id = c.user_id
          WHERE event_type = 'purchase'
          GROUP BY 1, 2)
        SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, age_week, n_buyers,
          CAST(wv_dec AS DOUBLE) AS week_value,
          CAST(SUM(wv_dec) OVER (PARTITION BY cohort_day ORDER BY age_week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS cum_value
        FROM cells"""))
  ,
    // ------------------------------------------------------------------
    // Day-of-week × hour seasonality heatmap: the load-shape profile
    // capacity planning reads. Exact distinct users per cell (two-
    // phase distinct), value totals as exact decimal sums exported
    // double. Spark's dayofweek is 1-based Sunday=1; DuckDB's dow is
    // 0-based Sunday=0 — normalized to the 0-based form on the Spark
    // side. One map-side-combined rollup to a 7×24 matrix.
    Q("ev_seasonality",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .groupBy((dayofweek($"ts") - 1).as("dow"),
            hour($"ts").as("hr"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            sum($"value".cast(org.apache.spark.sql.types.DecimalType(27, 6)))
              .cast("double").as("total_value"))
      },
      Some("""SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow,
          CAST(date_part('hour', ts) AS BIGINT) AS hr,
          COUNT(*) AS n_events,
          COUNT(DISTINCT user_id) AS n_users,
          CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2""")),

    // ------------------------------------------------------------------
    // Dwell-time percentiles: seconds until the user's NEXT event,
    // attributed to the current event's type, summarized per type
    // with percentile_disc — which selects a STORED integer, the one
    // percentile form with zero IEEE caveats cross-engine (see
    // rel_percentile_disc). Gaps are whole-second integers from
    // epoch math; the lead window orders by (ts, event_id) so equal
    // timestamps cannot flip the gap assignment between engines.
    Q("ev_dwell_percentiles",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, d)
          .select($"user_id", $"event_id", $"event_type", $"ts")
          .withColumn("dwell_s",
            (unix_timestamp(lead($"ts", 1).over(w)) - unix_timestamp($"ts"))
              .cast("long"))
          .filter($"dwell_s".isNotNull)
          .createOrReplaceTempView("dwell_tmp")
        // Spark's percentile_disc returns DOUBLE even over integer
        // input; the selected value is a stored exact integer, so the
        // BIGINT cast is lossless and matches DuckDB's BIGINT output
        // type (the driver compares schemas, not just values).
        s.sql("""SELECT event_type, COUNT(*) AS n_dwells,
            CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s)
              AS BIGINT) AS p50_s,
            CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s)
              AS BIGINT) AS p90_s,
            MAX(dwell_s) AS max_s
          FROM dwell_tmp GROUP BY event_type""")
      },
      Some("""WITH dwell AS (
          SELECT event_type,
            LEAD(epoch_us(ts) // 1000000, 1) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              - epoch_us(ts) // 1000000 AS dwell_s
          FROM events)
        SELECT event_type, COUNT(*) AS n_dwells,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s) AS p50_s,
          percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s) AS p90_s,
          MAX(dwell_s) AS max_s
        FROM dwell WHERE dwell_s IS NOT NULL
        GROUP BY event_type""")),

    // ------------------------------------------------------------------
    // Activity streaks (gaps-and-islands): per user, the longest run
    // of consecutive active DAYS, total active days, and number of
    // distinct streaks. The island anchor is `day - row_number()` —
    // consecutive days share an anchor, any gap starts a new one.
    // Distinct (user, day) first so duplicate same-day events cannot
    // split an island; everything downstream is dates and counts
    // (no floats). One shuffle on user_id serves the window AND both
    // groupBys (identical partitioning — Catalyst reuses the
    // exchange), so the whole query is a single-exchange pipeline
    // that scales linearly in users.
    Q("ev_streaks",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"day")
        Tables.events(s, d)
          .select($"user_id", to_date($"ts").as("day")).distinct()
          .withColumn("anchor", date_sub($"day", row_number().over(w)))
          .groupBy($"user_id", $"anchor")
          .agg(count(lit(1)).as("len"))
          .groupBy($"user_id")
          .agg(max($"len").as("longest_streak"),
               sum($"len").as("n_active_days"),
               count(lit(1)).as("n_streaks"))
      },
      Some("""WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        islands AS (
          SELECT user_id, day - CAST(ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY day) AS INT) AS anchor
          FROM days),
        streaks AS (
          SELECT user_id, anchor, COUNT(*) AS len
          FROM islands GROUP BY user_id, anchor)
        SELECT user_id, MAX(len) AS longest_streak,
          CAST(SUM(len) AS BIGINT) AS n_active_days,
          COUNT(*) AS n_streaks
        FROM streaks GROUP BY user_id""")),

    // ------------------------------------------------------------------
    // Multi-touch attribution: every click in the 7 days before a
    // same-user purchase shares that purchase's credit. Linear
    // credit is dealt in exact integer parts-per-million — each
    // touch gets 1000000 div n and the LAST touch absorbs the
    // remainder, so credits sum to exactly 1e6 per purchase and the
    // whole query stays float-free (an IEEE 1/n credit would
    // accumulate ulp drift under reordered sums). First/last flags
    // come from the same two orderings; ties break on event_id.
    // Summarized by the touch's hour-of-day. The purchase×click
    // join keys on user_id — user-bounded fan-out, shuffle-hash
    // friendly at scale — and the three windows share one
    // purchase_id partitioning.
    Q("ev_multitouch_attribution",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"event_id".as("purchase_id"),
            unix_micros($"ts").as("p_us"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"event_id".as("click_id"),
            unix_micros($"ts").as("c_us"),
            hour($"ts").cast("long").as("touch_hour"))
        val wP = Window.partitionBy($"purchase_id")
        val wAsc = Window.partitionBy($"purchase_id")
          .orderBy($"c_us", $"click_id")
        val wDesc = Window.partitionBy($"purchase_id")
          .orderBy($"c_us".desc, $"click_id".desc)
        purchases.join(clicks, Seq("user_id"))
          .filter($"c_us" < $"p_us" &&
            $"c_us" >= $"p_us" - lit(7L * 86400L * 1000000L))
          .withColumn("n", count(lit(1)).over(wP))
          .withColumn("rn_first", row_number().over(wAsc))
          .withColumn("rn_last", row_number().over(wDesc))
          .withColumn("credit_ppm", expr("1000000L div n") +
            when($"rn_last" === 1, expr("1000000L % n")).otherwise(0L))
          .groupBy($"touch_hour")
          .agg(count(lit(1)).as("n_touches"),
               sum($"credit_ppm").as("credit_ppm"),
               sum(when($"rn_first" === 1, 1L).otherwise(0L)).as("n_first"),
               sum(when($"rn_last" === 1, 1L).otherwise(0L)).as("n_last"))
      },
      Some("""WITH touches AS (
          SELECT p.event_id AS purchase_id,
            EXTRACT(hour FROM c.ts) AS touch_hour,
            epoch_us(c.ts) AS c_us, c.event_id AS click_id
          FROM events p JOIN events c
            ON c.user_id = p.user_id
           AND epoch_us(c.ts) < epoch_us(p.ts)
           AND epoch_us(c.ts) >= epoch_us(p.ts) - 604800000000
          WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
        ranked AS (
          SELECT touch_hour,
            COUNT(*) OVER (PARTITION BY purchase_id) AS n,
            ROW_NUMBER() OVER (PARTITION BY purchase_id
              ORDER BY c_us, click_id) AS rn_first,
            ROW_NUMBER() OVER (PARTITION BY purchase_id
              ORDER BY c_us DESC, click_id DESC) AS rn_last
          FROM touches)
        SELECT touch_hour, COUNT(*) AS n_touches,
          CAST(SUM(1000000 // n + CASE WHEN rn_last = 1
            THEN 1000000 % n ELSE 0 END) AS BIGINT) AS credit_ppm,
          CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_first,
          CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_last
        FROM ranked GROUP BY touch_hour""")),

    // ------------------------------------------------------------------
    // Churn-risk buckets: per user, whole days between their last
    // event and the corpus's last observed day, bucketed into
    // lifecycle bands (active = same day, cooling = 1 day silent,
    // at-risk = 2 days, churned = 3+; day-granularity edges because
    // the synthetic corpus is dense — a production horizon would use
    // 7/14/30). The corpus horizon is a one-row scalar
    // aggregate cross-joined in (broadcast — the per-user frame
    // never reshuffles for it; a window-based max would drag every
    // user row into one partition). Day arithmetic is integer
    // date_diff; bucket edges are integer comparisons — no floats
    // anywhere, and each user lands in exactly one band.
    Q("ev_churn_risk",
      (s, d) => {
        import s.implicits._
        val perUser = Tables.events(s, d)
          .groupBy($"user_id")
          .agg(max(to_date($"ts")).as("last_day"),
               count(lit(1)).as("n_events"))
        val horizon = Tables.events(s, d)
          .agg(max(to_date($"ts")).as("horizon"))
        perUser.crossJoin(broadcast(horizon))
          .withColumn("days_silent",
            datediff($"horizon", $"last_day").cast("long"))
          .withColumn("band",
            when($"days_silent" < 1, "active")
              .when($"days_silent" < 2, "cooling")
              .when($"days_silent" < 3, "at_risk")
              .otherwise("churned"))
          .groupBy($"band")
          .agg(count(lit(1)).as("n_users"),
               sum($"n_events").as("total_events"),
               min($"days_silent").as("min_silent"),
               max($"days_silent").as("max_silent"))
      },
      Some("""WITH per_user AS (
          SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
            COUNT(*) AS n_events
          FROM events GROUP BY user_id),
        h AS (SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events),
        banded AS (
          SELECT n_events,
            CAST(date_diff('day', last_day, horizon) AS BIGINT)
              AS days_silent,
            CASE WHEN date_diff('day', last_day, horizon) < 1 THEN 'active'
                 WHEN date_diff('day', last_day, horizon) < 2 THEN 'cooling'
                 WHEN date_diff('day', last_day, horizon) < 3 THEN 'at_risk'
                 ELSE 'churned' END AS band
          FROM per_user, h)
        SELECT band, COUNT(*) AS n_users,
          CAST(SUM(n_events) AS BIGINT) AS total_events,
          MIN(days_silent) AS min_silent, MAX(days_silent) AS max_silent
        FROM banded GROUP BY band"""))
  ,
    // ------------------------------------------------------------------
    // Exact-integer EWMA trend baseline: per event type, each day's
    // count against the exponentially-weighted average of its 8 PRIOR
    // daily observations (α = 1/5). The usual float recurrence
    // ewma = α·x + (1−α)·ewma accumulates IEEE ulps in history order;
    // here the truncated expansion's rational weights α(1−α)^(k−1) =
    // 4^(k−1)·5^(8−k) / 5⁸ share the exact denominator 5⁸, so the
    // weighted sum is a pure BIGINT dot product over 8 lags and the
    // above-trend test (n·5⁸ > ewma_q) is integer-exact — engine-
    // identical, no flutter at the alert edge. Warmup rows (fewer
    // than 8 priors) are dropped, as in ev_anomaly_zscore; the
    // truncated tail mass (4/5)⁸ ≈ 17% is a documented constant of
    // the estimator. One event_type shuffle; lags and row_number
    // share the single window sort.
    Q("ev_ewma_trend",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"day")
        val weights = (1 to 8).map(k =>
          math.pow(4, k - 1).toLong * math.pow(5, 8 - k).toLong)
        val daily = Tables.events(s, d)
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
        val ewmaQ = (1 to 8).map(k =>
          coalesce(lag($"n", k).over(w), lit(0L)) * weights(k - 1))
          .reduce(_ + _)
        daily
          .withColumn("rn", row_number().over(w))
          .withColumn("ewma_q", ewmaQ)
          .filter($"rn" > 8)
          .select($"event_type", $"day".cast("timestamp").as("day"),
            $"n", $"ewma_q",
            ($"ewma_q".cast("double") / lit(390625.0)).as("ewma"),
            ($"n" * lit(390625L) > $"ewma_q").as("above_trend"))
      },
      Some {
        val terms = (1 to 8).map { k =>
          val wk = math.pow(4, k - 1).toLong * math.pow(5, 8 - k).toLong
          s"COALESCE(LAG(n, $k) OVER w, 0) * $wk"
        }.mkString(" + ")
        s"""WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        lagged AS (
          SELECT event_type, day, n,
            ROW_NUMBER() OVER w AS rn,
            CAST($terms AS BIGINT) AS ewma_q
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type, CAST(day AS TIMESTAMP) AS day, n, ewma_q,
          CAST(ewma_q AS DOUBLE) / 390625.0 AS ewma,
          n * 390625 > ewma_q AS above_trend
        FROM lagged WHERE rn > 8"""
      })
  ,
    // ------------------------------------------------------------------
    // Semi-additive rollup: `value` as an account balance — additive
    // across users, NOT across time — so the daily total must take
    // each user's LAST observation of the day (ts, event_id
    // tiebreak), then sum across users. The window top-1 lowers to
    // WindowGroupLimit partial filtering before the (user, day)
    // exchange (the rel_merge_upsert machinery); the cross-user sum
    // is exact decimal. The balance-style measure every warehouse
    // handles specially — a plain SUM over time double-counts.
    Q("ev_semi_additive_balance",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", $"day")
          .orderBy($"ts".desc, $"event_id".desc)
        Tables.events(s, d)
          .withColumn("day", to_date($"ts"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .groupBy($"day".cast("timestamp").as("day"))
          .agg(count(lit(1)).as("n_accounts"),
            sum($"value".cast(DecimalType(27, 6))).cast("double")
              .as("eod_total"))
      },
      Some("""SELECT CAST(day AS TIMESTAMP) AS day, COUNT(*) AS n_accounts,
          CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS eod_total
        FROM (
          SELECT CAST(ts AS DATE) AS day, user_id, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1 GROUP BY day"""))
  ,
    // ------------------------------------------------------------------
    // Seasonal-naive forecast backtest: per event type, "tomorrow
    // looks like the same weekday last week" (lag-7 over daily
    // counts) scored against what actually happened — the baseline
    // every forecasting pipeline must beat before it earns a model,
    // and the backtest harness shape that scores the real model
    // later. Per-day absolute errors are exact integers; the rollup
    // reports MAE ingredients (Σ|err|, n) plus a naive lag-1
    // comparison, all on the tiny per-type table riding ONE
    // event_type shuffle. No averages are divided per-row — both
    // sums export exactly, the single MAE division is at the end.
    Q("ev_forecast_backtest",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"event_type").orderBy($"day")
        Tables.events(s, d)
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("f_seasonal", lag($"n", 7).over(w))
          .withColumn("f_naive", lag($"n", 1).over(w))
          .filter($"f_seasonal".isNotNull)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_days"),
            sum(abs($"n" - $"f_seasonal")).as("sae_seasonal"),
            sum(abs($"n" - $"f_naive")).as("sae_naive"))
          .withColumn("mae_seasonal_ppm",
            expr("sae_seasonal * 1000000 div n_days"))
          .withColumn("seasonal_beats_naive",
            $"sae_seasonal" < $"sae_naive")
      },
      Some("""WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        scored AS (
          SELECT event_type, n,
            LAG(n, 7) OVER w AS f_seasonal,
            LAG(n, 1) OVER w AS f_naive
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day))
        SELECT event_type, COUNT(*) AS n_days,
          CAST(SUM(abs(n - f_seasonal)) AS BIGINT) AS sae_seasonal,
          CAST(SUM(abs(n - f_naive)) AS BIGINT) AS sae_naive,
          CAST(SUM(abs(n - f_seasonal)) AS BIGINT) * 1000000 // COUNT(*)
            AS mae_seasonal_ppm,
          CAST(SUM(abs(n - f_seasonal)) AS BIGINT)
            < CAST(SUM(abs(n - f_naive)) AS BIGINT)
            AS seasonal_beats_naive
        FROM scored WHERE f_seasonal IS NOT NULL
        GROUP BY event_type""")),

    // ------------------------------------------------------------------
    // Discrete lifetime (survival/hazard) table: per account-age
    // week, how many users are still at risk, how many churned at
    // exactly that age, the hazard d·10⁶ div n and the empirical
    // survival share. "Churned" = last event ≥ 7 days before the
    // corpus horizon (later users are right-censored — still alive).
    // This is the actuarial/Kaplan-Meier ingredient table with ZERO
    // floating arithmetic: no cumulative product of float ratios
    // (engine-order-dependent) — hazard and survival each divide two
    // exact integers once. Scale shape: one user shuffle collapses
    // events to (first, last) per user, the horizon is a one-row
    // broadcast, and everything after runs on the ≤(weeks)-row
    // rollup — the descending cumulative sum windows over that tiny
    // frame, never over users.
    Q("ev_lifetime_table",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select($"user_id", datediff(to_date($"ts"),
            lit("2024-01-01").cast("date")).cast("long").as("day"))
        val perUser = ev.groupBy($"user_id")
          .agg(min($"day").as("first_day"), max($"day").as("last_day"))
        val horizon = ev.agg(max($"day").as("end_day"))
        val lt = perUser.crossJoin(broadcast(horizon))
          .select(
            expr("(last_day - first_day) div 7").as("wk"),
            ($"last_day" <= $"end_day" - 7).cast("long").as("churned"))
        val byWk = lt.groupBy($"wk")
          .agg(count(lit(1)).as("n_ended"), sum($"churned").as("n_churned"))
        // n_users = Σ n_ended over the whole rollup — same sorted
        // frame as the at-risk cumulative, so the user-collapse
        // subtree is NOT duplicated (a second scan+shuffle was the
        // crossJoin(count) formulation's hidden cost)
        val wDesc = W.orderBy($"wk".desc)
          .rowsBetween(W.unboundedPreceding, 0)
        val wAll = W.orderBy($"wk".desc)
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        byWk
          .withColumn("n_at_risk", sum($"n_ended").over(wDesc))
          .withColumn("n_users", sum($"n_ended").over(wAll))
          .select($"wk", $"n_at_risk", $"n_churned",
            expr("n_churned * 1000000 div n_at_risk").as("hazard_ppm"),
            expr("n_at_risk * 1000000 div n_users").as("surv_ppm"))
      },
      Some("""WITH ev AS (
          SELECT user_id,
            CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
          FROM events),
        pu AS (
          SELECT user_id, MIN(day) AS first_day, MAX(day) AS last_day
          FROM ev GROUP BY user_id),
        hz AS (SELECT MAX(day) AS end_day FROM ev),
        lt AS (
          SELECT (last_day - first_day) // 7 AS wk,
            CASE WHEN last_day <= end_day - 7 THEN 1 ELSE 0 END AS churned
          FROM pu, hz),
        bywk AS (
          SELECT wk, COUNT(*) AS n_ended,
            CAST(SUM(churned) AS BIGINT) AS n_churned
          FROM lt GROUP BY wk)
        SELECT wk, n_at_risk, n_churned,
          n_churned * 1000000 // n_at_risk AS hazard_ppm,
          n_at_risk * 1000000 // n_users AS surv_ppm
        FROM (
          SELECT wk, n_churned,
            CAST(SUM(n_ended) OVER (ORDER BY wk DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_at_risk,
            CAST(SUM(n_ended) OVER (ORDER BY wk DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS n_users
          FROM bywk) x""")),

    // ------------------------------------------------------------------
    // Traffic-concentration report: what share of all events comes
    // from the top 1% / top 10% of users — the whale/bot diagnosis
    // that decides whether per-user state needs a skew strategy
    // (salting, AQE skew join) before any per-user pipeline ships.
    // The corpus collapses to one row per user on ONE shuffle; the
    // global percentile bucket comes from Ranking.exactNtile (range-
    // partitioned sort + offset ranks — NEVER the single-partition
    // ntile window, which at 10⁹ users single-threads the rollup);
    // tiers then aggregate to 3 rows and the share divides two exact
    // integers once. NTILE semantics (remainder buckets to the
    // front) are engine-identical, and the (count desc, user_id)
    // sort is a total order, so bucket membership cannot flutter.
    Q("ev_user_concentration",
      (s, d) => {
        import s.implicits._
        val perUser = Tables.events(s, d)
          .groupBy($"user_id").agg(count(lit(1)).as("n_ev"))
        val tiled = graft.core.Ranking.exactNtile(
          perUser, 100, Seq($"n_ev".desc, $"user_id"), "pctile")
        val total = perUser.agg(sum($"n_ev").as("total_events"))
        tiled
          .withColumn("tier",
            when($"pctile" === 1, "top1pct")
              .when($"pctile" <= 10, "top10pct")
              .otherwise("rest"))
          .groupBy($"tier")
          .agg(count(lit(1)).as("n_users"), sum($"n_ev").as("n_events"))
          .crossJoin(broadcast(total))
          .select($"tier", $"n_users", $"n_events",
            expr("n_events * 1000000 div total_events").as("share_ppm"))
      },
      Some("""WITH pu AS (
          SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY user_id),
        t AS (
          SELECT user_id, n_ev,
            NTILE(100) OVER (ORDER BY n_ev DESC, user_id) AS pctile
          FROM pu),
        tiers AS (
          SELECT CASE WHEN pctile = 1 THEN 'top1pct'
                      WHEN pctile <= 10 THEN 'top10pct'
                      ELSE 'rest' END AS tier, n_ev
          FROM t),
        tot AS (SELECT CAST(SUM(n_ev) AS BIGINT) AS total_events FROM pu)
        SELECT tier, COUNT(*) AS n_users,
          CAST(SUM(n_ev) AS BIGINT) AS n_events,
          CAST(SUM(n_ev) * 1000000 // (SELECT total_events FROM tot)
            AS BIGINT) AS share_ppm
        FROM tiers GROUP BY tier""")),

    // ------------------------------------------------------------------
    // Sequential-pattern mining (order-3): the most common
    // consecutive event-type trigrams across user timelines, with
    // occurrence and distinct-user support — the path-mining step
    // between ev_markov_transitions (order-2, full matrix) and full
    // sequence mining, and the input a UX/funnel designer reads to
    // find the paths users actually take. Two stacked leads ride ONE
    // user_id window sort; the trigram table collapses via map-side
    // partials before the heap top-15 (total-order tiebreak on the
    // path string). The (ts, event_id) sort is a total order per
    // user, so every trigram — and the whole output — is
    // deterministic cross-engine.
    Q("ev_trigram_paths",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("e2", lead($"event_type", 1).over(w))
          .withColumn("e3", lead($"event_type", 2).over(w))
          .filter($"e2".isNotNull && $"e3".isNotNull)
          .select(concat_ws(">", $"event_type", $"e2", $"e3").as("path"),
            $"user_id")
          .groupBy($"path")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct($"user_id").as("n_users"))
          .orderBy($"n_occ".desc, $"path")
          .limit(15)
      },
      Some("""WITH seq AS (
          SELECT user_id, event_type,
            LEAD(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS e2,
            LEAD(event_type, 2) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS e3
          FROM events),
        tri AS (
          SELECT event_type || '>' || e2 || '>' || e3 AS path, user_id
          FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
        SELECT path, COUNT(*) AS n_occ,
          COUNT(DISTINCT user_id) AS n_users
        FROM tri GROUP BY path
        ORDER BY n_occ DESC, path LIMIT 15""")),

    // ------------------------------------------------------------------
    // M4 time-series downsampling: per (event_type, 6-hour bucket),
    // the first/last/min/max of the value series — the
    // error-free-at-pixel-resolution reduction (Jugel et al.'s M4)
    // every telemetry dashboard runs before plotting, and the shape
    // that turns a 100 TB metric history into a bounded |series| ×
    // |buckets| frame in ONE aggregation. first/last are selected by
    // min/max over (ts, event_id, value) structs — (ts, event_id) is
    // a total order, so the selection is partial-agg-order-proof and
    // engine-identical; min/max/first/last all SELECT stored doubles
    // (no float arithmetic exists to diverge). Bucket ids are exact
    // integer epoch-microsecond divisions.
    Q("ev_m4_downsample",
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_type", unix_micros($"ts").as("us"),
            $"event_id", $"value")
          .withColumn("bucket", expr("us div 21600000000"))
          .groupBy($"event_type", $"bucket")
          .agg(count(lit(1)).as("n_points"),
            min(struct($"us", $"event_id", $"value")).as("f"),
            max(struct($"us", $"event_id", $"value")).as("l"),
            min($"value").as("min_val"),
            max($"value").as("max_val"))
          .select($"event_type", $"bucket", $"n_points",
            $"f.value".as("first_val"), $"l.value".as("last_val"),
            $"min_val", $"max_val")
      },
      Some("""WITH b AS (
          SELECT event_type, epoch_us(ts) // 21600000000 AS bucket,
            epoch_us(ts) AS us, event_id, value
          FROM events),
        r AS (
          SELECT *,
            ROW_NUMBER() OVER (PARTITION BY event_type, bucket
              ORDER BY us, event_id) AS rf,
            ROW_NUMBER() OVER (PARTITION BY event_type, bucket
              ORDER BY us DESC, event_id DESC) AS rl
          FROM b)
        SELECT event_type, bucket, COUNT(*) AS n_points,
          MIN(CASE WHEN rf = 1 THEN value END) AS first_val,
          MIN(CASE WHEN rl = 1 THEN value END) AS last_val,
          MIN(value) AS min_val, MAX(value) AS max_val
        FROM r GROUP BY event_type, bucket""")),

    // ------------------------------------------------------------------
    // Count-Min sketch accuracy evaluation — the point-query sketch
    // beside the engine's HLL (distinct), SpaceSaving (top-k) and
    // KLL-style percentile evals: a 4×64 CMS of event-type counts
    // (rows are independent salted-md5 hashes), each type's estimate
    // = MIN over its 4 cells, compared against the exact count. CMS
    // can only OVERcount (collisions add), so estimate − truth ≥ 0
    // is a theorem the spec pins and the oracle hash-checks the
    // exact overestimate of. Shape: the stream collapses to
    // per-type counts FIRST (map-side), the sketch build explodes
    // the |types|-row rollup — never the event stream — and the
    // whole evaluation is |types|-sized after one shuffle. Buckets
    // are md5-digit arithmetic: exact integers in both engines.
    Q("ev_cms_accuracy",
      (s, d) => {
        import s.implicits._
        val tc = Tables.events(s, d)
          .groupBy($"event_type").agg(count(lit(1)).as("cnt"))
        val g = tc
          .select($"event_type", $"cnt",
            explode(sequence(lit(0), lit(3))).as("j"))
          .withColumn("bucket",
            conv(substring(md5(concat($"j".cast("string"), lit("_"),
              $"event_type")), 1, 4), 16, 10).cast("long") % 64)
        val cms = g.groupBy($"j", $"bucket")
          .agg(sum($"cnt").as("cell"))
        val est = g.join(cms, Seq("j", "bucket"))
          .groupBy($"event_type").agg(min($"cell").as("cms_est"))
        tc.join(est, "event_type")
          .select($"event_type", $"cnt".as("true_cnt"), $"cms_est",
            ($"cms_est" - $"cnt").as("overestimate"))
      },
      Some(s"""WITH tc AS (
          SELECT event_type, COUNT(*) AS cnt FROM events
          GROUP BY event_type),
        g AS (
          SELECT event_type, cnt, j,
            ((instr('0123456789abcdef',
                substr(md5(CAST(j AS VARCHAR) || '_' || event_type), 1, 1))
                - 1) * 4096 +
             (instr('0123456789abcdef',
                substr(md5(CAST(j AS VARCHAR) || '_' || event_type), 2, 1))
                - 1) * 256 +
             (instr('0123456789abcdef',
                substr(md5(CAST(j AS VARCHAR) || '_' || event_type), 3, 1))
                - 1) * 16 +
             (instr('0123456789abcdef',
                substr(md5(CAST(j AS VARCHAR) || '_' || event_type), 4, 1))
                - 1)) % 64 AS bucket
          FROM tc, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        cms AS (
          SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS cell
          FROM g GROUP BY j, bucket),
        est AS (
          SELECT g.event_type, MIN(cms.cell) AS cms_est
          FROM g JOIN cms ON g.j = cms.j AND g.bucket = cms.bucket
          GROUP BY g.event_type)
        SELECT t.event_type, t.cnt AS true_cnt, e.cms_est,
          e.cms_est - t.cnt AS overestimate
        FROM tc t JOIN est e ON t.event_type = e.event_type""")),

    // ------------------------------------------------------------------
    // Audience-overlap matrix: exact Jaccard of the distinct user
    // bases of every event-type pair — the cross-feature adoption
    // report (which behaviors share an audience) and the input to
    // any segment-targeting decision. The scalable shape: distinct
    // (type, user) collapses on one shuffle, each USER then emits
    // its own type-pair combinations from a sorted bounded set
    // (≤ |types|² per user, |types| is small by definition) — the
    // self-join-on-user_id formulation the oracle runs would shuffle
    // the distinct table twice and explode on power users; here the
    // pair table aggregates map-side. Sizes broadcast back; Jaccard
    // divides exact integers once.
    Q("ev_user_overlap",
      (s, d) => {
        import s.implicits._
        val ua = Tables.events(s, d)
          .select($"event_type", $"user_id").distinct()
        val sizes = ua.groupBy($"event_type").agg(count(lit(1)).as("n"))
        val pairs = ua.groupBy($"user_id")
          .agg(array_sort(collect_set($"event_type")).as("ts"))
          .select(explode(expr(
            """flatten(transform(ts, (x, i) ->
                 transform(slice(ts, i + 2, size(ts)),
                   y -> struct(x AS a, y AS b))))""")).as("p"))
          .groupBy($"p.a".as("type_a"), $"p.b".as("type_b"))
          .agg(count(lit(1)).as("n_common"))
        pairs
          .join(broadcast(sizes.select($"event_type".as("type_a"),
            $"n".as("n_a"))), "type_a")
          .join(broadcast(sizes.select($"event_type".as("type_b"),
            $"n".as("n_b"))), "type_b")
          .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_common",
            expr("n_common * 1000000 div (n_a + n_b - n_common)")
              .as("jaccard_ppm"))
      },
      Some("""WITH ua AS (
          SELECT DISTINCT event_type, user_id FROM events),
        sizes AS (
          SELECT event_type, COUNT(*) AS n FROM ua GROUP BY event_type),
        inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
            COUNT(*) AS n_common
          FROM ua a JOIN ua b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
          n_common * 1000000 // (sa.n + sb.n - n_common) AS jaccard_ppm
        FROM inter
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b""")),

    // ------------------------------------------------------------------
    // KPI delta report — the week-over-week dashboard header: per
    // event type, this week's volume against last week's and against
    // the trailing-4-week weekly average, with integer-ppm deltas
    // (the 1e6-scaled relative change; NULL when the denominator is
    // zero rather than a fake sentinel). Weeks anchor at the
    // corpus's last day (one scalar pre-pass riding a broadcast
    // one-row crossJoin); all windows come from conditional
    // aggregation over ONE scan — the naive form scans once per
    // window. Counts are exact integers; deltas divide them once.
    Q("ev_kpi_deltas",
      (s, d) => {
        import s.implicits._
        val days = Tables.events(s, d)
          .select($"event_type",
            datediff($"ts".cast("date"), lit("2024-01-01")).cast("long")
              .as("day"))
        val maxd = days.agg(max($"day").as("d0"))
        days.crossJoin(broadcast(maxd))
          .groupBy($"event_type")
          .agg(
            count(when($"day" > $"d0" - 7, 1)).as("n_this_week"),
            count(when($"day" <= $"d0" - 7 && $"day" > $"d0" - 14, 1))
              .as("n_prev_week"),
            count(when($"day" > $"d0" - 28, 1)).as("n_4wk"))
          .select($"event_type", $"n_this_week", $"n_prev_week",
            expr("n_4wk div 4").as("weekly_avg_4wk"),
            expr("(n_this_week - n_prev_week) * 1000000" +
              " div nullif(n_prev_week, 0)").as("wow_delta_ppm"),
            expr("(n_this_week - n_4wk div 4) * 1000000" +
              " div nullif(n_4wk div 4, 0)").as("vs_4wk_ppm"))
      },
      Some("""WITH days AS (
          SELECT event_type,
            CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
          FROM events),
        d0 AS (SELECT MAX(day) AS d0 FROM days),
        agg AS (
          SELECT event_type,
            COUNT(CASE WHEN day > d0 - 7 THEN 1 END) AS n_this_week,
            COUNT(CASE WHEN day <= d0 - 7 AND day > d0 - 14 THEN 1 END)
              AS n_prev_week,
            COUNT(CASE WHEN day > d0 - 28 THEN 1 END) AS n_4wk
          FROM days, d0 GROUP BY event_type)
        SELECT event_type, n_this_week, n_prev_week,
          n_4wk // 4 AS weekly_avg_4wk,
          (n_this_week - n_prev_week) * 1000000
            // nullif(n_prev_week, 0) AS wow_delta_ppm,
          (n_this_week - n_4wk // 4) * 1000000
            // nullif(n_4wk // 4, 0) AS vs_4wk_ppm
        FROM agg""")),

    // ------------------------------------------------------------------
    // Multi-window burn-rate alert backfill — the Google-SRE alert
    // rule ev_error_budget's single-window flag graduates to: fire
    // only when the error share breaches the threshold in BOTH the
    // 5-minute bucket (fast detection/fast reset) AND the trailing
    // 1-hour window (sustained burn, not a blip). The event stream
    // collapses to 5-minute buckets on one shuffle; the trailing
    // window is a RANGE frame over the bucket index on the COLLAPSED
    // frame (≤ 288 rows/day — never the event rows), and both shares
    // are integer permille. This is the backfill that tunes the
    // thresholds before the streaming twin alerts on-call.
    Q("ev_burn_rate_alert",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"bucket").rangeBetween(-11, 0)
        Tables.events(s, d)
          .select(expr("unix_micros(ts) div 300000000").as("bucket"),
            $"event_type")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_events"),
            count(when($"event_type" === "error", 1)).as("n_errors"))
          .withColumn("n_1h", sum($"n_events").over(w))
          .withColumn("nerr_1h", sum($"n_errors").over(w))
          .select($"bucket", $"n_events", $"n_errors",
            expr("n_errors * 1000 div n_events").as("short_permille"),
            expr("nerr_1h * 1000 div n_1h").as("long_permille"))
          .withColumn("alert",
            $"short_permille" > 250 && $"long_permille" > 250)
      },
      Some("""WITH b AS (
          SELECT epoch_us(ts) // 300000000 AS bucket,
            COUNT(*) AS n_events,
            COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
          FROM events GROUP BY 1),
        framed AS (
          SELECT bucket, n_events, n_errors,
            CAST(SUM(n_events) OVER (ORDER BY bucket
              RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT)
              AS n_1h,
            CAST(SUM(n_errors) OVER (ORDER BY bucket
              RANGE BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT)
              AS nerr_1h
          FROM b)
        SELECT bucket, n_events, n_errors,
          n_errors * 1000 // n_events AS short_permille,
          nerr_1h * 1000 // n_1h AS long_permille,
          n_errors * 1000 // n_events > 250
            AND nerr_1h * 1000 // n_1h > 250 AS alert
        FROM framed""")),

    // ------------------------------------------------------------------
    // New-vs-returning daily split — the acquisition/retention
    // decomposition every growth dashboard leads with: per day,
    // events and users attributable to users seen for the FIRST time
    // that day vs returning users. The first-seen day rides a window
    // MIN on the user shuffle (the first-occurrence trick — never a
    // user-base join-back), the daily rollup collapses the same
    // frame, and the share is integer permille. One shuffle total.
    Q("ev_new_vs_returning",
      (s, d) => {
        import s.implicits._
        val wUser = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id")
        Tables.events(s, d)
          .select($"user_id",
            datediff($"ts".cast("date"), lit("2024-01-01")).cast("long")
              .as("day"))
          .withColumn("first_day", min($"day").over(wUser))
          .withColumn("is_new", $"day" === $"first_day")
          .groupBy($"day")
          .agg(count(lit(1)).as("n_events"),
            count(when($"is_new", 1)).as("n_new_events"),
            countDistinct(when($"is_new", $"user_id")).as("n_new_users"),
            countDistinct($"user_id").as("n_users"))
          .withColumn("new_share_permille",
            expr("n_new_events * 1000 div n_events"))
      },
      Some("""WITH ev AS (
          SELECT user_id,
            CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day
          FROM events),
        marked AS (
          SELECT day, user_id,
            day = MIN(day) OVER (PARTITION BY user_id) AS is_new
          FROM ev)
        SELECT day, COUNT(*) AS n_events,
          COUNT(CASE WHEN is_new THEN 1 END) AS n_new_events,
          COUNT(DISTINCT CASE WHEN is_new THEN user_id END) AS n_new_users,
          COUNT(DISTINCT user_id) AS n_users,
          COUNT(CASE WHEN is_new THEN 1 END) * 1000 // COUNT(*)
            AS new_share_permille
        FROM marked GROUP BY day""")),

    // ------------------------------------------------------------------
    // Attribution-model comparison — first-touch vs last-touch vs
    // linear credit, side by side per touch type: the report that
    // decides WHICH attribution model a business adopts, where
    // ev_multitouch_attribution computes one model. Per converting
    // user (first purchase), the strictly-earlier view/click touches
    // are credited three ways: all-credit-to-first, all-credit-to-
    // last (both selected by min/max over the (ts, event_id) total
    // order — engine-exact), and 10⁶ div n_touches each (integer
    // micro-credits; the per-user floor remainder is the documented
    // quantization). Touch collection, the per-user extremes and the
    // touch counts all ride ONE user_id shuffle; the final rollup is
    // |types|-sized.
    Q("ev_attribution_compare",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select($"user_id", $"ts", $"event_id", $"event_type")
        val conv = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id")
          .agg(min($"ts").as("p_ts"))
        val wUser = W.partitionBy($"user_id")
        val touches = ev
          .filter($"event_type".isin("view", "click"))
          .join(conv, "user_id")
          .filter($"ts" < $"p_ts")
          .withColumn("k", struct($"ts", $"event_id"))
          .withColumn("is_first", $"k" === min($"k").over(wUser))
          .withColumn("is_last", $"k" === max($"k").over(wUser))
          .withColumn("n_touches", count(lit(1)).over(wUser))
        touches
          .groupBy($"event_type")
          .agg(count(when($"is_first", 1)).as("first_touch_convs"),
            count(when($"is_last", 1)).as("last_touch_convs"),
            sum(expr("1000000 div n_touches")).as("linear_credit_micro"))
      },
      Some("""WITH conv AS (
          SELECT user_id, MIN(ts) AS p_ts
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id),
        touches AS (
          SELECT e.user_id, e.ts, e.event_id, e.event_type
          FROM events e JOIN conv ON e.user_id = conv.user_id
          WHERE e.event_type IN ('view', 'click') AND e.ts < conv.p_ts),
        marked AS (
          SELECT event_type,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) = 1 AS is_first,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) = 1 AS is_last,
            COUNT(*) OVER (PARTITION BY user_id) AS n_touches
          FROM touches)
        SELECT event_type,
          COUNT(CASE WHEN is_first THEN 1 END) AS first_touch_convs,
          COUNT(CASE WHEN is_last THEN 1 END) AS last_touch_convs,
          CAST(SUM(1000000 // n_touches) AS BIGINT)
            AS linear_credit_micro
        FROM marked GROUP BY event_type""")),

    // ------------------------------------------------------------------
    // Attribution-window sensitivity for the signup→click→purchase
    // funnel: the SAME funnel evaluated under 1-hour, 24-hour and
    // 7-day stage windows (each stage must land within `win` of the
    // previous stage's timestamp) in ONE pass — the three window
    // configs are explode-tagged BEFORE the per-user shuffle, so all
    // three ride one (user_id, win) exchange and the three stage
    // minima reuse that single partitioning (the txt_pack_efficiency
    // device applied to the funnel). Timestamps are exact epoch
    // MICROSECONDS, conversion rates integer ppm — nothing floats.
    // The report answers the question every funnel dashboard gets
    // wrong by fixing one window silently: how much of "conversion"
    // is just the window definition. At 100 TB this is the same
    // plan as ev_funnel — user-partitioned windows — at 3× the
    // shuffle payload, still far cheaper than three separate runs.
    Q("ev_funnel_windows",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id", $"win")
        val staged = Tables.events(s, d)
          .select($"user_id", $"event_type",
            unix_micros($"ts").as("tus"),
            explode(array(lit(3600000000L), lit(86400000000L),
              lit(604800000000L))).as("win"))
          .withColumn("t_signup",
            min(when($"event_type" === "signup", $"tus")).over(w))
          .withColumn("t_click",
            min(when($"event_type" === "click" && $"tus" > $"t_signup"
              && $"tus" <= $"t_signup" + $"win", $"tus")).over(w))
          .withColumn("t_purchase",
            min(when($"event_type" === "purchase" && $"tus" > $"t_click"
              && $"tus" <= $"t_click" + $"win", $"tus")).over(w))
          .filter($"t_signup".isNotNull)
          .groupBy($"win", $"user_id")
          .agg(min($"t_click").as("t_click"),
            min($"t_purchase").as("t_purchase"))
        staged.groupBy($"win")
          .agg(count(lit(1)).as("n_signup"),
            sum(when($"t_click".isNotNull, 1L).otherwise(0L))
              .as("n_click"),
            sum(when($"t_purchase".isNotNull, 1L).otherwise(0L))
              .as("n_purchase"))
          .select(expr("win div 1000000").as("win_s"),
            $"n_signup", $"n_click", $"n_purchase",
            expr("n_click * 1000000 div n_signup")
              .as("conv_click_ppm"),
            when($"n_click" === 0L, 0L)
              .otherwise(expr("n_purchase * 1000000 div n_click"))
              .as("conv_purchase_ppm"))
      },
      Some("""WITH wins AS (
          SELECT unnest([3600000000, 86400000000, 604800000000])
            AS win),
        ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus, win
          FROM events CROSS JOIN wins),
        t1 AS (SELECT win, user_id, MIN(tus) AS t_signup FROM ev
          WHERE event_type = 'signup' GROUP BY 1, 2),
        t2 AS (SELECT e.win, e.user_id, MIN(e.tus) AS t_click
          FROM ev e JOIN t1 ON e.user_id = t1.user_id
            AND e.win = t1.win
          WHERE e.event_type = 'click' AND e.tus > t1.t_signup
            AND e.tus <= t1.t_signup + e.win
          GROUP BY 1, 2),
        t3 AS (SELECT e.win, e.user_id, MIN(e.tus) AS t_purchase
          FROM ev e JOIN t2 ON e.user_id = t2.user_id
            AND e.win = t2.win
          WHERE e.event_type = 'purchase' AND e.tus > t2.t_click
            AND e.tus <= t2.t_click + e.win
          GROUP BY 1, 2),
        cells AS (
          SELECT t1.win,
            CAST(COUNT(*) AS BIGINT) AS n_signup,
            CAST(COUNT(t2.t_click) AS BIGINT) AS n_click,
            CAST(COUNT(t3.t_purchase) AS BIGINT) AS n_purchase
          FROM t1
          LEFT JOIN t2 ON t1.user_id = t2.user_id AND t1.win = t2.win
          LEFT JOIN t3 ON t1.user_id = t3.user_id AND t1.win = t3.win
          GROUP BY 1)
        SELECT CAST(win // 1000000 AS BIGINT) AS win_s,
          n_signup, n_click, n_purchase,
          n_click * 1000000 // n_signup AS conv_click_ppm,
          CASE WHEN n_click = 0 THEN CAST(0 AS BIGINT)
            ELSE n_purchase * 1000000 // n_click END
            AS conv_purchase_ppm
        FROM cells""")),

    // ------------------------------------------------------------------
    // Win-back targeting — the growth-analytics read that decides
    // which lapsed users are worth re-engaging: users inactive for
    // >14 days as of the corpus's own last timestamp (a
    // deterministic "now" — wall clocks don't belong in replayable
    // pipelines), segmented by lifetime-value decile. LTV deciles
    // come from [[graft.core.Ranking.exactNtile]] over exact
    // micro-value totals — the range-partitioned device, never a
    // single-partition NTILE window over all users. Per decile:
    // population, lapsed count, lapse rate ppm, and the decile's
    // total value in micro-units — the table a win-back campaign is
    // budgeted from (high-decile lapsed users first). One (user)
    // shuffle for the rollup; everything after is decile-sized.
    Q("ev_winback_segments",
      (s, d) => {
        import s.implicits._
        val vMicro = floor($"value" * 1000000).cast("long")
        val perUser = Tables.events(s, d)
          .groupBy($"user_id")
          .agg(max(unix_micros($"ts")).as("last_us"),
            sum(vMicro).as("ltv_micro"))
        val tiled = graft.core.Ranking.exactNtile(
          perUser, 10, Seq($"ltv_micro", $"user_id"), "decile")
        // "now" = the corpus max, read off the tiled frame — whose
        // sorted RDD exactNtile already persists — so the reference
        // point costs one cached-RDD pass, not a second parquet scan
        // plus a second per-user shuffle.
        val ref = tiled.agg(max($"last_us").as("ref_us"))
        tiled.crossJoin(broadcast(ref))
          .withColumn("lapsed",
            when($"last_us" < $"ref_us" - lit(14L * 86400000000L), 1L)
              .otherwise(0L))
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_users"),
            sum($"lapsed").as("n_lapsed"),
            sum($"ltv_micro").as("decile_value_micro"))
          .select($"decile", $"n_users", $"n_lapsed",
            expr("n_lapsed * 1000000 div n_users").as("lapse_ppm"),
            $"decile_value_micro")
      },
      Some("""WITH per_user AS (
          SELECT user_id,
            CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
            CAST(SUM(CAST(floor(value * 1000000) AS BIGINT))
              AS BIGINT) AS ltv_micro
          FROM events GROUP BY 1),
        ref AS (SELECT MAX(last_us) AS ref_us FROM per_user),
        tiled AS (
          SELECT *, CAST(NTILE(10) OVER (ORDER BY ltv_micro, user_id)
            AS BIGINT) AS decile
          FROM per_user)
        SELECT decile,
          CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(COUNT(CASE WHEN last_us < ref_us - 1209600000000
            THEN 1 END) AS BIGINT) AS n_lapsed,
          CAST(COUNT(CASE WHEN last_us < ref_us - 1209600000000
            THEN 1 END) AS BIGINT) * 1000000
            // CAST(COUNT(*) AS BIGINT) AS lapse_ppm,
          CAST(SUM(ltv_micro) AS BIGINT) AS decile_value_micro
        FROM tiled CROSS JOIN ref
        GROUP BY decile"""))
  )
}
