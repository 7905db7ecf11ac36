package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}
import graft.core.Joins

/** Targeted semantics for the round-3 operators, beyond the DuckDB
  * hash gate: as-of null wing + row atomicity, salted-join parity,
  * unpivot shape, range-frame trailing sums, keep-best survivor
  * rules, session-window accounting, BPE piece boundaries, and IVF
  * assignment fixpoints.
  */
class Round3Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("asofJoin: latest <=, null wing when nothing precedes, atomic rows") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 5L), (2L, 7L)).toDF("k", "ts")
    // right has a null-field row at ts=9 and an older complete row at
    // ts=4: per-column carry would mix b=4's value into ts=9's match.
    val right = Seq((1L, 4L, Some("a"), Some(100L)),
                    (1L, 9L, Some("b"), None),
                    (2L, 8L, Some("c"), Some(300L)))
      .toDF("k", "ts", "v", "x")
    val out = Joins.asofJoin(left, right, "k", "ts", Seq("v", "x"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(out === Set(
      (1L, 10L, Some("b"), None),      // atomic: ts=9 row as-is
      (1L, 5L, Some("a"), Some(100L)), // reaches back past ts=9
      (2L, 7L, None, None)))           // right ts=8 > 7: no match
  }

  test("saltedJoin equals the plain join") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_suppkey".as("suppkey"), $"l_quantity")
    val sup = Tables.supplier(spark, sf)
      .select($"s_suppkey".as("suppkey"), $"s_nationkey")
    val salted = Joins.saltedJoin(li, sup, "suppkey", factor = 8)
      .groupBy($"s_nationkey").count()
    val plain = li.join(sup, "suppkey")
      .groupBy($"s_nationkey").count()
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("unpivot emits one row per (row, measure) pair") {
    val nPart = Tables.part(spark, sf).count()
    val un = SparkEntry.queries("rel_unpivot")(spark, sf)
    assert(un.count() === 2 * nPart)
    assert(un.columns.toSeq === Seq("p_partkey", "attr", "val"))
  }

  test("trailing 30d revenue covers at least the row's own order") {
    import spark.implicits._
    val out = SparkEntry.queries("rel_trailing_30d_revenue")(spark, sf)
      .join(Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice"),
        Seq("o_orderkey"))
    assert(out.filter($"rev_30d" < $"o_totalprice" - 0.01).count() === 0)
    // spot-check one customer end-to-end against a driver-side fold
    val ck = out.select($"o_custkey".as[Long]).head()
    val rows = Tables.orders(spark, sf).filter($"o_custkey" === ck)
      .select(to_date($"o_orderdate").as[java.sql.Date],
        $"o_totalprice".as[Double], $"o_orderkey".as[Long])
      .collect()
    val expect = rows.map { case (d0, _, k) =>
      k -> BigDecimal(rows.filter { case (d1, _, _) =>
        val diff = (d0.toLocalDate.toEpochDay - d1.toLocalDate.toEpochDay)
        diff >= 0 && diff <= 30
      }.map { case (_, p, _) => BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble)
    }.toMap
    val got = out.filter($"o_custkey" === ck)
      .select($"o_orderkey".as[Long], $"rev_30d".as[Double])
      .collect().toMap
    assert(got.keySet === expect.keySet)
    for ((k, v) <- got) assert(math.abs(v - expect(k).toDouble) < 1e-6, s"order $k")
  }

  test("connectedComponents: fast path and iterative path agree") {
    import spark.implicits._
    // chain (1-2-3-4), a pair, a star — labels are component minima
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (20L, 21L), (20L, 22L))
    val e0 = raw.toDF("src", "dst")
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val expect = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L))
    val fast = Dedup.connectedComponents(edges, smallGraphEdges = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val iterative = Dedup.connectedComponents(edges, smallGraphEdges = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === expect)
    assert(iterative === expect)
    // edgeBound (round 10): a true upper bound at or under the
    // small-graph threshold certifies the DSU path without the eager
    // count job — identical labels; a bound ABOVE the threshold
    // proves nothing and must fall back to counting (here: the count
    // lands under MaxValue, so still the DSU path, still identical).
    val bounded = Dedup.connectedComponents(edges, edgeBound = 12L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overBound = Dedup.connectedComponents(edges,
        edgeBound = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded === expect)
    assert(overBound === expect)
  }

  test("keep-best: exact-duplicate copies never survive") {
    import spark.implicits._
    val survivors = SparkEntry.queries("dedup_lsh_keep_best")(spark, sf)
    // corpus adds doc_id+100000 as byte-identical copies: same
    // signature, same buckets, same length — the higher id always
    // loses the tiebreak (whether or not something longer also wins).
    assert(survivors.filter($"doc_id" >= 100000L && $"doc_id" < 200000L)
      .count() === 0)
    assert(survivors.count() > 0)
  }

  test("session windows partition every event exactly once") {
    import spark.implicits._
    val sessions = SparkEntry.queries("ev_session_window")(spark, sf)
    val nEvents = Tables.events(spark, sf).count()
    assert(sessions.agg(sum($"n_events")).as[Long].head() === nEvents)
    assert(sessions.filter($"session_end" <= $"session_start").count() === 0)
    // gap invariant: consecutive sessions of one user start at least
    // 30 minutes after the previous session's last event
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"session_start")
    val overlaps = sessions
      .withColumn("prev_end", lag($"session_end", 1).over(w))
      .filter($"prev_end".isNotNull && $"session_start" < $"prev_end")
    assert(overlaps.count() === 0)
  }

  test("BPE pieces match the hand-tokenized example") {
    import spark.implicits._
    val pat = "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
    val pieces = Seq("Hello's  world 123!").toDF("text")
      .select(regexp_extract_all($"text", lit(pat), lit(0)).as("p"))
      .as[Seq[String]].head()
    assert(pieces === Seq("Hello", "'s", "  ", "world", " 123", "!"))
    val stats = SparkEntry.queries("txt_bpe_tokens")(spark, sf)
    assert(stats.filter($"n_bpe" < $"n_ws").count() === 0)
    assert(stats.filter($"n_bpe_distinct" > $"n_bpe").count() === 0)
  }

  test("SQL frontend accounts for every order exactly once") {
    import spark.implicits._
    val out = SparkEntry.queries("rel_sql_frontend")(spark, sf)
    assert(out.agg(sum($"n_orders")).as[Long].head() ===
      Tables.orders(spark, sf).count())
  }

  test("interval coverage bounds: one span <= coverage <= n*span") {
    import spark.implicits._
    val cov = SparkEntry.queries("ev_interval_coverage")(spark, sf)
    val views = Tables.events(spark, sf).filter($"event_type" === "view")
      .groupBy($"user_id").count()
    val joined = cov.join(views, "user_id")
    assert(cov.count() === views.count())
    assert(joined.filter($"covered_us" < 300000000L ||
      $"covered_us" > $"count" * 300000000L).count() === 0)
  }

  test("rank metrics: ratios bounded, first_value constant per partition") {
    import spark.implicits._
    val r = SparkEntry.queries("ev_rank_metrics")(spark, sf)
    assert(r.filter($"pct_rank" < 0 || $"pct_rank" > 1 ||
      $"cume" <= 0 || $"cume" > 1).count() === 0)
    assert(r.groupBy($"event_type")
      .agg(countDistinct($"first_id").as("nf"))
      .filter($"nf" =!= 1).count() === 0)
  }

  test("fuzzy verify: exact-copy candidate pairs have distance zero") {
    import spark.implicits._
    val pairs = SparkEntry.queries("dedup_fuzzy_verify")(spark, sf)
    assert(pairs.count() > 0)
    // true copy pairs only: (d, d+100000) with d an original id —
    // (d+100000, d+200000) also differs by 100000 but is copy vs
    // near-dup, which legitimately has distance 5 on short docs
    assert(pairs.filter($"doc_a" < 100000L &&
      $"doc_b" === $"doc_a" + 100000L &&
      $"lev_prefix" =!= 0).count() === 0)
  }

  test("user journey has exactly n_events legs in timestamp order") {
    import spark.implicits._
    val j = SparkEntry.queries("ev_user_journey")(spark, sf)
    assert(j.filter(size(split($"journey", ">")) =!= $"n_events")
      .count() === 0)
  }

  test("column thresholds: every doc gets one threshold, fallback is 0.5") {
    import spark.implicits._
    val t = SparkEntry.queries("par_column_threshold")(spark, sf)
    val lines = Tables.events(spark, sf)
      .select($"user_id".cast("string").as("doc"), ($"value" / 100.0).as("pos"))
    val stats = lines.groupBy($"doc")
      .agg(min($"pos").as("mn"), max($"pos").as("mx"))
    assert(t.count() === stats.count())
    // a computed threshold lies inside the doc's x-range; 0.5 is the
    // ineligible-doc fallback
    assert(t.join(stats, "doc")
      .filter($"threshold" =!= 0.5 &&
        ($"threshold" < $"mn" || $"threshold" > $"mx")).count() === 0)
  }

  test("gap fill: contiguous per-user calendar, no unfilled days") {
    import spark.implicits._
    val g = SparkEntry.queries("ev_gap_fill")(spark, sf)
    assert(g.filter($"filled_value".isNull).count() === 0)
    val spans = g.groupBy($"user_id")
      .agg((max($"day_num") - min($"day_num") + 1).as("span"),
           count(lit(1)).as("n"))
    assert(spans.filter($"span" =!= $"n").count() === 0)
  }

  test("typed JSON parse finds k in every event") {
    import spark.implicits._
    val t = SparkEntry.queries("ev_json_typed")(spark, sf)
    assert(t.filter($"k".isNull).count() === 0)
    assert(t.count() === Tables.events(spark, sf).count())
  }

  test("IVF assignment: total and centroid fixpoints") {
    import spark.implicits._
    val assigned = SparkEntry.queries("sim_ivf_assign")(spark, sf)
    assert(assigned.count() === Tables.embeddings(spark, sf).count())
    // a centroid's nearest centroid is itself (cosine 1.0)
    assert(assigned.filter($"vec_id" < 16 && $"vec_id" =!= $"centroid_id")
      .count() === 0)
  }
}
