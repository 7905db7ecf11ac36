package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Targeted semantics for the round-3 fourth wave, beyond the DuckDB
  * hash gate: weighted-sample determinism, PMI margin accounting, and
  * the integer readability formula.
  */
class Round4Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("txt_weighted_sample: deterministic, weight-biased, 100 rows") {
    val a = run("txt_weighted_sample").collect()
    val b = run("txt_weighted_sample").collect()
    assert(a.toSeq == b.toSeq, "bit-identical across runs")
    assert(a.length == 100)
    // Weighted bias: the sampled docs' mean weight exceeds the
    // corpus mean (priority = h/w favors heavy docs).
    import spark.implicits._
    val sampledMean = a.map(_.getLong(1)).sum.toDouble / a.length
    val corpusMean = graft.Tables.documents(spark, sf)
      .select(greatest(size(split(trim(lower($"text")), "\\s+")), lit(1))
        .cast("long").as("w"))
      .agg(avg($"w")).head().getDouble(0)
    assert(sampledMean > corpusMean,
      s"sampled mean $sampledMean should exceed corpus mean $corpusMean")
  }

  test("txt_pmi_collocations: margins and lift agree with a direct count") {
    import spark.implicits._
    val rows = run("txt_pmi_collocations").collect()
    assert(rows.nonEmpty && rows.length <= 30)
    // Recompute the corpus bigram total once; every row's lift must
    // reproduce from its own margins with integer arithmetic.
    val toks = graft.Tables.documents(spark, sf)
      .select(split(trim(lower($"text")), "\\s+").as("t"))
      .filter(size($"t") >= 2)
    val n = toks.select((size($"t") - 1).cast("long").as("k"))
      .agg(sum($"k")).head().getLong(0)
    for (r <- rows) {
      val (nab, na, nb, lift) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nab >= 5)
      assert(lift == nab * n * 1000000L / (na * nb), r.toString)
    }
    // Descending lift with (w1, w2) tiebreak — a total order.
    val keys = rows.toSeq
      .map(r => (-r.getLong(5), r.getString(0), r.getString(1)))
    assert(keys == keys.sorted, "ordered by lift desc")
  }

  test("txt_readability: hand-checked Flesch integers on the formula") {
    import spark.implicits._
    val out = run("txt_readability").collect()
    assert(out.length > 0)
    for (r <- out) {
      val (ns, nw, syl, flesch) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ns >= 1 && nw >= 1)
      assert(flesch == 206835L - (1015L * nw) / ns - (84600L * syl) / nw)
      val band = r.getString(5)
      assert(band == (if (flesch >= 70000) "easy"
                      else if (flesch >= 50000) "medium" else "hard"))
    }
  }

  test("gr_kcore survivors all have final degree computed in-subgraph") {
    val rows = run("gr_kcore").collect()
    // Fixed-round peeling may leave sub-k fringe (by design), but
    // every reported degree is >= 1 and the node set is distinct.
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.forall(_.getLong(1) >= 1))
  }

  test("txt_mixture_weights: shares sum to ~1e6, caps consistent") {
    val rows = run("txt_mixture_weights").collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getLong(3)).sum
    // Integer-floored shares: within |sources| ppm of exactly 1e6.
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length)
    for (r <- rows) {
      val (mult, capped) = (r.getLong(4), r.getLong(5))
      assert(mult <= 3000000L)
      assert((capped == 1L) == (mult == 3000000L) || capped == 0L)
      if (capped == 1L) assert(mult == 3000000L)
    }
  }

  test("txt_source_overlap: shared counts bounded by content counts") {
    val rows = run("txt_source_overlap").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, shared, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(shared >= 0 && shared <= n)
      assert(ppm == shared * 1000000L / n)
    }
  }

  test("ev_changepoint_cusum: scaled deviations telescope to zero") {
    val rows = run("ev_changepoint_cusum").collect()
      .sortBy(_.getTimestamp(0).toString)
    assert(rows.nonEmpty)
    // cusum_t = Σ(x·nd − total) ⇒ the final prefix sum is exactly 0.
    assert(rows.last.getLong(2) == 0L, "telescoping invariant")
    assert(rows.count(_.getLong(3) == 1L) >= 1, "at least one peak day")
    val mx = rows.map(r => math.abs(r.getLong(2))).max
    for (r <- rows)
      assert((r.getLong(3) == 1L) == (math.abs(r.getLong(2)) == mx))
  }

  test("rel_price_deciles: balanced counts, non-overlapping ranges") {
    val rows = run("rel_price_deciles").collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val counts = rows.map(_.getLong(1))
    assert(counts.max - counts.min <= 1, "ntile balance")
    for (Array(a, b) <- rows.sliding(2))
      assert(a.getDouble(3) <= b.getDouble(2),
        "decile ranges must not overlap")
  }

  test("rel_weighted_median matches a driver-side exact computation") {
    import spark.implicits._
    val got = run("rel_weighted_median").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rows = graft.Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey",
        $"l_linenumber", $"l_quantity".cast("long"))
      .as[(String, Double, Long, Int, Long)].collect()
    for ((flag, grp) <- rows.groupBy(_._1)) {
      val sorted = grp.sortBy(t => (t._2, t._3, t._4))
      val total = sorted.map(_._5).sum
      var cum = 0L
      val hit = sorted.find { t => cum += t._5; cum * 2 >= total }.get
      assert(got(flag) == ((total, hit._2)), s"flag $flag")
    }
  }

  test("txt_source_diversity: gini bounds and purity") {
    val rows = run("txt_source_diversity").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nLangs, gini) = (r.getLong(1), r.getLong(3))
      assert(gini >= 0 && gini < 1000000L)
      if (nLangs == 1) assert(gini == 0L, "pure source has zero impurity")
      else assert(gini > 0L)
    }
  }

  test("rel_pareto_frontier: mutually non-dominated, size rises with price") {
    val rows = run("rel_pareto_frontier").collect()
      .sortBy(_.getDouble(0))
    assert(rows.nonEmpty)
    for (Array(a, b) <- rows.sliding(2)) {
      assert(a.getDouble(0) < b.getDouble(0), "distinct ascending prices")
      assert(a.getInt(1) < b.getInt(1),
        "along the frontier size must strictly increase")
    }
  }

  test("ev_peak_concurrency matches a driver-side sweep") {
    import spark.implicits._
    val got = run("ev_peak_concurrency").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val evs = graft.Tables.events(spark, sf)
      .select($"event_type", unix_micros($"ts"))
      .as[(String, Long)].collect()
    for ((tpe, grp) <- evs.groupBy(_._1)) {
      val deltas = (grp.map(e => (e._2, 1L)) ++
        grp.map(e => (e._2 + 300000000L, -1L))).sortBy(x => (x._1, x._2))
      var run0 = 0L; var peak = 0L; var tPeak = Long.MaxValue
      for ((t, dl) <- deltas) {
        run0 += dl
        if (run0 > peak) { peak = run0; tPeak = t }
      }
      assert(got(tpe) == ((peak, tPeak)), s"type $tpe")
    }
  }

  test("ev_cohort_ltv: cumulative column telescopes the week values") {
    val rows = run("ev_cohort_ltv").collect()
    assert(rows.nonEmpty)
    for ((_, grp) <- rows.groupBy(_.getTimestamp(0).toString)) {
      val sorted = grp.sortBy(_.getLong(1))
      var cum = BigDecimal(0)
      for (r <- sorted) {
        cum += BigDecimal(r.getDouble(3))
        assert(math.abs(cum.toDouble - r.getDouble(4)) < 1e-6,
          s"cum mismatch at ${r.mkString(",")}")
      }
    }
  }

  test("txt_rake_keywords: top-3 per doc, stopwords excluded, score exact") {
    val stop = Set("the", "a", "of", "and", "is", "to", "in")
    val rows = run("txt_rake_keywords").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (word, deg, freq, score, rk) = (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5).toInt)
      assert(!stop.contains(word), s"stopword $word surfaced as keyword")
      assert(deg >= freq, "each occurrence contributes phrase_len >= 1")
      assert(score == deg * 1000000L / freq)
      assert(rk >= 1 && rk <= 3)
    }
    for ((_, grp) <- rows.groupBy(_.getLong(0))) {
      assert(grp.length <= 3)
      assert(grp.map(_.getLong(5).toInt).sorted.toSeq == (1 to grp.length))
    }
  }

  test("ev_seasonality: a 7x24 load matrix accounting for every event") {
    val rows = run("ev_seasonality").collect()
    assert(rows.length <= 168)
    for (r <- rows) {
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 6)
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 23)
      assert(r.getLong(3) <= r.getLong(2), "distinct users <= events")
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.Tables.events(spark, sf).count())
  }

  test("rel_rank_movers: ranks are a permutation per month, moves add up") {
    val rows = run("rel_rank_movers").collect()
    assert(rows.nonEmpty)
    for ((_, grp) <- rows.groupBy(_.getTimestamp(0))) {
      assert(grp.map(_.getLong(3).toInt).sorted.toSeq == (1 to grp.length),
        "month ranks must be 1..n")
    }
    for (r <- rows; if !r.isNullAt(4))
      assert(r.getLong(5) == r.getLong(4) - r.getLong(3))
  }

  test("txt_bpe_merge_count: single chars, weighted by vocab frequency") {
    val rows = run("txt_bpe_merge_count").collect()
    assert(rows.length == 20)
    for (r <- rows) {
      assert(r.getString(0).length == 1 && r.getString(1).length == 1)
      assert(r.getLong(2) >= 1)
    }
    val keys = rows.toSeq
      .map(r => (-r.getLong(2), r.getString(0), r.getString(1)))
    assert(keys == keys.sorted, "ordered by pair count desc")
  }

  test("rel_window_semantics: distribution-window invariants") {
    val rows = run("rel_window_semantics").collect()
    assert(rows.nonEmpty)
    for ((_, grp0) <- rows.groupBy(_.getString(0))) {
      val grp = grp0.sortBy(r =>
        (r.getDouble(1), r.getLong(2), r.getInt(3)))
      val n = grp.length
      for ((r, idx) <- grp.zipWithIndex) {
        assert(r.getDouble(5) == (if (n == 1) 0.0
          else idx.toDouble / (n - 1)), "percent_rank under a total order")
        assert(r.getDouble(6) == (idx + 1).toDouble / n,
          "cume_dist under a total order")
        if (idx < 2) assert(r.isNullAt(7), "nth_value null before 3 rows")
        else assert(r.getDouble(7) == grp(2).getDouble(4),
          "nth_value = third row's price once seen")
      }
      val sizes = grp.groupBy(_.getInt(8)).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, "ntile balance")
    }
  }

  test("sim_threshold_sweep: monotone counts across thresholds") {
    val rows = run("sim_threshold_sweep").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (n, a, b, c) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(a >= b && b >= c, "tighter threshold, fewer pairs")
      assert(a <= n)
    }
  }

  test("mm_scene_cuts: cut accounting per video") {
    val rows = run("mm_scene_cuts").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nFrames, nCuts) = (r.getLong(1), r.getLong(2))
      assert(nFrames >= 1 && nFrames <= 32)
      assert(nCuts >= 0 && nCuts < nFrames,
        "a cut needs a previous frame")
      if (nCuts == 0) assert(r.isNullAt(3), "no cuts -> no first cut")
      else {
        assert(!r.isNullAt(3))
        assert(r.getLong(3) >= 1 && r.getLong(3) <= nFrames - 1)
      }
    }
  }

  test("gr_common_neighbors: predictions are non-adjacent and cn-bounded") {
    import spark.implicits._
    val rows = run("gr_common_neighbors").collect()
    assert(rows.nonEmpty && rows.length <= 30)
    for (r <- rows) {
      val (x, y, cn, dx, dy, den) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(x < y, "canonical pair order")
      assert(cn >= 2 && cn <= math.min(dx, dy),
        "common neighbors bounded by the smaller degree")
      assert(den == dx + dy - cn)
    }
  }

  test("peak concurrency: window and distributed regimes are " +
       "row-identical on the real corpus at two SFs") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = graft.Tables.events(spark, d)
      val w = EventsOps.peakConcurrencyFrame(ev, distributed = false)
        .collect().map(_.toString).sorted.toSeq
      val r = EventsOps.peakConcurrencyFrame(ev, distributed = true)
        .collect().map(_.toString).sorted.toSeq
      assert(w.nonEmpty && w == r, s"regimes diverge at $d")
    }
  }
}
