package graft.ext

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Partition-count invariance + semantic pins for the round-4 second
  * wave (multimodal dedup verdict, SQ8 recall, cleaning funnel, Q2
  * min-cost supplier) — same contract as the earlier invariance
  * specs: bit-identical output under different shuffle-partition
  * counts, plus the hand-checkable properties the sf-dir oracles
  * cannot pin on their own.
  */
class Round9Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "mm_dedup_verdict", "sim_sq_recall", "txt_filter_funnel",
    "rel_min_cost_supplier",
    "gr_hits", "ev_user_concentration", "txt_zipf_check",
    "sim_lsh_recall", "sim_kmeans_quality", "ev_trigram_paths",
    "dedup_source_impact", "txt_fertility_by_lang",
    "rel_k_anonymity", "ev_m4_downsample",
    "ev_cms_accuracy", "mm_tile_plan",
    "dedup_onion", "ev_user_overlap", "sim_kpp_init",
    "rel_chi2_independence", "rel_outlier_iqr", "txt_code_detect",
    "rel_scd2_lookup", "gr_random_walk",
    "dedup_lsh_recall_curve", "ev_kpi_deltas",
    "sim_embedding_health", "txt_length_histogram",
    "sim_probe_sweep", "gr_graph_summary",
    "ev_burn_rate_alert", "rel_grouping_id",
    "ev_new_vs_returning", "txt_quality_dedup_matrix",
    "ev_attribution_compare", "dedup_shingle_sweep",
    "rel_keep_last_n", "dedup_cluster_purity")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("multimodal verdict keeps exactly one doc per cluster and " +
       "clusters never cross modality") {
    val rows = SparkEntry.queries("mm_dedup_verdict")(spark, sf).collect()
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    for ((cid, members) <- byCluster) {
      val kept = members.count(_.getAs[Boolean]("is_kept"))
      assert(kept == 1, s"cluster $cid keeps $kept docs, want exactly 1")
      assert(members.map(_.getAs[String]("kind")).distinct.length == 1,
        s"cluster $cid mixes modalities — pHash edges are within-kind")
      assert(members.forall(_.getAs[Long]("cluster_size") ==
        members.length.toLong), s"cluster $cid size column wrong")
      // min-label construction: the survivor IS the cluster id
      assert(members.filter(_.getAs[Boolean]("is_kept"))
        .head.getAs[Long]("doc_id") == cid)
    }
    // every corpus doc is present exactly once
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
  }

  test("SQ recall is bounded by 10⁶ ppm and measures against a full " +
       "exact top-5") {
    val rows = SparkEntry.queries("sim_sq_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_exact") == 5L)
      assert(r.getAs[Long]("n_hit") <= 5L)
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hit") * 1000000L / 5L)
    }
  }

  test("filter funnel chains: stage k+1 reads exactly what stage k " +
       "passed, counts never increase, stage 1 sees the whole corpus") {
    val rows = SparkEntry.queries("txt_filter_funnel")(spark, sf)
      .collect().sortBy(_.getAs[Long]("stage"))
    assert(rows.length == 5)
    val corpus = Tables.corpusCount(spark, sf)
    assert(rows.head.getAs[Long]("docs_in") == corpus)
    for (Array(a, b) <- rows.sliding(2)) {
      assert(a.getAs[Long]("docs_out") == b.getAs[Long]("docs_in"),
        s"funnel break between stage ${a.getAs[Long]("stage")} and " +
          s"${b.getAs[Long]("stage")}")
    }
    for (r <- rows) {
      assert(r.getAs[Long]("docs_out") <= r.getAs[Long]("docs_in"))
      assert(r.getAs[Long]("dropped") ==
        r.getAs[Long]("docs_in") - r.getAs[Long]("docs_out"))
    }
  }

  test("min-cost supplier rows all quote their part's true minimum " +
       "and ties surface as multiple rows") {
    val rows = SparkEntry.queries("rel_min_cost_supplier")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byPart = rows.groupBy(_.getAs[Long]("p_partkey"))
    for ((pk, quotes) <- byPart) {
      assert(quotes.map(_.getAs[Double]("min_price")).distinct.length == 1,
        s"part $pk exports more than one 'minimum' price")
      // a (supplier, part) pair appears at most once after DISTINCT
      assert(quotes.map(_.getAs[String]("s_name")).distinct.length ==
        quotes.length, s"part $pk duplicates a supplier quote")
    }
  }

  test("HITS scores are l∞-normalized: every score in [0, 10⁶], the " +
       "max of each role exactly 10⁶, and roles never mix node sets") {
    val rows = SparkEntry.queries("gr_hits")(spark, sf).collect()
    val (auths, hubs) = rows.partition(_.getAs[String]("role") == "authority")
    assert(auths.nonEmpty && hubs.nonEmpty)
    for (r <- rows) {
      val sc = r.getAs[Long]("score")
      assert(sc >= 0L && sc <= 1000000L, s"score $sc outside [0, 1e6]")
    }
    // the top row of each role IS the normalization anchor
    assert(auths.map(_.getAs[Long]("score")).max == 1000000L)
    assert(hubs.map(_.getAs[Long]("score")).max == 1000000L)
  }

  test("user concentration tiers partition all users, shares sum to " +
       "~10⁶ ppm, and the top-1% share dominates its user share") {
    val rows = SparkEntry.queries("ev_user_concentration")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[String]("tier")).sorted.toSeq ==
      Seq("rest", "top10pct", "top1pct"))
    val totalUsers = rows.map(_.getAs[Long]("n_users")).sum
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum >= 999997L && shareSum <= 1000000L,
      s"shares sum to $shareSum ppm (floor-division slack only)")
    val top1 = rows.find(_.getAs[String]("tier") == "top1pct").get
    // concentration: the top 1% of users carries MORE than 1% of events
    assert(top1.getAs[Long]("share_ppm") * totalUsers >=
      top1.getAs[Long]("n_users") * 1000000L)
  }

  test("LSH recall measures every query against a full exact top-5 " +
       "and stays within [0, 10⁶] ppm") {
    val rows = SparkEntry.queries("sim_lsh_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_exact") == 5L)
      assert(r.getAs[Long]("n_hit") <= 5L)
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hit") * 1000000L / 5L)
    }
  }

  test("kmeans quality accounts for every vector exactly once and " +
       "means bound their cells' inertia") {
    val rows = SparkEntry.queries("sim_kmeans_quality")(spark, sf)
      .collect()
    val corpus = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == corpus)
    for (r <- rows) {
      val n = r.getAs[Long]("n_members")
      val tot = r.getAs[Long]("inertia_q")
      val mean = r.getAs[Long]("mean_inertia_q")
      assert(mean * n <= tot && tot < (mean + 1) * n,
        s"cell ${r.getAs[Long]("cid")}: mean $mean inconsistent with " +
          s"total $tot over $n members")
    }
  }

  test("trigram paths: support never exceeds occurrences and the " +
       "top-15 ordering is the declared total order") {
    val rows = SparkEntry.queries("ev_trigram_paths")(spark, sf).collect()
    assert(rows.length == 15)
    for (r <- rows) {
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_occ"))
      assert(r.getAs[String]("path").split(">").length == 3)
    }
    val occs = rows.map(_.getAs[Long]("n_occ"))
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b })
  }

  test("zipf audit ranks are 1..20 with non-increasing frequencies") {
    val rows = SparkEntry.queries("txt_zipf_check")(spark, sf)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val freqs = rows.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
  }

  test("source impact: drops never exceed docs, token ratios are " +
       "consistent, and sources partition the corpus") {
    val rows = SparkEntry.queries("dedup_source_impact")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    for (r <- rows) {
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tok_dropped") <= r.getAs[Long]("tok_total"))
      assert(r.getAs[Long]("drop_permille") <= 1000L)
      assert(r.getAs[Long]("drop_permille") ==
        1000L * r.getAs[Long]("n_dropped") / r.getAs[Long]("n_docs"))
    }
  }

  test("fertility: subword segmentation is at least as fine as " +
       "whitespace words, so fertility ≥ min-doc and ≤ max-doc bounds") {
    val rows = SparkEntry.queries("txt_fertility_by_lang")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val f = r.getAs[Long]("fertility_ppm")
      assert(f >= r.getAs[Long]("min_doc_fert_ppm"),
        s"${r.getAs[String]("lang")}: corpus fertility below per-doc min")
      assert(f <= r.getAs[Long]("max_doc_fert_ppm"))
    }
  }

  test("M4 buckets: first/last respect the time order and min/max " +
       "bound both endpoints") {
    val rows = SparkEntry.queries("ev_m4_downsample")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val mn = r.getAs[Double]("min_val"); val mx = r.getAs[Double]("max_val")
      assert(mn <= mx)
      assert(r.getAs[Double]("first_val") >= mn &&
             r.getAs[Double]("first_val") <= mx)
      assert(r.getAs[Double]("last_val") >= mn &&
             r.getAs[Double]("last_val") <= mx)
      assert(r.getAs[Long]("n_points") >= 1L)
    }
  }

  test("k-anonymity classes partition the customer table and " +
       "l-diversity never exceeds class size") {
    val rows = SparkEntry.queries("rel_k_anonymity")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("class_size")).sum ==
      graft.Tables.customer(spark, sf).count())
    for (r <- rows) {
      assert(r.getAs[Long]("l_diversity") <= r.getAs[Long]("class_size"))
      assert(r.getAs[Boolean]("k_anonymous") ==
        (r.getAs[Long]("class_size") >= 5L))
    }
  }

  test("CMS never undercounts: estimate ≥ truth for every type, and " +
       "with 4 independent rows the min tightens the bound") {
    val rows = SparkEntry.queries("ev_cms_accuracy")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("overestimate") >= 0L,
        s"${r.getAs[String]("event_type")}: CMS undercounted")
      assert(r.getAs[Long]("cms_est") ==
        r.getAs[Long]("true_cnt") + r.getAs[Long]("overestimate"))
    }
  }

  test("tile plans cover each canvas exactly: tiles partition " +
       "[0,w)×[0,h) with clamped edges") {
    val rows = SparkEntry.queries("mm_tile_plan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    for ((_, tiles) <- byDoc) {
      val w = tiles.head.getAs[Long]("width")
      val h = tiles.head.getAs[Long]("height")
      val area = tiles.map(t =>
        (t.getAs[Long]("x1") - t.getAs[Long]("x0")) *
        (t.getAs[Long]("y1") - t.getAs[Long]("y0"))).sum
      assert(area == w * h, s"tiles cover $area of ${w * h}")
      assert(tiles.forall(t => t.getAs[Long]("x1") <= w &&
        t.getAs[Long]("y1") <= h))
      assert(tiles.forall(t => t.getAs[Long]("x1") > t.getAs[Long]("x0") &&
        t.getAs[Long]("y1") > t.getAs[Long]("y0")),
        "degenerate zero-area tile")
    }
  }

  test("onion staging: every doc gets exactly one verdict, stages " +
       "only shrink, and staged attribution is consistent with the " +
       "single-signal verdicts") {
    val rows = SparkEntry.queries("dedup_onion")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    assert(rows.length == Tables.corpusCount(spark, sf))
    val stages = rows.groupBy(_.getAs[String]("drop_stage"))
      .view.mapValues(_.length).toMap
    assert(stages.keySet.subsetOf(
      Set("exact", "lexical", "semantic", "kept")))
    assert(stages.getOrElse("kept", 0) > 0)
    // exact drops == docs whose content hash has a smaller doc_id
    // (recomputed straight off the natural corpus)
    import org.apache.spark.sql.functions.{count => cnt, lit, md5}
    val exactDups = graft.Tables.documents(spark, sf)
      .groupBy(md5(org.apache.spark.sql.functions.col("text")))
      .agg(cnt(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n") - 1).sum
    assert(stages.getOrElse("exact", 0).toLong == exactDups)
  }

  test("user overlap: jaccard bounded by 10⁶, intersection bounded " +
       "by both sizes, pairs canonically ordered") {
    val rows = SparkEntry.queries("ev_user_overlap")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      val common = r.getAs[Long]("n_common")
      assert(common <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      assert(r.getAs[Long]("jaccard_ppm") <= 1000000L)
    }
  }

  test("farthest-first seeding: 4 distinct centers, selection " +
       "distances non-increasing (each round's argmax can only " +
       "shrink as the chosen set grows)") {
    val rows = SparkEntry.queries("sim_kpp_init")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(rows.map(_.getAs[Long]("round")).toSeq == (0L to 3L))
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length == 4)
    val dists = rows.drop(1).map(_.getAs[Long]("sel_dist_q"))
    assert(dists.forall(_ > 0L))
    assert(dists.zip(dists.tail).forall { case (a, b) => a >= b },
      s"selection distances must not increase: ${dists.mkString(",")}")
  }

  test("chi-square: dof matches the margin cardinalities and the " +
       "statistic is non-negative") {
    val r = SparkEntry.queries("rel_chi2_independence")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("chi2_milli") >= 0L)
    assert(r.getAs[Long]("dof") > 0L)
    assert(r.getAs[Long]("n") ==
      graft.Tables.customer(spark, sf).count())
  }

  test("IQR fences: outliers are a minority and quartiles are " +
       "ordered") {
    val rows = SparkEntry.queries("rel_outlier_iqr")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Double]("q1") <= r.getAs[Double]("q3"))
      assert(r.getAs[Long]("n_low") + r.getAs[Long]("n_high") <=
        r.getAs[Long]("n_rows") / 2,
        "Tukey fences cannot flag a majority")
    }
  }

  test("code detection: scores are bounded and the verdict matches " +
       "the threshold") {
    val rows = SparkEntry.queries("txt_code_detect")(spark, sf).collect()
    for (r <- rows) {
      assert(r.getAs[Long]("brace_ppm") <= 1000000L)
      assert(r.getAs[Boolean]("is_code") ==
        (r.getAs[Long]("code_score_ppm") > 20000L))
    }
  }

  test("as-of lookup: every probe's class counts sum to the " +
       "customers whose history has started by that probe") {
    val rows = SparkEntry.queries("rel_scd2_lookup")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getAs[Long]("probe_day"))
    // as-of totals can only grow as the probe day advances
    val totals = byProbe.toSeq.sortBy(_._1)
      .map(_._2.map(_.getAs[Long]("n_customers")).sum)
    assert(totals.zip(totals.tail).forall { case (a, b) => a <= b },
      s"as-of customer counts must be monotone: ${totals.mkString(",")}")
  }

  test("random walks: every step lands on a graph neighbor of the " +
       "previous node, and walks are exactly 4 nodes") {
    val rows = SparkEntry.queries("gr_random_walk")(spark, sf).collect()
    val byWalker = rows.groupBy(_.getAs[Long]("walker_id"))
    assert(byWalker.nonEmpty)
    // rebuild the adjacency to validate hops
    import org.apache.spark.sql.functions.{col => c}
    val li = graft.Tables.lineitem(spark, sf)
      .select(c("l_orderkey"), c("l_suppkey"))
    val ords = graft.Tables.orders(spark, sf)
      .select(c("o_orderkey"), c("o_custkey"))
    val adj = li.join(ords, c("l_orderkey") === c("o_orderkey"))
      .select((c("o_custkey") * 2).as("a"), (c("l_suppkey") * 2 + 1).as("b"))
      .distinct().collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((w, steps0) <- byWalker) {
      val steps = steps0.sortBy(_.getAs[Long]("step"))
      assert(steps.length == 4, s"walker $w has ${steps.length} nodes")
      assert(steps.head.getAs[Long]("node") == w, "walks start at the seed")
      for (Array(x, y) <- steps.sliding(2)) {
        assert(adj(x.getAs[Long]("node"))(y.getAs[Long]("node")),
          s"walker $w hopped to a non-neighbor")
      }
    }
  }

  test("LSH recall curve: exact copies (top bucket) are always " +
       "caught — pigeonhole makes banding lossless at Jaccard 1") {
    val rows = SparkEntry.queries("dedup_lsh_recall_curve")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
    rows.find(_.getAs[Long]("sim_bucket") == 10L).foreach { top =>
      assert(top.getAs[Long]("recall_ppm") == 1000000L,
        "identical docs share all 4 minhash components — both bands " +
          "must match")
    }
  }

  test("KPI deltas: window counts are consistent (this week ≤ 4-week " +
       "total) and ppm deltas recompute from the exported counts") {
    val rows = SparkEntry.queries("ev_kpi_deltas")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val tw = r.getAs[Long]("n_this_week")
      val avg = r.getAs[Long]("weekly_avg_4wk")
      assert(tw <= avg * 4 + 3, "this week is inside the 4-week span")
      if (!r.isNullAt(r.fieldIndex("wow_delta_ppm"))) {
        val pw = r.getAs[Long]("n_prev_week")
        assert(r.getAs[Long]("wow_delta_ppm") ==
          (tw - pw) * 1000000L / pw)
      }
    }
  }

  test("embedding health: min ≤ mean ≤ max per shard, shards " +
       "partition the table, zero counts bounded") {
    val rows = SparkEntry.queries("sim_embedding_health")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      graft.Tables.embeddings(spark, sf).count())
    for (r <- rows) {
      assert(r.getAs[Long]("min_normq") <= r.getAs[Long]("mean_normq"))
      assert(r.getAs[Long]("mean_normq") <= r.getAs[Long]("max_normq"))
      assert(r.getAs[Long]("n_zero") <= r.getAs[Long]("n_vecs"))
    }
  }

  test("length histogram: buckets are powers of two (doc of n tokens " +
       "lands in bucket floor(log2 n)) and truncation shares bounded") {
    val rows = SparkEntry.queries("txt_length_histogram")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("bucket") >= 0L)
      assert(r.getAs[Long]("truncated_ppm") <= 1000000L)
      assert(r.getAs[Long]("tokens_over_512") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("probe sweep: recall is monotone in nprobe, and the nprobe=2 " +
       "point equals sim_ivf_recall's aggregate (the shipped config)") {
    val sweep = SparkEntry.queries("sim_probe_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(sweep.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    val recalls = sweep.map(_.getAs[Long]("recall_ppm"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "probing more cells can only add candidates")
    val ivf = SparkEntry.queries("sim_ivf_recall")(spark, sf).collect()
    val ivfHits = ivf.map(_.getAs[Long]("n_hit")).sum
    val sweepAt2 = sweep.find(_.getAs[Long]("nprobe") == 2L).get
    assert(sweepAt2.getAs[Long]("n_hit") == ivfHits,
      "the cell-membership identity must reproduce the full candidate " +
        "pipeline's hit count at nprobe=2")
  }

  test("graph summary: ingredients agree with a recomputed degree " +
       "table") {
    val r = SparkEntry.queries("gr_graph_summary")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_nodes") > 0L)
    assert(r.getAs[Long]("max_degree") * r.getAs[Long]("n_nodes") >=
      2L * r.getAs[Long]("n_edges"), "max degree bounds the mean")
    assert(r.getAs[Long]("density_ppm") <= 1000000L)
  }

  test("burn-rate alert: firing requires BOTH windows above " +
       "threshold — the long window alone never fires") {
    val rows = SparkEntry.queries("ev_burn_rate_alert")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val alert = r.getAs[Boolean]("alert")
      assert(alert == (r.getAs[Long]("short_permille") > 250L &&
        r.getAs[Long]("long_permille") > 250L))
    }
  }

  test("grouping markers: gid decomposes into the per-column bits " +
       "and aggregation NULLs carry the marker") {
    val rows = SparkEntry.queries("rel_grouping_id")(spark, sf).collect()
    for (r <- rows) {
      assert(r.getAs[Long]("gid") ==
        2 * r.getAs[Long]("g_status") + r.getAs[Long]("g_priority"))
      if (r.getAs[Long]("g_priority") == 1L)
        assert(r.isNullAt(r.fieldIndex("o_orderpriority")))
    }
    assert(rows.count(_.getAs[Long]("gid") == 3L) == 1,
      "rollup has exactly one grand-total row")
  }

  test("new-vs-returning: day 0 is all-new, new users sum to the " +
       "user base, shares bounded") {
    val rows = SparkEntry.queries("ev_new_vs_returning")(spark, sf)
      .collect().sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("new_share_permille") == 1000L,
      "every user on the first day is new")
    val totalNew = rows.map(_.getAs[Long]("n_new_users")).sum
    val userBase = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(totalNew == userBase,
      s"each user is new exactly once: $totalNew vs $userBase")
    for (r <- rows)
      assert(r.getAs[Long]("n_new_events") <= r.getAs[Long]("n_events"))
  }

  test("quality×dup matrix: cells partition the corpus and lifts " +
       "average to independence") {
    val rows = SparkEntry.queries("txt_quality_dedup_matrix")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.corpusCount(spark, sf))
    // Σ o·lift/n = Σ o²·10⁶/(r·c) ≥ 10⁶·Σo/n by Cauchy-Schwarz —
    // weaker but checkable: every lift is positive and finite
    for (r <- rows) assert(r.getAs[Long]("lift_ppm") > 0L)
  }

  test("attribution models agree on totals: first-touch and " +
       "last-touch credits both sum to the converting-user count, " +
       "and linear micro-credits to ~10⁶ per converter") {
    val rows = SparkEntry.queries("ev_attribution_compare")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val ft = rows.map(_.getAs[Long]("first_touch_convs")).sum
    val lt = rows.map(_.getAs[Long]("last_touch_convs")).sum
    assert(ft == lt, "every converter has exactly one first and one last")
    val linear = rows.map(_.getAs[Long]("linear_credit_micro")).sum
    // per-user floor remainder loses < n_touches micro-units
    assert(linear <= ft * 1000000L && linear > ft * 990000L,
      s"linear credit $linear inconsistent with $ft converters")
  }

  test("shingle sweep: shorter shingles only inflate similarity — " +
       "mean Jaccard is non-increasing in shingle size") {
    val rows = SparkEntry.queries("dedup_shingle_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shingle_k"))
    assert(rows.map(_.getAs[Long]("shingle_k")).toSeq == Seq(4L, 5L, 6L))
    // Each size's pair universe is built from docs holding at least
    // one k-shingle, so a corpus containing a doc of normalized
    // length in [4, 6) can legitimately shrink the larger-k pair
    // sets: assert monotone coverage, not equality.
    val nPairs = rows.map(_.getAs[Long]("n_pairs"))
    assert(nPairs.zip(nPairs.tail).forall { case (a, b) => a >= b },
      s"pair coverage should not grow with k: ${nPairs.mkString(",")}")
    val means = rows.map(_.getAs[Long]("mean_jacc_ppm"))
    assert(means.zip(means.tail).forall { case (a, b) => a >= b },
      s"mean Jaccard should not increase with k: ${means.mkString(",")}")
  }

  test("keep-last-N: at most 2 versions survive per key and the " +
       "survivors are the newest") {
    val rows = SparkEntry.queries("rel_keep_last_n")(spark, sf).collect()
    val byKey = rows.groupBy(_.getAs[Long]("o_orderkey"))
    for ((k, vs) <- byKey) {
      assert(vs.length <= 2, s"key $k keeps ${vs.length} versions")
      val versions = vs.map(_.getAs[Long]("version")).sorted
      if (k % 20 == 0) assert(versions.toSeq == Seq(1L, 2L),
        s"key $k with 3 versions must keep {1,2}")
      else if (k % 10 == 0) assert(versions.toSeq == Seq(0L, 1L))
      else assert(versions.toSeq == Seq(0L))
    }
  }

  test("cluster purity: buckets are 2..4+, purity bounded by " +
       "(1/k, 1] in ppm") {
    val rows = SparkEntry.queries("dedup_cluster_purity")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val b = r.getAs[Long]("size_bucket")
      assert(b >= 2L && b <= 4L)
      val p = r.getAs[Long]("mean_purity_ppm")
      // majority share is a positive fraction of the cluster
      assert(p <= 1000000L && p > 0L)
    }
  }

  private object Tables {
    def corpusCount(s: SparkSession, d: String): Long =
      graft.Tables.documents(s, d).count()
  }
}
