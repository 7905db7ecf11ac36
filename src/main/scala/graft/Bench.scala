package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-round benchmark (driver contract): times every registered
  * query at SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is fully materialized through the noop sink — a bare
  * count() would let Catalyst prune the computed columns (hashes,
  * signatures, parsed structs) and under-measure the operators.
  *
  * Output-size constraint: the bench driver captures only the LAST
  * ~2000 characters of this process's output and parses the JSON
  * line out of that window (BENCH_r01/BENCH_r02 both ended
  * `parsed: null` because the full 75-query map was ~2900 chars and
  * the line start fell outside the window). The emitted line
  * therefore carries the total, per-group subtotals, and per-query
  * times for a headline subset only, and is shrunk until it fits a
  * 1700-char budget (leaving room for sbt's `[success]` trailer).
  * Complete per-query timings go to BENCH_FULL.json in the repo
  * root, and the round table in BASELINE.md.
  */
object Bench {

  /** Queries whose individual times are worth the line budget: the
    * historically slow ones plus representatives of every group.
    * Any non-listed query that measures >2s is promoted into the
    * line automatically (slow newcomers must be visible). */
  private val headline: Seq[String] = Seq(
    "rel_pricing_summary", "rel_profit_by_nation_year",
    "rel_top_returned_customers", "rel_percentiles",
    "rel_window_running_sum", "rel_correlated_max",
    "rel_grouping_sets", "rel_profile_columns",
    "ev_sessionize", "ev_funnel", "ev_retention", "ev_asof_last_click",
    "txt_fingerprint", "txt_tfidf_topk", "txt_gopher_quality",
    "txt_contamination", "txt_term_stats",
    "dedup_exact", "dedup_minhash_sig", "dedup_lsh_pairs",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_cc",
    "sim_cosine_topk", "sim_embedding_neardup", "sim_ann_ivf",
    "sim_lang_centroid",
    "mm_frame_sample", "par_page_line_banding", "par_numeric_token_count",
    "rel_asof_join", "rel_trailing_30d_revenue", "dedup_lsh_keep_best",
    "dedup_fuzzy_verify", "ev_session_window", "ev_interval_coverage",
    "txt_bpe_tokens", "sim_ivf_assign",
    "sim_knn_graph", "sim_kmeans_step", "rel_scd2_dimension",
    "rel_merge_upsert", "txt_bigram_lm", "ev_sliding_window_counts",
    "gr_pagerank", "gr_triangle_count", "rel_small_qty_revenue",
    "rel_dq_audit", "gr_kcore", "gr_common_neighbors",
    "txt_rake_keywords", "txt_weighted_sample", "rel_weighted_median",
    "rel_price_deciles", "ev_peak_concurrency", "ev_cohort_ltv",
    "sim_threshold_sweep", "mm_scene_cuts",
    "dedup_containment", "txt_ngram_novelty", "txt_vocab_coverage",
    "mm_phash_hamming", "ev_multitouch_attribution", "gr_bfs_reach",
    "rel_table_fingerprint", "rel_merkle_ranges", "sim_ivf_recall",
    "dedup_minhash_accuracy", "dedup_stack_verdict", "gr_modularity",
    "gr_assortativity", "gr_local_clustering", "txt_domain_affinity",
    "ev_ewma_trend", "dedup_span_scrub", "ev_forecast_backtest")

  /** 1-minute loadavg (-1 if unavailable) — captured before, between
    * and after the sweeps so ambient-load drift attribution (this
    * host has a documented external-stall band) is automatic from
    * the artifact instead of forensic. */
  private def load1: Double =
    try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Host uptime in seconds (-1 outside Linux). */
  private def uptimeSec: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/uptime")),
      StandardCharsets.UTF_8).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(GraftSession.envCpus)
    // Two full sweeps, per-query min reported: this host shows
    // sporadic multi-minute external stalls (load ~1.4 with no local
    // processes; 60–270 s landing on whichever query is running).
    // Whole-suite sweeps put a query's two samples minutes apart, so
    // one stall window cannot cover both — back-to-back per-query
    // repeats could. Sweep 1 also absorbs codegen+JIT warmup.
    // A failed query is recorded as -1 (excluded from the total and
    // listed under "errors") rather than silently keeping its
    // time-to-failure as a normal sample.
    // Local-iteration filter (not used by the driver), mirroring
    // Verify: SPARK_GRAFT_ONLY=q1,q2 times only the named queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
    // Untimed warmup before each sweep: a scan + shuffle + broadcast
    // join absorbs first-use class loading, codegen and JIT of the
    // whole SQL stack, which otherwise lands entirely on whichever
    // query the registry happens to order first (rel_pricing_summary
    // read 6-7 s in full runs vs ~2 s isolated).
    def warmup(): Unit =
      try {
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_quantity"))
        li.groupBy(col("l_orderkey")).count()
          .join(broadcast(li.limit(10)), "l_orderkey")
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
    def sweep(): Map[String, Double] = {
      warmup()
      var qIdx = 0
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // Release everything the query pinned: Dataset.persist goes
        // through the CacheManager (strong plan-keyed refs — NOT
        // GC-cleaned like raw RDD persists), so iterative queries'
        // final cached frames would accrete across a 250+-query
        // sweep without an explicit sweep here. Per-query caches
        // never help the next query (each invocation re-pins fresh
        // LogicalRDD leaves), so this costs nothing and bounds the
        // executor store. Then let the ContextCleaner release
        // broadcasts/shuffle state (after the clock is read — a
        // full GC is not query time).
        // clearCache per query (cheap; bounds the CacheManager's
        // strong plan-keyed pins across a 294-query sweep); the full
        // GC that lets the ContextCleaner drop broadcast/shuffle
        // state only every 16th query — per-query System.gc() chilled
        // the NEXT query ~10% (BASELINE.md round-6 attribution table)
        // while the cleanup it buys needs only periodic cadence.
        spark.sqlContext.clearCache()
        // Raw RDD persists (Ranking.exactNtile/runningSums pin their
        // range-sorted RDD) are NOT in the CacheManager and would
        // otherwise wait on GC + ContextCleaner — with gc only every
        // 16th query, up to 16 queries' blocks could accumulate.
        // Explicitly drop them: the returned frame stays computable
        // (lineage recomputes), and the next query never reuses them.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        qIdx += 1
        if (qIdx % 16 == 0) System.gc()
        name -> (if (ok) sec else -1.0)
      }
    }
    val load0 = load1
    val s1 = sweep()
    val loadMid = load1
    val s2 = sweep()
    val loadEnd = load1
    // Host-state sidecar fields: round-7 saw +25% family drift with
    // zero code change; the artifact now carries enough to attribute
    // that to ambient load without a re-run.
    def hfmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val host = s""""host":{"load1_start":${hfmt(load0)},""" +
      s""""load1_mid":${hfmt(loadMid)},"load1_end":${hfmt(loadEnd)},""" +
      s""""uptime_s":${hfmt(uptimeSec)}}"""
    val results = selected.keys.toSeq.map { n =>
      val (a, b) = (s1(n), s2(n))
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (k, v) if v < 0 => k }
    val errors = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The emitted LINE carries at most 8 failure names (+ count) so a
    // mass-failure run cannot blow past the capture window — the full
    // list still lands in BENCH_FULL.json.
    val errorsCapped = (failed.take(8).map("\"" + _ + "\"") ++
      (if (failed.size > 8) Seq("\"+" + (failed.size - 8) + " more\"")
       else Nil)).mkString("[", ",", "]")
    val total = ok.map(_._2).sum

    // Complete per-query map → file (too long for the output window).
    val fullJson = results.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"metric":"total","value":$total,"unit":"sec","queries":{""",
        ",", s"""},"errors":$errors,$host,"sf":"$sfDir"}""")
    // A filtered local run must not clobber the round's full map.
    // SPARK_GRAFT_BENCH_OUT redirects the full dump so builder sweeps
    // land in their own file (e.g. BENCH_BUILDER_r9.json) — the driver
    // overwrites BENCH_FULL.json every round, which clobbered the
    // round-8 builder artifact cited by BASELINE.md (survives only in
    // git 16167a5). Evidence cited by docs must not share a filename
    // with anything the driver regenerates. A filtered run WITH an
    // explicit redirect does dump (builder probe A/Bs need the
    // non-headline per-query times; the driver sets neither env var,
    // so its artifact behavior is unchanged).
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      try Files.write(
        Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")),
        fullJson.getBytes(StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }

    // Compact line: headline + promoted-slow queries, per-group sums.
    // Locale.ROOT: a comma-decimal default locale would make
    // format+toDouble throw after the sweeps already ran.
    def fmt(v: Double, dec: Int) =
      String.format(java.util.Locale.ROOT, "%." + dec + "f",
        Double.box(v)).toDouble.toString
    val groups = ok.groupBy(_._1.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1)
      .map { case (g, qs) => s""""$g":${fmt(qs.map(_._2).sum, 2)}""" }
      .mkString("{", ",", "}")
    val wanted = results
      .filter { case (n, v) => v >= 0 && (headline.contains(n) || v > 2.0) }
      .sortBy(-_._2) // slowest first: kept longest if the line must shrink
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.sortBy(_._1)
        .map { case (k, v) => s""""$k":${fmt(v, 3)}""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,""" +
        s""""groups":$groups,"n":${results.size},"n_errors":${failed.size},""" +
        s""""errors":$errorsCapped,$host,"sf":"$sfDir"}"""
    }
    var kept = wanted
    while (line(kept).length > 1700 && kept.nonEmpty) kept = kept.dropRight(1)
    val out = line(kept)

    // Print AFTER stop(): shutdown-time WARN logging lands in the same
    // captured window and must not push the line out of it.
    try spark.stop() catch { case _: Throwable => () }
    println(out)
  }
}
