package graft

import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale contract (SURVEY.md §7.4-7).
  * These pin the properties that matter at 100 TB: predicate/column
  * pushdown reaching the parquet scan, small dimensions broadcast
  * (no shuffle of the fact side), whole-stage codegen over the
  * narrow stages, and no cartesian products outside the explicitly
  * broadcast query sets.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter+projection are pushed into the parquet scan") {
    val f = formatted("rel_filter_proj")
    assert(f.contains("PushedFilters:"), f)
    assert(f.contains("GreaterThan(l_discount,0.05)"), "discount filter pushed")
    assert(f.contains("LessThan(l_quantity,10.0)"), "quantity filter pushed")
    // Only the needed columns are read (pruned ReadSchema)
    val readSchema = f.linesIterator.filter(_.contains("ReadSchema:")).next()
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      readSchema)
  }

  test("winsorized stats above the exact-row threshold buffer no " +
       "per-group values: sketch percentiles only, same output shape") {
    // Force the big-frame regime: clip bounds must come from the
    // mergeable approx_percentile sketch — the exact `percentile`
    // aggregate buffers every group value per task, a per-task OOM
    // at 100x.
    val approx = withConf(forceBig) {
      val p = plan("rel_winsorized_stats")
      assert(p.contains("approx_percentile"), p.take(600))
      assert(!p.replace("approx_percentile", "§").contains("percentile("),
        "exact percentile (full per-group value buffering) planned " +
          "above the threshold")
      // both regimes agree on group structure and clip-window width
      SparkEntry.queries("rel_winsorized_stats")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    }
    val exact = SparkEntry.queries("rel_winsorized_stats")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(approx == exact)
  }

  test("median-abs-deviation above the exact-row threshold buffers no " +
       "per-group values: sketch percentiles only, same output shape") {
    // Same big-frame switch as rel_winsorized_stats: both
    // percentile passes (group median + deviation median) must come
    // from the mergeable approx_percentile sketch — the exact
    // `percentile` aggregate buffers every group value per task.
    val approx = withConf(forceBig) {
      val p = plan("rel_median_abs_deviation")
      assert(p.contains("approx_percentile"), p.take(600))
      assert(!p.replace("approx_percentile", "§").contains("percentile("),
        "exact percentile (full per-group value buffering) planned " +
          "above the threshold")
      // both regimes agree on group structure
      SparkEntry.queries("rel_median_abs_deviation")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    }
    val exact = SparkEntry.queries("rel_median_abs_deviation")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(approx == exact)
  }

  test("as-of join is the joinless window-carry form") {
    val p = plan("rel_asof_join")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("Join"), "as-of must not plan any join operator")
  }

  test("salted join replicates via Generate, never a cartesian") {
    val p = plan("rel_salted_skew_join")
    assert(p.contains("Generate"), "salt replication should be an explode")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p.take(400))
  }

  test("unpivot lowers to a single-pass Expand") {
    assert(plan("rel_unpivot").contains("Expand"))
  }

  test("interval overlap join bins to a hash join, never a nested loop") {
    val p = plan("rel_interval_overlap_join")
    assert(p.contains("Generate"), "bin replication should be an explode")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      p.take(400))
  }

  test("span dup-ratio reads the stored cross flag: no window, no join, " +
       "no explode at query time") {
    val p = plan("dedup_span_ratio")
    assert(!p.contains("Window") && !p.contains("Join"), p.take(400))
    assert(p.sliding("Generate".length).count(_ == "Generate") == 0,
      "the persisted span stream replaces the rolling-hash explode\n" +
        p.take(400))
  }

  test("bigram surprisal is joinless: model via windows, zero explodes " +
       "(bigrams read from the persisted TextIndex)") {
    val p = plan("txt_bigram_surprisal")
    assert(!p.contains("Join"), p.take(400))
    assert(p.sliding("Generate".length).count(_ == "Generate") == 0,
      "the stored bigram stream replaces the corpus explode\n" + p.take(400))
    assert(p.contains("text-"),
      "must scan the persisted bigram frame\n" + p.take(400))
  }

  test("EXISTS/NOT EXISTS decorrelate to semi and anti joins") {
    val p = plan("rel_exists_sql")
    assert(p.contains("LeftSemi"), p.take(600))
    assert(p.contains("LeftAnti"), p.take(600))
  }

  test("limited lateral subquery decorrelates — no per-row execution") {
    val p = plan("rel_lateral_topk")
    // decorrelation yields a join + per-group limit (window/group-
    // limit), never a correlated-subquery or nested-loop-per-row plan
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      p.take(600))
    assert(p.contains("Window") || p.contains("GroupLimit"), p.take(600))
  }

  test("PQ encoding broadcasts the codebook; argmin is an aggregation") {
    val p = plan("sim_pq_encode")
    assert(p.contains("BroadcastExchange"), p.take(400))
    assert(!p.contains("Window"), "argmin must be a partial-agg min, not a sort")
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("keep-best survivor scan is joinless (window + partial agg)") {
    val p = plan("dedup_lsh_keep_best")
    assert(p.contains("Window") && !p.contains("Join"), p.take(400))
  }

  test("BPE token counting is a narrow map — no exchange at all") {
    assert(!plan("txt_bpe_tokens").contains("Exchange"))
  }

  test("SQL frontend plans like the DataFrame form (broadcast dims)") {
    assert(plan("rel_sql_frontend").contains("BroadcastHashJoin"))
  }

  test("interval coverage shuffles once, aggs reuse the window partitioning") {
    val p = plan("ev_interval_coverage")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected 1 exchange, plan:\n${p.take(600)}")
  }

  test("resize planning stays narrow through the decode path") {
    assert(!plan("mm_resize_plan").contains("Exchange"))
  }

  test("IVF assignment broadcasts the centroid side") {
    assert(plan("sim_ivf_assign").contains("BroadcastNestedLoop"),
      "16-row centroid set should broadcast under the cross product")
  }

  test("small dimensions are broadcast in join queries") {
    for (q <- Seq("rel_top_revenue_orders", "rel_revenue_by_nation",
                  "rel_profit_by_nation_year", "rel_top_returned_customers"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q should broadcast dims")
  }

  test("top-k queries use TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("rel_top_revenue_orders", "rel_top_returned_customers"))
      assert(plan(q).contains("TakeOrderedAndProject"), q)
  }

  test("narrow stages run inside whole-stage codegen") {
    for (q <- Seq("rel_pricing_summary", "txt_token_stats", "txt_fingerprint")) {
      val df = SparkEntry.queries(q)(spark, sf)
      // AQE finalizes (and codegen-wraps) stages only at execution —
      // and only on this Dataset's own QueryExecution (a write would
      // plan a fresh one).
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // codegen'd stages render as "WholeStageCodegen" pre-AQE and as
      // "*(n)" stage markers in a finalized adaptive plan
      assert(p.contains("WholeStageCodegen") || p.contains("*("), q)
    }
  }

  test("similarity brute force broadcasts only the query side") {
    val p = plan("sim_cosine_topk")
    assert(p.contains("Broadcast"), "query set must be broadcast")
    val pAnn = plan("sim_ann_lsh")
    assert(pAnn.contains("BroadcastHashJoin"),
      "ANN probe should be an equi-join on bucket, broadcasting queries")
  }

  test("dedup operators shuffle on derived keys, never cross-join") {
    for (q <- Seq("dedup_exact", "dedup_minhash_sig", "dedup_lsh_pairs",
                  "dedup_ngram_jaccard", "dedup_simhash")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q must not nested-loop")
    }
  }

  test("correlated scalar subquery decorrelates to an equi-join") {
    val p = plan("rel_correlated_max")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "decorrelation must yield an equi-join, not a per-row re-execution")
    assert(p.contains("Join"), p)
  }

  test("bloom prune filters the fact side before a broadcast semi join") {
    val p = plan("rel_bloom_prune")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // the bloom probe (UDF filter) sits below the join in the tree —
    // i.e. in the fact-scan stage, upstream of the join (children
    // render after parents in the plan string)
    assert(p.indexOf("UDF") > p.indexOf("BroadcastHashJoin"), p)
  }

  test("pivot with explicit values is two partial-agg shuffles, no scan for values") {
    val df = SparkEntry.queries("rel_pivot_priority")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // Spark plans pivot as groupBy(status, prio) then pivot_first by
    // status: two exchanges, both AFTER map-side partial aggregation
    // (bytes shuffled ~ |status × prio|, not row count). Crucially no
    // third job to collect distinct pivot values (explicit list).
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 2, s"expected two partial-agg shuffles, got $exchanges")
    assert(p.contains("partial_count"), "map-side combine must precede shuffle")
  }

  test("contamination scan broadcasts the benchmark gram set") {
    val p = plan("txt_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark grams must broadcast — the corpus side cannot shuffle")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("writeCsv of assembled records shuffles once, by doc, and sorts only below the fold") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    import graft.parity.{DocFoldExec, FarmPipeline}
    val blocks = graft.sources.BlockSource.fromRows(spark, Seq(
      ("d", 0L, "LINE", "John Smith, 40", 1, 0.1, 0.1),
      ("e", 1L, "LINE", "Mary Jones, 12", 1, 0.6, 0.2)))
    val csv = FarmPipeline.toCsvFormat(FarmPipeline.assembleRecords(
      FarmPipeline.linesFromBlocks(blocks)))
    val nodes = executedNodes(FarmPipeline.writeCsv(csv, tempDir("plan-writecsv").getPath))
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, nodes.head.treeString)
    val only = shuffles.head
    assert(only.shuffleOrigin == ENSURE_REQUIREMENTS, only.toString)
    assert(only.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map(_.sql) == Seq("doc")
      case _ => false
    }, only.toString)
    // A linear plan: the nodes before the fold are its ancestors.
    val fold = nodes.indexWhere(_.isInstanceOf[DocFoldExec])
    assert(fold > 0, nodes.head.treeString)
    assert(!nodes.take(fold).exists(_.isInstanceOf[SortExec]), nodes.head.treeString)
    assert(nodes.forall(_.missingInput.isEmpty), "a node is marked '!'")
  }

  test("SCD2 build reuses one custkey shuffle across windows and rollup") {
    // chg window, run_id window, (custkey, run_id) rollup and the
    // valid_to lead all cluster by custkey: HashPartitioning(custkey)
    // satisfies every downstream distribution, so exactly one
    // exchange survives.
    val p = plan("rel_scd2_dimension")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected one custkey shuffle, got $exchanges\n$p")
    assert(!p.contains("Join"), "gaps-and-islands must not plan a join")
  }

  test("fused fingerprint is a pure narrow map — no explode, agg or shuffle") {
    val p = plan("txt_fingerprint")
    assert(!p.contains("Exchange"), p.take(400))
    assert(!p.contains("Generate"), "windows fused into MinMd5Window")
    assert(!p.contains("HashAggregate"), "min tracked inside the expression")
  }

  test("bigram LM is joinless: left-unigram count via window, no explode " +
       "(bigrams read from the persisted TextIndex)") {
    val p = plan("txt_bigram_lm")
    assert(!p.contains("Join"),
      "c_left must come from a window over the collapsed bigram table")
    val generates = p.linesIterator.count(_.contains("Generate"))
    assert(generates == 0,
      s"the stored bigram stream replaces the explode, got $generates")
  }

  test("anomaly z-score window reuses the hourly rollup partitioning") {
    val p = plan("ev_anomaly_zscore")
    assert(!p.contains("Join"), p.take(400))
    // hourly agg shuffles on (event_type, hour); the trailing window
    // needs event_type — one more exchange of the tiny collapsed
    // table, nothing else.
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"got $exchanges exchanges\n$p")
  }

  test("Q17 shape broadcasts the part dim; avg test is division-free") {
    val p = plan("rel_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      p.take(400))
    // The 0.2*avg predicate must compare decimals (5*qty*cnt < sum),
    // never divide — division would reintroduce IEEE rounding into
    // the filter boundary.
    assert(!p.contains(" / "), "avg comparison must be division-free")
  }

  test("NOT IN with nullable list plans the null-aware anti join") {
    val p = plan("rel_not_in_nulls")
    // Spark's single-column NAAJ: a broadcast anti join whose hashed
    // relation tracks the null (the trailing `true` is the
    // isNullAwareAntiJoin flag), NOT a nested loop over the fact side.
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"expected a null-aware anti join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoop"), "must not fall back to NL")
  }

  test("disjunctive join keeps the hash key; OR stays residual") {
    val p = plan("rel_disjunctive_join")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      "the OR predicate must ride the partkey hash join as residual")
    // The quantity hull (common to all branches) must reach the scan.
    val f = formatted("rel_disjunctive_join")
    assert(f.contains("PushedFilters:"), f.take(400))
  }

  test("Q18 shape joins detail tables only after the HAVING filter") {
    val p = plan("rel_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("Cartesian"), p.take(400))
  }

  test("DQ audit is one outer join + one aggregation pass") {
    val p = plan("rel_dq_audit")
    assert(p.contains("LeftOuter"), p.take(400))
    // every check is a conditional count inside the same aggregate —
    // each table is scanned exactly once, not once per assertion
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      "each table scanned exactly once")
  }

  test("incremental agg maintenance is joinless partial merging") {
    val p = plan("rel_incremental_agg")
    assert(!p.contains("Join"), p.take(400))
  }

  test("char diversity is a pure narrow map — no explode, no exchange") {
    val p = plan("txt_char_diversity")
    assert(!p.contains("Exchange") && !p.contains("Generate"), p.take(600))
    assert(p.contains("char_hist_stats"), p.take(600))
  }

  test("constrained funnel chains three windows on one user exchange") {
    val p = plan("ev_constrained_funnel")
    assert(!p.contains("Join"), p.take(400))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("SinglePartition"))
    assert(exchanges == 1, s"expected one user_id exchange, got $exchanges\n$p")
  }

  test("chunk manifest is a narrow map + one generator") {
    val p = plan("txt_chunk_manifest")
    assert(!p.contains("Exchange"), p.take(600))
    assert(p.contains("Generate"), "sequence explode expected")
  }

  test("classifier scoring broadcasts the model table") {
    val p = plan("txt_classifier_score")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "the O(buckets) model must never shuffle the feature side")
  }

  test("weighted sample is a narrow scan + distributed top-k") {
    val p = plan("txt_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-100 must be per-partition heaps, not a global sort")
    assert(!p.contains("Join"), p.take(400))
  }

  test("PMI collocations: hash joins on margins, top-k at the end") {
    val p = plan("txt_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(!p.contains("CartesianProduct"),
      "only the 1-row totals frame may nested-loop")
  }

  test("readability is a pure narrow projection — no exchange") {
    val p = plan("txt_readability")
    assert(!p.contains("Exchange"), p.take(600))
  }

  test("kcore peeling: survivor sets broadcast into semi joins") {
    // The production query pins each round (lineage cut), so the
    // end-to-end plan collapses to the final aggregate; pin ONE
    // round's plan directly instead.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val p = ext.GraphOps.kcoreRound(edges, k = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("common-neighbor prediction never cross-joins") {
    val p = plan("gr_common_neighbors")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
  }

  test("weighted median is joinless — windows over one shuffle") {
    val p = plan("rel_weighted_median")
    assert(!p.contains("Join"), p.take(600))
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("SinglePartition"))
    assert(exchanges == 1,
      s"expected one l_returnflag exchange, got $exchanges\n$p")
  }

  test("table fingerprint is one aggregation — no sort, no join") {
    val p = plan("rel_table_fingerprint")
    assert(!p.contains("Join") && !p.contains("Sort"),
      "an order-independent checksum must not order or join\n" + p.take(600))
    // One partial-agg shuffle and no fixed-count repartition: the
    // plan never depends on the core count.
    val ensure = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("ENSURE_REQUIREMENTS"))
    val byNum = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("REPARTITION_BY_NUM"))
    assert(ensure == 1 && byNum == 0,
      s"one partial-agg shuffle and no REPARTITION_BY_NUM expected, " +
        s"got ensure=$ensure byNum=$byNum\n$p")
  }

  test("domain affinity broadcasts the bucket model back to the grams") {
    val p = plan("txt_domain_affinity")
    assert(p.contains("BroadcastHashJoin"),
      "the 4096-bucket model must broadcast — the gram side never shuffles " +
        "for the join\n" + p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("IVF recall evaluation broadcasts probes/queries, no bare cartesian") {
    val p = plan("sim_ivf_recall")
    assert(!p.contains("CartesianProduct"),
      "only broadcast nested loops against the tiny query/centroid sets " +
        "are acceptable\n" + p.take(600))
  }

  test("merkle ranges share the fingerprint's one-agg no-sort shape") {
    val p = plan("rel_merkle_ranges")
    assert(!p.contains("Join") && !p.contains("Sort"),
      "an order-independent range checksum must not order or join\n" +
        p.take(600))
    // Same pin as the fingerprint: one partial-agg shuffle, no
    // fixed-count repartition.
    val ensure = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("ENSURE_REQUIREMENTS"))
    val byNum = p.linesIterator
      .count(l => l.contains("Exchange") && l.contains("REPARTITION_BY_NUM"))
    assert(ensure == 1 && byNum == 0,
      s"one partial-agg shuffle and no REPARTITION_BY_NUM expected, " +
        s"got ensure=$ensure byNum=$byNum\n$p")
  }

  test("sequence gaps window within key buckets, never one global sort") {
    val p = plan("rel_sequence_gaps")
    // The per-key lead must ride a bucket-hash-partitioned window —
    // an unpartitioned WindowExec here is the 10⁹-key scale-killer.
    assert(p.contains("hashpartitioning(b#") ||
      p.contains("hashpartitioning(b "),
      "in-bucket lead must run on a bucket-partitioned exchange\n" +
        p.take(800))
  }

  test("decile lift (oracle scale) is window + two aggregations, no join " +
       "of the spend frame") {
    val p = plan("rel_decile_lift")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("price deciles plan no window at all — distributed exact ntile") {
    val p = plan("rel_price_deciles")
    assert(!p.contains("Window"),
      "exact global binning must use Ranking.exactNtile (range sort + " +
        "offset ranks), never a single-partition ntile window\n" +
        p.take(600))
  }

  test("decode features is a pure narrow map — zero exchanges") {
    val p = plan("mm_decode_features")
    assert(!p.contains("Exchange"),
      "stub decode must keep payloads in their input partitions\n" +
        p.take(600))
  }

  test("matryoshka recall broadcasts the query set, no bare cartesian") {
    val p = plan("sim_matryoshka_recall")
    assert(!p.contains("CartesianProduct"),
      "corpus×queries must be the broadcast scan shape\n" + p.take(600))
  }

  test("source TVD pairs the rollup, not the corpus: the token explode " +
       "feeds one aggregation and the pair join is never a cartesian") {
    val p = plan("txt_source_tvd")
    assert(p.contains("Generate"), "token explode should be a Generate")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("lifetime table collapses events on ONE user exchange; weeks " +
       "window only over the rollup") {
    val p = plan("ev_lifetime_table")
    val userExchanges = "hashpartitioning\\(user_id".r
      .findAllIn(p).size
    assert(userExchanges == 1,
      s"expected exactly one user_id shuffle, got $userExchanges\n" +
        p.take(600))
  }

  test("personalized pagerank output is a heap top-k over the " +
       "lineage-pinned rank frame") {
    val p = plan("gr_personalized_ppr")
    // the rounds themselves ran eagerly behind pin() (same contract
    // as gr_pagerank); what the final plan must show is the cut
    // lineage (no 2^rounds plan growth) and a TakeOrderedAndProject
    // instead of a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("ExistingRDD"),
      "per-round lineage must be pinned\n" + p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(400))
  }

  test("multimodal dedup verdict joins banded pHash buckets, never " +
       "an all-pairs cartesian") {
    val p = plan("mm_dedup_verdict")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"), p.take(600))
    assert(p.contains("Window"), "cluster size must ride one window")
  }

  test("SQ recall broadcasts stats and query set; corpus side never " +
       "plans a bare cartesian") {
    val p = plan("sim_sq_recall")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("filter funnel: one corpus scan, one content-hash exchange, " +
       "no join") {
    val p = plan("txt_filter_funnel")
    val hashExchanges = "hashpartitioning\\(content_hash".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected exactly one content_hash shuffle, got $hashExchanges\n" +
        p.take(600))
    assert(!p.contains("Join"), "funnel flags must come from one scan\n" +
      p.take(600))
  }

  test("min-cost supplier broadcasts every dimension and keeps the " +
       "join-back an equi join") {
    val p = plan("rel_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"), p.take(600))
  }

  test("HITS output is two heap top-k passes over lineage-pinned " +
       "score frames — no global sort, no sort-merge join") {
    val p = plan("gr_hits")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("ExistingRDD"),
      "half-step frames must be lineage-pinned\n" + p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("user concentration never plans a window — the global " +
       "percentile comes from the distributed exact ntile") {
    val p = plan("ev_user_concentration")
    assert(!p.contains("Window"),
      "global binning must use Ranking.exactNtile, not a " +
        "single-partition ntile window\n" + p.take(600))
  }

  test("zipf audit takes its top-20 with a heap, window only on the " +
       "collapsed frame") {
    val p = plan("txt_zipf_check")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("Generate"),
      "tokens read from the persisted TextIndex — no explode\n" + p.take(600))
  }

  test("LSH recall joins buckets and broadcast query sets — no bare " +
       "cartesian anywhere") {
    val p = plan("sim_lsh_recall")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("kmeans quality assigns via broadcast codebook and two " +
       "aggregations — no sort-merge join") {
    val p = plan("sim_kmeans_quality")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("fertility by language is one narrow map + one rollup — no " +
       "join, no window, no explode") {
    val p = plan("txt_fertility_by_lang")
    assert(!p.contains("Join") && !p.contains("Window") &&
           !p.contains("Generate"), p.take(600))
  }

  test("source impact joins the collapsed cluster table back to one " +
       "corpus scan — never a cartesian") {
    val p = plan("dedup_source_impact")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("M4 downsample is one aggregation on one scan — no window, " +
       "no join") {
    val p = plan("ev_m4_downsample")
    assert(!p.contains("Window") && !p.contains("Join"), p.take(600))
  }

  test("k-anonymity audit is one deduplicating aggregation — no " +
       "join, no window") {
    val p = plan("rel_k_anonymity")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(600))
  }

  test("CMS eval builds the sketch from the collapsed type rollup — " +
       "the Generate runs above an Aggregate, never on the raw stream") {
    val p = plan("ev_cms_accuracy")
    assert(p.contains("Generate"), p.take(400))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("tile plan is narrow generators end-to-end — no shuffle") {
    val p = plan("mm_tile_plan")
    assert(!p.contains("Exchange"),
      "tiling must keep payloads in their input partitions\n" + p.take(600))
  }

  test("keep-last-N lowers the per-key top-2 to WindowGroupLimit " +
       "partial filtering before the exchange") {
    val p = plan("rel_keep_last_n")
    assert(p.contains("WindowGroupLimit"),
      "retention compaction must bound shuffle rows per key\n" +
        p.take(600))
  }

  test("code detection is one narrow no-exchange map") {
    val p = plan("txt_code_detect")
    assert(!p.contains("Exchange"), p.take(600))
  }

  test("chi-square margins come from rollups of the cell table, " +
       "broadcast back — the base table is scanned once per arm, " +
       "never sort-merge joined") {
    val p = plan("rel_chi2_independence")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("user overlap emits pairs per user from a bounded sorted set — " +
       "never a self-join of the distinct table") {
    val p = plan("ev_user_overlap")
    assert(p.contains("Generate"), "pair emission should be an explode")
    assert(!p.contains("SortMergeJoin"),
      "sizes must broadcast; the distinct table joins nothing\n" +
        p.take(600))
  }

  test("trigram paths ride one user window sort and a heap top-15") {
    val p = plan("ev_trigram_paths")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges == 1,
      s"expected exactly one user_id shuffle, got $userExchanges\n" +
        p.take(600))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  // ---------------------------------------------------------------
  // Round-5 pipeline wave

  test("semdedup family broadcasts the 16 centroids over the corpus " +
       "scan — never an un-broadcast cartesian") {
    for (name <- Seq("dedup_semdedup", "dedup_semdedup_recall",
        "sim_ivf_imbalance")) {
      val p = plan(name)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$name: centroid attach must be a broadcast product\n" + p.take(600))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product\n" + p.take(600))
    }
  }

  test("rrf fusion: dense arm broadcasts the query slice, lexical arm " +
       "broadcasts query bigrams — the corpus side never re-shuffles " +
       "for the probe") {
    // sim_rrf_fusion pins the arm shape for BOTH fusion queries (they
    // share denseRanks/lexRanks/fusedRanks verbatim).
    val p = plan("sim_rrf_fusion")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "dense query attach must broadcast\n" + p.take(600))
    assert(p.contains("BroadcastHashJoin"),
      "lexical bigram probe must broadcast the query side\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // sim_fusion_shift consumes the arms through lineage-cut pins
    // (dense is referenced 3×, fused10 2× — unpinned, Catalyst would
    // replay the corpus passes per reference). Its top-level plan
    // therefore reads the pinned RDDs; assert that and the absence
    // of any cartesian in what remains.
    val ps = plan("sim_fusion_shift")
    assert(ps.contains("Scan ExistingRDD") || ps.contains("InMemoryTableScan"),
      "fusion-shift must consume the pinned arm frames\n" + ps.take(600))
    assert(!ps.contains("CartesianProduct"), ps.take(600))
  }

  test("dsir weights broadcast the 64-row feature table back onto the " +
       "per-doc aggregation") {
    val p = plan("txt_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the weight table must never shuffle the per-doc side\n" +
        p.take(600))
  }

  test("srm check is two aggregations with map-side partials — no " +
       "joins at all") {
    val p = plan("ev_srm_check")
    assert(!p.contains("Join"), "assignment is a narrow map\n" + p.take(600))
    assert(p.contains("partial_"),
      "exposure distinct must partial-aggregate before the exchange\n" +
        p.take(600))
  }

  test("cuped attaches the split scalar by broadcast and collapses " +
       "per user before the moment sums — no event-row re-shuffle") {
    val p = plan("ev_cuped")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "t0 scalar must broadcast\n" + p.take(600))
    val userExchanges =
      "hashpartitioning\\(event_type[^)]*user_id".r.findAllIn(p).size
    assert(userExchanges == 1,
      s"expected one (event_type, user) shuffle, got $userExchanges\n" +
        p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("diff-in-diff never shuffles by user — cells partial-aggregate " +
       "on (type, treated, post) only") {
    val p = plan("ev_diff_in_diff")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "t0 scalar must broadcast\n" + p.take(600))
    assert(!p.contains("hashpartitioning(user_id"),
      "user-level shuffle planned — cells must ride map-side partials\n" +
        p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(600))
  }

  test("modality packing windows per kind — no global window, payload " +
       "bytes never shuffle") {
    val p = plan("mm_modality_pack")
    assert(p.contains("windowspecdefinition(kind"),
      "running sum must partition by modality shard\n" + p.take(800))
  }

  test("resource-allocation link prediction broadcasts the degree " +
       "frame and anti-joins adjacency — top-30 via a bounded heap") {
    val p = plan("gr_resource_allocation")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("LeftAnti"), p.take(600))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("compaction planner windows per partition-month and shuffles " +
       "file metadata only — no join, no global window") {
    val p = plan("rel_compaction_plan")
    assert(p.contains("windowspecdefinition(part_month"),
      "running sum must partition by month\n" + p.take(800))
    assert(!p.contains("Join"), "planner is scan+agg+window\n" + p.take(600))
    assert(p.contains("partial_count"),
      "file row counts must map-side combine\n" + p.take(600))
  }

  test("z-order layout is one scan, one aggregation — the Morton key " +
       "is a projection, no join, no window, one exchange") {
    val p = plan("rel_zorder_layout")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(600))
    assert(p.contains("partial_count"),
      "bucket stats must map-side combine\n" + p.take(600))
    assert("Exchange".r.findAllIn(p).size == 1,
      "exactly one bucket-key exchange expected\n" + p.take(600))
  }

  test("power analysis collapses per user before the moment sums — " +
       "no join, exactly one (type, user) shuffle") {
    val p = plan("ev_power_analysis")
    assert(!p.contains("Join"), p.take(600))
    val userExchanges =
      "hashpartitioning\\(event_type[^)]*user_id".r.findAllIn(p).size
    assert(userExchanges == 1,
      s"expected one (event_type, user) shuffle, got $userExchanges\n" +
        p.take(800))
  }

  test("incremental dedup probes batch-vs-history only — no " +
       "cartesian, no history-side nested loop") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(p.contains("partial_min"),
      "match ids must map-side combine\n" + p.take(600))
  }

  test("zone-map pruning scans the fact table ONCE and aggregates " +
       "straight to (layout, bucket) — no point-grid exchange") {
    val p = plan("rel_zone_map_prune")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "both layouts must share one scan\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 16-predicate probe joins broadcast against zone maps\n" +
        p.take(600))
    // round 10: the (x, y) grid pre-aggregation paid an extra full
    // exchange of up to 2^20 rows; the direct (layout, bucket)
    // aggregation's map side compresses to ≤ 1024 rows per task
    assert(!"""hashpartitioning\(x#\d+L?, y#""".r.findFirstIn(p).isDefined,
      "no exchange keyed on the raw (x, y) grid\n" + p.take(800))
  }

  test("factorial readout is one conditional aggregation — no join, " +
       "no user-level shuffle") {
    val p = plan("ev_factorial_interaction")
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("hashpartitioning(user_id"),
      "cells must ride map-side partials\n" + p.take(800))
  }

  test("louvain move round: node-sized degree frames broadcast onto " +
       "the edge frame — no cartesian, no quadratic step") {
    val p = plan("gr_louvain_move")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both degree attachments must broadcast\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("cardinality-estimate audit scans each fact table ONCE — " +
       "marginals come from windows over the cell rollup, not " +
       "re-derived joins") {
    val p = plan("rel_cardinality_est")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      "one lineitem scan + one orders scan, nothing re-derived\n" +
        p.take(800))
    assert(p.contains("Window"), p.take(600))
  }

  test("pack-efficiency eval rides one (lang, cap) shuffle — the " +
       "2-way capacity explode happens before the window") {
    val p = plan("txt_pack_efficiency")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "both capacities must share one documents scan\n" + p.take(800))
    assert(p.contains("Generate explode"),
      "capacity tagging is an explode before the window\n" + p.take(600))
  }

  test("jaccard link prediction: node-sized degree frames broadcast " +
       "onto candidates, ranking is TakeOrdered, no cartesian") {
    val p = plan("gr_jaccard_linkpred")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "cap filter + two degree attachments must broadcast\n" +
        p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 must be TakeOrdered, not a global sort\n" + p.take(600))
  }

  test("equi-depth histogram builds via the range-partitioned " +
       "exactNtile — never a single-partition NTILE window") {
    val p = plan("rel_histogram_equidepth")
    assert(!p.contains("Window"),
      "no WindowExec anywhere — the global-order ntile hazard\n" +
        p.take(800))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("encoding advisor rides ONE lineitem scan — the 3-column " +
       "unpivot happens before the per-file window") {
    val p = plan("rel_encoding_advisor")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "all three columns must share one scan\n" + p.take(800))
    assert(p.contains("Window"), p.take(600))
  }

  test("a/v alignment rides the joinless window-carry asof — no " +
       "join operator, both timelines explode narrowly") {
    val p = plan("mm_av_align")
    assert(p.contains("Window"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      "asof must stay the union+window carry\n" + p.take(600))
    assert("Generate explode".r.findAllIn(p).size >= 2,
      "frame and audio-window grids are explodes\n" + p.take(600))
  }

  test("view-answer audit: two fact scans (base arm + view arm), " +
       "the final reconciliation join is never a cartesian") {
    val p = plan("rel_view_answer")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      "one scan per arm\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("funnel window sensitivity rides ONE events scan — the " +
       "3-way window explode happens before the per-user exchange") {
    val p = plan("ev_funnel_windows")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "all three windows must share one scan\n" + p.take(800))
    assert(p.contains("Generate explode"), p.take(600))
    assert(p.contains("Window"), p.take(600))
  }

  test("split leakage labels pairs by hashing their own ids — no " +
       "join back to the corpus, cells aggregate the LSH pair frame") {
    val p = plan("dedup_split_leakage")
    // The banded self-join is the ONLY join: split labels are pure
    // projections over the pair frame.
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size <= 1,
      "only the band-bucket self-join may join\n" + p.take(800))
  }

  test("water-fill allocator: one corpus scan feeds a metadata-" +
       "scale window stage — no join, no corpus-sized window") {
    val p = plan("txt_waterfill_budget")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), "allocator must be joinless\n" +
      p.take(600))
  }

  test("contrastive pairs mine sort-neighbors on one per-source " +
       "window — never a same-source self-join") {
    val p = plan("mm_contrastive_pairs")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"),
      "candidate generation must be windowed, not joined\n" +
        p.take(600))
    assert(p.contains("Window"), p.take(600))
  }

  test("hubness audit joins label blocks only — no cartesian, " +
       "histogram via hash aggregation") {
    val p = plan("sim_hubness_audit")
    assert(!p.contains("CartesianProduct"),
      "kNN edges must come from the label-blocked equi join\n" +
        p.take(600))
    // The only nested-loop is the antihub arm's 1-row × 1-row
    // scalar attach; the corpus self-join must hash on label.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      p.take(800))
    assert("BroadcastHashJoin \\[label".r.findAllIn(p).size >= 1,
      "label-blocked equi join expected\n" + p.take(800))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("partition planner: one fact scan, window arithmetic only " +
       "over the key-count rollup, no join") {
    val p = plan("rel_partition_skew_planner")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), "planner must be joinless\n" +
      p.take(600))
  }

  test("mix-shift decomposition: one fact scan, per-priority lag " +
       "window over the month rollup, no join") {
    val p = plan("rel_mix_shift")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Join"), p.take(600))
    assert(p.contains("Window"), p.take(600))
  }

  test("winback segments ride the persisted ntile frame: no parquet " +
       "rescan, no window, one decile shuffle plus a scalar ref max") {
    val p = plan("ev_winback_segments")
    // Both the decile rollup AND the "now" reference point read the
    // RDD exactNtile already persisted — rescanning events for the
    // corpus max would cost a full second scan + per-user shuffle.
    assert(!p.contains("FileScan parquet"),
      "ref arm must reuse the tiled frame, not rescan events\n" +
        p.take(600))
    assert(!p.contains("Window"),
      "deciles must come from exactNtile, not a global NTILE window\n" +
        p.take(600))
    // The only nested-loop is the 1-row ref broadcast attach.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("curriculum order is the lineage-cut exactNtile frame — " +
       "no single-partition NTILE window survives into the plan") {
    val p = plan("txt_curriculum_order")
    assert(p.contains("ExistingRDD"),
      "shard cut must be the range-partitioned exactNtile\n" + p.take(400))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(400))
  }

  test("template detection: one pruned scan, explode-free opener " +
       "slice, partial-agg'd two-level distinct rollup, no join") {
    val p = plan("txt_template_detection")
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(800))
    assert(!p.contains("Generate"),
      "opener must be a prefix slice, not a token explode\n" + p.take(600))
    assert(!p.contains("Join") && !p.contains("Expand"), p.take(600))
    assert(p.contains("HashAggregate"), p.take(600))
  }

  test("sssp rounds ride the pinned lineage-cut frame — the final " +
       "plan is one aggregation over the cached frontier, no joins") {
    // The relaxation joins execute eagerly inside pinStep (same
    // regime as gr_pagerank); the final plan must show the cut
    // lineage, not a 2^rounds re-derivation.
    val p = plan("gr_sssp")
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      "per-round lineage must be pinned\n" + p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(400))
  }
}
