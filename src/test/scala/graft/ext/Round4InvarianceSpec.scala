package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Partition-count invariance for the continuation-session queries:
  * every result must be IDENTICAL (row multiset, exact values) under
  * different shuffle-partition settings — the local stand-in for
  * "the same answer on a 4-node and a 1000-node cluster". Queries
  * built on integer/decimal arithmetic or selected (not computed)
  * floats must not vary by a bit.
  */
class Round4InvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "gr_kcore", "gr_common_neighbors", "gr_degree_hist",
    "txt_weighted_sample", "txt_pmi_collocations", "txt_readability",
    "txt_mixture_weights", "txt_source_overlap", "txt_source_diversity",
    "txt_rake_keywords", "txt_bpe_merge_count",
    "ev_changepoint_cusum", "ev_peak_concurrency", "ev_cohort_ltv",
    "ev_seasonality", "rel_price_deciles", "rel_weighted_median",
    "rel_pareto_frontier", "rel_rank_movers", "mm_scene_cuts",
    "sim_threshold_sweep", "rel_window_semantics")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }
}
