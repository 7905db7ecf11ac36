package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

object WindowAuditSpec {
  /** True when `p` plans a WindowExec with an empty partition spec —
    * one task sorts the window's whole input. */
  def unpartitioned(p: SparkPlan): Boolean = p.collectFirst {
    case w: WindowExec if w.partitionSpec.isEmpty => true
    case a: AdaptiveSparkPlanExec if unpartitioned(a.initialPlan) => true
  }.isDefined
}

/** Registry-wide single-partition-window pin (round-5 verdict item
  * 6): the only queries allowed to plan a WindowExec with an EMPTY
  * partition spec are the allowlist below, where the window's input
  * frame is provably tiny by construction (a grouped rollup over
  * days/weeks/buckets/sources/deciles, a top-N, a pre-shrunk
  * frontier) or the site is the small side of
  * [[Regimes.GlobalNtile]], whose big side is Ranking.exactNtile
  * (ev_rfm_segments, rel_decile_lift).
  *
  * A lit(0) partition key does NOT suppress the shape — Spark 4's
  * EliminateWindowPartitions strips foldable partition expressions
  * (round-6 finding), which is also why the benign sites still WARN
  * in bench logs. This spec is the real guarantee: any NEW query —
  * or a regression in an existing one — that funnels a corpus-sized
  * frame through one WindowExec task fails the build here instead of
  * hiding among known-benign warnings. txt_vocab_growth, whose
  * cumulative frame IS corpus-sized (one row per doc), was moved off
  * WindowExec onto Ranking.runningSums for exactly this reason.
  */
class WindowAuditSpec extends AnyFunSuite with SharedSpark {
  import WindowAuditSpec.unpartitioned

  private val allowlist = Set(
    "dedup_split_leakage",        // ≤ |splits|² cells
    "ev_burn_rate_alert",         // per-minute-bucket rollup
    "ev_changepoint_cusum",       // daily rollup
    "ev_cumulative_users",        // daily rollup
    "ev_lifetime_table",          // weekly lifetable
    "ev_rfm_segments",            // Regimes.GlobalNtile small side
    "rel_cardinality_est",        // flag×priority rollup
    "rel_decile_lift",            // GlobalNtile small side + 10 deciles
    "rel_pareto_frontier",        // pre-shrunk level-1 frontier
    "rel_partition_skew_planner", // per-ship-month keys
    "rel_sequence_gaps",          // per-bucket boundaries
    "txt_vocab_coverage",         // frequency classes
    "txt_waterfill_budget",       // per-source rollup
    "txt_zipf_check")             // 20-row top

  test("no query outside the documented-tiny allowlist plans an " +
       "unpartitioned WindowExec") {
    val sfDir = "/root/testdata/sf0.001"
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad =
          try unpartitioned(fn(spark, sfDir).queryExecution.executedPlan)
          catch { // a query that cannot PLAN must fail loudly, not
                  // silently pass this pin (testdata-vintage drift)
            case e: Throwable =>
              failed += name -> e.getMessage.take(120); false
          }
        if (bad) Some(name) else None
    }.toSet
    assert(failed.isEmpty,
      s"${failed.size} queries failed to plan at sf0.001 (window pin " +
        s"cannot be checked): ${failed.map { case (n, m) => s"$n: $m" }
          .mkString("; ")}")
    assert((hits -- allowlist).isEmpty,
      s"NEW unpartitioned WindowExec (single-task at scale) in: " +
        s"${(hits -- allowlist).toSeq.sorted.mkString(", ")} — " +
        "distribute it (Ranking.runningSums / exactNtile / threshold " +
        "switch) or, if the frame is provably tiny, extend the " +
        "allowlist with the justification")
    assert((allowlist -- hits).isEmpty,
      s"stale allowlist entries (site fixed or renamed): " +
        s"${(allowlist -- hits).toSeq.sorted.mkString(", ")}")
  }
}
