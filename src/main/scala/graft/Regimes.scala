package graft

import org.apache.spark.sql.SparkSession

/** Every scale switch in the engine: each operator whose plan at
  * 100 TB must differ from its plan at the oracle scales asks [[big]]
  * with one of the entries below and the input measure it observed.
  * At every oracle scale each entry stays on its small side, so the
  * oracle SQL always checks the small-side plan; the big side is the
  * only plan that runs past the threshold, and tests run it by
  * setting [[ForceBig]] on the session.
  *
  * @param threshold the largest observed measure that keeps the small
  *                  side
  * @param contract  what the big side guarantees relative to the
  *                  small side
  */
final case class Regime(name: String, threshold: Long, contract: String)

object Regimes {

  /** Observed: an upper bound on the node count (or, for
    * gr_random_walk, on the walker count). */
  val GraphBroadcast: Regime = Regime("graph broadcast", 10000000L,
    "exact: only the join strategy changes — node-sized frames join " +
      "with a SHUFFLE_HASH hint instead of broadcasting; every row " +
      "is identical")

  /** Observed: lineitem rows. */
  val ExactPercentile: Regime = Regime("exact percentile", 100000000L,
    "approximate: percentiles come from the approx_percentile sketch " +
      "at accuracy 10000, so each returned value's rank is within " +
      "n/10000 + 1 of the exact percentile's rank; group keys and " +
      "row counts are exact")

  /** Observed: an upper bound on the rows of the ranked frame. */
  val GlobalNtile: Regime = Regime("global ntile", 50000000L,
    "approximate: bucket edges come from approx_percentile cuts at " +
      "accuracy 10000 instead of one global ntile window; keys and " +
      "row counts are exact; rows tied on the ranked value share one " +
      "bucket, within one of the exact buckets their tie group spans; " +
      "over distinct values each edge (rows through bucket i) is " +
      "within ceil(n/10000) + 1 rows of the exact edge")

  /** Observed: rows of the frame the running sum scans. */
  val PrefixSum: Regime = Regime("prefix sum", 2000000L,
    "exact: a distributed two-pass prefix sum replaces the " +
      "single-partition running window; every row is identical")

  /** Observed: rows of the symmetric edge list. */
  val DsuComponents: Regime = Regime("DSU components", 1000000L,
    "exact: iterative min-label propagation replaces the one-task " +
      "union-find; every vertex gets the same component minimum")

  /** Session conf that puts every entry on its big side. Off by
    * default and set by nothing in the engine: it exists so tests and
    * the forced Verify gate can run the big-side plans at oracle
    * scales. */
  val ForceBig = "spark.graft.regimes.forceBig"

  /** True when the big-side plan must run: the session forces it, or
    * `observed` exceeds the entry's threshold. `observed` is not
    * evaluated when forced. */
  def big(s: SparkSession, r: Regime, observed: => Long): Boolean =
    s.conf.get(ForceBig, "false").toBoolean || observed > r.threshold
}
