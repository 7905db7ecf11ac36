package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Regimes, Tables}

/** Graph analytics over relationally-derived graphs — the two shapes
  * a warehouse actually runs without a dedicated graph engine:
  * fixed-round PageRank (influence/centrality over an interaction
  * graph) and triangle counting (community density). Iterative
  * min-label propagation (connected components) already lives in
  * [[Dedup.connectedComponents]]; these add the numeric-iteration
  * and the wedge-closure patterns.
  *
  * Determinism: PageRank is computed entirely in integer micro-rank
  * units (rank 1.0 ≡ 10¹²). Per-edge contribution is `rank div
  * outdeg`, damping is `base + (85·Σ) div 100` — every step is
  * integer division and integer addition, so the result is
  * bit-identical under any partial-aggregation order, any partition
  * count, and in DuckDB (whose `//` matches `div` on positives).
  * A floating PageRank would flutter by ulps between engines.
  *
  * Scale posture: each PageRank iteration is one join (ranks ⋈ edges
  * on src) plus one aggregation (Σ contributions by dst) — the
  * Pregel message round expressed relationally. The rank frame is
  * node-sized, so the round join BROADCASTS ranks and the cached
  * edge frame never shuffles; the per-dst sum is map-side combined
  * into node-sized partials. Beyond broadcastable node counts (10⁹
  * nodes) the round becomes the SHUFFLE_HASH join + lineage-cut loop
  * that Dedup.connectedComponents already implements. Edge and rank
  * frames are pinned (persist + LogicalRDD lineage cut) because an
  * unrolled 3-round plan references each round's output twice — an
  * uncut lineage re-derives the edge build 2^rounds times (observed
  * 13 s → ~2 s at sf0.1).
  *
  * Triangle counting first thresholds the co-purchase graph on
  * support (pairs co-occurring in ≥2 orders) — the association-rule
  * move that removes the quadratic noise floor — then orients each
  * surviving edge from its (degree, id)-smaller endpoint, bounding
  * per-node out-degree by O(√m) and wedge work by O(m^1.5) on any
  * skew. Orientation follows the SAME total order used to order
  * wedge endpoints, so a wedge's closing edge has exactly one
  * storable direction and closure is a pure equi-join (an OR-of-
  * directions condition would force a nested-loop join).
  */
object GraphOps {

  /** Node-sized join side under [[Regimes.GraphBroadcast]]:
    * broadcast on the small side; on the big side a SHUFFLE_HASH hint,
    * because the stats-less LogicalRDD leaves of pinned frames would
    * otherwise plan sort-merge and neither side broadcasts at 10⁹
    * nodes. Only the join strategy changes, never a row. */
  private def maybeB(bcast: Boolean, df: DataFrame): DataFrame =
    if (bcast) broadcast(df) else df.hint("SHUFFLE_HASH")

  /** Pin manager for unrolled iterative loops — LAZY per round (no
    * eager count, no early unpersist: the lineage cut bounds the
    * unrolled plan and the persist makes each round compute once
    * inside the caller's single action; the per-round count barrier
    * the round-8 version paid — one full sequential job per round,
    * measured ~40% of gr_pagerank at sf0.1 — buys nothing), with a
    * BOUNDED cache footprint (guide §5): unpersisting a round before
    * anything materialized would re-introduce the 2^rounds recompute
    * the pin exists to prevent, so instead every [[RoundPins.window]]
    * rounds the manager materializes the newest round frame (ONE
    * node-sized job) and only then drops every older pin — older
    * rounds can no longer be recomputed through lineage once a later
    * round is resident. Local loops run 2-4 rounds, below the
    * window, so they keep the zero-barrier behavior bit-for-bit; a
    * deep loop at 10⁹ nodes holds at most `window` node-sized frames
    * instead of `rounds`, paying rounds/window amortized barrier
    * jobs. The window is an internal constant: ANY value ≥ 1 yields
    * identical results (it only trades cache residency against
    * barrier jobs). */
  private final class RoundPins(window: Int = RoundPins.defaultWindow) {
    private val older =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var sinceBarrier = 0

    /** Pin one round frame (the loop-carried state). */
    def step(df: DataFrame): DataFrame = {
      val cut = pin(df)
      sinceBarrier += 1
      if (sinceBarrier >= window) {
        cut.count() // materialize: everything older is now droppable
        older.foreach(_.unpersist(blocking = false))
        older.clear()
        sinceBarrier = 0
      }
      older += cut
      cut
    }

    /** Pin an intra-round helper frame (e.g. k-core's survivor set):
      * dropped at the same barriers as the round frames. */
    def also(df: DataFrame): DataFrame = {
      val cut = pin(df)
      older += cut
      cut
    }
  }

  private object RoundPins { val defaultWindow = 8 }

  /** Undirected bipartite interaction graph from the testdata star
    * schema: customer ↔ supplier whenever a lineitem links them.
    * Ids are parity-disambiguated (customer 2k, supplier 2k+1).
    * Read from the persisted [[GraphIndex]] layout — the distinct
    * (c, s) pairs are stored once; parity mapping and symmetrization
    * are narrow projections over the scan. */
  private def interactionEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = GraphIndex.interaction(s, d)
      .select(($"c" * 2).as("src"), ($"s" * 2 + 1).as("dst"))
    e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
  }

  private val prOracle = {
    // One iteration of the integer PageRank as a CTE pair; unrolled
    // three times below (DuckDB `//` = Spark `div` on positives).
    def iter(i: Int) = s"""
        c$i AS MATERIALIZED (
          SELECT e.dst AS id, SUM(r.r // e.outdeg) AS c
          FROM em e
          JOIN r${i - 1} r ON e.src = r.id
          GROUP BY e.dst),
        r$i AS MATERIALIZED (
          SELECT p.id, nn.base + (85 * COALESCE(c$i.c, 0)) // 100 AS r
          FROM r${i - 1} p LEFT JOIN c$i ON p.id = c$i.id, nn)"""
    s"""WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        em AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg
               FROM edges e JOIN deg d ON e.src = d.src),
        nn AS MATERIALIZED (
          SELECT 1000000000000 // COUNT(*) AS unit,
                 (15 * (1000000000000 // COUNT(*))) // 100 AS base
          FROM deg),
        r0 AS MATERIALIZED (SELECT src AS id, nn.unit AS r FROM deg, nn),
        ${iter(1)},
        ${iter(2)},
        ${iter(3)}
        SELECT id AS node_id,
          CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
          CAST(r AS BIGINT) AS rank3
        FROM r3 ORDER BY rank3 DESC, node_id LIMIT 30"""
  }

  private val pprOracle = {
    // [[prOracle]]'s iteration with restart mass confined to seeds;
    // the is_seed flag rides each r_i CTE.
    def iter(i: Int) = s"""
        c$i AS MATERIALIZED (
          SELECT e.dst AS id, SUM(r.r // e.outdeg) AS c
          FROM em e
          JOIN r${i - 1} r ON e.src = r.id
          WHERE r.r > 0
          GROUP BY e.dst),
        r$i AS MATERIALIZED (
          SELECT p.id, p.is_seed,
            p.is_seed * ns.base + (85 * COALESCE(c$i.c, 0)) // 100 AS r
          FROM r${i - 1} p LEFT JOIN c$i ON p.id = c$i.id, ns)"""
    s"""WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        em AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg
               FROM edges e JOIN deg d ON e.src = d.src),
        seeds AS MATERIALIZED (
          SELECT DISTINCT c_custkey * 2 AS id FROM customer
          WHERE c_nationkey = 0),
        nodes AS MATERIALIZED (
          SELECT d.src AS id,
            CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS is_seed
          FROM deg d LEFT JOIN seeds s ON d.src = s.id),
        ns AS MATERIALIZED (
          SELECT 1000000000000 // SUM(is_seed) AS unit,
                 (15 * (1000000000000 // SUM(is_seed))) // 100 AS base
          FROM nodes),
        r0 AS MATERIALIZED (SELECT id, is_seed, is_seed * ns.unit AS r FROM nodes, ns),
        ${iter(1)},
        ${iter(2)},
        ${iter(3)}
        SELECT id AS node_id,
          CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
          CAST(r AS BIGINT) AS ppr3
        FROM r3 WHERE r > 0 ORDER BY ppr3 DESC, node_id LIMIT 30"""
  }

  /** Fixed-round integer PageRank over a symmetric edge list
    * (src, dst). Returns (id, r) with r in micro-rank units
    * (1.0 ≡ 10¹²). See the object scaladoc for the determinism and
    * scale reasoning.
    */
  def pagerank(edges0: DataFrame, rounds: Int = 3,
               nodeBound: Long = -1L): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = pin(edges0)
    // Pinned: referenced by the em build, the unit frame and the
    // rank init — one computation instead of three.
    val deg0 = pin(edges.groupBy($"src").agg(count(lit(1)).as("outdeg")))
    // Broadcast/SHUFFLE_HASH regime switch ([[maybeB]]). Callers
    // with a cheap node-count UPPER BOUND (e.g. dimension-table row
    // counts) pass it to skip the eager count job this operator
    // otherwise pays before its main action (guide §1.2); the switch
    // is never semantic and an overshoot only flips
    // broadcast→SHUFFLE_HASH earlier, the safe direction.
    val bcast = !Regimes.big(s, Regimes.GraphBroadcast,
      if (nodeBound >= 0L) nodeBound else deg0.count())
    // Edge frame with the sender's out-degree attached — the only
    // big table; pinned, scanned once per round, never shuffled in
    // the broadcast regime.
    val em = pin(edges
      .join(maybeB(bcast, deg0.withColumnRenamed("src", "dsrc")),
        col("src") === col("dsrc"))
      .select($"src", $"dst", $"outdeg"))
    // unit/base as a broadcast 1-row frame instead of an eager
    // .count() scalar (the same §1.2 device as personalizedPagerank's
    // seed count): the node count IS semantic here (unit = 10¹² div
    // n), but it folds into the caller's single action as a
    // crossJoined broadcast — integer div arithmetic identical.
    val unitF = pin(deg0.agg(count(lit(1)).as("nn"))
      .select(expr("1000000000000 div greatest(nn, 1)").as("unit"))
      .withColumn("base", expr("(15 * unit) div 100")))
    var ranks = pin(deg0.select($"src".as("id"))
      .crossJoin(broadcast(unitF))
      .select($"id", $"unit".as("r")))
    val rp = new RoundPins()
    for (_ <- 1 to rounds) {
      val contrib = em
        .join(maybeB(bcast, ranks), $"src" === $"id")
        .groupBy($"dst")
        .agg(sum(expr("r div outdeg")).as("c"))
      ranks = rp.step(ranks.select($"id")
        .crossJoin(broadcast(unitF))
        .join(maybeB(bcast, contrib), $"id" === $"dst", "left")
        .select($"id",
          ($"base" + expr("(85 * coalesce(c, 0L)) div 100")).as("r")))
    }
    ranks
  }

  /** Personalized PageRank: same fixed-round integer machinery as
    * [[pagerank]], but ALL restart mass goes to the seed set — the
    * "similar to these" recommendation / trust-propagation form.
    * Seeds split 10¹² micro-rank units evenly; each round a node
    * receives (seed ? base : 0) + 85% of inbound contributions.
    * Non-reached nodes stay at exactly 0 (integer arithmetic — no
    * epsilon tail), so the frontier is genuinely sparse: the contrib
    * join's rank side is filtered to r > 0, making per-round work
    * proportional to the REACHED set, not the node count — at 10⁹
    * nodes with a small seed set the first rounds touch only the
    * seeds' neighborhoods. Same broadcast/SHUFFLE_HASH regime switch
    * and per-round lineage pinning as [[pagerank]].
    *
    * @param seeds0 one column `id`; ids absent from the graph are
    *               ignored (mass splits over present seeds only).
    * @param nodeBound optional UPPER BOUND on the node count, used
    *               only for the broadcast/SHUFFLE_HASH regime switch
    *               (never semantic — unlike [[pagerank]], whose unit
    *               is 10¹²/n, ppr's unit divides by the seed count).
    *               Callers with a cheap bound (e.g. dimension-table
    *               row counts) pass it to skip the eager node-count
    *               job this operator otherwise pays before its main
    *               action (guide §1.2: one sequential job removed per
    *               invocation); a bound that overshoots only flips
    *               broadcast→SHUFFLE_HASH earlier, which is the safe
    *               direction.
    */
  def personalizedPagerank(edges0: DataFrame, seeds0: DataFrame,
                           rounds: Int = 3,
                           nodeBound: Long = -1L): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = pin(edges0)
    val deg0 = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val bcast = !Regimes.big(s, Regimes.GraphBroadcast,
      if (nodeBound >= 0L) nodeBound else deg0.count())
    val em = pin(edges
      .join(maybeB(bcast, deg0.withColumnRenamed("src", "dsrc")),
        col("src") === col("dsrc"))
      .select($"src", $"dst", $"outdeg"))
    // node frame with a seed flag; mass splits over PRESENT seeds
    val nodes = pin(deg0.select($"src".as("id"))
      .join(maybeB(bcast, seeds0.select($"id".as("seed_id")).distinct()),
        $"id" === $"seed_id", "left")
      .select($"id", $"seed_id".isNotNull.cast("long").as("is_seed")))
    // unit/base as a broadcast 1-row frame instead of an eager
    // .head() scalar: the old form paid one sequential driver job
    // per invocation BEFORE the main action could start (guide §1.2);
    // as a crossJoined broadcast the seed count folds into the same
    // single action as the rounds. Integer div arithmetic identical:
    // unit = 10¹² div max(ns, 1), base = (15·unit) div 100.
    val unitF = pin(nodes
      .agg(coalesce(sum($"is_seed"), lit(0L)).as("ns"))
      .select(expr("1000000000000 div greatest(ns, 1)").as("unit"))
      .withColumn("base", expr("(15 * unit) div 100")))
    var ranks = pin(nodes.crossJoin(broadcast(unitF))
      .select($"id", ($"is_seed" * $"unit").as("r")))
    val rp = new RoundPins()
    for (_ <- 1 to rounds) {
      val contrib = em
        .join(maybeB(bcast, ranks.filter($"r" > 0)), $"src" === $"id")
        .groupBy($"dst")
        .agg(sum(expr("r div outdeg")).as("c"))
      ranks = rp.step(nodes.crossJoin(broadcast(unitF))
        .join(maybeB(bcast, contrib), $"id" === $"dst", "left")
        .select($"id",
          ($"is_seed" * $"base" + expr("(85 * coalesce(c, 0L)) div 100"))
            .as("r")))
    }
    ranks
  }

  /** Exact triangle count of an undirected simple graph given as
    * distinct (a, b) pairs with a < b. Returns one row
    * (n_triangles, n_edges, n_nodes). See the object scaladoc for
    * the degree-orientation reasoning.
    */
  def triangleCount(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val pairs = pin(pairs0)
    val deg = pairDegrees(pairs)
    val closed = closedTriangles(pairs, deg)
    val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    // explicit broadcast on the one-row sides: the planner picks it
    // anyway today, but an explicit hint is pinnable (PlanSpec) and
    // can't silently degrade to a shuffled BNL under AQE edge cases.
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(nEdges)).crossJoin(broadcast(nNodes))
  }

  private def pairDegrees(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select($"a".as("v")).unionAll(pairs.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
  }

  /** Degree-oriented triangle enumeration shared by [[triangleCount]]
    * and [[localClustering]]: one (center, x, y) row per triangle.
    * Orient u→w from the (degree, id)-smaller endpoint; carry w's
    * (deg, id) so wedge endpoints can be ordered by the SAME total
    * order (making the closure probe a pure equi-join). */
  private def closedTriangles(pairs: DataFrame, deg: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = pin(pairs
      .join(deg.select($"v".as("va"), $"deg".as("da")), $"a" === $"va")
      .join(deg.select($"v".as("vb"), $"deg".as("db")), $"b" === $"vb")
      .select(
        when(aFirst, $"a").otherwise($"b").as("u"),
        when(aFirst, $"b").otherwise($"a").as("w"),
        when(aFirst, $"db").otherwise($"da").as("wdeg")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.wdeg") < col("e2.wdeg") ||
            (col("e1.wdeg") === col("e2.wdeg") &&
              col("e1.w") < col("e2.w"))))
      .select(col("e1.u").as("c"), col("e1.w").as("x"), col("e2.w").as("y"))
    wedges.join(oriented.as("e3"),
      col("x") === col("e3.u") && col("y") === col("e3.w"))
      .select(col("c"), col("x"), col("y"))
  }

  /** Per-node triangle participation and local clustering coefficient
    * over distinct (a, b) pairs with a < b: each enumerated triangle
    * credits all three of its nodes; cc = triangles / (deg·(deg−1)/2)
    * in exact integer ppm. Nodes of degree < 2 (no wedge) are
    * excluded — their coefficient is undefined. */
  def localClustering(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    import s.implicits._
    val pairs = pin(pairs0)
    val deg = pairDegrees(pairs)
    val triNode = closedTriangles(pairs, deg)
      .select(explode(array($"c", $"x", $"y")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("n_tri"))
    deg.filter($"deg" >= 2)
      .join(triNode.select($"v".as("tv"), $"n_tri"), $"v" === $"tv", "left")
      .select($"v".as("node_id"), $"deg",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        expr("coalesce(n_tri, 0L) * 2000000 div (deg * (deg - 1))")
          .as("cc_ppm"))
  }

  /** Symmetric support-thresholded co-purchase graph — the same pair
    * build as `gr_triangle_count` (parts sharing >= 2 distinct
    * orders), materialized in both directions as (src, dst). Read
    * from the persisted [[GraphIndex]] layout: the (a, b, w) pairs
    * are stored once; symmetrization is a projection + union over
    * the scan, never a repeated lineitem self-join. */
  private def copurchaseSym(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = GraphIndex.copurchase(s, d).select($"a", $"b")
    pairs.unionAll(pairs.select($"b".as("a"), $"a".as("b")))
      .toDF("src", "dst")
  }

  private val copurchaseSymSql =
    """pairs AS MATERIALIZED (
          SELECT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
               UNION ALL SELECT b AS src, a AS dst FROM pairs)"""

  /** Two broadcast-join min-label rounds (distance-2 community
    * seeding) — shared by `gr_label_prop` (which outputs it) and
    * `gr_modularity` (which scores it). Label frames pinned: round
    * i+1 references round i twice (self + neighbor wing). */
  private def labelProp2(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    var labels = pin(edges.select($"src".as("v")).distinct()
      .select($"v", $"v".as("lbl")))
    val rp = new RoundPins()
    for (_ <- 1 to 2) {
      val fromNbr = edges
        .join(broadcast(labels.select($"v".as("u"), $"lbl")),
          $"src" === $"u")
        .select($"dst".as("v"), $"lbl")
      labels = rp.step(labels.unionByName(fromNbr)
        .groupBy($"v").agg(min($"lbl").as("lbl")))
    }
    labels
  }

  /** Newman modularity of a community assignment over a symmetric
    * directed edge list — exact-integer numerator/denominator, one
    * final correctly-rounded division (see gr_modularity's
    * commentary). `labels` must cover every edge endpoint, columns
    * (v, lbl). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val totals = edges
      .join(broadcast(labels.select(col("v").as("sv"),
        col("lbl").as("src_lbl"))), col("src") === col("sv"))
      .join(broadcast(labels.select(col("v").as("dv"),
        col("lbl").as("dst_lbl"))), col("dst") === col("dv"))
      .agg(count(lit(1)).as("m_directed"),
        count(when(col("src_lbl") === col("dst_lbl"), 1)).as("n_within"))
    val degSq = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .join(broadcast(labels), col("src") === col("v"))
      .groupBy(col("lbl")).agg(sum(col("deg")).as("d_c"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("d_c") * col("d_c")).as("sum_dc2"))
    totals.crossJoin(broadcast(degSq))
      .select(col("n_communities"), col("m_directed"), col("n_within"),
        (col("n_within") * col("m_directed") - col("sum_dc2")).as("q_num"),
        ((col("n_within") * col("m_directed") - col("sum_dc2"))
          .cast("double") /
         (col("m_directed") * col("m_directed")).cast("double"))
          .as("modularity"))
  }

  /** Oracle CTEs mirroring [[labelProp2]] (requires e0). */
  private val labelPropSql =
    """l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM e0),
        l1 AS MATERIALIZED (SELECT v, MIN(lbl) AS lbl FROM (
            SELECT v, lbl FROM l0
            UNION ALL
            SELECT e.dst AS v, l.lbl FROM e0 e JOIN l0 l ON e.src = l.v) u1
          GROUP BY v),
        l2 AS MATERIALIZED (SELECT v, MIN(lbl) AS lbl FROM (
            SELECT v, lbl FROM l1
            UNION ALL
            SELECT e.dst AS v, l.lbl FROM e0 e JOIN l1 l ON e.src = l.v) u2
          GROUP BY v)"""

  private val kcoreOracle = {
    // One peel round: recompute degrees, keep >=3, induce the
    // subgraph — unrolled four times (see gr_kcore's scaladoc for
    // why a fixed round count instead of a fixpoint).
    def round(i: Int) = s"""
        d$i AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e${i - 1} GROUP BY src),
        k$i AS MATERIALIZED (SELECT src AS v FROM d$i WHERE deg >= 3),
        e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                JOIN k$i ka ON e.src = ka.v
                JOIN k$i kb ON e.dst = kb.v)"""
    s"""WITH $copurchaseSymSql,
        ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}
        SELECT src AS node_id, COUNT(*) AS deg FROM e4 GROUP BY src"""
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Fixed-round integer PageRank over the customer↔supplier graph.
    Q("gr_pagerank",
      (s, d) => {
        import s.implicits._
        // Node-count bound for the broadcast regime switch only (the
        // semantic 10¹²/n unit comes from the lazy in-plan count):
        // interaction-graph nodes ⊆ customers ∪ suppliers.
        pagerank(interactionEdges(s, d),
            nodeBound = Tables.rowCount(s, d, "customer") +
              Tables.rowCount(s, d, "supplier"))
          .select($"id".as("node_id"),
            when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
            $"r".as("rank3"))
          .orderBy($"rank3".desc, $"node_id")
          .limit(30)
      },
      Some(prOracle)),

    // ------------------------------------------------------------------
    // Triangle counting on the support-thresholded part co-purchase
    // graph (parts appearing together in >= 2 distinct orders).
    Q("gr_triangle_count",
      (s, d) => {
        import s.implicits._
        triangleCount(GraphIndex.copurchase(s, d).select($"a", $"b"))
      },
      Some("""WITH pairs AS MATERIALIZED (
          SELECT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        deg AS MATERIALIZED (
          SELECT v, COUNT(*) AS deg FROM (
            SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs)
          GROUP BY v),
        oriented AS MATERIALIZED (
          SELECT CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS u,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS w,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN db.deg
                      ELSE da.deg END AS wdeg
          FROM pairs
          JOIN deg da ON a = da.v
          JOIN deg db ON b = db.v),
        wedges AS MATERIALIZED (
          SELECT e1.w AS x, e2.w AS y
          FROM oriented e1 JOIN oriented e2
            ON e1.u = e2.u AND (e1.wdeg < e2.wdeg
              OR (e1.wdeg = e2.wdeg AND e1.w < e2.w))),
        closed AS MATERIALIZED (
          SELECT 1 FROM wedges JOIN oriented e3
            ON x = e3.u AND y = e3.w)
        SELECT (SELECT COUNT(*) FROM closed) AS n_triangles,
               (SELECT COUNT(*) FROM pairs) AS n_edges,
               (SELECT COUNT(*) FROM deg) AS n_nodes"""))
  )

  /** Fixed-round k-core peeling over a symmetric (src, dst) edge
    * list: each round recomputes degrees and keeps only edges whose
    * BOTH endpoints have degree >= k in the current subgraph.
    * Returns surviving (node_id, deg) with deg measured in the final
    * induced subgraph. See gr_kcore for the fixed-rounds rationale.
    */
  def kcorePeel(edges0: DataFrame, k: Int, rounds: Int,
                broadcastSurvivors: Boolean = true): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    var edges = pin(edges0)
    val rp = new RoundPins()
    for (_ <- 1 to rounds)
      edges = rp.step(kcoreRound(edges, k, broadcastSurvivors,
        pinner = rp.also))
    edges.groupBy($"src".as("node_id")).agg(count(lit(1)).as("deg"))
  }

  /** One peel round, unpinned (so its plan stays inspectable —
    * PlanSpec asserts the survivor set broadcasts into both semi
    * joins): keep nodes with degree >= k, induce the subgraph.
    * `broadcastSurvivors = false` is the beyond-broadcast regime
    * (10⁹ nodes): both semi joins go SHUFFLE_HASH — the stats-less
    * LogicalRDD survivor frame would otherwise plan sort-merge. */
  def kcoreRound(edges: DataFrame, k: Int,
                 broadcastSurvivors: Boolean = true,
                 pinner: DataFrame => DataFrame = pin): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val keep = pinner(edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .filter($"deg" >= k).select($"src".as("v")))
    edges
      .join(maybeB(broadcastSurvivors, keep), $"src" === $"v", "left_semi")
      .join(maybeB(broadcastSurvivors, keep.withColumnRenamed("v", "v2")),
        $"dst" === $"v2", "left_semi")
  }

  val all2: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // k-core peeling, FIXED four rounds (k=3): each round recomputes
    // degrees and induces the subgraph on nodes with deg >= k. A
    // fixed round count (not a fixpoint loop) keeps the quantity
    // well-defined and oracle-expressible — peeling only shrinks, so
    // DuckDB's grow-only recursive CTEs can't run it to convergence,
    // and a data-dependent round count would make the result depend
    // on the engine's convergence test. Four rounds of "remove the
    // thin fringe" is the practical core-extraction pass.
    //
    // Scale: each round is one partial-agg'd degree count plus two
    // semi joins against the node-sized survivor set (broadcast —
    // survivors only shrink; past Regimes.GraphBroadcast, judged on
    // the part row count, an upper bound on co-purchase nodes, the
    // joins become SHUFFLE_HASH like Dedup.connectedComponents).
    // Every round's edge frame is pinned: the next round references
    // it three times (degree count + two semi joins), so an uncut
    // lineage would re-derive the co-purchase build 3^4 times.
    Q("gr_kcore",
      (s, d) => kcorePeel(copurchaseSym(s, d), k = 3, rounds = 4,
        broadcastSurvivors = !Regimes.big(s, Regimes.GraphBroadcast,
          Tables.rowCount(s, d, "part"))),
      Some(kcoreOracle)),

    // ------------------------------------------------------------------
    // Common-neighbor link prediction: for NON-adjacent part pairs,
    // count shared neighbors and carry the Jaccard ingredients
    // (integers only — cn / (deg_x + deg_y - cn) ranks identically
    // to the float score). Wedge enumeration around each center is
    // O(deg²); centers are degree-capped at 64 — the standard
    // co-occurrence cap that bounds hub blowup at any scale (a 10⁶-
    // degree hub would otherwise emit 10¹² candidate pairs). Degrees
    // reported are the FULL graph degrees; only wedge centers are
    // capped. Candidate pairs never go corpus²: they materialize
    // only where a shared neighbor exists, and the existing-edge
    // anti join + deg joins are node-sized broadcasts.
    Q("gr_common_neighbors",
      (s, d) => {
        import s.implicits._
        val sym = pin(copurchaseSym(s, d))
        val deg = pin(sym.groupBy($"src".as("v"))
          .agg(count(lit(1)).as("deg")))
        val capped = sym
          .join(broadcast(deg.filter($"deg" <= 64)), $"src" === $"v")
          .select($"src", $"dst")
        val cand = capped.as("e1")
          .join(capped.as("e2"),
            col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
          .groupBy(col("e1.dst").as("x"), col("e2.dst").as("y"))
          .agg(count(lit(1)).as("cn"))
          .filter($"cn" >= 2)
        cand
          .join(sym, cand("x") === sym("src") && cand("y") === sym("dst"),
            "left_anti")
          .join(broadcast(deg.select($"v".as("vx"), $"deg".as("deg_x"))),
            $"x" === $"vx")
          .join(broadcast(deg.select($"v".as("vy"), $"deg".as("deg_y"))),
            $"y" === $"vy")
          .select($"x", $"y", $"cn", $"deg_x", $"deg_y",
            ($"deg_x" + $"deg_y" - $"cn").as("jac_den"))
          .orderBy($"cn".desc, $"x", $"y")
          .limit(30)
      },
      Some(s"""WITH $copurchaseSymSql,
        deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM e0 GROUP BY src),
        capped AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
                   JOIN deg d ON e.src = d.v WHERE d.deg <= 64),
        cand AS MATERIALIZED (
          SELECT e1.dst AS x, e2.dst AS y, COUNT(*) AS cn
          FROM capped e1 JOIN capped e2
            ON e1.src = e2.src AND e1.dst < e2.dst
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        nonadj AS (
          SELECT c.x, c.y, c.cn FROM cand c
          WHERE NOT EXISTS (
            SELECT 1 FROM e0 WHERE e0.src = c.x AND e0.dst = c.y))
        SELECT x, y, cn, dx.deg AS deg_x, dy.deg AS deg_y,
               dx.deg + dy.deg - cn AS jac_den
        FROM nonadj
        JOIN deg dx ON x = dx.v
        JOIN deg dy ON y = dy.v
        ORDER BY cn DESC, x, y LIMIT 30""")),

    // ------------------------------------------------------------------
    // Log2-bucketed degree distribution of the customer↔supplier
    // interaction graph — the scale-free-ness check run before
    // choosing a partitioning/skew strategy. floor(log2(deg)) as
    // length(bin(deg))-1: pure integer/string ops, identical in both
    // engines (no floating log whose ulps could flip a bucket edge).
    Q("gr_degree_hist",
      (s, d) => {
        import s.implicits._
        interactionEdges(s, d)
          .groupBy($"src").agg(count(lit(1)).as("deg"))
          .groupBy((length(bin($"deg")) - 1).as("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min($"deg").as("min_deg"), max($"deg").as("max_deg"))
      },
      Some("""WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (SELECT src, dst FROM e0
                  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
        SELECT length(bin(deg)) - 1 AS bucket, COUNT(*) AS n_nodes,
               MIN(deg) AS min_deg, MAX(deg) AS max_deg
        FROM deg GROUP BY 1""")),

    // ------------------------------------------------------------------
    // Synchronous min-label propagation, FIXED two rounds, over the
    // part co-purchase graph: each round every node takes the min of
    // its own label and its neighbors' previous labels. Two rounds
    // labels each node with the smallest node id within graph
    // distance 2 — a deterministic community-seeding pass (full
    // convergence is dedup_cc's job; a fixed round count keeps the
    // quantity well-defined and oracle-expressible, same rationale
    // as gr_kcore). Each round is one node-sized broadcast hash join
    // against the edge list plus a partial-agg'd min; label frames
    // are pinned because round i+1 references round i twice (self +
    // neighbor wing). Beyond broadcastable node counts the label
    // join follows the module's SHUFFLE_HASH regime.
    Q("gr_label_prop",
      (s, d) => {
        import s.implicits._
        val edges = pin(copurchaseSym(s, d))
        labelProp2(s, edges).select($"v".as("node_id"), $"lbl".as("label"))
      },
      Some(s"""WITH $copurchaseSymSql,
        $labelPropSql
        SELECT v AS node_id, lbl AS label FROM l2""")),

    // ------------------------------------------------------------------
    // Layered BFS reachability: from the seed set (every 100th part
    // key in the co-purchase graph), the number of nodes first
    // reached at hop 0, 1, 2, 3 — the reachability profile that
    // sizes a traversal before running it. Each hop is frontier ⋈
    // edges + a min-distance merge: the same broadcast-join round as
    // gr_label_prop (node-sized label frame, pinned lineage), with
    // min() keeping the FIRST hop a node was reached at — so the
    // final histogram is exactly the BFS layer decomposition, fixed
    // at 3 rounds for oracle expressibility. Pure integers
    // throughout; unreached nodes are absent (no sentinel rows).
    Q("gr_bfs_reach",
      (s, d) => {
        import s.implicits._
        val edges = pin(copurchaseSym(s, d))
        var dist = pin(edges.select($"src".as("v")).distinct()
          .filter($"v" % 100 === 0)
          .select($"v", lit(0L).as("dist")))
        val rp = new RoundPins()
        for (h <- 1 to 3) {
          val next = edges
            .join(broadcast(dist.select($"v".as("u"), $"dist")),
              $"src" === $"u")
            .select($"dst".as("v"), ($"dist" + 1L).as("dist"))
          dist = rp.step(dist.unionByName(next)
            .groupBy($"v").agg(min($"dist").as("dist")))
        }
        dist.groupBy($"dist").agg(count(lit(1)).as("n_nodes"))
      },
      Some(s"""WITH $copurchaseSymSql,
        d0 AS MATERIALIZED (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist
               FROM e0 WHERE src % 100 = 0),
        d1 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d0
            UNION ALL
            SELECT e.dst AS v, p.dist + 1 FROM e0 e JOIN d0 p ON e.src = p.v)
          u GROUP BY v),
        d2 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d1
            UNION ALL
            SELECT e.dst AS v, p.dist + 1 FROM e0 e JOIN d1 p ON e.src = p.v)
          u GROUP BY v),
        d3 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d2
            UNION ALL
            SELECT e.dst AS v, p.dist + 1 FROM e0 e JOIN d2 p ON e.src = p.v)
          u GROUP BY v)
        SELECT dist, COUNT(*) AS n_nodes FROM d3 GROUP BY dist""")),

    // ------------------------------------------------------------------
    // Newman modularity of the label-propagation communities — the
    // quality metric that decides whether a partitioning is worth
    // keeping before expensive per-community work. With M directed
    // edges, W within-community directed edges and per-community
    // degree sums d_c:  Q = (W·M − Σ_c d_c²) / M².  Numerator and
    // denominator are EXACT integers (Q's usual per-community
    // fraction sum would accumulate IEEE ulps in engine-dependent
    // order); the single final division of two exactly-representable
    // integers is correctly rounded in both engines. Two node-sized
    // broadcast joins annotate the edge list; everything else is
    // map-side-combinable counting.
    Q("gr_modularity",
      (s, d) => {
        val edges = pin(copurchaseSym(s, d))
        modularity(edges, labelProp2(s, edges))
      },
      Some(s"""WITH $copurchaseSymSql,
        $labelPropSql,
        ann AS (
          SELECT ls.lbl AS src_lbl, ld.lbl AS dst_lbl
          FROM e0 e
          JOIN l2 ls ON e.src = ls.v
          JOIN l2 ld ON e.dst = ld.v),
        tot AS (
          SELECT COUNT(*) AS m_directed,
            COUNT(CASE WHEN src_lbl = dst_lbl THEN 1 END) AS n_within
          FROM ann),
        degc AS (
          SELECT l.lbl, CAST(SUM(dc.deg) AS BIGINT) AS d_c
          FROM (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src) dc
          JOIN l2 l ON dc.src = l.v
          GROUP BY l.lbl),
        sq AS (
          SELECT COUNT(*) AS n_communities,
            CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dc2
          FROM degc)
        SELECT n_communities, m_directed, n_within,
          n_within * m_directed - sum_dc2 AS q_num,
          CAST(n_within * m_directed - sum_dc2 AS DOUBLE) /
            CAST(m_directed * m_directed AS DOUBLE) AS modularity
        FROM tot, sq""")),

    // ------------------------------------------------------------------
    // Degree assortativity: Pearson correlation of endpoint degrees
    // over the directed edge list — positive r means hubs attach to
    // hubs (social-network shape), negative means hub-and-spoke
    // (skew risk concentrates on few keys). With gr_degree_hist this
    // completes the pre-partitioning topology diagnosis. Same
    // determinism discipline as rel_corr_manual: all six moment
    // ingredients are EXACT integer sums (degrees are small ints —
    // BIGINT never overflows), the correlation is one fixed IEEE
    // formula on bit-identical inputs; BIGINT→DOUBLE casts are
    // correctly rounded in both engines. Two node-sized broadcast
    // joins annotate the edges; the moment sums are one
    // map-side-combined aggregation.
    Q("gr_assortativity",
      (s, d) => {
        import s.implicits._
        val edges = pin(copurchaseSym(s, d))
        val deg = edges.groupBy($"src".as("v"))
          .agg(count(lit(1)).as("deg"))
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        edges
          .join(broadcast(deg.select($"v".as("sv"), $"deg".as("dx"))),
            $"src" === $"sv")
          .join(broadcast(deg.select($"v".as("dv"), $"deg".as("dy"))),
            $"dst" === $"dv")
          .agg(count(lit(1)).as("m"),
            sum($"dx").as("sx"), sum($"dy").as("sy"),
            sum($"dx" * $"dy").as("sxy"),
            sum($"dx" * $"dx").as("sxx"),
            sum($"dy" * $"dy").as("syy"))
          .select($"m", $"sx", $"sxy",
            ((dbl($"m") * dbl($"sxy") - dbl($"sx") * dbl($"sy")) /
             (sqrt(dbl($"m") * dbl($"sxx") - dbl($"sx") * dbl($"sx")) *
              sqrt(dbl($"m") * dbl($"syy") - dbl($"sy") * dbl($"sy"))))
              .as("assortativity"))
      },
      Some(s"""WITH $copurchaseSymSql,
        deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM e0 GROUP BY src),
        ann AS (
          SELECT dx.deg AS dx, dy.deg AS dy
          FROM e0 e
          JOIN deg dx ON e.src = dx.v
          JOIN deg dy ON e.dst = dy.v),
        agg AS (
          SELECT COUNT(*) AS m,
            CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
            CAST(SUM(dx * dy) AS BIGINT) AS sxy,
            CAST(SUM(dx * dx) AS BIGINT) AS sxx,
            CAST(SUM(dy * dy) AS BIGINT) AS syy
          FROM ann)
        SELECT m, sx, sxy,
          (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
           sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            AS assortativity
        FROM agg""")),

    // ------------------------------------------------------------------
    // Per-node local clustering coefficient on the support-thresholded
    // co-purchase graph: how many of each node's neighbor pairs are
    // themselves connected — integer ppm of closed wedges, the
    // node-level community-density signal gr_triangle_count only
    // reports globally. Reuses the degree-oriented triangle
    // enumeration (every triangle emitted once, each crediting its
    // three nodes), so per-node counting adds one explode + one
    // node-keyed aggregation to the O(m^1.5)-bounded wedge join;
    // degree-<2 nodes have no wedge and are excluded.
    Q("gr_local_clustering",
      (s, d) => {
        import s.implicits._
        localClustering(GraphIndex.copurchase(s, d).select($"a", $"b"))
      },
      Some("""WITH pairs AS MATERIALIZED (
          SELECT l1.l_partkey AS a, l2.l_partkey AS b
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        deg AS MATERIALIZED (
          SELECT v, COUNT(*) AS deg FROM (
            SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs)
          GROUP BY v),
        oriented AS MATERIALIZED (
          SELECT CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN a ELSE b END AS u,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN b ELSE a END AS w,
                 CASE WHEN da.deg < db.deg
                        OR (da.deg = db.deg AND a < b) THEN db.deg
                      ELSE da.deg END AS wdeg
          FROM pairs
          JOIN deg da ON a = da.v
          JOIN deg db ON b = db.v),
        wedges AS MATERIALIZED (
          SELECT e1.u AS c, e1.w AS x, e2.w AS y
          FROM oriented e1 JOIN oriented e2
            ON e1.u = e2.u AND (e1.wdeg < e2.wdeg
              OR (e1.wdeg = e2.wdeg AND e1.w < e2.w))),
        closed AS MATERIALIZED (
          SELECT c, x, y FROM wedges JOIN oriented e3
            ON x = e3.u AND y = e3.w),
        tri_node AS (
          SELECT v, COUNT(*) AS n_tri FROM (
            SELECT c AS v FROM closed
            UNION ALL SELECT x AS v FROM closed
            UNION ALL SELECT y AS v FROM closed)
          GROUP BY v)
        SELECT d.v AS node_id, d.deg,
          COALESCE(t.n_tri, 0) AS n_tri,
          COALESCE(t.n_tri, 0) * 2000000 // (d.deg * (d.deg - 1)) AS cc_ppm
        FROM deg d LEFT JOIN tri_node t ON t.v = d.v
        WHERE d.deg >= 2""")),

    // ------------------------------------------------------------------
    // Personalized PageRank seeded at nation-0 customers: "which
    // suppliers (and fellow customers) are closest, by random walk
    // with restart, to this customer segment" — the
    // recommendation/trust form of PageRank. Integer micro-rank like
    // gr_pagerank (bit-identical under any partitioning and in
    // DuckDB); unreached nodes are EXACTLY 0 and excluded, so the
    // per-round frontier stays seed-neighborhood-sized at scale.
    Q("gr_personalized_ppr",
      (s, d) => {
        import s.implicits._
        val seeds = Tables.customer(s, d)
          .filter($"c_nationkey" === 0)
          .select(($"c_custkey" * 2).as("id"))
        // node bound from memoized dimension counts (the interaction
        // graph's nodes are customers ∪ suppliers) — skips the eager
        // node-count job; the exact nSeeds pass (semantic) remains.
        personalizedPagerank(interactionEdges(s, d), seeds,
          nodeBound = Tables.rowCount(s, d, "customer") +
            Tables.rowCount(s, d, "supplier"))
          .filter($"r" > 0)
          .select($"id".as("node_id"),
            when($"id" % 2 === 0, "customer").otherwise("supplier").as("kind"),
            $"r".as("ppr3"))
          .orderBy($"ppr3".desc, $"node_id")
          .limit(30)
      },
      Some(pprOracle)),

    // ------------------------------------------------------------------
    // HITS hubs & authorities over the DIRECTED bipartite purchase
    // graph (customer → supplier): the one centrality where the two
    // node roles get different scores — customers score as hubs
    // (they buy from good suppliers), suppliers as authorities (they
    // are bought from by good hubs). Two full mutual-reinforcement
    // rounds, computed entirely in integer units: the l∞
    // normalization after every half-step (score · 10⁶ div max) is
    // integer division over an order-free MAX, and each half-step is
    // a SUM of bounded integers — associative, so bit-identical
    // under any partial-agg order, partition count, and in DuckDB.
    // (The textbook l₂ normalization needs a float sqrt whose sums
    // would flutter cross-engine.) Each half-step is one broadcast
    // join of the node-sized score frame against the pinned edge
    // frame + one map-side-combined aggregation — the same Pregel
    // round shape as pagerank, with every intermediate frame
    // lineage-pinned because the normalize step references its input
    // twice (score and max) — an uncut chain re-derives the edge
    // build 2^halfsteps times. Output: top-15 authorities and
    // top-15 hubs via two heap top-k passes, never a global sort.
    Q("gr_hits",
      (s, d) => {
        import s.implicits._
        val e = pin(GraphIndex.interaction(s, d))
        // Pin the RAW aggregation (it is referenced twice: by its own
        // max and by the normalized projection) — an unpinned frame
        // would run the half-step's join+agg once per reference.
        def lInfNorm(df: DataFrame, col0: String): DataFrame = {
          val r = pin(df)
          pin(r.crossJoin(broadcast(r.agg(max(col(col0)).as("mx"))))
            .select(r.columns.filter(_ != col0).map(col) :+
              expr(s"$col0 * 1000000 div mx").as(col0): _*))
        }
        // hub⁰ ≡ 10⁶ ⇒ the first authority half-step is 10⁶·indeg
        val a1 = lInfNorm(e.groupBy($"s")
          .agg((count(lit(1)) * 1000000L).as("a")), "a")
        val h1 = lInfNorm(e.join(broadcast(a1), "s")
          .groupBy($"c").agg(sum($"a").as("h")), "h")
        val a2 = lInfNorm(e.join(broadcast(h1), "c")
          .groupBy($"s").agg(sum($"h").as("a")), "a")
        val h2 = lInfNorm(e.join(broadcast(a2), "s")
          .groupBy($"c").agg(sum($"a").as("h")), "h")
        val topA = a2
          .select(lit("authority").as("role"), $"s".as("node_id"),
            $"a".as("score"))
          .orderBy($"score".desc, $"node_id").limit(15)
        val topH = h2
          .select(lit("hub").as("role"), $"c".as("node_id"),
            $"h".as("score"))
          .orderBy($"score".desc, $"node_id").limit(15)
        topA.unionByName(topH)
      },
      // Every CTE below is MATERIALIZED: each lInf-normalize stage
      // references its input twice (value + MAX subquery), so under
      // DuckDB 1.0's inline-by-default CTEs the edge build would
      // re-evaluate ~2^stages times — observed 2400s+ with 13 GB of
      // spill at sf1; materialized it is 5 s.
      Some("""WITH e AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        a1 AS MATERIALIZED (
          SELECT s, COUNT(*) * 1000000 AS a FROM e GROUP BY s),
        a1n AS MATERIALIZED (
          SELECT s, a * 1000000 // (SELECT MAX(a) FROM a1) AS a
          FROM a1),
        h1 AS MATERIALIZED (
          SELECT c, CAST(SUM(a1n.a) AS BIGINT) AS h
          FROM e JOIN a1n ON e.s = a1n.s GROUP BY c),
        h1n AS MATERIALIZED (
          SELECT c, h * 1000000 // (SELECT MAX(h) FROM h1) AS h
          FROM h1),
        a2 AS MATERIALIZED (
          SELECT s, CAST(SUM(h1n.h) AS BIGINT) AS a
          FROM e JOIN h1n ON e.c = h1n.c GROUP BY s),
        a2n AS MATERIALIZED (
          SELECT s, a * 1000000 // (SELECT MAX(a) FROM a2) AS a
          FROM a2),
        h2 AS MATERIALIZED (
          SELECT c, CAST(SUM(a2n.a) AS BIGINT) AS h
          FROM e JOIN a2n ON e.s = a2n.s GROUP BY c),
        h2n AS MATERIALIZED (
          SELECT c, h * 1000000 // (SELECT MAX(h) FROM h2) AS h
          FROM h2),
        ta AS (SELECT 'authority' AS role, s AS node_id,
                 CAST(a AS BIGINT) AS score
               FROM a2n ORDER BY score DESC, node_id LIMIT 15),
        th AS (SELECT 'hub' AS role, c AS node_id,
                 CAST(h AS BIGINT) AS score
               FROM h2n ORDER BY score DESC, node_id LIMIT 15)
        SELECT role, node_id, score FROM ta
        UNION ALL
        SELECT role, node_id, score FROM th""")),

    // ------------------------------------------------------------------
    // Deterministic random walks — the corpus-generation step of
    // DeepWalk/node2vec-style graph embeddings: one 3-step walk per
    // seed (nation-0 customers), where the "random" next hop is the
    // neighbor minimizing md5(cur ∥ step ∥ neighbor). Salted-hash
    // selection is this engine's standing substitute for rand()
    // (txt_weighted_sample's discipline): uniform-ish over
    // neighbors, yet bit-reproducible across runs, engines and
    // partitionings, so walk corpora regenerate identically — the
    // property that makes embedding training runs comparable. Each
    // step is ONE frontier⋈edges join (frontier is walker-sized,
    // broadcast; the pinned edge frame never reshuffles) + a
    // min-struct argmin per walker — the Pregel step shape again.
    // Oracle: three unrolled CTE rounds with the same md5 argmin.
    Q("gr_random_walk",
      (s, d) => {
        import s.implicits._
        val edges = pin(interactionEdges(s, d))
        val seeds = Tables.customer(s, d)
          .filter($"c_nationkey" === 0)
          .select(($"c_custkey" * 2).as("walker_id"))
          .join(edges.select($"src").distinct(),
            $"walker_id" === $"src", "semi")
        var frontier = pin(seeds.select($"walker_id",
          $"walker_id".as("node"), lit(0L).as("step")))
        var walks = frontier
        // The frontier is walker-sized (one row per seed, bounded by
        // the customer table) — broadcast it so the pinned edge frame
        // is scanned in place each hop instead of re-shuffled (the
        // SHUFFLE_HASH hint on edges was shuffling BOTH sides every
        // round). Regime switch on the memoized customer row count
        // (an upper bound on walkers): beyond broadcastable seed
        // counts the hop joins go SHUFFLE_HASH with the hash built on
        // the walker side.
        val bcast = !Regimes.big(s, Regimes.GraphBroadcast,
          Tables.rowCount(s, d, "customer"))
        for (i <- 1 to 3) {
          val next = edges
            .join(maybeB(bcast, frontier), $"node" === $"src")
            .withColumn("h", md5(concat_ws("_",
              $"node".cast("string"), lit(i), $"dst".cast("string"))))
            .groupBy($"walker_id")
            .agg(min(struct($"h", $"dst")).as("best"))
            .select($"walker_id", $"best.dst".as("node"),
              lit(i.toLong).as("step"))
          frontier = pin(next)
          walks = walks.unionByName(frontier)
        }
        walks.select($"walker_id", $"step", $"node")
      },
      Some {
        def hop(i: Int) = s"""
          f$i AS MATERIALIZED (
            SELECT walker_id, node FROM (
              SELECT f.walker_id, e.dst AS node,
                ROW_NUMBER() OVER (PARTITION BY f.walker_id ORDER BY
                  md5(CAST(f.node AS VARCHAR) || '_' || $i || '_' ||
                      CAST(e.dst AS VARCHAR)), e.dst) AS rk
              FROM f${i - 1} f JOIN edges e ON e.src = f.node) t
            WHERE rk = 1)"""
        s"""WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS MATERIALIZED (
            SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0),
          f0 AS MATERIALIZED (
            SELECT DISTINCT c_custkey * 2 AS walker_id,
              c_custkey * 2 AS node
            FROM customer
            WHERE c_nationkey = 0
              AND EXISTS (SELECT 1 FROM edges e
                          WHERE e.src = c_custkey * 2)),
          ${hop(1)},
          ${hop(2)},
          ${hop(3)}
          SELECT walker_id, CAST(0 AS BIGINT) AS step, node FROM f0
          UNION ALL SELECT walker_id, 1, node FROM f1
          UNION ALL SELECT walker_id, 2, node FROM f2
          UNION ALL SELECT walker_id, 3, node FROM f3"""
      }),

    // ------------------------------------------------------------------
    // One-row graph profile — the summary read BEFORE choosing any
    // algorithm/skew strategy (the per-distribution diagnoses
    // gr_degree_hist and gr_assortativity then refine): node and
    // undirected-edge counts, max/mean degree and edge density, all
    // from the degree rollup of one edge scan. Mean degree and
    // density are integer ppm with one division each; density's
    // 2m·10⁶ and n(n−1) stay far inside int64 at any broadcastable
    // node count, and the formula is exact where a float m/n² would
    // be fine anyway — kept integer for uniformity with the rest of
    // the engine's report surface.
    Q("gr_graph_summary",
      (s, d) => {
        import s.implicits._
        val deg = interactionEdges(s, d)
          .groupBy($"src").agg(count(lit(1)).as("deg"))
        deg.agg(count(lit(1)).as("n_nodes"),
            (sum($"deg") / 2).cast("long").as("n_edges"),
            max($"deg").as("max_degree"),
            sum($"deg").as("degsum"))
          .select($"n_nodes", $"n_edges", $"max_degree",
            expr("degsum * 1000000 div n_nodes").as("mean_degree_ppm"),
            expr("degsum * 1000000 div (n_nodes * (n_nodes - 1))")
              .as("density_ppm"))
      },
      Some("""WITH e0 AS MATERIALIZED (
          SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS MATERIALIZED (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
        SELECT COUNT(*) AS n_nodes,
          CAST(SUM(deg) / 2 AS BIGINT) AS n_edges,
          CAST(MAX(deg) AS BIGINT) AS max_degree,
          CAST(SUM(deg) * 1000000 // COUNT(*) AS BIGINT)
            AS mean_degree_ppm,
          CAST(SUM(deg) * 1000000 // (COUNT(*) * (COUNT(*) - 1))
            AS BIGINT) AS density_ppm
        FROM deg"""))
  )

  val all3: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Resource-allocation link prediction (Zhou/Lü/Zhang 2009) over
    // the co-purchase graph: for a non-adjacent pair (x, y), score
    // RA = Σ_{z ∈ N(x)∩N(y)} 1/deg(z) — common neighbors weighted
    // inversely by how promiscuous the shared neighbor is (the index
    // that beats raw common-neighbor counts on most graphs, without
    // Adamic-Adar's floating log). Contribution is exported in
    // integer nano-units (10^9 div deg(z)) so the sum is associative
    // and engine-exact. Same scale guards as gr_common_neighbors:
    // wedge centers capped at degree 64 (an uncapped hub z
    // contributes least — 1/deg(z) — and costs deg² wedges, the
    // classic drop), candidate floor cn >= 2, adjacency removed by
    // anti-join, top-30 over the (ra, x, y) total order.
    Q("gr_resource_allocation",
      (s, d) => {
        import s.implicits._
        val sym = pin(copurchaseSym(s, d))
        val deg = pin(sym.groupBy($"src".as("v"))
          .agg(count(lit(1)).as("deg")))
        val capped = sym
          .join(broadcast(deg.filter($"deg" <= 64)), $"src" === $"v")
          .select($"src", $"dst", $"deg")
        val wing = capped.select($"src".as("s2"), $"dst".as("d2"))
        val cand = capped
          .join(wing, $"src" === $"s2" && $"dst" < $"d2")
          .withColumn("contrib", expr("1000000000 div deg"))
          .groupBy($"dst".as("x"), $"d2".as("y"))
          .agg(count(lit(1)).as("cn"), sum($"contrib").as("ra_nano"))
          .filter($"cn" >= 2)
        cand
          .join(sym, cand("x") === sym("src") && cand("y") === sym("dst"),
            "left_anti")
          .orderBy($"ra_nano".desc, $"x", $"y")
          .limit(30)
          .select($"x", $"y", $"cn", $"ra_nano")
      },
      Some(s"""WITH $copurchaseSymSql,
        deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM e0 GROUP BY src),
        capped AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM e0 e
                   JOIN deg d ON e.src = d.v WHERE d.deg <= 64),
        cand AS MATERIALIZED (
          SELECT e1.dst AS x, e2.dst AS y, COUNT(*) AS cn,
            CAST(SUM(1000000000 // e1.deg) AS BIGINT) AS ra_nano
          FROM capped e1 JOIN capped e2
            ON e1.src = e2.src AND e1.dst < e2.dst
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT x, y, cn, ra_nano FROM cand c
        WHERE NOT EXISTS (
          SELECT 1 FROM e0 WHERE e0.src = c.x AND e0.dst = c.y)
        ORDER BY ra_nano DESC, x, y LIMIT 30"""))
  )

  val all4: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Weighted single-source shortest paths, FIXED three Bellman-Ford
    // relaxation rounds from the gr_bfs_reach seed set (every 100th
    // node) over the co-purchase graph — BFS answers "how many hops",
    // SSSP answers "how cheap": each edge carries the deterministic
    // integer weight 1 + (src+dst) % 7 (a stand-in for a stored cost
    // column), and each round relaxes dist(v) = min(dist(v),
    // min_{(u,v)} dist(u) + w). Three rounds give exact shortest
    // distances over paths of ≤ 3 edges — a deterministic,
    // oracle-expressible quantity (full convergence would be the
    // dedup_cc-style iterate-to-fixpoint loop; a fixed round count is
    // the same design choice as gr_label_prop/gr_kcore). Each round
    // is one broadcast join of the node-sized frontier against the
    // pinned edge frame plus a map-side-combined min — the Pregel
    // round shape shared with gr_pagerank, with its documented
    // SHUFFLE_HASH regime past broadcastable node counts. Output is
    // the distance histogram (all exact integers); unreached nodes
    // are absent, so the row count is bounded by the distance range,
    // not the node count.
    Q("gr_sssp",
      (s, d) => {
        import s.implicits._
        val edges = pin(copurchaseSym(s, d)
          .withColumn("w", ($"src" + $"dst") % 7L + 1L))
        var dist = pin(edges.select($"src".as("v")).distinct()
          .filter($"v" % 100 === 0)
          .select($"v", lit(0L).as("dist")))
        val rp = new RoundPins()
        for (_ <- 1 to 3) {
          val next = edges
            .join(broadcast(dist.select($"v".as("u"), $"dist")),
              $"src" === $"u")
            .select($"dst".as("v"), ($"dist" + $"w").as("dist"))
          dist = rp.step(dist.unionByName(next)
            .groupBy($"v").agg(min($"dist").as("dist")))
        }
        val out = dist.groupBy($"dist").agg(count(lit(1)).as("n_nodes"))
        out
      },
      Some(s"""WITH $copurchaseSymSql,
        ew AS MATERIALIZED (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM e0),
        d0 AS MATERIALIZED (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist
               FROM e0 WHERE src % 100 = 0),
        d1 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d0
            UNION ALL
            SELECT e.dst AS v, p.dist + e.w FROM ew e JOIN d0 p ON e.src = p.v)
          u GROUP BY v),
        d2 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d1
            UNION ALL
            SELECT e.dst AS v, p.dist + e.w FROM ew e JOIN d1 p ON e.src = p.v)
          u GROUP BY v),
        d3 AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d2
            UNION ALL
            SELECT e.dst AS v, p.dist + e.w FROM ew e JOIN d2 p ON e.src = p.v)
          u GROUP BY v)
        SELECT dist, COUNT(*) AS n_nodes FROM d3 GROUP BY dist""")),

    // ------------------------------------------------------------------
    // One synchronous Louvain move round from singleton communities
    // over the weighted co-purchase graph (weight = co-occurrence
    // support): every node simultaneously evaluates the modularity
    // gain of joining each neighbor's community and reports its best
    // target. From singletons the gain of i→{j} has the closed form
    // ΔQ = w_ij/m − k_i·k_j/(2m²); scaling by the constant 2m² > 0
    // gives the INTEGER comparator gain_num = S·w_ij − k_i·k_j with
    // S = 2m = Σ_sym w — no floating modularity anywhere, so both the
    // argmax and the exported gain are bit-stable under any partial-
    // aggregation order. Ties break toward the smaller neighbor id
    // (total order). The synchronous round is the parallel-Louvain
    // building block: every sequential visit order is a different
    // serial artifact; the synchronous form is what a cluster
    // actually computes each sweep. Plan: the shared pair build's one
    // shuffle, a node-sized degree frame joined back BROADCAST on
    // both endpoints, and a per-src window argmax — no quadratic
    // step, edge-linear work. At 10⁹-edge scale k_i·k_j can exceed
    // int64 (k up to ~2³²) — the production switch is the same
    // DECIMAL(38,0) widening the chi2/power queries use; at every
    // test scale the products stay far below 2⁶³.
    Q("gr_louvain_move",
      (s, d) => {
        import s.implicits._
        val pairs = GraphIndex.copurchase(s, d)
        val edges = pairs.select($"a".as("src"), $"b".as("dst"), $"w")
          .unionAll(pairs.select($"b".as("src"), $"a".as("dst"), $"w"))
        val deg = edges.groupBy($"src".as("id")).agg(sum($"w").as("k"))
        val stot = deg.agg(sum($"k").as("s_tot"))
        val scored = edges
          .join(broadcast(deg.select($"id".as("src"), $"k".as("k_src"))),
            Seq("src"))
          .join(broadcast(deg.select($"id".as("dst"), $"k".as("k_dst"))),
            Seq("dst"))
          .crossJoin(broadcast(stot))
          .select($"src", $"dst",
            ($"s_tot" * $"w" - $"k_src" * $"k_dst").as("gain_num"))
        val wnd = org.apache.spark.sql.expressions.Window
          .partitionBy($"src").orderBy($"gain_num".desc, $"dst".asc)
        scored.withColumn("rn", row_number().over(wnd))
          .filter($"rn" === 1)
          .select($"src".as("node_id"), $"dst".as("target_id"),
            $"gain_num",
            when($"gain_num" > 0, 1L).otherwise(0L).as("would_move"))
      },
      Some("""WITH pw AS MATERIALIZED (
          SELECT l1.l_partkey AS a, l2.l_partkey AS b,
            CAST(COUNT(*) AS BIGINT) AS w
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        edges AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM pw
                  UNION ALL SELECT b AS src, a AS dst, w FROM pw),
        deg AS MATERIALIZED (SELECT src AS id, CAST(SUM(w) AS BIGINT) AS k
                FROM edges GROUP BY 1),
        st AS (SELECT CAST(SUM(k) AS BIGINT) AS s_tot FROM deg),
        scored AS (
          SELECT e.src, e.dst, st.s_tot * e.w - ds.k * dd.k AS gain_num
          FROM edges e
          JOIN deg ds ON ds.id = e.src
          JOIN deg dd ON dd.id = e.dst
          CROSS JOIN st)
        SELECT src AS node_id, dst AS target_id,
          CAST(gain_num AS BIGINT) AS gain_num,
          CASE WHEN gain_num > 0 THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS would_move
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                ORDER BY gain_num DESC, dst ASC) AS rn
              FROM scored) x
        WHERE rn = 1""")),

    // ------------------------------------------------------------------
    // Jaccard-coefficient link prediction over the co-purchase graph:
    // for non-adjacent pairs (x, y), jacc = |N(x)∩N(y)| /
    // |N(x)∪N(y)| = cn / (deg_x + deg_y − cn) — the neighborhood-
    // overlap score, complementing gr_resource_allocation's
    // hub-discounted RA index (RA rewards rare shared neighbors;
    // Jaccard normalizes by total neighborhood size, so it prefers
    // pairs whose neighborhoods AGREE, not just intersect). Exported
    // as integer ppm — one division at the end, bit-stable under any
    // aggregation order. Shared scale guards: wedge centers capped
    // at degree 64 (an uncapped hub costs deg² wedges and
    // contributes mostly noise to cn), adjacency removed by
    // anti-join, top-30 over the (jacc_ppm, x, y) total order. The
    // candidate floor is cn ≥ 1 — unlike RA (whose 1/deg weights
    // make single shared neighbors pure noise), Jaccard's
    // denominator already normalizes a lone shared neighbor by both
    // full neighborhoods, and at larger SFs the co-purchase graph
    // thins (parts scale with SF, so co-occurrence dilutes) until
    // cn ≥ 2 pairs vanish entirely — the floor that keeps RA clean
    // makes Jaccard degenerate. True degrees come from the FULL
    // symmetric graph (node-sized frame, broadcast onto the
    // candidate pairs) — only wedge CENTERS are capped, so the
    // denominator is exact while the numerator is the same capped
    // lower bound both engines compute identically.
    Q("gr_jaccard_linkpred",
      (s, d) => {
        import s.implicits._
        val sym = pin(copurchaseSym(s, d))
        val deg = pin(sym.groupBy($"src".as("v"))
          .agg(count(lit(1)).as("deg")))
        val capped = sym
          .join(broadcast(deg.filter($"deg" <= 64)), $"src" === $"v")
          .select($"src", $"dst")
        val wing = capped.select($"src".as("s2"), $"dst".as("d2"))
        val cand = capped
          .join(wing, $"src" === $"s2" && $"dst" < $"d2")
          .groupBy($"dst".as("x"), $"d2".as("y"))
          .agg(count(lit(1)).as("cn"))
        cand
          .join(sym, cand("x") === sym("src") && cand("y") === sym("dst"),
            "left_anti")
          .join(broadcast(deg.select($"v".as("x"), $"deg".as("deg_x"))),
            Seq("x"))
          .join(broadcast(deg.select($"v".as("y"), $"deg".as("deg_y"))),
            Seq("y"))
          .withColumn("jacc_ppm",
            expr("cn * 1000000 div (deg_x + deg_y - cn)"))
          .orderBy($"jacc_ppm".desc, $"x", $"y")
          .limit(30)
          .select($"x", $"y", $"cn", $"deg_x", $"deg_y", $"jacc_ppm")
      },
      Some(s"""WITH $copurchaseSymSql,
        deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS deg FROM e0 GROUP BY src),
        capped AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
                   JOIN deg d ON e.src = d.v WHERE d.deg <= 64),
        cand AS MATERIALIZED (
          SELECT e1.dst AS x, e2.dst AS y, COUNT(*) AS cn
          FROM capped e1 JOIN capped e2
            ON e1.src = e2.src AND e1.dst < e2.dst
          GROUP BY 1, 2)
        SELECT x, y, CAST(cn AS BIGINT) AS cn,
          CAST(dx.deg AS BIGINT) AS deg_x,
          CAST(dy.deg AS BIGINT) AS deg_y,
          cn * 1000000 // (dx.deg + dy.deg - cn) AS jacc_ppm
        FROM cand c
        JOIN deg dx ON dx.v = c.x
        JOIN deg dy ON dy.v = c.y
        WHERE NOT EXISTS (
          SELECT 1 FROM e0 WHERE e0.src = c.x AND e0.dst = c.y)
        ORDER BY jacc_ppm DESC, x, y LIMIT 30"""))
  )
}
