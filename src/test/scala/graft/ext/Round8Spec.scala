package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Partition-count invariance + semantic pins for the round-4
  * continuation wave (matryoshka recall, source TVD, lifetime table,
  * personalized PageRank) — same contract as the earlier invariance
  * specs: bit-identical output under different shuffle-partition
  * counts, plus the hand-checkable properties sf-dir testdata cannot
  * pin on its own.
  */
class Round8Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "sim_matryoshka_recall", "txt_source_tvd", "ev_lifetime_table",
    "gr_personalized_ppr")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("matryoshka rerank recall dominates raw prefix recall and both " +
       "are bounded by 100%") {
    val rows = SparkEntry.queries("sim_matryoshka_recall")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val nExact = r.getAs[Long]("n_exact")
      val hitRerank = r.getAs[Long]("hit_rerank")
      val hitPrefix = r.getAs[Long]("hit_prefix")
      assert(nExact == 5L, s"exact top-5 should have 5 rows, got $nExact")
      assert(hitRerank <= nExact && hitPrefix <= nExact)
      assert(r.getAs[Long]("recall_rerank_ppm") <= 1000000L)
      // reranking a 20-candidate shortlist can only help: every
      // prefix-top-5 survivor that is a true neighbor is also in the
      // shortlist, and full-dim scoring ranks true neighbors at
      // least as well as the truncated score did
      assert(hitRerank >= hitPrefix,
        s"rerank ($hitRerank) must not lose hits vs raw prefix " +
          s"($hitPrefix)")
    }
  }

  test("source TVD is symmetric-by-construction, zero on identical " +
       "distributions, and ≤ 10⁶") {
    import spark.implicits._
    val rows = SparkEntry.queries("txt_source_tvd")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val tvd = r.getAs[Long]("tvd_ppm")
      assert(tvd >= 0L && tvd <= 1000000L, s"tvd out of range: $tvd")
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"),
        "each unordered pair appears exactly once, a < b")
    }
    // the 20 sources share a generator, so no pair should be at the
    // degenerate extremes
    assert(rows.map(_.getAs[Long]("tvd_ppm")).max < 1000000L)
  }

  test("lifetime table is internally consistent: at-risk telescopes, " +
       "churned ≤ ended, survival is monotone non-increasing") {
    val rows = SparkEntry.queries("ev_lifetime_table")(spark, sf)
      .collect().sortBy(_.getAs[Long]("wk"))
    assert(rows.nonEmpty)
    // week-0 at-risk is the full user base → surv_ppm = 10⁶
    assert(rows.head.getAs[Long]("wk") == rows.map(_.getAs[Long]("wk")).min)
    // at the smallest observed lifetime week, everyone is at risk
    assert(rows.head.getAs[Long]("surv_ppm") == 1000000L)
    var prevSurv = Long.MaxValue
    var prevAtRisk = Long.MaxValue
    for (r <- rows) {
      val atRisk = r.getAs[Long]("n_at_risk")
      val churned = r.getAs[Long]("n_churned")
      assert(churned <= atRisk)
      assert(atRisk <= prevAtRisk, "at-risk must shrink with age")
      val surv = r.getAs[Long]("surv_ppm")
      assert(surv <= prevSurv, "survival must be non-increasing")
      prevSurv = surv
      prevAtRisk = atRisk
    }
  }

  test("personalized pagerank on a star graph: all restart mass at the " +
       "hub flows to the spokes and nowhere else") {
    import spark.implicits._
    // hub 0 — spokes 1..4, symmetric edges
    val e0 = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(0L).toDF("id")
    val got = GraphOps.personalizedPagerank(edges, seeds, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // seed: unit = 10¹², base = 15% of it. Round 1: hub keeps base
    // (spokes had r=0), each spoke gets 85% * (10¹² div 4).
    // Round 2: hub gets base + 85% * Σ spokes' full rank (each spoke
    // sends its whole rank back — outdeg 1); spokes get 85% of
    // (hub's round-1 rank div 4).
    val unit = 1000000000000L
    val base = unit * 15L / 100L
    val spoke1 = 85L * (unit / 4L) / 100L
    assert(got(0L) == base + 85L * (4L * spoke1) / 100L,
      s"hub rank: ${got(0L)}")
    val spoke2 = 85L * (base / 4L) / 100L
    for (i <- 1L to 4L)
      assert(got(i) == spoke2, s"spoke $i: ${got(i)} vs $spoke2")
  }

  test("personalized pagerank with every node seeded degenerates to " +
       "ordinary pagerank scaled by n") {
    import spark.implicits._
    // triangle graph — symmetric, outdeg 2 everywhere
    val e0 = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(0L, 1L, 2L).toDF("id")
    val ppr = GraphOps.personalizedPagerank(edges, seeds, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pr = GraphOps.pagerank(edges, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // ppr unit = 10¹²/3 per seed = pagerank's per-node unit; the
    // recurrences are then identical
    assert(ppr == pr, s"$ppr vs $pr")
  }

  test("seeds absent from the graph are ignored and mass splits over " +
       "present seeds only") {
    import spark.implicits._
    val e0 = Seq((0L, 1L)).toDF("src", "dst")
    val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
    val withGhost = GraphOps.personalizedPagerank(
      edges, Seq(0L, 99L).toDF("id"), rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val without = GraphOps.personalizedPagerank(
      edges, Seq(0L).toDF("id"), rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(withGhost == without,
      s"ghost seed changed ranks: $withGhost vs $without")
    assert(!withGhost.contains(99L), "ghost seed must not appear")
  }
}
