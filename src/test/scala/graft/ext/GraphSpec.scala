package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the graph operators' exact semantics on constructed graphs
  * where the integer arithmetic can be verified by hand — the oracle
  * queries then check the same operators end-to-end on the testdata
  * graphs.
  */
class GraphSpec extends AnyFunSuite with SharedSpark {

  private def sym(pairs: (Long, Long)*) = {
    import spark.implicits._
    val df = pairs.toDF("src", "dst")
    df.unionAll(df.select($"dst".as("src"), $"src".as("dst")))
  }

  test("pagerank on a star graph: exact hand-computed integer ranks") {
    import spark.implicits._
    // Star K1,3: center 0, leaves 1..3; n=4, unit=2.5e11.
    // base = 15*unit/100 = 3.75e10.
    // Round 1: contrib(0) = 3 * (unit div 1) = 7.5e11
    //          contrib(leaf) = unit div 3 = 83_333_333_333
    // r1(0)    = base + 85*7.5e11 div 100   = 675_037_500_000... compute:
    //            3.75e10 + 637_500_000_000  = 675_000_000_000 + 37_500_000_000
    // r1(leaf) = 3.75e10 + (85*83_333_333_333) div 100
    //          = 37_500_000_000 + 70_833_333_333 = 108_333_333_333
    val r = GraphOps.pagerank(sym(0L -> 1L, 0L -> 2L, 0L -> 3L), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r(0L) == 37500000000L + 637500000000L)
    assert(r(1L) == 37500000000L + 70833333333L)
    assert(r(1L) == r(2L) && r(2L) == r(3L), "leaves are symmetric")
  }

  test("pagerank conserves order under more rounds and any partitioning") {
    import spark.implicits._
    val edges = sym(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L)
    val r3 = GraphOps.pagerank(edges, rounds = 3).as[(Long, Long)]
      .collect().toMap
    val r3r = GraphOps.pagerank(edges.repartition(7), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == r3r, "partitioning must not change a single micro-rank unit")
    // 1 and 3 have degree 3; 2 and 4 degree 2 — rank follows degree.
    assert(r3(1L) == r3(3L) && r3(2L) == r3(4L))
    assert(r3(1L) > r3(2L))
  }

  test("triangle count: K4 has 4 triangles, dangling edges add none") {
    import spark.implicits._
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val withTail = (k4 :+ (5L, 6L)).toDF("a", "b")
    val row = GraphOps.triangleCount(withTail)
      .as[(Long, Long, Long)].head()
    assert(row == ((4L, 7L, 6L)),
      "4 triangles, 7 edges, 6 nodes expected")
  }

  test("triangle count survives skew: a hub star yields zero triangles") {
    import spark.implicits._
    val star = (2L to 40L).map(v => (1L, v)).toDF("a", "b")
    val row = GraphOps.triangleCount(star).as[(Long, Long, Long)].head()
    assert(row._1 == 0L && row._3 == 40L)
  }

  test("pagerank beyond-broadcast path: SHUFFLE_HASH rounds, same ranks") {
    import spark.implicits._
    val edges = sym(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L)
    val b = GraphOps.pagerank(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val sh = withConf(forceBig) {
      GraphOps.pagerank(edges, rounds = 3).as[(Long, Long)].collect().toMap
    }
    assert(b == sh,
      "the shuffle-hash regime must not change a single micro-rank unit")
  }

  test("pagerank nodeBound skips the count job but not a single unit") {
    import spark.implicits._
    val edges = sym(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 1L -> 3L)
    val counted = GraphOps.pagerank(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // a loose upper bound (the regime switch is never semantic — the
    // 10¹²/n unit comes from the lazy in-plan count either way)
    val bounded = GraphOps.pagerank(edges, rounds = 3, nodeBound = 1000L)
      .as[(Long, Long)].collect().toMap
    // and the same bound on the big side (round joins SHUFFLE_HASH —
    // the side an overshooting bound selects)
    val over = withConf(forceBig) {
      GraphOps.pagerank(edges, rounds = 3, nodeBound = 1000L)
        .as[(Long, Long)].collect().toMap
    }
    assert(counted == bounded && counted == over)
  }

  test("kcore peeling: tail nodes peel off, the core survives intact") {
    import spark.implicits._
    // K4 core {1,2,3,4} with a pendant path 4-5-6: one round removes
    // 6 (deg 1 < 3) and 5 (deg 2 < 3); the K4 has deg 3 everywhere
    // and survives all further rounds with its degrees intact.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val g = sym((k4 ++ Seq((4L, 5L), (5L, 6L))): _*)
    val r = GraphOps.kcorePeel(g, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore peeling is cascade-aware: a chain unravels round by round") {
    import spark.implicits._
    // Path 1-2-3-4-5 with k=2: endpoints peel each round, exposing
    // new endpoints — after 1 round {2,3,4} remain, after 2 rounds
    // only 3's edges are gone too (2 and 4 dropped to degree 1).
    val path = sym(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val after1 = GraphOps.kcorePeel(path, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(after1.keySet == Set(2L, 3L, 4L))
    val after2 = GraphOps.kcorePeel(path, k = 2, rounds = 2)
    assert(after2.count() == 0L, "a pure path has no 2-core")
  }

  test("kcore beyond-broadcast regime yields identical survivors") {
    import spark.implicits._
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val g = sym((k4 ++ Seq((4L, 5L), (5L, 6L))): _*)
    val b = GraphOps.kcorePeel(g, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val sh = GraphOps.kcorePeel(g, k = 3, rounds = 4,
        broadcastSurvivors = false)
      .as[(Long, Long)].collect().toMap
    assert(b == sh)
  }

  test("modularity: two disjoint triangles under their own communities = 1/2") {
    import spark.implicits._
    // Classic closed form: k equal disjoint cliques as communities
    // give Q = 1 - 1/k; for k = 2, exactly 0.5.
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("v", "lbl")
    val r = GraphOps.modularity(g, labels)
      .as[(Long, Long, Long, Long, Double)].head()
    // M = 12, W = 12 (all edges within), d_c = 6 each:
    // q_num = 12*12 - 2*36 = 72; Q = 72/144 = 0.5
    assert(r == ((2L, 12L, 12L, 72L, 0.5)))
    // One community for everything scores exactly zero.
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map((_, 0L)).toDF("v", "lbl")
    val r1 = GraphOps.modularity(g, one)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r1._4 == 0L && r1._5 == 0.0)
  }

  test("local clustering: K4 nodes are fully closed, a path is fully open") {
    import spark.implicits._
    // K4: every node has deg 3, 3 wedges, all closed → cc = 1.
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("a", "b")
    val cc4 = GraphOps.localClustering(k4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(cc4 == (1L to 4L).map((_, 3L, 3L, 1000000L)).toSet)
    // Path 1-2-3: only the middle node has a wedge, and it is open.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val ccP = GraphOps.localClustering(path)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(ccP == Set((2L, 2L, 0L, 0L)),
      "degree-1 endpoints excluded; the open wedge scores zero")
  }

  test("empty graphs: pagerank yields no rows, triangles a zero row") {
    import spark.implicits._
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.pagerank(noEdges, rounds = 2).count() == 0L)
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val row = GraphOps.triangleCount(noPairs).as[(Long, Long, Long)].head()
    assert(row == ((0L, 0L, 0L)))
  }
}
