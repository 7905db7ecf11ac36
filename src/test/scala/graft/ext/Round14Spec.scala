package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * statistics/layout wave (gr_jaccard_linkpred,
  * rel_histogram_equidepth, rel_encoding_advisor).
  */
class Round14Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("jaccard link prediction: pairs are non-adjacent, scores " +
       "replay from true degrees, and results rank by the total order") {
    import spark.implicits._
    val rows = run("gr_jaccard_linkpred", sf01).collect()
    assert(rows.length == 30)
    // Rebuild the support>=2 co-purchase graph independently.
    val li = graft.Tables.lineitem(spark, sf01)
      .select($"l_orderkey", $"l_partkey")
    val pw = li.join(
        li.select($"l_orderkey".as("ok2"), $"l_partkey".as("pk2")),
        $"l_orderkey" === $"ok2" && $"l_partkey" < $"pk2")
      .groupBy($"l_partkey", $"pk2").count()
      .filter($"count" >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((a, b) <- pw) { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    for (r <- rows) {
      val x = r.getAs[Long]("x"); val y = r.getAs[Long]("y")
      assert(!adj(x).contains(y), s"($x, $y) must be non-adjacent")
      assert(r.getAs[Long]("deg_x") == adj(x).size, "true degree x")
      assert(r.getAs[Long]("deg_y") == adj(y).size, "true degree y")
      val cn = r.getAs[Long]("cn")
      assert(cn >= 1 && cn <= math.min(adj(x).size, adj(y).size))
      // cn is computed over degree<=64 wedge centers; every shared
      // neighbor here has tiny degree, so the capped count is exact.
      val shared = (adj(x) & adj(y)).count(z => adj(z).size <= 64)
      assert(cn == shared, s"($x, $y): cn $cn vs replay $shared")
      assert(r.getAs[Long]("jacc_ppm") ==
        cn * 1000000L / (adj(x).size + adj(y).size - cn),
        "jaccard replay")
    }
    val ranks = rows.map(r => (-r.getAs[Long]("jacc_ppm"),
      r.getAs[Long]("x"), r.getAs[Long]("y"))).toSeq
    assert(ranks == ranks.sorted, "top-30 must follow the total order")
  }

  // -------------------------------------------------------------------
  test("equi-depth histogram: buckets are balanced like SQL NTILE, " +
       "actuals are monotone, and estimate error is bounded by the " +
       "boundary bucket") {
    import spark.implicits._
    val rows = run("rel_histogram_equidepth", sf01).collect()
      .sortBy(_.getAs[Long]("threshold_cents"))
    assert(rows.length == 8)
    val n = graft.Tables.orders(spark, sf01).count()
    // NTILE balance: bucket sizes differ by at most 1 → the uniform-
    // interpolation estimate of any `< T` predicate is off by at
    // most one bucket (the partial-boundary bucket).
    val maxBucket = n / 16 + (if (n % 16 == 0) 0 else 1)
    val acts = rows.map(_.getAs[Long]("actual"))
    assert(acts.zip(acts.tail).forall { case (a, b) => a <= b },
      "actual row counts must be monotone in the threshold")
    for (r <- rows) {
      val est = r.getAs[Long]("est"); val act = r.getAs[Long]("actual")
      assert(est >= 0 && est <= n)
      assert(math.abs(est - act) <= maxBucket,
        s"histogram estimate off by more than one bucket: $est vs $act")
      assert(r.getAs[Long]("err_ppm") == (est - act) * 1000000L / act)
    }
  }

  // -------------------------------------------------------------------
  test("encoding advisor: run counts replay from a local single-pass " +
       "scan in the same writer order") {
    import spark.implicits._
    val rows = run("rel_encoding_advisor", sf01).collect()
    assert(rows.map(_.getAs[String]("col_name")).sorted.toSeq ==
      Seq("linestatus", "returnflag", "ship_month"))
    val local = graft.Tables.lineitem(spark, sf01)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy { case (o, l, v) => (o, l, v) }
    var runs = 0L
    var prevFile = -1L
    var prevVal: String = null
    for ((o, _, v) <- local) {
      val f = o / 4096
      if (f != prevFile || v != prevVal) runs += 1
      prevFile = f; prevVal = v
    }
    val rf = rows.find(_.getAs[String]("col_name") == "returnflag").get
    assert(rf.getAs[Long]("n_rows") == local.length.toLong)
    assert(rf.getAs[Long]("n_runs") == runs,
      s"returnflag runs ${rf.getAs[Long]("n_runs")} vs replay $runs")
    assert(rf.getAs[Long]("mean_run_len_milli") ==
      rf.getAs[Long]("n_rows") * 1000L / rf.getAs[Long]("n_runs"))
    for (r <- rows) {
      assert(r.getAs[Long]("n_runs") >= r.getAs[Long]("n_files"))
      assert(r.getAs[Long]("n_runs") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_dict_files") == r.getAs[Long]("n_files"),
        "all three columns are low-cardinality → dict-viable everywhere")
    }
  }

  // -------------------------------------------------------------------
  test("round-5 layout wave results are bit-identical under 4 and 7 " +
       "shuffle partitions") {
    val queries = Seq("gr_jaccard_linkpred" -> sf001,
      "rel_histogram_equidepth" -> sf001, "rel_encoding_advisor" -> sf001)
    assertPartitionInvariant(queries)
  }
}
