package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * pipeline wave (ev_srm_check, sim_rrf_fusion, txt_dsir_weights,
  * dedup_semdedup, sim_ivf_imbalance, gr_resource_allocation).
  */
class Round10Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("ev_srm_check: healthy hash arm clean, confounded mod3 arm " +
       "flagged, counts conserved") {
    val rows = run("ev_srm_check", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val arm = r.getAs[String]("arm")
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      val chi2 = r.getAs[Long]("chi2_ppm")
      val flag = r.getAs[Long]("srm_flag")
      // chi2 definition replayed exactly
      assert(chi2 == (na - nb) * (na - nb) * 1000000L / (na + nb))
      assert(flag == (if (chi2 > 3841459L) 1L else 0L))
      if (arm == "hash") assert(flag == 0L,
        s"salted-md5 split flagged SRM: n_a=$na n_b=$nb")
      if (arm == "mod3") assert(flag == 1L,
        s"the deliberately confounded mod3 split must flag: $na/$nb")
    }
    // both arms see the same exposed-user universe
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    for ((_, rs) <- byType) {
      val totals = rs.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b"))
      assert(totals.distinct.size == 1, "arms disagree on exposure")
    }
  }

  // -------------------------------------------------------------------
  test("sim_rrf_fusion: dense ranks taken verbatim, rrf monotone in " +
       "rank, credit bounded by the two-arm maximum") {
    val rows = run("sim_rrf_fusion", sf001).collect()
    assert(rows.nonEmpty)
    val maxCredit = 2L * (1000000000L / 61L)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getAs[Int]("rank").toLong)
      assert(sorted.map(_.getAs[Int]("rank").toLong).toSeq ==
        (1L to sorted.length).toSeq, s"ranks not dense for qid=$q")
      val scores = sorted.map(_.getAs[Long]("rrf_nano")).toSeq
      assert(scores == scores.sortBy(-_), s"rrf not monotone for qid=$q")
      assert(scores.forall(v => v > 0 && v <= maxCredit))
    }
  }

  // -------------------------------------------------------------------
  test("txt_dsir_weights: importance is a tf-weighted mean of " +
       "per-bucket ppm weights — bounded and internally consistent") {
    val rows = run("txt_dsir_weights", sf001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val n = r.getAs[Long]("n_bigrams")
      val sum = r.getAs[Long]("imp_ppm_sum")
      val imp = r.getAs[Long]("imp_ppm")
      assert(n > 0)
      assert(imp == sum / n)
      // Laplace-smoothed target share lives strictly inside (0, 1e6)
      assert(imp > 0 && imp < 1000000L, s"imp_ppm=$imp out of range")
    }
  }

  // -------------------------------------------------------------------
  test("dedup_semdedup: every planted twin's +100000 copy is removed " +
       "(centroid-cosine tie falls to the id order); originals with no " +
       "in-cell near-dup survive") {
    import spark.implicits._
    val res = run("dedup_semdedup", sf001)
    val removed = res.filter($"removed" === 1L)
      .select($"vec_id").as[Long].collect().toSet
    val twins = graft.Tables.embeddings(spark, sf001)
      .filter($"vec_id" % 20 === 0).select($"vec_id").as[Long]
      .collect().toSet
    assert(twins.nonEmpty)
    for (v <- twins)
      assert(removed.contains(v + 100000L),
        s"planted copy of $v not removed")
    // each removal is justified: removed set is no larger than the
    // augmented corpus and never includes a vector with removed=0 too
    val n = res.count()
    val nEmb = graft.Tables.embeddings(spark, sf001).count()
    assert(n == nEmb + twins.size, "verdict must cover the full corpus")
    assert(res.groupBy($"vec_id").count().filter($"count" > 1).count() == 0)
  }

  // -------------------------------------------------------------------
  test("ev_cuped: theta and rho2 replay exactly from independently " +
       "collected per-user pre/post sums (BigInt, no IEEE anywhere)") {
    import spark.implicits._
    val got = run("ev_cuped", sf001).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("theta_micro"),
          r.getAs[Long]("rho2_ppm"))).toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf001)
    val t0 = ev.agg(unix_micros(date_trunc("day", min($"ts"))))
      .as[Long].head()
    val split = t0 + 1296000000000L
    val ux = ev.select($"event_type", $"user_id",
        when(unix_micros($"ts") < split,
          floor($"value" * 1000000).cast("long")).otherwise(0L).as("vx"),
        when(unix_micros($"ts") >= split,
          floor($"value" * 1000000).cast("long")).otherwise(0L).as("vy"))
      .groupBy($"event_type", $"user_id")
      .agg(sum($"vx").as("x"), sum($"vy").as("y"))
      .collect()
    for ((et, (n, theta, rho2)) <- got) {
      val xs = ux.filter(_.getAs[String]("event_type") == et)
        .map(r => (BigInt(r.getAs[Long]("x")), BigInt(r.getAs[Long]("y"))))
      assert(xs.length.toLong == n)
      val bn = BigInt(n)
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxy = xs.map(p => p._1 * p._2).sum
      val sxx = xs.map(p => p._1 * p._1).sum
      val syy = xs.map(p => p._2 * p._2).sum
      val covn = bn * sxy - sx * sy
      val varn = bn * sxx - sx * sx
      val varyn = bn * syy - sy * sy
      val thetaRef = covn * 1000000 / varn  // BigInt / truncates to zero
      assert(BigInt(theta) == thetaRef, s"$et theta")
      assert(BigInt(rho2) == thetaRef * covn / varyn, s"$et rho2")
    }
  }

  // -------------------------------------------------------------------
  test("sim_fusion_shift: one row per query, overlap@10 in [0, 10], " +
       "reciprocal rank is 10^6 div k or 0") {
    val rows = run("sim_fusion_shift", sf01).collect()
    assert(rows.nonEmpty)
    val nQ = run("sim_rrf_fusion", sf01).select("qid").distinct().count()
    assert(rows.length.toLong == nQ, "one row per fused query")
    val validRr = (1L to 10L).map(1000000L / _).toSet + 0L
    for (r <- rows) {
      val ov = r.getAs[Long]("n_overlap")
      assert(ov >= 0 && ov <= 10)
      assert(validRr.contains(r.getAs[Long]("rr_micro")))
      // dense #1 enters fusion with the max dense credit; if it still
      // appears it must rank in the fused top-10's upper half unless
      // evicted entirely — weaker invariant: overlap 0 forces rr 0
      if (ov == 0) assert(r.getAs[Long]("rr_micro") == 0L)
    }
  }

  // -------------------------------------------------------------------
  test("dedup_semdedup_recall: caught is a subset of truth, recall " +
       "exact, and every planted twin pair is caught (identical " +
       "vectors can never be split across cells)") {
    val rows = run("dedup_semdedup_recall", sf01).collect()
    assert(rows.nonEmpty)
    var totTrue = 0L; var totCaught = 0L
    for (r <- rows) {
      val t = r.getAs[Long]("n_true"); val c = r.getAs[Long]("n_caught")
      assert(c >= 0 && c <= t)
      assert(r.getAs[Long]("recall_permille") == c * 1000L / t)
      totTrue += t; totCaught += c
    }
    val nTwins = graft.Tables.embeddings(spark, sf01)
      .filter(col("vec_id") % 20 === 0).count()
    assert(totTrue >= nTwins, "truth must contain every planted pair")
    assert(totCaught >= nTwins,
      "cell-scoped pass must catch every identical twin pair")
  }

  // -------------------------------------------------------------------
  test("ev_diff_in_diff: the contrast is exactly the four-cell " +
       "identity and every cell mean is populated") {
    val rows = run("ev_diff_in_diff", sf001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val tp = r.getAs[Long]("mean_t_post"); val tq = r.getAs[Long]("mean_t_pre")
      val cp = r.getAs[Long]("mean_c_post"); val cq = r.getAs[Long]("mean_c_pre")
      assert(Seq(tp, tq, cp, cq).forall(_ >= 0L), "value means are nonneg")
      assert(r.getAs[Long]("did_micro") == (tp - tq) - (cp - cq))
    }
  }

  // -------------------------------------------------------------------
  test("sim_embedding_drift: per-label drift bounded by its own " +
       "max component, halves partition the corpus") {
    val rows = run("sim_embedding_drift", sf001).collect()
    assert(rows.nonEmpty)
    var users = 0L
    for (r <- rows) {
      val sq = r.getAs[Long]("drift_sq_micro2")
      val mx = r.getAs[Long]("max_dim_drift_micro")
      assert(sq >= mx * mx, "sum of squares below its max term")
      assert(sq <= 64L * mx * mx, "sum of squares above 64 max terms")
      users += r.getAs[Long]("n_a") + r.getAs[Long]("n_b")
    }
    assert(users == graft.Tables.embeddings(spark, sf001).count())
  }

  // -------------------------------------------------------------------
  test("mm_modality_pack: batch ids replay exactly from a greedy " +
       "scan per modality shard, never crossing kinds") {
    val rows = run("mm_modality_pack", sf001).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("seq_cost"), r.getAs[Long]("batch_id")))
    assert(rows.nonEmpty)
    for ((kind, rs) <- rows.groupBy(_._1)) {
      var cum = 0L
      for ((_, _, cost, batch) <- rs.sortBy(_._2)) {
        assert(batch == cum / 8192L, s"$kind batch drift")
        cum += cost
      }
    }
  }

  // -------------------------------------------------------------------
  test("sim_mips_topk: ranks dense 1..5 per query, integer score " +
       "monotone non-increasing — the dot ranking is bit-stable by " +
       "construction") {
    val rows = run("sim_mips_topk", sf001).collect()
    assert(rows.nonEmpty)
    for ((q, rs) <- rows.groupBy(_.getAs[Long]("qid"))) {
      val sorted = rs.sortBy(_.getAs[Int]("rank").toLong)
      assert(sorted.map(_.getAs[Int]("rank").toLong).toSeq ==
        (1L to sorted.length).toSeq, s"qid=$q ranks not dense")
      val scores = sorted.map(_.getAs[Long]("dot_q")).toSeq
      assert(scores == scores.sortBy(-_), s"qid=$q not monotone")
    }
  }

  // -------------------------------------------------------------------
  test("sim_ivf_imbalance: Cauchy-Schwarz floors — load factor and " +
       "imbalance are >= 1.0 exactly, with equality only when uniform") {
    val r = run("sim_ivf_imbalance", sf001).collect().head
    val k = r.getAs[Long]("n_cells")
    val n = r.getAs[Long]("n_vecs")
    assert(k == 16)
    assert(n == graft.Tables.embeddings(spark, sf001).count())
    assert(r.getAs[Long]("min_cell") >= 0 &&
      r.getAs[Long]("max_cell") >= r.getAs[Long]("min_cell"))
    // k * max >= sum  and  k * sum(n_i^2) >= (sum n_i)^2
    assert(r.getAs[Long]("imbalance_ppm") >= 1000000L)
    assert(r.getAs[Long]("load_factor_ppm") >= 1000000L)
  }

  // -------------------------------------------------------------------
  test("gr_resource_allocation: per-pair RA credit bounded by the " +
       "degree cap, and no predicted pair is an existing edge") {
    val rows = run("gr_resource_allocation", sf01).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val cn = r.getAs[Long]("cn")
      val ra = r.getAs[Long]("ra_nano")
      assert(cn >= 2)
      // every wedge center z has 1 <= deg(z) <= 64:
      // 10^9/64 <= contrib <= 10^9
      assert(ra >= cn * (1000000000L / 64L) && ra <= cn * 1000000000L,
        s"ra_nano=$ra outside [cn/64, cn] credit band for cn=$cn")
    }
  }

  // -------------------------------------------------------------------
  test("round-5 wave results are bit-identical under 4 and 7 shuffle " +
       "partitions") {
    // gr_resource_allocation runs at sf0.01: the sf0.001 co-purchase
    // graph has no support>=2 pairs to predict over.
    val queries = Seq("ev_srm_check" -> sf001, "sim_rrf_fusion" -> sf001,
      "txt_dsir_weights" -> sf001, "dedup_semdedup" -> sf001,
      "sim_ivf_imbalance" -> sf001, "gr_resource_allocation" -> sf01,
      "sim_fusion_shift" -> sf001, "dedup_semdedup_recall" -> sf001,
      "ev_cuped" -> sf001, "ev_diff_in_diff" -> sf001,
      "sim_embedding_drift" -> sf001, "mm_modality_pack" -> sf001,
      "sim_mips_topk" -> sf001)
    assertPartitionInvariant(queries)
  }
}
