package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, WindowAuditSpec}

/** Round-10 optimization guards: the scale regimes introduced for the
  * superlinear pair evals must be RESULT-NEUTRAL where they claim to
  * be.
  *
  *  - dedup_ngram_jaccard / dedup_containment: the gram self-join
  *    returns exactly the pairs a brute-force all-pairs comparison of
  *    the collected gram sets finds, on the REAL corpus index at two
  *    SFs (sf0.01 has 500 documents, ~125k pairs).
  *  - dedup_lsh_recall_curve / dedup_shingle_sweep: the 16-bit
  *    hex-threshold sample predicate at threshold 2048 must select
  *    exactly the docs the original two-hex-char predicate selected
  *    (that equality is what keeps every oracle-gated SF
  *    bit-identical).
  *  - sim sub-block regime: below the cap the shard count is 1
  *    (bounded join never engages at oracle SFs); the shard key is
  *    stable and in [0, nSplits).
  *  - [[graft.Regimes]] big sides, forced with `forceBig` at two SFs
  *    and held to each entry's contract against the natural (small)
  *    side: exact entries give the same rows.
  */
class RegimeEquivalenceSpec extends AnyFunSuite with SharedSpark {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** doc_id → distinct gram set, collected to the driver. */
  private def gramSets(grams: DataFrame): Map[Long, Set[String]] =
    grams.select("doc_id", "gram").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }

  /** Every doc pair a < b sharing a gram: (a, b, |A∩B|, |A|, |B|). */
  private def bruteForcePairs(sets: Map[Long, Set[String]]) = {
    val docs = sets.keys.toSeq.sorted
    for {
      (a, i) <- docs.zipWithIndex; b <- docs.drop(i + 1)
      inter = sets(a).intersect(sets(b)).size.toLong if inter > 0
    } yield (a, b, inter, sets(a).size.toLong, sets(b).size.toLong)
  }

  /** Query `name` at `sf`: the natural rows, then the rows and plan
    * with every regime forced big. */
  private def naturalAndForced(name: String, sf: String)
      : (Array[Row], Array[Row], SparkPlan) = {
    val natural = SparkEntry.queries(name)(spark, sf).collect()
    withConf(forceBig) {
      val df = SparkEntry.queries(name)(spark, sf)
      (natural, df.collect(), df.queryExecution.executedPlan)
    }
  }

  /** Asserts query `name` at `sf` gives the same rows with every
    * regime forced big as naturally; returns the forced plan. */
  private def sameRowsForced(name: String, sf: String): SparkPlan = {
    val (natural, forced, plan) = naturalAndForced(name, sf)
    assert(natural.nonEmpty)
    assert(forced.map(_.toString).sorted.toSeq ==
      natural.map(_.toString).sorted.toSeq)
    plan
  }

  for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"ngram_jaccard equals brute-force Jaccard at $sf") {
      val grams = DedupIndex.grams3(spark, sf).select("doc_id", "gram", "n")
      val got = Dedup.ngramJaccardFrame(grams).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = bruteForcePairs(gramSets(grams)).map {
        case (a, b, i, na, nb) => (a, b, i.toDouble / (na + nb - i).toDouble)
      }.filter(_._3 >= 0.5).toSet
      assert(want.nonEmpty, "planted twins must produce pairs")
      assert(got == want)
    }

    test(s"containment equals brute-force containment at $sf") {
      val grams = DedupIndex.grams3(spark, sf).filter("ge3")
        .select("doc_id", "gram", "n")
      val got = Dedup.containmentFrame(grams).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      val want = bruteForcePairs(gramSets(grams)).map {
        case (a, b, i, na, nb) =>
          (a, b, i, na, nb, i.toDouble / math.min(na, nb).toDouble)
      }.filter(_._6 >= 0.8).toSet
      assert(want.nonEmpty, "planted twins must produce pairs")
      assert(got == want)
    }

    for (q <- Seq("gr_random_walk", "gr_kcore"))
      test(s"$q forced to the SHUFFLE_HASH side gives the same rows at $sf") {
        sameRowsForced(q, sf)
      }

    test(s"ev_rfm_segments forced big: same rows at $sf") {
      val plan = sameRowsForced("ev_rfm_segments", sf)
      assert(!WindowAuditSpec.unpartitioned(plan),
        "the big side must not sort every user through one window task")
    }

    test(s"rel_decile_lift forced big: same rows at $sf") {
      val plan = sameRowsForced("rel_decile_lift", sf)
      assert(!plan.toString.contains("percentile_approx"), plan)
    }
  }

  test("hex-threshold sample at 2048 equals the two-hex-char predicate") {
    import spark.implicits._
    val ids = spark.range(0, 300000).select($"id".as("doc_id"))
    val grpHash = md5(($"doc_id" % 100000).cast("string"))
    val oldPred = substring(grpHash, 1, 1) === "0" &&
      substring(grpHash, 2, 1) < "8"
    val newPred = conv(substring(grpHash, 1, 4), 16, 10)
      .cast("long") < 2048L
    val diff = ids.filter(oldPred =!= newPred).count()
    assert(diff == 0L)
    // and the sample is non-trivial on this range
    val n = ids.filter(newPred).count()
    assert(n > 0 && n < 300000)
  }

  test("sub-block shard count is 1 below the cap, key bounded above it") {
    // every oracle-gated SF holds ≤ 2000 embeddings — far below the
    // 4000-doc cap, so the bounded join never engages there
    assert(Similarity.blockSplits(spark, "/root/testdata/sf0.001") == 1L)
    assert(Similarity.blockSplits(spark, "/root/testdata/sf0.01") == 1L)
    import spark.implicits._
    val keys = spark.range(0, 5000)
      .select(Similarity.subBlock(col("id"), 7L).as("blk"))
      .agg(min($"blk"), max($"blk"), countDistinct($"blk"))
      .head()
    assert(keys.getLong(0) >= 0L && keys.getLong(1) <= 6L)
    assert(keys.getLong(2) == 7L, "all 7 shards must be populated")
  }

  test("blocked pair join equals the blk filter of the open pair join") {
    // the exact join-condition wiring dedup_stack_verdict (round 10),
    // dedup_onion stage 3 and the sim evals use, under a FORCED
    // split count on the real corpus: joining on (label, blk) must
    // select precisely the same-shard subset of the open label join
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", $"label")
      .withColumn("blk", Similarity.subBlock($"vec_id", 3L))
    val open = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        (col("a.blk") === col("b.blk")).as("same"))
    val blocked = emb.as("a").join(emb.as("b"),
        col("a.label") === col("b.label") &&
          col("a.blk") === col("b.blk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"))
    val want = rows(open.filter($"same").drop("same"))
    val got = rows(blocked)
    assert(got.nonEmpty && got == want)
    assert(rows(open).size > got.size,
      "a forced 3-way split must actually drop cross-shard pairs")
  }

  test("query-sample modulus is 97 below the cap and nests above it") {
    // at oracle SFs the retrieval evals' query slice must be the
    // original % 97 — qMod = 97 exactly
    assert(Similarity.qMod(spark, "/root/testdata/sf0.001") == 97L)
    assert(Similarity.qMod(spark, "/root/testdata/sf0.01") == 97L)
    // nesting: % (97·S) == 0 picks a subset of % 97 == 0 for any S,
    // so a larger corpus evaluates a subset of the smaller corpus's
    // query set (the property that keeps eval semantics comparable
    // across scales)
    for (s <- Seq(2L, 5L, 13L); id <- 0L to 10000L)
      if (id % (97L * s) == 0L) assert(id % 97L == 0L)
  }
}
