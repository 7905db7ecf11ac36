package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * trainer-ops wave (ev_winback_segments, txt_curriculum_order,
  * txt_template_detection).
  */
class Round18Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  import spark.implicits._

  // -------------------------------------------------------------------
  test("winback segments: deciles partition the user base, lapse ppm " +
       "replays, and value is monotone in the decile (LTV ordering)") {
    val rows = run("ev_winback_segments", sf01).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L),
      "exactly deciles 1..10")
    val nUsers = graft.Tables.events(spark, sf01)
      .select($"user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers,
      "deciles must partition every user")
    // NTILE balance: sizes differ by at most 1, remainder to the front.
    val sizes = rows.map(_.getAs[Long]("n_users"))
    assert(sizes.max - sizes.min <= 1 && sizes.zip(sizes.tail)
      .forall { case (a, b) => a >= b },
      s"NTILE sizes must be front-loaded balanced: ${sizes.toSeq}")
    for (r <- rows) {
      assert(r.getAs[Long]("n_lapsed") <= r.getAs[Long]("n_users"))
      assert(r.getAs[Long]("lapse_ppm") ==
        r.getAs[Long]("n_lapsed") * 1000000L / r.getAs[Long]("n_users"),
        "ppm must replay from the counts")
    }
    // Deciles are cut on ltv_micro ascending: per-decile AVERAGE value
    // must be non-decreasing (totals can dip when a front decile holds
    // one extra user, so compare the per-user mean).
    val avg = rows.map(r => r.getAs[Long]("decile_value_micro").toDouble /
      r.getAs[Long]("n_users"))
    for (Seq(a, b) <- avg.toSeq.sliding(2))
      assert(a <= b, s"decile mean value must be monotone: ${avg.toSeq}")
  }

  // -------------------------------------------------------------------
  test("curriculum order: shards are balanced, cover every doc once, " +
       "and difficulty is monotone across the shard sequence") {
    val rows = run("txt_curriculum_order", sf01).collect()
    val nDocs = graft.Tables.documents(spark, sf01).count()
    assert(rows.length.toLong == nDocs, "every doc exactly once")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet == (1L to 16L).toSet, "exactly 16 shards")
    val sizes = byShard.toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.max - sizes.min <= 1, s"balanced shards: $sizes")
    // The cut is over (rank_in_source, source, doc) ascending, so the
    // max per-source rank in shard k never exceeds the min in shard
    // k+1 — shard 1 holds every source's easiest docs.
    val ordered = byShard.toSeq.sortBy(_._1).map(_._2)
    for (Seq(a, b) <- ordered.sliding(2)) {
      assert(a.map(_.getAs[Long]("rank_in_source")).max <=
        b.map(_.getAs[Long]("rank_in_source")).min,
        "difficulty ramp must be monotone across shards")
    }
    // No source monoculture: the FIRST shard interleaves sources (it
    // holds rank-1 docs of every source with enough mass).
    val s1Sources = ordered.head.map(_.getAs[String]("source")).distinct
    assert(s1Sources.length > 1, "shard 1 must interleave sources")
    // rank_in_source is dense per source and ordered by n_tok.
    for ((_, rs0) <- rows.groupBy(_.getAs[String]("source"))) {
      val rs = rs0.sortBy(_.getAs[Long]("rank_in_source"))
      assert(rs.map(_.getAs[Long]("rank_in_source")).toSeq ==
        (1L to rs.length).toSeq, "dense per-source rank")
      for (Seq(a, b) <- rs.toSeq.sliding(2))
        assert(a.getAs[Long]("n_tok") <= b.getAs[Long]("n_tok"),
          "per-source rank must follow token count")
    }
  }

  // -------------------------------------------------------------------
  test("template detection: every reported opener really repeats >= 3 " +
       "times, the exemplar carries the opener, counts replay") {
    val rows = run("txt_template_detection", sf01).collect()
    assert(rows.nonEmpty, "synthetic corpus must surface templates")
    assert(rows.map(_.getAs[String]("opener")).distinct.length ==
      rows.length, "one row per opener")
    // Recompute ground truth directly from the corpus.
    val truth = graft.Tables.documents(spark, sf01)
      .select($"doc_id", $"source",
        concat_ws(" ", slice(split(trim(lower($"text")), "\\s+"), 1, 2))
          .as("opener"))
      .collect().groupBy(_.getAs[String]("opener"))
    for (r <- rows) {
      val g = truth(r.getAs[String]("opener"))
      assert(r.getAs[Long]("n_docs") == g.length.toLong)
      assert(r.getAs[Long]("n_docs") >= 3L)
      assert(r.getAs[Long]("n_sources") ==
        g.map(_.getAs[String]("source")).distinct.length.toLong)
      assert(r.getAs[Long]("exemplar_doc") ==
        g.map(_.getAs[Long]("doc_id")).min, "exemplar = min doc_id")
    }
    // Completeness: every >= 3x opener in the corpus is reported.
    val expected = truth.filter(_._2.length >= 3).keySet - ""
    assert(rows.map(_.getAs[String]("opener")).toSet == expected)
  }

  // -------------------------------------------------------------------
  test("round-5 trainer-ops wave results are bit-identical under 4 " +
       "and 7 shuffle partitions") {
    val queries = Seq("ev_winback_segments" -> sf001,
      "txt_curriculum_order" -> sf001, "txt_template_detection" -> sf001)
    assertPartitionInvariant(queries)
  }
}
