package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * alignment/rewrite wave (mm_av_align, rel_view_answer,
  * ev_funnel_windows).
  */
class Round15Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("a/v alignment: every frame matches the latest window at or " +
       "before it, lag stays under one hop inside the track span") {
    import spark.implicits._
    val rows = run("mm_av_align", sf01).collect()
    assert(rows.nonEmpty)
    // Rebuild each video doc's audio params from the same byte_len
    // fiction the queries use.
    val meta = graft.Tables.documents(spark, sf01)
      .filter($"doc_id" % 3 === 2)
      .select($"doc_id",
        org.apache.spark.sql.functions.octet_length($"text")
          .cast("long").as("bl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srs = Array(8000L, 16000L, 22050L, 44100L)
    for (r <- rows) {
      val doc = r.getAs[Long]("doc_id")
      val bl = meta(doc)
      val sr = srs((bl % 4).toInt)
      val hop = sr * 10 / 1000
      val hopMs = hop * 1000 / sr // 9 or 10 ms
      val nAw = 1L + (bl * 64 - sr * 25 / 1000) / hop
      val t = r.getAs[Long]("t_ms")
      val awIdx = r.getAs[Long]("aw_idx")
      val start = r.getAs[Long]("aw_start_ms")
      val lag = r.getAs[Long]("sync_lag_ms")
      assert(start == awIdx * hop * 1000 / sr, "window start replay")
      assert(lag == t - start && lag >= 0)
      assert(awIdx == nAw - 1 || lag <= hopMs,
        s"doc $doc frame t=$t: lag $lag exceeds hop $hopMs but " +
          s"window $awIdx is not the last ($nAw)")
      // asof: the NEXT window (if any) must start strictly after t.
      if (awIdx < nAw - 1)
        assert((awIdx + 1) * hop * 1000 / sr > t, "not the latest <= t")
    }
  }

  // -------------------------------------------------------------------
  test("view answer: every quarter reconciles and the arms total to " +
       "the whole fact table") {
    import spark.implicits._
    val rows = run("rel_view_answer", sf01).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("is_match") == 1L),
      "month→quarter rollup rewrite must be exact")
    val total = rows.map(_.getAs[Long]("rev_base_cents")).sum
    val direct = graft.Tables.orders(spark, sf01)
      .select(org.apache.spark.sql.functions
        .round($"o_totalprice" * 100).cast("long").as("c"))
      .agg(org.apache.spark.sql.functions.sum($"c")).head.getLong(0)
    assert(total == direct, "quarters must partition total revenue")
  }

  // -------------------------------------------------------------------
  test("funnel windows: signups are window-independent, conversions " +
       "are monotone in the window, rates replay") {
    val rows = run("ev_funnel_windows", sf01).collect()
      .sortBy(_.getAs[Long]("win_s"))
    assert(rows.map(_.getAs[Long]("win_s")).toSeq ==
      Seq(3600L, 86400L, 604800L))
    assert(rows.map(_.getAs[Long]("n_signup")).distinct.length == 1,
      "stage-1 population must not depend on the window")
    val clicks = rows.map(_.getAs[Long]("n_click"))
    val purch = rows.map(_.getAs[Long]("n_purchase"))
    // Each window is ≥2× the previous, which makes the stage
    // intervals nest — conversions can only grow.
    assert(clicks.zip(clicks.tail).forall { case (a, b) => a <= b },
      s"clicks must be monotone: ${clicks.mkString(",")}")
    assert(purch.zip(purch.tail).forall { case (a, b) => a <= b },
      s"purchases must be monotone: ${purch.mkString(",")}")
    for (r <- rows) {
      assert(r.getAs[Long]("conv_click_ppm") ==
        r.getAs[Long]("n_click") * 1000000L / r.getAs[Long]("n_signup"))
      val nc = r.getAs[Long]("n_click")
      assert(r.getAs[Long]("conv_purchase_ppm") ==
        (if (nc == 0) 0L else r.getAs[Long]("n_purchase") * 1000000L / nc))
      assert(r.getAs[Long]("n_purchase") <= nc &&
        nc <= r.getAs[Long]("n_signup"), "funnel must narrow")
    }
  }

  // -------------------------------------------------------------------
  test("round-5 alignment wave results are bit-identical under 4 " +
       "and 7 shuffle partitions") {
    val queries = Seq("mm_av_align" -> sf001,
      "rel_view_answer" -> sf001, "ev_funnel_windows" -> sf001)
    assertPartitionInvariant(queries)
  }
}
