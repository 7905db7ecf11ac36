package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry, Tables}

/** Targeted semantics for the round-3 third wave, beyond the DuckDB
  * hash gate: anomaly-window accounting, conversion-lag arithmetic,
  * SCD2 run structure, bigram-LM ranking, and k-NN graph shape.
  */
class Round3cSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("ev_anomaly_zscore: warmup rows dropped, flag ⇔ |z| > 3") {
    import spark.implicits._
    val out = run("ev_anomaly_zscore").collect()
    assert(out.nonEmpty)
    // Exactly the first 12 observations per type are warmup-dropped.
    val hoursPerType = Tables.events(spark, sf)
      .groupBy($"event_type",
        expr("unix_micros(ts) div 3600000000").as("h"))
      .count().groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outPerType = out.groupBy(_.getString(0)).view.mapValues(_.length)
    for ((t, n) <- hoursPerType)
      assert(outPerType.getOrElse(t, 0) === (n - 12).max(0L).toInt, t)
    for (r <- out) {
      val z = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(r.getBoolean(4) === z.exists(v => math.abs(v) > 3.0))
    }
  }

  test("ev_conversion_lag: lag equals first-purchase minus first-view") {
    import spark.implicits._
    val out = run("ev_conversion_lag").collect()
    assert(out.nonEmpty)
    for (r <- out)
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1))
    // Cross-check one user against a direct filter.
    val u = out.head.getLong(0)
    val ev = Tables.events(spark, sf)
      .filter($"user_id" === u)
      .groupBy($"event_type").agg(min(unix_micros($"ts")).as("first"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.head.getLong(1) === ev("view"))
    assert(out.head.getLong(2) === ev("purchase"))
  }

  test("rel_scd2_dimension: contiguous runs, one current, chained validity") {
    val out = run("rel_scd2_dimension").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(7)))
    val byCust = out.groupBy(_._1)
    for ((_, runs0) <- byCust) {
      val runs = runs0.sortBy(_._2)
      assert(runs.map(_._2) === (1L to runs.length).toSeq, "contiguous run ids")
      assert(runs.count(_._6) === 1, "exactly one current run")
      assert(runs.last._6 && runs.last._5.isEmpty, "current = last, open-ended")
      for (Array(a, b) <- runs.sliding(2) if runs.length > 1) {
        assert(a._5.contains(b._4), "valid_to chains to next valid_from")
        assert(a._3 != b._3, "consecutive runs change status")
      }
    }
    // Total orders conserved.
    val n = run("rel_scd2_dimension").agg(sum("n_orders")).head.getLong(0)
    assert(n === Tables.orders(spark, sf).count())
  }

  test("txt_bigram_lm: dense ranks, counts non-increasing, exact p_cond") {
    val out = run("txt_bigram_lm").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6).toInt))
    assert(out.nonEmpty)
    for ((_, rows0) <- out.groupBy(_._1)) {
      val rows = rows0.sortBy(_._7)
      assert(rows.map(_._7) === (1 to rows.length).toSeq)
      assert(rows.length <= 20)
      for (Array(a, b) <- rows.sliding(2) if rows.length > 1)
        assert(a._4 >= b._4, "counts non-increasing in rank")
    }
    for (r <- out) {
      assert(r._5 >= r._4, "left-unigram count covers the bigram")
      assert(r._6 === r._4.toDouble / r._5.toDouble)
    }
  }

  test("ev_markov_transitions: per-row normalization over exact counts") {
    val out = run("ev_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    for ((_, rows) <- out.groupBy(_._1)) {
      val total = rows.head._4
      assert(rows.map(_._3).sum === total, "row_total = sum of cells")
      for (r <- rows) assert(r._5 === r._3.toDouble / total.toDouble)
    }
    // n(prev→cur) summed over all cells = events with a predecessor.
    import spark.implicits._
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(out.map(_._3).sum === nEvents - nUsers)
  }

  test("rel_merge_upsert: changed keys take version 1, others keep 0") {
    import spark.implicits._
    val out = run("rel_merge_upsert").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3)))
    val orders = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.length === orders.size, "one surviving row per key")
    for ((k, price, status, v) <- out) {
      if (k % 10 == 0) {
        assert(v === 1 && status === "U" && price === orders(k) * 2, s"key $k")
      } else {
        assert(v === 0 && price === orders(k), s"key $k")
      }
    }
  }

  test("sim_kmeans_step: 16×64 update table conserving membership") {
    val out = run("sim_kmeans_step").collect()
      .map(r => (r.getLong(0) -> r.getInt(1), r.getLong(2), r.getDouble(3)))
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    assert(out.map(_._1).distinct.length === out.length, "unique (cid,pos)")
    assert(out.map(_._1._2).forall(p => p >= 0 && p < 64))
    // Each component position partitions the corpus across centroids.
    for ((_, rows) <- out.groupBy(_._1._2))
      assert(rows.map(_._2).sum === nVecs, "membership conserved per pos")
  }

  test("ev_rfm_segments: balanced quartiles, segment is the digit triple") {
    val out = run("ev_rfm_segments").collect()
      .map(r => (r.getLong(0), r.getLong(4).toInt, r.getLong(5).toInt,
        r.getLong(6).toInt, r.getString(7)))
    assert(out.nonEmpty)
    for (dim <- Seq[((Long, Int, Int, Int, String)) => Int](_._2, _._3, _._4)) {
      val sizes = out.groupBy(dim).view.mapValues(_.length).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"ntile balance: $sizes")
      assert(out.map(dim).toSet.subsetOf(Set(1, 2, 3, 4)))
    }
    for (r <- out) assert(r._5 === s"${r._2}${r._3}${r._4}")
  }

  test("mm_shard_manifest: greedy byte bin-pack reproduced exactly") {
    val out = run("mm_shard_manifest").collect()
      .map(r => (r.getString(1), r.getLong(4).toInt, r.getLong(0),
        r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    for ((_, rows0) <- out.groupBy(_._1)) {
      val rows = rows0.sortBy(_._2)
      assert(rows.map(_._3) === rows.map(_._3).sorted, "doc order = pos order")
      var cum = 0L
      for (r <- rows) {
        assert(r._5 === cum / 65536L, s"shard of doc ${r._3}")
        cum += r._4
      }
    }
  }

  test("ev_sliding_window_counts: every event covered by exactly 4 windows") {
    import spark.implicits._
    val out = run("ev_sliding_window_counts").collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(out.map(_.getLong(2)).sum === 4 * nEvents)
    // Window starts sit on the 15-minute epoch grid.
    assert(out.forall(_.getLong(0) % 900000000L === 0L))
  }

  test("rel_data_skew_profile: one-row summary with ordered stats") {
    val r = run("rel_data_skew_profile").collect().head
    val (nKeys, total, maxC, minC, median) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(nKeys > 0 && total > 0)
    assert(minC <= median && median <= maxC)
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0, "top_key_share")
    assert(r.getDouble(6) >= 1.0, "skew_ratio")
  }

  test("txt_cdc_chunking: chunk accounting holds per document") {
    val out = run("txt_cdc_chunking").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (chars, bounds, chunks, mean) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(chunks === bounds + 1)
      assert(mean === chars.toDouble / chunks.toDouble)
    }
    // The 64-divisor boundary rate should land near 1/64 of windows.
    val totalChars = out.map(_.getLong(1)).sum
    val totalBounds = out.map(_.getLong(2)).sum
    val rate = totalBounds.toDouble / totalChars.toDouble
    assert(rate > 1.0 / 256 && rate < 1.0 / 16, s"boundary rate $rate")
  }

  test("ev_bot_score: gap accounting and flag threshold") {
    import spark.implicits._
    val out = run("ev_bot_score").collect()
    assert(out.nonEmpty)
    val perUser = Tables.events(spark, sf).groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- out) {
      assert(r.getLong(1) === perUser(r.getLong(0)) - 1, "gaps = events - 1")
      val cv = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(cv.forall(_ >= 0.0))
      assert(r.getBoolean(4) === cv.exists(_ < 0.1))
    }
  }

  test("dedup_verdict: total function over the corpus, one survivor per cluster") {
    val out = run("dedup_verdict").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // Every corpus doc (500 base + every-10th dup + every-7th near-dup
    // at sf0.001) gets a verdict, exactly once.
    val corpusSize = Dedup.corpus(spark, sf).count()
    assert(out.length === corpusSize)
    assert(out.map(_._1).distinct.length === out.length)
    for ((cid, members) <- out.groupBy(_._2)) {
      assert(members.count(_._4) === 1, s"cluster $cid: one survivor")
      assert(members.find(_._4).get._1 === cid, "survivor = min-label root")
      assert(members.forall(_._3 === members.length), "size column consistent")
      assert(members.forall(_._1 >= cid), "cluster id is the minimum member")
    }
    // Construction guarantees real duplicate clusters exist.
    assert(out.exists(r => !r._4), "some docs dropped as duplicates")
  }

  test("sim_knn_graph: 3 in-block neighbors, self excluded, cos ordered") {
    import spark.implicits._
    val out = run("sim_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val blockSizes = labels.groupBy(_._2).view.mapValues(_.size).toMap
    for ((vec, rows0) <- out.groupBy(_._1)) {
      val rows = rows0.sortBy(_._4)
      val expectK = math.min(3, blockSizes(labels(vec)) - 1)
      assert(rows.length === expectK, s"vec $vec")
      assert(rows.forall(_._2 != vec), "no self edge")
      assert(rows.forall(r => labels(r._2) === labels(vec)), "in-block only")
      for (Array(a, b) <- rows.sliding(2) if rows.length > 1)
        assert(a._3 >= b._3, "cosine non-increasing in rank")
    }
  }
}
