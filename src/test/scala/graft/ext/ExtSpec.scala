package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

class ExtSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("every registered query runs at sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, name)
    }
  }

  test("entry smoke returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys with aligned columns") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }

  test("ANN LSH: bucketed neighbors are a subset of corpus, with sane recall") {
    import spark.implicits._
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.nonEmpty, "ANN returned no neighbors")
    // Same-bucket neighbors found by ANN that also rank in the exact
    // top-5 — random data gives partial recall; require overlap > 0.
    assert(approx.intersect(exact).nonEmpty,
      "ANN found no overlap with exact top-k")
  }

  test("dedup finds the constructed duplicates") {
    val exact = SparkEntry.queries("dedup_exact")(spark, sf).collect()
    assert(exact.length == 50, "every 10th of 500 docs duplicated")
    assert(exact.forall(_.getLong(2) == 2))
    val jacc = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup copies (d, d+200000) must be found for every 7th doc
    val expectedNear = (0L until 500L by 7L).map(d => (d, d + 200000L)).toSet
    assert(expectedNear.subsetOf(jacc),
      s"missing near-dup pairs: ${expectedNear.diff(jacc).take(5)}")
    // exact copies share all grams → jaccard 1.0 → also caught
    val expectedExact = (0L until 500L by 10L).map(d => (d, d + 100000L)).toSet
    assert(expectedExact.subsetOf(jacc))
  }

  test("minhash/LSH: identical docs share signatures and candidate pairs") {
    val sig = SparkEntry.queries("dedup_minhash_sig")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for (d <- 0L until 500L by 10L)
      assert(sig(d) == sig(d + 100000L), s"exact copy $d signature")
    val pairs = SparkEntry.queries("dedup_lsh_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedExact = (0L until 500L by 10L).map(d => (d, d + 100000L)).toSet
    assert(expectedExact.subsetOf(pairs),
      s"missing exact-dup LSH pairs: ${expectedExact.diff(pairs).take(5)}")
  }

  test("simhash: exact duplicates collide, near-duplicates are close") {
    val sh = SparkEntry.queries("dedup_simhash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (d <- 0L until 500L by 10L)
      assert(sh(d) == sh(d + 100000L), s"exact copy $d")
    val hamming = (0L until 500L by 7L).map { d =>
      java.lang.Long.bitCount(sh(d) ^ sh(d + 200000L))
    }
    assert(hamming.sum.toDouble / hamming.size <= 2.0,
      s"near-dup mean hamming too high: ${hamming.sum.toDouble / hamming.size}")
  }

  test("dedup_cc: labels are transitive component minima") {
    import spark.implicits._
    val cc = SparkEntry.queries("dedup_cc")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Every doc in a pair got a label, and the label is itself a member
    // whose label is itself (a canonical root).
    val pairs = SparkEntry.queries("dedup_lsh_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((a, b) <- pairs) {
      assert(cc(a) == cc(b), s"pair ($a,$b) split across clusters")
      assert(cc(a) <= math.min(a, b), "label above a member id")
      assert(cc(cc(a)) == cc(a), "cluster id is not a root")
    }
    // Exact copies d ~ d+100000 and near-dups d ~ d+200000 overlap on
    // every 70th doc — those chains must collapse into one cluster.
    for (d <- 0L until 500L by 70L)
      assert(cc(d) == cc(d + 100000L) && cc(d) == cc(d + 200000L),
        s"chain through $d not merged")
  }

  test("txt_split_hash: deterministic, complete, roughly 80/10/10") {
    val rows = SparkEntry.queries("txt_split_hash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2))
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    val byS = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byS("train") > 350 && byS("train") < 450, byS.toString)
    assert(byS.values.sum == 500)
    // stable across re-evaluation
    val again = SparkEntry.queries("txt_split_hash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("txt_pack_batches: batches respect the token budget shape") {
    val rows = SparkEntry.queries("txt_pack_batches")(spark, sf)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    // Within each language, batch ids are nondecreasing in doc order and
    // the exclusive running sum ahead of each doc's batch start stays
    // under the budget.
    for ((_, docs) <- rows.groupBy(_._1)) {
      val sorted = docs.sortBy(_._2)
      var cum = 0L
      for ((_, _, nTok, batch) <- sorted) {
        assert(batch == cum / 2000, s"batch id mismatch at cum=$cum")
        cum += nTok
      }
    }
  }

  test("ev_funnel: stages are consistent with timestamps") {
    val rows = SparkEntry.queries("ev_funnel")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (t1, t2, t3) = (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))
      val stage = r.getInt(4)
      assert(t1 != null)
      assert((t2 != null) == (stage >= 2))
      assert((t3 != null) == (stage == 3))
      if (t2 != null) assert(t2.after(t1))
      if (t3 != null) assert(t3.after(t2))
    }
    assert(rows.exists(_.getInt(4) == 3), "no user completed the funnel")
  }

  test("multimodal decode is deterministic and batch-size independent") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val a = Multimodal.decodeFeatures(media, batchSize = 64)
      .collect().sortBy(_.doc_id).toSeq
    val b = Multimodal.decodeFeatures(media, batchSize = 7)
      .collect().sortBy(_.doc_id).toSeq
    assert(a == b)
    assert(a.forall(f => f.byte_len > 0 && f.width >= 16 && f.height >= 16))
    assert(a.exists(_.n_frames > 1), "video rows should have frames")
  }
}
