package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, SparkEntry}

/** Semantic pins + partition-count invariance for the round-5
  * incremental/measurement wave (dedup_incremental,
  * rel_zone_map_prune, ev_factorial_interaction).
  */
class Round12Spec extends AnyFunSuite with SharedSpark {

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  // -------------------------------------------------------------------
  test("incremental dedup: planted exact copies are exact_dup, " +
       "planted near copies mostly resolve, new docs exist, " +
       "verdicts partition the batch") {
    val rows = run("dedup_incremental", sf01).collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.size == rows.length, "one verdict per batch doc")
    // Every planted exact copy (+100000, base always ends in 0 so the
    // base is in history) must be caught by the hash probe, and its
    // match must be a history doc no larger than the base.
    val exacts = rows.filter(r => r.getAs[Long]("doc_id") >= 100000L &&
      r.getAs[Long]("doc_id") < 200000L)
    assert(exacts.nonEmpty)
    for (r <- exacts) {
      assert(r.getAs[String]("verdict") == "exact_dup",
        s"planted copy ${r.getAs[Long]("doc_id")} missed")
      val m = r.getAs[Long]("matched_id")
      assert(m < 100000L && m % 10 != 9 &&
        m <= r.getAs[Long]("doc_id") - 100000L)
    }
    // Planted near copies (+200000, " xtra" appended) whose base is
    // in history: the 2-band/4-hash MinHash probe should catch most.
    val nears = rows.filter { r =>
      val id = r.getAs[Long]("doc_id")
      id >= 200000L && (id - 200000L) % 10 != 9
    }
    assert(nears.nonEmpty)
    val caught = nears.count(_.getAs[String]("verdict") != "new")
    assert(caught * 2 > nears.length,
      s"only $caught of ${nears.length} planted near copies caught")
    // Held-out naturals include genuinely new documents.
    assert(rows.exists(_.getAs[String]("verdict") == "new"))
    for (r <- rows if r.getAs[String]("verdict") == "new")
      assert(r.getAs[Long]("matched_id") == -1L)
  }

  // -------------------------------------------------------------------
  test("zone-map pruning: a 64-wide window touches at most 2x2 " +
       "Z-tiles, the aligned query exactly one, and Z never scans " +
       "more than the linear layout") {
    val rows = run("rel_zone_map_prune", sf01).collect()
    assert(rows.length == 16)
    for (r <- rows) {
      assert(r.getAs[Long]("touched_z") <= 4L,
        s"qid ${r.getAs[Long]("qid")} touched ${r.getAs[Long]("touched_z")}")
      assert(r.getAs[Long]("touched_z") <= r.getAs[Long]("touched_lin"))
      assert(r.getAs[Long]("rows_z") <= r.getAs[Long]("rows_lin"))
    }
    val aligned = rows.find(_.getAs[Long]("qid") == 0L).get
    assert(aligned.getAs[Long]("touched_z") == 1L,
      "the 64-aligned window must land in exactly one Z tile")
  }

  // -------------------------------------------------------------------
  test("factorial readout: contrasts replay from the cell means, " +
       "cells conserve the event count and stay roughly balanced") {
    val rows = run("ev_factorial_interaction", sf01).collect()
    assert(rows.nonEmpty)
    val totals = graft.Tables.events(spark, sf01)
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count"))
      .toMap
    for (r <- rows) {
      val ns = Seq("n00", "n01", "n10", "n11").map(r.getAs[Long])
      val ms = Seq("m00", "m01", "m10", "m11").map(r.getAs[Long])
      assert(ns.sum == totals(r.getAs[String]("event_type")))
      // independent salts: no cell below 10% of the type's events
      assert(ns.forall(_ * 10 >= ns.sum),
        s"cells unbalanced: ${ns.mkString(",")}")
      val Seq(m00, m01, m10, m11) = ms
      assert(r.getAs[Long]("main_a_micro") == ((m11 + m10) - (m01 + m00)) / 2)
      assert(r.getAs[Long]("main_b_micro") == ((m11 + m01) - (m10 + m00)) / 2)
      assert(r.getAs[Long]("interaction_micro") == m11 - m10 - m01 + m00)
    }
  }

  // -------------------------------------------------------------------
  test("round-5 incremental wave results are bit-identical under 4 " +
       "and 7 shuffle partitions") {
    val queries = Seq("dedup_incremental" -> sf001,
      "rel_zone_map_prune" -> sf001, "ev_factorial_interaction" -> sf001)
    assertPartitionInvariant(queries)
  }
}
