package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Partition-count invariance + semantic pins for the round-4
  * additions (same contract as [[Session4InvarianceSpec]]), plus the
  * bucket-boundary equivalence proof for the bucketed sequence-gap
  * scan — the one property sf-dir testdata cannot exercise (its keys
  * all land in bucket 0).
  */
class Round7InvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "rel_sequence_gaps", "ev_rfm_segments", "rel_decile_lift",
    "rel_approx_distinct", "rel_approx_percentiles", "rel_hll_rollup",
    "mm_decode_features", "rel_price_deciles")

  test("results are bit-identical under 4 and 7 shuffle partitions") {
    // rel_sequence_gaps is legitimately empty at sf0.001 (no
    // orderkeys in its sampled slice); its content is pinned by the
    // synthetic bucket-boundary test below.
    assertPartitionInvariant(queries.map(_ -> sf),
      mayBeEmpty = Set("rel_sequence_gaps"))
  }

  test("bucketed sequence gaps equal the naive global lead across " +
       "bucket boundaries and empty-bucket runs") {
    import spark.implicits._
    // Keys engineered around the bucket edges for width 8: gaps
    // inside a bucket, a gap exactly spanning one boundary, a gap
    // spanning SEVERAL entirely-empty buckets, and a trailing key.
    val keys = Seq(1L, 2L, 5L, 7L, 8L, 9L, 15L, 17L, 63L, 64L, 200L)
      .toDF("k")
    val got = graft.core.Lifecycle.sequenceGaps(keys, bucketWidth = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
    val naive = keys
      .withColumn("next_k", lead($"k", 1).over(w))
      .filter($"next_k" > $"k" + 1)
      .select(($"k" + 1).as("s"), ($"next_k" - 1).as("e"),
        ($"next_k" - $"k" - 1).as("wd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == naive, s"bucketed $got vs naive $naive")
    // sanity on the constructed cases themselves
    assert(got.contains((10L, 14L, 5L)), "boundary-adjacent gap")
    assert(got.contains((18L, 62L, 45L)), "multi-empty-bucket gap")
    assert(got.contains((65L, 199L, 135L)), "long tail gap")
  }

  test("exactNtile matches the window ntile formula, remainder to the " +
       "front, at several totals and partition counts") {
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    // totals chosen to exercise r = 0, r > 0, and total < n
    for (total <- Seq(3, 20, 23, 40); parts <- Seq(1, 3, 7)) {
      val df = (1 to total).map(i => (i * 37 % 100, i.toLong))
        .toDF("v", "id").repartition(parts)
      val viaWindow = df
        .withColumn("t", ntile(4).over(W.orderBy($"v", $"id")).cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      val viaRanking = graft.core.Ranking
        .exactNtile(df, 4, Seq($"v", $"id"), out = "t")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(viaWindow == viaRanking,
        s"total=$total parts=$parts: distributed ntile diverges")
    }
  }
}
