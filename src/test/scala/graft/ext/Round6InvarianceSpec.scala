package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Round-6 invariance pins. Same contract as the earlier
  * *InvarianceSpec suites: identical row multisets under different
  * shuffle-partition counts — the determinism the single-config
  * DuckDB oracle gate cannot see. Focus: the queries whose plans
  * round 6 touched (integer-div packers, octet-length multimodal
  * costs, inner-asof alignment, explicit one-row broadcasts) and the
  * new distributed prefix-sum path under txt_vocab_growth.
  */
class Round6InvarianceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private val queries = Seq(
    "txt_vocab_growth", "txt_pack_batches", "txt_pack_efficiency",
    "mm_modality_pack", "mm_av_align", "gr_triangle_count",
    "ev_changepoint_cusum", "txt_mixture_weights", "sim_pq_adc_topk")

  test("round-6-touched results are bit-identical under 4 and 7 " +
       "shuffle partitions") {
    assertPartitionInvariant(queries.map(_ -> sf))
  }

  test("Ranking.runningSums equals the single-partition window on a " +
       "skewed frame, at any partitioning, including empty input") {
    import spark.implicits._
    val df = (1L to 997L).map(i => (i, i % 13, (i * i) % 7))
      .toDF("k", "a", "b")
    val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val expected = df
      .withColumn("ca", sum($"a").over(w))
      .withColumn("cb", sum($"b").over(w))
      .collect().map(_.toString).sorted.toSeq
    for (p <- Seq(1, 3, 11)) {
      val got = graft.core.Ranking.runningSums(
          df.repartition(p), Seq($"k"), Seq("a" -> "ca", "b" -> "cb"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == expected, s"runningSums diverges at input parts=$p")
    }
    val empty = graft.core.Ranking.runningSums(
      df.filter($"k" < 0), Seq($"k"), Seq("a" -> "ca"))
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq == Seq("k", "a", "b", "ca"))
  }
}
