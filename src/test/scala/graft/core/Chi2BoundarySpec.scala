package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Overflow-boundary pin for rel_chi2_independence's per-cell term
  * (ADVICE round 4): the registered expression squares o·n − r·c,
  * which leaves int64 once n ≳ 10⁴ — the 128-bit DECIMAL(38,0)
  * form must stay EXACT (verified against BigInt arithmetic) at
  * contingency sizes two orders of magnitude past the int64
  * breaking point, and must agree with the int64 form inside its
  * old safe range.
  */
class Chi2BoundarySpec extends AnyFunSuite with SharedSpark {

  /** The registered cell expression, evaluated over literal margins. */
  private def sparkTerms(cells: Seq[(Long, Long, Long, Long)]): Seq[Long] = {
    import spark.implicits._
    cells.toDF("o", "r", "c", "n")
      .withColumn("term_milli", expr(Advanced.chi2TermMilliSql))
      .orderBy($"o", $"r", $"c")
      .collect().map(_.getAs[Long]("term_milli")).toSeq
  }

  private def bigIntTerm(o: Long, r: Long, c: Long, n: Long): Long = {
    val d = BigInt(o) * n - BigInt(r) * c
    ((d * d * 1000) / (BigInt(r) * c * n)).toLong
  }

  test("cell term is BigInt-exact at n = 2e6 — ~100x past the int64 " +
       "overflow boundary of the squared numerator") {
    // 2x2 contingency at n = 2,000,000: d = o*n - r*c reaches 1e11,
    // d^2 * 1000 = 1e25 >> Long.MaxValue (9.2e18) — the int64 form
    // would wrap (or throw under ANSI); the decimal form must not.
    val n = 2000000L
    val cells = Seq(
      (600000L, 1000000L, 1100000L, n),
      (400000L, 1000000L, 900000L, n),
      (500000L, 1000000L, 1100000L, n),
      (500000L, 1000000L, 900000L, n))
    val expected = cells.sortBy(t => (t._1, t._2, t._3))
      .map { case (o, r, c, nn) => bigIntTerm(o, r, c, nn) }
    // prove the test exercises the overflow region
    val dMax = cells.map { case (o, r, c, nn) =>
      (BigInt(o) * nn - BigInt(r) * c).abs }.max
    assert(dMax * dMax * 1000 > BigInt(Long.MaxValue),
      s"test cells too small to exercise the boundary: d=$dMax")
    assert(sparkTerms(cells) == expected)
    assert(expected.exists(_ > 0L), "degenerate all-zero statistic")
  }

  test("cell term matches the old int64 formula inside its safe range") {
    val cells = Seq((37L, 120L, 260L, 1500L), (83L, 140L, 260L, 1500L),
      (1L, 120L, 1240L, 1500L))
    val viaInt64 = cells.map { case (o, r, c, n) =>
      ((o * n - r * c) * (o * n - r * c) * 1000L) / (r * c * n)
    }
    assert(sparkTerms(cells) ==
      cells.sortBy(t => (t._1, t._2, t._3)).map { case (o, r, c, n) =>
        bigIntTerm(o, r, c, n) })
    assert(viaInt64.sorted ==
      cells.map { case (o, r, c, n) => bigIntTerm(o, r, c, n) }.sorted)
  }

  test("registered query still yields a positive statistic and " +
       "plausible dof on testdata") {
    val r = graft.SparkEntry.queries("rel_chi2_independence")(
      spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("chi2_milli") >= 0L)
    assert(r.head.getAs[Long]("dof") > 0L)
  }
}
