package graft.core

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The two-level skyline: the local strict-dominance pre-filter must
  * never change the answer (dominance is transitive, so locally-
  * dominated ⇒ globally dominated) while shrinking the set the
  * global window sees.
  */
class SkylineSpec extends AnyFunSuite with SharedSpark {

  /** The direct single-window formulation as the reference. */
  private def direct(points: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val wp = Window.partitionBy($"price").orderBy($"size".desc)
    val w = Window.orderBy($"price").rowsBetween(Window.unboundedPreceding, -1)
    points
      .withColumn("rk", row_number().over(wp))
      .filter($"rk" === 1).drop("rk")
      .withColumn("m", max($"size").over(w))
      .filter($"m".isNull || $"size" > $"m")
      .select($"price", $"size", $"n_parts")
  }

  test("pre-filtered frontier equals the direct one on random data") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(500)((math.floor(rng.nextDouble() * 100) / 4.0,
        rng.nextInt(40), 1L))
      .distinct.map { case (p, s, _) => (p, s) }.distinct
      .map { case (p, s) => (p, s, 1L + (p * s).toLong % 3) }
    for (parts <- Seq(1, 3, 8)) {
      val df = pts.toDF("price", "size", "n_parts").repartition(parts)
      val a = Skyline.paretoFrontier(df).collect()
        .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSet
      val b = direct(df).collect()
        .map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSet
      assert(a == b, s"mismatch at $parts partitions")
      assert(a.nonEmpty)
    }
  }

  test("frontier properties: size strictly rises with price") {
    import spark.implicits._
    val pts = Seq((1.0, 5), (1.0, 9), (2.0, 9), (2.0, 12), (3.0, 11),
      (3.0, 1), (0.5, 2), (4.0, 13)).map { case (p, s) => (p, s, 1L) }
    val out = Skyline.paretoFrontier(pts.toDF("price", "size", "n_parts"))
      .collect().map(r => (r.getDouble(0), r.getInt(1))).sortBy(_._1)
    assert(out.toSeq == Seq((0.5, 2), (1.0, 9), (2.0, 12), (4.0, 13)))
  }
}
