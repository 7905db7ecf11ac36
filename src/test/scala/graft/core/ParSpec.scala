package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Par.fan contract: repartition ONLY when the source is
  * split-starved, identity otherwise, values unchanged either way. */
class ParSpec extends AnyFunSuite with SharedSpark {

  test("fan repartitions a split-starved frame to default parallelism") {
    import spark.implicits._
    val one = spark.range(0, 1000).coalesce(1).toDF("id")
    assert(one.rdd.getNumPartitions == 1)
    val fanned = Par.fan(one, $"id")
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // values unchanged (hash repartition is a pure reshuffle)
    assert(fanned.as[Long].collect().sorted.toSeq == (0L until 1000L))
  }

  test("fan is the identity when the scan already covers the cores") {
    import spark.implicits._
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism).toDF("id")
    val out = Par.fan(wide, $"id")
    assert(out eq wide, "no extra exchange on a well-split source")
  }

  test("fan stays deterministic under re-evaluation (hash keys, " +
       "not round-robin)") {
    import spark.implicits._
    val one = spark.range(0, 512).coalesce(1).toDF("id")
    val a = Par.fan(one, $"id").rdd
      .mapPartitionsWithIndex((i, it) => it.map(r => (i, r.getLong(0))))
      .collect().toSet
    val b = Par.fan(one, $"id").rdd
      .mapPartitionsWithIndex((i, it) => it.map(r => (i, r.getLong(0))))
      .collect().toSet
    assert(a == b, "row→partition assignment must be replay-stable")
  }
}
