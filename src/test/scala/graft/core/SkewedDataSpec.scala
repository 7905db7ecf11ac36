package graft.core


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Round-4 verdict item 7: the driver testdata is uniform, so the
  * skew machinery (Joins.saltedJoin, AQE skew-join) existed but
  * never engaged on realistic input. SyntheticGen's skew arm plants
  * a hot key carrying 30% of the mass; this spec pins that BOTH
  * mitigation paths actually engage on that input AND return results
  * identical to the plain join — mitigation must never change
  * semantics.
  */
class SkewedDataSpec extends AnyFunSuite with SharedSpark {

  /** Skewed corpus: sf 0.02, 30% of o_custkey / l_suppkey /
    * events.user_id on hot key 0 (orders=30k so the hot shuffle
    * partition clears AQE's byte threshold). */
  lazy val dir: String = {
    val d = tempDir("skewed_sf").toString
    graft.SyntheticGen.generate(spark, d, 0.02, skewHot = 0.3)
    d
  }

  private def orders = spark.read.parquet(s"$dir/orders.parquet")
  private def customer = spark.read.parquet(s"$dir/customer.parquet")

  /** Order-free multiset digest: count + sum of row hashes + exact
    * decimal total (catches dropped AND duplicated rows). */
  private def digest(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(
      count(lit(1)).as("n"),
      // decimal sum: a long sum of ~1e5 full-range hashes overflows
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"),
      sum(col("o_totalprice").cast("decimal(27,2)")).as("tp"))
      .collect().head
    (r.getLong(0), r.getDecimal(1).toBigInteger.longValue(), r.getDecimal(2))
  }

  test("generator skew arm: hot key holds ~30% of orders") {
    val hot = orders.filter(col("o_custkey") === 0).count()
    val n = orders.count()
    assert(n >= 29000, s"expected ~30k orders, got $n")
    assert(hot > n * 25 / 100 && hot < n * 35 / 100,
      s"hot key carries $hot of $n")
  }

  test("saltedJoin engages on the hot key (salt spreads it evenly, " +
       "plan replicates via Generate) and matches the plain join " +
       "exactly") {
    val right = customer
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val plain = orders.join(right, "o_custkey")
    val salted = Joins.saltedJoin(orders, right, "o_custkey")
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), "salt replication must be an explode")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(400))
    assert(digest(salted) == digest(plain),
      "salting changed the join result")
    // the hot key's rows actually spread across the salt space:
    // recompute the salt exactly as saltedJoin derives it
    val factor = 8
    val saltCounts = orders.filter(col("o_custkey") === 0)
      .withColumn("__salt",
        pmod(xxhash64(struct(orders.columns.map(col): _*)), lit(factor)))
      .groupBy(col("__salt")).count()
      .collect().map(_.getLong(1))
    assert(saltCounts.length == factor,
      s"hot key hit ${saltCounts.length}/$factor salts")
    assert(saltCounts.max < 2L * saltCounts.min,
      s"salt imbalance on the hot key: ${saltCounts.mkString(",")}")
  }

  test("AQE splits the hot partition of the skewed sort-merge join " +
       "at runtime, result identical to the static plan") {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    def run(): (String, (Long, java.math.BigDecimal)) = {
      // global aggregate (no regroup on the join key) so the skew
      // rule is free to split — same shape AqeSpec documents.
      // Bind both sides to vals: `orders`/`customer` are defs, and
      // column refs taken from a SECOND instantiation don't resolve
      // against the first.
      val o = orders; val c = customer
      val j = o.join(c, o("o_custkey") === c("c_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(27,2)")).as("tp"))
      val rows = j.collect().head
      val plan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      (plan, (rows.getLong(0), rows.getDecimal(1)))
    }
    val (skewPlan, skewResult) = withConf(confs: _*)(run())
    assert(skewPlan.contains("skew=true") || skewPlan.contains("skewed"),
      s"AQE did not split the hot partition:\n${skewPlan.take(1200)}")
    val (_, plainResult) = withConf(confs: _*) {
      withConf("spark.sql.adaptive.enabled" -> "false")(run())
    }
    assert(skewResult == plainResult,
      "skew split changed the join result")
  }
}
