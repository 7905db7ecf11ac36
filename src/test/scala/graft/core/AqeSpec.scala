package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Adaptive Query Execution behaviors the 100 TB posture leans on,
  * pinned on constructed data: runtime skew-join splitting (the
  * no-code-change complement to Joins.saltedJoin) and small-partition
  * coalescing (keeps task count proportional to data, not to the
  * static shuffle.partitions).
  */
class AqeSpec extends AnyFunSuite with SharedSpark {

  /** Every shape here runs through an 8-partition shuffle. */
  private val Parts8 = "spark.sql.shuffle.partitions" -> "8"

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    val skewDir = Files.createTempDirectory("aqe_skew").toString
    val dimDir = Files.createTempDirectory("aqe_dim").toString
    // 200k rows on ONE key + a thin tail: one shuffle partition dwarfs
    // the median, the AQE skew rule splits it into parallel subtasks.
    // The md5 payload is incompressible and aggregated downstream, so
    // column pruning can't shrink the skewed partition below the
    // detection threshold (a constant key column alone compresses to
    // nearly nothing).
    spark.range(0, 200000L)
      .select(lit(1L).as("k"), md5($"id".cast("string")).as("payload"))
      .unionByName(spark.range(0, 2000L)
        .select(($"id" % 64 + 2).as("k"),
          md5($"id".cast("string")).as("payload")))
      .write.mode("overwrite").parquet(skewDir)
    spark.range(0, 66L).select($"id".as("k"), ($"id" * 10).as("attr"))
      .write.mode("overwrite").parquet(dimDir)

    withConf(Parts8,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // Global aggregate, NOT groupBy(k): a regrouping on the join key
      // would need the join's hash partitioning, and the skew rule
      // refuses splits that force an extra downstream shuffle.
      val joined = spark.read.parquet(skewDir)
        .join(spark.read.parquet(dimDir), "k")
        .agg(count(lit(1)).as("n"), max($"payload").as("max_payload"))
      val plan = finalPlan(joined)
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"expected a skew-split join in the final adaptive plan:\n$plan")
    }
  }

  test("AQE coalesces near-empty shuffle partitions") {
    import spark.implicits._
    withConf(Parts8,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
      // 100 tiny groups through an 8-partition shuffle: AQE folds the
      // near-empty outputs together instead of launching 8 reduce tasks.
      val tiny = spark.range(0, 100L)
        .groupBy(($"id" % 100).as("g")).agg(count(lit(1)).as("n"))
      val plan = finalPlan(tiny)
      assert(plan.contains("coalesced") || plan.contains("AQEShuffleRead"),
        s"expected a coalesced AQE shuffle read:\n$plan")
    }
  }

  test("AQE upgrades a sort-merge join to broadcast at runtime") {
    import spark.implicits._
    val factDir = Files.createTempDirectory("aqe_fact").toString
    val dimDir = Files.createTempDirectory("aqe_dim2").toString
    spark.range(0, 50000L)
      .select(($"id" % 1000).as("k"), md5($"id".cast("string")).as("payload"))
      .write.mode("overwrite").parquet(factDir)
    // Dim is large on disk (static plan: sort-merge) but a selective
    // filter leaves a handful of rows at runtime — exactly the case
    // where per-stage runtime statistics beat static estimates, and
    // the join flips to broadcast after the filter's shuffle stage
    // materializes.
    spark.range(0, 200000L)
      .select($"id".as("k"), md5($"id".cast("string")).as("attr"))
      .write.mode("overwrite").parquet(dimDir)
    withConf(Parts8,
      "spark.sql.adaptive.enabled" -> "true",
      // Small static threshold so the STATIC plan picks sort-merge...
      "spark.sql.autoBroadcastJoinThreshold" -> "32KB") {
      // ...the dim side shrinks through an aggregation (its output
      // stats become known when the stage finishes), and AQE replans
      // the join as broadcast.
      val smallDim = spark.read.parquet(dimDir)
        .groupBy($"k").agg(max($"attr").as("attr"))
        .filter($"k" < 20)
      val joined = spark.read.parquet(factDir)
        .join(smallDim, "k")
        .agg(count(lit(1)).as("n"))
      val plan = finalPlan(joined)
      assert(plan.contains("BroadcastHashJoin"),
        s"expected a runtime broadcast upgrade:\n$plan")
    }
  }
}
