package graft.core


import org.scalatest.funsuite.AnyFunSuite

import graft.{SharedSpark, Tables}

class BucketingSpec extends AnyFunSuite with SharedSpark {

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }

  test("aligned bucketed tables join with zero exchanges") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — clear both
    for (t <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val loc = new java.io.File(wh, t)
      if (loc.exists()) rmrf(loc)
    }
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).withColumnRenamed("o_orderkey", "orderkey"),
      "orders_b", "orderkey", buckets = 4)
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "orderkey"),
      "lineitem_b", "orderkey", buckets = 4)
    val joined = Bucketing.bucketedJoin(spark, "lineitem_b", "orders_b", "orderkey")
      .groupBy($"o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    // forbid broadcast so the zero-exchange claim is proven on the
    // sort-merge path (broadcast would trivially skip the shuffle)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle: the only exchange allowed is
      // the final aggregation's
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning(orderkey"),
        s"bucketed join should not re-shuffle on the bucket key:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
    }
    // correctness: equals the unbucketed join
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("range-clustered write produces disjoint per-file ranges that prune") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = tempDir("clustered").toString + "/li"
    Bucketing.writeRangeClustered(
      Tables.lineitem(spark, sf), out, "l_shipdate", partitions = 4)
    // per-file min/max ranges must not overlap (modulo boundary ties:
    // repartitionByRange puts equal keys in one partition, so ranges
    // can touch at most at distinct boundary values)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min($"l_shipdate").as("lo"), max($"l_shipdate").as("hi"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](1),
                 r.getAs[java.time.LocalDateTime](2)))
      .sortBy(_._1.toString)
    assert(ranges.length > 1, "expected multiple output files")
    for (Array((_, hi), (lo, _)) <- ranges.sliding(2))
      assert(!hi.isAfter(lo), s"overlapping file ranges: $hi vs $lo")
    // a selective range filter reads fewer rows than the full scan
    // at the parquet level (min/max row-group stats prune)
    val cutoff = ranges.head._2
    val pruned = spark.read.parquet(out).filter($"l_shipdate" <= cutoff)
    assert(pruned.count() > 0)
    // correctness: clustering is a pure re-layout
    assert(spark.read.parquet(out).count() ==
      Tables.lineitem(spark, sf).count())
  }

  test("partitioned write prunes non-matching directories at scan time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = tempDir("part").toString
    Bucketing.writePartitioned(Tables.documents(spark, sf), out, "lang")
    val read = spark.read.parquet(out).filter($"lang" === "en")
    val formatted = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // The filter lands in PartitionFilters (directory pruning), not in
    // the data filters — non-matching directories are never touched.
    val pf = formatted.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("lang"), formatted.take(800))
    // Only files under lang=en/ are read.
    val files = read.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")))
    // Round trip preserves content.
    assert(spark.read.parquet(out).count() ==
      Tables.documents(spark, sf).count())
  }

  test("dynamic partition pruning injects a runtime filter into the scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = tempDir("dpp").toString
    Bucketing.writePartitioned(Tables.lineitem(spark, sf), out,
      "l_returnflag")
    // Join on the PARTITION column against a dim filtered on a
    // non-join column: the partition values to scan are only known at
    // runtime (from the dim filter), so static pruning can't help —
    // dynamic partition pruning plants a subquery filter in the scan's
    // PartitionFilters and the fact side skips non-matching
    // directories entirely. The 100 TB shape: date-partitioned fact ⋈
    // filtered date dim.
    // Parquet-backed dim: a LocalRelation would constant-fold the
    // filter away and DPP requires a surviving selective predicate.
    val dimPath = tempDir("dpp_dim").toString + "/dim"
    Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
      .toDF("flag", "label").write.mode("overwrite").parquet(dimPath)
    // No input_file_name() here: it is nondeterministic and would
    // break the PhysicalOperation pattern the pruning rule matches.
    val joined = spark.read.parquet(out)
      .join(spark.read.parquet(dimPath).filter($"label" === "returned"),
        $"l_returnflag" === $"flag")
    val formatted = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("dynamicpruning"), formatted.take(1500))
    // Execute and read the fact scan's metrics: of the 3 partition
    // directories only l_returnflag=R is listed and read.
    joined.collect()
    // AQE wraps subtrees in QueryStageExec leaves; recurse into them.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val factScan = scans(finalPlan)
      .find(_.output.exists(_.name == "l_orderkey")).get
    assert(factScan.metrics("numPartitions").value == 1,
      factScan.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", "))
  }

  test("z-ordered write concentrates range filters on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = tempDir("zorder").toString + "/grid"
    // 256×256 grid: every (x, y) pair once.
    val grid = spark.range(0, 65536L)
      .select(($"id" % 256).cast("int").as("x"),
              ($"id" / 256).cast("int").as("y"))
    Bucketing.writeZOrdered(grid, out, "x", "y",
      partitions = 16, bits = 8)

    def filesTouched(cond: org.apache.spark.sql.Column): Int =
      spark.read.parquet(out).filter(cond)
        .select(input_file_name()).distinct().count().toInt

    val total = spark.read.parquet(out)
      .select(input_file_name()).distinct().count().toInt
    assert(total >= 12, s"expected ~16 files, got $total")
    // A quarter-range filter on EITHER dimension touches roughly a
    // quarter of the files (plus sampling-boundary slack) — a
    // single-column sort would concentrate x but spray y over every
    // file. 65536 rows / 16 files and x < 64 selects 16384 rows: in
    // row-count terms a perfect quarter; 8 of 16 files is still a
    // 2× scan cut on the non-leading dimension.
    // Bound is 2/3 rather than the theoretical 1/4: range-partitioner
    // SAMPLING draws the file boundaries, so a quarter-filter can leak
    // into a few extra files run-to-run — the claim pinned here is
    // concentration on BOTH dimensions (a single-column sort sprays
    // the non-leading dimension across ALL files).
    val xFiles = filesTouched($"x" < 64)
    val yFiles = filesTouched($"y" < 64)
    assert(xFiles <= total * 2 / 3, s"x-filter touched $xFiles of $total files")
    assert(yFiles <= total * 2 / 3, s"y-filter touched $yFiles of $total files")
    // Correctness: pure re-layout.
    assert(spark.read.parquet(out).count() == 65536L)
    assert(filesTouched($"x" < 64 && $"y" < 64) <= total * 2 / 3)
  }

  test("schema evolution: mergeSchema unions columns across file vintages") {
    // The lakehouse reality a long-lived table accumulates: files
    // written before a column existed must read as null alongside
    // newer files, and the merged schema must be the union. (Default
    // reads use the FIRST file's schema for speed — mergeSchema is
    // the documented opt-in.)
    import spark.implicits._
    val dir = tempDir("evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/vintage=1")
    Seq((3L, "c", 99L), (4L, "d", 100L)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(s"$dir/vintage=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "score", "vintage"))
    val rows = merged.select($"id", $"score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(rows(1L).isEmpty && rows(3L).contains(99L),
      "old files read the new column as null")
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    // The incremental-reload contract: INSERT OVERWRITE of one day
    // must not clobber sibling partitions (static mode wipes the
    // whole table root — the classic data-loss misconfiguration).
    import spark.implicits._
    val dir = tempDir("dpo").toString
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
        .toDF("v", "day")
        .write.partitionBy("day").mode("overwrite").parquet(dir)
      // Rewrite ONLY day=2024-01-02 with corrected data.
      Seq((20L, "2024-01-02")).toDF("v", "day")
        .write.partitionBy("day").mode("overwrite").parquet(dir)
      // partition values type-infer to DATE on read — compare as text
      val got = spark.read.parquet(dir)
        .collect().map(r => r.get(1).toString -> r.getLong(0)).toMap
      assert(got == Map("2024-01-01" -> 1L, "2024-01-02" -> 20L),
        s"sibling partition must survive: $got")
    }
  }
}
