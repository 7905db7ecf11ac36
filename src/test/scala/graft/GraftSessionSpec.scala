package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-engine rule: the shared test session is the engine
  * the mains verify and time, whichever suite happens to create it,
  * and no other code under src/ builds a session of its own. Also
  * guards the one-reader rule: engine code reads parquet only through
  * [[Tables.parquet]], whose schema memo keeps inference jobs out of
  * query construction. And no plan is chosen from the core count or
  * the planned split count: a result never depends on the host. CSV
  * leaves the engine only through the per-document sink.
  */
class GraftSessionSpec extends AnyFunSuite with SharedSpark {

  test("the shared session carries the GraftExtensions functions and rules") {
    for (fn <- Seq("farm_starts_with_name_native",
                   "farm_is_numeric_token_native", "mode_det",
                   "approx_top_k_ss", "top_k_pairs"))
      assert(spark.catalog.functionExists(fn), s"$fn is not injected")
    // The planning tracker records every rule the optimizer ran.
    val qe = spark.range(1).toDF("id").queryExecution
    qe.optimizedPlan
    val ran = qe.tracker.rules.keySet
    for (rule <- Seq("graft.plans.RangeBinJoinRule",
                     "graft.plans.LevenshteinThresholdRule"))
      assert(ran.contains(rule), s"$rule is not installed")
  }

  test("GraftSession.create sets the engine conf the benchmark expects") {
    val conf = spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false",
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val diff = expected.filter { case (k, v) => !conf.get(k).contains(v) }
      .map { case (k, v) => s"$k: want $v, got ${conf.get(k)}" }
    assert(diff.isEmpty, diff.mkString("; "))
  }

  /** Scala files under `root`, other than `allowed`, that contain `needle`. */
  private def offenders(root: String, needle: String, allowed: String*): Seq[String] = {
    val stream = Files.walk(Paths.get(root))
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed.contains(p.getFileName.toString))
      .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .contains(needle))
      .map(_.toString).toSeq.sorted
    finally stream.close()
  }

  test("no source file outside GraftSession.scala builds a SparkSession") {
    val found = offenders("src", "SparkSession" + ".builder", "GraftSession.scala")
    assert(found.isEmpty,
      s"build the session with GraftSession.create instead: ${found.mkString(", ")}")
  }

  test("no main source file outside Tables.scala reads parquet directly") {
    val found = offenders("src/main", ".read" + ".parquet(", "Tables.scala")
    assert(found.isEmpty,
      s"read parquet through Tables.parquet instead: ${found.mkString(", ")}")
  }

  test("no main source file outside CsvSink.scala writes CSV through Spark's writer") {
    val found = Seq(".csv" + "(", "format(\"csv\")")
      .flatMap(offenders("src/main", _, "CsvSink.scala")).distinct
    assert(found.isEmpty,
      s"write per-document CSV through graft.sources.CsvSink: ${found.mkString(", ")}")
  }

  test("no main source file plans from the core count or the split count") {
    val found = Seq("defaultParallelism", "getNumPartitions")
      .flatMap(offenders("src/main", _))
    assert(found.isEmpty,
      s"let the input decide the partitioning: ${found.mkString(", ")}")
  }
}
