package graft

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, LongType, StringType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Frame, Store}

/** [[Tables.parquet]]'s metadata memo: a warm read starts no job, a
  * table rewritten in place is read afresh, `events` still adapts to
  * its timestamp vintage, and the memoized read plans as Spark's own
  * (ids renumbered as in PLANS.md).
  */
class TablesSpec extends AnyFunSuite with SharedSpark {

  /** Jobs started while `body` runs. The bus is drained before and
    * after, so only `body`'s jobs are counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try { body; BusDrain(sc); n.get }
    finally sc.removeSparkListener(listener)
  }

  private def sfDir(): String = tempDir("graft-tables-spec").toString

  test("a second Tables.apply on one path starts no job") {
    val dir = sfDir()
    spark.range(10).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobsDuring(Tables(spark, dir, "t")) >= 1, "the first read infers")
    assert(jobsDuring(Tables(spark, dir, "t")) === 0)
  }

  test("a second Store.read of one frame starts no job") {
    val dir = sfDir()
    spark.range(10).write.parquet(s"$dir/t.parquet")
    val store = new Store("tables-spec", 1, Seq("t.parquet"),
      Seq(Frame("f", 2, "id", Seq("id"), (s, d, _) => Tables(s, d, "t"))))
    try {
      assert(jobsDuring(store.read(spark, dir, "f")) >= 1, "the first read builds")
      assert(jobsDuring(store.read(spark, dir, "f")) === 0)
      assert(store.read(spark, dir, "f").count() === 10)
    } finally FileUtils.deleteQuietly(store.dir(dir))
  }

  test("a table rewritten in place is read with its new schema and row count") {
    val dir = sfDir()
    val path = s"$dir/t.parquet"
    spark.range(3).write.parquet(path)
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("id"))
    assert(Tables.rowCount(spark, dir, "t") === 3)
    spark.range(5).selectExpr("id", "'x' AS s").write.mode("overwrite").parquet(path)
    val t = Tables(spark, dir, "t")
    assert(t.schema.map(f => f.name -> f.dataType) ===
      Seq("id" -> LongType, "s" -> StringType))
    assert(Tables.rowCount(spark, dir, "t") === 5)
    assert(t.count() === 5)
  }

  /** One-row `events.parquet` whose `ts` is an int64 of `unit`
    * (NANOS or MICROS), not adjusted to UTC — the two testdata
    * vintages. Spark writes neither, so parquet-mr writes it. */
  private def writeEvents(dir: String, unit: String, ts: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 id; required int64 ts (TIMESTAMP($unit,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", ts))
    finally w.close()
  }

  test("Tables.events normalizes both ts vintages to TimestampType with the memo warm") {
    val at = Instant.parse("2024-01-02T03:04:05.123456Z")
    val micros = at.getEpochSecond * 1000000L + at.getNano / 1000
    for ((unit, ts) <- Seq("NANOS" -> micros * 1000L, "MICROS" -> micros)) {
      val dir = sfDir()
      writeEvents(dir, unit, ts)
      Tables.events(spark, dir)
      assert(jobsDuring(Tables.events(spark, dir)) === 0, unit)
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, unit)
      assert(ev.select("ts").head().getAs[Timestamp](0).toInstant === at, unit)
    }
  }

  test("a file read under the other timestamp inference conf is inferred afresh") {
    val dir = sfDir()
    writeEvents(dir, "MICROS", 0L)
    def ts(): DataType = Tables(spark, dir, "events").schema("ts").dataType
    assert(ts() === TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(ts() === TimestampType)
    }
    assert(ts() === TimestampNTZType)
  }

  test("the memoized read plans exactly as the inferring read") {
    val dir = sfDir()
    val path = s"$dir/t.parquet"
    spark.range(100).selectExpr("id", "id % 7 AS g", "cast(id AS string) AS s")
      .write.parquet(path)
    def plan(df: DataFrame): String = PlanDump.stable(
      df.filter("id > 2").groupBy("g").count().queryExecution.executedPlan.toString)
    val inferred = plan(spark.read.parquet(path))
    Tables(spark, dir, "t")
    assert(plan(Tables(spark, dir, "t")) === inferred)
  }
}
