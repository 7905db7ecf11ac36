package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Crash-replay matrix (round-4 verdict item 8): every stateful
  * streaming op must survive a forced stop + restart from its
  * checkpoint MID-STATE — with buffered state (an open window, an
  * open session, an unmatched outer-join row, a half-built
  * snapshot) carried across the restart and the final output
  * identical to the batch computation over all input, emitted
  * exactly once. The farm pipeline's restart pin (StreamingSpec)
  * already covers the file source; this matrix covers the four
  * stateful operators the verdict names: m4Stream, closedSessions,
  * upsertStream, clickAttributionOuter.
  *
  * Each test drives a FILE source (replayable offsets — the thing
  * MemoryStream cannot restart from) through a file sink with a
  * shared checkpoint: batch 1 → hard stop mid-state → batch 2 →
  * fresh query, same checkpoint.
  */
class StreamingRestartSpec extends AnyFunSuite with SharedSpark {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def writeJson(dir: String, name: String,
                        lines: Seq[String]): Unit =
    Files.writeString(Paths.get(dir, name), lines.mkString("\n"))

  private val eventSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def eventSrc(dir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(dir)

  /** Run `mk` to completion over the files currently in its source
    * dir, then stop — a forced restart boundary. */
  private def runOnce(mk: => org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    val q = mk
    try q.processAllAvailable() finally q.stop()
  }

  test("m4Stream: an open window's points survive restart; closed " +
       "window equals the batch M4") {
    val in = tmp("m4_in"); val out = tmp("m4_out"); val ck = tmp("m4_ck")
    def query() = StreamingOps.m4Stream(eventSrc(in))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    // batch 1: only the MIDDLE of the 10:00 window arrives, then the
    // query dies with the window open (its state holds the point)
    writeJson(in, "b1.json", Seq(
      """{"ts":"2024-01-01 10:30:00","event_id":2,"event_type":"cpu","value":50.0}"""))
    runOnce(query())
    // batch 2 after restart: true first/last plus a watermark advancer
    writeJson(in, "b2.json", Seq(
      """{"ts":"2024-01-01 10:05:00","event_id":1,"event_type":"cpu","value":10.0}""",
      """{"ts":"2024-01-01 10:55:00","event_id":3,"event_type":"cpu","value":99.0}""",
      """{"ts":"2024-01-01 14:00:00","event_id":9,"event_type":"adv","value":0.0}"""))
    runOnce(query())
    val got = spark.read.parquet(out).collect()
      .filter(_.getAs[String]("event_type") == "cpu")
    assert(got.length == 1, s"window must emit exactly once: ${got.length}")
    val r = got.head
    assert(r.getAs[Long]("n_points") == 3L,
      "the pre-restart point must be in the closed window")
    assert(r.getAs[Double]("first_val") == 10.0)
    assert(r.getAs[Double]("last_val") == 99.0)
    assert(r.getAs[Double]("min_val") == 10.0)
    assert(r.getAs[Double]("max_val") == 99.0)
  }

  test("closedSessions: an OPEN session spans the restart and closes " +
       "with its pre-restart events intact, exactly once") {
    import spark.implicits._
    val in = tmp("cs_in"); val out = tmp("cs_out"); val ck = tmp("cs_ck")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def query() = StreamingOps.closedSessions(
      spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(in)
        .as[StreamingOps.Event])
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    writeJson(in, "b1.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 10:00:00","value":1.0}""",
      """{"user_id":1,"ts":"2024-01-01 10:10:00","value":2.0}"""))
    runOnce(query()) // dies with user 1's session open in state
    writeJson(in, "b2.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 12:00:00","value":4.0}""",
      """{"user_id":2,"ts":"2024-01-01 15:00:00","value":0.0}"""))
    runOnce(query())
    val micros = (s: String) =>
      java.sql.Timestamp.valueOf(s).getTime * 1000L
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_micros"),
        r.getAs[Long]("end_micros"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    assert(got.count(_._1 == 1L) >= 1, s"session 1 never closed: " +
      got.mkString(","))
    assert(got.contains((1L, micros("2024-01-01 10:00:00"),
      micros("2024-01-01 10:10:00"), 2L, 3.0)),
      s"pre-restart session state lost or mutated: ${got.mkString(",")}")
    assert(got.count(t => t._1 == 1L &&
      t._2 == micros("2024-01-01 10:00:00")) == 1,
      "closed session must emit exactly once across the restart")
  }

  test("upsertStream: snapshot survives restart; post-restart " +
       "changes apply latest-wins over pre-restart state") {
    val in = tmp("up_in"); val snap = tmp("up_snap"); val ck = tmp("up_ck")
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("seq", LongType),
      StructField("value", StringType)))
    def src = spark.readStream.schema(schema).json(in)
    def run() = {
      val q = StreamingOps.upsertStream(src, "key", "seq", snap, ck)
      try q.awaitTermination(60000) finally q.stop()
    }
    writeJson(in, "b1.json", Seq(
      """{"key":1,"seq":1,"value":"a"}""",
      """{"key":2,"seq":1,"value":"b"}"""))
    run() // AvailableNow: commits v=0, then the query dies
    writeJson(in, "b2.json", Seq(
      """{"key":1,"seq":2,"value":"a2"}""",
      """{"key":3,"seq":1,"value":"c"}"""))
    run()
    val got = StreamingOps.latestSnapshot(spark, snap).get.collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("seq"),
        r.getAs[String]("value"))).toSet
    assert(got == Set((1L, 2L, "a2"), (2L, 1L, "b"), (3L, 1L, "c")),
      s"restart broke latest-wins merge: $got")
  }

  test("windowedTopK: heap state buffered before the crash is in the " +
       "closed window's top-k, emitted exactly once") {
    val in = tmp("wtk_in"); val out = tmp("wtk_out"); val ck = tmp("wtk_ck")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("ord", LongType),
      StructField("value", LongType)))
    def src = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(in)
    def query() = StreamingOps.windowedTopK(src, k = 2)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    // batch 1: two rows land in the 10:00 window; the query dies with
    // the window open (its serialized heap holds both pairs)
    writeJson(in, "b1.json", Seq(
      """{"ts":"2024-01-01 10:05:00","ord":10,"value":1}""",
      """{"ts":"2024-01-01 10:10:00","ord":30,"value":2}"""))
    runOnce(query())
    // batch 2: a higher-ord row joins the window, then the watermark
    // advances past close
    writeJson(in, "b2.json", Seq(
      """{"ts":"2024-01-01 10:20:00","ord":40,"value":3}""",
      """{"ts":"2024-01-01 13:30:00","ord":0,"value":0}"""))
    runOnce(query())
    val rows = spark.read.parquet(out).collect()
      .filter(_.getAs[java.sql.Timestamp]("window_start").toString
        .startsWith("2024-01-01 10:00"))
    assert(rows.length == 1, s"exactly one close: ${rows.mkString(",")}")
    val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top == Seq((40L, 3L), (30L, 2L)),
      s"pre-restart heap entries lost: $top")
  }

  test("windowedHeavyHitters: the SpaceSaving sketch survives " +
       "restart; counts include pre-crash increments") {
    val in = tmp("whh_in"); val out = tmp("whh_out"); val ck = tmp("whh_ck")
    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    def src = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(in)
    def query() = StreamingOps.windowedHeavyHitters(src, k = 2)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    writeJson(in, "b1.json", Seq(
      """{"ts":"2024-01-01 10:05:00","event_type":"click"}""",
      """{"ts":"2024-01-01 10:10:00","event_type":"click"}""",
      """{"ts":"2024-01-01 10:15:00","event_type":"view"}"""))
    runOnce(query()) // sketch state: click=2, view=1; window open
    writeJson(in, "b2.json", Seq(
      """{"ts":"2024-01-01 10:20:00","event_type":"click"}""",
      """{"ts":"2024-01-01 13:30:00","event_type":"late"}"""))
    runOnce(query())
    val rows = spark.read.parquet(out).collect()
      .filter(_.getAs[java.sql.Timestamp]("window_start").toString
        .startsWith("2024-01-01 10:00"))
    assert(rows.length == 1, s"exactly one close: ${rows.mkString(",")}")
    val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top == Seq(("click", 3L), ("view", 1L)),
      s"pre-restart sketch counts lost: $top")
  }

  test("ewmaTrendStream: the prior-history list crosses the restart — " +
       "the post-restart flag's ewma_q is computed from pre-crash obs") {
    import spark.implicits._
    val in = tmp("ew_in"); val out = tmp("ew_out"); val ck = tmp("ew_ck")
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("ts", TimestampType),
      StructField("n", LongType)))
    def query() = StreamingOps.ewmaTrendStream(
      spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(in)
        .as[StreamingOps.Observation], window = 2)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    // warmup history [3, 2] (most recent first), then crash — window=2
    // weights are 5,4 with denom 25
    writeJson(in, "b1.json", Seq(
      """{"key":"t0","ts":"2024-01-01 10:01:00","n":2}""",
      """{"key":"t0","ts":"2024-01-01 10:02:00","n":3}"""))
    runOnce(query())
    assert(spark.read.parquet(out).isEmpty, "warmup must stay silent")
    writeJson(in, "b2.json", Seq(
      """{"key":"t0","ts":"2024-01-01 10:03:00","n":10}"""))
    runOnce(query())
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("n"),
        r.getAs[Long]("ewma_q"), r.getAs[Boolean]("above_trend")))
    // ewma_q = 3·5 + 2·4 = 23 is derivable ONLY from pre-crash state
    assert(got.toSeq == Seq(("t0", 10L, 23L, true)), got.mkString(","))
  }

  test("anomalyStream: running (n, Σx, Σx²) survives restart — the " +
       "post-crash outlier is z-scored against pre-crash statistics") {
    import spark.implicits._
    val in = tmp("an_in"); val out = tmp("an_out"); val ck = tmp("an_ck")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def query() = StreamingOps.anomalyStream(
      spark.readStream.schema(schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(in)
        .as[StreamingOps.Event], minN = 4, threshold = 3.0)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    writeJson(in, "b1.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 10:00:00","value":10.0}""",
      """{"user_id":1,"ts":"2024-01-01 10:01:00","value":11.0}""",
      """{"user_id":1,"ts":"2024-01-01 10:02:00","value":10.0}""",
      """{"user_id":1,"ts":"2024-01-01 10:03:00","value":11.0}""",
      """{"user_id":1,"ts":"2024-01-01 10:04:00","value":10.0}"""))
    runOnce(query()) // state: n=5 for user 1; nothing emitted
    assert(spark.read.parquet(out).isEmpty, "warmup must not flag")
    // post-restart: outlier for user 1 (flags only if n>=minN priors
    // survived), same value for key-2 with no history (must stay
    // silent — state is per-key)
    writeJson(in, "b2.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 10:05:00","value":50.0}""",
      """{"user_id":2,"ts":"2024-01-01 10:05:00","value":50.0}"""))
    runOnce(query())
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
    assert(got.toSeq == Seq((1L, 50.0)),
      s"pre-restart stats lost or leaked across keys: ${got.mkString(",")}")
  }

  test("fingerprintStream: per-group (count, checksum) state survives " +
       "restart; post-restart table equals the batch checksum of ALL " +
       "ingested rows") {
    import spark.implicits._
    val in = tmp("fp_in"); val ck = tmp("fp_ck")
    val schema = StructType(Seq(
      StructField("grp", StringType), StructField("id", LongType),
      StructField("payload", StringType)))
    def query(name: String) = StreamingOps.fingerprintStream(
        spark.readStream.schema(schema).json(in),
        groupCols = Seq("grp"), keyCols = Seq("id", "payload"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck).outputMode("complete").start()
    val b1 = (1L to 30L).map(i => s"""{"grp":"g${i % 2}","id":$i,"payload":"v$i"}""")
    val b2 = (31L to 50L).map(i => s"""{"grp":"g${i % 2}","id":$i,"payload":"v$i"}""")
    writeJson(in, "b1.json", b1)
    runOnce(query("fp_r1"))
    writeJson(in, "b2.json", b2)
    runOnce(query("fp_r2")) // fresh query, same checkpoint: complete-
                            // mode memory sink recovers from state
    val got = spark.table("fp_r2").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toBigInteger.longValueExact())).toSet
    val expected = StreamingOps.fingerprintStream(
        spark.read.schema(schema).json(in),
        groupCols = Seq("grp"), keyCols = Seq("id", "payload"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toBigInteger.longValueExact())).toSet
    assert(got == expected,
      s"restart broke the running checksum: $got vs $expected")
  }

  test("prioritySampleStream: the bottom-k priority heap survives " +
       "restart; the sample equals the batch sample over all batches") {
    import spark.implicits._
    val in = tmp("ps_in"); val ck = tmp("ps_ck")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def query(name: String) = StreamingOps.prioritySampleStream(
        spark.readStream.schema(schema).json(in), k = 3)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck).outputMode("complete").start()
    def doc(i: Long) = s"""{"doc_id":$i,"text":"${"w " * (i % 7 + 1).toInt}"}"""
    writeJson(in, "b1.json", (1L to 10L).map(doc))
    runOnce(query("ps_r1"))
    writeJson(in, "b2.json", (11L to 20L).map(doc))
    runOnce(query("ps_r2"))
    val got = spark.table("ps_r2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = graft.ext.TextAnalysis
      .withSamplePriority(spark.read.schema(schema).json(in))
      .orderBy(col("prio"), col("doc_id")).limit(3)
      .collect().map(r => (r.getAs[Long]("prio"), r.getAs[Long]("doc_id")))
      .toSet
    assert(got == expected,
      s"restart broke the sample heap: $got vs $expected")
  }

  test("clickAttributionOuter: an unmatched purchase buffered before " +
       "the crash emits its null wing after restart; the matched row " +
       "emits exactly once") {
    val cIn = tmp("att_c"); val pIn = tmp("att_p")
    val out = tmp("att_out"); val ck = tmp("att_ck")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def src(d: String) = spark.readStream.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(d)
    def query() = StreamingOps.clickAttributionOuter(src(cIn), src(pIn))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    writeJson(cIn, "b1.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 10:00:00","value":0.0}"""))
    writeJson(pIn, "b1.json", Seq(
      """{"user_id":1,"ts":"2024-01-01 10:15:00","value":99.0}""",
      """{"user_id":2,"ts":"2024-01-01 10:15:00","value":42.0}"""))
    runOnce(query()) // dies holding user 2's purchase in join state
    writeJson(cIn, "b2.json", Seq(
      """{"user_id":8,"ts":"2024-01-01 14:00:00","value":0.0}"""))
    writeJson(pIn, "b2.json", Seq(
      """{"user_id":9,"ts":"2024-01-01 14:00:00","value":0.0}"""))
    runOnce(query())
    val rows = spark.read.parquet(out).collect()
    val matched = rows.filter(_.getAs[Long]("user_id") == 1L)
    assert(matched.length == 1,
      s"matched row must emit exactly once: ${matched.length}")
    assert(matched.head.getAs[java.sql.Timestamp]("click_ts") != null)
    val organic = rows.filter(_.getAs[Long]("user_id") == 2L)
    assert(organic.length == 1,
      s"pre-crash unmatched purchase lost or duplicated: ${rows.mkString(",")}")
    assert(organic.head.getAs[java.sql.Timestamp]("click_ts") == null,
      "organic purchase must carry the null wing")
  }
}
