package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class StreamingSpec extends AnyFunSuite with SharedSpark {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming farm pipeline processes new documents end-to-end") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("blocks").toFile
    val ckpt = Files.createTempDirectory("ckpt").toFile
    val outDir = Files.createTempDirectory("csv").toFile
    val doc =
      """{"BlockType":"LINE","Text":"John A. Smith, 40, 120, 1500, 75, 300","Page":1,"Geometry":{"BoundingBox":{"Left":0.1,"Top":0.1,"Width":0.1,"Height":0.01}}}
        |{"BlockType":"LINE","Text":"Seymour Grady, 25, -, -","Page":1,"Geometry":{"BoundingBox":{"Left":0.1,"Top":0.15,"Width":0.1,"Height":0.01}}}
        |{"BlockType":"LINE","Text":"800, 40, 150","Page":1,"Geometry":{"BoundingBox":{"Left":0.12,"Top":0.17,"Width":0.1,"Height":0.01}}}""".stripMargin
    Files.writeString(new java.io.File(inDir, "doc1.json").toPath, doc)
    val q = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q.awaitTermination(60000)
    val csvs = spark.read.option("header", true)
      .csv(outDir.getAbsolutePath + "/batch_0")
    val rows = csvs.collect()
    assert(rows.length == 2)
    val grady = rows.find(_.getAs[String]("Name") == "Seymour Grady").get
    assert(grady.getAs[String]("Acres of Improved Land") == "800")
    assert(grady.getAs[String]("Value of Livestock") == "25")

    // Checkpoint restart contract: a second AvailableNow run over the
    // SAME checkpoint must be a no-op for already-committed input (no
    // duplicate batch output), and must pick up exactly the new file.
    val q2 = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q2.awaitTermination(60000)
    assert(!new java.io.File(outDir, "batch_1").exists(),
      "restart with no new input must not emit a batch")
    Files.writeString(new java.io.File(inDir, "doc2.json").toPath, doc)
    val q3 = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q3.awaitTermination(60000)
    val b1 = spark.read.option("header", true)
      .csv(outDir.getAbsolutePath + "/batch_1").collect()
    assert(b1.length == 2, "restart must process exactly the new document")
  }

  test("watermarked windowed aggregation over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val out = StreamingOps.windowedCounts(events)
    val q = out.writeStream.format("memory").queryName("win")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 3.0),
      (ts("2024-01-01 14:00:00"), "late-watermark-advancer", 0.0))
    q.processAllAvailable()
    val got = spark.table("win").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events")))
      .toSet
    assert(got.contains(("2024-01-01 10:00:00.0", "click", 2L)))
    assert(got.contains(("2024-01-01 11:00:00.0", "view", 1L)))
    q.stop()
  }

  test("streaming M4 equals the batch M4 on window close, whatever " +
       "the micro-batch arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "event_id", "event_type", "value")
    val out = StreamingOps.m4Stream(events)
    val q = out.writeStream.format("memory").queryName("m4")
      .outputMode("append").start()
    // batch 1 delivers the MIDDLE of the window first; batch 2 adds
    // the true first/last out of order, then advances the watermark
    mem.addData((ts("2024-01-01 10:30:00"), 2L, "cpu", 50.0))
    q.processAllAvailable()
    mem.addData(
      (ts("2024-01-01 10:05:00"), 1L, "cpu", 10.0),
      (ts("2024-01-01 10:55:00"), 3L, "cpu", 99.0),
      (ts("2024-01-01 14:00:00"), 9L, "advancer", 0.0))
    q.processAllAvailable()
    val got = spark.table("m4").collect()
      .find(_.getAs[String]("event_type") == "cpu").get
    assert(got.getAs[Long]("n_points") == 3L)
    assert(got.getAs[Double]("first_val") == 10.0,
      "first must follow event time, not arrival order")
    assert(got.getAs[Double]("last_val") == 99.0)
    assert(got.getAs[Double]("min_val") == 10.0)
    assert(got.getAs[Double]("max_val") == 99.0)
    q.stop()
    // batch equivalence: the same aggregation over the union of all
    // batches (ev_m4_downsample's shape) yields the identical row
    val batch = Seq(
      (ts("2024-01-01 10:30:00"), 2L, "cpu", 50.0),
      (ts("2024-01-01 10:05:00"), 1L, "cpu", 10.0),
      (ts("2024-01-01 10:55:00"), 3L, "cpu", 99.0))
      .toDF("ts", "event_id", "event_type", "value")
      .withColumn("us", unix_micros($"ts"))
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_points"),
        min(struct($"us", $"event_id", $"value")).as("f"),
        max(struct($"us", $"event_id", $"value")).as("l"))
      .select($"event_type", $"n_points",
        $"f.value".as("first_val"), $"l.value".as("last_val"))
      .collect().head
    assert(batch.getAs[Long]("n_points") == got.getAs[Long]("n_points"))
    assert(batch.getAs[Double]("first_val") ==
      got.getAs[Double]("first_val"))
    assert(batch.getAs[Double]("last_val") == got.getAs[Double]("last_val"))
  }

  test("stream-static enrichment joins the dimension without state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = StreamingOps.enrichStream(events, dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, 5.0),
      (ts("2024-01-01 10:01:00"), 2L, 6.0),
      (ts("2024-01-01 10:02:00"), 9L, 7.0)) // no dimension row
    q.processAllAvailable()
    val got = spark.table("enriched").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("tier"))).toSet
    assert(got == Set((1L, "gold"), (2L, "basic"), (9L, null)))
    q.stop()
  }

  test("upsert stream maintains a latest-wins snapshot across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snap = Files.createTempDirectory("upsert_snap").toString
    val ckpt = Files.createTempDirectory("upsert_ckpt").toString
    val mem = MemoryStream[(Long, Long, String)]
    val changes = mem.toDF().toDF("key", "seq", "value")
    val q = StreamingOps.upsertStream(changes, "key", "seq", snap, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((1L, 1L, "a"), (2L, 1L, "b"))
    q.processAllAvailable()
    mem.addData((1L, 2L, "a2"), (3L, 1L, "c")) // update key 1, insert key 3
    q.processAllAvailable()
    q.stop()
    val got = StreamingOps.latestSnapshot(spark, snap).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 2L, "a2"), (2L, 1L, "b"), (3L, 1L, "c")))
  }

  test("native session windows merge within gap and close on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val out = StreamingOps.sessionWindows(events, gap = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    // user 7: two events 10 min apart (one session), then one 40 min
    // later (a second session); the far-future event advances the
    // watermark so both sessions close and emit.
    mem.addData(
      (ts("2024-01-01 10:00:00"), 7L),
      (ts("2024-01-01 10:10:00"), 7L),
      (ts("2024-01-01 10:50:00"), 7L))
    q.processAllAvailable()
    mem.addData((ts("2024-01-02 00:00:00"), 99L))
    q.processAllAvailable()
    val got = spark.table("sess_win").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events")))
      .toSet
    assert(got === Set(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
      ("2024-01-01 10:50:00.0", "2024-01-01 11:20:00.0", 1L)))
    q.stop()
  }

  test("stateful sessionization carries state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS()
      .map { case (u, t, v) => StreamingOps.Event(u, t, v) }
    val out = StreamingOps.sessionize(events)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("update").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
                (1L, ts("2024-01-01 10:10:00"), 2.0))
    q.processAllAvailable()
    // second batch: same session continues, then a gap opens a new one
    mem.addData((1L, ts("2024-01-01 10:20:00"), 3.0))
    q.processAllAvailable()
    mem.addData((1L, ts("2024-01-01 12:00:00"), 4.0))
    q.processAllAvailable()
    val updates = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // session 1 grew to 3 events across batches; session 2 restarted
    assert(updates.contains((1L, 1L, 3L, 6.0)), updates.mkString(","))
    assert(updates.contains((1L, 2L, 1L, 4.0)), updates.mkString(","))
    q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = StreamingOps.dedupStream(events, "event_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), "click"),
                (1L, ts("2024-01-01 10:00:01"), "click-dup"),
                (2L, ts("2024-01-01 10:01:00"), "view"))
    q.processAllAvailable()
    // duplicate id arriving in a LATER batch, still inside the watermark
    mem.addData((2L, ts("2024-01-01 10:02:00"), "view-dup"),
                (3L, ts("2024-01-01 10:03:00"), "click"))
    q.processAllAvailable()
    val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), ids.mkString(","))
    q.stop()
  }

  test("stream-stream interval join attributes clicks to purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val out = StreamingOps.clickAttribution(
      clicks.toDF().toDF("user_id", "ts", "value"),
      purchases.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    clicks.addData((1L, ts("2024-01-01 10:00:00"), 0.0), // in horizon
                   (1L, ts("2024-01-01 09:00:00"), 0.0), // too early
                   (2L, ts("2024-01-01 10:10:00"), 0.0)) // other user
    purchases.addData((1L, ts("2024-01-01 10:15:00"), 99.0))
    q.processAllAvailable()
    // advance both watermarks far enough to emit the joined rows
    // (distinct users, so the advancer rows cannot join each other)
    clicks.addData((8L, ts("2024-01-01 14:00:00"), 0.0))
    purchases.addData((9L, ts("2024-01-01 14:00:00"), 0.0))
    q.processAllAvailable()
    val got = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getTimestamp(3).toString))
    assert(got.toSet == Set((1L, "2024-01-01 10:00:00.0")), got.mkString(","))
    q.stop()
  }

  test("left-outer interval join emits the null wing after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val out = StreamingOps.clickAttributionOuter(
      clicks.toDF().toDF("user_id", "ts", "value"),
      purchases.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    clicks.addData((1L, ts("2024-01-01 10:00:00"), 0.0))
    purchases.addData((1L, ts("2024-01-01 10:15:00"), 99.0), // matched
                      (2L, ts("2024-01-01 10:15:00"), 42.0)) // organic
    q.processAllAvailable()
    // The unmatched purchase must NOT appear yet: a click for user 2
    // could still arrive inside the horizon.
    val early = spark.table("attr_outer").collect()
    assert(!early.exists(_.getLong(0) == 2L),
      "null wing must wait for the watermark")
    // Advance both watermarks past 10:15 + horizon + 1h delay.
    clicks.addData((8L, ts("2024-01-01 14:00:00"), 0.0))
    purchases.addData((9L, ts("2024-01-01 14:00:00"), 0.0))
    q.processAllAvailable()
    val got = spark.table("attr_outer").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(3)).map(_.toString)))
      .toSet
    assert(got.contains((1L, Some("2024-01-01 10:00:00.0"))), got.mkString(","))
    assert(got.contains((2L, None)), s"organic purchase missing: $got")
    q.stop()
  }

  test("streaming near-dup dedup: MinHashSig keys dropDuplicatesWithinWatermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    // The batch engine's native signature expression runs unchanged
    // inside the micro-batch plan; dedup keys on the signature, so
    // content-identical docs collapse across batches.
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
      .withColumn("sig",
        graft.functions.NativeFunctions.minHashSig(col("text"), 5)
          .cast("string"))
    val q = StreamingOps.dedupStream(docs, "sig")
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    val body = "the quick brown fox jumps over the lazy dog again and again"
    mem.addData((1L, body, ts("2024-01-01 10:00:00")),
                (2L, "completely different content here", ts("2024-01-01 10:00:30")))
    q.processAllAvailable()
    mem.addData((3L, body, ts("2024-01-01 10:01:00"))) // dup, later batch
    q.processAllAvailable()
    val ids = spark.table("neardup").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L), ids.mkString(","))
    q.stop()
  }

  test("flatMapGroupsWithState emits sessions only when closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS()
      .map { case (u, t, v) => StreamingOps.Event(u, t, v) }
    val q = StreamingOps.closedSessions(events)
      .writeStream.format("memory").queryName("closed")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
                (1L, ts("2024-01-01 10:10:00"), 2.0))
    q.processAllAvailable()
    assert(spark.table("closed").isEmpty, "open session must not emit")
    // An event past the gap closes session 1 in-stream and advances the
    // watermark past its end+gap (either path emits it exactly once).
    mem.addData((1L, ts("2024-01-01 12:00:00"), 4.0))
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-01 15:00:00"), 0.0))
    q.processAllAvailable()
    val got = spark.table("closed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val micros = (s: String) => ts(s).getTime * 1000L
    assert(got.contains((1L, micros("2024-01-01 10:00:00"),
      micros("2024-01-01 10:10:00"), 2L, 3.0)), got.mkString(","))
    q.stop()
  }

  test("windowed heavy hitters emit per-window sketch top-k on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("ts", "event_type")
    val q = StreamingOps.windowedHeavyHitters(events, k = 2)
      .writeStream.format("memory").queryName("hh")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click"), (ts("2024-01-01 10:10:00"), "click"),
      (ts("2024-01-01 10:15:00"), "click"), (ts("2024-01-01 10:20:00"), "view"),
      (ts("2024-01-01 10:25:00"), "view"), (ts("2024-01-01 10:30:00"), "error"))
    q.processAllAvailable()
    assert(spark.table("hh").isEmpty, "window still open")
    // Advance the watermark past 10:00–11:00 + 2 h to close it.
    mem.addData((ts("2024-01-01 13:30:00"), "late"))
    q.processAllAvailable()
    val rows = spark.table("hh").collect()
    assert(rows.length === 1, rows.mkString(","))
    val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // Capacity (64) over domain (3): exact counts, zero error.
    assert(top === Seq(("click", 3L, 0L), ("view", 2L, 0L)))
    q.stop()
  }

  test("windowed exact top-k emits k heap pairs on window close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val events = mem.toDF().toDF("ts", "ord", "value")
    val q = StreamingOps.windowedTopK(events, k = 2)
      .writeStream.format("memory").queryName("wtopk")
      .outputMode("append").start()
    mem.addData(
      (ts("2024-01-01 10:05:00"), 10L, 1L), (ts("2024-01-01 10:10:00"), 30L, 2L),
      (ts("2024-01-01 10:15:00"), 20L, 3L), (ts("2024-01-01 10:20:00"), 30L, 9L))
    q.processAllAvailable()
    assert(spark.table("wtopk").isEmpty, "window still open")
    mem.addData((ts("2024-01-01 13:30:00"), 0L, 0L))
    q.processAllAvailable()
    val rows = spark.table("wtopk").collect()
    assert(rows.length === 1, rows.mkString(","))
    val top = rows.head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1)))
    // ord 30 tie resolves to the smaller value first; k=2 truncates.
    assert(top === Seq((30L, 2L), (30L, 9L)))
    q.stop()
  }

  test("streaming EWMA trend matches the batch weights, silent in warmup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val obs = mem.toDS()
      .map { case (k, t, n) => StreamingOps.Observation(k, t, n) }
    val q = StreamingOps.ewmaTrendStream(obs)
      .writeStream.format("memory").queryName("ewma")
      .outputMode("append").start()
    // 8 warmup observations (all 10) split across two micro-batches:
    // nothing may emit until a full window of priors exists.
    val base = (1 to 8).map(i =>
      ("t0", ts(f"2024-01-01 10:$i%02d:00"), 10L))
    mem.addData(base.take(5): _*)
    q.processAllAvailable()
    mem.addData(base.drop(5): _*)
    q.processAllAvailable()
    assert(spark.table("ewma").isEmpty, "warmup must be silent")
    // 9th observation: priors are eight 10s, so ewma_q = 10 * (5^8 -
    // 4^8) = 3250890; 50 is far above trend, and an independent key
    // with no history stays silent.
    mem.addData(("t0", ts("2024-01-01 10:09:00"), 50L),
                ("t1", ts("2024-01-01 10:09:00"), 50L))
    q.processAllAvailable()
    val got = spark.table("ewma").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    q.stop()
    assert(got.toSet == Set(("t0", 50L, 3250890L, true)),
      got.mkString(","))
  }

  test("streaming anomaly z-score flags outliers against prior state only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS()
      .map { case (u, t, v) => StreamingOps.Event(u, t, v) }
    val q = StreamingOps.anomalyStream(events, minN = 4, threshold = 3.0)
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    // Warmup: 5 alternating values (mean 10.5, sd ~0.55) — none can be
    // flagged (first 4 are under minN; the 5th is within 1 sd).
    mem.addData((1L, ts("2024-01-01 10:00:00"), 10.0),
                (1L, ts("2024-01-01 10:01:00"), 11.0),
                (1L, ts("2024-01-01 10:02:00"), 10.0),
                (1L, ts("2024-01-01 10:03:00"), 11.0),
                (1L, ts("2024-01-01 10:04:00"), 10.0))
    q.processAllAvailable()
    assert(spark.table("anom").isEmpty, "warmup must not flag")
    // Batch 2: a huge outlier for user 1, a normal value for user 1,
    // and an identical outlier value for user 2 (still under minN
    // there — state is strictly per-key).
    mem.addData((1L, ts("2024-01-01 10:05:00"), 50.0),
                (1L, ts("2024-01-01 10:06:00"), 10.0),
                (2L, ts("2024-01-01 10:05:00"), 50.0))
    q.processAllAvailable()
    val got = spark.table("anom").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSet === Set((1L, 50.0)), got.mkString(","))
    q.stop()
  }

  test("priority-sample stream equals the batch sample over all batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingOps.prioritySampleStream(docs, k = 5)
      .writeStream.format("memory").queryName("psample")
      .outputMode("complete").start()
    val batch1 = (1L to 20L).map(i => (i, ("w " * i.toInt).trim))
    val batch2 = (21L to 40L).map(i => (i, ("w " * (i.toInt % 7 + 1)).trim))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("psample").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // Batch equivalent over the union of both batches.
    val expected = graft.ext.TextAnalysis
      .withSamplePriority((batch1 ++ batch2).toDF("doc_id", "text"))
      .orderBy(col("prio"), col("doc_id")).limit(5)
      .collect().map(r => (r.getLong(2), r.getLong(0))).toSet
    assert(streamed == expected,
      s"stream $streamed vs batch $expected")
  }

  test("fingerprint stream equals the batch checksum over all batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val rows = mem.toDF().toDF("grp", "id", "payload")
    val q = StreamingOps.fingerprintStream(rows,
        groupCols = Seq("grp"), keyCols = Seq("id", "payload"))
      .writeStream.format("memory").queryName("fprint")
      .outputMode("complete").start()
    val batch1 = (1L to 50L).map(i => (s"g${i % 3}", i, s"v$i"))
    val batch2 = (51L to 90L).map(i => (s"g${i % 3}", i, s"v$i"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("fprint").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toBigInteger.longValueExact())).toSet
    q.stop()
    // State is one (count, sum) pair per group — after any batch
    // sequence it must equal the batch checksum over the union.
    val expected = StreamingOps.fingerprintStream(
        (batch1 ++ batch2).toDF("grp", "id", "payload"),
        groupCols = Seq("grp"), keyCols = Seq("id", "payload"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toBigInteger.longValueExact())).toSet
    assert(streamed == expected, s"stream $streamed vs batch $expected")
    assert(streamed.map(_._1) == Set("g0", "g1", "g2"))
    assert(streamed.toSeq.map(_._2).sum == 90L)
  }

  test("nearDupStream flags cross-batch near-dups, agrees with batch LSH") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "completely different content about spark shuffle partitions"
    val textC = "a third unrelated document mentioning broadcast joins only"
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.nearDupStream(docs)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), textA),
                (2L, ts("2024-01-01 10:00:01"), textB))
    q.processAllAvailable()
    // A later batch re-sends textA under a new id, plus a fresh doc
    // and an IN-BATCH duplicate pair (5 before 6 by timestamp).
    mem.addData((3L, ts("2024-01-01 10:05:00"), textA),
                (4L, ts("2024-01-01 10:05:01"), textC),
                (6L, ts("2024-01-01 10:06:02"),
                  "window functions need a deterministic order by clause"),
                (5L, ts("2024-01-01 10:06:01"),
                  "window functions need a deterministic order by clause"))
    q.processAllAvailable()
    val hits = spark.table("neardup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    q.stop()
    val byDoc = hits.groupBy(_._1)
    // Every doc emits one row per band:
    assert(byDoc.forall(_._2.map(_._2).sorted.toSeq == Seq(0, 1)))
    def flagged(doc: Long) = byDoc(doc).exists(_._4)
    assert(!flagged(1L) && !flagged(2L) && !flagged(4L))
    // doc 3 duplicates doc 1's text: every band hits owner 1.
    assert(byDoc(3L).forall { case (_, _, owner, hit) => hit && owner == 1L })
    // In-batch pair: the (ts, doc_id)-smaller doc 5 owns, 6 hits it —
    // ownership is sorted, not arrival-ordered (5 was added AFTER 6).
    assert(!flagged(5L))
    assert(byDoc(6L).forall { case (_, _, owner, hit) => hit && owner == 5L })
  }
}
