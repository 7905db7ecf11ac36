package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** No-arg failing client, loadable by FQCN via the `client` option. */
class FailingOcrClient extends TextractConnector.OcrClient {
  def startJob(doc: String): String = s"job-$doc"
  def jobStatus(jobId: String): String = "FAILED"
  def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) =
    (Seq.empty, None)
}

/** The stub, except that a key starting with `nostart` fails to start
  * and one starting with `bad` ends its job FAILED. */
class PartlyFailingOcrClient extends TextractConnector.OcrClient {
  private val stub = TextractConnector.stub()
  def startJob(doc: String): String =
    if (doc.startsWith("nostart")) throw new RuntimeException(s"cannot start $doc")
    else stub.startJob(doc)
  def jobStatus(jobId: String): String =
    if (jobId.startsWith("job-bad")) "FAILED" else stub.jobStatus(jobId)
  def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) =
    stub.fetchPage(jobId, token)
}

/** The stub, recording each `startJob` and `fetchPage` call with the
  * partition of the task that made it. */
class RecordingOcrClient extends TextractConnector.OcrClient {
  private val stub = TextractConnector.stub()
  private def record(call: String, doc: String): Unit =
    RecordingOcrClient.calls.add((TaskContext.getPartitionId(), call, doc))
  def startJob(doc: String): String = { record("start", doc); stub.startJob(doc) }
  def jobStatus(jobId: String): String = stub.jobStatus(jobId)
  def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) = {
    record("fetch", jobId.stripPrefix("job-"))
    stub.fetchPage(jobId, token)
  }
}

object RecordingOcrClient {
  /** (partition, "start" | "fetch", doc), in call order; local-mode
    * tasks run in the spec's JVM. */
  val calls = new ConcurrentLinkedQueue[(Int, String, String)]()
}

/** The DSv2 OCR source: shortname registration, documents packed into
  * partitions, BlockType pushdown, column pruning, quarantine. */
class OcrDataSourceV2Spec extends AnyFunSuite with SharedSpark {

  private def read(keys: String, extra: (String, String)*) = {
    val r = spark.read.format("graft-ocr").option("keys", keys)
      .option("pollDelayMs", "1")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** (partition, doc, seq, error) of every row, in partition order. */
  private def rowsByPartition(df: DataFrame): Seq[(Int, String, Long, String)] =
    df.select("doc", "seq", "error").rdd.mapPartitionsWithIndex { (i, rows) =>
      rows.map(r => (i, r.getString(0), r.getLong(1), r.getString(2)))
    }.collect().toSeq

  /** `xs` with each run of equal neighbours collapsed to one value. */
  private def runs[A](xs: Seq[A]): Seq[A] =
    xs.foldLeft(Vector.empty[A])((acc, x) => if (acc.lastOption.contains(x)) acc else acc :+ x)

  test("shortname read: documents packed 8 to a partition in key order, seq per document") {
    val keys = (1 to 20).map(i => f"rawfarmdata/p$i%02d.png")
    val df = read(keys.mkString(", "))
    val rows = rowsByPartition(df)
    assert(df.rdd.getNumPartitions == 3)
    assert(rows.length == 20 * 6)
    // Partitions hold 8, 8 and 4 consecutive keys, in key order.
    assert(rows.groupBy(_._1).toSeq.sortBy(_._1).map(p => runs(p._2.map(_._2))) ==
      keys.grouped(8).toSeq)
    // Each document's rows are contiguous, and its seq runs from 0.
    assert(runs(rows.map(_._2)) == keys)
    for (k <- keys) assert(rows.filter(_._2 == k).map(_._3) == (0L until 6L), k)
    assert(rows.forall(_._4 == null), "no quarantine rows")
  }

  test("BlockType equality is pushed into the scan") {
    val df = read("a.png").filter(col("BlockType") === "LINE")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[EqualTo(BlockType,LINE)]"), plan)
    assert(df.count() == 6)
    // A pushed non-matching literal yields nothing from the reader
    assert(read("a.png").filter(col("BlockType") === "WORD").count() == 0)
  }

  test("column pruning reaches the reader") {
    val df = read("a.png").select("Text", "Page")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[Text, Page]"), plan)
    assert(df.collect().length == 6)
  }

  test("job failure quarantines as a single error row per document") {
    val df = read("bad1.png,bad2.png",
      "client" -> classOf[FailingOcrClient].getName)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getString(7) != null))
    assert(rows.forall(_.getLong(1) == -1L))
  }

  test("a failing document in a packed partition yields its one error row, neighbours complete") {
    val keys = Seq("d1.png", "d2.png", "nostart3.png", "d4.png", "bad5.png", "d6.png")
    val rows = rowsByPartition(read(keys.mkString(","),
      "client" -> classOf[PartlyFailingOcrClient].getName))
    assert(rows.map(_._1).distinct == Seq(0), "one partition")
    assert(runs(rows.map(_._2)) == keys)
    for (k <- keys) {
      val mine = rows.filter(_._2 == k)
      if (k.startsWith("d")) {
        assert(mine.map(_._3) == (0L until 6L), k)
        assert(mine.forall(_._4 == null), k)
      } else {
        assert(mine.length == 1, k)
        assert(mine.head._3 == -1L && mine.head._4 != null, k)
      }
    }
  }

  test("every OCR job of a partition starts before its first page fetch") {
    val keys = (1 to 20).map(i => s"rec$i.png")
    RecordingOcrClient.calls.clear()
    assert(read(keys.mkString(","), "client" -> classOf[RecordingOcrClient].getName)
      .count() == 20 * 6)
    val calls = RecordingOcrClient.calls.asScala.toSeq.filter(c => keys.contains(c._3))
    val byPartition = calls.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    assert(byPartition.map(_.filter(_._2 == "start").map(_._3)) == keys.grouped(8).toSeq)
    for (p <- byPartition)
      assert(p.lastIndexWhere(_._2 == "start") < p.indexWhere(_._2 == "fetch"), p)
  }

  test("pipeline runs end-to-end over the DSv2 scan") {
    // Re-nest the flat scan schema into the Textract block shape
    val blocks = read("a.png,b.png").select(
      col("doc"), col("seq"), col("BlockType"), col("Text"), col("Page"),
      struct(struct(col("left").as("Left"), col("top").as("Top"),
        lit(0.0).as("Width"), lit(0.0).as("Height")).as("BoundingBox"))
        .as("Geometry"))
    val out = graft.parity.FarmPipeline.run(blocks)
    assert(out.count() > 0)
  }
}
