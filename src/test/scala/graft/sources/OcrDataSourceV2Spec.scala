package graft.sources

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

/** The DSv2 OCR source: shortname registration, per-document
  * partitions, BlockType pushdown, column pruning, quarantine. */
class OcrDataSourceV2Spec extends AnyFunSuite with SharedSpark {

  private def read(keys: String, extra: (String, String)*) = {
    val r = spark.read.format("graft-ocr").option("keys", keys)
      .option("pollDelayMs", "1")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("shortname read: one partition per doc, stub blocks, stable seq") {
    val df = read("rawfarmdata/a.png, rawfarmdata/b.png")
    assert(df.rdd.getNumPartitions == 2, "one InputPartition per document")
    val rows = df.collect()
    assert(rows.length == 12)
    val seqs = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    assert(seqs.keySet == Set("rawfarmdata/a.png", "rawfarmdata/b.png"))
    assert(seqs.values.forall(_ == (0L until 6L)))
    assert(rows.forall(_.getString(7) == null), "no quarantine rows")
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
