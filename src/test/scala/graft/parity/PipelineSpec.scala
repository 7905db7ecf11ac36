package graft.parity

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{lit, struct}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.SharedSpark
import graft.sources.{BlockSource, TextractConnector}

/** OCR client whose job never succeeds: `startJob` throws for the
  * `b` document, every other job polls FAILED. */
class StartFailingOcrClient extends TextractConnector.OcrClient {
  def startJob(doc: String): String =
    if (doc.contains("b")) throw new RuntimeException("boom") else s"job-$doc"
  def jobStatus(jobId: String): String = "FAILED"
  def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) =
    (Seq.empty, None)
}

/** The stub client, except that fetching page 2 of a `bad` document
  * throws. */
class Page2FailingOcrClient extends TextractConnector.OcrClient {
  private val inner = TextractConnector.stub()
  def startJob(doc: String): String = inner.startJob(doc)
  def jobStatus(jobId: String): String = inner.jobStatus(jobId)
  def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) = {
    if (token.isDefined && jobId.contains("bad"))
      throw new RuntimeException("page-2 fetch exploded")
    inner.fetchPage(jobId, token)
  }
}

/** End-to-end: the distributed Spark pipeline must reproduce the
  * reference's CSV output byte-for-byte on the golden fixtures
  * (including the randomized 3-page two-column document).
  */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  private val mapper = new ObjectMapper()

  private def fixtures = {
    val in = getClass.getResourceAsStream("/goldens/pipeline_fixtures.json")
    require(in != null, "run tools/gen_goldens.py first")
    mapper.readTree(in)
  }

  test("Spark pipeline matches reference CSV on all golden fixtures") {
    for (fname <- fixtures.fieldNames().asScala.toSeq) {
      val fx = fixtures.get(fname)
      val rows = fx.get("blocks").elements().asScala.zipWithIndex.map {
        case (b, idx) =>
          val bb = b.get("Geometry").get("BoundingBox")
          (fname, idx.toLong, b.get("BlockType").asText(),
            b.get("Text").asText(), b.get("Page").asInt(),
            bb.get("Left").asDouble(), bb.get("Top").asDouble())
      }.toSeq
      val blocks = BlockSource.fromRows(spark, rows)
      val got = FarmPipeline.run(blocks).collect().map(_.toSeq.map(String.valueOf))
      val header = fx.get("csv_rows").elements().asScala.next()
        .elements().asScala.map(_.asText()).toSeq
      assert(FarmPipeline.run(blocks).columns.toSeq == header, s"$fname header")
      val expected = fx.get("csv_rows").elements().asScala.drop(1).map(r =>
        r.elements().asScala.map(_.asText()).toSeq).toSeq
      assert(got.length == expected.length, s"$fname count")
      for ((g, w) <- got.zip(expected))
        assert(g == w, s"$fname row:\n got=$g\nwant=$w")
    }
  }

  test("window-based page-line banding agrees with the fold") {
    val fx = fixtures.get("randomized")
    val rows = fx.get("blocks").elements().asScala.zipWithIndex.map {
      case (b, idx) =>
        val bb = b.get("Geometry").get("BoundingBox")
        ("doc1", idx.toLong, b.get("BlockType").asText(),
          b.get("Text").asText(), b.get("Page").asInt(),
          bb.get("Left").asDouble(), bb.get("Top").asDouble())
    }.toSeq
    val lines = FarmPipeline.linesFromBlocks(BlockSource.fromRows(spark, rows))
    val windowed = Layout.withPageLine(lines)
      .select("page", "side", "seq", "page_line")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getInt(3))
      .toMap
    // Oracle: the pure fold's banding per column
    import org.apache.spark.sql.functions.col
    val collected = lines.select("doc", "seq", "text", "page", "top", "left", "side")
      .collect()
    val byCol = collected.groupBy(r => (r.getInt(3), r.getInt(6)))
    for (((page, side), rs) <- byCol) {
      val colLines = rs.map(r => RecordFold.Line(r.getString(2), page,
        r.getDouble(4), r.getDouble(5), r.getLong(1))).toSeq
        .sortBy(l => (l.top, l.seq))
      for (l <- RecordFold.assignPageLines(colLines))
        assert(windowed((page, side, l.seq)) == l.pageLine,
          s"page=$page side=$side seq=${l.seq}")
    }
  }

  /** One `graft-ocr` scan of `keys` through the named no-arg client. */
  private def ocr(keys: Seq[String], client: String): DataFrame =
    spark.read.format("graft-ocr").option("keys", keys.mkString(","))
      .option("pollDelayMs", "1").option("client", client).load()

  test("Textract connector: pagination, ordering, quarantine") {
    import spark.implicits._
    val keys = Seq("rawfarmdata/a.png", "rawfarmdata/b.png")
    // Re-nest the flat scan schema into the Textract block shape
    val blocks = ocr(keys, "stub").filter($"error".isNull).select(
      $"doc", $"seq", $"BlockType", $"Text", $"Page",
      struct(struct($"left".as("Left"), $"top".as("Top"),
        lit(0.0).as("Width"), lit(0.0).as("Height")).as("BoundingBox"))
        .as("Geometry"))
    // 6 blocks per doc from the stub, seq strictly increasing per doc
    val perDoc = blocks.groupBy($"doc").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDoc.values.toSet == Set(6L))
    val seqs = blocks.select($"doc", $"seq").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted.toSeq)
    assert(seqs.values.forall(_ == (0L until 6L)))
    // Records flow through the full pipeline
    val out = FarmPipeline.run(blocks)
    assert(out.count() > 0)
    // A failing client quarantines, not fails
    val quarantined = ocr(keys, classOf[StartFailingOcrClient].getName)
      .filter($"error".isNotNull).collect()
    assert(quarantined.length == 2)
  }

  test("Textract connector: page-2 fetch failure quarantines mid-stream") {
    // fetchPage succeeds for page 1 but throws when the lazy iterator
    // pulls page 2 — i.e. during downstream consumption, outside the
    // per-document try. Must yield page-1 blocks + one error row for
    // the failing doc, and leave the healthy doc untouched.
    val keys = Seq("rawfarmdata/bad.png", "rawfarmdata/ok.png")
    val rows = ocr(keys, classOf[Page2FailingOcrClient].getName).collect()
    val byDoc = rows.groupBy(_.getAs[String]("doc"))
    def error(r: Row) = r.getAs[String]("error")
    val badRows = byDoc("rawfarmdata/bad.png")
    assert(badRows.count(error(_) != null) == 1, "one quarantine row")
    assert(badRows.count(error(_) == null) == 4, "page-1 blocks preserved")
    assert(error(badRows.last) != null, "error row terminates the doc stream")
    assert(byDoc("rawfarmdata/ok.png").forall(error(_) == null))
    assert(byDoc("rawfarmdata/ok.png").length == 6)
  }

  test("output key derivation") {
    assert(BlockSource.deriveOutputKey("rawfarmdata/page 1.png") ==
      "processedfarmdata/page 1.csv")
    assert(BlockSource.deriveOutputKey("a/b/c.d.png") == "processedfarmdata/c.d.csv")
    assert(BlockSource.deriveOutputKey("noext") == "processedfarmdata/noext.csv")
  }

  test("event keys are URL-decoded before derivation (unquote_plus)") {
    // S3 notification encoding: '+' is a space, %XX escapes.
    assert(BlockSource.decodeEventKey("rawfarmdata/page+1.png") ==
      "rawfarmdata/page 1.png")
    assert(BlockSource.decodeEventKey("rawfarmdata/page%201.png") ==
      "rawfarmdata/page 1.png")
    assert(BlockSource.decodeEventKey("rawfarmdata/a%2Bb%26c.png") ==
      "rawfarmdata/a+b&c.png")
    assert(BlockSource.outputKeyForEvent("rawfarmdata/page+1.png") ==
      "processedfarmdata/page 1.csv")
    assert(BlockSource.outputKeyForEvent("raw%2Ffarm/sc%C3%A9ne+2.jpeg") ==
      "processedfarmdata/scéne 2.csv")
  }
}
