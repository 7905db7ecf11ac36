package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.parity.{FarmPipeline, RecordFold, RefText}

/** The document-ETL calls the benchmark makes, one function per layer,
  * and the driver-side expected output they are checked against. */
object Etl {

  val Header: Seq[String] = Seq("Name", "Alternate Name", "Surname",
    "Given Names", "Suffix", "Acres of Improved Land",
    "Acres of Unimproved Land", "Cash Value of the Farm",
    "Value of Farming Implements and Machinery", "Value of Livestock",
    "Page", "Page Line", "Notes")

  /** sources/: the `graft-ocr` DataSourceV2 read over the in-memory
    * service, in the Textract block shape `FarmPipeline` consumes. */
  def blocks(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.read.format("graft-ocr")
      .option("keys", keys.mkString(","))
      .option("client", classOf[MemOcrClient].getName)
      .load()
      .select(col("doc"), col("seq"), col("BlockType"), col("Text"), col("Page"),
        struct(struct(col("left").as("Left"), col("top").as("Top"),
          lit(0.1).as("Width"), lit(0.01).as("Height")).as("BoundingBox"))
          .as("Geometry"))

  /** The prefixes of the pipeline, in order: source, +lines, +fold,
    * +format. The last is what `FarmPipeline.writeCsv` sinks. */
  def prefixes(spark: SparkSession, keys: Seq[String]): Seq[(String, DataFrame)] = {
    val src = blocks(spark, keys)
    val lines = FarmPipeline.linesFromBlocks(src)
    val records = FarmPipeline.assembleRecords(lines)
    val csv = FarmPipeline.toCsvFormat(records)
    Seq("source" -> src, "lines" -> lines, "fold" -> records.toDF(), "format" -> csv)
  }

  def csvFrame(spark: SparkSession, keys: Seq[String]): DataFrame = prefixes(spark, keys).last._2

  def writeCsv(csv: DataFrame, out: File): Unit = FarmPipeline.writeCsv(csv, out.getPath)

  // ---------------------------------------------------------------
  // Expected output from the golden-tested pure kernels

  /** Column groups of one document as `linesFromBlocks` emits them:
    * LINE blocks, text trimmed, empty and header lines dropped, side
    * from the 0.5 column threshold, keyed by (page, side). `seq`
    * counts every block the service returns, as the source does. */
  def columns(doc: Doc): Seq[((Int, Int), Seq[RecordFold.Line])] = {
    var seq = -1L
    val out = mutable.LinkedHashMap[(Int, Int), mutable.ArrayBuffer[RecordFold.Line]]()
    for (page <- doc.pages; b <- page) {
      seq += 1
      if (b.blockType == "LINE" && b.text != null) {
        val t = b.text.trim
        if (t.nonEmpty && !isHeader(t)) {
          val side = if (b.left < FarmPipeline.columnThreshold) 0 else 1
          out.getOrElseUpdate((b.page, side), mutable.ArrayBuffer())
            .append(RecordFold.Line(t, b.page, b.top, b.left, seq))
        }
      }
    }
    out.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toSeq }
  }

  private def isHeader(t: String): Boolean = {
    val lower = t.toLowerCase(java.util.Locale.ROOT)
    RefText.headerPhrases.exists(lower.contains)
  }

  /** The CSV rows one document must produce, in file order. */
  def expected(doc: Doc): Seq[Seq[String]] =
    columns(doc).flatMap { case (_, lines) =>
      RecordFold.foldColumn(lines).map(r => r.copy(name = r.name.trim))
        .filter(_.name.nonEmpty).map { r =>
          val (sur, given, suffix) = RefText.splitName(r.name)
          val nums = (0 until 5).map { i =>
            r.numbers.lift(i).map(_.trim) match {
              case None | Some("") | Some("None") => "-"
              case Some(v) => v
            }
          }
          Seq(r.name, RefText.extractAlternateName(r.name), sur, given, suffix) ++
            nums ++ Seq(r.page.toString, r.pageLine.toString, "")
        }
    }

  // ---------------------------------------------------------------
  // Reading the sink's files back

  /** One line of the CSV writer's output. Quoted fields may hold
    * commas and backslash-escaped quotes; an unquoted empty field is
    * a null and reads as `null`. */
  def parseCsvLine(line: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    val n = line.length
    var done = false
    while (!done) {
      if (i < n && line.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && line.charAt(i) != '"') {
          if (line.charAt(i) == '\\' && i + 1 < n) i += 1
          sb.append(line.charAt(i)); i += 1
        }
        i += 1 // closing quote
        out += sb.toString
      } else {
        val j = line.indexOf(',', i) match { case -1 => n; case k => k }
        out += (if (j == i) null else line.substring(i, j))
        i = j
      }
      if (i < n && line.charAt(i) == ',') i += 1 else done = true
    }
    out.toSeq
  }

  final case class Readback(files: Int, bytes: Long, rows: Map[String, Seq[Seq[String]]])

  /** Reads every `doc=<key>/part-*.csv` under `out`: header checked,
    * rows kept in file order. A document with other than one file is
    * reported with no rows, so it fails the comparison. */
  def readBack(out: File): Readback = {
    var files = 0
    var bytes = 0L
    val rows = Option(out.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("doc=")).map { d =>
        val parts = Option(d.listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        files += parts.size
        bytes += parts.map(_.length).sum
        val key = d.getName.stripPrefix("doc=")
        if (parts.size != 1) key -> Seq(Seq("<files: " + parts.size + ">"))
        else {
          val lines = new String(Files.readAllBytes(parts.head.toPath), StandardCharsets.UTF_8)
            .split("\n", -1).toSeq.filter(_.nonEmpty)
          val parsed = lines.map(parseCsvLine)
          key -> (if (parsed.headOption.contains(Header)) parsed.tail else Seq(Seq("<bad header>")))
        }
      }.toMap
    Readback(files, bytes, rows)
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Documents whose file rows differ from the expected rows. */
  def mismatches(expected: Map[String, Seq[Seq[String]]], got: Readback): Seq[String] =
    expected.keys.toSeq.sorted.filter(k => !got.rows.get(k).contains(expected(k)))
}
