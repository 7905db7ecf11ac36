package graft.parity

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference pipeline (blocks → person records → standardized
  * CSV), re-expressed Spark-first (SURVEY.md §3.1-§3.3):
  *
  *   scan-filter-project  → narrow, whole-stage-codegen'd
  *   column-side split    → derived column (threshold 0.5, :572)
  *   page-line banding    → window functions ([[Layout]])
  *   record assembly      → ONE shuffle, by doc: [[DocFold]] folds
  *                          each (doc,page,side) run with [[RecordFold]]
  *   projection + sink    → native exprs + UDF split, one CSV per doc
  *
  * Scale posture: the only wide operation is the clustering by
  * document, which the sink reuses (no second exchange, no second
  * sort). Fold state is one column of one scanned page, a few hundred
  * lines (bounded), while parallelism is O(documents) — the axis that
  * actually grows at 100 TB (SURVEY.md §7.4-7).
  */
object FarmPipeline {

  final case class RecordRow(doc: String, page: Int, side: Int, idx: Int,
                             name: String, numbers: Seq[String], pageLine: Int)

  val columnThreshold = 0.5

  /** Blocks → filtered, projected lines with a column-side label.
    * Mirrors :578-598; all narrow, stays in one codegen stage. */
  def linesFromBlocks(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks
      .filter($"BlockType" === "LINE")
      .withColumn("text", trim($"Text"))
      .filter($"text" =!= "" && !graft.functions.NativeFunctions.isHeader($"text"))
      .select($"doc", $"seq", $"text",
        coalesce($"Page", lit(1)).as("page"),
        coalesce($"Geometry.BoundingBox.Top", lit(0.0)).as("top"),
        coalesce($"Geometry.BoundingBox.Left", lit(0.0)).as("left"))
      .withColumn("side",
        when($"left" < columnThreshold, 0).otherwise(1))
  }

  /** Lines → assembled records: one [[DocFold]], whose input is
    * clustered by `doc` and sorted by `(doc, page, side)`. The single
    * wide stage; its output is already clustered and sorted as
    * [[writeCsv]] needs it. */
  def assembleRecords(lines: DataFrame): Dataset[RecordRow] = DocFold.records(lines)

  /** Records → the reference's 13-column output schema
    * (:720-764). Name splitting via the golden-tested UDF; alternate
    * name and dash-defaulting via native expressions. */
  def toCsvFormat(records: Dataset[RecordRow]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val numericHeaders = Seq(
      "Acres of Improved Land", "Acres of Unimproved Land",
      "Cash Value of the Farm",
      "Value of Farming Implements and Machinery", "Value of Livestock")
    val numCols = numericHeaders.zipWithIndex.map { case (h, i) =>
      val v = trim(element_at($"numbers", i + 1))
      when(v.isNull || v === "" || v === "None", "-").otherwise(v).as(h)
    }
    records.toDF()
      .filter(trim($"name") =!= "")
      .withColumn("name", trim($"name"))
      .withColumn("parts", FarmFunctions.splitNameUdf($"name"))
      .select(Seq(
        $"name".as("Name"),
        FarmFunctions.alternateName($"name").as("Alternate Name"),
        $"parts._1".as("Surname"),
        $"parts._2".as("Given Names"),
        $"parts._3".as("Suffix")) ++
        numCols ++ Seq(
        $"page".as("Page"),
        $"pageLine".as("Page Line"),
        $"doc", $"side", $"idx"): _*)
      .withColumn("Notes", lit(""))
      // Reference output order: page asc, left column fully, then
      // right (:654-666) — per document.
      .orderBy($"doc", $"Page", $"side", $"idx")
  }

  /** End-to-end: blocks → ordered CSV-shape DataFrame. */
  def run(blocks: DataFrame): DataFrame =
    toCsvFormat(assembleRecords(linesFromBlocks(blocks)))
      .drop("doc", "side", "idx")

  /** CSV sink (:769-774): one CSV per document, with header, at
    * `outPath/doc=<escaped key>/part-*.csv`, replacing `outPath` whole.
    * Rows are clustered by document and put back in reference order by
    * the sort keys. On frames built on [[assembleRecords]] Spark plans
    * neither step: the fold's output is already hash-partitioned by
    * `doc` and sorted by those keys, so `EnsureRequirements` drops the
    * repartition and `RemoveRedundantSorts` the sort. Any other frame
    * gets both. [[graft.sources.CsvSink]] writes each document's
    * run to its own file on `java.nio` with Spark's CSV generator, so
    * the bytes are those of `partitionBy("doc")` CSV, without the
    * `.crc` side files Hadoop's local FileSystem adds. */
  def writeCsv(result: DataFrame, outPath: String): Unit =
    result
      .repartition(col("doc"))
      .sortWithinPartitions(col("doc"), col("Page"), col("side"), col("idx"))
      .drop("side", "idx")
      .write.format(classOf[graft.sources.CsvSink].getName)
      .mode("overwrite")
      .save(outPath)
}

/** Window-function formulation of the reference's hand-rolled
  * page-line banding (SURVEY.md §2.5) — the declarative equivalent of
  * what [[RecordFold]] does inside a group. Exposed as a first-class
  * operator so users can run the banding logic over arbitrary line
  * tables without the fold.
  */
object Layout {

  /** Gap-based page-line banding (:605-652): among name lines of a
    * column ordered by (top, seq), a new band opens when the gap to
    * the previous name line exceeds [[RecordFold.bandGap]]; Python's
    * band map is keyed by raw `top` with last-wins on duplicates —
    * reproduced by taking the max band within (column, top); non-name
    * lines get 1.
    */
  def withPageLine(lines: DataFrame): DataFrame = {
    val isName = graft.functions.NativeFunctions.startsWithName(col("text"))
    val wCol = Window.partitionBy(col("doc"), col("page"), col("side"))
      .orderBy(col("top"), col("seq"))
    val gap = abs(col("top") - lag(col("top"), 1).over(wCol))
    val band = sum(when(gap > RecordFold.bandGap, 1).otherwise(0))
      .over(wCol.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1
    val wTop = Window.partitionBy(col("doc"), col("page"), col("side"), col("top"))
    val names = lines.filter(isName)
      .withColumn("band", band)
      .withColumn("band", max(col("band")).over(wTop))
      .select(col("doc"), col("page"), col("side"), col("seq"), col("band"))
    lines.join(names, Seq("doc", "page", "side", "seq"), "left")
      .withColumn("page_line",
        when(isName, col("band")).otherwise(lit(1)).cast("int"))
      .drop("band")
  }
}
