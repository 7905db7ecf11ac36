package graft.parity

import scala.collection.mutable.ArrayBuffer

/** The reference's one true "execution state" operator: the sequential
  * record-assembly fold over a page column, plus the gap-based
  * page-line banding that feeds it (SURVEY.md §2.4/§2.5, citing
  * /root/reference/lambda_function.py:455-565 and :605-652).
  *
  * This logic is deliberately pure (Seq in → Seq out) so it can be
  * (a) golden-tested against vectors generated by the reference and
  * (b) used verbatim by the distributed fold, [[DocFoldExec]], which
  * feeds it one (doc, page, side) run of rows at a time — one column is
  * always small (a scanned page), so its state fits trivially in a task
  * while document *count* carries the scale (SURVEY.md §7.4-7).
  */
object RecordFold {

  /** One OCR line after scan-level filtering. `seq` is the Textract
    * block index — the explicit tiebreaker that reproduces Python's
    * stable sort under distribution (SURVEY.md §7.4-1). */
  final case class Line(text: String, page: Int, top: Double,
                        left: Double, seq: Long, pageLine: Int = 1)

  /** An assembled person record (pre-projection). */
  final case class Record(name: String, numbers: Seq[String],
                          page: Int, pageLine: Int)

  /** Vertical gap between consecutive name lines that opens a new
    * page-line band (lambda_function.py:605-652). */
  val bandGap = 0.01

  /** Gap-based page-line banding over one column's lines, already
    * sorted by (top, seq): name lines get a band number that
    * increments when the vertical gap to the previous name line
    * exceeds [[bandGap]]; non-name lines get the constant 1
    * (lambda_function.py:605-652). Python keys its band map by the
    * raw `top` float — on duplicate tops the *last* band wins for all
    * lines at that top — reproduced here. */
  def assignPageLines(sorted: Seq[Line]): Seq[Line] = {
    val nameLines = sorted.filter(l => RefText.startsWithName(l.text))
    val topToBand = scala.collection.mutable.HashMap[Double, Int]()
    var band = 1
    var prevTop = Double.NaN
    for ((nl, i) <- nameLines.zipWithIndex) {
      if (i > 0 && math.abs(nl.top - prevTop) > bandGap) band += 1
      topToBand(nl.top) = band
      prevTop = nl.top
    }
    sorted.map { l =>
      if (RefText.startsWithName(l.text)) l.copy(pageLine = topToBand(l.top))
      else l.copy(pageLine = 1)
    }
  }

  /** The sequential fold — process_column_text_to_records
    * (lambda_function.py:455-565). Input must be in final column
    * order (top asc, seq asc). Three-way classification per line:
    * continuation → merge; name → flush + open; else → salvage-merge
    * only if extraction found any non-dash value. */
  def processColumn(lines: Seq[Line]): Seq[Record] = {
    val records = ArrayBuffer[Record]()
    var current: Record = null

    def flush(): Unit = {
      if (current != null && current.name.nonEmpty) {
        val padded = (current.numbers ++
          Seq.fill(math.max(0, 5 - current.numbers.length))("-")).take(5)
        records += current.copy(numbers = padded)
      }
    }

    for (line <- lines) {
      val text = line.text.trim
      if (RefText.isContinuationLine(text)) {
        if (current != null) {
          val cont = RefText.extractContinuationNumbers(text)
          if (cont.nonEmpty)
            current = current.copy(numbers =
              RefText.mergePositionalData(current.numbers, cont).toSeq)
        } // else: orphan continuation line — dropped (:493-494)
      } else if (RefText.startsWithName(text)) {
        flush()
        val (name, positionData) = RefText.parseStructuredLine(text)
        current = Record(name, positionData.toSeq, line.page, line.pageLine)
      } else {
        // Salvage path (:526-545): merge only if any non-dash extracted
        if (current != null) {
          val potential = RefText.extractContinuationNumbers(text)
          if (potential.nonEmpty && potential.exists(_ != "-"))
            current = current.copy(numbers =
              RefText.mergePositionalData(current.numbers, potential).toSeq)
        }
      }
    }
    flush()
    records.toSeq
  }

  /** Full single-column pipeline: stable sort by (top, seq), banding,
    * fold. [[DocFoldExec]] calls it once per (doc, page, side) run. */
  def foldColumn(lines: Seq[Line]): Seq[Record] = {
    val sorted = lines.sortBy(l => (l.top, l.seq))
    processColumn(assignPageLines(sorted))
  }

  /** Whole-document assembly mirroring textract_to_records
    * (:570-669): page asc, left column
    * (left < [[FarmPipeline.columnThreshold]]) fully, then right. Used by the local oracle and tests; the Spark pipeline
    * reproduces the same order with an explicit sort key. */
  def assembleDocument(lines: Seq[Line]): Seq[Record] =
    lines.groupBy(_.page).toSeq.sortBy(_._1).flatMap { case (_, pageLines) =>
      val (left, right) =
        pageLines.partition(_.left < FarmPipeline.columnThreshold)
      foldColumn(left) ++ foldColumn(right)
    }
}
