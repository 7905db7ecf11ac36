package graftbench

import java.util.SplittableRandom

/** One OCR block as the service returns it: (BlockType, Text, Page,
  * Left, Top), the tuple shape of `TextractConnector.OcrClient`. */
final case class Block(blockType: String, text: String, page: Int,
                       left: Double, top: Double) {
  def tuple: (String, String, Int, Double, Double) =
    (blockType, text, page, left, top)
}

/** A scanned document: `pages(i)` holds the blocks of page i + 1, in
  * the order the OCR service returns them. */
final case class Doc(key: String, pages: Vector[Vector[Block]]) {
  def blockCount: Int = pages.map(_.size).sum
}

/** Seeded generator of 1860 agricultural-census scans in Textract
  * block form: a header line and one PAGE block per page, then two
  * columns of name lines carrying up to five numbers, with
  * continuation lines (orphaned numbers) and smudge lines mixed in.
  *
  * A [[Shape]] fixes documents, pages per document and names per
  * column; `short` is many 2-page documents with 10-15 names per
  * column (the `doc_blocks` shape of tools/bench_parity.py). Every
  * value is a function of (seed, shape, document index) only.
  */
object Corpus {

  val Names: Vector[String] = Vector(
    "Seymour Grady", "John A. Smith", "Mary Hall", "Robt. Stemple Jr.",
    "Wm. Jones", "A. B. Carter", "O'Brien Murphy", "Jacob van Berg",
    "Mary (Polly) Hall", "Jas. Wilson Sr.")
  val Headers: Vector[String] = Vector(
    "Wayne County West Virginia", "Agricultural Census 1860",
    "Name of Owner", "CASH VALUE of farm")

  final case class Shape(name: String, docs: Int, pages: Int,
                         minNames: Int, maxNames: Int)

  val short: Shape = Shape("short", docs = 120, pages = 2, minNames = 10, maxNames = 15)

  /** SplitMix64 finalizer, so neighbouring (seed, doc) pairs get
    * unrelated streams. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def doc(seed: Long, shape: Shape, d: Int): Doc = {
    val rng = new SplittableRandom(mix(mix(seed) ^ (d.toLong * 31 + shape.name.hashCode)))
    def pick[A](xs: Vector[A]): A = xs(rng.nextInt(xs.size))
    def nums(lo: Int, hi: Int, maxV: Int): String =
      Seq.fill(rng.nextInt(lo, hi + 1))(rng.nextInt(1, maxV + 1)).mkString(", ")
    val pages = (1 to shape.pages).map { page =>
      val b = Vector.newBuilder[Block]
      b += Block("PAGE", null, page, 0.0, 0.0)
      b += Block("LINE", pick(Headers), page, 0.3, 0.01)
      for ((x, _) <- Seq(0.08 -> 0, 0.58 -> 1)) {
        var top = 0.05
        val step = 0.9 / (shape.maxNames * 1.6)
        val n = rng.nextInt(shape.minNames, shape.maxNames + 1)
        for (_ <- 0 until n) {
          val name = pick(Names)
          val ns = nums(0, 5, 9999)
          b += Block("LINE", if (ns.isEmpty) name else s"$name, $ns", page, x, top)
          top += step
          if (rng.nextDouble() < 0.4) { // continuation line
            b += Block("LINE", nums(1, 4, 999), page, x + 0.02, top)
            top += step
          }
          if (rng.nextDouble() < 0.15) { // smudge: salvaged or dropped
            b += Block("LINE", s"x ${rng.nextInt(100, 1000)} smudge", page, x, top)
            top += step
          }
        }
      }
      b.result()
    }.toVector
    Doc(f"d$d%05d", pages)
  }

  def generate(seed: Long, shape: Shape): Vector[Doc] =
    (0 until shape.docs).map(doc(seed, shape, _)).toVector

  /** Canonical text form of a corpus, for byte-identity checks. */
  def render(docs: Seq[Doc]): String = {
    val sb = new StringBuilder
    for (d <- docs; page <- d.pages; b <- page)
      sb.append(d.key).append('\t').append(b.blockType).append('\t')
        .append(b.text).append('\t').append(b.page).append('\t')
        .append(b.left).append('\t').append(b.top).append('\n')
    sb.toString
  }
}
