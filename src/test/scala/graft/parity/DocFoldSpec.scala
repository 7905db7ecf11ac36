package graft.parity

import org.apache.spark.sql.graftbridge.BareSession
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.BlockSource
import FarmPipeline.RecordRow

/** [[DocFold]] against the kernel it runs: whatever the row order, the
  * partition count or AQE, `assembleRecords` yields exactly
  * [[RecordFold.foldColumn]] of each `(doc, page, side)` column, with
  * `idx` in fold order. */
class DocFoldSpec extends AnyFunSuite with SharedSpark {

  private type LineTuple = (String, Long, String, Int, Double, Double, Int)

  private val cell: Gen[String] =
    Gen.oneOf(Gen.const("-"), Gen.choose(0, 99999).map(_.toString))

  /** Name, continuation (an orphan when it opens a column), salvage
    * and plain lines. */
  private val text: Gen[String] = Gen.frequency(
    4 -> (for {
      name <- Gen.oneOf("John Smith", "A. B. Stemple", "Robt. Hall Jr.", "Mary (Polly) Ann")
      nums <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, cell))
    } yield (name +: nums).mkString(", ")),
    2 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, cell)).map(_.mkString(", ")),
    1 -> Gen.oneOf("x 450 smudge", "ditto 12 -", "Wayne County", "illegible"))

  /** One column: up to 12 lines; tops on a coarse grid, so duplicate
    * tops are common. Some columns have no name line. */
  private def column(doc: String, page: Int, side: Int): Gen[List[LineTuple]] = for {
    n <- Gen.choose(0, 12)
    noNames <- Gen.frequency(1 -> true, 4 -> false)
    ls <- Gen.listOfN(n, for {
      t <- if (noNames) Gen.oneOf("800, 40", "x 450 smudge", "12") else text
      top <- Gen.choose(0, 20).map(_ / 20.0)
    } yield (doc, 0L, t, page, top, if (side == 0) 0.2 else 0.7, side))
  } yield ls

  private val document: Gen[List[LineTuple]] = for {
    doc <- Gen.frequency(1 -> Gen.const(null: String), 1 -> Gen.const(""),
      4 -> Gen.choose(0, 9).map(i => s"doc $i"))
    pages <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(1, 4))).map(_.distinct)
    cols <- Gen.sequence[List[List[LineTuple]], List[LineTuple]](
      for (p <- pages; s <- Seq(0, 1)) yield column(doc, p, s))
  } yield cols.flatten

  /** Documents, `seq` numbered across all lines, rows shuffled. */
  private val corpus: Gen[List[LineTuple]] = for {
    docs <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, document))
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(docs.flatten.zipWithIndex.map {
    case (l, i) => l.copy(_2 = i.toLong)
  })

  private def expected(rows: Seq[LineTuple]): Seq[RecordRow] =
    rows.groupBy(r => (r._1, r._4, r._7)).toSeq.flatMap { case ((doc, page, side), ls) =>
      RecordFold.foldColumn(ls.map(l => RecordFold.Line(l._3, l._4, l._5, l._6, l._2)))
        .zipWithIndex.map { case (r, i) =>
          RecordRow(doc, page, side, i, r.name, r.numbers, r.pageLine)
        }
    }

  private def sorted(rs: Seq[RecordRow]): Seq[RecordRow] =
    rs.sortBy(r => (Option(r.doc), r.page, r.side, r.idx))

  test("assembleRecords equals foldColumn per (doc, page, side) at 1, 3 and 7 partitions, AQE on and off") {
    import spark.implicits._
    // No shrinking: each candidate runs six Spark jobs.
    val prop = Prop.forAllNoShrink(corpus) { rows =>
      val want = sorted(expected(rows))
      val lines = rows.toDF("doc", "seq", "text", "page", "top", "left", "side")
      (for (parts <- Seq(1, 3, 7); aqe <- Seq("true", "false")) yield
        withConf("spark.sql.shuffle.partitions" -> parts.toString,
                 "spark.sql.adaptive.enabled" -> aqe) {
          val got = sorted(FarmPipeline.assembleRecords(lines).collect().toSeq)
          Prop(got == want) :| s"partitions=$parts aqe=$aqe"
        }).reduce(_ && _)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("without GraftExtensions, assembleRecords fails while the query is built, naming it") {
    val bare = BareSession(spark.sparkContext)
    val lines = FarmPipeline.linesFromBlocks(BlockSource.fromRows(bare,
      Seq(("d", 0L, "LINE", "John Smith, 40", 1, 0.1, 0.1))))
    val e = intercept[IllegalStateException](FarmPipeline.assembleRecords(lines))
    assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
  }
}
