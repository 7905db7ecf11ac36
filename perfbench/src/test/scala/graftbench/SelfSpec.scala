package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark's own parts: the seeded corpus, the
  * registry digest and the output checks that feed `failed`. */
class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session.create(2)
  private val small = Corpus.short.copy(docs = 6)

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives a byte-identical corpus, another seed a different one") {
    val a = Corpus.render(Corpus.generate(42, small))
    assert(a == Corpus.render(Corpus.generate(42, small)))
    assert(a != Corpus.render(Corpus.generate(43, small)))
    assert(Corpus.generate(42, small).forall(_.pages.size == small.pages))
  }

  test("the registry digest ignores row order and sees a changed row") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i, s"v$i", i * 0.5))
    val df = rows.toDF("a", "b", "c")
    val d = Registry.digest(df)
    assert(d.rows == 200)
    assert(Registry.digest(rows.reverse.toDF("a", "b", "c").repartition(7)) == d)
    val changed = Registry.digest(rows.updated(5, (6, "v6x", 3.0)).toDF("a", "b", "c"))
    assert(changed.rows == 200 && changed != d)
    val rec = Registry.Recorded(d.rows, d.hashSum, "exact")
    assert(rec.matches(d) && !rec.matches(changed))
    assert(rec.copy(mode = "count").matches(changed))
  }

  test("CSV lines parse with quotes, escapes and empty fields") {
    assert(Etl.parseCsvLine("a,\"\",b") == Seq("a", "", "b"))
    assert(Etl.parseCsvLine("\"x, y\",\"say \\\"hi\\\"\",") == Seq("x, y", "say \"hi\"", null))
  }

  test("a corrupted output row is counted as a failed document") {
    val corpus = Corpus.generate(7, small)
    MemOcrStore.load(corpus)
    val out = Files.createTempDirectory("perfbench-selftest").toFile
    Etl.writeCsv(Etl.csvFrame(spark, corpus.map(_.key)), out)
    val expected = corpus.map(d => d.key -> Etl.expected(d)).toMap
    assert(expected.values.forall(_.nonEmpty))
    val clean = Etl.readBack(out)
    assert(clean.files == corpus.size)
    assert(Etl.mismatches(expected, clean).isEmpty)

    val victim = new File(out, s"doc=${corpus(2).key}").listFiles()
      .find(_.getName.endsWith(".csv")).get
    val lines = new String(Files.readAllBytes(victim.toPath), StandardCharsets.UTF_8).split("\n")
    lines(1) = lines(1).replaceFirst("^[^,]*", "Corrupted Name")
    Files.write(victim.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.TRUNCATE_EXISTING)
    assert(Etl.mismatches(expected, Etl.readBack(out)) == Seq(corpus(2).key))
  }
}
