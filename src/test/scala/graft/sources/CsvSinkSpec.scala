package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.parity.FarmPipeline

/** [[CsvSink]] against Spark's own partitioned CSV writer, which is
  * the oracle and lives only here: same directories, same bytes file
  * by file, and the job-level overwrite/commit/abort contract. */
class CsvSinkSpec extends AnyFunSuite with SharedSpark {

  /** What `FarmPipeline.writeCsv` wrote before the sink: the same
    * plan into `partitionBy("doc").csv`. */
  private def oracle(result: DataFrame, outPath: String): Unit =
    result
      .repartition(col("doc"))
      .sortWithinPartitions(col("doc"), col("Page"), col("side"), col("idx"))
      .drop("side", "idx")
      .write.mode("overwrite")
      .option("header", true)
      .partitionBy("doc")
      .csv(outPath)

  /** Every file under `root`, by path relative to it. */
  private def tree(root: File): Seq[String] = {
    val walk = Files.walk(root.toPath)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.toPath.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  /** `doc=<key>/part-<partition>` → file bytes (as ISO-8859-1, one char
    * per byte); the job id in the file name differs per write. */
  private def parts(root: File): Map[String, String] =
    tree(root).filter(_.contains("/part-")).map { rel =>
      val Array(dir, name) = rel.split("/", 2)
      s"$dir/${name.take("part-00000".length)}" -> new String(
        Files.readAllBytes(root.toPath.resolve(rel)), StandardCharsets.ISO_8859_1)
    }.toMap

  private def assertSameAsOracle(result: DataFrame): Map[String, String] = {
    val ours = tempDir("csvsink")
    val theirs = tempDir("csvoracle")
    FarmPipeline.writeCsv(result, ours.getPath)
    oracle(result, theirs.getPath)
    val (got, want) = (parts(ours), parts(theirs))
    assert(got.keySet.map(_.takeWhile(_ != '/')) == want.keySet.map(_.takeWhile(_ != '/')),
      "directory names differ from Spark's partitioned writer")
    assert(got.keySet == want.keySet)
    for (k <- want.keys) assert(got(k) == want(k), s"bytes of $k differ")
    assert(tree(ours).filterNot(_.contains("/part-")) == Seq("_SUCCESS"))
    got
  }

  private def stubBlocks(keys: Seq[String]): DataFrame =
    spark.read.format("graft-ocr").option("keys", keys.mkString(","))
      .option("pollDelayMs", "1").load()
      .select(col("doc"), col("seq"), col("BlockType"), col("Text"), col("Page"),
        struct(struct(col("left").as("Left"), col("top").as("Top"),
          lit(0.0).as("Width"), lit(0.0).as("Height")).as("BoundingBox"))
          .as("Geometry"))

  test("FarmPipeline output for the stub documents: same files and bytes as Spark's writer") {
    val keys = (1 to 6).map(i => s"rawfarmdata/farm $i.png")
    val result = FarmPipeline.toCsvFormat(FarmPipeline.assembleRecords(
      FarmPipeline.linesFromBlocks(stubBlocks(keys))))
    val got = assertSameAsOracle(result)
    assert(got.size == keys.size, "one file per document")
  }

  test("awkward values and document keys: same files and bytes as Spark's writer") {
    import spark.implicits._
    val values = Seq("plain", "a,b", "say \"hi\"", "back\\slash", "two\nlines",
      "  padded  ", "", null, "Müller — 東京", "\"quoted, with comma\"")
    val docs = Seq("a/b", "c=d", "e%f", "g:h", "i j", "file:///tmp/in/doc1.json",
      "plain", null, "")
    val rows = for ((d, di) <- docs.zipWithIndex; (v, vi) <- values.zipWithIndex)
      yield (d, v, values((vi + di) % values.size), 1 + vi % 2, (vi + di) % 2, vi)
    // Shuffled, so only the sink's input sort puts each file in order.
    val frame = new scala.util.Random(7).shuffle(rows)
      .toDF("doc", "Name", "Notes", "Page", "side", "idx")
    val got = assertSameAsOracle(frame)
    assert(got.keySet.exists(_.startsWith("doc=__HIVE_DEFAULT_PARTITION__/")))
    assert(got.keySet.exists(_.startsWith("doc=file%3A%2F%2F%2Ftmp%2Fin%2Fdoc1.json/")))
  }

  test("empty input writes only _SUCCESS") {
    import spark.implicits._
    val out = tempDir("csvsink-empty")
    val empty = Seq.empty[(String, String, Int, Int, Int)]
      .toDF("doc", "Name", "Page", "side", "idx")
    FarmPipeline.writeCsv(empty, out.getPath)
    assert(tree(out) == Seq("_SUCCESS"))
  }

  test("overwrite replaces the whole output and leaves no staging directory") {
    import spark.implicits._
    val out = tempDir("csvsink-over")
    val stale = out.toPath.resolve("doc=stale")
    Files.createDirectories(stale)
    Files.write(stale.resolve("part-00000-x.c000.csv"), "old\n".getBytes)
    val frame = Seq(("new", "n", 1, 0, 0)).toDF("doc", "Name", "Page", "side", "idx")
    FarmPipeline.writeCsv(frame, out.toURI.toString) // a file: URI
    assert(!Files.exists(stale), "a stale document directory survived the overwrite")
    assert(tree(out).map(_.takeWhile(_ != '/')) == Seq("_SUCCESS", "doc=new"))
    assert(!out.list().exists(_.startsWith("_temporary")))
  }

  test("a failed write leaves no _SUCCESS, no part file and no staging directory") {
    import spark.implicits._
    val out = tempDir("csvsink-fail")
    val frame = (for (d <- Seq("a", "b", "c"); n <- 1 to 5) yield (d, n, s"v$d$n"))
      .toDF("doc", "n", "v")
    val failing = frame.repartition($"doc").sortWithinPartitions($"doc", $"n")
      // Evaluated in the write stage: rows 1-2 of `b` are already written.
      .withColumn("v", when($"doc" === "b" && $"n" === 3,
        raise_error(lit("injected failure"))).otherwise($"v"))
    val e = intercept[Exception] {
      failing.write.format(classOf[CsvSink].getName).mode("overwrite").save(out.getPath)
    }
    assert(String.valueOf(e.getMessage).contains("injected failure") ||
      String.valueOf(e.getCause).contains("injected failure"), e.toString)
    val left = tree(out)
    assert(!left.contains("_SUCCESS"))
    assert(!left.exists(_.contains("part-")), left.mkString(", "))
    assert(Option(out.list()).toSeq.flatten.forall(!_.startsWith("_temporary")))
  }

  test("a non-local scheme or an append fails before any job") {
    import spark.implicits._
    val frame = Seq(("d", "n")).toDF("doc", "Name")
    val e = intercept[IllegalArgumentException] {
      frame.write.format(classOf[CsvSink].getName).mode("overwrite").save("s3a://bucket/out")
    }
    assert(e.getMessage.contains("'s3a'"))
    val out = tempDir("csvsink-append")
    Files.write(out.toPath.resolve("keep"), Array.emptyByteArray)
    intercept[IllegalArgumentException] {
      frame.write.format(classOf[CsvSink].getName).mode("append").save(out.getPath)
    }
    assert(out.list().toSeq == Seq("keep"), "an append must not touch the output")
    val p: Path = CsvSink.localPath("file:///tmp/x")
    assert(p.toString == "/tmp/x")
  }
}
