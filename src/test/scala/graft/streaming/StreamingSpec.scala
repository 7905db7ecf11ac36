package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class StreamingSpec extends AnyFunSuite with SharedSpark {

  test("streaming farm pipeline processes new documents end-to-end") {
    val inDir = tempDir("blocks")
    val ckpt = tempDir("ckpt")
    val outDir = tempDir("csv")
    val doc =
      """{"BlockType":"LINE","Text":"John A. Smith, 40, 120, 1500, 75, 300","Page":1,"Geometry":{"BoundingBox":{"Left":0.1,"Top":0.1,"Width":0.1,"Height":0.01}}}
        |{"BlockType":"LINE","Text":"Seymour Grady, 25, -, -","Page":1,"Geometry":{"BoundingBox":{"Left":0.1,"Top":0.15,"Width":0.1,"Height":0.01}}}
        |{"BlockType":"LINE","Text":"800, 40, 150","Page":1,"Geometry":{"BoundingBox":{"Left":0.12,"Top":0.17,"Width":0.1,"Height":0.01}}}""".stripMargin
    Files.writeString(new java.io.File(inDir, "doc1.json").toPath, doc)
    val q = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q.awaitTermination(60000)
    val csvs = spark.read.option("header", true)
      .csv(outDir.getAbsolutePath + "/batch_0")
    val rows = csvs.collect()
    assert(rows.length == 2)
    val grady = rows.find(_.getAs[String]("Name") == "Seymour Grady").get
    assert(grady.getAs[String]("Acres of Improved Land") == "800")
    assert(grady.getAs[String]("Value of Livestock") == "25")

    // Checkpoint restart contract: a second AvailableNow run over the
    // SAME checkpoint must be a no-op for already-committed input (no
    // duplicate batch output), and must pick up exactly the new file.
    val q2 = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q2.awaitTermination(60000)
    assert(!new java.io.File(outDir, "batch_1").exists(),
      "restart with no new input must not emit a batch")
    Files.writeString(new java.io.File(inDir, "doc2.json").toPath, doc)
    val q3 = StreamingOps.farmStream(spark, inDir.getAbsolutePath + "/*.json",
      ckpt.getAbsolutePath, outDir.getAbsolutePath)
    q3.awaitTermination(60000)
    val b1 = spark.read.option("header", true)
      .csv(outDir.getAbsolutePath + "/batch_1").collect()
    assert(b1.length == 2, "restart must process exactly the new document")
  }
}
