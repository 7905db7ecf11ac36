package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion of Textract-shaped Block rows (SURVEY.md §1.1-A, citing
  * the subset of the public Amazon Textract Block object the
  * reference reads: /root/reference/lambda_function.py:84-91,578-590).
  *
  * Primary offline path: JSON block dumps, one JSON object per block,
  * one file per document. A `doc` column (source file) and a `seq`
  * column (block position) are attached at ingest — `seq` is the
  * explicit order tiebreaker that makes downstream sorts reproduce
  * the reference's stable in-memory ordering under distribution
  * (SURVEY.md §7.4-1).
  */
object BlockSource {

  /** Nested StructType mirroring the Textract Block subset. */
  val blockSchema: StructType = StructType(Seq(
    StructField("BlockType", StringType),
    StructField("Text", StringType),
    StructField("Page", IntegerType),
    StructField("Geometry", StructType(Seq(
      StructField("BoundingBox", StructType(Seq(
        StructField("Left", DoubleType),
        StructField("Top", DoubleType),
        StructField("Width", DoubleType),
        StructField("Height", DoubleType)))))))))

  /** Build a blocks DataFrame from in-memory rows (tests, connector). */
  def fromRows(spark: SparkSession,
               rows: Seq[(String, Long, String, String, Int, Double, Double)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("doc", "seq", "BlockType", "Text", "Page", "left_", "top_")
      .select($"doc", $"seq", $"BlockType", $"Text", $"Page",
        struct(struct($"left_".as("Left"), $"top_".as("Top"),
          lit(0.1).as("Width"), lit(0.01).as("Height")).as("BoundingBox"))
          .as("Geometry"))
  }

  /** S3 event keys arrive URL-encoded (spaces as `+`, specials as
    * `%XX` — the notification format), so the raw key must be decoded
    * before any object access or output-key derivation
    * (lambda_function.py:789's unquote_plus). */
  def decodeEventKey(rawKey: String): String =
    java.net.URLDecoder.decode(rawKey, java.nio.charset.StandardCharsets.UTF_8)

  /** Output-key derivation (lambda_function.py:811-813):
    * `rawfarmdata/x.png` → `processedfarmdata/x.csv`. Pass S3 event
    * keys through [[decodeEventKey]] first. */
  def deriveOutputKey(key: String, outPrefix: String = "processedfarmdata/"): String = {
    val base = key.split("/").last
    val stem = base.lastIndexOf('.') match {
      case -1 => base
      case i  => base.substring(0, i)
    }
    s"$outPrefix$stem.csv"
  }

  /** The full event-key → output-key chain as the reference composes
    * it: URL-decode then derive. */
  def outputKeyForEvent(rawKey: String,
                        outPrefix: String = "processedfarmdata/"): String =
    deriveOutputKey(decodeEventKey(rawKey), outPrefix)
}
