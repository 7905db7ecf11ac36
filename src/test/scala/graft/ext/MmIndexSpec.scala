package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The persisted multimodal layout: the stored features and verified
  * pHash pairs must equal their in-session builds row for row (the
  * mm_ oracles recompute those builds in DuckDB), with the same
  * (name, type) schema after the parquet round-trip.
  */
class MmIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def sig(df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  test("stored features equal the in-session build exactly") {
    val stored = MmIndex.features(spark, sf)
    val built = MmIndex.buildFeatures(spark, sf)
    val storedRows = rows(stored)
    assert(storedRows == rows(built))
    assert(storedRows.nonEmpty, "feature frame must be non-empty")
    assert(sig(stored) == sig(built))
  }

  test("stored phpairs equal the in-session build exactly") {
    val stored = MmIndex.phpairs(spark, sf)
    val built = MmIndex.buildPhPairs(spark, sf)
    assert(rows(stored) == rows(built))
    assert(sig(stored) == sig(built))
  }
}
