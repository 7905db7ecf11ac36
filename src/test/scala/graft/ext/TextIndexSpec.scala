package graft.ext

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The persisted tokenized-corpus layout: every stored frame must
  * equal its in-session build row-for-row (the txt_ oracles
  * recompute those builds in DuckDB, so any divergence would go
  * hash-red at the gate), a second read must NOT rebuild, and the
  * fingerprint must change when documents.parquet changes.
  */
class TextIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("stored tokens equal the in-session build exactly") {
    val stored = rows(TextIndex.tokens(spark, sf))
    val built = rows(TextIndex.buildTokens(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty, "token stream must be non-empty")
  }

  test("stored bigrams equal the in-session build exactly") {
    val stored = rows(TextIndex.bigrams(spark, sf))
    val built = rows(TextIndex.buildBigrams(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
    // the strict restriction consumers rely on: every doc has an
    // i = 1 row (template openers), and w2 is only NULL on the
    // unigram-fallback row of a one-token doc
    import spark.implicits._
    val bg = TextIndex.bigrams(spark, sf)
    val docs = graft.Tables.documents(spark, sf).count()
    assert(bg.filter($"i" === 1).count() == docs,
      "every doc must carry an opener row")
    assert(bg.filter($"w2".isNull && $"n_toks" >= 2).count() == 0,
      "NULL w2 is reserved for one-token docs")
  }

  test("stored grams3 equal the in-session build exactly") {
    val stored = rows(TextIndex.grams3(spark, sf))
    val built = rows(TextIndex.buildGrams3(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
  }

  test("stored hgrams8 equal the in-session build exactly") {
    val stored = rows(TextIndex.hgrams8(spark, sf))
    val built = rows(TextIndex.buildHgrams8(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
  }

  test("stored docstats equal the in-session build exactly") {
    val stored = rows(TextIndex.docstats(spark, sf))
    val built = rows(TextIndex.buildDocstats(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
  }

  test("schema round-trips: stored column types match the builds") {
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(sig(TextIndex.tokens(spark, sf)) ==
           sig(TextIndex.buildTokens(spark, sf)),
      "parquet round-trip must preserve (name, type) — INT counts " +
        "must stay INT so rewired outputs keep their inline dtypes")
    assert(sig(TextIndex.bigrams(spark, sf)) ==
           sig(TextIndex.buildBigrams(spark, sf)))
    assert(sig(TextIndex.grams3(spark, sf)) ==
           sig(TextIndex.buildGrams3(spark, sf)))
    assert(sig(TextIndex.hgrams8(spark, sf)) ==
           sig(TextIndex.buildHgrams8(spark, sf)))
    assert(sig(TextIndex.docstats(spark, sf)) ==
           sig(TextIndex.buildDocstats(spark, sf)))
  }

  test("second read reuses the installed index (no rebuild)") {
    val dir = TextIndex.store.dir(sf)
    assert(new File(dir, "_GRAFT_OK").exists(),
      "first read must have installed the index")
    val before = new File(dir, "_GRAFT_OK").lastModified()
    TextIndex.tokens(spark, sf).count()
    TextIndex.docstats(spark, sf).count()
    assert(new File(dir, "_GRAFT_OK").lastModified() == before,
      "re-reads must not rewrite the index")
  }

  test("fingerprint tracks documents.parquet changes (staleness guard)") {
    val tmp = tempDir("tidx_fp")
    val doc = new File(tmp, "documents.parquet")
    Files.write(doc.toPath, "aaaa".getBytes)
    val f1 = TextIndex.store.fingerprint(tmp.toString)
    assert(f1 == TextIndex.store.fingerprint(tmp.toString),
      "fingerprint must be deterministic")
    Files.write(doc.toPath, "aaaaa".getBytes)
    val f2 = TextIndex.store.fingerprint(tmp.toString)
    assert(f1 != f2, "a changed input must change the fingerprint " +
      "(a regenerated testdata dir must never read a stale index)")
    doc.setLastModified(doc.lastModified() + 12345)
    assert(TextIndex.store.fingerprint(tmp.toString) != f2,
      "an mtime change must change the fingerprint")
  }
}
