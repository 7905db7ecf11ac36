package graft.ext

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The persisted dedup layout: every stored frame must equal its
  * in-session build row-for-row (the dedup_ oracles recompute those
  * builds in DuckDB, so any divergence would go hash-red at the
  * gate), a second read must NOT rebuild, and the fingerprint must
  * change when documents.parquet changes.
  */
class DedupIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("stored signatures equal the in-session build exactly") {
    val stored = rows(DedupIndex.signatures(spark, sf))
    val built = rows(DedupIndex.buildSignatures(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty, "signature frame must be non-empty")
    // every corpus variant is a filter of this frame: all three
    // union arms must be present
    val bases = DedupIndex.signatures(spark, sf)
      .select("base").distinct().collect().map(_.getString(0)).toSet
    assert(bases == Set("nat", "dup10", "near7"))
  }

  test("stored candidates equal the in-session build exactly") {
    val stored = rows(DedupIndex.candidates(spark, sf))
    val built = rows(DedupIndex.buildCandidates(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty, "planted twins must produce candidates")
  }

  test("stored hgrams5 equal the in-session build exactly") {
    val stored = rows(DedupIndex.hgrams5(spark, sf))
    val built = rows(DedupIndex.buildHgrams5(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
  }

  test("stored grams3 equal the in-session build exactly") {
    val stored = rows(DedupIndex.grams3(spark, sf))
    val built = rows(DedupIndex.buildGrams3(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
  }

  test("stored spans equal the in-session build exactly") {
    val stored = rows(DedupIndex.spans(spark, sf))
    val built = rows(DedupIndex.buildSpans(spark, sf))
    assert(stored == built)
    assert(stored.nonEmpty)
    // the planted exact dups guarantee cross-doc spans exist, and
    // the flag must match a from-scratch min≠max replay
    import spark.implicits._
    assert(DedupIndex.spans(spark, sf).filter($"cross").count() > 0,
      "planted twins must produce cross-document spans")
  }

  test("schema round-trips: stored column types match the builds") {
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(sig(DedupIndex.signatures(spark, sf)) ==
           sig(DedupIndex.buildSignatures(spark, sf)),
      "parquet round-trip must preserve (name, type) — banding and " +
        "len/content_hash consumers depend on it")
    assert(sig(DedupIndex.candidates(spark, sf)) ==
           sig(DedupIndex.buildCandidates(spark, sf)))
    assert(sig(DedupIndex.hgrams5(spark, sf)) ==
           sig(DedupIndex.buildHgrams5(spark, sf)))
    assert(sig(DedupIndex.grams3(spark, sf)) ==
           sig(DedupIndex.buildGrams3(spark, sf)))
    assert(sig(DedupIndex.spans(spark, sf)) ==
           sig(DedupIndex.buildSpans(spark, sf)))
  }

  test("second read reuses the installed index (no rebuild)") {
    val dir = DedupIndex.store.dir(sf)
    assert(new File(dir, "_GRAFT_OK").exists(),
      "first read must have installed the index")
    val before = new File(dir, "_GRAFT_OK").lastModified()
    DedupIndex.signatures(spark, sf).count()
    DedupIndex.candidates(spark, sf).count()
    assert(new File(dir, "_GRAFT_OK").lastModified() == before,
      "re-reads must not rewrite the index")
  }

  test("fingerprint tracks documents.parquet changes (staleness guard)") {
    val tmp = tempDir("didx_fp")
    val doc = new File(tmp, "documents.parquet")
    Files.write(doc.toPath, "aaaa".getBytes)
    val f1 = DedupIndex.store.fingerprint(tmp.toString)
    assert(f1 == DedupIndex.store.fingerprint(tmp.toString),
      "fingerprint must be deterministic")
    Files.write(doc.toPath, "aaaaa".getBytes)
    val f2 = DedupIndex.store.fingerprint(tmp.toString)
    assert(f1 != f2, "a changed input must change the fingerprint " +
      "(a regenerated testdata dir must never read a stale index)")
    doc.setLastModified(doc.lastModified() + 12345)
    assert(DedupIndex.store.fingerprint(tmp.toString) != f2,
      "an mtime change must change the fingerprint")
  }
}
