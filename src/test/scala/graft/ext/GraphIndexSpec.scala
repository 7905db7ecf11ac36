package graft.ext

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The persisted graph layout (round-6 verdict item 3): the stored
  * copurchase/interaction frames must equal the in-session builds
  * row-for-row (the gr_ oracles recompute those builds in DuckDB, so
  * any divergence would go hash-red), a second read must NOT rebuild,
  * and the fingerprint must change when an input file changes.
  */
class GraphIndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("index read equals the in-session builds exactly") {
    val cpStored = GraphIndex.copurchase(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cpBuilt = GraphIndex.buildCopurchase(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cpStored == cpBuilt,
      "stored co-purchase pairs must equal the in-session build")
    assert(cpStored.nonEmpty, "co-purchase graph must be non-empty")
    assert(cpStored.forall { case (a, b, w) => a < b && w >= 2 },
      "stored pairs must be (a < b) with support >= 2")

    val inStored = GraphIndex.interaction(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inBuilt = GraphIndex.buildInteraction(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inStored == inBuilt,
      "stored interaction pairs must equal the in-session build")
    assert(inStored.nonEmpty, "interaction graph must be non-empty")
  }

  test("schema round-trips: stored column types match the build") {
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(sig(GraphIndex.copurchase(spark, sf)) ==
           sig(GraphIndex.buildCopurchase(spark, sf)),
      "parquet round-trip must preserve (name, type) — derived " +
        "parity/symmetrization expressions depend on it")
    assert(sig(GraphIndex.interaction(spark, sf)) ==
           sig(GraphIndex.buildInteraction(spark, sf)))
  }

  test("second read reuses the installed index (no rebuild)") {
    val dir = GraphIndex.store.dir(sf)
    assert(new File(dir, "_GRAFT_OK").exists(),
      "first read must have installed the index")
    val before = new File(dir, "_GRAFT_OK").lastModified()
    GraphIndex.copurchase(spark, sf).count()
    GraphIndex.interaction(spark, sf).count()
    assert(new File(dir, "_GRAFT_OK").lastModified() == before,
      "re-reads must not rewrite the index")
  }

  test("fingerprint tracks input file changes (staleness guard)") {
    val tmp = tempDir("gidx_fp")
    val li = new File(tmp, "lineitem.parquet")
    val or = new File(tmp, "orders.parquet")
    Files.write(li.toPath, "aaaa".getBytes)
    Files.write(or.toPath, "bbbb".getBytes)
    val f1 = GraphIndex.store.fingerprint(tmp.toString)
    assert(f1 == GraphIndex.store.fingerprint(tmp.toString),
      "fingerprint must be deterministic")
    Files.write(li.toPath, "aaaaa".getBytes) // length change
    val f2 = GraphIndex.store.fingerprint(tmp.toString)
    assert(f1 != f2, "a changed input must change the fingerprint " +
      "(a regenerated testdata dir must never read a stale index)")
    li.setLastModified(li.lastModified() + 12345)
    assert(GraphIndex.store.fingerprint(tmp.toString) != f2,
      "an mtime change must change the fingerprint")
  }
}
