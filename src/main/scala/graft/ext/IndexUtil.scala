package graft.ext

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables

/** Shared install mechanics for the persisted index layouts
  * ([[GraphIndex]] / [[DedupIndex]] / [[TextIndex]] / [[MmIndex]]):
  * build under a unique tmp dir, atomically rename into place with
  * the `_GRAFT_OK` marker written last, and NEVER leak a tmp tree —
  * a failed build, a failed retry, and a lost cross-process install
  * race all delete the loser's directory. (Before this helper each
  * index left its fully-built `tmp-…` tree orphaned under the shared
  * index root whenever another process won the rename — harmless per
  * run, unbounded across runs under contention.)
  */
private[ext] object IndexUtil {

  /** The one index root every [[Store]] installs under:
    * `SPARK_GRAFT_INDEX_DIR`, else `<java.io.tmpdir>/graft-index`. */
  def root: File = new File(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    s"${sys.props("java.io.tmpdir")}/graft-index"))

  private[ext] def rm(f: File): Unit = {
    if (f.isDirectory) {
      val cs = f.listFiles()
      if (cs != null) cs.foreach(rm)
    }
    f.delete()
  }

  /** Install `dir` atomically under `root`: if the `_GRAFT_OK` marker
    * already exists, return `dir` untouched; otherwise run
    * `build(tmp)` against a unique tmp dir, write the marker, and
    * rename tmp → dir.
    *
    * Failure handling (all paths delete the tmp tree):
    *  - rename fails and the winner's marker exists → a concurrent
    *    process installed first; DELETE our duplicate build and use
    *    the winner's dir.
    *  - rename fails with no marker → a stale/partial `dir` blocks
    *    the rename; clear it and retry once, then give up loudly.
    *  - `build` throws → tmp is deleted and the exception propagates.
    */
  def install(root: File, dir: File, build: File => Unit): File = {
    val ok = new File(dir, "_GRAFT_OK")
    if (ok.exists()) return dir
    root.mkdirs()
    val tmp = new File(root, s"${dir.getName}.tmp-${System.nanoTime()}")
    try {
      build(tmp)
      new File(tmp, "_GRAFT_OK").createNewFile()
      if (!tmp.renameTo(dir)) {
        if (ok.exists()) {
          rm(tmp) // lost the race; the winner's index is complete
        } else {
          rm(dir) // stale partial dir without a marker: clear + retry
          if (!tmp.renameTo(dir)) {
            rm(tmp)
            // A concurrent process may have installed a complete index
            // between our rm(dir) and the retry rename — fall back to
            // the winner's dir rather than failing a valid install.
            if (!ok.exists())
              throw new IllegalStateException(s"cannot install index at $dir")
          }
        }
      }
      dir
    } catch {
      case e: Throwable => rm(tmp); throw e
    }
  }
}

/** One persisted frame of a [[Store]], written
  * `repartition(parts, key).sortWithinPartitions(sort*)` so downstream
  * joins read co-located, sorted runs. `build` receives the install's
  * tmp dir so a frame can derive from a frame written before it. */
private[graft] final case class Frame(
    name: String, parts: Int, key: String, sort: Seq[String],
    build: (SparkSession, String, File) => DataFrame)

/** A persisted index family: its frames are written ONCE per testdata
  * fingerprint into `<root>/<tag>-<fingerprint>` and read by every
  * query after.
  *
  * Freshness: the fingerprint is an md5 over `<tag>-v<version>` and
  * (relative path, length, mtime) of every file under `inputs`,
  * recursively — a regenerated testdata dir or a changed build never
  * reads a stale index, it builds a sibling directory. `inputs` must
  * name every table any frame reads, and `version` is bumped whenever
  * a stored schema or derivation changes. Atomicity is
  * [[IndexUtil.install]]'s.
  */
private[graft] final class Store(tag: String, version: Int,
    inputs: Seq[String], frames: Seq[Frame]) {

  def fingerprint(sfDir: String): String = {
    val md = MessageDigest.getInstance("MD5")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    add(s"$tag-v$version")
    inputs.foreach { n =>
      add(n)
      Tables.files(new File(sfDir, n), n).foreach(add)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def dir(sfDir: String): File =
    new File(IndexUtil.root, s"$tag-${fingerprint(sfDir)}")

  /** Builds every frame on first use. Synchronized: queries run
    * sequentially in this engine's drivers, but a stray concurrent
    * caller must not race the same JVM; cross-JVM races resolve via
    * the rename. */
  private def ensure(s: SparkSession, sfDir: String): File = synchronized {
    IndexUtil.install(IndexUtil.root, dir(sfDir), { tmp =>
      frames.foreach { f =>
        f.build(s, sfDir, tmp)
          .repartition(f.parts, col(f.key))
          .sortWithinPartitions(f.sort.map(col): _*)
          .write.mode("overwrite").parquet(s"$tmp/${f.name}")
      }
    })
  }

  /** The stored frame `name`, read from the persisted layout. */
  def read(s: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.parquet(s, s"${ensure(s, sfDir)}/$name")
}
