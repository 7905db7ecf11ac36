package graft.ext

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Install mechanics of the persisted index layouts: atomic rename,
  * marker-last ordering, and — the round-7 verdict nit — that NO
  * code path leaks a tmp tree under the shared index root (a lost
  * cross-process rename race previously orphaned the loser's
  * fully-built directory; unbounded across runs under contention).
  */
class IndexUtilSpec extends AnyFunSuite with TempDirs {

  private def freshRoot(): File =
    tempDir("graft-indexutil-spec")

  private def write(dir: File, name: String, content: String): Unit = {
    dir.mkdirs()
    Files.write(new File(dir, name).toPath, content.getBytes("UTF-8"))
  }

  private def tmpSiblings(root: File): Seq[String] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.contains(".tmp-")).toSeq

  test("fresh install: dir renamed into place with marker, no tmp left") {
    val root = freshRoot()
    val dir = new File(root, "idx")
    val got = IndexUtil.install(root, dir, tmp => write(tmp, "data", "v1"))
    assert(got === dir)
    assert(new File(dir, "_GRAFT_OK").exists())
    assert(Files.readString(new File(dir, "data").toPath) === "v1")
    assert(tmpSiblings(root).isEmpty)
  }

  test("already installed: returns immediately, build not invoked") {
    val root = freshRoot()
    val dir = new File(root, "idx")
    write(dir, "data", "winner")
    write(dir, "_GRAFT_OK", "")
    var built = false
    val got = IndexUtil.install(root, dir, _ => built = true)
    assert(got === dir && !built)
    assert(Files.readString(new File(dir, "data").toPath) === "winner")
  }

  test("lost rename race: winner's index kept, loser's tmp DELETED") {
    val root = freshRoot()
    val dir = new File(root, "idx")
    val got = IndexUtil.install(root, dir, { tmp =>
      write(tmp, "data", "loser")
      // another process wins the install while our build runs
      write(dir, "data", "winner")
      write(dir, "_GRAFT_OK", "")
    })
    assert(got === dir)
    assert(Files.readString(new File(dir, "data").toPath) === "winner",
      "the winner's complete index must not be clobbered")
    assert(tmpSiblings(root).isEmpty,
      "the race loser's tmp tree must be deleted, not leaked")
  }

  test("stale markerless dir: cleared and replaced by the new build") {
    val root = freshRoot()
    val dir = new File(root, "idx")
    write(dir, "data", "stale-partial") // no _GRAFT_OK
    val got = IndexUtil.install(root, dir, tmp => write(tmp, "data", "v2"))
    assert(got === dir)
    assert(new File(dir, "_GRAFT_OK").exists())
    assert(Files.readString(new File(dir, "data").toPath) === "v2")
    assert(tmpSiblings(root).isEmpty)
  }

  test("failed build: tmp deleted, exception propagates") {
    val root = freshRoot()
    val dir = new File(root, "idx")
    val boom = intercept[RuntimeException] {
      IndexUtil.install(root, dir, { tmp =>
        write(tmp, "partial", "x")
        throw new RuntimeException("decode blew up")
      })
    }
    assert(boom.getMessage === "decode blew up")
    assert(!dir.exists())
    assert(tmpSiblings(root).isEmpty,
      "a failed build must not leak its partial tmp tree")
  }

  test("the four index stores resolve to distinct dirs under one root") {
    val sf = freshRoot().toString
    val dirs = Seq("graph" -> GraphIndex.store, "dedup" -> DedupIndex.store,
      "text" -> TextIndex.store, "mm" -> MmIndex.store)
      .map { case (tag, st) => tag -> st.dir(sf) }
    assert(dirs.map(_._2).distinct.size == 4)
    for ((tag, d) <- dirs) {
      assert(d.getParentFile == IndexUtil.root, s"$tag: $d")
      assert(d.getName.startsWith(s"$tag-"), s"$tag: $d")
    }
  }
}
