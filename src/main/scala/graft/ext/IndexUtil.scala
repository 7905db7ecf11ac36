package graft.ext

import java.io.File

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
