package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a suite: [[tempDir]] makes one under
  * `java.io.tmpdir`, and `afterAll` deletes every one the suite made,
  * so a test run leaves nothing behind. [[SharedSpark]] mixes it in.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = ArrayBuffer.empty[File]

  def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    made += d
    d
  }

  override def afterAll(): Unit =
    try made.foreach(FileUtils.deleteQuietly)
    finally super.afterAll()
}
