package graft

import java.nio.file.Files

/** Scratch directories for tests that write tables: each one is deleted
  * when its body ends, so a test run leaves nothing in `java.io.tmpdir`. */
object TempDirs {
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
