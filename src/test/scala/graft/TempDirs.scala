package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a suite creates through [[tempDir]], deleted when the suite
  * ends, so a run leaves none of them in the system temp dir. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir, named `prefix` and a
    * random suffix, deleted after the suite's last test. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try dirs.forEach(d => TempDirs.deleteTree(d)) finally super.afterAll()
}

object TempDirs {
  /** Delete `root` and everything under it; a missing root is a no-op. */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val files = Files.walk(root)
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally files.close()
  }
}
