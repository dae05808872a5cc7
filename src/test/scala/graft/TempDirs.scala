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

/** [[TempDirs]] with the session's `spark.graft.stageDir` pointed at one
  * of them while the suite runs, and restored after it, so the tables
  * and indexes the suite stages are deleted with it. */
trait TempStageDir extends TempDirs { self: org.scalatest.funsuite.AnyFunSuite with SparkSuite =>
  private var savedStageDir: Option[String] = None

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    savedStageDir = spark.conf.getOption(graft.queries.Staging.ConfKey)
    spark.conf.set(graft.queries.Staging.ConfKey, tempDir("graft-stage"))
  }

  override protected def afterAll(): Unit =
    try savedStageDir match {
      case Some(d) => spark.conf.set(graft.queries.Staging.ConfKey, d)
      case None => spark.conf.unset(graft.queries.Staging.ConfKey)
    } finally super.afterAll()
}
