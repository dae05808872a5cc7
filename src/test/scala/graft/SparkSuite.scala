package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for integration specs (one per suite). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** A session on the shared context with `spark.graft.checkpointDir`
    * set to a fresh temp dir: the ops run on frames built in it take the
    * reliable-checkpoint path. */
  def checkpointedSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(graft.ops.Iterative.CheckpointDirKey,
      java.nio.file.Files.createTempDirectory("graft_ck").toString)
    s
  }
}
