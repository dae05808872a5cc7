package graft.queries

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Staging-directory resolution for persisted indexes, the artifact
  * store ([[ResultCache.getOrBuild]]) and round-trip scratch tables.
  *
  * `java.nio.file.Files.createTempDirectory` is only correct in
  * `local[*]`, where driver and executors share one filesystem; on a
  * real cluster a bucketed table staged under the driver's /tmp is
  * unreadable by executors. The fix is the `checkpointDir` pattern:
  * one session conf, `spark.graft.stageDir`, names a shared-filesystem
  * base (HDFS, s3a, NFS) and every staging site lands under it —
  * resolved through the session's Hadoop conf (see
  * [[graft.sources.HadoopConfs]]) so s3a credentials/endpoints supplied
  * via `spark.hadoop.*` apply.
  *
  * Unset, the base is one local temp root per SparkContext, which this
  * object owns: it is created on first use and deleted, with everything
  * staged under it, when that context stops.
  */
object Staging {

  val ConfKey = "spark.graft.stageDir"

  // the unconfigured root of the one live SparkContext
  private var owned: Option[(SparkContext, String)] = None

  private def tempRoot(sc: SparkContext): String = synchronized {
    owned.collect { case (`sc`, root) => root }.getOrElse {
      val root = java.nio.file.Files.createTempDirectory("graft-stage-").toFile
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          FileUtil.fullyDelete(root)
      })
      owned = Some((sc, root.toString))
      root.toString
    }
  }

  // `name` under the configured base, else under the context's temp root
  private def under(spark: SparkSession, name: String): Path = {
    val p = new Path(spark.conf.getOption(ConfKey).filter(_.nonEmpty)
      .getOrElse(tempRoot(spark.sparkContext)), name)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
  }

  /** A fresh, unique directory for one staging use (the round trips'
    * per-run scratch). */
  def dir(name: String): String = {
    val spark = SparkSession.active
    val p = under(spark, s"graft-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p))
      throw new java.io.IOException(s"Staging.dir: mkdirs failed for $p")
    p.toString
  }

  /** One path per (application, base) for `name`: reruns in one
    * application replace what is staged there in place (the d9/ss9/cu24
    * indexes, i9's page cache, the artifact store), and a base change
    * resolves a fresh path. The writer creates it. */
  def path(spark: SparkSession, name: String): String =
    under(spark, s"graft-$name-${spark.sparkContext.applicationId}").toString
}
