package graft.queries

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The build-once artifact store (SURVEY §3.1 steps 2-3): an entry is
  * keyed by a canonical id — a name plus its parameters in sorted order
  * — built once and served many times (reference: Query.getCanonicalId
  * / cachedResultsAvailable, Query.java:596, MasterServer.java:308).
  * [[getOrBuild]] holds the engine's shared artifacts; [[getOrCompute]],
  * its one-DataFrame case, the query server's indexes.
  */
object ResultCache {

  /** Canonical id: stable under parameter reordering. */
  def canonicalId(queryName: String, params: Map[String, String]): String = {
    val canon = queryName + "?" +
      params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    MessageDigest.getInstance("MD5").digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Fingerprint of a data directory: MD5 over the sorted recursive file
    * listing (path, length, mtime). Folded into the canonical id so a
    * cache entry is invalidated when the data under it changes in place —
    * the reference ties cache validity to the database timestamp the same
    * way (MasterServer.java:308 keys results by query + db epoch). */
  def inputFingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val md = MessageDigest.getInstance("MD5")
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
      }
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** In-JVM build locks, striped by path hash: concurrent requests for
    * the SAME unbuilt entry serialize on its build instead of both
    * computing it; distinct entries almost always build in parallel (a
    * stripe collision only serializes, never corrupts). A fixed stripe
    * array replaces the earlier per-path lock map, which grew without
    * bound across distinct cache paths in a long-lived server.
    *
    * Lock-ordering rule: [[getOrCompute]] and [[getOrBuild]] stripe
    * arrays of their own, taken in that order only (an index build may
    * resolve store entries, a store build never pages), and a store
    * builder resolves every entry it reads BEFORE it calls getOrBuild,
    * so store stripes never nest (tri → cocit → edges, hyperball →
    * edges). Colliding stripes thus never deadlock. */
  private val NStripes = 64
  private val cacheLocks = Array.fill(NStripes)(new Object)
  private val storeLocks = Array.fill(NStripes)(new Object)
  private[graft] def stripe(path: String): Int = math.floorMod(path.hashCode, NStripes)

  /** The relation of each published entry, by path, with the mtime of
    * the `_SUCCESS` marker it was read under. A hit served from the
    * record skips parquet schema inference (a Spark job of its own) and
    * the file listing, and its analyzed plan is already resolved. The
    * record is dropped whenever the `_SUCCESS` probe finds its entry
    * missing, and not served when the marker's mtime moved (the entry was
    * rebuilt, by this process or another), so a rebuilt entry is read
    * afresh. A record of one SparkSession is never served to another:
    * that session re-reads the entry with the recorded schema and becomes
    * the record's owner. One small entry per cache path, as the cache dir
    * itself holds one directory per path. */
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()

  /** The store's one publish protocol, under the entry's stripe: on a
    * miss, `build` writes the entry into a private `<path>.build-<uuid>`
    * dir, which is marked `_SUCCESS` and RENAMED into place; then `use`
    * gets the marker's mtime. The marker gates readiness, so a killed
    * build never serves a partial entry, and a hit costs one stat. The
    * probe goes through the Hadoop FileSystem for the path's scheme, so
    * an HDFS/S3 entry (the deployment SURVEY §8 prescribes) is probed
    * where it was actually written.
    *
    * Cross-process safety: on filesystems with atomic directory rename
    * (HDFS, local) another process either sees the complete entry or none
    * — two servers sharing a dir race only on who publishes, never on
    * partial reads. On object stores without atomic rename (raw S3), keep
    * one writer per dir. */
  private def publish[A](spark: SparkSession, path: String, locks: Array[Object])(
      build: String => Unit)(use: Long => A): A = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // the _SUCCESS marker's mtime; None while no entry is published
    def published: Option[Long] =
      try Some(fs.getFileStatus(new Path(p, "_SUCCESS")).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    locks(stripe(path)).synchronized {
      val stamp = published.getOrElse {
        val tmp = new Path(s"$path.build-${java.util.UUID.randomUUID}")
        // Publish via FileContext.rename, whose no-OVERWRITE contract is
        // DEFINED to fail when the destination exists — atomic
        // server-side on HDFS, plain rename(2) on local disks. The
        // FileSystem.rename API must NOT be used here: with an existing
        // destination directory it merges (local) or nests (HDFS) the
        // staging dir into the winner's entry, silently corrupting the
        // cache with a second copy of every row (pinned by
        // ResultCacheSpec's semantics test). Losing the race is fine —
        // the winner's entry is complete or its _SUCCESS probe fails.
        val renameFailure =
          try {
            build(tmp.toString)
            fs.createNewFile(new Path(tmp, "_SUCCESS"))
            org.apache.hadoop.fs.FileContext
              .getFileContext(p.toUri, spark.sessionState.newHadoopConf())
              .rename(tmp, p)
            None
          }
          catch { case e: java.io.IOException => Some(e) }
          finally if (fs.exists(tmp)) fs.delete(tmp, true)
        // A failed rename is benign ONLY as a lost race (the winner's
        // complete entry is in place). A genuine publish failure — FS
        // error, or a legacy/partial destination without _SUCCESS that no
        // rename can ever replace — must surface here, not as a detached
        // read error (or worse, a silently-served stale partial entry).
        published.getOrElse(throw new java.io.IOException(
          s"result-cache publish failed and no complete entry exists at $path" +
            " (destination present without _SUCCESS? remove it manually)",
          renameFailure.orNull))
      }
      use(stamp)
    }
  }

  /** The path of the published entry of `name` over `inputDir`, built
    * once by `build(dir)`, which may write several outputs under `dir`,
    * under the per-application [[Staging.path]] "store". The id folds in
    * the params, the dir and its [[inputFingerprint]], so an input
    * rewritten in place resolves a new entry; a published entry is never
    * rewritten. Retention: nothing deletes an entry before its
    * application's store goes (with the SparkContext when
    * `spark.graft.stageDir` is unset), so each in-place rewrite of an
    * input keeps the superseded entries on disk until then. */
  def getOrBuild(spark: SparkSession, name: String, params: Map[String, String],
      inputDir: String)(build: String => Unit): String = {
    val id = canonicalId(name, params ++ Map(
      "input" -> inputDir, "data" -> inputFingerprint(spark, inputDir)))
    val path = s"${Staging.path(spark, "store")}/$name-$id"
    publish(spark, path, storeLocks)(build)(_ => path)
  }

  /** The store's one-DataFrame case, for the query server: the entry of
    * (query, params) under `cacheDir`; a hit serves its recorded relation. */
  def getOrCompute(spark: SparkSession, cacheDir: String, queryName: String,
      params: Map[String, String])(compute: => DataFrame): DataFrame = {
    val path = s"$cacheDir/${canonicalId(queryName, params)}"
    publish(spark, path, cacheLocks) { tmp =>
      relations.remove(path)
      compute.write.mode("overwrite").parquet(tmp)
    } { stamp =>
      val df = Option(relations.get(path)) match {
        case Some((`stamp`, r)) if r.sparkSession eq spark => r
        case Some((`stamp`, r)) => spark.read.schema(r.schema).parquet(path)
        case _ => spark.read.parquet(path)
      }
      relations.put(path, (stamp, df))
      df
    }
  }
}
