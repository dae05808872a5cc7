package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY §2.1 S7/S8 + §2.3 J3 bucketed layout). */
object Sinks {

  /** S7: multi-stream sink — one input pass fans records out into one
    * directory per record type (the reference's ParserOutputFormat splits
    * parse output into metadata/text/raw/arc streams the same way;
    * ParserOutputFormat.java:55-81). `partitionBy` keeps it a single
    * write job: no per-stream re-scan of the input. */
  def writeByType(df: DataFrame, typeCol: String, baseDir: String): Unit =
    df.write
      .partitionBy(typeCol)
      .mode("overwrite")
      .parquet(baseDir)

  /** Read one stream back from a multi-stream sink. */
  def readStreamDir(spark: SparkSession, baseDir: String, typeCol: String,
      value: String): DataFrame =
    spark.read.parquet(baseDir).filter(col(typeCol) === value)

  /** S8: time-series append log — append-mode parquet keyed by event
    * time (TimeSeriesDataFile semantics: appendRecordToLogFile,
    * readFromTail). Readers get tail/offset queries; the same directory
    * is a Structured Streaming source for the live path. */
  def appendLog(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** Last n records by (ts, tiebreak) — readFromTail. */
  def readTail(spark: SparkSession, dir: String, tsCol: String,
      tiebreak: String, n: Int): DataFrame =
    spark.read.parquet(dir)
      .orderBy(col(tsCol).desc, col(tiebreak).desc)
      .limit(n)

  /** Records at or after a timestamp — seek-by-offset reads. At scale
    * the directory is partitioned by date so this prunes partitions. */
  def readFrom(spark: SparkSession, dir: String, tsCol: String,
      from: java.sql.Timestamp): DataFrame =
    spark.read.parquet(dir).filter(col(tsCol) >= lit(from))

  /** J3 layout: persist a table bucketed+sorted by a join key. Two
    * tables written with the same bucket spec join with NO shuffle —
    * the reference's "shuffle free reduce" multi-file merge join
    * (MultiFileMergeUtils.java:125, CrawlDBMergeJob.java:296-306) is
    * exactly a bucketed sort-merge join. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    bucketedWriter(df, Seq(key), buckets, None).saveAsTable(table)

  /** [[writeBucketed]] with an explicit storage location (an EXTERNAL
    * bucketed table) — the catalog entry carries the bucket spec, the
    * files live at `path` instead of the session warehouse dir. */
  def writeBucketedAt(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit =
    bucketedWriter(df, Seq(key), buckets, Some(path)).saveAsTable(table)

  /** The files of [[writeBucketedAt]] at `path`, for a later
    * [[registerBucketed]]: dropping the external scratch table keeps them. */
  def writeBucketedFiles(df: DataFrame, key: String, buckets: Int,
      path: String): Unit = {
    val scratch = s"graft_bucketed_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    try writeBucketedAt(df, scratch, key, buckets, path)
    finally df.sparkSession.sql(s"DROP TABLE IF EXISTS $scratch")
  }

  /** Registers the bucketed files at `path` as `table` unless it exists,
    * so the name must identify the files (a concurrent caller's wins). */
  def registerBucketed(spark: SparkSession, table: String, key: String,
      buckets: Int, path: String): Unit =
    if (!spark.catalog.tableExists(table))
      try spark.sql(s"CREATE TABLE IF NOT EXISTS $table (${spark.read.parquet(path).schema.toDDL})" +
        s" USING parquet CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS LOCATION '$path'")
      catch { case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException => }

  /** Append into an EXISTING bucketed table (the bucket spec must match
    * what the table was created with — Spark validates); new files land
    * per bucket, so readers keep their shuffle-free guarantees. */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    bucketedWriter(df, Seq(key), buckets, None, "append").saveAsTable(table)

  /** Multi-column variants: the bucket columns MUST equal the join keys
    * exactly — Spark's default co-partition rule
    * (`requireAllClusterKeysForCoPartition=true`) rejects a partitioning
    * on a strict subset of the join keys for sort-merge co-partitioning,
    * so a table bucketed by one column cannot serve a two-key join
    * shuffle-free. */
  def writeBucketedAt(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, path: String): Unit =
    bucketedWriter(df, keys, buckets, Some(path)).saveAsTable(table)

  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit =
    bucketedWriter(df, keys, buckets, None, "append").saveAsTable(table)

  private def bucketedWriter(df: DataFrame, keys: Seq[String], buckets: Int,
      path: Option[String], mode: String = "overwrite") = {
    val w = df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode(mode)
      .format("parquet")
    path.fold(w)(p => w.option("path", p))
  }

  /** Record operator signature parameters on a saved table. Spark
    * validates the BUCKET spec on append, but not the parameters that
    * shaped the rows (minhash k/bands, IVF codebook size): a mismatched
    * append would silently mix incompatible keys into an index and later
    * probes would just miss duplicates with no error. Writers stamp the
    * parameters as `graft.*` table properties; append/probe paths
    * [[requireTableParams]] against them. */
  def setTableParams(spark: SparkSession, table: String,
      params: Map[String, String]): Unit = {
    val kv = params.toSeq.sorted
      .map { case (k, v) => s"'graft.$k'='$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)")
  }

  /** Fail fast when a caller's signature parameters disagree with the
    * ones the table was created with (see [[setTableParams]]). A table
    * without stamped properties (pre-existing index) passes — the check
    * guards stamped tables, it does not retrofit old ones. */
  def requireTableParams(spark: SparkSession, table: String,
      params: Map[String, String]): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).properties
    params.foreach { case (k, v) =>
      props.get(s"graft.$k").foreach { actual =>
        require(actual == v,
          s"index table $table was written with $k=$actual but this " +
            s"operation was called with $k=$v; mixing the two would " +
            "silently produce incompatible keys")
      }
    }
  }
}
