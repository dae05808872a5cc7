package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

import graft.sources.v2.ArchiveScan

/** Filter pushdown into an archive scan must agree with Spark's own
  * evaluation of the same filter. */
object ArchivePushdown {

  /** For each filter `f` and its pinned pushed filters: `load(dir).filter(f)`
    * returns the same `key` rows as `f` applied to a checkpoint of the
    * unfiltered read (where nothing can be pushed), and the scan claims
    * exactly the pinned filters — sorted `Filter.toString`s joined by
    * "; ", or "<no scan>" when the optimizer folds the scan away. */
  def check(spark: SparkSession, format: String, dir: String, key: Seq[String],
      filters: Seq[Column], pinned: Seq[String]): Unit = {
    assert(filters.length == pinned.length)
    val unpushed = spark.read.format(format).load(dir).localCheckpoint()
    def rows(df: DataFrame): Seq[String] =
      df.select(key.map(col): _*).collect().map(_.toString).sorted.toSeq
    filters.zip(pinned).foreach { case (f, claimed) =>
      val df = spark.read.format(format).load(dir).filter(f)
      val pushed = df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[ArchiveScan].pushed.map(_.toString).sorted.mkString("; ")
      }.headOption.getOrElse("<no scan>")
      assert(pushed == claimed, s"$format pushed filters for $f")
      assert(rows(df) == rows(unpushed.filter(f)), s"$format rows for $f")
    }
  }
}
