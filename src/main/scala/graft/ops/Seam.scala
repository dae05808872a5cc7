package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.UdfBridge
import org.apache.spark.sql.types.StructType

/** The per-document decode seam, and the spread that puts it on every
  * core.
  *
  * [[rows]] runs a byte decoder once per input row as one struct-valued
  * expression and selects the struct's fields. Catalyst sees through it:
  * the id passes through as the input attribute, so the partitioning of
  * the input (a [[spread]]) reaches the output, and a later
  * `orderBy(id)` on the same key plans no exchange of its own. An opaque
  * `createDataFrame(rdd)` seam hid that partitioning: the final sort's
  * range exchange sampled its child, so the whole decode ran once more,
  * in one task, before the shuffle ran it again.
  *
  * Rule: spread before per-row CPU work, never in `Registry.table`. A
  * parquet table of the test scales is one row group, so its scan is one
  * task; [[spread]] range-partitions the rows over every core before the
  * decode, and the final sort reuses that exchange. On the ingest
  * benchmark (sf0.1, 4 cores) each decode stage went from 1 task to 4,
  * each decoder from 2 passes per row to 1, and m38 from 4.4 to 1.8 s.
  * A spread in `Registry.table` would put an exchange and a sampling job
  * under every read of the table, including the serving index builds and
  * the small archive round trips, which do no per-row work to spread.
  */
object Seam {

  /** The name the decode expression carries in plans. */
  val UdfName = "graft_seam"

  /** `(id: long, schema…)`, one row per input row: `f(media)`'s fields
    * after `id`. `f` sees a null `media` as no bytes and must return a row
    * of `schema` (its sentinel) for every input; it runs once per row. */
  def rows(df: DataFrame, id: String, media: String, schema: StructType)(
      f: Array[Byte] => Row): DataFrame = {
    val decoded = UdfBridge.struct(UdfName, schema, col(media))(
      (b: Array[Byte]) => f(if (b == null) Array.emptyByteArray else b))
    df.select(col(id).cast("long").as("id"), decoded.as(UdfName))
      .select(col("id") +:
        schema.fieldNames.map(n => col(UdfName).getField(n).as(n)).toSeq: _*)
  }

  /** `df` range-partitioned on `key` over the default parallelism. AQE
    * keeps the partition count of this exchange, its sampler reads the
    * key column only, and projections and generators above keep its
    * ordering, so a final sort on `key` reuses it. */
  def spread(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, col(key))
}
