package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.GzipMembers

/** S2 as a first-class Spark DataSource V2: `spark.read.format("graft-arc")`.
  *
  * The reference reads ARC archives with a record-oriented InputFormat
  * (hadoop/io/ARCInputFormat.java:39, util/ArcFileReader.java:68). The
  * Spark-native re-expression is a `TableProvider` whose scan (shared
  * with `graft-warc`, see [[ArchiveScan]]):
  *
  *  - **streams** each archive through a fixed 64 KiB window (no whole-file
  *    `binaryFile` buffering, no 2 GiB ceiling — a 100 TB crawl is many
  *    multi-GiB archives);
  *  - **prunes columns**: a metadata-only query (`url`, `mime_type`,
  *    `length`, `offset`…) never allocates payload byte arrays — the
  *    member is drained, not materialized;
  *  - **pushes filters**: url/ip/date/mime string predicates and `length`
  *    comparisons are evaluated on the 5-field header line *before* the
  *    payload is touched, so a `mime_type = 'text/html'` scan skips the
  *    bytes of every non-HTML record;
  *  - reports per-file **preferred locations** (HDFS block hosts) and
  *    **statistics** (compressed size) so Spark can schedule for locality
  *    and size joins.
  *
  * Its (`url`, `arc_file`, `offset`, `length`) columns are the seekable
  * content index a point fetch ([[graft.sources.ArcSource.fetchRecordAt]])
  * jumps into, mirroring the reference's seekable member model.
  */
class ArcDataSource extends ArchiveDataSource(ArcFormat)

object ArcFormat extends ArchiveFormat {
  override val name: String = "graft-arc"

  override val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("ip", StringType, nullable = false),
    StructField("archive_date", StringType, nullable = false),
    StructField("mime_type", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("arc_file", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
  ))

  override val defaultNames = """.*\.arc\.gz""".r

  override val filters = new HeaderFilters(
    Set("url", "ip", "archive_date", "mime_type"), nullable = false)

  override def newReader(partition: ArchiveInputPartition, conf: Configuration,
      fieldNames: Array[String], pushed: Array[Filter],
      ignoreCorrupt: Boolean): PartitionReader[InternalRow] =
    new ArcPartitionReader(partition, conf, fieldNames, pushed, ignoreCorrupt)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    ArcWriteBuilder(info)
}

/** Streams one archive file member-by-member; parses the 5-field ARC header
  * line, applies the pushed predicates, and only then (and only if the
  * `content` column is required) materializes payload bytes. */
final class ArcPartitionReader(
    partition: ArchiveInputPartition,
    conf: Configuration,
    fieldNames: Array[String],
    pushed: Array[Filter],
    ignoreCorrupt: Boolean = false,
) extends ArchivePartitionReader(ArcFormat, partition, conf, ignoreCorrupt)
    with HeaderValues {

  private val members = new GzipMembers(raw)
  // the current record's header tokens (url ip date mime … length)
  private var parts: Array[String] = _
  private var len = 0L

  override def header(col: String): String = col match {
    case "url" => parts(0)
    case "ip" => parts(1)
    case "archive_date" => parts(2)
    case "mime_type" => parts(3)
  }
  override def recordLength: Long = len

  /** Tokenize a header line into `parts`/`len`. Header-level damage
    * (wrong token count, non-numeric length) is member-level: the gzip
    * boundary is intact, so under ignoreCorruptFiles this returns false
    * and just this record is dropped. */
  private def parseHeader(line: String): Boolean =
    try {
      val p = line.trim.split(" ")
      if (p.length < 5)
        throw new java.io.IOException(s"malformed ARC header: $line")
      len = p(p.length - 1).toLong
      parts = p
      true
    } catch {
      case e @ (_: java.io.IOException | _: NumberFormatException)
          if ignoreCorrupt =>
        skipMalformed(e)
        false
    }

  override protected def nextRecord(): Boolean = {
    row = null
    while (row == null) {
      val member = members.nextMember()
      if (member == null) return false
      val offset = members.memberOffset
      val line = ArchiveIO.readLine(member)
      if (line == null || line.trim.isEmpty || !parseHeader(line) ||
          parts(0).startsWith("filedesc://") || // version block
          !ArcFormat.filters.matches(pushed, this)) {
        member.close() // drained to the boundary; payload never materialized
      } else {
        val values = new Array[Any](fieldNames.length)
        var i = 0
        while (i < fieldNames.length) {
          values(i) = fieldNames(i) match {
            case "url" => UTF8String.fromString(parts(0))
            case "ip" => UTF8String.fromString(parts(1))
            case "archive_date" => UTF8String.fromString(parts(2))
            case "mime_type" => UTF8String.fromString(parts(3))
            case "length" => len
            case "arc_file" => fileName
            case "offset" => offset
            case "content" => ArchiveIO.readFully(member, len, "ARC payload")
          }
          i += 1
        }
        member.close() // drain the record separator / remainder
        row = new GenericInternalRow(values)
      }
    }
    true
  }
}
