package graft.sources.v2

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, IOException, InputStream}
import java.util.OptionalLong

import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** What one archive format owns. Everything else — provider, table, scan
  * (file listing, one partition per file with its block hosts, size
  * statistics, the micro-batch stream), header-filter pushdown, the
  * partition readers' corruption policy and the write protocol — is
  * shared by `graft-arc` ([[ArcFormat]]) and `graft-warc`
  * ([[WarcFormat]]), as the reference reads every archive through one
  * record reader (ARCInputFormat.java:39 over ArcFileReader.java:68). */
abstract class ArchiveFormat extends Serializable {
  /** The DataSource short name, also the prefix of every log line. */
  def name: String
  /** Full row shape; readers materialize a pruned subset of it. */
  def schema: StructType
  /** File names a scan picks up when no `pathGlobFilter` is given. */
  def defaultNames: Regex
  /** The predicates evaluable on a record's header alone. */
  def filters: HeaderFilters
  def newReader(partition: ArchiveInputPartition, conf: Configuration,
      fieldNames: Array[String], pushed: Array[Filter],
      ignoreCorrupt: Boolean): PartitionReader[InternalRow]
  def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder
}

abstract class ArchiveDataSource(format: ArchiveFormat)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ArchiveTable(format, new CaseInsensitiveStringMap(properties))
}

final class ArchiveTable(format: ArchiveFormat, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"${format.name}(${options.getOrDefault("path", "")})"
  override def schema(): StructType = format.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      // writers provide the record fields; length, file, offset and the
      // like are derived at read time, so the write schema is narrower
      // than the table's (each write builder validates its required set)
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ArchiveScanBuilder(format, opts)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    format.newWriteBuilder(info)
}

final class ArchiveScanBuilder(format: ArchiveFormat, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = format.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition(format.filters.supported)
    pushed = ours
    residual // Spark keeps evaluating only what we can't
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = ArchiveScan(format, options, required, pushed)
}

/** One `InputPartition` per archive file: gzip/zstd members are not
  * splittable without a member index, and that index (the `offset`
  * column) is itself the product of this scan. */
final case class ArchiveScan(
    format: ArchiveFormat,
    options: CaseInsensitiveStringMap,
    required: StructType,
    pushed: Array[Filter],
) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.name} PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  private def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Simple `*`/`?` name glob → regex (the `pathGlobFilter` option). */
  private def globRegex(glob: String): String =
    glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }

  /** Sorted listing of the archives under `path`; also the streaming
    * offset model's view of the directory. */
  def listFiles(): Seq[FileStatus] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(s"${format.name}: 'path' option is required"))
    val nameRe = Option(options.get("pathGlobFilter"))
      .map(g => globRegex(g).r)
      .getOrElse(format.defaultNames)
    val conf = hadoopConf
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    matched.toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }.filter(st => nameRe.matches(st.getPath.getName))
      .sortBy(_.getPath.toString)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = hadoopConf
    listFiles().map { st =>
      val fs = st.getPath.getFileSystem(conf)
      val hosts =
        try fs.getFileBlockLocations(st, 0, st.getLen).flatMap(_.getHosts).distinct
        catch { case _: Exception => Array.empty[String] }
      ArchiveInputPartition(st.getPath.toString, st.getLen, hosts): InputPartition
    }.toArray
  }

  /** Shared by the batch and micro-batch paths. */
  override def createReaderFactory(): PartitionReaderFactory =
    ArchiveReaderFactory(
      format,
      new SerializableConfiguration(hadoopConf),
      required.fieldNames,
      pushed,
      options.getBoolean("ignoreCorruptFiles", false),
    )

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ArcMicroBatchStream(this)

  override def estimateStatistics(): Statistics = {
    val total = listFiles().map(_.getLen).sum
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(total)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }
}

final case class ArchiveInputPartition(path: String, length: Long, hosts: Array[String])
    extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

final case class ArchiveReaderFactory(
    format: ArchiveFormat,
    conf: SerializableConfiguration,
    fieldNames: Array[String],
    pushed: Array[Filter],
    ignoreCorrupt: Boolean,
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.newReader(partition.asInstanceOf[ArchiveInputPartition], conf.value,
      fieldNames, pushed, ignoreCorrupt)
}

/** A record's pushable header values, as the reader holds them. */
trait HeaderValues {
  /** The value of a string header column; null when the record lacks it. */
  def header(col: String): String
  def recordLength: Long
}

/** The predicate subset evaluable on a record's header, before its body
  * is touched: string predicates on `stringCols`, comparisons on
  * `length`, and their boolean combinations. Evaluation follows SQL's
  * three-valued logic, so a missing (null) header never matches a
  * predicate that Spark would reject; formats whose header fields are
  * never null (`nullable = false`) do not claim `IsNull`. */
final class HeaderFilters(stringCols: Set[String], nullable: Boolean)
    extends Serializable {
  private val allCols = stringCols + "length"

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => stringCols(a)
    case StringStartsWith(a, _) => stringCols(a)
    case StringEndsWith(a, _) => stringCols(a)
    case StringContains(a, _) => stringCols(a)
    case In(a, vs) => stringCols(a) && vs.forall(_.isInstanceOf[String])
    case EqualTo(a, _: Long) => a == "length"
    case GreaterThan(a, _: Long) => a == "length"
    case GreaterThanOrEqual(a, _: Long) => a == "length"
    case LessThan(a, _: Long) => a == "length"
    case LessThanOrEqual(a, _: Long) => a == "length"
    case IsNull(a) => nullable && stringCols(a)
    case IsNotNull(a) => allCols(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** True when every pushed filter holds for the record. */
  def matches(filters: Array[Filter], h: HeaderValues): Boolean = {
    var i = 0
    while (i < filters.length) {
      if (eval(filters(i), h) != True) return false
      i += 1
    }
    true
  }

  private final val False = 0
  private final val True = 1
  private final val Unknown = 2

  private def truth(b: Boolean): Int = if (b) True else False

  private def eval(f: Filter, h: HeaderValues): Int = f match {
    case EqualTo(a, v: String) =>
      val s = h.header(a); if (s == null) Unknown else truth(s == v)
    case StringStartsWith(a, p) =>
      val s = h.header(a); if (s == null) Unknown else truth(s.startsWith(p))
    case StringEndsWith(a, x) =>
      val s = h.header(a); if (s == null) Unknown else truth(s.endsWith(x))
    case StringContains(a, x) =>
      val s = h.header(a); if (s == null) Unknown else truth(s.contains(x))
    case In(a, vs) =>
      val s = h.header(a); if (s == null) Unknown else truth(vs.contains(s))
    case EqualTo("length", v: Long) => truth(h.recordLength == v)
    case GreaterThan("length", v: Long) => truth(h.recordLength > v)
    case GreaterThanOrEqual("length", v: Long) => truth(h.recordLength >= v)
    case LessThan("length", v: Long) => truth(h.recordLength < v)
    case LessThanOrEqual("length", v: Long) => truth(h.recordLength <= v)
    case IsNull(a) => truth(h.header(a) == null)
    case IsNotNull(a) => truth(a == "length" || h.header(a) != null)
    case And(l, r) =>
      val x = eval(l, h)
      if (x == False) False
      else { val y = eval(r, h); if (y == False) False else math.max(x, y) }
    case Or(l, r) =>
      val x = eval(l, h)
      if (x == True) True
      else { val y = eval(r, h); if (y == True) True else math.max(x, y) }
    case Not(c) =>
      val x = eval(c, h); if (x == Unknown) Unknown else True - x
    case other =>
      throw new IllegalStateException(s"unpushable filter slipped through: $other")
  }
}

/** The record-stream skeleton of the archive readers: opens the file
  * through a fixed 64 KiB window and applies the corruption policy; the
  * format's `nextRecord` walks members, parses headers, applies the
  * pushed predicates and assembles `row`. */
abstract class ArchivePartitionReader(
    format: ArchiveFormat,
    partition: ArchiveInputPartition,
    conf: Configuration,
    ignoreCorrupt: Boolean,
) extends PartitionReader[InternalRow] {

  private val path = new Path(partition.path)
  protected val raw: InputStream =
    new BufferedInputStream(path.getFileSystem(conf).open(path), 1 << 16)
  protected val fileName: UTF8String = UTF8String.fromString(partition.path)
  protected var row: InternalRow = _

  /** Advance `row` to the next record that passes the pushed filters;
    * false at end of file. */
  protected def nextRecord(): Boolean

  override final def next(): Boolean =
    try nextRecord()
    catch {
      // member-layer damage (bad magic, truncated member, payload EOF,
      // absurd-length allocation): the compressed stream state is
      // unrecoverable, so with ignoreCorruptFiles the REST of this file
      // is skipped and the scan moves on — one bad archive out of a
      // 100 TB crawl must not kill the job. Records already emitted
      // stand; header-level damage is handled per record in
      // nextRecord() (see skipMalformed) without abandoning the file.
      // The catch is limited to the corruption surface (IOException
      // covers EOF/Zip; a garbage length allocation surfaces as
      // NegativeArraySizeException) so a programming error in pushdown
      // or row assembly still fails the task instead of silently
      // dropping the file's records
      case e @ (_: IOException | _: NumberFormatException |
          _: NegativeArraySizeException) if ignoreCorrupt =>
        System.err.println(
          s"${format.name}: skipping corrupt remainder of ${partition.path}: $e")
        false
    }

  /** Header-level damage leaves the member boundary intact: the caller
    * drops just this record (under ignoreCorruptFiles only) and goes on. */
  protected final def skipMalformed(e: Throwable): Unit =
    System.err.println(
      s"${format.name}: skipping malformed record in ${partition.path}: $e")

  override def get(): InternalRow = row
  override def close(): Unit = raw.close()
}

/** The byte-level reads every archive path shares: the partition
  * readers and the WARC point fetch. */
private[v2] object ArchiveIO {

  /** One LF-terminated line without its CR; null at end of stream. */
  def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
    if (b == -1 && buf.size() == 0) return null
    val s = buf.toString("UTF-8")
    if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
  }

  /** Exactly `n` bytes; `what` names them in the truncation error. */
  def readFully(in: InputStream, n: Long, what: String): Array[Byte] = {
    val out = new Array[Byte](n.toInt)
    var off = 0
    while (off < n) {
      val r = in.read(out, off, (n - off).toInt)
      if (r < 0) throw new EOFException(s"$what truncated at $off/$n")
      off += r
    }
    out
  }

  /** Pass over `n` bytes without allocating them. */
  def skipFully(in: InputStream, n: Long, what: String): Unit = {
    var left = n
    while (left > 0) {
      val r = in.skip(left)
      if (r > 0) left -= r
      else if (in.read() >= 0) left -= 1 // skip() can return 0 mid-stream
      else throw new EOFException(s"$what truncated with $left/$n left")
    }
  }
}
