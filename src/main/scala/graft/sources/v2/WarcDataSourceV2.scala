package graft.sources.v2

import java.io.{BufferedInputStream, IOException, InputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GzipMembers, MemberStream, ZstdMembers}

/** WARC/1.x as a Spark DataSource V2: `spark.read.format("graft-warc")`.
  *
  * The reference predates WARC — it reads and writes the classic ARC
  * layout (util/ArcFileReader.java:68, util/ArcFileWriter.java:77) —
  * but the corpus it crawls has shipped as WARC (ISO 28500) since 2013,
  * so a drop-in user needs this format first. Same architecture as
  * [[ArcDataSource]]: one file = one input partition, fixed-window
  * streaming inflation over gzip members ([[GzipMembers]]), named-header
  * parse, filter pushdown *before* the record block is touched, column
  * pruning that skips block materialization entirely for metadata-only
  * scans, and the shared name-watermark micro-batch stream.
  *
  * Format notes (public spec, ISO 28500 / WARC-1.1):
  *  - a `.warc.gz` stores each record as its own gzip member (the
  *    member-seekable layout CommonCrawl publishes); the reader also
  *    accepts several records per member, as the spec allows;
  *  - a record is `WARC/1.x CRLF`, named headers, blank line, then
  *    exactly `Content-Length` block bytes, then CRLF CRLF;
  *  - for `response` records the block is an HTTP message — the reader
  *    splits it once and exposes `http_status`, the payload `mime_type`
  *    (HTTP Content-Type, parameters stripped) and the body bytes as
  *    `payload`; for every other record type `payload` is the block
  *    itself. The split only runs when a block-derived column survives
  *    pruning.
  */
class WarcDataSource extends ArchiveDataSource(WarcFormat)

object WarcFormat extends ArchiveFormat {
  override val name: String = "graft-warc"

  /** Header-derived fields are non-null (a record missing a mandatory
    * header is malformed); block-derived fields (`http_status`,
    * `mime_type`, `payload`) are null for records without an HTTP
    * envelope. */
  override val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = true), // warcinfo has no target URI
    StructField("warc_type", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("ip", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("length", LongType, nullable = false),
    StructField("http_status", IntegerType, nullable = true),
    StructField("mime_type", StringType, nullable = true),
    StructField("warc_file", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    // full HTTP response headers, lowercased names, first value wins —
    // the reference extracts the same map to crawl metadata JSON
    // (util/HttpHeaderInfoExtractor.java, ParserMapper
    // .httpHeadersToJsonObject); null for records without an envelope
    StructField("http_headers",
      MapType(StringType, StringType, valueContainsNull = false), nullable = true),
    // every named WARC header of the record, lowercased — the escape
    // hatch for fields outside the typed columns (WARC-Payload-Digest,
    // WARC-Refers-To on revisit records, extension headers)
    StructField("warc_headers",
      MapType(StringType, StringType, valueContainsNull = false), nullable = false),
  ))

  /** Both member codecs; an explicit pathGlobFilter narrows to one. */
  override val defaultNames = """.*\.warc\.(gz|zst)""".r

  override val filters = new HeaderFilters(
    Set("url", "warc_type", "warc_date", "record_id", "ip", "content_type"),
    nullable = true)

  /** Columns that require reading (or splitting) the record block. */
  private[v2] val blockCols =
    Set("content", "payload", "http_status", "mime_type", "http_headers")

  override def newReader(partition: ArchiveInputPartition, conf: Configuration,
      fieldNames: Array[String], pushed: Array[Filter],
      ignoreCorrupt: Boolean): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition, conf, fieldNames, pushed, ignoreCorrupt)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    WarcWriteBuilder(info)
}

/** Streams one WARC file record-by-record. Named headers are parsed and
  * the pushed predicates applied BEFORE the block is read; a rejected
  * record's block bytes are skipped (decompressed but never allocated).
  * The HTTP envelope split runs only when a block-derived column is in
  * the read schema. */
final class WarcPartitionReader(
    partition: ArchiveInputPartition,
    conf: Configuration,
    fieldNames: Array[String],
    pushed: Array[Filter],
    ignoreCorrupt: Boolean = false,
) extends ArchivePartitionReader(WarcFormat, partition, conf, ignoreCorrupt)
    with HeaderValues {

  // member codec by extension: `.warc.zst` = one zstd frame per record
  // (same seekable-offset contract), anything else the gzip layout
  private val members: MemberStream =
    if (partition.path.endsWith(".zst")) new ZstdMembers(raw)
    else new GzipMembers(raw)
  private val needBlock = fieldNames.exists(WarcFormat.blockCols)
  private val needSplit = fieldNames.exists(f =>
    f == "payload" || f == "http_status" || f == "mime_type" || f == "http_headers")
  private var member: InputStream = _
  private var memberStart: Long = 0L
  // the current record's named headers and the typed fields drawn from them
  private var headers: scala.collection.mutable.LinkedHashMap[String, String] = _
  private var url, wtype, date, recId, ip, ctype: String = _
  private var len = 0L

  override def header(col: String): String = col match {
    case "url" => url
    case "warc_type" => wtype
    case "warc_date" => date
    case "record_id" => recId
    case "ip" => ip
    case "content_type" => ctype
  }
  override def recordLength: Long = len

  /** Advance to the next record's `WARC/` magic line, crossing member
    * boundaries; null at end of archive. */
  private def nextMagic(): String = {
    while (true) {
      if (member == null) {
        member = members.nextMember()
        if (member == null) return null
        memberStart = members.memberOffset
      }
      val line = ArchiveIO.readLine(member)
      if (line == null) { member.close(); member = null } // member exhausted
      else if (line.nonEmpty) return line // blank = inter-record CRLFs
    }
    null // unreachable
  }

  /** Parse the named headers after `magic`. Header-level damage leaves
    * the member boundary intact: under ignoreCorruptFiles this returns
    * false, and the scan drops just this record and continues at the
    * next member. */
  private def parseHeaders(magic: String): Boolean =
    try {
      if (!magic.startsWith("WARC/"))
        throw new java.io.IOException(s"not a WARC record header: $magic")
      val h = WarcRecords.readHeaders(member)
      len = WarcRecords.contentLength(h)
      headers = h
      url = h.getOrElse("warc-target-uri", null)
      wtype = h.getOrElse("warc-type", "unknown")
      date = h.getOrElse("warc-date", "")
      recId = h.getOrElse("warc-record-id", "")
      ip = h.getOrElse("warc-ip-address", null)
      ctype = h.getOrElse("content-type", null)
      true
    } catch {
      case e @ (_: java.io.IOException | _: NumberFormatException)
          if ignoreCorrupt =>
        skipMalformed(e)
        if (member != null) { member.close(); member = null }
        false
    }

  override protected def nextRecord(): Boolean = {
    row = null
    while (row == null) {
      val magic = nextMagic()
      if (magic == null) return false
      val offset = memberStart
      if (!parseHeaders(magic)) () // malformed header: record dropped
      else if (!WarcFormat.filters.matches(pushed, this)) {
        ArchiveIO.skipFully(member, len, "WARC block") // block never allocated
      } else {
        val block =
          if (needBlock) ArchiveIO.readFully(member, len, "WARC block")
          else { ArchiveIO.skipFully(member, len, "WARC block"); null }
        // HTTP envelope split (response/request/revisit records carry
        // an application/http block per the spec)
        val (status, mime, payload, httpHeaders) =
          if (needSplit && block != null && ctype != null &&
              ctype.toLowerCase.startsWith("application/http"))
            WarcHttp.split(block, needHeaders = fieldNames.contains("http_headers"))
          else (null, null, block, null)
        val values = new Array[Any](fieldNames.length)
        var i = 0
        while (i < fieldNames.length) {
          values(i) = fieldNames(i) match {
            case "url" => if (url == null) null else UTF8String.fromString(url)
            case "warc_type" => UTF8String.fromString(wtype)
            case "warc_date" => UTF8String.fromString(date)
            case "record_id" => UTF8String.fromString(recId)
            case "ip" => if (ip == null) null else UTF8String.fromString(ip)
            case "content_type" =>
              if (ctype == null) null else UTF8String.fromString(ctype)
            case "length" => len
            case "http_status" => status
            case "mime_type" => mime
            case "warc_file" => fileName
            case "offset" => offset
            case "content" => block
            case "payload" => payload
            case "http_headers" => httpHeaders
            case "warc_headers" =>
              new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  headers.keys.map(UTF8String.fromString).toArray[Any]),
                new org.apache.spark.sql.catalyst.util.GenericArrayData(
                  headers.values.map(UTF8String.fromString).toArray[Any]))
          }
          i += 1
        }
        row = new GenericInternalRow(values)
      }
    }
    true
  }
}

/** Point access to WARC archive bytes: parse the single record whose
  * gzip member starts at `offset` — the random-access read the scan's
  * `offset` column points to (the content-serving path; the reference's
  * query server seeks archive members the same way for page-content
  * fetches, ArcFileReader member seeks). */
object WarcRecords {

  /** The named headers up to the blank line that ends them, names
    * lowercased, in order; a folded continuation line (one that starts
    * with a space or tab — obsolete but legal) joins the header before
    * it. The one header parser of the scan and the point fetch. */
  def readHeaders(in: InputStream): scala.collection.mutable.LinkedHashMap[String, String] = {
    val headers = scala.collection.mutable.LinkedHashMap[String, String]()
    var last: String = null
    var line = ArchiveIO.readLine(in)
    while (line != null && line.nonEmpty) {
      if ((line.head == ' ' || line.head == '\t') && last != null) {
        headers(last) = headers(last) + " " + line.trim
      } else {
        val i = line.indexOf(':')
        if (i < 0) throw new IOException(s"malformed WARC header line: $line")
        last = line.substring(0, i).trim.toLowerCase
        headers(last) = line.substring(i + 1).trim
      }
      line = ArchiveIO.readLine(in)
    }
    headers
  }

  /** The record's block length (`Content-Length`). */
  def contentLength(headers: scala.collection.Map[String, String]): Long =
    headers.getOrElse("content-length",
      throw new IOException("WARC record missing Content-Length")).toLong

  /** (named headers lowercased, block bytes) of the record at `offset`.
    * `offset` must be a gzip member start (the scan's `offset` column);
    * for a member holding several records this returns the FIRST —
    * the published corpus layout is one record per member, which the
    * graft-warc writer also produces. */
  def fetchRecordAt(bytes: Array[Byte], offset: Long)
      : (Map[String, String], Array[Byte]) =
    fetchRecord(new java.io.ByteArrayInputStream(
      bytes, offset.toInt, bytes.length - offset.toInt),
      graft.sources.ZstdMembers.dictAtHead(bytes))

  /** Stream form of [[fetchRecordAt]]: `raw` must be positioned at a
    * member start (e.g. an FSDataInputStream after seek(offset) — the
    * server-side point fetch never reads the whole archive). The member
    * codec is sniffed from the magic bytes (gzip 1f8b / zstd 28b52ffd),
    * so one fetch path serves `.warc.gz` and `.warc.zst` archives.
    * `dict`: the archive's shared zstd dictionary when it has one (the
    * warc-zstd 0x184D2A5D head slot — [[graft.sources.ZstdMembers
    * .dictAtHead]] extracts it); frames written with dictSamples>0
    * carry a Dictionary_ID and fail to inflate without it. Stream
    * callers that only serve `.warc.gz` may omit it. */
  def fetchRecord(raw: InputStream, dict: Array[Byte] = null)
      : (Map[String, String], Array[Byte]) = {
    val pb = new java.io.PushbackInputStream(raw, 4)
    val mg = new Array[Byte](4)
    // InputStream.read may legally return fewer bytes than requested even
    // when more are available; loop until 4 bytes or EOF so the zstd magic
    // sniff never falls through to gzip on a short read.
    var got = 0
    var eof = false
    while (got < 4 && !eof) {
      val n = pb.read(mg, got, 4 - got)
      if (n < 0) eof = true else got += n
    }
    require(got > 0, "empty stream at member offset")
    pb.unread(mg, 0, got)
    val codec: InputStream =
      if (got >= 4 && (mg(0) & 0xff) == 0x28 && (mg(1) & 0xff) == 0xb5 &&
          (mg(2) & 0xff) == 0x2f && (mg(3) & 0xff) == 0xfd) {
        val z = new com.github.luben.zstd.ZstdInputStream(pb)
        if (dict != null) z.setDict(dict) else z
      } else new java.util.zip.GZIPInputStream(pb)
    val in = new BufferedInputStream(codec)
    var magic = ArchiveIO.readLine(in)
    while (magic != null && magic.isEmpty) magic = ArchiveIO.readLine(in)
    require(magic != null && magic.startsWith("WARC/"),
      s"no WARC record at this offset: $magic")
    val headers = readHeaders(in)
    val block = ArchiveIO.readFully(in, contentLength(headers), "WARC block")
    (headers.toMap, block)
  }

  /** The HTTP payload of the record at `offset` (the block itself for
    * records without an envelope). */
  def fetchPayloadAt(bytes: Array[Byte], offset: Long): Array[Byte] =
    fetchPayload(new java.io.ByteArrayInputStream(
      bytes, offset.toInt, bytes.length - offset.toInt),
      graft.sources.ZstdMembers.dictAtHead(bytes))._1

  /** (payload bytes, payload mime) of the record a positioned stream
    * points at — what a content-serving endpoint returns. */
  def fetchPayload(raw: InputStream, dict: Array[Byte] = null)
      : (Array[Byte], String) = {
    val (headers, block) = fetchRecord(raw, dict)
    if (headers.get("content-type").exists(
        _.toLowerCase.startsWith("application/http"))) {
      val (_, mime, payload, _) = WarcHttp.split(block)
      (payload, if (mime == null) "application/octet-stream" else mime.toString)
    } else
      (block, headers.getOrElse("content-type", "application/octet-stream"))
  }
}

/** HTTP message split for response-record blocks (status, payload mime,
  * body) — byte-level, tolerant of LF-only separators. */
private[graft] object WarcHttp {
  /** Returns (http_status | null, mime | null, payload bytes,
    * header map | null — built only when `needHeaders`). */
  def split(block: Array[Byte], needHeaders: Boolean = false)
      : (Integer, UTF8String, Array[Byte],
         org.apache.spark.sql.catalyst.util.ArrayBasedMapData) = {
    val bodyAt = headerEnd(block)
    if (bodyAt < 0) return (null, null, block, null) // no envelope: raw block
    val head = new String(block, 0, bodyAt, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status: Integer = lines.headOption
      .filter(_.startsWith("HTTP/"))
      .flatMap(l => l.split(" ", 3).lift(1))
      .flatMap(s => scala.util.Try(Integer.valueOf(s.trim)).toOption)
      .orNull
    val mime = lines.iterator.drop(1)
      .filter(_.toLowerCase.startsWith("content-type:"))
      .map(_.substring("content-type:".length).trim)
      .map(v => { val i = v.indexOf(';'); if (i >= 0) v.substring(0, i).trim else v })
      .filter(_.nonEmpty)
      .map(UTF8String.fromString)
      .nextOption()
      .orNull
    val headerMap =
      if (!needHeaders) null
      else {
        val seen = scala.collection.mutable.LinkedHashMap[String, String]()
        lines.iterator.drop(1).foreach { l =>
          val i = l.indexOf(':')
          if (i > 0) {
            val k = l.substring(0, i).trim.toLowerCase
            if (!seen.contains(k)) seen(k) = l.substring(i + 1).trim
          }
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            seen.keys.map(UTF8String.fromString).toArray[Any]),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            seen.values.map(UTF8String.fromString).toArray[Any]))
      }
    (status, mime,
      java.util.Arrays.copyOfRange(block, skipSeparator(block, bodyAt), block.length),
      headerMap)
  }

  /** Index of the first header/body separator (CRLFCRLF or LFLF); -1 if
    * absent or the block doesn't start with an HTTP line. */
  private def headerEnd(block: Array[Byte]): Int = {
    if (block.length < 5 || block(0) != 'H' || block(1) != 'T' ||
        block(2) != 'T' || block(3) != 'P') return -1
    var i = 0
    while (i < block.length - 1) {
      if (block(i) == '\n' &&
          (block(i + 1) == '\n' || (i + 2 < block.length &&
            block(i + 1) == '\r' && block(i + 2) == '\n'))) return i
      i += 1
    }
    -1
  }

  private def skipSeparator(block: Array[Byte], at: Int): Int =
    if (block(at + 1) == '\n') at + 2 else at + 3 // \n\n vs \n\r\n
}
