package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Dataset, SparkSession}

/** One parsed ARC record (the classic Internet Archive ARC 1.x format the
  * reference crawls into — util/ArcFileReader.java:68,
  * hadoop/io/ARCInputFormat.java:39).
  *
  * ARC layout: a file is a sequence of gzip members; each member inflates
  * to a header line `URL IP-address Archive-date Content-type
  * Archive-length` followed by exactly Archive-length payload bytes. The
  * first record is the filedesc:// version block.
  */
final case class ArcRecord(
    url: String,
    ip: String,
    archiveDate: String,
    mimeType: String,
    length: Long,
    content: Array[Byte],
)

/** S2: ARC source — `binaryFile` scan + a per-file record parser running
  * in `flatMap`, so each archive file is one task and parsing streams
  * (no whole-file in-memory inflation of the payload stream; records are
  * materialized one at a time). An S3 location is just an `s3a://` path
  * to the same reader (S3 source S3 = free in Spark). */
object ArcSource {

  /** Parse a (possibly multi-member) gzipped ARC byte stream. */
  def parseArc(in: InputStream): Iterator[ArcRecord] = new Iterator[ArcRecord] {
    private val gz = new BufferedInputStream(new GZIPInputStream(new BufferedInputStream(in)))
    private var nextRec: ArcRecord = fetch()

    private def readLine(): String = {
      val buf = new ByteArrayOutputStream()
      var b = gz.read()
      while (b != -1 && b != '\n') { buf.write(b); b = gz.read() }
      if (b == -1 && buf.size() == 0) null else buf.toString("UTF-8")
    }

    private def readN(n: Long): Array[Byte] = {
      val out = new Array[Byte](n.toInt)
      var off = 0
      while (off < n) {
        val r = gz.read(out, off, (n - off).toInt)
        if (r < 0) throw new java.io.EOFException(s"ARC payload truncated at $off/$n")
        off += r
      }
      out
    }

    private def fetch(): ArcRecord = {
      var line = readLine()
      // skip blank separators between records
      while (line != null && line.trim.isEmpty) line = readLine()
      if (line == null) return null
      val parts = line.trim.split(" ")
      if (parts.length < 5)
        throw new java.io.IOException(s"malformed ARC header: $line")
      val len = parts(parts.length - 1).toLong
      val rec = ArcRecord(parts(0), parts(1), parts(2), parts(3), len, readN(len))
      rec
    }

    override def hasNext: Boolean = nextRec != null
    override def next(): ArcRecord = {
      val r = nextRec
      nextRec = fetch()
      r
    }
  }

  def parseArcBytes(bytes: Array[Byte]): Iterator[ArcRecord] =
    parseArc(new ByteArrayInputStream(bytes))

  /** Read every ARC file under `path` (glob ok) into a typed Dataset.
    * The version block (filedesc:// record) is dropped. */
  def read(spark: SparkSession, path: String): Dataset[ArcRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.arc.gz")
      .load(path)
      .select("content")
      .as[Array[Byte]]
      .flatMap(bytes => parseArcBytes(bytes))
      .filter(r => !r.url.startsWith("filedesc://"))
  }

  /** (offset, compressedLength) span of every gzip member in a multi-member
    * archive — the seekable positions a content fetch can jump to. Rides
    * [[GzipMembers]]' offset tracking (the one RFC-1952 member walk in
    * this package): each `nextMember()` marks the next member's start, and
    * the terminal call marks the end-of-archive position. */
  def memberSpans(bytes: Array[Byte]): Seq[(Long, Long)] = {
    val members = new GzipMembers(new ByteArrayInputStream(bytes))
    val starts = scala.collection.mutable.ArrayBuffer[Long]()
    var m = members.nextMember()
    while (m != null) {
      starts += members.memberOffset
      m.close() // drains through the member trailer
      m = members.nextMember()
    }
    val end = members.memberOffset // position after the last member
    starts.toSeq.zip(starts.toSeq.drop(1) :+ end).map { case (s, e) => (s, e - s) }
  }

  /** Point content fetch: parse the single record whose gzip member starts
    * at `offset` — the random-access read the `graft-arc` scan's
    * (`arc_file`, `offset`) columns point to. */
  def fetchRecordAt(bytes: Array[Byte], offset: Long): ArcRecord =
    parseArc(new ByteArrayInputStream(
      bytes, offset.toInt, bytes.length - offset.toInt)).next()

  /** Writer for tests/fixtures: one gzip member per record. */
  def writeArc(records: Seq[ArcRecord], withVersionBlock: Boolean = true): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def member(header: String, payload: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(header.getBytes("UTF-8"))
      gz.write('\n')
      gz.write(payload)
      gz.write('\n')
      gz.finish()
    }
    if (withVersionBlock) {
      val vb = "1 0 graft\nURL IP-address Archive-date Content-type Archive-length".getBytes("UTF-8")
      member(s"filedesc://test.arc 0.0.0.0 20080101000000 text/plain ${vb.length}", vb)
    }
    records.foreach { r =>
      member(s"${r.url} ${r.ip} ${r.archiveDate} ${r.mimeType} ${r.content.length}", r.content)
    }
    out.toByteArray
  }
}
