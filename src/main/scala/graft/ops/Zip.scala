package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** ZIP container census — entry count, size totals, compression-ratio
  * bomb signal, document-kind classification (OOXML / EPUB / plain),
  * and stored-entry CRC verification. A large share of crawl "binary"
  * traffic is ZIP in disguise: docx/xlsx/pptx (OOXML), epub, jar — the
  * reference records the outer mime (`ParserMapper.java:941-1101`) and
  * stops. A corpus pipeline needs the census before extraction: bomb
  * ratios gate decompression, the kind routes the file to the right
  * text extractor, CRC mismatches mark truncated fetches.
  *
  * APPNOTE.TXT layout (public spec): End-Of-Central-Directory record
  * (PK\5\6) found by bounded backward scan (it may be followed by a
  * comment), then the central directory (PK\1\2 entries carrying name,
  * method, sizes, CRC, local-header offset), then per-entry local
  * headers (PK\3\4) for data access. Every offset/length is untrusted:
  * bounds-checked against the file, entry counts and name lengths
  * budgeted, the walk never inflates anything (census only; STORED
  * entries are CRC-checked byte-for-byte, DEFLATE data is only sized).
  */
object Zip {

  private[graft] final case class Meta(
      kind: String, nEntries: Long, sumComp: Long, sumUncomp: Long,
      maxRatioPpm: Long, nStored: Long, nDeflate: Long,
      firstName: String, crcOk: Boolean)

  private val MaxEntries = 1 << 16
  private val MaxNameLen = 4096

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  /** One central-directory record. */
  private[graft] final case class Entry(name: String, method: Int, crc: Long,
      comp: Long, uncomp: Long, lho: Long)

  /** The central directory of a single-disk archive, in record order:
    * the EOCD record found by bounded backward scan (a comment can
    * trail it; the spec caps the comment at 64K), then the PK\1\2
    * records it points at, entry count and name length budgeted. Null
    * on any malformed structure. */
  private[graft] def centralDirectory(bytes: Array[Byte]): Vector[Entry] = {
    if (bytes == null || bytes.length < 22) return null
    val n = bytes.length
    var eocd = -1
    var i = n - 22
    val stop = math.max(0, n - 22 - 65535)
    while (eocd < 0 && i >= stop) {
      if (i32le(bytes, i) == 0x06054b50 && i + 22 + u16le(bytes, i + 20) == n) eocd = i
      i -= 1
    }
    if (eocd < 0) return null
    val total = u16le(bytes, eocd + 10)
    if (u16le(bytes, eocd + 8) != total) return null // single-disk archives only
    if (total > MaxEntries) return null
    val cdSize = u32le(bytes, eocd + 12)
    val cdOff = u32le(bytes, eocd + 16)
    if (cdOff + cdSize > eocd) return null
    var p = cdOff.toInt
    val cdEnd = (cdOff + cdSize).toInt
    val out = Vector.newBuilder[Entry]
    var k = 0
    while (k < total) {
      if (p + 46 > cdEnd || i32le(bytes, p) != 0x02014b50) return null
      val nameLen = u16le(bytes, p + 28)
      val extraLen = u16le(bytes, p + 30)
      val cmtLen = u16le(bytes, p + 32)
      if (nameLen > MaxNameLen || p + 46 + nameLen + extraLen + cmtLen > cdEnd)
        return null
      out += Entry(new String(bytes, p + 46, nameLen, "UTF-8"), u16le(bytes, p + 10),
        u32le(bytes, p + 16), u32le(bytes, p + 20), u32le(bytes, p + 24),
        u32le(bytes, p + 42))
      p += 46 + nameLen + extraLen + cmtLen
      k += 1
    }
    out.result()
  }

  /** Offset of an entry's data behind its PK\3\4 local header, or -1
    * when the header is missing or the data overruns the file. */
  private[graft] def dataAt(bytes: Array[Byte], e: Entry): Long = {
    val n = bytes.length
    if (e.lho + 30 > n || i32le(bytes, e.lho.toInt) != 0x04034b50) return -1L
    val at = e.lho + 30 + u16le(bytes, e.lho.toInt + 26) + u16le(bytes, e.lho.toInt + 28)
    if (at + e.comp > n) -1L else at
  }

  private[graft] def zipMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try zipMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

  private def zipMetaImpl(bytes: Array[Byte]): Meta = {
    val entries = centralDirectory(bytes)
    if (entries == null) return null
    var sumComp = 0L; var sumUncomp = 0L
    var maxRatio = 0L
    var nStored = 0L; var nDeflate = 0L
    var crcOk = true
    var epubMime = false
    val it = entries.iterator
    while (it.hasNext) {
      val e = it.next()
      sumComp += e.comp; sumUncomp += e.uncomp
      if (e.comp > 0) {
        val r = e.uncomp * 1000000L / e.comp
        if (r > maxRatio) maxRatio = r
      }
      e.method match {
        case 0 =>
          nStored += 1
          if (e.comp != e.uncomp) return null
          // verify via the local header — census-grade integrity check
          val at = dataAt(bytes, e)
          if (at < 0) return null
          val c = new java.util.zip.CRC32()
          c.update(bytes, at.toInt, e.comp.toInt)
          if (c.getValue != e.crc) crcOk = false
          if (e.name == "mimetype") {
            val v = new String(bytes, at.toInt, e.comp.toInt, "ISO-8859-1")
            if (v == "application/epub+zip") epubMime = true
          }
        case 8 => nDeflate += 1 // sized, never inflated here
        case _ => return null // other methods outside the census tier
      }
    }

    val kind =
      if (entries.exists(_.name == "[Content_Types].xml")) "ooxml"
      else if (epubMime) "epub"
      else "zip"
    Meta(kind, entries.length.toLong, sumComp, sumUncomp, maxRatio, nStored, nDeflate,
      entries.headOption.map(_.name).orNull, crcOk)
  }

  // ------------------------------------------------------------------
  // fixture encoders
  // ------------------------------------------------------------------

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Minimal single-disk archive writer: STORED (method 0) or raw
    * DEFLATE (method 8) members with real CRC-32s, time/date fixed at
    * zero so the bytes are deterministic. */
  private[graft] final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    private val cd = new java.io.ByteArrayOutputStream()
    private var n = 0
    def add(name: String, data: Array[Byte], deflate: Boolean): Unit = {
      val lho = out.size().toLong
      val nb = name.getBytes("UTF-8")
      val c = new java.util.zip.CRC32()
      c.update(data)
      val payload = if (deflate) deflateRaw(data) else data
      val method = if (deflate) 8 else 0
      put32le(out, 0x04034b50L); put16le(out, 20); put16le(out, 0); put16le(out, method)
      put16le(out, 0); put16le(out, 0)
      put32le(out, c.getValue); put32le(out, payload.length)
      put32le(out, data.length)
      put16le(out, nb.length); put16le(out, 0)
      out.write(nb); out.write(payload)
      put32le(cd, 0x02014b50L); put16le(cd, 20); put16le(cd, 20); put16le(cd, 0)
      put16le(cd, method); put16le(cd, 0); put16le(cd, 0)
      put32le(cd, c.getValue); put32le(cd, payload.length)
      put32le(cd, data.length)
      put16le(cd, nb.length); put16le(cd, 0); put16le(cd, 0); put16le(cd, 0); put16le(cd, 0)
      put32le(cd, 0L); put32le(cd, lho)
      cd.write(nb)
      n += 1
    }
    def result(): Array[Byte] = {
      val cdOff = out.size().toLong
      val cdBytes = cd.toByteArray
      out.write(cdBytes)
      put32le(out, 0x06054b50L); put16le(out, 0); put16le(out, 0)
      put16le(out, n); put16le(out, n)
      put32le(out, cdBytes.length); put32le(out, cdOff); put16le(out, 0)
      out.toByteArray
    }
  }

  /** Deterministic all-STORED ZIP: k%12+1 payload entries of analytic
    * text, plus a kind-marker entry (k%3: OOXML content-types / EPUB
    * mimetype / none); real CRC-32s, exact offsets. STORED keeps every
    * byte analytic (no Deflater version dependence); method variety is
    * exercised in ZipSpec against JDK-written archives. */
  private[graft] def encodeZip(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val w = new Writer
    k % 3 match {
      case 0 => w.add("[Content_Types].xml",
        s"<Types doc='$docId'/>".getBytes("UTF-8"), deflate = false)
      case 1 => w.add("mimetype", "application/epub+zip".getBytes("UTF-8"), deflate = false)
      case _ => ()
    }
    for (i <- 0 until (k % 12 + 1).toInt)
      w.add(s"part/e$i.txt",
        s"entry $i of doc $docId in $lang".getBytes("UTF-8"), deflate = false)
    w.result()
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packZip(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => encodeZip(d, l))
    enc(id.cast("long"), lang)
  }

  private val MetaSchema = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("n_entries", LongType, nullable = false),
    StructField("sum_comp", LongType, nullable = false),
    StructField("sum_uncomp", LongType, nullable = false),
    StructField("max_ratio_ppm", LongType, nullable = false),
    StructField("n_stored", LongType, nullable = false),
    StructField("n_deflate", LongType, nullable = false),
    StructField("first_name", StringType, nullable = true),
    StructField("crc_ok", LongType, nullable = false)))

  /** ZIP census over [[Seam.rows]]; null/-1 sentinel on
    * malformed input. */
  def decodeZipMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = zipMeta(b)
      if (m == null)
        Row(null, -1L, -1L, -1L, -1L, -1L, -1L, null, 0L)
      else
        Row(m.kind, m.nEntries, m.sumComp, m.sumUncomp,
          m.maxRatioPpm, m.nStored, m.nDeflate, m.firstName,
          if (m.crcOk) 1L else 0L)
    }
}
