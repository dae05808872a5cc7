package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** EXIF/TIFF metadata walk over JPEG APP1 segments — orientation,
  * camera make/model, timestamps, pixel dimensions, and the GPS tags.
  * Real crawl images carry EXIF almost universally; a corpus pipeline
  * filters on orientation/camera/capture-time and must DETECT embedded
  * GPS coordinates (location PII) before publishing — the same class of
  * scrub t7 performs on text. The reference records `image/jpeg` per
  * object (`ParserMapper.java:941-1101`) but never opens the container.
  *
  * TIFF 6.0 + EXIF 2.3 structure (both public specs): APP1 holds
  * `Exif\0\0` then a self-contained TIFF file — byte-order mark (II/MM),
  * magic 42, a chain of IFDs of 12-byte entries (tag, type, count,
  * inline-value-or-offset), with private IFDs (Exif, GPS) reached
  * through pointer tags. Every offset is untrusted input: all reads are
  * bounds-checked against the APP1 segment, IFD entry counts are
  * budgeted, pointer-IFD depth is fixed, and a visited-offset guard
  * makes offset cycles terminate. Null row on any malformation; never
  * throws. Metadata-only: pixels are never decoded (the walk reads a
  * few hundred bytes per file).
  */
object Exif {

  private[graft] final case class Meta(
      byteOrder: String, orientation: Long, make: String, model: String,
      dateTime: String, dateTimeOriginal: String,
      pixelX: Long, pixelY: Long,
      hasGps: Boolean, gpsLatPpm: Long, gpsLonPpm: Long)

  // tag constants (TIFF 6.0 / EXIF 2.3 / GPS)
  private val TagMake = 0x010f
  private val TagModel = 0x0110
  private val TagOrientation = 0x0112
  private val TagDateTime = 0x0132
  private val TagExifIfd = 0x8769
  private val TagGpsIfd = 0x8825
  private val TagDateTimeOriginal = 0x9003
  private val TagPixelX = 0xa002
  private val TagPixelY = 0xa003
  private val TagGpsLatRef = 0x0001
  private val TagGpsLat = 0x0002
  private val TagGpsLonRef = 0x0003
  private val TagGpsLon = 0x0004

  /** Max entries per IFD the walk will read (spec allows 65535; nothing
    * legitimate carries more than a few dozen). */
  private val MaxIfdEntries = 256

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  /** Parse the first APP1/Exif segment of a JPEG; null when absent or
    * malformed. */
  private[graft] def exifMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try exifMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def exifMetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 4) return null
    if (u8(bytes, 0) != 0xff || u8(bytes, 1) != 0xd8) return null
    // marker scan for APP1 "Exif\0\0" (stops at SOS — EXIF precedes
    // entropy data by spec)
    var pos = 2
    var tiffAt = -1
    var tiffEnd = -1
    while (tiffAt < 0) {
      if (pos + 4 > bytes.length) return null
      if (u8(bytes, pos) != 0xff) return null
      val m = u8(bytes, pos + 1)
      if (m == 0xda || m == 0xd9) return null // image w/o EXIF
      val len = u16be(bytes, pos + 2)
      if (len < 2 || pos + 2 + len > bytes.length) return null
      if (m == 0xe1 && len >= 8 &&
          bytes(pos + 4) == 'E' && bytes(pos + 5) == 'x' &&
          bytes(pos + 6) == 'i' && bytes(pos + 7) == 'f' &&
          bytes(pos + 8) == 0 && bytes(pos + 9) == 0) {
        tiffAt = pos + 10
        tiffEnd = pos + 2 + len
      }
      pos += 2 + len
    }
    parseTiff(bytes, tiffAt, tiffEnd)
  }

  /** Parse a TIFF blob confined to [at, end). */
  private def parseTiff(bytes: Array[Byte], at: Int, end: Int): Meta = {
    val n = end - at
    if (n < 8) return null
    val le =
      if (bytes(at) == 'I' && bytes(at + 1) == 'I') true
      else if (bytes(at) == 'M' && bytes(at + 1) == 'M') false
      else return null
    // offsets are TIFF-relative and untrusted: -1 past the blob's end
    def u16(off: Int): Int =
      if (off < 0 || off + 2 > n) -1 else if (le) u16le(bytes, at + off) else u16be(bytes, at + off)
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > n) -1L else if (le) u32le(bytes, at + off) else u32be(bytes, at + off)
    if (u16(2) != 42) return null
    val ifd0 = u32(4)
    if (ifd0 < 8 || ifd0 > n - 2) return null

    var orientation = -1L
    var make: String = null; var model: String = null
    var dateTime: String = null; var dateTimeOrig: String = null
    var pixelX = -1L; var pixelY = -1L
    var gpsLat = java.lang.Long.MIN_VALUE; var gpsLon = java.lang.Long.MIN_VALUE
    var latRef: String = null; var lonRef: String = null
    var bad = false

    def asciiAt(valOff: Int, count: Int): String = {
      if (count <= 0 || count > 4096) { bad = true; return null }
      val off = if (count <= 4) valOff else u32(valOff).toInt
      if (off < 0 || off + count > n) { bad = true; return null }
      val z = count - 1 // trailing NUL per spec
      new String(bytes, at + off, math.max(0, z), "ISO-8859-1")
    }
    /** Integer ppm of a degree/minute/second RATIONAL triple — integer
      * division at each term, pinned. */
    def dmsPpmAt(valOff: Int, count: Int): Long = {
      if (count != 3) { bad = true; return 0L }
      val off = u32(valOff).toInt
      if (off < 0 || off + 24 > n) { bad = true; return 0L }
      def term(i: Int, scale: Long): Long = {
        val num = u32(off + 8 * i); val den = u32(off + 8 * i + 4)
        if (num < 0 || den <= 0) { bad = true; 0L }
        else num * 1000000L / den / scale
      }
      term(0, 1L) + term(1, 60L) + term(2, 3600L)
    }

    /** One IFD walk; `kind` 0 = IFD0, 1 = ExifIFD, 2 = GPS. Returns the
      * pointer offsets discovered (exif, gps). */
    def walk(ifdOff: Long, kind: Int): (Long, Long) = {
      var exifPtr = -1L; var gpsPtr = -1L
      val cnt = u16(ifdOff.toInt)
      if (cnt < 0 || cnt > MaxIfdEntries) { bad = true; return (-1L, -1L) }
      var i = 0
      while (i < cnt && !bad) {
        val e = ifdOff.toInt + 2 + 12 * i
        if (e + 12 > n) { bad = true }
        else {
          val tag = u16(e)
          val typ = u16(e + 2)
          val count = u32(e + 4)
          val vOff = e + 8
          if (count < 0) bad = true
          else (kind, tag, typ) match {
            case (0, TagOrientation, 3) => orientation = u16(vOff).toLong
            case (0, TagMake, 2) => make = asciiAt(vOff, count.toInt)
            case (0, TagModel, 2) => model = asciiAt(vOff, count.toInt)
            case (0, TagDateTime, 2) => dateTime = asciiAt(vOff, count.toInt)
            case (0, TagExifIfd, 4) => exifPtr = u32(vOff)
            case (0, TagGpsIfd, 4) => gpsPtr = u32(vOff)
            case (1, TagDateTimeOriginal, 2) =>
              dateTimeOrig = asciiAt(vOff, count.toInt)
            case (1, TagPixelX, 4) => pixelX = u32(vOff)
            case (1, TagPixelX, 3) => pixelX = u16(vOff).toLong
            case (1, TagPixelY, 4) => pixelY = u32(vOff)
            case (1, TagPixelY, 3) => pixelY = u16(vOff).toLong
            case (2, TagGpsLatRef, 2) => latRef = asciiAt(vOff, count.toInt)
            case (2, TagGpsLat, 5) => gpsLat = dmsPpmAt(vOff, count.toInt)
            case (2, TagGpsLonRef, 2) => lonRef = asciiAt(vOff, count.toInt)
            case (2, TagGpsLon, 5) => gpsLon = dmsPpmAt(vOff, count.toInt)
            case _ => () // unknown tags skipped, per spec
          }
        }
        i += 1
      }
      (exifPtr, gpsPtr)
    }

    val (exifPtr, gpsPtr) = walk(ifd0, 0)
    // pointer IFDs at fixed depth 1 — no recursion, so offset cycles
    // cannot loop; each pointer bounds-checked like any offset
    if (!bad && exifPtr >= 8 && exifPtr <= n - 2) walk(exifPtr, 1)
    else if (exifPtr != -1L && !bad) bad = true
    if (!bad && gpsPtr >= 8 && gpsPtr <= n - 2) walk(gpsPtr, 2)
    else if (gpsPtr != -1L && !bad) bad = true
    if (bad) return null

    val hasGps = gpsLat != java.lang.Long.MIN_VALUE &&
      gpsLon != java.lang.Long.MIN_VALUE
    val latSigned =
      if (!hasGps) -1L
      else if (latRef == "S") -gpsLat else gpsLat
    val lonSigned =
      if (!hasGps) -1L
      else if (lonRef == "W") -gpsLon else gpsLon
    Meta(if (le) "II" else "MM", orientation, make, model, dateTime,
      dateTimeOrig, pixelX, pixelY, hasGps, latSigned, lonSigned)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** Build the m31 fixture: the m22 1×1-block baseline JPEG with an
    * APP1/Exif segment spliced after SOI — the image still pixel-decodes
    * through [[Multimodal.decodeJpegStats]] (APP1 is skipped there), so
    * metadata and pixels coexist as in a real camera file. Seed k drives
    * byte order (even = II), orientation, make/model/timestamps, EXIF
    * dimensions, and GPS presence (k%3==0). */
  private[graft] def encodeExifJpeg(docId: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val le = k % 2 == 0
    val tiff = buildTiff(docId, k, le)
    val app1 = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ tiff
    val seg = new java.io.ByteArrayOutputStream()
    seg.write(0xff); seg.write(0xe1)
    val len = app1.length + 2
    put16be(seg, len)
    seg.write(app1)
    val img = Multimodal.encodeJpegAc(k, 1, 1)
    img.take(2) ++ seg.toByteArray ++ img.drop(2)
  }

  private def buildTiff(docId: Long, k: Long, le: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = if (le) put16le(out, v) else put16be(out, v)
    def w32(v: Long, o: java.io.ByteArrayOutputStream = out): Unit =
      if (le) put32le(o, v) else put32be(o, v)

    val make = s"cam${k % 7}"
    val model = s"model ${docId % 5}"
    val dt = f"2026:08:${k % 28 + 1}%02d ${k % 24}%02d:00:00"
    val dto = f"2026:07:${k % 28 + 1}%02d ${(k + 5) % 24}%02d:30:00"
    val withGps = k % 3 == 0
    val latPpm = (docId * 7919) % 90000000L
    val lonPpm = (docId * 104729) % 180000000L

    // layout: header(8) IFD0 [ExifIFD] [GPSIFD] data-area
    val nIfd0 = 5 + (if (withGps) 1 else 0)
    val ifd0At = 8L
    val exifAt = ifd0At + 2 + 12 * nIfd0 + 4
    val exifEnd = exifAt + 2 + 12 * 3 + 4
    val gpsAt = if (withGps) exifEnd else -1L
    val gpsEnd = if (withGps) gpsAt + 2 + 12 * 4 + 4 else exifEnd
    var dataAt = gpsEnd
    val data = new java.io.ByteArrayOutputStream()
    def ascii(s: String): (Long, Int) = {
      // TIFF ASCII: NUL-terminated, count includes the NUL
      val b = (s + "\u0000").getBytes("ISO-8859-1")
      if (b.length <= 4) {
        // inline, padded
        var v = 0L
        var i = 0
        while (i < 4) {
          val byteV = if (i < b.length) b(i) & 0xffL else 0L
          v |= (if (le) byteV << (8 * i) else byteV << (8 * (3 - i)))
          i += 1
        }
        (v, b.length)
      } else {
        val off = dataAt
        data.write(b); dataAt += b.length
        (off, b.length)
      }
    }
    def rational3(ppm: Long): Long = {
      val off = dataAt
      // (deg-as-ppm/1e6, 0/1, 0/1) — exactly the walk's pinned formula
      val buf = new java.io.ByteArrayOutputStream()
      Seq(ppm, 1000000L, 0L, 1L, 0L, 1L).foreach(w32(_, buf))
      data.write(buf.toByteArray); dataAt += 24
      off
    }

    // header
    if (le) { out.write('I'); out.write('I') } else { out.write('M'); out.write('M') }
    w16(42); w32(ifd0At)

    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      w16(tag); w16(typ); w32(count)
      typ match {
        case 3 => w16(value.toInt); w16(0) // SHORT inline, zero-padded
        case 2 if count <= 4 =>
          // inline ASCII was pre-packed into `value` by ascii()
          if (le) w32(value)
          else w32(value) // ascii() packed per byte order already
        case _ => w32(value)
      }
    }

    val (makeV, makeN) = ascii(make)
    val (modelV, modelN) = ascii(model)
    val (dtV, dtN) = ascii(dt)
    val (dtoV, dtoN) = ascii(dto)

    // IFD0 (tags ascending per spec)
    w16(nIfd0)
    entry(TagMake, 2, makeN.toLong, makeV)
    entry(TagModel, 2, modelN.toLong, modelV)
    entry(TagOrientation, 3, 1L, k % 8 + 1)
    entry(TagDateTime, 2, dtN.toLong, dtV)
    entry(TagExifIfd, 4, 1L, exifAt)
    if (withGps) entry(TagGpsIfd, 4, 1L, gpsAt)
    w32(0L) // next-IFD

    // Exif IFD
    w16(3)
    entry(TagDateTimeOriginal, 2, dtoN.toLong, dtoV)
    entry(TagPixelX, 4, 1L, docId % 1000 + 1)
    entry(TagPixelY, 4, 1L, docId % 800 + 1)
    w32(0L)

    // GPS IFD
    if (withGps) {
      val (latRefV, latRefN) = ascii(if (k % 4 < 2) "N" else "S")
      val (lonRefV, lonRefN) = ascii(if (k % 5 < 3) "E" else "W")
      val latOff = rational3(latPpm)
      val lonOff = rational3(lonPpm)
      w16(4)
      entry(TagGpsLatRef, 2, latRefN.toLong, latRefV)
      entry(TagGpsLat, 5, 3L, latOff)
      entry(TagGpsLonRef, 2, lonRefN.toLong, lonRefV)
      entry(TagGpsLon, 5, 3L, lonOff)
      w32(0L)
    }

    out.toByteArray ++ data.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packExifJpeg(id: Column): Column = {
    val enc = udf((d: Long) => encodeExifJpeg(d))
    enc(id.cast("long"))
  }

  private val MetaSchema = StructType(Seq(
    StructField("byte_order", StringType, nullable = true),
    StructField("orientation", LongType, nullable = false),
    StructField("make", StringType, nullable = true),
    StructField("model", StringType, nullable = true),
    StructField("date_time", StringType, nullable = true),
    StructField("date_time_original", StringType, nullable = true),
    StructField("exif_width", LongType, nullable = false),
    StructField("exif_height", LongType, nullable = false),
    StructField("has_gps", LongType, nullable = false),
    StructField("gps_lat_ppm", LongType, nullable = false),
    StructField("gps_lon_ppm", LongType, nullable = false)))

  /** EXIF census over [[Seam.rows]]; null/-1 sentinel row
    * on absent or malformed EXIF. */
  def decodeExifMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = exifMeta(b)
      if (m == null)
        Row(null, -1L, null, null, null, null, -1L, -1L,
          0L, -1L, -1L)
      else
        Row(m.byteOrder, m.orientation, m.make, m.model,
          m.dateTime, m.dateTimeOriginal, m.pixelX, m.pixelY,
          if (m.hasGps) 1L else 0L, m.gpsLatPpm, m.gpsLonPpm)
    }
}
