package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ogg/Opus metadata walk — page census with bit-exact CRC
  * verification, OpusHead stream parameters, OpusTags comments, and
  * granule-derived duration. `audio/ogg` / `audio/opus` is the open-web
  * audio default next to MP3; the fields a corpus pipeline filters on
  * (duration, channels, sample rate, tags, integrity) are all container
  * material — the Opus packets themselves stay opaque (SILK/CELT decode
  * is float-DSP, outside the bit-exact tier, same adjudication as MP3
  * PCM).
  *
  * RFC 3533 page layout: capture `OggS`, version 0, header-type flags,
  * 64-bit granule position, serial, sequence, CRC, segment count,
  * lacing table, segment data. The page CRC is CRC-32 with polynomial
  * 0x04c11db7, init 0, NO reflection, NO final xor, computed over the
  * page with the CRC field zeroed — verified on every page, so a
  * single flipped byte anywhere in the container is caught. RFC 7845
  * puts `OpusHead` as the sole packet of the BOS page and `OpusTags`
  * (Vorbis-comment layout, little-endian lengths — the m27 shape)
  * first on the next page; duration is (last granule − pre-skip) over
  * the fixed 48 kHz granule rate.
  *
  * Untrusted input: segment counts bounded by the format (≤255),
  * comment counts/lengths budgeted, page-count budget against
  * pathological streams; null on malformation, never throws;
  * METADATA-ONLY (audio packet bytes are CRC'd but never decoded).
  */
object Ogg {

  private[graft] final case class Meta(
      serial: Long, channels: Long, preSkip: Long, inputRate: Long,
      nPages: Long, durationMs: Long, vendor: String,
      title: String, artist: String, crcOk: Boolean)

  private val MaxPages = 1 << 20
  private val MaxComments = 1 << 10
  private val MaxCommentLen = 1 << 16

  /** Ogg CRC-32: poly 0x04c11db7, init 0, not reflected, no final xor. */
  private[graft] val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[graft] def crc(bytes: Array[Byte], from: Int, len: Int,
      zeroAt: Int): Long = {
    var r = 0
    var i = 0
    while (i < len) {
      val b = if (i >= zeroAt && i < zeroAt + 4) 0 else bytes(from + i) & 0xff
      r = (r << 8) ^ CrcTable(((r >>> 24) ^ b) & 0xff)
      i += 1
    }
    r.toLong & 0xffffffffL
  }

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  private[graft] def oggMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try oggMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def oggMetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 28) return null

    var pos = 0
    var nPages = 0L
    var serial = -1L
    var lastGranule = -1L
    var crcOk = true
    var channels = -1L; var preSkip = -1L; var inputRate = -1L
    var vendor: String = null; var title: String = null; var artist: String = null
    var sawEos = false

    while (pos < bytes.length && !sawEos) {
      if (nPages >= MaxPages) return null
      if (pos + 27 > bytes.length) return null
      if (bytes(pos) != 'O' || bytes(pos + 1) != 'g' || bytes(pos + 2) != 'g' ||
          bytes(pos + 3) != 'S') return null
      if (u8(bytes, pos + 4) != 0) return null // stream structure version
      val hType = u8(bytes, pos + 5)
      val granule = u64le(bytes, pos + 6)
      val ser = u32le(bytes, pos + 14)
      val pageCrc = u32le(bytes, pos + 22)
      val nSegs = u8(bytes, pos + 26)
      if (pos + 27 + nSegs > bytes.length) return null
      var bodyLen = 0
      var si = 0
      while (si < nSegs) { bodyLen += u8(bytes, pos + 27 + si); si += 1 }
      val pageLen = 27 + nSegs + bodyLen
      if (pos + pageLen > bytes.length) return null
      if (crc(bytes, pos, pageLen, 22) != pageCrc) crcOk = false

      if (serial < 0) serial = ser
      else if (ser != serial) return null // single-stream census tier
      if ((hType & 2) != 0 && nPages != 0) return null // BOS mid-stream
      if ((hType & 4) != 0) sawEos = true
      if (granule != -1L) lastGranule = granule

      val body = pos + 27 + nSegs
      if (nPages == 0L) {
        // RFC 7845 §5.1: BOS page carries exactly OpusHead
        if ((hType & 2) == 0 || bodyLen < 19) return null
        if (new String(bytes, body, 8, "ISO-8859-1") != "OpusHead") return null
        if (u8(bytes, body + 8) != 1) return null // version
        channels = u8(bytes, body + 9).toLong
        preSkip = u16le(bytes, body + 10).toLong
        inputRate = u32le(bytes, body + 12)
      } else if (nPages == 1L) {
        // OpusTags (Vorbis-comment layout)
        if (bodyLen < 16) return null
        if (new String(bytes, body, 8, "ISO-8859-1") != "OpusTags") return null
        var p = body + 8
        def lstr(): String = {
          if (p + 4 > body + bodyLen) return null
          val len = u32le(bytes, p)
          p += 4
          if (len < 0 || len > MaxCommentLen || p + len > body + bodyLen)
            return null
          val s = new String(bytes, p, len.toInt, "UTF-8")
          p += len.toInt
          s
        }
        vendor = lstr()
        if (vendor == null) return null
        if (p + 4 > body + bodyLen) return null
        val nc = u32le(bytes, p); p += 4
        if (nc < 0 || nc > MaxComments) return null
        var ci = 0L
        while (ci < nc) {
          val c = lstr()
          if (c == null) return null
          val eq = c.indexOf('=')
          if (eq > 0) {
            val k = c.substring(0, eq).toUpperCase
            val v = c.substring(eq + 1)
            if (k == "TITLE") title = v
            else if (k == "ARTIST") artist = v
          }
          ci += 1
        }
      }
      nPages += 1
      pos += pageLen
    }
    if (!sawEos || channels < 0 || lastGranule < 0) return null
    // RFC 7845 §4: granules are 48 kHz PCM samples; pre-skip subtracts
    val samples = math.max(0L, lastGranule - preSkip)
    Meta(serial, channels, preSkip, inputRate, nPages,
      samples * 1000L / 48000L, vendor, title, artist, crcOk)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  private def page(hType: Int, granule: Long, serial: Long, seq: Long,
      packets: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("ISO-8859-1"))
    out.write(0); out.write(hType)
    put32le(out, granule); put32le(out, granule >> 32)
    put32le(out, serial); put32le(out, seq); put32le(out, 0L) // CRC placeholder
    val lacing = packets.flatMap { pk =>
      val full = Seq.fill(pk.length / 255)(255)
      full :+ (pk.length % 255) // terminal lacing value (may be 0)
    }
    require(lacing.size <= 255, "fixture page overflow")
    out.write(lacing.size)
    lacing.foreach(v => out.write(v))
    packets.foreach(out.write)
    val b = out.toByteArray
    val c = crc(b, 0, b.length, 22)
    b(22) = (c & 0xff).toByte; b(23) = ((c >> 8) & 0xff).toByte
    b(24) = ((c >> 16) & 0xff).toByte; b(25) = ((c >> 24) & 0xff).toByte
    b
  }

  /** Opus-in-Ogg fixture: OpusHead BOS page, OpusTags page carrying
    * docId/lang verbatim, k%6+1 audio pages of deterministic filler
    * packets with analytically increasing granules, EOS on the last. */
  private[graft] def encodeOggOpus(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val serial = (docId * 2654435761L) & 0xffffffffL
    val channels = (k % 2 + 1).toInt
    val preSkip = (k % 5) * 120 + 312
    val inputRate = Seq(48000L, 44100L, 16000L)((k % 3).toInt)
    val out = new java.io.ByteArrayOutputStream()

    val head = new java.io.ByteArrayOutputStream()
    head.write("OpusHead".getBytes("ISO-8859-1"))
    head.write(1); head.write(channels)
    put16le(head, preSkip.toInt)
    put32le(head, inputRate)
    head.write(0); head.write(0) // output gain
    head.write(0) // mapping family 0
    out.write(page(2, 0L, serial, 0L, Seq(head.toByteArray)))

    val tags = new java.io.ByteArrayOutputStream()
    tags.write("OpusTags".getBytes("ISO-8859-1"))
    def vstr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); put32le(tags, b.length); tags.write(b)
    }
    vstr("graft ogg fixture")
    put32le(tags, 2L)
    vstr(s"TITLE=doc $docId")
    vstr(s"ARTIST=$lang")
    out.write(page(0, -1L, serial, 1L, Seq(tags.toByteArray)))

    val nAudio = (k % 6 + 1).toInt
    var granule = preSkip.toLong
    for (i <- 0 until nAudio) {
      // deterministic filler packets; one spans >255 bytes to force a
      // multi-segment lacing run
      val pk1 = Array.tabulate(((k + 37 * i) % 300 + 40).toInt)(j =>
        ((docId + i * 31 + j) % 256).toByte)
      val pk2 = Array.tabulate(((k + 11 * i) % 60 + 5).toInt)(j =>
        ((docId + i * 17 + j * 3) % 256).toByte)
      granule += 960L * ((k + i) % 3 + 1)
      val eos = if (i == nAudio - 1) 4 else 0
      out.write(page(eos, granule, serial, 2L + i, Seq(pk1, pk2)))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packOggOpus(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => encodeOggOpus(d, l))
    enc(id.cast("long"), lang)
  }

  private val MetaSchema = StructType(Seq(
    StructField("serial", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("pre_skip", LongType, nullable = false),
    StructField("input_rate", LongType, nullable = false),
    StructField("n_pages", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("vendor", StringType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("crc_ok", LongType, nullable = false)))

  /** Ogg/Opus census over [[Seam.rows]]; null/-1
    * sentinel on malformed input. */
  def decodeOggMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = oggMeta(b)
      if (m == null)
        Row(-1L, -1L, -1L, -1L, -1L, -1L, null, null, null, 0L)
      else
        Row(m.serial, m.channels, m.preSkip, m.inputRate,
          m.nPages, m.durationMs, m.vendor, m.title, m.artist,
          if (m.crcOk) 1L else 0L)
    }
}
