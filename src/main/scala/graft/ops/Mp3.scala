package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{BooleanType, LongType, StringType,
  StructField, StructType}

/** MP3 (`audio/mpeg`) METADATA walk — frame-header census, Xing/Info VBR
  * header, ID3v2 text frames, ID3v1 trailer. Real corpora are full of
  * MP3s (the reference records the mime per fetched object at
  * `ParserMapper.java:941-1101` but treats the payload as opaque); the
  * PCM decode itself stays descoped — the float MDCT/hybrid filterbank
  * is not bit-exact by spec, so it sits outside the hash-oracle regime
  * (same adjudication as Vorbis, VERDICT r15 "What's missing" #4) — but
  * every field a corpus pipeline actually filters on (duration, sample
  * rate, bitrate, channel mode, tags) is header material and fully
  * deterministic. This is the m27/m12 shape: a sub-linear metadata-only
  * kernel behind [[Seam.rows]].
  *
  * Untrusted-input discipline matches the sibling decoders: explicit
  * budgets on every length field (an ID3 size or bitrate index is
  * attacker-controlled), strict forward progress in the frame walk,
  * null/sentinel on any malformation, never throws.
  */
object Mp3 {

  /** MPEG1 Layer III bitrates (kbps) by header index 1..14 (ISO 11172-3
    * Table B.2; index 0 = free-format and 15 = bad are both rejected). */
  private[graft] val BitrateKbps: Array[Int] =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG1 sample rates by header index 0..2 (index 3 = reserved). */
  private[graft] val SampleRate: Array[Int] = Array(44100, 48000, 32000)

  private val Modes = Array("stereo", "joint", "dual", "mono")

  /** Parsed census; field-for-field what [[decodeMp3Meta]] emits. */
  private[graft] final case class Meta(
      sampleRate: Int, mode: String, nFrames: Long, durationMs: Long,
      audioBytes: Long, avgKbps: Long, vbrHeader: String, vbrFrames: Long,
      title: String, artist: String, track: Long, ncharsTag: Long,
      hasId3v1: Boolean)

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  /** Frame-walk budget: a 100 TB corpus shard can hold multi-hour
    * streams, but a walk past this many frames on one object is an
    * attack or corruption, not audio (2M frames = ~15 h at 26 ms). */
  private val MaxFrames = 2000000

  /** ID3v2 tag budget (spec max is a 256 MB syncsafe size; nothing
    * legitimate needs more than this for text metadata). */
  private val MaxId3Size = 1 << 24

  /** Parse one MP3 object's metadata; null on any malformation. */
  private[graft] def mp3Meta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try mp3MetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def mp3MetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 4) return null
    var pos = 0

    var title: String = null
    var artist: String = null
    var track = -1L
    var nchars = -1L

    // ---- ID3v2 (optional, at most one, at the start) ----------------
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val verMajor = u8(bytes, 3)
      if (verMajor != 3 && verMajor != 4) return null
      if ((u8(bytes, 5) & 0x0f) != 0) return null // unknown flags
      // syncsafe 28-bit size; any high bit set is malformed
      var tagSize = 0
      var i = 6
      while (i < 10) {
        if ((u8(bytes, i) & 0x80) != 0) return null
        tagSize = (tagSize << 7) | u8(bytes, i)
        i += 1
      }
      if (tagSize > MaxId3Size || 10 + tagSize > bytes.length) return null
      val end = 10 + tagSize
      var p = 10
      var done = false
      while (!done && p + 10 <= end) {
        if (bytes(p) == 0) done = true // padding region
        else {
          val fid = new String(bytes, p, 4, "ISO-8859-1")
          if (!fid.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
            return null
          // v2.3 frame sizes are plain 32-bit; v2.4 are syncsafe
          val fsz =
            if (verMajor == 3)
              i32be(bytes, p + 4)
            else {
              if (((u8(bytes, p + 4) | u8(bytes, p + 5) | u8(bytes, p + 6) | u8(bytes, p + 7)) & 0x80) != 0)
                return null
              (u8(bytes, p + 4) << 21) | (u8(bytes, p + 5) << 14) | (u8(bytes, p + 6) << 7) | u8(bytes, p + 7)
            }
          if (fsz < 0 || fsz > MaxId3Size || p + 10 + fsz > end) return null
          if ((u8(bytes, p + 8) | u8(bytes, p + 9)) != 0) return null // frame flags unused
          val body = p + 10
          if (fid.startsWith("T") && fsz >= 1) {
            val enc = u8(bytes, body)
            // fixture + walk support latin1 (0) and utf-8 (3); UTF-16
            // variants are real but out of the deterministic tier
            if (enc != 0 && enc != 3) return null
            val cs = if (enc == 0) "ISO-8859-1" else "UTF-8"
            if (fid == "TXXX") {
              // enc byte, description, 0x00, value
              var z = body + 1
              while (z < body + fsz && bytes(z) != 0) z += 1
              if (z >= body + fsz) return null
              val desc = new String(bytes, body + 1, z - body - 1, cs)
              val value = new String(bytes, z + 1, body + fsz - z - 1, cs)
              if (desc == "NCHARS") nchars = value.toLongOption.getOrElse(-1L)
            } else {
              val value = new String(bytes, body + 1, fsz - 1, cs)
              fid match {
                case "TIT2" => title = value
                case "TPE1" => artist = value
                case "TRCK" => track = value.toLongOption.getOrElse(-1L)
                case _ => () // other text frames carried, not surfaced
              }
            }
          }
          p += 10 + fsz
        }
      }
      pos = end
    }

    // ---- MPEG audio frames ------------------------------------------
    var sampleRate = -1
    var mode: String = null
    var nFrames = 0L
    var audioBytes = 0L
    var vbrHeader: String = null
    var vbrFrames = -1L
    var hasId3v1 = false
    var atEnd = false
    while (!atEnd) {
      if (pos == bytes.length) atEnd = true
      else if (bytes.length - pos == 128 && bytes(pos) == 'T' &&
          bytes(pos + 1) == 'A' && bytes(pos + 2) == 'G') {
        hasId3v1 = true; atEnd = true
      } else {
        if (pos + 4 > bytes.length || nFrames >= MaxFrames) return null
        if (u8(bytes, pos) != 0xff || u8(bytes, pos + 1) != 0xfb) return null // MPEG1 L3, no CRC
        val brIdx = u8(bytes, pos + 2) >> 4
        val srIdx = (u8(bytes, pos + 2) >> 2) & 3
        val pad = (u8(bytes, pos + 2) >> 1) & 1
        val m = u8(bytes, pos + 3) >> 6
        if (brIdx < 1 || brIdx > 14 || srIdx > 2) return null
        val sr = SampleRate(srIdx)
        if (sampleRate < 0) { sampleRate = sr; mode = Modes(m) }
        // one stream = one sample rate / channel mode (corpus objects
        // that splice streams are malformed for census purposes)
        else if (sr != sampleRate || Modes(m) != mode) return null
        val flen = 144000 * BitrateKbps(brIdx) / sr + pad
        if (flen < 4 || pos + flen > bytes.length) return null
        if (nFrames == 0L) {
          // Xing/Info VBR header sits after the side info of frame 1
          val off = pos + 4 + (if (m == 3) 17 else 32)
          if (off + 16 <= pos + flen) {
            val magic = new String(bytes, off, 4, "ISO-8859-1")
            if (magic == "Xing" || magic == "Info") {
              val flags = i32be(bytes, off + 4)
              if ((flags & 1) != 0) {
                vbrHeader = magic
                vbrFrames = u32be(bytes, off + 8)
              }
            }
          }
        }
        nFrames += 1
        audioBytes += flen
        pos += flen
      }
    }
    if (nFrames == 0) return null
    // pinned integer formulas (the oracle replays them): MPEG1 Layer III
    // is 1152 samples per frame
    val durationMs = nFrames * 1152L * 1000L / sampleRate
    val avgKbps = audioBytes * 8L * sampleRate / (nFrames * 1152L * 1000L)
    Meta(sampleRate, mode, nFrames, durationMs, audioBytes, avgKbps,
      vbrHeader, vbrFrames, title, artist, track, nchars, hasId3v1)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** Encode the m30 fixture MP3 for (docId, lang, nchars): seed
    * k = docId % 251 drives ID3v2 version (2.3 / 2.4), sample rate,
    * channel mode, per-frame VBR bitrates, Xing/Info presence, and the
    * ID3v1 trailer; the tag text carries docId verbatim. Frame bodies
    * are deterministic filler — the walk never reads them. */
  private[graft] def encodeMp3(docId: Long, lang: String, nchars: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val out = new java.io.ByteArrayOutputStream()
    val v24 = k % 2 == 1

    // ---- ID3v2 --------------------------------------------------------
    def textFrame(id: String, value: String): Array[Byte] = {
      val vb = value.getBytes("UTF-8")
      val body = 3.toByte +: vb // encoding 3 = UTF-8
      frameBytes(id, body)
    }
    def frameBytes(id: String, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(id.getBytes("ISO-8859-1"))
      val n = body.length
      if (v24) {
        b.write((n >> 21) & 0x7f); b.write((n >> 14) & 0x7f)
        b.write((n >> 7) & 0x7f); b.write(n & 0x7f)
      } else {
        put32be(b, n)
      }
      b.write(0); b.write(0)
      b.write(body)
      b.toByteArray
    }
    val txxx = {
      val d = "NCHARS".getBytes("UTF-8")
      val v = nchars.toString.getBytes("UTF-8")
      frameBytes("TXXX", (3.toByte +: d) ++ (0.toByte +: v))
    }
    val frames = Array(
      textFrame("TIT2", s"doc $docId"),
      textFrame("TPE1", lang),
      textFrame("TALB", "graft corpus"),
      textFrame("TRCK", (docId % 99 + 1).toString),
      txxx)
    val padding = (k % 7).toInt // trailing zero padding inside the tag
    val tagSize = frames.map(_.length).sum + padding
    out.write('I'); out.write('D'); out.write('3')
    out.write(if (v24) 4 else 3); out.write(0); out.write(0)
    out.write((tagSize >> 21) & 0x7f); out.write((tagSize >> 14) & 0x7f)
    out.write((tagSize >> 7) & 0x7f); out.write(tagSize & 0x7f)
    frames.foreach(out.write)
    (0 until padding).foreach(_ => out.write(0))

    // ---- MPEG1 Layer III frames ---------------------------------------
    val nf = (k % 40 + 10).toInt
    val srIdx = (k % 3).toInt
    val sr = SampleRate(srIdx)
    val chMode = (k % 4).toInt
    val withVbr = k % 3 != 2
    val totalAudio = (0 until nf).map { i =>
      144000L * BitrateKbps(((k + 3 * i) % 14 + 1).toInt) / sr + (k + i) % 2
    }.sum
    for (i <- 0 until nf) {
      val brIdx = ((k + 3 * i) % 14 + 1).toInt
      val pad = ((k + i) % 2).toInt
      val flen = (144000L * BitrateKbps(brIdx) / sr + pad).toInt
      val frame = new Array[Byte](flen)
      frame(0) = 0xff.toByte
      frame(1) = 0xfb.toByte
      frame(2) = ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      frame(3) = ((chMode << 6) | 0x04).toByte
      var j = 4
      while (j < flen) { frame(j) = ((k + i * 7 + j) % 256).toByte; j += 1 }
      if (i == 0 && withVbr) {
        val off = 4 + (if (chMode == 3) 17 else 32)
        val magic = if (k % 2 == 0) "Xing" else "Info"
        magic.getBytes("ISO-8859-1").copyToArray(frame, off)
        // flags: frames + bytes
        frame(off + 4) = 0; frame(off + 5) = 0; frame(off + 6) = 0
        frame(off + 7) = 3
        frame(off + 8) = ((nf >> 24) & 0xff).toByte
        frame(off + 9) = ((nf >> 16) & 0xff).toByte
        frame(off + 10) = ((nf >> 8) & 0xff).toByte
        frame(off + 11) = (nf & 0xff).toByte
        frame(off + 12) = ((totalAudio >> 24) & 0xff).toByte
        frame(off + 13) = ((totalAudio >> 16) & 0xff).toByte
        frame(off + 14) = ((totalAudio >> 8) & 0xff).toByte
        frame(off + 15) = (totalAudio & 0xff).toByte
      }
      out.write(frame)
    }

    // ---- ID3v1 trailer -------------------------------------------------
    if (k % 5 == 0) {
      val tag = new Array[Byte](128)
      "TAG".getBytes("ISO-8859-1").copyToArray(tag, 0)
      def put(s: String, at: Int, len: Int): Unit = {
        val b = s.getBytes("ISO-8859-1")
        System.arraycopy(b, 0, tag, at, math.min(b.length, len))
      }
      put(s"doc $docId", 3, 30)
      put(lang, 33, 30)
      put("graft corpus", 63, 30)
      put("2026", 93, 4)
      tag(127) = (k % 80).toByte // genre
      out.write(tag)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** Fixture-synthesis column for m30. */
  def packMp3(id: Column, lang: Column, nchars: Column): Column = {
    val enc = udf((d: Long, l: String, n: Long) => encodeMp3(d, l, n))
    enc(id.cast("long"), lang, nchars.cast("long"))
  }

  private val MetaSchema = StructType(Seq(
    StructField("sample_rate", LongType, nullable = false),
    StructField("mode", StringType, nullable = true),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("audio_bytes", LongType, nullable = false),
    StructField("avg_kbps", LongType, nullable = false),
    StructField("vbr_header", StringType, nullable = true),
    StructField("vbr_frames", LongType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("track", LongType, nullable = false),
    StructField("nchars_tag", LongType, nullable = false),
    StructField("has_id3v1", BooleanType, nullable = false)))

  /** Metadata census over [[Seam.rows]]; all-sentinel row
    * (nulls / -1 / false) on malformed input. */
  def decodeMp3Meta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = mp3Meta(b)
      if (m == null)
        Row(-1L, null, -1L, -1L, -1L, -1L, null, -1L,
          null, null, -1L, -1L, false)
      else
        Row(m.sampleRate.toLong, m.mode, m.nFrames,
          m.durationMs, m.audioBytes, m.avgKbps, m.vbrHeader, m.vbrFrames,
          m.title, m.artist, m.track, m.ncharsTag, m.hasId3v1)
    }
}
