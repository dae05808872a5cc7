package graft.ops

import graft.core.Bits.{LsbReader, LsbWriter}
import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video as opaque `binary`
  * columns with typed metadata, plus batch decode / feature-extract /
  * frame-sample plumbing (the LLM-pipeline extension; the reference
  * carries raw content buffers the same way — `buffer` fields in
  * database.jr:584-591 ArcFileContentItem).
  *
  * The actual codec step is a DETERMINISTIC STUB (`decodeHeaderStub`):
  * this container has no image/audio libraries, so "decode" parses our
  * synthetic GRFT container header instead. Everything around it — the
  * binary column handling, metadata schema, per-row decode seam,
  * and partition-preserving plan — is real and is what a production
  * decoder would plug into.
  */
object Multimodal {

  /** Synthetic media container, 10-byte ASCII header then payload:
    * 'GRFT' ‖ 1 format digit (0=img,1=audio,2=video) ‖ 4-digit frame
    * count ‖ ':'. */
  val HeaderLen = 10

  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("payload_len", IntegerType, nullable = false),
  ))

  /** Build the container from a text payload — pure column expressions,
    * so media synthesis stays in the scan projection. */
  def packMedia(payloadText: Column, formatDigit: Column, nFrames: Column): Column =
    concat(
      lit("GRFT"),
      formatDigit.cast("string"),
      lpad(nFrames.cast("string"), 4, "0"),
      lit(":"),
      payloadText).cast("binary")

  private val formats = Map('0' -> "img", '1' -> "audio", '2' -> "video")

  /** The decode stub: parse the GRFT header out of the binary column,
    * one row at a time through [[Seam.rows]] — the exact seam where a
    * real decoder (libjpeg/ffmpeg/…) would process each record. Output:
    * (id, format, n_frames, payload_len); ("bad", -1, -1) on bytes that
    * are not a GRFT container. */
  def decodeHeaderStub(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { bytes =>
      val header = new String(bytes.take(HeaderLen), "UTF-8")
      val frames =
        if (header.length == HeaderLen && header.startsWith("GRFT") && header.endsWith(":"))
          header.substring(5, 9).toIntOption
        else None
      frames.fold(Row("bad", -1, -1))(n =>
        Row(formats.getOrElse(header.charAt(4), "unknown"), n, bytes.length - HeaderLen))
    }

  // --- real public-format image headers -----------------------------
  // The codec gap the stub above documents is narrower than "no media
  // support": container METADATA (dimensions, format) lives in the first
  // few bytes of every public image format and needs no codec library —
  // the same magic-byte header walk ArcFileReader does over archive
  // member headers. Payload DECODE (pixels) remains out of scope.

  val ImageMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
  ))

  /** Parse format + dimensions from real image container bytes:
    * PNG (IHDR width/height, RFC 2083 §3.1), JPEG (first SOFn segment's
    * lines/samples, ITU T.81 §B.2.2 — marker walk over variable-length
    * segments), GIF87a/89a (logical screen descriptor, LE uint16), WebP
    * (RIFF/WEBP with all three layouts: VP8X canvas LE24+1, VP8L
    * 14-bit-packed LE32 after the 0x2F signature, lossy VP8 frame-tag
    * dimensions behind the 9D 01 2A start code).
    * Unknown/truncated input → ("unknown", -1, -1), never a throw: at
    * corpus scale malformed bytes are data, not errors. */
  def parseImageHeader(b: Array[Byte]): (String, Int, Int) = {
    if (b.length >= 24 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && fourCC(b, 12) == "IHDR") {
      // PNG dimensions are 1 to 2^31-1: zero or a set top bit is no shape
      val w = i32be(b, 16); val h = i32be(b, 20)
      if (w <= 0 || h <= 0) ("png", -1, -1) else ("png", w, h)
    } else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      ("gif", u16le(b, 6), u16le(b, 8))
    else if (b.length >= 16 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      fourCC(b, 12) match {
        case "VP8X" if b.length >= 30 =>
          ("webp", u24le(b, 24) + 1, u24le(b, 27) + 1)
        case "VP8L" if b.length >= 25 && u8(b, 20) == 0x2f =>
          val bits = u24le(b, 21) | (u8(b, 24) << 24)
          ("webp", (bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1)
        case "VP8 " if b.length >= 30 && u8(b, 23) == 0x9d && u8(b, 24) == 0x01 &&
            u8(b, 25) == 0x2a =>
          ("webp", u16le(b, 26) & 0x3fff, u16le(b, 28) & 0x3fff)
        case _ => ("webp", -1, -1)
      }
    } else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      // walk FF-marker segments to the first frame header: SOF0-SOF15
      // are 0xC0-0xCF minus DHT (C4), JPG (C8), DAC (CC)
      var i = 2
      while (i + 9 <= b.length && u8(b, i) == 0xff) {
        val m = u8(b, i + 1)
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return ("jpeg", u16be(b, i + 7), u16be(b, i + 5))
        i += 2 + u16be(b, i + 2)
      }
      ("jpeg", -1, -1)
    } else ("unknown", -1, -1)
  }

  /** Real-format decode over [[Seam.rows]]: (id, media) → (id, format, width, height). */
  def decodeImageHeaders(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, ImageMetaSchema) { b =>
      val (fmt, w, h) = parseImageHeader(b)
      Row(fmt, w, h)
    }

  /** Synthesize real image container bytes (PNG through IHDR, JPEG
    * SOI‖APP0‖SOF0‖EOI, GIF89a screen descriptor) from computed
    * dimensions — pure column expressions (hex text → unhex), so the
    * synthesis stays in the scan projection and an oracle can re-derive
    * the dimensions analytically. Dimensions must fit uint16 (the
    * JPEG/GIF field width); formatSel: 0=png, 1=jpeg, 2=gif, 3=webp
    * (VP8X extended layout: LE24 canvas width−1 / height−1). */
  def packImage(formatSel: Column, width: Column, height: Column): Column = {
    val w16 = lpad(hex(width.cast("long")), 4, "0")
    val h16 = lpad(hex(height.cast("long")), 4, "0")
    val w32 = lpad(hex(width.cast("long")), 8, "0")
    val h32 = lpad(hex(height.cast("long")), 8, "0")
    def le(x: Column) = concat(substring(x, 3, 2), substring(x, 1, 2))
    // LE24 of a value already rendered as 8 hex chars (top byte zero)
    def le24(x: Column) =
      concat(substring(x, 7, 2), substring(x, 5, 2), substring(x, 3, 2))
    val png = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), w32, h32,
      lit("0806000000")) // bit depth 8, RGBA, deflate, adaptive, no interlace
    val jpeg = concat(
      lit("FFD8" + "FFE00004" + "4A46" + "FFC0000B08"), h16, w16,
      lit("01011100" + "FFD9")) // 1 component (4:4:4), then EOI
    val gif = concat(
      lit("474946383961"), le(w16), le(h16),
      lit("F7000000")) // GCT flags + background + aspect
    val wm1 = lpad(hex((width - 1).cast("long")), 8, "0")
    val hm1 = lpad(hex((height - 1).cast("long")), 8, "0")
    val webp = concat(
      // RIFF size 22 (file 30 bytes), VP8X chunk size 10, flags+reserved 0
      lit("52494646" + "16000000" + "57454250" + "56503858" + "0A000000" +
        "00" + "000000"),
      le24(wm1), le24(hm1))
    unhex(when(formatSel === 0, png).when(formatSel === 1, jpeg)
      .when(formatSel === 2, gif).otherwise(webp))
  }

  // --- real public-format audio/video container headers --------------
  // Same boundary as the image headers: container METADATA is a few
  // fixed-layout fields near the front of every public AV format —
  // RIFF/WAVE chunks and ISO BMFF (MP4) boxes — parseable with byte
  // arithmetic alone. Sample/frame DECODE stays out of scope. The
  // parsers read declared sizes without requiring the media body to be
  // present, because a crawler typically stores only a prefix of a
  // fetched object (the reference truncates content buffers the same
  // way — ArcFileWriter caps item content); header sniffing over a
  // truncated fetch is the production case, not a corner.

  val AvMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false), // -1 where n/a
    StructField("sample_rate", IntegerType, nullable = false), // MP4: timescale
    StructField("bits", IntegerType, nullable = false), // -1 where n/a
    StructField("duration_ms", LongType, nullable = false),
  ))

  /** The four-byte box/chunk type at i, or "" past the end of b. */
  private def cc(b: Array[Byte], i: Int): String = if (i + 4 <= b.length) fourCC(b, i) else ""

  /** Parse format + timing metadata from real AV container bytes:
    * WAV (RIFF §"WAVE" chunk walk: `fmt ` PCM fields + `data` declared
    * size, all little-endian), MP4 (ISO 14496-12 box walk: `moov/mvhd`
    * timescale+duration, version 0 and 1 layouts, big-endian).
    * Unknown/truncated input → ("unknown", -1, -1, -1), never a throw. */
  def parseAvHeader(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    val none = ("unknown", -1, -1, -1, 0L)
    if (b.length >= 12 && cc(b, 0) == "RIFF" && cc(b, 8) == "WAVE") {
      // chunk walk with a LONG cursor: declared sizes are untrusted u32,
      // so Int arithmetic would overflow negative on adversarial bytes
      // and index backwards (fuzz-caught); sizes may also honestly
      // extend past a stored prefix
      var i = 12L
      var channels = -1; var rate = -1; var bits = -1; var byteRate = 0L
      var dataLen = -1L
      while (i + 8 <= b.length && (channels < 0 || dataLen < 0)) {
        val at = i.toInt
        val id = cc(b, at); val size = u32le(b, at + 4)
        if (id == "fmt " && i + 24 <= b.length) {
          // rate is u32 on disk but no real PCM rate approaches 2^31 —
          // an overflowing value is malformed data, not a rate
          val rateL = u32le(b, at + 12)
          if (rateL > Int.MaxValue) return none
          channels = u16le(b, at + 10); rate = rateL.toInt
          byteRate = u32le(b, at + 16); bits = u16le(b, at + 22)
        } else if (id == "data") dataLen = size
        i += 8L + size + (size & 1L) // chunks pad to even
      }
      if (channels < 0) return none
      val durMs = if (byteRate > 0 && dataLen > 0) dataLen * 1000L / byteRate else 0L
      ("wav", channels, rate, bits, durMs)
    } else if (b.length >= 8 && cc(b, 4) == "ftyp") {
      var i = 0L // box sizes are untrusted u32: Long cursor, same as above
      var timescale = -1L; var duration = -1L
      while (i + 8 <= b.length && timescale < 0) {
        val at = i.toInt
        val size = u32be(b, at); val id = cc(b, at + 4)
        if (id == "moov") {
          // walk children of the container box
          var j = i + 8
          val end = math.min(i + size, b.length.toLong)
          while (j + 8 <= end && timescale < 0) {
            val ja = j.toInt
            val csize = u32be(b, ja)
            if (cc(b, ja + 4) == "mvhd" && j + 16 <= b.length) {
              val version = u8(b, ja + 8)
              if (version == 1 && j + 40 <= b.length) {
                timescale = u32be(b, ja + 28); duration = u64be(b, ja + 32)
              } else if (version == 0 && j + 28 <= b.length) {
                timescale = u32be(b, ja + 20); duration = u32be(b, ja + 24)
              }
            }
            if (csize < 8) j = end else j += csize
          }
        }
        if (size < 8) return none else i += size
      }
      if (timescale <= 0 || timescale > Int.MaxValue || duration < 0) return none
      ("mp4", -1, timescale.toInt, -1, duration * 1000L / timescale)
    } else none
  }

  /** Real AV-format decode over [[Seam.rows]]: (id, media) → AvMetaSchema row per record. */
  def decodeAvHeaders(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, AvMetaSchema) { b =>
      val (fmt, ch, rate, bits, durMs) = parseAvHeader(b)
      Row(fmt, ch, rate, bits, durMs)
    }

  private def le16hex(x: Column): Column = {
    val h = lpad(hex(x.cast("long")), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le32hex(x: Column): Column = {
    val h = lpad(hex(x.cast("long")), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }
  private def be32hex(x: Column): Column = lpad(hex(x.cast("long")), 8, "0")

  /** Synthesize a spec-shaped WAV header (RIFF ‖ fmt ‖ data declaration;
    * the data body itself is omitted — the truncated-fetch prefix shape
    * the parser is specified against). PCM fields are derived:
    * byte_rate = rate·channels·bits/8. */
  def packWav(channels: Column, rate: Column, bits: Column, dataLen: Column): Column = {
    val byteRate = (rate * channels * bits / lit(8)).cast("long")
    val blockAlign = (channels * bits / lit(8)).cast("long")
    unhex(concat(
      lit("52494646"), le32hex(dataLen + 36), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), le32hex(lit(16)), // 'fmt ' 16
      le16hex(lit(1)), le16hex(channels), le32hex(rate), le32hex(byteRate),
      le16hex(blockAlign), le16hex(bits),
      lit("64617461"), le32hex(dataLen))) // 'data' declared size, body absent
  }

  /** Synthesize a minimal valid MP4: `ftyp` (isom) then `moov/mvhd`
    * (version 0) with the given timescale/duration; post-duration mvhd
    * fields (rate/volume/matrix/next-track) are zeros. */
  def packMp4(timescale: Column, duration: Column): Column =
    unhex(concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000000"), // ftyp isom
      lit("00000074" + "6D6F6F76"), // moov (8+108)
      lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
      be32hex(timescale), be32hex(duration),
      lit("00" * 80))) // remaining mvhd v0 fields

  /** Feature extraction: a 16-bin histogram over the payload bytes' high
    * nibbles, L1-normalized — ONE pass over the raw bytes via the
    * codegen'd `nibble_hist16` native expression (true byte counts, no
    * string decode), with the normalization kept in column land so the
    * doubles are single exact divisions of exact counts. */
  def byteHistogram16(media: Column): Column = {
    val payload = substring(media, HeaderLen + 1, Int.MaxValue)
    val counts = graft.functions.NativeExpressions.nibbleHist16(payload)
    val total = greatest(length(payload), lit(1)).cast("double")
    array((0 until 16).map(i =>
      element_at(counts, i + 1).cast("double") / total): _*)
  }

  /** Magic-byte MIME sniffing as pure codegen'd column expressions — no
    * UDF, no batch seam: six fixed-offset prefix probes (PNG signature,
    * JPEG SOI, GIF87a/89a, RIFF+WEBP, RIFF+WAVE, ISO-BMFF ftyp) that
    * whole-stage codegen fuses into the scan projection. The reference
    * TRUSTS the fetch-declared type (ArcFileItem mime carried verbatim,
    * `util/StreamingArcFileReader.java:916-918`); content-vs-claim
    * auditing is the training-pipeline hardening a corpus builder runs
    * before routing bytes to a decoder. */
  def sniffMime(media: Column): Column = {
    def hx(off: Int, len: Int) = hex(substring(media, off, len))
    when(hx(1, 4) === "89504E47", "image/png")
      .when(hx(1, 3) === "FFD8FF", "image/jpeg")
      .when(hx(1, 4) === "47494638", "image/gif")
      .when(hx(1, 4) === "52494646" && hx(9, 4) === "57454250", "image/webp")
      .when(hx(1, 4) === "52494646" && hx(9, 4) === "57415645", "audio/wav")
      .when(hx(5, 4) === "66747970", "video/mp4")
      .otherwise(lit("application/octet-stream"))
  }

  /** "Resize" stub: stride-k nearest-neighbor downsample of the payload
    * bytes — the 1-D analog of image resizing, as pure column expressions
    * (a real resampler would replace the kernel inside the same
    * per-row seam as `decodeHeaderStub`). Returns
    * (out_len, checksum) of the resampled payload: the checksum is an
    * exact integer fold over the sampled bytes, so a downstream oracle
    * can verify which bytes were kept without shipping the payload. */
  def resizeStride(media: Column, stride: Int): (Column, Column) = {
    val payload = substring(media, HeaderLen + 1, Int.MaxValue)
    // kept positions are 1, 1+stride, 1+2*stride … ≤ len, so the output
    // length is pure arithmetic — no index array to materialize — and the
    // checksum is one codegen'd pass over the raw bytes (stride_sum)
    val len = length(payload)
    // ceil(len/stride) via double division then truncation — exact for
    // any realistic payload length (double holds integers to 2^53)
    val out = ((len + lit(stride - 1)) / lit(stride)).cast("long")
    val checksum = graft.functions.NativeExpressions.strideSum(payload, stride)
    (out, checksum)
  }

  /** Frame sampling for "video" media: every k-th frame index, capped —
    * the list-generation shape (deterministic, no decode needed). */
  def sampleFrameIndexes(nFrames: Column, every: Int, cap: Int): Column =
    slice(
      filter(
        sequence(lit(0), greatest(nFrames.cast("int") - 1, lit(0))),
        i => i % every === 0),
      1, cap)

  // --- real PIXEL decode: uncompressed 24-bit BMP --------------------
  // Pixel decode of the compressed formats (PNG/JPEG/WebP) needs codec
  // libraries this container doesn't ship; BI_RGB BMP does not — pixels
  // sit raw after the headers, 3 bytes/pixel in BGR order, rows stored
  // bottom-up (top-down when the height field is negative) and padded
  // to 4-byte boundaries. Decoding it is pure byte arithmetic, so for
  // BMP the decode itself is REAL: the stub boundary narrows from "no
  // pixel decode" to "no compressed-codec pixel decode".

  val PixelStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("even_sum", LongType, nullable = false),
  ))

  /** Deterministic test-pattern pixel at (x, y) for seed k — the fixture
    * formula (encoder-only; the decoder never sees it). Channel values
    * are (r, g, b). */
  private[graft] def testPixel(k: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((x + y + 3 * k) % 256).toInt,
    ((3 * x + 5 * y + 2 * k) % 256).toInt,
    ((7 * x + 11 * y + k) % 256).toInt,
  )

  /** Encode a real BI_RGB 24-bit BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, bottom-up rows, 4-byte row padding) holding the
    * [[testPixel]] pattern for seed k. Fixture synthesis only — the
    * cold-path side of the m7 round-trip. */
  private[graft] def encodeBmp24(k: Long, w: Int, h: Int): Array[Byte] = {
    val rowPad = (4 - (w * 3) % 4) % 4
    val imgSize = (w * 3 + rowPad) * h
    val buf = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putInt(0).putInt(54) // reserved, pixel-data offset
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imgSize) // BI_RGB, declared image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette n/a
    var y = h - 1
    while (y >= 0) { // bottom-up row order
      var x = 0
      while (x < w) {
        val (r, g, b) = testPixel(k, x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = 0
      while (p < rowPad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** REAL pixel decode of a BI_RGB 24-bit BMP: walks the file/DIB
    * headers (data offset, signed height for bottom-up vs top-down,
    * bpp 24, compression 0), then the padded pixel rows, producing
    * integer-exact channel sums plus a geometry-sensitive probe —
    * `even_sum` folds only pixels at even (x, y), so a wrong row
    * stride, a missed bottom-up flip (for even heights), or padding
    * bytes leaking into pixels each break a different output.
    * Malformed input → all-(-1) stats, never a throw. */
  /** Validated BI_RGB 24-bit BMP geometry: (dataOff, w, h, stride,
    * topDown), or null on malformed input — the shared header walk of
    * [[decodeBmp24Stats]], [[decodeBmpBoxResize2]] and [[decodeBmpDHash]], keeping the
    * untrusted-dimension overflow discipline in one place. */
  private[graft] def bmp24Header(b: Array[Byte]): (Int, Int, Int, Int, Boolean) = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOff = i32le(b, 10)
    val w = i32le(b, 18)
    val hRaw = i32le(b, 22) // signed: height may be <0
    val topDown = hRaw < 0
    // abs in Long: hRaw may be Int.MinValue, whose Int abs is itself
    val h = math.abs(hRaw.toLong)
    if (u16le(b, 28) != 24 || i32le(b, 30) != 0 || w <= 0 || h == 0) return null
    // declared dimensions are untrusted: stride arithmetic in Long, and
    // both must already fit the stored bytes before any row is touched
    // (w near 2^31 would overflow `w * 3` to a negative Int stride and
    // index backwards — the AV-parser fuzz lesson applies here too)
    val strideL = (w.toLong * 3 + 3) / 4 * 4
    // overflow-free form: `strideL * h` wraps negative when both dims
    // are near 2^31 (e.g. 0x7f7f7f7f), letting a wrapped product pass a
    // direct `> remaining` compare — divide instead (strideL >= 4
    // whenever w >= 1, so the division is safe)
    if (dataOff < 0 || dataOff > b.length ||
        h > (b.length.toLong - dataOff) / strideL) return null
    (dataOff, w, h.toInt, strideL.toInt, topDown)
  }

  private[graft] def decodeBmp24Stats(b: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    val hdr = bmp24Header(b)
    if (hdr == null) return bad
    val (dataOff, w, hI, stride, topDown) = hdr
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
    var y = 0
    while (y < hI) {
      val row = dataOff + (if (topDown) y else hI - 1 - y) * stride
      var x = 0
      while (x < w) {
        val i = row + 3 * x
        val bb = u8(b, i); val gg = u8(b, i + 1); val rr = u8(b, i + 2)
        sumR += rr; sumG += gg; sumB += bb
        if ((x & 1) == 0 && (y & 1) == 0) evenSum += rr + gg + bb
        x += 1
      }
      y += 1
    }
    (w, hI, sumR, sumG, sumB, evenSum)
  }

  /** m47: REAL 2×2 integer box-filter resize over the decoded BMP — the
    * genuine resample kernel the m4 stride walk stands in for: each
    * output pixel is the floor-average of its 2×2 input block per
    * channel (the standard box decimation; a trailing odd row/column is
    * dropped, out = in/2 floored — libjpeg/Pillow "reduce" semantics).
    * Returns (out_w, out_h, sum_r2, sum_g2, sum_b2, mix) where the sums
    * run over the RESAMPLED pixels and `mix` folds only the
    * even-parity resampled lattice ((ox+oy)%2==0) of r+2g+3b — the m7
    * even_sum discipline one level down, so a shifted block, a swapped
    * channel, or a wrong rounding mode each breaks a different column.
    * All-integer: the oracle replays the averages exactly. */
  private[graft] def decodeBmpBoxResize2(b: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    val hdr = bmp24Header(b)
    if (hdr == null) return bad
    val (dataOff, w, hI, stride, topDown) = hdr
    val ow = w / 2
    val oh = hI / 2
    def rowOff(y: Int) = dataOff + (if (topDown) y else hI - 1 - y) * stride
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var mix = 0L
    var oy = 0
    while (oy < oh) {
      val r0 = rowOff(2 * oy); val r1 = rowOff(2 * oy + 1)
      var ox = 0
      while (ox < ow) {
        val i00 = r0 + 6 * ox; val i01 = i00 + 3
        val i10 = r1 + 6 * ox; val i11 = i10 + 3
        val ab = (u8(b, i00) + u8(b, i01) + u8(b, i10) + u8(b, i11)) / 4
        val ag = (u8(b, i00 + 1) + u8(b, i01 + 1) + u8(b, i10 + 1) + u8(b, i11 + 1)) / 4
        val ar = (u8(b, i00 + 2) + u8(b, i01 + 2) + u8(b, i10 + 2) + u8(b, i11 + 2)) / 4
        sumR += ar; sumG += ag; sumB += ab
        if (((ox + oy) & 1) == 0) mix += ar + 2L * ag + 3L * ab
        ox += 1
      }
      oy += 1
    }
    (ow, oh, sumR, sumG, sumB, mix)
  }

  /** m48: the k×k generalization of [[decodeBmpBoxResize2]] — one rung
    * of the thumbnail LADDER a multimodal corpus build actually runs
    * (/2, /4, /8 …): each output pixel is the per-channel floor-average
    * of its k×k input block (sum of k² samples div k²; the trailing
    * rows/columns that don't fill a block are dropped, out = in/k
    * floored — the same libjpeg/Pillow "reduce" semantics as m47).
    * Same return shape and even-parity `mix` discipline. */
  private[graft] def decodeBmpBoxResizeK(b: Array[Byte], k: Int): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    val hdr = bmp24Header(b)
    if (hdr == null) return bad
    val (dataOff, w, hI, stride, topDown) = hdr
    val ow = w / k
    val oh = hI / k
    val div = k * k
    def rowOff(y: Int) = dataOff + (if (topDown) y else hI - 1 - y) * stride
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var mix = 0L
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        var tr = 0; var tg = 0; var tb = 0
        var dy = 0
        while (dy < k) {
          val r0 = rowOff(k * oy + dy)
          var dx = 0
          while (dx < k) {
            val i = r0 + 3 * (k * ox + dx)
            tb += u8(b, i); tg += u8(b, i + 1); tr += u8(b, i + 2)
            dx += 1
          }
          dy += 1
        }
        val ar = tr / div; val ag = tg / div; val ab = tb / div
        sumR += ar; sumG += ag; sumB += ab
        if (((ox + oy) & 1) == 0) mix += ar + 2L * ag + 3L * ab
        ox += 1
      }
      oy += 1
    }
    (ow, oh, sumR, sumG, sumB, mix)
  }

  /** The thumbnail ladder over the standard batch seam: one output row
    * per (image, rung) — (id, k, out_w, out_h, sum_r, sum_g, sum_b,
    * mix). Per-file CPU work in a flatMap (the m14 weak-scaling
    * regime); the header walks once per rung over the same buffer —
    * byte decode stays on the map side, only integer summaries move. */
  def decodeBmpBoxResizeLadder(df: DataFrame, id: String, media: String,
      ks: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", IntegerType, nullable = false),
      StructField("out_w", IntegerType, nullable = false),
      StructField("out_h", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("mix", LongType, nullable = false)))
    val kList = ks.toArray
    val rdd = df.select(col(id).cast("long"), col(media)).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](1)
        kList.iterator.map { k =>
          val (ow, oh, sr, sg, sb, mx) = decodeBmpBoxResizeK(bytes, k)
          Row(r.getLong(0), k, ow, oh, sr, sg, sb, mx)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** [[decodeBmpBoxResize2]] over [[Seam.rows]]:
    * (id, media) → (id, out_w, out_h, sum_r2, sum_g2, sum_b2, mix). */
  def decodeBmpBoxResize(df: DataFrame, id: String, media: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("out_w", IntegerType, nullable = false),
      StructField("out_h", IntegerType, nullable = false),
      StructField("sum_r2", LongType, nullable = false),
      StructField("sum_g2", LongType, nullable = false),
      StructField("sum_b2", LongType, nullable = false),
      StructField("mix", LongType, nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (ow, oh, sr, sg, sb, mx) = decodeBmpBoxResize2(b)
      Row(ow, oh, sr, sg, sb, mx)
    }
  }

  // --- perceptual hash over the real BMP decode -----------------------
  // dHash (difference hash): nearest-neighbor downsample to a 9-wide ×
  // 8-tall grayscale grid, then 64 bits of "is the right neighbor
  // brighter" — the standard perceptual fingerprint for image near-dup
  // detection (same family as pHash/aHash; cf. the reference's SimHash
  // text analog at `/root/reference/src/org/commoncrawl/util/SimHash`-
  // style fingerprinting). The hash is invariant to any pixel change
  // OFF the 72-point sample lattice — exactly the compression/retouch
  // noise a mirror or CDN re-encode introduces — so hash-equality
  // groups perceptually identical images without an all-pairs compare.

  /** Downsample lattice coordinate for grid index g of n along an axis
    * of extent d: evenly spread, endpoints inclusive. The product runs
    * in Long — d is an UNTRUSTED decoded width/height (a declared
    * w ≥ 2²⁸ makes g·(d−1) wrap negative in Int and indexes backwards;
    * the same overflow-free discipline as the stride checks). */
  @inline private def latticeCoord(g: Int, n: Int, d: Int): Int =
    ((g.toLong * (d - 1)) / (n - 1)).toInt

  /** Scene pattern for the perceptual-hash fixtures: quadratic in the
    * coordinates with a scene-keyed interaction term, so adjacent-cell
    * brightness comparisons vary with BOTH position and scene (the
    * linear [[testPixel]] gradient is too smooth — most scenes collapse
    * to the same monotone sign pattern and dHash cannot separate them;
    * this formula maps all 53 fixture scenes to 53 distinct hashes). */
  private[graft] def scenePixel(k: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((x * x * 7 + y * y * 11 + k * (x + 1) * (y + 2)) % 256).toInt,
    ((x * x * 3 + y * y * 5 + k * (x + 2) * (y + 1)) % 256).toInt,
    ((x * x * 13 + y * y * 2 + k * (x + 3) * (y + 3)) % 256).toInt,
  )

  /** Encode a BI_RGB 24-bit BMP whose SAMPLE-LATTICE pixels carry the
    * [[scenePixel]] pattern for the scene seed, while every off-lattice
    * pixel is perturbed by a per-document jitter — two documents of the
    * same scene are byte-different images that are perceptually (and
    * dHash-) identical. Fixture synthesis only. */
  private[graft] def encodeBmp24Jittered(
      scene: Long, docSeed: Long, w: Int, h: Int): Array[Byte] =
    encodeBmp24Perturbed(scene, docSeed, w, h, cell = -1)

  /** [[encodeBmp24Jittered]] plus an optional single-cell perturbation:
    * when `cell` ∈ [0, 72), the LATTICE pixel of grid cell (cell%9,
    * cell/9) gets +64 on every channel — the "re-encode changed a
    * detail" regime that flips ≤2 dHash comparisons (the cell's left
    * and right neighbor comparisons) when the lattice is injective
    * (w ≥ 9, h ≥ 8; smaller dims alias one pixel to several grid
    * cells and the flip count is unbounded — d13's fixture dims
    * guarantee injectivity). Fixture synthesis only. */
  private[graft] def encodeBmp24Perturbed(
      scene: Long, docSeed: Long, w: Int, h: Int, cell: Int): Array[Byte] = {
    val xs = new Array[Boolean](w)
    val ys = new Array[Boolean](h)
    var g = 0
    while (g < 9) { xs(latticeCoord(g, 9, w)) = true; g += 1 }
    g = 0
    while (g < 8) { ys(latticeCoord(g, 8, h)) = true; g += 1 }
    val (bumpX, bumpY) =
      if (cell >= 0 && cell < 72)
        (latticeCoord(cell % 9, 9, w), latticeCoord(cell / 9, 8, h))
      else (-1, -1)
    val rowPad = (4 - (w * 3) % 4) % 4
    val imgSize = (w * 3 + rowPad) * h
    val buf = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(imgSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val (r0, g0, b0) = scenePixel(scene, x, y)
        val j =
          if (xs(x) && ys(y)) 0
          else ((docSeed * 31 + 17 * x + 19 * y) % 7 + 1).toInt
        val p = if (x == bumpX && y == bumpY) 64 else 0
        buf.put(((b0 + j + p) % 256).toByte)
          .put(((g0 + j + p) % 256).toByte)
          .put(((r0 + j + p) % 256).toByte)
        x += 1
      }
      var p = 0
      while (p < rowPad) { buf.put(0.toByte); p += 1 }
      y -= 1
    }
    buf.array()
  }

  /** REAL dHash decode: the same untrusted-header BMP walk as
    * [[decodeBmp24Stats]], then grayscale `(r + 2g + b) / 4` at the
    * 9×8 nearest-neighbor lattice and 64 right-neighbor comparisons,
    * packed 32 bits each into (h_hi, h_lo) so both halves stay in
    * non-negative Long range for an engine-portable GROUP BY key.
    * Malformed input → (-1, -1, -1, -1), never a throw. */
  private[graft] def decodeBmpDHash(b: Array[Byte]): (Int, Int, Long, Long) = {
    val hdr = bmp24Header(b)
    if (hdr == null) return (-1, -1, -1L, -1L)
    val (dataOff, w, hI, stride, topDown) = hdr
    // grid row base for image row y, honoring bottom-up storage
    def rowOff(y: Int) = dataOff + (if (topDown) y else hI - 1 - y) * stride
    val gray = Array.ofDim[Int](8, 9)
    var gy = 0
    while (gy < 8) {
      val sy = latticeCoord(gy, 8, hI)
      val ro = rowOff(sy)
      var gx = 0
      while (gx < 9) {
        val sx = latticeCoord(gx, 9, w)
        val i = ro + 3 * sx
        gray(gy)(gx) = (u8(b, i + 2) + 2 * u8(b, i + 1) + u8(b, i)) / 4
        gx += 1
      }
      gy += 1
    }
    val (hHi, hLo) = packDHash(gray)
    (w, hI, hHi, hLo)
  }

  /** The 64 right-neighbor comparisons over the 8×9 gray lattice,
    * packed 32 bits per half — ONE definition shared by every format's
    * dHash so cross-format hashes are comparable by construction. */
  private def packDHash(gray: Array[Array[Int]]): (Long, Long) = {
    var hHi = 0L; var hLo = 0L
    var idx = 0
    while (idx < 64) {
      val bx = idx % 8; val by = idx / 8
      if (gray(by)(bx + 1) > gray(by)(bx)) {
        if (idx < 32) hHi |= 1L << idx else hLo |= 1L << (idx - 32)
      }
      idx += 1
    }
    (hHi, hLo)
  }

  /** Format-dispatching perceptual hash — the cross-format near-dup
    * seam (m23): BMP bytes go through [[decodeBmpDHash]], RIFF/WEBP
    * through the real VP8L pixel decode, and both fold the SAME
    * grayscale `(r + 2g + b) / 4`, 9×8 lattice and comparison pack, so
    * one scene stored in two formats yields one hash. Returns
    * (format, w, h, h_hi, h_lo); malformed → ("bad", -1, -1, -1, -1). */
  private[graft] def decodeImageDHash(
      b: Array[Byte]): (String, Int, Int, Long, Long) = {
    if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') {
      val (w, h, hi, lo) = decodeBmpDHash(b)
      (if (w < 0) "bad" else "bmp", w, h, hi, lo)
    } else Vp8l.decodeWebpArgbOpt(b) match {
      case Some((w, h, px)) if w >= 1 && h >= 1 =>
        val gray = Array.ofDim[Int](8, 9)
        var gy = 0
        while (gy < 8) {
          val sy = latticeCoord(gy, 8, h)
          var gx = 0
          while (gx < 9) {
            val sx = latticeCoord(gx, 9, w)
            val p = px(sy * w + sx)
            gray(gy)(gx) =
              (((p >> 16) & 0xff) + 2 * ((p >> 8) & 0xff) + (p & 0xff)) / 4
            gx += 1
          }
          gy += 1
        }
        val (hi, lo) = packDHash(gray)
        ("webp", w, h, hi, lo)
      case _ => ("bad", -1, -1, -1L, -1L)
    }
  }

  // --- real PIXEL decode: PNG (RGB8 / RGBA8, non-interlaced) ----------
  // PNG needs no codec library either: IDAT is zlib (java.util.zip) and
  // the five scanline filters (None/Sub/Up/Average/Paeth) are byte
  // arithmetic over the previous row — RFC 2083. This closes the pixel
  // stub for the dominant web image CONTAINER; only the lossy codecs
  // (JPEG/WebP) remain out of scope.

  /** Cap on inflated pixel bytes per image: IDAT is compressed, so the
    * declared dimensions — not the input length — size the allocation;
    * an adversarial 1-KB file can declare a 2^31-pixel image. */
  private[ops] val MaxInflateBytes = 1L << 26

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 pass grid: (xStart, yStart, xStep, yStep) per pass. */
  private val PngPasses = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Per-pass absolute pixel coordinates: one (columns, rows) pair per
    * non-empty pass — the single full pass when sequential, the Adam7
    * seven when interlaced. Shared by encoder and decoder so the pass
    * geometry can't drift between them. */
  private def pngPassCoords(w: Int, h: Int,
      interlace: Boolean): Seq[(Range, Range)] =
    if (!interlace) Seq((0 until w, 0 until h))
    else PngPasses.map { case (x0, y0, xs, ys) =>
      (x0 until w by xs, y0 until h by ys)
    }.filter(p => p._1.nonEmpty && p._2.nonEmpty)

  /** Filter one pass's unpacked scanline bytes into PNG wire form,
    * rotating the filter type over the pass-local row index (every
    * unfilter path carries real data) — each pass filters independently
    * (prev-row state resets), per the spec. */
  private def filterPass(rows: Seq[Array[Int]], fbpp: Int): Array[Byte] = {
    val rb = if (rows.isEmpty) 0 else rows.head.length
    val out = new Array[Byte]((rb + 1) * rows.length)
    val prev = new Array[Int](rb)
    var off = 0
    var y = 0
    rows.foreach { cur =>
      val ft = y % 5
      out(off) = ft.toByte; off += 1
      var i = 0
      while (i < rb) {
        val a = if (i >= fbpp) cur(i - fbpp) else 0
        val up = prev(i)
        val c = if (i >= fbpp) prev(i - fbpp) else 0
        val v = ft match {
          case 0 => cur(i)
          case 1 => cur(i) - a
          case 2 => cur(i) - up
          case 3 => cur(i) - ((a + up) >> 1)
          case _ => cur(i) - paeth(a, up, c)
        }
        out(off) = (v & 0xff).toByte; off += 1
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, rb)
      y += 1
    }
    out
  }

  /** Encode a real PNG (8-bit RGB, color type 2) holding the
    * [[testPixel]] pattern for seed k, sequentially or Adam7-interlaced.
    * Each scanline uses filter type (pass-row % 5), so a round-trip
    * exercises every unfilter path with the genuine filter math
    * (Sub/Up/Average/Paeth applied, then zlib). Fixture synthesis only —
    * the cold-path side of the m8 round-trip. */
  private[graft] def encodePng24(k: Long, w: Int, h: Int,
      interlace: Boolean = false): Array[Byte] = {
    val raw = pngPassCoords(w, h, interlace).flatMap { case (xs, ys) =>
      filterPass(ys.map { y =>
        val row = new Array[Int](3 * xs.length)
        var i = 0
        xs.foreach { x =>
          val (r, g, b) = testPixel(k, x, y)
          row(3 * i) = r; row(3 * i + 1) = g; row(3 * i + 2) = b
          i += 1
        }
        row
      }, 3)
    }.toArray
    pngContainer(raw, w, h, 8, 2, Nil, interlace)
  }

  /** Deflate filtered scanlines and wrap them in a real PNG container:
    * signature, IHDR, any extra pre-IDAT chunks (PLTE/tRNS), IDAT, IEND
    * — shared by the truecolor and palette/gray fixture encoders. */
  private def pngContainer(raw: Array[Byte], w: Int, h: Int, depth: Int,
      colorType: Int, extra: Seq[(String, Array[Byte])],
      interlace: Boolean = false): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) comp.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream(comp.size() + 64)
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array(), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array(), 0, 4)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte)
      .put((if (interlace) 1 else 0).toByte).array())
    extra.foreach { case (t, d) => chunk(t, d) }
    chunk("IDAT", comp.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Palette entry j → (r, g, b): analytic, so the m18 oracle recomputes
    * channel sums without decoding (the GIF-palette discipline). */
  private[graft] def pngPalette(j: Int): (Int, Int, Int) =
    ((5 * j + 1) % 256, (11 * j + 2) % 256, (23 * j + 3) % 256)

  /** Sample value at (x, y) for seed k at `depth` bits — analytic. */
  private[graft] def pngSample(k: Long, x: Int, y: Int, depth: Int): Int =
    ((x + 2L * y + k) % (1 << depth)).toInt

  /** Encode a real grayscale (color type 0) or paletted (color type 3)
    * PNG at bit depth 1/2/4/8 with MSB-first sub-byte sample packing
    * and per-row filter rotation (pass-row % 5, byte-domain bpp=1) —
    * the dominant PNG classes on the real web, and deterministic (no
    * IDCT), so the m18 oracle is exact. ODD seeds write Adam7
    * INTERLACED files (the m9 GIF-interlace discipline), so the
    * seven-pass geometry carries real oracle-checked data; seeds
    * k % 3 == 0 of the palette form also carry a tRNS chunk to
    * exercise the ancillary-skip path. */
  private[graft] def encodePngSub(k: Long, w: Int, h: Int, depth: Int,
      palette: Boolean): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4 || depth == 8, s"depth $depth")
    val interlace = k % 2 == 1
    val raw = pngPassCoords(w, h, interlace).flatMap { case (xs, ys) =>
      filterPass(ys.map { y =>
        val row = new Array[Int]((xs.length * depth + 7) / 8)
        var i = 0
        xs.foreach { x =>
          val bitPos = i * depth
          row(bitPos >> 3) |= pngSample(k, x, y, depth) <<
            (8 - depth - (bitPos & 7))
          i += 1
        }
        row
      }, 1)
    }.toArray
    val extra =
      if (!palette) Nil
      else {
        val n = 1 << depth
        val p = new Array[Byte](3 * n)
        var j = 0
        while (j < n) {
          val (r, g, b) = pngPalette(j)
          p(3 * j) = r.toByte; p(3 * j + 1) = g.toByte; p(3 * j + 2) = b.toByte
          j += 1
        }
        if (k % 3 == 0)
          Seq("PLTE" -> p, "tRNS" -> Array.tabulate(n)(j => ((j * 7) % 256).toByte))
        else Seq("PLTE" -> p)
      }
    pngContainer(raw, w, h, depth, if (palette) 3 else 0, extra, interlace)
  }

  /** Encode a real 16-bit PNG (gray color type 0 or RGB color type 2,
    * big-endian samples). High bytes carry the analytic patterns the
    * oracle recomputes ([[testPixel]] for RGB, the depth-8
    * [[pngSample]] for gray); LOW bytes carry an independent analytic
    * value ((7x + 13y + k) % 256) the 16→8 fold must DISCARD — a
    * wrong-endian read or low-byte fold shows up as a sum mismatch,
    * not silence. ODD seeds interlace (the m18 discipline). */
  private[graft] def encodePng16(k: Long, w: Int, h: Int,
      rgb: Boolean): Array[Byte] = {
    val interlace = k % 2 == 1
    val channels = if (rgb) 3 else 1
    def lo(x: Int, y: Int): Int = ((7L * x + 13L * y + k) % 256).toInt
    val raw = pngPassCoords(w, h, interlace).flatMap { case (xs, ys) =>
      filterPass(ys.map { y =>
        val row = new Array[Int](channels * 2 * xs.length)
        var i = 0
        xs.foreach { x =>
          val st = channels * 2 * i
          if (rgb) {
            val (r, g, b) = testPixel(k, x, y)
            row(st) = r; row(st + 1) = lo(x, y)
            row(st + 2) = g; row(st + 3) = lo(x, y)
            row(st + 4) = b; row(st + 5) = lo(x, y)
          } else {
            row(st) = pngSample(k, x, y, 8); row(st + 1) = lo(x, y)
          }
          i += 1
        }
        row
      }, channels * 2)
    }.toArray
    pngContainer(raw, w, h, 16, if (rgb) 2 else 0, Nil, interlace)
  }

  /** Fixture-synthesis column for m19: 16-bit PNG bytes for
    * (seed, width, height, rgb?). */
  def packPng16(id: Column, width: Column, height: Column,
      rgb: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int, r: Boolean) =>
      encodePng16(k % 251, w, h, r))
    enc(id.cast("long"), width.cast("int"), height.cast("int"),
      rgb.cast("boolean"))
  }

  /** Fixture-synthesis column for m18: palette/gray PNG bytes for
    * (seed, width, height, depth, palette?). */
  def packPngSub(id: Column, width: Column, height: Column,
      depth: Column, palette: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int, d: Int, p: Boolean) =>
      encodePngSub(k % 251, w, h, d, p))
    enc(id.cast("long"), width.cast("int"), height.cast("int"),
      depth.cast("int"), palette.cast("boolean"))
  }

  /** REAL pixel decode of a non-interlaced 8-bit RGB/RGBA PNG: walks the
    * chunk stream (IHDR geometry/flags, IDAT concatenation, ancillary
    * chunks skipped), inflates through `java.util.zip.Inflater` with the
    * allocation bounded by [[MaxInflateBytes]] BEFORE trusting the
    * declared dimensions, reverses all five scanline filters, and folds
    * the same channel sums + even-(x,y) geometry probe as the BMP path.
    * Malformed input → all-(-1) stats, never a throw. */
  private[graft] def decodePngStats(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      if (bytes.length < 33) return bad
      val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      var si = 0
      while (si < 8) { if ((bytes(si) & 0xff) != sig(si)) return bad; si += 1 }
      var pos = 8
      var w = -1; var h = -1; var colorType = -1; var bitDepth = -1
      var interlaced = false
      var sawIhdr = false
      var plte: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var done = false
      while (!done) {
        if (pos + 8 > bytes.length) return bad
        val len = i32be(bytes, pos)
        if (len < 0 || pos + 12L + len > bytes.length) return bad
        val typ = fourCC(bytes, pos + 4)
        typ match {
          case "IHDR" =>
            if (len != 13) return bad
            w = i32be(bytes, pos + 8); h = i32be(bytes, pos + 12)
            bitDepth = bytes(pos + 16) & 0xff
            colorType = bytes(pos + 17) & 0xff
            if ((bytes(pos + 18) & 0xff) != 0 || (bytes(pos + 19) & 0xff) != 0)
              return bad // compression/filter method must be 0
            val il = bytes(pos + 20) & 0xff
            if (il > 1) return bad
            interlaced = il == 1
            sawIhdr = true
          case "PLTE" =>
            if (len % 3 != 0 || len > 768) return bad
            plte = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
          case "IDAT" => idat.write(bytes, pos + 8, len)
          case "IEND" => done = true
          case _ => () // ancillary chunk (tEXt, tRNS, gAMA, …): skip
        }
        pos += 12 + len
      }
      if (!sawIhdr || w <= 0 || h <= 0) return bad
      // truecolor stays 8-bit only; grayscale (0) and palette (3) — the
      // dominant PNG classes on the real web — accept depths 1/2/4/8
      // with PNG's MSB-first sub-byte sample packing
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 6 => 4; case _ => return bad
      }
      val depthOk = colorType match {
        case 0 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
          bitDepth == 8 || bitDepth == 16
        case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 || bitDepth == 8
        case _ => bitDepth == 8 || bitDepth == 16
      }
      if (!depthOk) return bad
      if (colorType == 3 && (plte == null || plte.length < 3)) return bad
      val bitsPerPixel = bitDepth * channels
      // declared dims are untrusted AND unbounded by input size (IDAT is
      // compressed): overflow-free stride math over the pass geometry
      // (sequential = one full pass; Adam7 = up to 7), hard allocation cap
      val passes = pngPassCoords(w, h, interlaced)
      var totalL = 0L
      passes.foreach { case (xs, ys) =>
        totalL += ys.length.toLong *
          ((xs.length.toLong * bitsPerPixel + 7) / 8 + 1)
      }
      if (totalL > MaxInflateBytes) return bad
      val total = totalL.toInt
      val raw = new Array[Byte](total)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var got = 0
        var stuck = false
        while (got < total && !inf.finished() && !stuck) {
          val n = inf.inflate(raw, got, total - got)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
          got += n
        }
        if (got < total) return bad
      } finally inf.end()
      // filters run over the BYTE domain: the "previous pixel" byte is
      // max(1, bitsPerPixel/8) back (PNG's bpp-rounded-up-to-1 rule),
      // so sub-byte rows filter against the prior byte; each pass
      // unfilters independently (prev-row state resets per pass)
      val fbpp = math.max(1, bitsPerPixel / 8)
      // 16-bit samples are big-endian; the 8-bit fold keeps the HIGH
      // byte (the standard 16→8 reduction), so grayScale only applies
      // to the sub-byte depths
      val maxSample = (1 << math.min(bitDepth, 8)) - 1
      val grayScale = if (bitDepth >= 8) 1 else 255 / maxSample
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
      var off = 0
      passes.foreach { case (xs, ys) =>
        val wP = xs.length
        val stride = ((wP.toLong * bitsPerPixel + 7) / 8).toInt
        val prev = new Array[Int](stride)
        val cur = new Array[Int](stride)
        ys.foreach { y =>
          val ft = raw(off) & 0xff; off += 1
          if (ft > 4) return bad
          var i = 0
          while (i < stride) {
            val v = raw(off + i) & 0xff
            val a = if (i >= fbpp) cur(i - fbpp) else 0
            val up = prev(i)
            val c = if (i >= fbpp) prev(i - fbpp) else 0
            cur(i) = ft match {
              case 0 => v
              case 1 => (v + a) & 0xff
              case 2 => (v + up) & 0xff
              case 3 => (v + ((a + up) >> 1)) & 0xff
              case _ => (v + paeth(a, up, c)) & 0xff
            }
            i += 1
          }
          off += stride
          // MSB-first sample extraction at PASS-LOCAL bit position
          def sampleAt(p: Int): Int =
            if (bitDepth == 8) cur(p)
            else {
              val bitPos = p * bitDepth
              (cur(bitPos >> 3) >> (8 - bitDepth - (bitPos & 7))) & maxSample
            }
          var p = 0
          while (p < wP) {
            val x = xs(p) // absolute column for the geometry probe
            var r = 0; var g = 0; var b = 0
            colorType match {
              case 2 | 6 =>
                val bytesPerSample = bitDepth / 8 // 1 or 2; BE high byte first
                val st = channels * bytesPerSample * p
                r = cur(st); g = cur(st + bytesPerSample)
                b = cur(st + 2 * bytesPerSample)
              case 0 =>
                val v =
                  if (bitDepth == 16) cur(2 * p) else sampleAt(p) * grayScale
                r = v; g = v; b = v
              case _ => // 3: palette lookup; an index past PLTE is malformed
                val j = sampleAt(p)
                if (3 * j + 2 >= plte.length) return bad
                r = plte(3 * j) & 0xff; g = plte(3 * j + 1) & 0xff
                b = plte(3 * j + 2) & 0xff
            }
            sumR += r; sumG += g; sumB += b
            if ((x & 1) == 0 && (y & 1) == 0) evenSum += r + g + b
            p += 1
          }
          System.arraycopy(cur, 0, prev, 0, stride)
        }
      }
      (w, h, sumR, sumG, sumB, evenSum)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** Fixture-synthesis column: PNG bytes for (seed, width, height) —
    * the m8 analog of [[packBmp24]]. */
  def packPng24(id: Column, width: Column, height: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int) => encodePng24(k % 251, w, h))
    enc(id.cast("long"), width.cast("int"), height.cast("int"))
  }

  /** Real-pixel PNG decode over [[Seam.rows]]: (id, media) → (id, PixelStatsSchema...). */
  def decodePngPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodePngStats(b)
      Row(w, h, sr, sg, sb, es)
    }

  // --- real PIXEL decode: GIF (87a/89a, LZW, interlace) ---------------
  // GIF needs no codec library either: the pixel stream is LZW with
  // GIF's variable-width codes (clear/EOI, widths growing 3→12 bits,
  // LSB-first bit packing) over a palette — all public spec (GIF89a,
  // CompuServe 1990). The encoder below is a REAL LZW compressor, so
  // round-trips exercise genuine dictionary codes, code-width growth,
  // clear handling and the four-pass interlace, not just literals.

  /** Palette entry j → (r, g, b): analytic, so the oracle can recompute
    * channel sums without decoding. */
  private[graft] def gifPalette(j: Int): (Int, Int, Int) =
    ((5 * j + 1) % 256, (11 * j + 2) % 256, (23 * j + 3) % 256)

  /** Palette index at (x, y) for seed k. */
  private[graft] def gifIndex(k: Long, x: Int, y: Int): Int =
    ((x + 2 * y + k) % 256).toInt

  /** GIF interlace pass structure: (first row, step) per pass. */
  private val GifPasses = Seq((0, 8), (4, 8), (2, 4), (1, 2))

  /** Row order of an interlaced GIF image of height h. */
  private def interlaceRows(h: Int): Seq[Int] =
    GifPasses.flatMap { case (start, step) => start until h by step }

  /** Real GIF LZW compress of an index stream (min code size 8, the
    * 256-color case): dictionary built exactly as a decoder rebuilds it,
    * variable code widths, clear emitted on dictionary overflow. */
  private def lzwCompress(indices: Array[Int], out: java.io.ByteArrayOutputStream): Unit = {
    val minCode = 8
    val clear = 1 << minCode
    val eoi = clear + 1
    val data = new LsbWriter
    var codeSize = minCode + 1
    def emit(code: Int): Unit = data.writeBits(code, codeSize)
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = eoi + 1
    emit(clear)
    var cur = -1
    for (sym <- indices) {
      if (cur < 0) cur = sym
      else dict.get((cur, sym)) match {
        case Some(code) => cur = code
        case None =>
          emit(cur)
          if (nextCode < 4096) {
            dict((cur, sym)) = nextCode
            // the decoder's dictionary lags the encoder by ONE entry
            // (it cannot build an entry from the first post-clear code),
            // so the encoder must widen one entry LATER than the naive
            // symmetric rule: when the just-assigned id reaches
            // 1<<codeSize, the decoder — whose count is one less — has
            // just filled the current width and widens at the same
            // stream position
            if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
            nextCode += 1
          } else {
            emit(clear)
            dict = scala.collection.mutable.HashMap.empty
            nextCode = eoi + 1
            codeSize = minCode + 1
          }
          cur = sym
      }
    }
    if (cur >= 0) emit(cur)
    emit(eoi)
    // wrap in ≤255-byte sub-blocks
    out.write(minCode)
    val bytes = data.toBytes
    var off = 0
    while (off < bytes.length) {
      val n = math.min(255, bytes.length - off)
      out.write(n); out.write(bytes, off, n)
      off += n
    }
    out.write(0) // block terminator
  }

  /** One JPEG marker segment: FF, the marker, the big-endian segment
    * length, then the body bytes. */
  private[graft] def jpegMarker(out: java.io.ByteArrayOutputStream, m: Int,
      body: Array[Int]): Unit = {
    out.write(0xff); out.write(m); put16be(out, body.length + 2)
    body.foreach(v => out.write(v))
  }

  /** Encode a real GIF89a (global 256-color table, one image, real LZW;
    * interlaced when the seed is odd) holding [[gifIndex]] pixels. */
  private[graft] def encodeGif(k: Long, w: Int, h: Int): Array[Byte] = {
    val interlaced = (k & 1) == 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    put16le(out, w); put16le(out, h)
    out.write(0xf7) // global table, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // bg color, aspect
    for (j <- 0 until 256) {
      val (r, g, b) = gifPalette(j)
      out.write(r); out.write(g); out.write(b)
    }
    out.write(0x2c) // image descriptor
    put16le(out, 0); put16le(out, 0); put16le(out, w); put16le(out, h)
    out.write(if (interlaced) 0x40 else 0x00)
    val rows = if (interlaced) interlaceRows(h) else 0 until h
    val indices = rows.toArray.flatMap(y => (0 until w).map(x => gifIndex(k, x, y)))
    lzwCompress(indices, out)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** REAL pixel decode of a GIF: screen descriptor, global color table,
    * extension-block skip, image descriptor (interlace honored), and the
    * genuine variable-width LZW stream (clear/EOI, KwKwK first-use case,
    * 12-bit cap) — producing the same channel-sum + even-(x,y) stats as
    * the other decoders. Local color tables override the global one.
    * Malformed input → all-(-1) stats, never a throw. */
  private[graft] def decodeGifStats(b: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      if (b.length < 13) return bad
      val hdr = new String(b, 0, 6, "US-ASCII")
      if (hdr != "GIF87a" && hdr != "GIF89a") return bad
      var pos = 6
      val sw = u16le(b, pos); val sh = u16le(b, pos + 2)
      val packed = u8(b, pos + 4)
      pos += 7
      var palette: Array[Int] = null // packed rgb per entry
      def readTable(n: Int): Array[Int] = {
        val t = new Array[Int](n)
        var j = 0
        while (j < n) {
          t(j) = u24be(b, pos)
          pos += 3; j += 1
        }
        t
      }
      if ((packed & 0x80) != 0) {
        val n = 1 << ((packed & 7) + 1)
        if (pos + 3 * n > b.length) return bad
        palette = readTable(n)
      }
      // block stream: skip extensions until the first image
      while (true) {
        if (pos >= b.length) return bad
        u8(b, pos) match {
          case 0x3b => return bad // trailer before any image
          case 0x21 => // extension: label + sub-blocks
            pos += 2
            while ({ if (pos >= b.length) return bad; u8(b, pos) != 0 }) {
              pos += 1 + u8(b, pos)
            }
            pos += 1
          case 0x2c =>
            pos += 1
            if (pos + 9 > b.length) return bad
            val w = u16le(b, pos + 4); val h = u16le(b, pos + 6)
            val ip = u8(b, pos + 8)
            pos += 9
            var pal = palette
            if ((ip & 0x80) != 0) {
              val n = 1 << ((ip & 7) + 1)
              if (pos + 3 * n > b.length) return bad
              pal = readTable(n)
            }
            if (pal == null || w <= 0 || h <= 0) return bad
            if (w.toLong * h > MaxInflateBytes) return bad
            val interlaced = (ip & 0x40) != 0
            // concatenate the LZW sub-blocks
            if (pos >= b.length) return bad
            val minCode = u8(b, pos); pos += 1
            if (minCode < 2 || minCode > 11) return bad
            val lzw = new java.io.ByteArrayOutputStream()
            while ({ if (pos >= b.length) return bad; u8(b, pos) != 0 }) {
              val n = u8(b, pos)
              if (pos + 1 + n > b.length) return bad
              lzw.write(b, pos + 1, n)
              pos += 1 + n
            }
            val idx = lzwDecode(lzw.toByteArray, minCode, w * h)
            if (idx == null) return bad
            // row order: sequential or the four interlace passes
            val rowOf = new Array[Int](h)
            val order = if (interlaced) interlaceRows(h) else 0 until h
            var r = 0
            for (y <- order) { rowOf(r) = y; r += 1 }
            var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
            var i = 0
            while (i < w * h) {
              val y = rowOf(i / w); val x = i % w
              val e = idx(i)
              if (e >= pal.length) return bad
              val rgb = pal(e)
              val rr = rgb >> 16; val gg = (rgb >> 8) & 0xff; val bb = rgb & 0xff
              sumR += rr; sumG += gg; sumB += bb
              if ((x & 1) == 0 && (y & 1) == 0) evenSum += rr + gg + bb
              i += 1
            }
            return (w, h, sumR, sumG, sumB, evenSum)
          case _ => return bad
        }
      }
      bad
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** GIF variable-width LZW decode to exactly `n` indices: null on a
    * bad code or overflow, `Bits.Malformed` when the codes run out. */
  private def lzwDecode(data: Array[Byte], minCode: Int, n: Int): Array[Int] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    // dictionary as (prefix code, appended symbol); roots are implicit
    val prefix = new Array[Int](4096)
    val append = new Array[Int](4096)
    var nextCode = eoi + 1
    var codeSize = minCode + 1
    val out = new Array[Int](n)
    var outLen = 0
    val r = new LsbReader(data)
    var prev = -1
    val stack = new Array[Int](4096)
    def expand(code0: Int, extra: Int): Boolean = {
      // write the string for code0 (+ optional repeated-first for KwKwK)
      var sp = 0
      var c = code0
      while (c >= clear) { // composite codes chain through the dictionary
        if (sp >= stack.length || c >= nextCode) return false
        stack(sp) = append(c); sp += 1; c = prefix(c)
      }
      val first = c
      if (outLen + sp + 1 + (if (extra >= 0) 1 else 0) > n) return false
      out(outLen) = first; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      if (extra >= 0) { out(outLen) = first; outLen += 1 }
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    while (outLen < n) {
      val code = r.readBits(codeSize)
      if (code == clear) {
        nextCode = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (code == eoi) {
        return if (outLen == n) out else null
      } else if (prev < 0) {
        if (code >= clear) return null // first code must be a root
        out(outLen) = code; outLen += 1
        prev = code
      } else {
        if (code < nextCode) {
          if (!expand(code, -1)) return null
        } else if (code == nextCode) {
          // KwKwK: prev's string + its own first symbol
          if (!expand(prev, firstOf(prev))) return null
        } else return null
        if (nextCode < 4096) {
          prefix(nextCode) = prev
          append(nextCode) = firstOf(code)
          if (nextCode == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
          nextCode += 1
        }
        prev = code
      }
    }
    out
  }

  /** Fixture-synthesis column: GIF bytes for (seed, width, height). */
  def packGif(id: Column, width: Column, height: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int) => encodeGif(k % 251, w, h))
    enc(id.cast("long"), width.cast("int"), height.cast("int"))
  }

  // --- ANIMATED GIF: multi-frame composition -------------------------
  // The real-web GIF is animated: frames are LZW images over SUB-RECTS
  // of the logical screen, composed under the 89a Graphic Control
  // Extension — per-pixel transparency (the index that means "show
  // what's underneath") and a disposal method between frames. m9
  // decodes one frame; these decode the ANIMATION: per frame, the full
  // composed canvas's channel sums — the substrate a keyframe selector
  // or frame-sampler (m15's GIF analog) actually consumes.

  /** Frame-f palette index at absolute (x, y) — analytic (mod 255 so
    * index 255 is free to mean transparent). */
  private[graft] def gifAnimIndex(k: Long, f: Int, x: Int, y: Int): Int =
    ((x + 2L * y + k + 7L * f) % 255).toInt

  /** Frame-f sub-rect origin: frames crop toward bottom-right, the
    * standard inter-frame optimization. */
  private[graft] def gifAnimOrigin(f: Int, w: Int, h: Int): (Int, Int) =
    (math.min(f, w - 1), math.min(f, h - 1))

  /** Transparency rule for frames ≥ 1 (frame 0 is fully opaque). */
  private[graft] def gifAnimTransparent(f: Int, x: Int, y: Int): Boolean =
    f >= 1 && (x + y + f) % 3 == 0

  /** Encode a real 3-frame animated GIF89a: NETSCAPE loop extension,
    * per-frame Graphic Control Extension (disposal from `disposalOf`,
    * transparent index 255), frames 1–2 on shrinking sub-rects with
    * transparent holes that show the prior composite through — the
    * shape browser GIFs actually have. Interlace on odd seeds (every
    * frame). Per-frame disposal lets a spec put a NON-background
    * composite under a restore-to-previous frame — the only substrate
    * that distinguishes disposal 3 from 2. */
  private[graft] def encodeGifAnim(k: Long, w: Int, h: Int,
      frames: Int = 3, disposalOf: Int => Int = _ => 1): Array[Byte] = {
    val interlaced = (k & 1) == 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    put16le(out, w); put16le(out, h)
    out.write(0xf7); out.write(0); out.write(0)
    for (j <- 0 until 256) {
      val (r, g, b) = gifPalette(j)
      out.write(r); out.write(g); out.write(b)
    }
    // NETSCAPE2.0 loop-forever application extension (ancillary skip)
    out.write(0x21); out.write(0xff); out.write(0x0b)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(0x03); out.write(0x01); put16le(out, 0); out.write(0)
    for (f <- 0 until frames) {
      val (x0, y0) = gifAnimOrigin(f, w, h)
      val fw = w - x0; val fh = h - y0
      // Graphic Control Extension: disposal + transparency for f ≥ 1
      out.write(0x21); out.write(0xf9); out.write(0x04)
      out.write((disposalOf(f) << 2) | (if (f >= 1) 1 else 0))
      put16le(out, 4) // delay: 4 cs
      out.write(255) // transparent index (unused when flag clear)
      out.write(0)
      out.write(0x2c)
      put16le(out, x0); put16le(out, y0); put16le(out, fw); put16le(out, fh)
      out.write(if (interlaced) 0x40 else 0x00)
      val rows = if (interlaced) interlaceRows(fh) else 0 until fh
      val indices = rows.toArray.flatMap { ry =>
        (0 until fw).map { rx =>
          val x = x0 + rx; val y = y0 + ry
          if (gifAnimTransparent(f, x, y)) 255 else gifAnimIndex(k, f, x, y)
        }
      }
      lzwCompress(indices, out)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** REAL animated-GIF decode: walks every image block, honors the
    * Graphic Control Extension (transparent index skips the write;
    * disposal 0/1 keep the composite, 2 restores the frame rect to the
    * background color, 3 restores the pre-frame snapshot; reserved 4–7
    * reject), composes each frame onto the logical-screen canvas, and
    * emits the full canvas's channel sums PER FRAME.
    * Malformed input → empty (never a throw); a malformation mid-stream
    * drops the whole record rather than emitting a partial animation. */
  private[graft] def decodeGifAnimStats(
      b: Array[Byte]): Array[(Int, Long, Long, Long, Long)] = {
    val none = Array.empty[(Int, Long, Long, Long, Long)]
    try {
      if (b.length < 13) return none
      val hdr = new String(b, 0, 6, "US-ASCII")
      if (hdr != "GIF87a" && hdr != "GIF89a") return none
      var pos = 6
      val sw = u16le(b, pos); val sh = u16le(b, pos + 2)
      val packed = u8(b, pos + 4)
      val bgIdx = u8(b, pos + 5)
      pos += 7
      // canvas is an Int (4-byte) buffer: bound pixels to 1/4 of the byte
      // budget so the allocation honors the same cap as every decoder
      if (sw <= 0 || sh <= 0 || sw.toLong * sh > MaxInflateBytes / 4) return none
      var palette: Array[Int] = null
      def readTable(n: Int): Array[Int] = {
        val t = new Array[Int](n)
        var j = 0
        while (j < n) {
          t(j) = u24be(b, pos)
          pos += 3; j += 1
        }
        t
      }
      if ((packed & 0x80) != 0) {
        val n = 1 << ((packed & 7) + 1)
        if (pos + 3 * n > b.length) return none
        palette = readTable(n)
      }
      // canvas holds PACKED RGB, not indexes: frames may carry local
      // palettes, and composition across palettes is color-space work
      val bgRgb = if (palette != null && bgIdx < palette.length)
        palette(bgIdx) else 0
      val canvas = Array.fill(sw * sh)(bgRgb)
      var transparent = -1
      var disposal = 0
      val frames = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Long, Long)]
      while (true) {
        if (pos >= b.length) return none
        u8(b, pos) match {
          case 0x3b =>
            return if (frames.isEmpty) none else frames.toArray
          case 0x21 =>
            if (pos + 2 > b.length) return none
            val label = u8(b, pos + 1)
            pos += 2
            if (label == 0xf9) { // Graphic Control Extension
              if (pos + 6 > b.length || u8(b, pos) != 4) return none
              val p = u8(b, pos + 1)
              disposal = (p >> 2) & 7
              // reserved methods 4-7 reject at PARSE time — before any
              // LZW work, and even when no image follows the GCE
              if (disposal > 3) return none
              transparent = if ((p & 1) != 0) u8(b, pos + 4) else -1
              pos += 5
              if (u8(b, pos) != 0) return none
              pos += 1
            } else { // other extension: skip sub-blocks
              while ({ if (pos >= b.length) return none; u8(b, pos) != 0 }) {
                pos += 1 + u8(b, pos)
              }
              pos += 1
            }
          case 0x2c =>
            pos += 1
            // per-frame canvas scans are the cost driver: bound the
            // TOTAL composed pixels to the same budget as every other
            // decoder, so a 1-KB file declaring thousands of frames
            // can't buy unbounded work
            if ((frames.length + 1).toLong * sw * sh > MaxInflateBytes)
              return none
            if (pos + 9 > b.length) return none
            val x0 = u16le(b, pos); val y0 = u16le(b, pos + 2)
            val fw = u16le(b, pos + 4); val fh = u16le(b, pos + 6)
            val ip = u8(b, pos + 8)
            pos += 9
            var pal = palette
            if ((ip & 0x80) != 0) {
              val n = 1 << ((ip & 7) + 1)
              if (pos + 3 * n > b.length) return none
              pal = readTable(n)
            }
            if (pal == null || fw <= 0 || fh <= 0 ||
              x0 + fw > sw || y0 + fh > sh) return none
            if (fw.toLong * fh > MaxInflateBytes) return none
            if (pos >= b.length) return none
            val minCode = u8(b, pos); pos += 1
            if (minCode < 2 || minCode > 11) return none
            val lzw = new java.io.ByteArrayOutputStream()
            while ({ if (pos >= b.length) return none; u8(b, pos) != 0 }) {
              val n = u8(b, pos)
              if (pos + 1 + n > b.length) return none
              lzw.write(b, pos + 1, n)
              pos += 1 + n
            }
            pos += 1 // block terminator
            val idx = lzwDecode(lzw.toByteArray, minCode, fw * fh)
            if (idx == null) return none
            val rowOf = new Array[Int](fh)
            val order = if ((ip & 0x40) != 0) interlaceRows(fh) else 0 until fh
            var r = 0
            for (y <- order) { rowOf(r) = y; r += 1 }
            // disposal 3 = restore-to-PREVIOUS: snapshot the frame rect
            // before compositing (reserved methods rejected at GCE parse)
            val snapshot = if (disposal == 3) {
              val sn = new Array[Int](fw * fh)
              var ry = 0
              while (ry < fh) {
                var rx = 0
                while (rx < fw) {
                  sn(ry * fw + rx) = canvas((y0 + ry) * sw + x0 + rx)
                  rx += 1
                }
                ry += 1
              }
              sn
            } else null
            // composite: transparent pixels leave the canvas untouched
            var i = 0
            while (i < fw * fh) {
              val e = idx(i)
              if (e != transparent) {
                if (e >= pal.length) return none
                canvas((y0 + rowOf(i / fw)) * sw + x0 + i % fw) = pal(e)
              }
              i += 1
            }
            // emit the COMPOSED canvas's stats for this frame
            var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
            var p2 = 0
            while (p2 < sw * sh) {
              val x = p2 % sw; val y = p2 / sw
              val rgb = canvas(p2)
              val rr = rgb >> 16; val gg = (rgb >> 8) & 0xff; val bb = rgb & 0xff
              sumR += rr; sumG += gg; sumB += bb
              if ((x & 1) == 0 && (y & 1) == 0) evenSum += rr + gg + bb
              p2 += 1
            }
            frames += ((frames.length, sumR, sumG, sumB, evenSum))
            // disposal AFTER the frame shows: 2 = restore rect to the
            // background; 3 = restore the pre-frame snapshot
            if (disposal == 2 || disposal == 3) {
              var ry = 0
              while (ry < fh) {
                var rx = 0
                while (rx < fw) {
                  canvas((y0 + ry) * sw + x0 + rx) =
                    if (disposal == 2) bgRgb else snapshot(ry * fw + rx)
                  rx += 1
                }
                ry += 1
              }
            }
            transparent = -1; disposal = 0 // GCE scope is one image
          case _ => return none
        }
      }
      none
    } catch { case scala.util.control.NonFatal(_) => none }
  }

  /** Fixture-synthesis column: 3-frame animated GIF for (seed, w, h). */
  def packGifAnim(id: Column, width: Column, height: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int) => encodeGifAnim(k % 251, w, h))
    enc(id.cast("long"), width.cast("int"), height.cast("int"))
  }

  /** Animated-GIF decode over the batch seam: (id, media) →
    * (id, frame, sum_r, sum_g, sum_b, even_sum), one row per frame. */
  def decodeGifAnimPixelStats(df: DataFrame, id: String,
      media: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("frame", IntegerType, nullable = false),
      StructField("sum_r", LongType, nullable = false),
      StructField("sum_g", LongType, nullable = false),
      StructField("sum_b", LongType, nullable = false),
      StructField("even_sum", LongType, nullable = false)))
    val rdd = df.select(col(id).cast("long"), col(media)).rdd.mapPartitions { it =>
      it.flatMap { r =>
        decodeGifAnimStats(r.getAs[Array[Byte]](1)).map { case (f, sr, sg, sb, es) =>
          Row(r.getLong(0), f, sr, sg, sb, es)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Real-pixel GIF decode over [[Seam.rows]]. */
  def decodeGifPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodeGifStats(b)
      Row(w, h, sr, sg, sb, es)
    }

  // --- real PIXEL decode: baseline JPEG (SOF0, 4:2:0 / grayscale) -----
  // The entropy layer — the hard part of JPEG — is pure spec arithmetic:
  // canonical Huffman tables from DHT, DC-delta/AC-run-length block
  // decode with byte unstuffing and restart handling, dequantization,
  // IDCT, 4:2:0 chroma replication and the JFIF YCbCr→RGB transform
  // (ITU-T T.81 + JFIF 1.02, both public). The oracle uses the exact
  // regime the sketch family pioneered: fixtures carry DC-only blocks,
  // whose IDCT is bit-exact flat output under ANY correct IDCT, so the
  // analytic recomputation in DuckDB hash-matches while the REAL
  // Huffman/marker/dequant/color machinery runs end-to-end. Decoding a
  // general JPEG differs only in nonzero ACs (IDCT rounding then varies
  // by implementation — exactly why general JPEGs cannot be oracle'd).

  /** Analytic fixture values: per-8×8-block luma, per-16×16 chroma. */
  private[graft] def jpegY(k: Long, bx: Int, by: Int): Int =
    ((16 * bx + 8 * by + 3 * k) % 200 + 20).toInt
  private[graft] def jpegCb(k: Long, mx: Int, my: Int): Int =
    ((5 * mx + 7 * my + 2 * k) % 160 + 48).toInt
  private[graft] def jpegCr(k: Long, mx: Int, my: Int): Int =
    ((11 * mx + 3 * my + k) % 160 + 48).toInt

  /** JFIF YCbCr→RGB, floor(x+0.5) rounding — the decoder's (and the
    * oracle's) single color formula; constants and operation order must
    * stay identical on both sides. */
  private[graft] def ycbcrToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def cl(v: Double): Int =
      math.max(0, math.min(255, math.floor(v + 0.5).toInt))
    (cl(y + 1.402 * (cr - 128)),
      cl(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
      cl(y + 1.772 * (cb - 128)))
  }

  /** THE pinned integer IDCT basis: IdctK(8u + x) =
    * round(α(u)·cos((2x+1)uπ/16)·2048) with α(0) = 1/√2 — 64 integer
    * constants, hardcoded (never recomputed from cos, so no libm/ulp
    * ambiguity anywhere). Reconstruction is the direct 2-D sum
    * S = Σ_{u,v} IdctK(8u+x)·IdctK(8v+y)·F(u,v), pixel =
    * clamp(((S + 2²³) >> 24) + 128): the product carries 2²² scale and
    * the transform's ÷4, so >> 24 with half-up rounding is the whole
    * normalization. T.81 does NOT mandate a bit-exact IDCT — this pins
    * ONE, and the m22 oracle replays the identical integer math
    * (the m13/ss14 replayed-scoring pattern), which is what makes
    * general nonzero-AC baseline JPEG hash-oracle-able at all. Worst
    * case |S| < 64·2048²·(255·16) < 2⁶⁰: no Long overflow. */
  private[graft] val IdctK: Array[Int] = Array(
    1448, 1448, 1448, 1448, 1448, 1448, 1448, 1448,
    2009, 1703, 1138, 400, -400, -1138, -1703, -2009,
    1892, 784, -784, -1892, -1892, -784, 784, 1892,
    1703, -400, -2009, -1138, 1138, 2009, 400, -1703,
    1448, -1448, -1448, 1448, 1448, -1448, -1448, 1448,
    1138, -2009, 400, 1703, -1703, -400, 2009, -1138,
    784, -1892, 1892, -784, -784, 1892, -1892, 784,
    400, -1138, 1703, -2009, 2009, -1703, 1138, -400)

  private[ops] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K (T.81 Table K.3/K.4) DC Huffman specs: BITS[1..16] + values.
  private[ops] val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[ops] val DcLumVals = (0 to 11).toArray
  private val DcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals = (0 to 11).toArray
  // minimal legal AC table for DC-only scans: "0" → EOB, "10" → ZRL
  private val AcMinBits = Array(1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcMinVals = Array(0x00, 0xf0)

  /** Canonical Huffman codes for (BITS, values): value → (code, len). */
  private[ops] def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var vi = 0
    val out = scala.collection.mutable.HashMap.empty[Int, (Int, Int)]
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out(vals(vi)) = (code, len); code += 1; vi += 1; i += 1
      }
      code <<= 1
    }
    out.toMap
  }

  /** Encode a real baseline JPEG: JFIF/DQT/SOF0/DHT/SOS markers, 4:2:0
    * sampling, and a genuine Huffman-coded entropy scan (DC deltas with
    * category/extend bits, EOB-terminated blocks, FF byte stuffing).
    * Blocks are DC-only — the exact-IDCT regime — with q[0]=8 so the
    * dequantized DC is 8·(v−128) and every correct IDCT reproduces v
    * exactly. Grayscale (single component) when the seed is even. */
  private[graft] def encodeJpeg(k: Long, wMcu: Int, hMcu: Int): Array[Byte] = {
    val gray = (k & 1) == 0
    val w = 16 * wMcu; val h = 16 * hMcu
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    // DQT: table 0, q[0]=8, rest 16
    jpegMarker(out, 0xdb, 0 +: Array.tabulate(64)(i => if (i == 0) 8 else 16))
    // SOF0
    val comps =
      if (gray) Seq((1, 0x11, 0)) else Seq((1, 0x22, 0), (2, 0x11, 0), (3, 0x11, 0))
    jpegMarker(out, 0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, comps.length) ++
      comps.flatMap { case (id, samp, q) => Seq(id, samp, q) })
    // DHT: DC lum (class 0 id 0), DC chr (class 0 id 1), AC min (class 1 id 0)
    jpegMarker(out, 0xc4, (0x00 +: (DcLumBits ++ DcLumVals)) ++
      (0x01 +: (DcChrBits ++ DcChrVals)) ++
      (0x10 +: (AcMinBits ++ AcMinVals)))
    // SOS
    jpegMarker(out, 0xda, Array(comps.length) ++
      comps.flatMap { case (id, _, _) =>
        Seq(id, if (id == 1) 0x00 else 0x10)
      } ++ Array(0, 63, 0))
    // entropy scan
    val dcLum = huffCodes(DcLumBits, DcLumVals)
    val dcChr = huffCodes(DcChrBits, DcChrVals)
    val acMin = huffCodes(AcMinBits, AcMinVals)
    val ew = new JpegEntropy.Writer(out) // FF-stuffed
    val pred = Array(0, 0, 0)
    def block(ci: Int, value: Int): Unit = {
      val level = value - 128 // quantized DC at q=8: 8(v-128)/8
      val diff = level - pred(ci); pred(ci) = level
      val s = JpegEntropy.size(diff)
      val (c, l) = (if (ci == 0) dcLum else dcChr)(s)
      ew.putBits(c, l)
      if (s > 0) ew.putBits(JpegEntropy.extendBits(diff), s)
      val (ec, el) = acMin(0x00) // EOB: no AC coefficients
      ew.putBits(ec, el)
    }
    if (gray) {
      // single-component non-interleaved scan (T.81 §A.2.2): the MCU is
      // ONE 8×8 block, raster order over the full block grid — the 2×2
      // luma-tile order below would place stream blocks into the wrong
      // raster positions in any conformant decoder (masked here only by
      // position-symmetric stats)
      for (by <- 0 until 2 * hMcu; bx <- 0 until 2 * wMcu)
        block(0, jpegY(k, bx, by))
    } else {
      for (my <- 0 until hMcu; mx <- 0 until wMcu) {
        // 4 luma blocks in raster order within the MCU, then Cb, Cr
        for (v <- 0 until 2; hh <- 0 until 2)
          block(0, jpegY(k, 2 * mx + hh, 2 * my + v))
        block(1, jpegCb(k, mx, my))
        block(2, jpegCr(k, mx, my))
      }
    }
    ew.flush() // pad with 1s
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  // --- m22: GENERAL (nonzero-AC) baseline JPEG under the pinned IDCT ---

  /** m22 per-block analytic quantized coefficients: DC plus two ACs at
    * zigzag 1 (u=1,v=0) and zigzag 8 (u=1,v=2). Magnitudes are sized so
    * no reconstructed pixel can clamp (|DC| ≤ 60, AC ripple < 45). */
  private[graft] def jpegAcDc(k: Long, bx: Int, by: Int): Int =
    ((3 * bx + 5 * by + k) % 120).toInt - 60
  private[graft] def jpegAc1(k: Long, bx: Int, by: Int): Int =
    ((bx + 2 * by + k) % 15).toInt - 7
  private[graft] def jpegAc2(k: Long, bx: Int, by: Int): Int =
    ((2 * bx + by + 3 * k) % 15).toInt - 7

  // m22 AC Huffman spec: EOB plus (run 0 | 6 | 7, size 1-3) — exactly
  // the symbols the two-AC layout emits — as ten length-4 codes
  private val AcM22Bits = Array(0, 0, 0, 10, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcM22Vals =
    Array(0x00, 0x01, 0x02, 0x03, 0x61, 0x62, 0x63, 0x71, 0x72, 0x73)

  /** Encode a GENERAL baseline JPEG — nonzero AC coefficients, the
    * regime m11 excluded while the IDCT was implementation-defined.
    * With [[IdctK]] pinned, reconstruction is exact integer math the
    * m22 oracle replays term-for-term, closing the T.81 caveat the
    * replayed-scoring way (m13/ss14). Grayscale, non-interleaved
    * (8×8-block MCUs in raster order), custom minimal AC table, real
    * DC-delta coding, FF stuffing. */
  private[graft] def encodeJpegAc(k: Long, nbx: Int, nby: Int): Array[Byte] = {
    val w = 8 * nbx; val h = 8 * nby
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    jpegMarker(out, 0xdb, 0 +: Array.tabulate(64)(i => if (i == 0) 8 else 16))
    jpegMarker(out, 0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    jpegMarker(out, 0xc4, (0x00 +: (DcLumBits ++ DcLumVals)) ++
      (0x10 +: (AcM22Bits ++ AcM22Vals)))
    jpegMarker(out, 0xda, Array(1, 1, 0x00, 0, 63, 0))
    val dcLum = huffCodes(DcLumBits, DcLumVals)
    val acTab = huffCodes(AcM22Bits, AcM22Vals)
    val ew = new JpegEntropy.Writer(out)
    import JpegEntropy.{extendBits, size}
    var pred = 0
    for (by <- 0 until nby; bx <- 0 until nbx) {
      val dc = jpegAcDc(k, bx, by)
      val diff = dc - pred; pred = dc
      val ds = size(diff)
      val (c, l) = dcLum(ds)
      ew.putBits(c, l)
      if (ds > 0) ew.putBits(extendBits(diff), ds)
      val a1 = jpegAc1(k, bx, by)
      val a2 = jpegAc2(k, bx, by)
      if (a1 != 0) {
        val s1 = size(a1)
        val (c1, l1) = acTab(s1) // run 0
        ew.putBits(c1, l1); ew.putBits(extendBits(a1), s1)
      }
      if (a2 != 0) {
        val run = if (a1 != 0) 6 else 7 // zigzag 1(+1) → 8, or 0(+1) → 8
        val s2 = size(a2)
        val (c2, l2) = acTab((run << 4) | s2)
        ew.putBits(c2, l2); ew.putBits(extendBits(a2), s2)
      }
      val (ec, el) = acTab(0x00) // EOB (position 8 < 63)
      ew.putBits(ec, el)
    }
    ew.flush()
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** Fixture-synthesis column for m22: nonzero-AC grayscale JPEG bytes
    * for (seed, block grid). */
  def packJpegAc(id: Column, nbx: Column, nby: Column): Column = {
    val enc = udf((kk: Long, a: Int, b: Int) => encodeJpegAc(kk % 251, a, b))
    enc(id.cast("long"), nbx.cast("int"), nby.cast("int"))
  }

  /** REAL baseline-JPEG pixel decode: marker walk (APPn/COM skipped, DQT
    * 8-bit tables, SOF0 with 1 or 3 components and sampling factors ≤ 2,
    * DHT canonical Huffman build, DRI honored), then the entropy scan —
    * per-MCU DC-delta + AC-run-length block decode with FF00 unstuffing
    * and RSTn predictor resets — dequant, de-zigzag, IDCT, chroma
    * replication and the JFIF color transform, folded into the standard
    * channel-sum + even-(x,y) stats. Malformed input → all-(-1). */
  private[graft] def decodeJpegStats(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
        return bad
      var pos = 2
      val t = new JpegEntropy.Tables
      var w = -1; var h = -1
      var nComp = 0
      val compSampH = new Array[Int](4); val compSampV = new Array[Int](4)
      val compQ = new Array[Int](4); val compId = new Array[Int](4)
      val compDc = new Array[Int](4); val compAc = new Array[Int](4)
      var restartInterval = 0
      var sosAt = -1
      while (sosAt < 0) {
        if (pos + 4 > bytes.length) return bad
        if (u8(bytes, pos) != 0xff) return bad
        val m = u8(bytes, pos + 1)
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { pos += 2 }
        else {
          val len = u16be(bytes, pos + 2)
          if (len < 2 || pos + 2 + len > bytes.length) return bad
          val body = pos + 4
          m match {
            case 0xdb => // DQT (possibly several tables)
              if (!t.readDqt(bytes, body, pos + 2 + len)) return bad
            case 0xc0 => // SOF0 baseline
              if (len < 8) return bad
              if (u8(bytes, body) != 8) return bad
              h = u16be(bytes, body + 1); w = u16be(bytes, body + 3)
              nComp = u8(bytes, body + 5)
              if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3)) return bad
              if (w.toLong * h > MaxInflateBytes / 4) return bad
              var c = 0
              while (c < nComp) {
                val o = body + 6 + 3 * c
                compId(c) = u8(bytes, o)
                compSampH(c) = u8(bytes, o + 1) >> 4; compSampV(c) = u8(bytes, o + 1) & 15
                compQ(c) = u8(bytes, o + 2)
                if (compSampH(c) < 1 || compSampH(c) > 2 ||
                    compSampV(c) < 1 || compSampV(c) > 2 || compQ(c) > 3) return bad
                c += 1
              }
            case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
                0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
              return bad // progressive/extended: out of scope
            case 0xc4 => // DHT (possibly several)
              if (!t.readDht(bytes, body, pos + 2 + len)) return bad
            case 0xdd => // DRI
              if (len != 4) return bad
              restartInterval = u16be(bytes, body)
            case 0xda => // SOS
              val ns = u8(bytes, body)
              if (ns != nComp || len < 6 + 2 * ns) return bad
              var c = 0
              while (c < ns) {
                val id = u8(bytes, body + 1 + 2 * c)
                val ci = compId.indexOf(id)
                if (ci < 0 || ci >= nComp) return bad
                compDc(ci) = u8(bytes, body + 2 + 2 * c) >> 4
                compAc(ci) = u8(bytes, body + 2 + 2 * c) & 15
                c += 1
              }
              sosAt = pos + 2 + len
            case 0xd9 => return bad // EOI before scan
            case _ => () // APPn / COM / others: skip by length
          }
          pos += 2 + len
        }
      }
      if (w < 0 || nComp == 0) return bad
      var c = 0
      while (c < nComp) { if (!t.qtSeen(compQ(c))) return bad; c += 1 }
      val maxH = (0 until nComp).map(compSampH).max
      val maxV = (0 until nComp).map(compSampV).max
      val mcuW = 8 * maxH; val mcuH = 8 * maxV
      val mcusX = (w + mcuW - 1) / mcuW
      val mcusY = (h + mcuH - 1) / mcuH
      // per-component pixel planes at component resolution
      val planeW = new Array[Int](nComp); val planeH = new Array[Int](nComp)
      val planes = new Array[Array[Byte]](nComp)
      c = 0
      while (c < nComp) {
        planeW(c) = mcusX * compSampH(c) * 8
        planeH(c) = mcusY * compSampV(c) * 8
        planes(c) = new Array[Byte](planeW(c) * planeH(c))
        c += 1
      }
      val ent = new JpegEntropy.Reader(bytes, t)
      ent.start(sosAt)
      val coef = new Array[Int](64)
      val pix = new Array[Int](64)
      val pred = new Array[Int](4)
      // THE pinned integer IDCT (see [[IdctK]]): all-integer, so every
      // decode — DC-only or full-AC — is bit-reproducible and the m22
      // oracle replays the identical arithmetic; for DC-only blocks it
      // agrees exactly with the ideal transform (error ≤ 0.028 ≪ 0.5),
      // so the m11 gate is unchanged
      def idctBlock(): Unit = {
        var y0 = 0
        while (y0 < 8) {
          var x0 = 0
          while (x0 < 8) {
            var s = 0L
            var u = 0
            while (u < 8) {
              var v = 0
              while (v < 8) {
                val f = coef(8 * v + u)
                if (f != 0)
                  s += IdctK(8 * u + x0).toLong * IdctK(8 * v + y0) * f
                v += 1
              }
              u += 1
            }
            val out = ((s + (1L << 23)) >> 24).toInt + 128
            pix(8 * y0 + x0) = math.max(0, math.min(255, out))
            x0 += 1
          }
          y0 += 1
        }
      }
      def decodeBlock(ci: Int): Boolean = {
        java.util.Arrays.fill(coef, 0)
        val q = t.qt(compQ(ci))
        val s = ent.huffDecode(0, compDc(ci))
        if (s < 0 || s > 11) return false
        val diff = JpegEntropy.extend(ent.getBits(s), s)
        if (ent.failed) return false
        pred(ci) += diff
        coef(0) = pred(ci) * q(0)
        var kk = 1
        var run = true
        while (run && kk < 64) {
          val rs = ent.huffDecode(1, compAc(ci))
          if (rs < 0) return false
          val r = rs >> 4; val ss = rs & 15
          if (rs == 0) run = false // EOB
          else if (ss == 0) {
            if (r != 15) return false
            kk += 16
          } else {
            kk += r
            if (kk > 63) return false
            coef(ZigZag(kk)) = JpegEntropy.extend(ent.getBits(ss), ss) * q(kk)
            if (ent.failed) return false
            kk += 1
          }
        }
        idctBlock()
        true
      }
      var mcuCount = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && mcuCount > 0 && mcuCount % restartInterval == 0) {
            if (!ent.restart()) return bad
            java.util.Arrays.fill(pred, 0)
          }
          var ci = 0
          while (ci < nComp) {
            var v = 0
            while (v < compSampV(ci)) {
              var hh = 0
              while (hh < compSampH(ci)) {
                if (!decodeBlock(ci)) return bad
                // place the block into the component plane
                val bx = (mx * compSampH(ci) + hh) * 8
                val by = (my * compSampV(ci) + v) * 8
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    planes(ci)((by + yy) * planeW(ci) + bx + xx) =
                      pix(8 * yy + xx).toByte
                    xx += 1
                  }
                  yy += 1
                }
                hh += 1
              }
              v += 1
            }
            ci += 1
          }
          mcuCount += 1
          mx += 1
        }
        my += 1
      }
      // fold stats over the visible pixels with chroma replication
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
      var y0 = 0
      while (y0 < h) {
        var x0 = 0
        while (x0 < w) {
          val yv = planes(0)(y0 * planeW(0) + x0) & 0xff
          val (r, g, b2) =
            if (nComp == 1) (yv, yv, yv)
            else {
              val cbx = x0 * compSampH(1) / maxH; val cby = y0 * compSampV(1) / maxV
              val crx = x0 * compSampH(2) / maxH; val cry = y0 * compSampV(2) / maxV
              ycbcrToRgb(yv,
                planes(1)(cby * planeW(1) + cbx) & 0xff,
                planes(2)(cry * planeW(2) + crx) & 0xff)
            }
          sumR += r; sumG += g; sumB += b2
          if ((x0 & 1) == 0 && (y0 & 1) == 0) evenSum += r + g + b2
          x0 += 1
        }
        y0 += 1
      }
      (w, h, sumR, sumG, sumB, evenSum)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** Fixture-synthesis column: baseline JPEG bytes for (seed, MCU grid). */
  def packJpeg(id: Column, wMcu: Column, hMcu: Column): Column = {
    val enc = udf((k: Long, wm: Int, hm: Int) => encodeJpeg(k % 251, wm, hm))
    enc(id.cast("long"), wMcu.cast("int"), hMcu.cast("int"))
  }

  /** Real-pixel JPEG decode over [[Seam.rows]]. */
  def decodeJpegPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodeJpegStats(b)
      Row(w, h, sr, sg, sb, es)
    }

  // --- real SAMPLE decode: WAV 16-bit PCM -----------------------------
  // m6 walks the RIFF/fmt headers; this decodes the data chunk's actual
  // samples (16-bit little-endian signed PCM — pure byte arithmetic),
  // the audio analog of the pixel decoders: per-file sample statistics
  // a training-data pipeline filters on (silence/clipping detection,
  // loudness buckets) without any codec library.

  val SampleStatsSchema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_s", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("max_abs", LongType, nullable = false),
  ))

  /** Deterministic test sample i for seed k (full int16 range). */
  private[graft] def testSample(k: Long, i: Int): Int =
    (((37L * i + k) % 65536) - 32768).toInt

  /** Encode a real RIFF/WAVE file: PCM fmt chunk + 16-bit LE mono data
    * chunk holding the [[testSample]] waveform. Fixture synthesis. */
  private[graft] def encodeWavPcm16(k: Long, n: Int): Array[Byte] = {
    val dataLen = 2 * n
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000).putInt(16000) // rate, byte rate
      .putShort(2).putShort(16) // block align, bits
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) { buf.putShort(testSample(k, i).toShort); i += 1 }
    buf.array()
  }

  /** REAL sample decode of a 16-bit PCM WAV: RIFF envelope check, chunk
    * walk (fmt validated as uncompressed 16-bit PCM, unknown chunks
    * skipped by their declared — untrusted — lengths), then the data
    * chunk's interleaved int16 samples folded into sum / |sum| / peak
    * stats. Malformed input → all-(-1), never a throw. */
  private[graft] def decodeWavStats(b: Array[Byte]): (Int, Long, Long, Long, Long) = {
    val bad = (-1, -1L, -1L, -1L, -1L)
    try {
      if (b.length < 44) return bad
      if (fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return bad
      var pos = 12
      var channels = -1
      var ok = false
      var dataOff = -1
      var dataLen = -1
      while (pos + 8 <= b.length && (channels < 0 || dataOff < 0)) {
        val t = fourCC(b, pos)
        val len = i32le(b, pos + 4)
        if (len < 0 || pos + 8L + len > b.length) return bad
        t match {
          case "fmt " =>
            if (len < 16) return bad
            val fmt = u16le(b, pos + 8)
            channels = u16le(b, pos + 10)
            val bits = u16le(b, pos + 22)
            ok = fmt == 1 && bits == 16 && channels >= 1
          case "data" => dataOff = pos + 8; dataLen = len
          case _ => () // ancillary chunk: skip by declared length
        }
        pos += 8 + len + (len & 1) // chunks are word-aligned
      }
      if (!ok || dataOff < 0 || dataLen < 2) return bad
      val n = dataLen / 2
      var sum = 0L; var sumAbs = 0L; var maxAbs = 0L
      var i = 0
      while (i < n) {
        val v = (u16le(b, dataOff + 2 * i) << 16) >> 16 // sign-extend int16
        sum += v
        val a = math.abs(v.toLong)
        sumAbs += a
        if (a > maxAbs) maxAbs = a
        i += 1
      }
      (channels, n.toLong, sum, sumAbs, maxAbs)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  // ------------------------------------------------------------------
  // cross-format audio scenes (m25) — the m23 discipline applied to
  // audio: one scene rendered as byte-unrelated WAV and FLAC files
  // whose decoded sample LATTICE (hence fingerprint) is identical
  // ------------------------------------------------------------------

  /** Deterministic scene waveform: an integer hash mix of (scene, i)
    * folded into int16 range — simulated before pinning (47 scenes:
    * all 64-bit lattice fingerprints distinct, min pairwise hamming
    * 12, values within [-32753, 32755] so +7 jitter cannot clip). */
  private[graft] def audioSceneSample(scene: Long, i: Int): Int = {
    var x = (i * 2654435761L + scene * 97531L + 1013904223L) & 0xffffffffL
    x ^= x >> 15
    x = (x * 2246822519L) & 0xffffffffL
    x ^= x >> 13
    ((x % 65521) - 32760).toInt
  }

  /** 65-point sample lattice over n samples: position j ↦ j·(n−1)/64.
    * Injective for n ≥ 65 (the fixture n is ≥ 80). */
  @inline private def audioLat(j: Int, n: Int): Int =
    ((j.toLong * (n - 1)) / 64).toInt

  /** Scene PCM with per-document jitter OFF the lattice: lattice
    * samples carry [[audioSceneSample]] exactly, so two encodings of
    * one scene (any format, any doc) fingerprint identically, while
    * the files stay byte-unrelated. */
  private[graft] def audioScenePcm(scene: Long, docSeed: Long, n: Int): Array[Int] = {
    val onLat = new Array[Boolean](n)
    var j = 0
    while (j <= 64) { onLat(audioLat(j, n)) = true; j += 1 }
    Array.tabulate(n) { i =>
      val s = audioSceneSample(scene, i)
      if (onLat(i)) s
      else s + ((docSeed * 31 + 17L * i) % 7 + 1).toInt
    }
  }

  /** 64-bit audio fingerprint: sign of successive lattice-sample
    * differences (the 1-D dHash). Format-independent by construction —
    * any lossless codec reproduces the lattice exactly. */
  private[graft] def audioLatticeFp(samples: Array[Int]): Long = {
    val n = samples.length
    if (n < 65) return -1L
    var fp = 0L
    var j = 0
    while (j < 64) {
      val a = samples(audioLat(j, n))
      val b = samples(audioLat(j + 1, n))
      fp = (fp << 1) | (if (b > a) 1L else 0L)
      j += 1
    }
    fp
  }

  /** Mono 16-bit PCM extracted from a RIFF/WAVE file (same chunk walk
    * and malformed-input policy as [[decodeWavStats]]); null on any
    * structural lie. */
  private[graft] def decodeWavPcm16(b: Array[Byte]): Array[Int] = {
    try {
      if (b.length < 44) return null
      if (fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return null
      var pos = 12
      var ok = false
      var dataOff = -1
      var dataLen = -1
      while (pos + 8 <= b.length && (!ok || dataOff < 0)) {
        val t = fourCC(b, pos)
        val len = i32le(b, pos + 4)
        if (len < 0 || pos + 8L + len > b.length) return null
        t match {
          case "fmt " =>
            if (len < 16) return null
            ok = u16le(b, pos + 8) == 1 && u16le(b, pos + 10) == 1 &&
              u16le(b, pos + 22) == 16
          case "data" => dataOff = pos + 8; dataLen = len
          case _ => ()
        }
        pos += 8 + len + (len & 1)
      }
      if (!ok || dataOff < 0 || dataLen < 2) return null
      val n = dataLen / 2
      Array.tabulate(n)(i => (u16le(b, dataOff + 2 * i) << 16) >> 16)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** WAV leg of the m25 scene fixture. */
  private[graft] def encodeWavScene(scene: Long, docSeed: Long, n: Int): Array[Byte] = {
    val pcm = audioScenePcm(scene, docSeed, n)
    val buf = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(2 * n)
    pcm.foreach(v => buf.putShort(v.toShort))
    buf.array()
  }

  def packWavScene(scene: Column, id: Column, nSamples: Column): Column = {
    val enc = udf((sc: Long, kk: Long, n: Int) => encodeWavScene(sc, kk, n))
    enc(scene, id, nSamples)
  }

  /** Format-dispatching audio fingerprint: sniffs the container (RIFF
    * → WAV, fLaC → FLAC), decodes the mono PCM with the REAL decoder
    * for that format, and fingerprints the lattice — ONE perceptual
    * definition across formats (the decoder-interop contract m23 pins
    * for images). Per-row, corpus-linear, shuffle-free. */
  def decodeAudioFps(df: DataFrame, id: String, media: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (fmt, pcm) =
        if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
          ("wav", decodeWavPcm16(b))
        else if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
          val chans = graft.ops.Flac.decodeFlacPcm(b)
          ("flac", if (chans == null || chans.length != 1) null else chans(0))
        } else ("bad", null)
      if (pcm == null) Row("bad", -1L)
      else Row(fmt, audioLatticeFp(pcm))
    }
  }

  /** Format-dispatching audio QUALITY gates over the decoded PCM —
    * what a training-data pipeline runs right after decode: clipping
    * count (|s| ≥ 32000, the mastering-damage gate), zero crossings
    * (order-sensitive noisiness evidence), peak and Σ|s| (dynamic-
    * range inputs; the ratio is the client's division). One metric
    * definition across containers, same dispatch as
    * [[decodeAudioFps]]. Integer-exact, per-row, shuffle-free. */
  def decodeAudioQuality(df: DataFrame, id: String, media: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("n_clip", LongType, nullable = false),
      StructField("zero_cross", LongType, nullable = false),
      StructField("sum_abs", LongType, nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (fmt, pcm) =
        if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
          ("wav", decodeWavPcm16(b))
        else if (b.length >= 4 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') {
          val chans = graft.ops.Flac.decodeFlacPcm(b)
          ("flac", if (chans == null || chans.length != 1) null else chans(0))
        } else ("bad", null)
      if (pcm == null) Row("bad", -1L, -1L, -1L, -1L, -1L)
      else {
        var peak = 0L; var clip = 0L; var zc = 0L; var sa = 0L
        var i = 0
        while (i < pcm.length) {
          val v = pcm(i)
          val a = math.abs(v.toLong)
          if (a > peak) peak = a
          if (a >= 32000) clip += 1
          if (i > 0 && v.toLong * pcm(i - 1) < 0) zc += 1
          sa += a
          i += 1
        }
        Row(fmt, pcm.length.toLong, peak, clip, zc, sa)
      }
    }
  }

  /** REAL autocorrelation over the decoded PCM stream: for each lag L,
    * Σᵢ s[i]·s[i+L] (i ∈ [0, n−L)), plus the lag-0 energy Σ s[i]² — the
    * periodicity/pitch evidence an audio curation pass gates on (a
    * voiced/tonal file has a lag where ac[L]/ac[0] stays near 1; noise
    * decorrelates immediately). Same chunk walk and malformed-input
    * policy as [[decodeWavStats]]; all-(-1) on damage, never a throw.
    * Integer-exact: |s| ≤ 2¹⁵ so each product ≤ 2³⁰ and any realistic
    * clip length stays far from Long overflow. */
  /** The 16-bit PCM samples of a RIFF/WAVE file as (data offset,
    * sample count): chunk walk to a PCM `fmt ` chunk (16-bit, at least
    * one channel) and a `data` chunk of at least one sample, or null. */
  private def wavPcm16Span(b: Array[Byte]): (Int, Int) = {
    if (b.length < 44 || fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WAVE") return null
    var pos = 12
    var ok = false
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (!ok || dataOff < 0)) {
      val len = i32le(b, pos + 4)
      if (len < 0 || pos + 8L + len > b.length) return null
      fourCC(b, pos) match {
        case "fmt " =>
          if (len < 16) return null
          ok = u16le(b, pos + 8) == 1 && u16le(b, pos + 22) == 16 && u16le(b, pos + 10) >= 1
        case "data" => dataOff = pos + 8; dataLen = len
        case _ => () // ancillary chunk: skip by declared length
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (!ok || dataOff < 0 || dataLen < 2) null else (dataOff, dataLen / 2)
  }

  private[graft] def decodeWavAutocorr(b: Array[Byte], lags: Seq[Int]): (Long, Long, Seq[Long]) = {
    val bad = (-1L, -1L, lags.map(_ => -1L))
    try {
      val span = wavPcm16Span(b)
      if (span == null) return bad
      val (dataOff, n) = span
      val s = new Array[Int](n)
      var i = 0
      while (i < n) { s(i) = (u16le(b, dataOff + 2 * i) << 16) >> 16; i += 1 }
      var energy = 0L
      i = 0
      while (i < n) { energy += s(i).toLong * s(i); i += 1 }
      val acs = lags.map { l =>
        var acc = 0L
        var j = 0
        while (j + l < n) { acc += s(j).toLong * s(j + l); j += 1 }
        acc
      }
      (n.toLong, energy, acs)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** Autocorrelation decode over [[Seam.rows]]:
    * (id, media) → (id, n_samples, energy, ac<lag>...). */
  def decodeWavAutocorrStats(df: DataFrame, id: String, media: String,
      lags: Seq[Int]): DataFrame = {
    val outSchema = StructType(
      Seq(StructField("n_samples", LongType, nullable = false),
        StructField("energy", LongType, nullable = false)) ++
        lags.map(l => StructField(s"ac$l", LongType, nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (n, energy, acs) = decodeWavAutocorr(b, lags)
      Row.fromSeq(n +: energy +: acs)
    }
  }

  /** Fixture-synthesis column: WAV bytes for (seed, n_samples). */
  def packWavPcm16(id: Column, nSamples: Column): Column = {
    val enc = udf((k: Long, n: Int) => encodeWavPcm16(k % 251, n))
    enc(id.cast("long"), nSamples.cast("int"))
  }

  /** Fixture PCM with SILENT SPANS: sample i is muted to 0 when
    * (i div 70) % 4 == 0, else [[testSample]] — a 70-sample silent gap
    * every 280 samples, deliberately misaligned with any power-of-two
    * or decimal window size so silence-run boundaries fall mid-window. */
  private[graft] def encodeWavPcm16GatedImpl(k: Long, n: Int): Array[Byte] = {
    val dataLen = 2 * n
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000).putInt(16000) // rate, byte rate
      .putShort(2).putShort(16) // block align, bits
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val v = if ((i / 70) % 4 == 0) 0 else testSample(k, i)
      buf.putShort(v.toShort)
      i += 1
    }
    buf.array()
  }

  /** Fixture-synthesis column: gated (silence-bearing) WAV bytes. */
  def packWavPcm16Gated(id: Column, nSamples: Column): Column = {
    val enc = udf((k: Long, n: Int) => encodeWavPcm16GatedImpl(k % 251, n))
    enc(id.cast("long"), nSamples.cast("int"))
  }

  /** REAL windowed-loudness decode: same RIFF chunk walk and
    * malformed-input policy as [[decodeWavStats]], then the PCM stream
    * folded into per-window Σ|s| over fixed `w`-sample windows (last
    * window may be partial) — the frame-level energy track a
    * silence-trimming / VAD pass segments on. (-1, empty) on damage. */
  private[graft] def decodeWavWindowAbs(b: Array[Byte], w: Int): (Long, Array[Long]) = {
    val bad = (-1L, Array.empty[Long])
    try {
      if (w <= 0) return bad
      val span = wavPcm16Span(b)
      if (span == null) return bad
      val (dataOff, n) = span
      val wins = new Array[Long]((n + w - 1) / w)
      var i = 0
      while (i < n) {
        val v = (u16le(b, dataOff + 2 * i) << 16) >> 16 // sign-extend int16
        wins(i / w) += math.abs(v.toLong)
        i += 1
      }
      (n.toLong, wins)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  /** Windowed-loudness decode over [[Seam.rows]]:
    * (id, media) → (id, n_samples, win_abs array). */
  def decodeWavWindowStats(df: DataFrame, id: String, media: String,
      w: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("n_samples", LongType, nullable = false),
      StructField("win_abs", ArrayType(LongType, containsNull = false),
        nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (n, wins) = decodeWavWindowAbs(b, w)
      Row(n, wins.toSeq)
    }
  }

  /** Real-sample WAV decode over [[Seam.rows]]:
    * (id, media) → (id, SampleStatsSchema...). */
  def decodeWavSampleStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, SampleStatsSchema) { b =>
      val (ch, n, s, sa, ma) = decodeWavStats(b)
      Row(ch, n, s, sa, ma)
    }

  /** Fixture-synthesis column: BMP bytes for (seed, width, height).
    * A UDF by design — per-pixel imperative encode is fixture
    * construction, not a measured decode path. */
  def packBmp24(id: Column, width: Column, height: Column): Column = {
    val enc = udf((k: Long, w: Int, h: Int) => encodeBmp24(k % 251, w, h))
    enc(id.cast("long"), width.cast("int"), height.cast("int"))
  }

  /** Fixture-synthesis column: jittered same-scene BMP bytes for
    * (scene, docSeed, width, height) — see [[encodeBmp24Jittered]]. */
  def packBmp24Jittered(
      scene: Column, docSeed: Column, width: Column, height: Column): Column = {
    val enc = udf((sc: Long, ds: Long, w: Int, h: Int) =>
      encodeBmp24Jittered(sc % 251, ds, w, h))
    enc(scene.cast("long"), docSeed.cast("long"),
      width.cast("int"), height.cast("int"))
  }

  /** Fixture-synthesis column with the single-cell perturbation (cell
    * −1 = none) — see [[encodeBmp24Perturbed]]. */
  def packBmp24Perturbed(scene: Column, docSeed: Column,
      width: Column, height: Column, cell: Column): Column = {
    val enc = udf((sc: Long, ds: Long, w: Int, h: Int, c: Int) =>
      encodeBmp24Perturbed(sc % 251, ds, w, h, c))
    enc(scene.cast("long"), docSeed.cast("long"),
      width.cast("int"), height.cast("int"), cell.cast("int"))
  }

  val DHashSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("h_hi", LongType, nullable = false),
    StructField("h_lo", LongType, nullable = false),
  ))

  /** Cross-format dHash over [[Seam.rows]]:
    * (id, media) → (id, format, width, height, h_hi, h_lo). */
  def decodeImageDHashes(df: DataFrame, id: String, media: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("h_hi", LongType, nullable = false),
      StructField("h_lo", LongType, nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      val (f, w, h, hi, lo) = decodeImageDHash(b)
      Row(f, w, h, hi, lo)
    }
  }

  /** Real perceptual-hash decode over [[Seam.rows]]:
    * (id, media) → (id, width, height, h_hi, h_lo). */
  def decodeBmpDHashes(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, DHashSchema) { b =>
      val (w, h, hi, lo) = decodeBmpDHash(b)
      Row(w, h, hi, lo)
    }

  /** Real-pixel decode over [[Seam.rows]]: (id, media) → (id, PixelStatsSchema...). */
  def decodeBmpPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodeBmp24Stats(b)
      Row(w, h, sr, sg, sb, es)
    }

  // --- MP4 sample tables: the frame-level metadata layer ---------------
  // parseAvHeader stops at moov/mvhd (whole-presentation timing). The
  // frame-sampling plan a video pipeline runs — "which byte ranges are
  // frames, how long is each" — lives one level down, in the track's
  // sample tables (ISO 14496-12 §8.6/8.7): stts (time-to-sample run
  // lengths) and stsz (per-sample sizes). Both are fixed-layout
  // big-endian arrays: parseable exactly, no codec. This is the metadata
  // a 100 TB corpus scan needs to budget frame extraction WITHOUT
  // touching mdat payload bytes.

  val Mp4SampleStatsSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false), // from stts Σcount·delta over mdhd timescale
    StructField("total_sample_bytes", LongType, nullable = false),
    StructField("max_sample_size", LongType, nullable = false),
  ))

  /** First child box named `id` inside [start, end) of an MP4 → its body
    * span, clamped to `end`. Box sizes are untrusted u32 (Long cursor): a
    * size below 8, size-0 and largesize boxes included, stops the walk. */
  private def mp4Child(b: Array[Byte], start: Long, end: Long,
      id: String): Option[(Long, Long)] = {
    var i = start
    while (i + 8 <= end) {
      val size = u32be(b, i.toInt)
      if (size < 8) return None
      if (cc(b, i.toInt + 4) == id) return Some((i + 8, math.min(i + size, end)))
      i += size
    }
    None
  }

  /** The body spans of the first track's moov/trak/mdia box and of its
    * minf/stbl box, below a leading `ftyp`. */
  private def mp4SampleTables(b: Array[Byte]): Option[((Long, Long), (Long, Long))] =
    if (b.length < 8 || cc(b, 4) != "ftyp") None
    else for {
      moov <- mp4Child(b, 0, b.length.toLong, "moov")
      trak <- mp4Child(b, moov._1, moov._2, "trak")
      mdia <- mp4Child(b, trak._1, trak._2, "mdia")
      minf <- mp4Child(b, mdia._1, mdia._2, "minf")
      stbl <- mp4Child(b, minf._1, minf._2, "stbl")
    } yield (mdia, stbl)

  /** Walk moov/trak/mdia/{mdhd, minf/stbl/{stts, stsz}} and fold the
    * sample tables: (n_samples, duration_ms, total_sample_bytes,
    * max_sample_size). Declared box sizes and entry counts are untrusted
    * (Long cursors, end-clamping, count-vs-available-bytes caps) —
    * malformed input returns the (-1, 0, 0, 0) sentinel, never a throw. */
  private[graft] def parseMp4SampleStats(b: Array[Byte]): (Long, Long, Long, Long) = {
    val none = (-1L, 0L, 0L, 0L)
    val stats = for {
      (mdia, stbl) <- mp4SampleTables(b)
      mdhd <- mp4Child(b, mdia._1, mdia._2, "mdhd")
      stts <- mp4Child(b, stbl._1, stbl._2, "stts")
      stsz <- mp4Child(b, stbl._1, stbl._2, "stsz")
    } yield {
      // mdhd v0: ver/flags, ctime, mtime, timescale, duration (u32 each);
      // v1 widens the times to u64, shifting timescale to offset 20
      val ma = mdhd._1.toInt
      val timescale =
        if (mdhd._2 - mdhd._1 >= 20 && u8(b, ma) == 0) u32be(b, ma + 12)
        else if (mdhd._2 - mdhd._1 >= 28 && u8(b, ma) == 1) u32be(b, ma + 20)
        else -1L
      // stts: ver/flags, entry_count, then (sample_count, sample_delta)*
      val ta = stts._1.toInt
      var sumCount = 0L
      var sumDeltas = 0L
      var ok = stts._2 - stts._1 >= 8
      if (ok) {
        val declared = u32be(b, ta + 4)
        val avail = (stts._2 - stts._1 - 8) / 8
        if (declared > avail) ok = false
        else {
          var e = 0
          while (e < declared && ok) {
            val cnt = u32be(b, ta + 8 + e * 8)
            val delta = u32be(b, ta + 12 + e * 8)
            // u32·u32 can exceed Long range (the BMP-overflow lesson:
            // wrapped intermediates turn bounds checks into lies) —
            // saturating guards keep adversarial tables in the sentinel
            // path instead of emitting wrapped negatives
            if (cnt != 0 && delta > Long.MaxValue / cnt) ok = false
            else {
              sumCount += cnt
              sumDeltas += cnt * delta
              if (sumDeltas < 0 || sumDeltas > Long.MaxValue / 1000L) ok = false
            }
            e += 1
          }
        }
      }
      // stsz: ver/flags, sample_size (0 = per-sample table), sample_count
      val za = stsz._1.toInt
      var n = 0L; var total = 0L; var mx = 0L
      if (ok && stsz._2 - stsz._1 >= 12) {
        val fixed = u32be(b, za + 4)
        n = u32be(b, za + 8)
        if (fixed > 0) {
          if (n > Long.MaxValue / fixed) ok = false // u32·u32 overflow guard
          else { total = n * fixed; mx = fixed }
        }
        else if (n > (stsz._2 - stsz._1 - 12) / 4) ok = false
        else {
          var i = 0
          while (i < n) {
            val sz = u32be(b, za + 12 + i * 4)
            total += sz
            if (sz > mx) mx = sz
            i += 1
          }
        }
      } else ok = false
      if (!ok || timescale <= 0) none
      else (n, sumDeltas * 1000L / timescale, total, mx)
    }
    stats.getOrElse(none)
  }

  /** Per-sample sizes from the stsz table — the m15 keyframe-selection
    * input ([[parseMp4SampleStats]] folds the same table to aggregates;
    * selection needs the individual entries). Same untrusted-size
    * discipline: declared counts cap at available bytes AND at 2²⁰
    * entries (a 1-KB file can declare 2³²−1 samples — the allocation
    * must size from evidence, not declaration). Malformed → empty. */
  private[graft] def parseMp4SampleSizes(b: Array[Byte]): Array[Int] = {
    val sizes = for {
      (_, stbl) <- mp4SampleTables(b)
      stsz <- mp4Child(b, stbl._1, stbl._2, "stsz")
      if stsz._2 - stsz._1 >= 12
    } yield {
      val za = stsz._1.toInt
      val fixed = u32be(b, za + 4)
      val n = u32be(b, za + 8)
      val cap = 1L << 20
      if (n > cap) Array.empty[Int]
      else if (fixed > 0) Array.fill(n.toInt)(
        math.min(fixed, Int.MaxValue.toLong).toInt)
      else if (n > (stsz._2 - stsz._1 - 12) / 4) Array.empty[Int]
      else Array.tabulate(n.toInt)(i =>
        math.min(u32be(b, za + 12 + i * 4), Int.MaxValue.toLong).toInt)
    }
    sizes.getOrElse(Array.empty)
  }

  /** Per-sample stsz decode over [[Seam.rows]]:
    * (id, media) → (id, sizes: array<int>). */
  def decodeMp4SampleSizes(df: DataFrame, id: String, media: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("sizes", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    Seam.rows(df, id, media, outSchema) { b =>
      Row(parseMp4SampleSizes(b).toSeq)
    }
  }

  /** Synthesize a one-track MP4 whose sample tables are real: ftyp, then
    * moov/trak/mdia/{mdhd v0 (timescale, duration = n·delta), minf/stbl/
    * {stts (one run: n samples × delta ticks), stsz (per-sample size
    * table, sizes = base + i² mod 7)}}. Box sizes are computed from the
    * children, so the parser walks genuine nesting. */
  def packMp4Track(timescale: Column, delta: Column, n: Column, base: Column): Column = {
    val sizesHex = array_join(
      transform(sequence(lit(0), n - 1),
        i => be32hex(base + (i * i) % 7)), "")
    val stsz = concat(be32hex(n * 4 + 20), lit("7374737A" + "00000000" + "00000000"),
      be32hex(n), sizesHex)
    val stts = concat(lit("00000018" + "73747473" + "00000000" + "00000001"),
      be32hex(n), be32hex(delta))
    val stbl = concat(be32hex(n * 4 + 52), lit("7374626C"), stts, stsz)
    val minf = concat(be32hex(n * 4 + 60), lit("6D696E66"), stbl)
    val mdhd = concat(lit("00000020" + "6D646864" + "00000000" + "00000000" + "00000000"),
      be32hex(timescale), be32hex(n * delta), lit("00000000"))
    val mdia = concat(be32hex(n * 4 + 100), lit("6D646961"), mdhd, minf)
    val trak = concat(be32hex(n * 4 + 108), lit("7472616B"), mdia)
    val moov = concat(be32hex(n * 4 + 116), lit("6D6F6F76"), trak)
    unhex(concat(lit("00000010" + "66747970" + "69736F6D" + "00000000"), moov))
  }

  /** MP4 sample-table decode over [[Seam.rows]]: (id, media) → (id, Mp4SampleStatsSchema...). */
  def decodeMp4SampleStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, Mp4SampleStatsSchema) { b =>
      val (n, durMs, total, mx) = parseMp4SampleStats(b)
      Row(n, durMs, total, mx)
    }
}
