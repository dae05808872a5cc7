package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** ICO (favicon) pixel decode — the one image container nearly every
  * crawled SITE carries (`/favicon.ico`, `<link rel=icon>`), in both
  * payload dialects: classic DIB (BITMAPINFOHEADER with DOUBLED height
  * covering the XOR pixel block plus the 1-bpp AND transparency mask,
  * 32-bit-padded mask rows) and modern PNG-in-ICO. The walk reuses the
  * engine's REAL pixel decoders — raw-BGR arithmetic for the DIB side,
  * [[Multimodal.decodePngStats]] for PNG payloads — and folds channel
  * sums over VISIBLE pixels only (AND-mask bit clear), so directory
  * parsing, the doubled-height convention, bottom-up row order, the
  * 32-bit mask stride, and payload dispatch are all hash-gated.
  *
  * Untrusted input: image count and per-entry offsets/lengths are
  * bounds-checked against the file, dimensions validated against the
  * payload's own header (the 0-means-256 directory convention
  * honored), per-file pixel budget shared with the other decoders.
  * Null row on malformation; never throws.
  */
object Ico {

  private[graft] final case class Stats(
      nImages: Long, width0: Long, height0: Long,
      sumR: Long, sumG: Long, sumB: Long, nTransparent: Long)

  private val MaxImages = 64

  // ------------------------------------------------------------------
  // decode
  // ------------------------------------------------------------------

  private[graft] def icoStats(bytes: Array[Byte]): Stats =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try icoStatsImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def icoStatsImpl(bytes: Array[Byte]): Stats = {
    if (bytes == null || bytes.length < 6) return null
    if (u16le(bytes, 0) != 0 || u16le(bytes, 2) != 1) return null
    val n = u16le(bytes, 4)
    if (n < 1 || n > MaxImages || 6 + 16 * n > bytes.length) return null

    var sumR = 0L; var sumG = 0L; var sumB = 0L; var nTrans = 0L
    var w0 = -1L; var h0 = -1L
    var totalPixels = 0L
    var i = 0
    while (i < n) {
      val e = 6 + 16 * i
      val dw = if (u8(bytes, e) == 0) 256 else u8(bytes, e)
      val dh = if (u8(bytes, e + 1) == 0) 256 else u8(bytes, e + 1)
      val size = u32le(bytes, e + 8)
      val off = u32le(bytes, e + 12)
      if (off < 0 || size < 8 || off + size > bytes.length) return null
      totalPixels += dw.toLong * dh
      if (totalPixels > Multimodal.MaxInflateBytes / 4) return null
      val p = off.toInt
      val isPng = size >= 8 && u8(bytes, p) == 0x89 && u8(bytes, p + 1) == 'P' &&
        u8(bytes, p + 2) == 'N' && u8(bytes, p + 3) == 'G'
      if (isPng) {
        val payload = java.util.Arrays.copyOfRange(bytes, p, (off + size).toInt)
        val (pw, ph, sr, sg, sb, _) = Multimodal.decodePngStats(payload)
        if (pw != dw || ph != dh) return null
        sumR += sr; sumG += sg; sumB += sb
      } else {
        // ICO-DIB: BITMAPINFOHEADER, biHeight doubled (XOR + AND mask)
        if (size < 40 || u32le(bytes, p) != 40L) return null
        val bw = u32le(bytes, p + 4)
        val bh2 = u32le(bytes, p + 8)
        val planes = u16le(bytes, p + 12); val bpp = u16le(bytes, p + 14)
        val compression = u32le(bytes, p + 16)
        if (bw != dw || bh2 != 2L * dh || planes != 1 ||
            bpp != 24 || compression != 0L) return null
        val w = dw; val h = dh
        val xorStride = (w * 3 + 3) / 4 * 4
        val andStride = (w + 31) / 32 * 4
        val xorAt = p + 40
        val andAt = xorAt + xorStride * h
        if (andAt + andStride * h > (off + size).toInt + 0 ||
            off + 40 + xorStride.toLong * h + andStride.toLong * h > bytes.length)
          return null
        var y = 0
        while (y < h) {
          // bottom-up rows in both blocks
          val xorRow = xorAt + xorStride * (h - 1 - y)
          val andRow = andAt + andStride * (h - 1 - y)
          var x = 0
          while (x < w) {
            val maskBit = (u8(bytes, andRow + (x >> 3)) >> (7 - (x & 7))) & 1
            if (maskBit == 1) nTrans += 1
            else {
              sumB += u8(bytes, xorRow + 3 * x)
              sumG += u8(bytes, xorRow + 3 * x + 1)
              sumR += u8(bytes, xorRow + 3 * x + 2)
            }
            x += 1
          }
          y += 1
        }
      }
      if (i == 0) { w0 = dw.toLong; h0 = dh.toLong }
      i += 1
    }
    Stats(n.toLong, w0, h0, sumR, sumG, sumB, nTrans)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** m35 fixture: k%3+1 images per icon; image i is PNG-in-ICO when
    * (k+i) odd, classic DIB+mask otherwise, both carrying the shared
    * [[Multimodal.testPixel]] pattern under per-image seed
    * k_i = (k+31·i)%251; the DIB AND mask clears pixels where
    * (x + 2y + k_i) % 7 == 0. */
  private[graft] def encodeIco(docId: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val n = (k % 3 + 1).toInt
    val payloads = (0 until n).map { i =>
      val ki = (k + 31 * i) % 251
      val w = ((k + i) % 12 + 5).toInt
      val h = ((k + i) % 9 + 5).toInt
      val png = (k + i) % 2 == 1
      val body =
        if (png) Multimodal.encodePng24(ki, w, h)
        else {
          val xorStride = (w * 3 + 3) / 4 * 4
          val andStride = (w + 31) / 32 * 4
          val buf = java.nio.ByteBuffer
            .allocate(40 + xorStride * h + andStride * h)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          buf.putInt(40).putInt(w).putInt(2 * h).putShort(1).putShort(24)
            .putInt(0).putInt(xorStride * h + andStride * h)
            .putInt(0).putInt(0).putInt(0).putInt(0)
          var y = h - 1
          while (y >= 0) {
            var x = 0
            while (x < w) {
              val (r, g, b) = Multimodal.testPixel(ki, x, y)
              buf.put(b.toByte).put(g.toByte).put(r.toByte)
              x += 1
            }
            var pad = w * 3
            while (pad < xorStride) { buf.put(0.toByte); pad += 1 }
            y -= 1
          }
          y = h - 1
          while (y >= 0) {
            val row = new Array[Byte](andStride)
            var x = 0
            while (x < w) {
              if ((x + 2 * y + ki) % 7 == 0)
                row(x >> 3) = (row(x >> 3) | (1 << (7 - (x & 7)))).toByte
              x += 1
            }
            buf.put(row)
            y -= 1
          }
          buf.array()
        }
      (w, h, body)
    }
    val out = java.nio.ByteBuffer
      .allocate(6 + 16 * n + payloads.map(_._3.length).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putShort(0).putShort(1).putShort(n.toShort)
    var off = 6 + 16 * n
    payloads.foreach { case (w, h, body) =>
      out.put(w.toByte).put(h.toByte).put(0.toByte).put(0.toByte)
      out.putShort(1).putShort(24)
      out.putInt(body.length).putInt(off)
      off += body.length
    }
    payloads.foreach(p => out.put(p._3))
    out.array()
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packIco(id: Column): Column = {
    val enc = udf((d: Long) => encodeIco(d))
    enc(id.cast("long"))
  }

  private val StatsSchema = StructType(Seq(
    StructField("n_images", LongType, nullable = false),
    StructField("width0", LongType, nullable = false),
    StructField("height0", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("n_transparent", LongType, nullable = false)))

  /** ICO pixel census over [[Seam.rows]]; all-(-1)
    * sentinel on malformed input. */
  def decodeIcoStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, StatsSchema) { b =>
      val s = icoStats(b)
      if (s == null) Row(-1L, -1L, -1L, -1L, -1L, -1L, -1L)
      else Row(s.nImages, s.width0, s.height0,
        s.sumR, s.sumG, s.sumB, s.nTransparent)
    }
}
