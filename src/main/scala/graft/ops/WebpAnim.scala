package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** WebP CONTAINER walk — still vs extended/animated dispatch, the
  * VP8X/ANIM/ANMF chunk layer of the WebP container spec (the format
  * the m21/m28 bitstream decoders plug into; animated WebP has largely
  * replaced GIF for short loops on the open web). METADATA-ONLY above
  * the frame payloads: RIFF chunk walk with untrusted-size budgets,
  * per-frame geometry/duration/flags, loop count, canvas dims, and the
  * still-file dimension read from the first bitstream bytes (VP8 frame
  * tag / VP8L signature — fixed-offset header fields, no decode).
  *
  * Null on malformation, never throws; chunk sizes are bounds-checked
  * and padded-to-even per RIFF; frame count budgeted.
  */
object WebpAnim {

  private[graft] final case class Meta(
      kind: String, canvasW: Long, canvasH: Long, nFrames: Long,
      totalDurationMs: Long, loopCount: Long, sumFrameArea: Long)

  private val MaxFrames = 1 << 16

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  private[graft] def webpMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try webpMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def webpMetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 20) return null
    if (fourCC(bytes, 0) != "RIFF" || fourCC(bytes, 8) != "WEBP") return null
    val riffLen = u32le(bytes, 4)
    if (riffLen < 4 || 8 + riffLen > bytes.length) return null
    val end = (8 + riffLen).toInt

    /** Dims from the first bitstream bytes of a still chunk. */
    def vp8Dims(at: Int, size: Long): (Long, Long) = {
      if (size < 10 || u8(bytes, at + 3) != 0x9d || u8(bytes, at + 4) != 0x01 ||
          u8(bytes, at + 5) != 0x2a) return null
      ((u16le(bytes, at + 6) & 0x3fff).toLong, (u16le(bytes, at + 8) & 0x3fff).toLong)
    }
    def vp8lDims(at: Int, size: Long): (Long, Long) = {
      if (size < 5 || u8(bytes, at) != 0x2f) return null
      val w = 1L + (u8(bytes, at + 1) | ((u8(bytes, at + 2) & 0x3f) << 8))
      val h = 1L + ((u8(bytes, at + 2) >> 6) | (u8(bytes, at + 3) << 2) |
        ((u8(bytes, at + 4) & 0x0f) << 10))
      (w, h)
    }

    var p = 12
    val first = fourCC(bytes, p)
    val firstSize = u32le(bytes, p + 4)
    if (firstSize < 0 || p + 8 + firstSize > end) return null
    first match {
      case "VP8 " =>
        val d = vp8Dims(p + 8, firstSize)
        if (d == null) return null
        Meta("vp8-still", d._1, d._2, 1L, -1L, -1L, d._1 * d._2)
      case "VP8L" =>
        val d = vp8lDims(p + 8, firstSize)
        if (d == null) return null
        Meta("vp8l-still", d._1, d._2, 1L, -1L, -1L, d._1 * d._2)
      case "VP8X" =>
        if (firstSize != 10) return null
        val flags = u8(bytes, p + 8)
        val animated = (flags & 0x02) != 0
        val canvasW = u24le(bytes, p + 12) + 1L
        val canvasH = u24le(bytes, p + 15) + 1L
        p += 8 + 10
        var loop = -1L
        var nFrames = 0L
        var dur = 0L
        var area = 0L
        while (p + 8 <= end) {
          val name = fourCC(bytes, p)
          val size = u32le(bytes, p + 4)
          if (size < 0 || p + 8 + size > end) return null
          name match {
            case "ANIM" =>
              if (size < 6) return null
              loop = u16le(bytes, p + 8 + 4).toLong
            case "ANMF" =>
              if (size < 16 || nFrames >= MaxFrames) return null
              val b = p + 8
              val fx = 2L * u24le(bytes, b)
              val fy = 2L * u24le(bytes, b + 3)
              val fw = u24le(bytes, b + 6) + 1L
              val fh = u24le(bytes, b + 9) + 1L
              val d = u24le(bytes, b + 12).toLong
              if (fx + fw > canvasW || fy + fh > canvasH)
                return null // frame outside the canvas is malformed
              nFrames += 1
              dur += d
              area += fw * fh
            case _ => () // ICCP/EXIF/XMP/ALPH and unknown chunks skipped
          }
          p += 8 + size.toInt + (size.toInt & 1) // RIFF even padding
        }
        if (animated && (nFrames == 0 || loop < 0)) return null
        if (!animated) return null // non-animated VP8X outside this census
        Meta("animated", canvasW, canvasH, nFrames, dur, loop, area)
      case _ => null
    }
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** The inner bitstream chunk (fourCC+size+payload) of a full WebP
    * file — RIFF header stripped. */
  private def innerChunk(file: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(file, 12, file.length)

  /** m38 fixture: k%5==0 → a real VP8L still; k%5==1 → a real VP8
    * (lossy) still; else an animated container with k%7+1 ANMF frames,
    * each wrapping a REAL VP8L bitstream, analytic offsets/durations,
    * loop count k%4. */
  private[graft] def encodeWebpAnim(docId: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    if (k % 5 == 0)
      Vp8l.encodeWebp(k, (k % 10 + 4).toInt, (k % 7 + 3).toInt)
    else if (k % 5 == 1) Vp8.encodeFixture(k)
    else {
      val n = (k % 7 + 1).toInt
      val frames = (0 until n).map { i =>
        val ki = (k + 13 * i) % 251
        val w = ((k + i) % 10 + 4).toInt
        val h = ((k + i) % 7 + 3).toInt
        val inner = innerChunk(Vp8l.encodeWebp(ki, w, h))
        val fx = 2 * (i % 3)
        val fy = 2 * ((i + 1) % 2)
        val d = ((k + 7 * i) % 90 + 10).toInt
        (fx, fy, w, h, d, inner)
      }
      val canvasW = frames.map(f => f._1 + f._3).max
      val canvasH = frames.map(f => f._2 + f._4).max
      val body = new java.io.ByteArrayOutputStream()
      def chunk(name: String, payload: Array[Byte]): Unit = {
        body.write(name.getBytes("ISO-8859-1"))
        put32le(body, payload.length)
        body.write(payload)
        if ((payload.length & 1) == 1) body.write(0)
      }
      // VP8X: animation flag, canvas dims
      val vp8x = new java.io.ByteArrayOutputStream()
      vp8x.write(0x02); vp8x.write(0); vp8x.write(0); vp8x.write(0)
      put24le(vp8x, canvasW - 1); put24le(vp8x, canvasH - 1)
      chunk("VP8X", vp8x.toByteArray)
      // ANIM: background BGRA + loop count
      val anim = new java.io.ByteArrayOutputStream()
      anim.write(0); anim.write(0); anim.write(0); anim.write(0xff)
      anim.write((k % 4).toInt); anim.write(0)
      chunk("ANIM", anim.toByteArray)
      frames.foreach { case (fx, fy, w, h, d, inner) =>
        val f = new java.io.ByteArrayOutputStream()
        put24le(f, fx / 2); put24le(f, fy / 2); put24le(f, w - 1); put24le(f, h - 1)
        put24le(f, d)
        f.write(0x02) // blending flag set, dispose-to-none
        f.write(inner)
        chunk("ANMF", f.toByteArray)
      }
      val payload = body.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      out.write("RIFF".getBytes("ISO-8859-1"))
      val total = payload.length + 4
      put32le(out, total)
      out.write("WEBP".getBytes("ISO-8859-1"))
      out.write(payload)
      out.toByteArray
    }
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packWebpAnim(id: Column): Column = {
    val enc = udf((d: Long) => encodeWebpAnim(d))
    enc(id.cast("long"))
  }

  private val MetaSchema = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("canvas_w", LongType, nullable = false),
    StructField("canvas_h", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("total_duration_ms", LongType, nullable = false),
    StructField("loop_count", LongType, nullable = false),
    StructField("sum_frame_area", LongType, nullable = false)))

  /** WebP container census over [[Seam.rows]]; null/-1 sentinel on
    * malformed input. */
  def decodeWebpAnimMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = webpMeta(b)
      if (m == null) Row(null, -1L, -1L, -1L, -1L, -1L, -1L)
      else Row(m.kind, m.canvasW, m.canvasH, m.nFrames,
        m.totalDurationMs, m.loopCount, m.sumFrameArea)
    }
}
