package graft.ops

import graft.core.Bytes._

/** m46: APNG animation-control walk — the PNG sibling of m20's GIF
  * animation census (APNG, W3C PNG 3rd ed. §11.3.4.x / the original
  * Mozilla spec): `acTL` (declared frame count + play count), the
  * interleaved `fcTL`/`fdAT` sequence-number protocol (one shared
  * counter across both chunk types, strictly 0,1,2,… in stream order —
  * the validity rule real decoders enforce), per-frame geometry
  * bounds-checks against IHDR, delay arithmetic (delay_den==0 means
  * 1/100s per spec), dispose/blend ops, and whether the default image
  * (IDAT) is frame 0 (an fcTL precedes IDAT) or stands outside the
  * animation. Pixel reconstruction is m8/m18/m19's path; this is the
  * container tier. All declared lengths budgeted; NonFatal→null.
  */
object Apng {

  private[graft] final case class Meta(
      width: Long, height: Long, framesDeclared: Long, plays: Long,
      nFctl: Long, nFdat: Long, totalDelayMs: Long,
      firstDispose: Long, firstBlend: Long, seqOk: Boolean,
      defaultIsFrame: Boolean, intact: Boolean)

  private val MaxChunks = 4096

  private[graft] def apngMeta(b: Array[Byte]): Meta =
    try apngMetaImpl(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def apngMetaImpl(b: Array[Byte]): Meta = {
    if (b == null || b.length < 8 + 25) return null
    if (u8(b, 0) != 0x89 || b(1) != 'P' || b(2) != 'N' || b(3) != 'G')
      return null
    var p = 8
    var width = -1L; var height = -1L
    var framesDeclared = -1L; var plays = -1L
    var nFctl = 0L; var nFdat = 0L
    var totalDelayMs = 0L
    var firstDispose = -1L; var firstBlend = -1L
    var seqOk = true
    var geomOk = true
    var nextSeq = 0L
    var sawIdat = false
    var defaultIsFrame = false
    var chunks = 0
    var done = false
    while (!done && p + 8 <= b.length) {
      chunks += 1
      if (chunks > MaxChunks) return null
      val len = u32be(b, p)
      if (len > b.length - p - 12) return null // budget: length vs file
      val typ = fourCC(b, p + 4)
      val d = p + 8
      typ match {
        case "IHDR" =>
          if (len < 13) return null
          width = u32be(b, d); height = u32be(b, d + 4)
        case "acTL" =>
          if (len < 8) return null
          framesDeclared = u32be(b, d); plays = u32be(b, d + 4)
        case "fcTL" =>
          if (len < 26) return null
          val seq = u32be(b, d)
          if (seq != nextSeq) seqOk = false
          nextSeq = seq + 1
          nFctl += 1
          if (!sawIdat) defaultIsFrame = true
          val fw = u32be(b, d + 4); val fh = u32be(b, d + 8)
          val fx = u32be(b, d + 12); val fy = u32be(b, d + 16)
          if (fx + fw > width || fy + fh > height) geomOk = false
          val num = u16be(b, d + 20)
          val den0 = u16be(b, d + 22)
          val den = if (den0 == 0) 100 else den0
          totalDelayMs += num.toLong * 1000L / den
          if (firstDispose < 0) { firstDispose = u8(b, d + 24); firstBlend = u8(b, d + 25) }
        case "fdAT" =>
          if (len < 4) return null
          val seq = u32be(b, d)
          if (seq != nextSeq) seqOk = false
          nextSeq = seq + 1
          nFdat += 1
        case "IDAT" => sawIdat = true
        case "IEND" => done = true
        case _ => ()
      }
      p = d + len.toInt + 4 // skip data + CRC
    }
    if (width < 0) return null
    Meta(width, height, framesDeclared, plays, nFctl, nFdat, totalDelayMs,
      firstDispose, firstBlend, seqOk, defaultIsFrame,
      intact = framesDeclared >= 0 && framesDeclared == nFctl && geomOk)
  }

  // ------------------------------------------------------------------
  // fixture encoder: a REAL APNG container (deflated frame data, CRCs)
  // ------------------------------------------------------------------

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    put32be(out, data.length)
    val tb = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    out.write(tb, 0, 4)
    out.write(data, 0, data.length)
    put32be(out, crc.getValue)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val df = new java.util.zip.Deflater()
    df.setInput(raw); df.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    val tmp = new Array[Byte](4096)
    while (!df.finished()) out.write(tmp, 0, df.deflate(tmp))
    df.end()
    out.toByteArray
  }

  /** Analytic APNG for seed docId%251: n = k%5+1 frames, plays = k%4,
    * per-frame delays (k+i)%50+1 over den 100 (odd i: den 0 → 100),
    * dispose (k+i)%3 / blend (k+i)%2, frame 0 full-size. Even k: the default
    * image IS frame 0 (fcTL before IDAT, n-1 fdAT frames follow);
    * odd k: IDAT stands outside the animation and all n frames are
    * fcTL+fdAT pairs. Sequence numbers interleave per spec. */
  private[graft] def encodeApng(docId: Long): Array[Byte] = {
    val k = docId % 251
    val w = (k % 40 + 8).toInt
    val h = (k % 30 + 8).toInt
    val n = (k % 5 + 1).toInt
    val plays = (k % 4).toInt
    val defaultIsFrame = k % 2 == 0
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a), 0, 8)
    chunk(out, "IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    chunk(out, "acTL", java.nio.ByteBuffer.allocate(8)
      .putInt(n).putInt(plays).array())
    var seq = 0
    def fctl(i: Int): Unit = {
      val fw = if (i == 0) w else w - (i % 2)
      val fh = if (i == 0) h else h - (i % 3)
      val fx = if (i == 0) 0 else i % 2
      val fy = if (i == 0) 0 else i % 3
      val num = ((k + i) % 50 + 1).toInt
      val den = if (i % 2 == 0) 100 else 0
      chunk(out, "fcTL", java.nio.ByteBuffer.allocate(26)
        .putInt(seq).putInt(fw).putInt(fh).putInt(fx).putInt(fy)
        .putShort(num.toShort).putShort(den.toShort)
        .put(((k + i) % 3).toByte).put(((k + i) % 2).toByte).array())
      seq += 1
    }
    // grayscale row data: filter byte 0 + w samples per row
    def raw(fw: Int, fh: Int, tag: Int): Array[Byte] = {
      val a = new Array[Byte]((fw + 1) * fh)
      var y = 0
      while (y < fh) {
        var x = 0
        while (x < fw) {
          a(y * (fw + 1) + 1 + x) = ((x + 2 * y + k + tag) % 256).toByte
          x += 1
        }
        y += 1
      }
      a
    }
    def fdat(fw: Int, fh: Int, tag: Int): Unit = {
      val comp = deflate(raw(fw, fh, tag))
      val d = java.nio.ByteBuffer.allocate(4 + comp.length)
        .putInt(seq).put(comp).array()
      chunk(out, "fdAT", d)
      seq += 1
    }
    if (defaultIsFrame) {
      fctl(0)
      chunk(out, "IDAT", deflate(raw(w, h, 0)))
      for (i <- 1 until n) {
        fctl(i)
        fdat(w - (i % 2), h - (i % 3), i)
      }
    } else {
      chunk(out, "IDAT", deflate(raw(w, h, 99)))
      for (i <- 0 until n) {
        fctl(i)
        fdat(if (i == 0) w else w - (i % 2),
          if (i == 0) h else h - (i % 3), i)
      }
    }
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
