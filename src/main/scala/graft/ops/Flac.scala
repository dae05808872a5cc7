package graft.ops

import graft.core.Bits.{MsbReader, MsbWriter}
import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._

/** FLAC (Free Lossless Audio Codec, RFC 9639) — REAL bit-exact PCM
  * decode, the audio leg of the multimodal tier. FLAC is the
  * deterministic lossless audio format the way VP8L is the
  * deterministic lossless image format: the spec mandates bit-exact
  * reconstruction (prefix/rice codes + integer predictors, no float
  * transform), so decoded samples sit squarely inside the hash-oracle
  * regime that excluded MP3/Vorbis (float MDCT, no mandated exact
  * output). The reference records mime/content per fetched object
  * (`src/org/commoncrawl/mapred/ec2/parser/ParserMapper.java`) but
  * never decodes media; a training-data pipeline over a 100 TB crawl
  * needs the decode to do audio dedupe/fingerprint/quality gates.
  *
  * Spec-derived from RFC 9639: metadata block walk (STREAMINFO
  * required first), frame headers (sync, blocking strategy, coded
  * frame/sample number, uncommon block-size/sample-rate fields,
  * CRC-8), subframes CONSTANT / VERBATIM / FIXED(0–4) / LPC(1–32)
  * with wasted-bits, rice/rice2 partitioned residuals with escaped
  * (raw-binary) partitions, left/right/mid-side stereo decorrelation,
  * and the whole-frame CRC-16. Every declared length is treated as
  * untrusted: decode budgets cap channels, block size, and total
  * samples, and any structural lie throws internally and surfaces as
  * the all-(-1) row, never an exception (the house malformed-input
  * policy, same as [[Multimodal.decodeWavStats]]).
  *
  * Scale shape: decode is a per-row kernel over the binary column —
  * corpus-linear, shuffle-free, run once per row through [[Seam.rows]]
  * so a 1000-executor cluster decodes partitions independently.
  */
object Flac {

  private object Bad extends RuntimeException("malformed flac") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Decode-side budgets — declared sizes are untrusted input. */
  private val MaxChannels = 8
  private val MaxBlock = 65535
  private val MaxTotalSamples = 1 << 22

  /** Unary: count of 0 bits before the terminating 1. */
  private def readUnary(br: MsbReader): Int = {
    var q = 0
    while (br.readBit() == 0) {
      q += 1
      if (q > (1 << 20)) throw Bad // quotient budget
    }
    q
  }

  private def writeUnary(bw: MsbWriter, q: Int): Unit = {
    var i = 0
    while (i < q) { bw.writeBit(0); i += 1 }
    bw.writeBit(1)
  }

  // ------------------------------------------------------------------
  // CRCs (both MSB-first, init 0 — RFC 9639 §9.2/§9.3)
  // ------------------------------------------------------------------

  private[graft] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private[graft] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc =
          if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  private final case class StreamInfo(
      minBlock: Int, maxBlock: Int, sampleRate: Int, channels: Int,
      bps: Int, totalSamples: Long)

  private def parseStreamInfo(b: Array[Byte], off: Int): StreamInfo = {
    val minBlock = u16be(b, off)
    val maxBlock = u16be(b, off + 2)
    // 24-bit min/max frame size skipped (informational)
    val rate = u24be(b, off + 10) >> 4
    val channels = ((u8(b, off + 12) >> 1) & 0x07) + 1
    val bps = ((u16be(b, off + 12) >> 4) & 0x1f) + 1
    val total = ((u8(b, off + 13) & 0x0f).toLong << 32) | u32be(b, off + 14)
    StreamInfo(minBlock, maxBlock, rate, channels, bps, total)
  }

  /** UTF-8-style coded number (frame or sample ordinal). */
  private def readCodedNumber(br: MsbReader, maxBytes: Int): Long = {
    if (!br.atByteBoundary) throw Bad
    val first = br.readBits(8)
    if ((first & 0x80) == 0) return first.toLong
    var cont = 0
    var mask = 0x40
    while ((first & mask) != 0) { cont += 1; mask >>= 1 }
    if (cont < 1 || cont + 1 > maxBytes) throw Bad
    var v = (first & (mask - 1)).toLong
    var i = 0
    while (i < cont) {
      val c = br.readBits(8)
      if ((c & 0xc0) != 0x80) throw Bad
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  /** Partitioned rice/rice2 residual (RFC 9639 §7.2.3). */
  private def readResidual(
      br: MsbReader, blocksize: Int, order: Int): Array[Int] = {
    val method = br.readBits(2)
    if (method > 1) throw Bad
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    val p = br.readBits(4)
    if ((blocksize >> p) << p != blocksize) throw Bad
    val res = new Array[Int](blocksize - order)
    var idx = 0
    var part = 0
    while (part < (1 << p)) {
      val count = (blocksize >> p) - (if (part == 0) order else 0)
      if (count < 0) throw Bad
      val param = br.readBits(pbits)
      if (param == escape) {
        val raw = br.readBits(5)
        var i = 0
        while (i < count) {
          res(idx) = if (raw == 0) 0 else br.readSigned(raw)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = readUnary(br).toLong
          val lo = if (param == 0) 0L else br.readBits(param).toLong
          val u = (q << param) | lo
          res(idx) = ((u >>> 1) ^ -(u & 1L)).toInt
          idx += 1; i += 1
        }
      }
      part += 1
    }
    res
  }

  private def fixedReconstruct(
      warm: Array[Int], res: Array[Int], order: Int, n: Int): Array[Int] = {
    val s = new Array[Int](n)
    System.arraycopy(warm, 0, s, 0, order)
    var i = order
    while (i < n) {
      val r = res(i - order).toLong
      val v = order match {
        case 0 => r
        case 1 => r + s(i - 1)
        case 2 => r + 2L * s(i - 1) - s(i - 2)
        case 3 => r + 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
        case 4 => r + 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
      }
      if (v < Int.MinValue || v > Int.MaxValue) throw Bad
      s(i) = v.toInt
      i += 1
    }
    s
  }

  private def decodeSubframe(
      br: MsbReader, blocksize: Int, bps: Int): Array[Int] = {
    if (br.readBit() != 0) throw Bad // reserved pad
    val typ = br.readBits(6)
    var wasted = 0
    if (br.readBit() == 1) wasted = 1 + readUnary(br)
    val bpsE = bps - wasted
    if (bpsE < 1 || bpsE > 32) throw Bad
    val out: Array[Int] =
      if (typ == 0) { // CONSTANT
        val v = br.readSigned(bpsE)
        Array.fill(blocksize)(v)
      } else if (typ == 1) { // VERBATIM
        val s = new Array[Int](blocksize)
        var i = 0
        while (i < blocksize) { s(i) = br.readSigned(bpsE); i += 1 }
        s
      } else if (typ >= 8 && typ <= 12) { // FIXED order 0-4
        val order = typ - 8
        if (order > blocksize) throw Bad
        val warm = new Array[Int](order)
        var i = 0
        while (i < order) { warm(i) = br.readSigned(bpsE); i += 1 }
        fixedReconstruct(warm, readResidual(br, blocksize, order), order, blocksize)
      } else if (typ >= 32) { // LPC order 1-32
        val order = typ - 31
        if (order > blocksize) throw Bad
        val warm = new Array[Int](order)
        var i = 0
        while (i < order) { warm(i) = br.readSigned(bpsE); i += 1 }
        val prec = br.readBits(4)
        if (prec == 15) throw Bad
        val precision = prec + 1
        val shift = br.readSigned(5)
        if (shift < 0) throw Bad // RFC 9639 forbids negative shifts
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = br.readSigned(precision); i += 1 }
        val res = readResidual(br, blocksize, order)
        val s = new Array[Int](blocksize)
        System.arraycopy(warm, 0, s, 0, order)
        i = order
        while (i < blocksize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * s(i - 1 - j); j += 1 }
          val v = res(i - order).toLong + (acc >> shift)
          if (v < Int.MinValue || v > Int.MaxValue) throw Bad
          s(i) = v.toInt
          i += 1
        }
        s
      } else throw Bad // reserved subframe types
    if (wasted > 0) {
      var i = 0
      while (i < out.length) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  /** Decodes the full stream into per-channel PCM. Throws [[Bad]] on
    * any structural lie (`Bits.Malformed` on a read past the end) —
    * public wrappers map either to the -1 row. */
  private def decodePcm(b: Array[Byte]): (StreamInfo, Array[Array[Int]]) = {
    if (b.length < 42) throw Bad
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') throw Bad
    var pos = 4
    var last = false
    var si: StreamInfo = null
    var firstBlock = true
    while (!last) {
      if (pos + 4 > b.length) throw Bad
      val hdr = b(pos) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = u24be(b, pos + 1)
      if (typ == 127) throw Bad // forbidden block type
      if (pos + 4L + len > b.length) throw Bad // declared length is a lie
      if (firstBlock) {
        if (typ != 0 || len != 34) throw Bad // STREAMINFO must lead
        si = parseStreamInfo(b, pos + 4)
        firstBlock = false
      }
      pos += 4 + len
    }
    if (si == null) throw Bad
    if (si.channels < 1 || si.channels > MaxChannels) throw Bad
    if (si.bps < 4 || si.bps > 32) throw Bad
    if (si.totalSamples < 0 || si.totalSamples > MaxTotalSamples) throw Bad
    val chans = Array.fill(si.channels)(
      new scala.collection.mutable.ArrayBuilder.ofInt)
    val br = new MsbReader(b, pos)
    var total = 0L
    while (
      if (si.totalSamples > 0) total < si.totalSamples
      else br.bytePos < b.length
    ) {
      val frameStart = br.bytePos
      if (br.readBits(14) != 0x3ffe) throw Bad // sync
      if (br.readBit() != 0) throw Bad
      val variable = br.readBit() == 1
      val bsBits = br.readBits(4)
      val srBits = br.readBits(4)
      val chBits = br.readBits(4)
      val ssBits = br.readBits(3)
      if (br.readBit() != 0) throw Bad
      readCodedNumber(br, if (variable) 7 else 6) // ordinal (unused here)
      val blocksize = bsBits match {
        case 0 => throw Bad
        case 1 => 192
        case n if n >= 2 && n <= 5 => 576 << (n - 2)
        case 6 => br.readBits(8) + 1
        case 7 => br.readBits(16) + 1
        case n => 256 << (n - 8)
      }
      srBits match {
        case 12 => br.readBits(8)
        case 13 | 14 => br.readBits(16)
        case 15 => throw Bad
        case _ => ()
      }
      if (blocksize < 1 || blocksize > MaxBlock) throw Bad
      if (!br.atByteBoundary) throw Bad
      val wantCrc8 = crc8(b, frameStart, br.bytePos)
      if (br.readBits(8) != wantCrc8) throw Bad
      val mode = chBits
      val nch = if (mode <= 7) mode + 1 else if (mode <= 10) 2 else throw Bad
      if (nch != si.channels) throw Bad
      val bps = ssBits match {
        case 0 => si.bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => throw Bad
      }
      if (total + blocksize > MaxTotalSamples) throw Bad
      val sub = new Array[Array[Int]](nch)
      var c = 0
      while (c < nch) {
        val sideBump = mode match {
          case 8 => if (c == 1) 1 else 0 // left/side
          case 9 => if (c == 0) 1 else 0 // right/side
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        }
        sub(c) = decodeSubframe(br, blocksize, bps + sideBump)
        c += 1
      }
      br.alignByte()
      val wantCrc16 = crc16(b, frameStart, br.bytePos)
      if (br.readBits(16) != wantCrc16) throw Bad
      // stereo decorrelation
      mode match {
        case 8 => // ch0 = left, ch1 = side; right = left - side
          var i = 0
          while (i < blocksize) {
            val l = sub(0)(i); val r = l - sub(1)(i)
            chans(0) += l; chans(1) += r; i += 1
          }
        case 9 => // ch0 = side, ch1 = right; left = right + side
          var i = 0
          while (i < blocksize) {
            val r = sub(1)(i); val l = r + sub(0)(i)
            chans(0) += l; chans(1) += r; i += 1
          }
        case 10 => // ch0 = mid, ch1 = side
          var i = 0
          while (i < blocksize) {
            val side = sub(1)(i)
            val m2 = (sub(0)(i) << 1) | (side & 1)
            chans(0) += ((m2 + side) >> 1); chans(1) += ((m2 - side) >> 1)
            i += 1
          }
        case _ =>
          var c2 = 0
          while (c2 < nch) { chans(c2) ++= sub(c2); c2 += 1 }
      }
      total += blocksize
    }
    if (si.totalSamples > 0 && total != si.totalSamples) throw Bad
    (si, chans.map(_.result()))
  }

  /** Per-channel PCM, or null on any malformation (never a throw). */
  private[graft] def decodeFlacPcm(b: Array[Byte]): Array[Array[Int]] =
    try decodePcm(b)._2
    catch { case scala.util.control.NonFatal(_) => null }

  /** (channels, n_samples, sum_ch0, sum_ch1, sum_abs, wsum_ch0) —
    * wsum = Σ (i+1)·s₀[i], the geometry-sensitive checksum that
    * catches sample permutations a plain sum would miss. All-(-1) on
    * damage. */
  private[graft] def decodeFlacStats(
      b: Array[Byte]): (Int, Long, Long, Long, Long, Long) = {
    val pcm = decodeFlacPcm(b)
    if (pcm == null) return (-1, -1L, -1L, -1L, -1L, -1L)
    val n = pcm(0).length.toLong
    var sum0 = 0L; var sum1 = 0L; var sumAbs = 0L; var wsum = 0L
    var i = 0
    while (i < pcm(0).length) {
      val v = pcm(0)(i)
      sum0 += v
      sumAbs += math.abs(v.toLong)
      wsum += (i + 1L) * v
      i += 1
    }
    if (pcm.length > 1) {
      i = 0
      while (i < pcm(1).length) {
        val v = pcm(1)(i)
        sum1 += v
        sumAbs += math.abs(v.toLong)
        i += 1
      }
    }
    (pcm.length, n, sum0, sum1, sumAbs, wsum)
  }

  // ------------------------------------------------------------------
  // fixture encoder — exercises every decoder path; regime by k % 6
  // ------------------------------------------------------------------

  /** Deterministic PCM for fixture seed k, channel ch, sample i —
    * the analytic formula the DuckDB oracle replays (regime-split the
    * way [[Vp8l]]'s expected-pixel formula is):
    * v1 → per-stream constant; v4 → 14-bit base × 4 (wasted bits);
    * else the full-range sawtooth. */
  private[graft] def flacSample(k: Long, ch: Int, i: Int): Int =
    (k % 6) match {
      case 1 => (((k * 97) % 65536) - 32768).toInt
      case 4 => ((((37L * i + 4111L * ch + k) % 16384) - 8192) * 4).toInt
      case _ => (((37L * i + 4111L * ch + k) % 65536) - 32768).toInt
    }

  private[graft] def flacChannels(k: Long): Int =
    if (k % 6 == 1 || k % 6 == 3) 1 else 2

  private def utf8Coded(bw: MsbWriter, v: Long): Unit = {
    if (v < 0x80) { bw.writeBits(v, 8); return }
    var cont = 1
    while (v >= (1L << (6 * cont + (6 - cont))) && cont < 6) cont += 1
    // lead byte: cont+1 ones, a zero, then the top value bits
    val leadBits = 6 - cont
    val lead = ((0xff << (7 - cont)) & 0xff) |
      ((v >> (6 * cont)) & ((1 << leadBits) - 1)).toInt
    bw.writeBits(lead.toLong, 8)
    var j = cont - 1
    while (j >= 0) {
      bw.writeBits(0x80L | ((v >> (6 * j)) & 0x3f), 8)
      j -= 1
    }
  }

  /** Best rice parameter (0..14) or escape for one partition. */
  private def riceCost(vals: Array[Int], from: Int, until: Int, k: Int): Long = {
    var bits = 0L
    var i = from
    while (i < until) {
      val v = vals(i)
      val u = (v.toLong << 1) ^ (v.toLong >> 63)
      bits += (u >>> k) + 1 + k
      i += 1
    }
    bits
  }

  private def writeRicePartition(
      bw: MsbWriter, vals: Array[Int], from: Int, until: Int,
      pbits: Int, forceEscape: Boolean): Unit = {
    val escape = (1 << pbits) - 1
    var maxAbsBits = 1
    var i = from
    while (i < until) {
      val v = vals(i)
      val need = 33 - Integer.numberOfLeadingZeros(if (v < 0) ~v else v)
      if (need > maxAbsBits) maxAbsBits = need
      i += 1
    }
    val rawBits = math.min(maxAbsBits, 31)
    var bestK = 0
    var bestCost = Long.MaxValue
    var k = 0
    while (k <= escape - 1 && k <= 14) {
      val c = riceCost(vals, from, until, k)
      if (c < bestCost) { bestCost = c; bestK = k }
      k += 1
    }
    val escCost = 5L + rawBits.toLong * (until - from)
    if (forceEscape || escCost < bestCost) {
      bw.writeBits(escape.toLong, pbits)
      bw.writeBits(rawBits.toLong, 5)
      i = from
      while (i < until) {
        bw.writeBits(vals(i).toLong & ((1L << rawBits) - 1), rawBits)
        i += 1
      }
    } else {
      bw.writeBits(bestK.toLong, pbits)
      i = from
      while (i < until) {
        val v = vals(i)
        val u = (v.toLong << 1) ^ (v.toLong >> 63)
        writeUnary(bw, (u >>> bestK).toInt)
        if (bestK > 0) bw.writeBits(u & ((1L << bestK) - 1), bestK)
        i += 1
      }
    }
  }

  private def writeResidual(
      bw: MsbWriter, res: Array[Int], blocksize: Int, order: Int,
      method: Int, partOrder: Int, forceEscape: Boolean): Unit = {
    bw.writeBits(method.toLong, 2)
    bw.writeBits(partOrder.toLong, 4)
    val pbits = if (method == 0) 4 else 5
    val per = blocksize >> partOrder
    var part = 0
    var idx = 0
    while (part < (1 << partOrder)) {
      val count = per - (if (part == 0) order else 0)
      writeRicePartition(bw, res, idx, idx + count, pbits, forceEscape)
      idx += count
      part += 1
    }
  }

  private def fixedResidual(s: Array[Int], order: Int): Array[Int] = {
    val res = new Array[Int](s.length - order)
    var i = order
    while (i < s.length) {
      val v = order match {
        case 0 => s(i).toLong
        case 1 => s(i) - s(i - 1).toLong
        case 2 => s(i) - 2L * s(i - 1) + s(i - 2)
        case 3 => s(i) - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
        case 4 => s(i) - 4L * s(i - 1) + 6L * s(i - 2) - 4L * s(i - 3) + s(i - 4)
      }
      res(i - order) = v.toInt
      i += 1
    }
    res
  }

  private def writeSubframe(
      bw: MsbWriter, s: Array[Int], bps: Int, kind: String,
      order: Int, method: Int, partOrder: Int, wasted: Int,
      forceEscape: Boolean): Unit = {
    bw.writeBit(0)
    val typ = kind match {
      case "constant" => 0
      case "verbatim" => 1
      case "fixed" => 8 + order
      case "lpc" => 31 + order
    }
    bw.writeBits(typ.toLong, 6)
    if (wasted > 0) {
      bw.writeBit(1)
      var i = 0
      while (i < wasted - 1) { bw.writeBit(0); i += 1 }
      bw.writeBit(1)
    } else bw.writeBit(0)
    val bpsE = bps - wasted
    val sE = if (wasted > 0) s.map(_ >> wasted) else s
    def put(v: Int, n: Int): Unit = bw.writeBits(v.toLong & ((1L << n) - 1), n)
    kind match {
      case "constant" =>
        put(sE(0), bpsE)
      case "verbatim" =>
        sE.foreach(put(_, bpsE))
      case "fixed" =>
        var i = 0
        while (i < order) { put(sE(i), bpsE); i += 1 }
        writeResidual(bw, fixedResidual(sE, order), sE.length, order,
          method, partOrder, forceEscape)
      case "lpc" =>
        // order-N predictor with coefficients [2, -1, 0, ...] at
        // shift 1 — a gentle slope extrapolator; exactness is all that
        // matters, the decoder replays the identical integer math
        val coefs = Array.tabulate(order)(j =>
          if (j == 0) 2 else if (j == 1) -1 else 0)
        val shift = 1
        val precision = 4
        var i = 0
        while (i < order) { put(sE(i), bpsE); i += 1 }
        bw.writeBits((precision - 1).toLong, 4)
        bw.writeBits(shift.toLong, 5)
        coefs.foreach(c => bw.writeBits(c.toLong & 0xf, precision))
        val res = new Array[Int](sE.length - order)
        i = order
        while (i < sE.length) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * sE(i - 1 - j); j += 1 }
          res(i - order) = (sE(i) - (acc >> shift)).toInt
          i += 1
        }
        writeResidual(bw, res, sE.length, order, method, partOrder, forceEscape)
    }
  }

  /** Encode one frame; returns its bytes (header CRC-8 + frame CRC-16
    * computed over the assembled bytes, the spec's layering). */
  private def encodeFrame(
      frameIdx: Int, firstSample: Long, blocksize: Int,
      chans: Array[Array[Int]], bps: Int, regime: Int): Array[Byte] = {
    val bw = new MsbWriter()
    val variable = regime == 2
    bw.writeBits(0x3ffeL, 14)
    bw.writeBit(0)
    bw.writeBit(if (variable) 1 else 0)
    // block size: uncommon 8-bit for <= 256, else uncommon 16-bit —
    // regime 5 always takes the 16-bit path to pin that parse
    val bsBits = if (regime == 5 || blocksize > 256) 7 else 6
    bw.writeBits(bsBits.toLong, 4)
    // sample rate: regime 1 → streaminfo (0); regime 3 → 8-bit kHz
    // (12); else 8 kHz direct (4)
    val srBits = regime match { case 1 => 0; case 3 => 12; case _ => 4 }
    bw.writeBits(srBits.toLong, 4)
    val mode = regime match {
      case 2 => 10 // mid/side
      case 4 => 8 // left/side
      case 5 => 9 // right/side
      case 1 | 3 | 6 => 0 // mono
      case _ => 1 // stereo, independent
    }
    bw.writeBits(mode.toLong, 4)
    // sample size: regime 1 → streaminfo (0), else 16-bit (4)
    bw.writeBits(if (regime == 1) 0L else 4L, 3)
    bw.writeBit(0)
    utf8Coded(bw, if (variable) firstSample else frameIdx.toLong)
    if (bsBits == 6) bw.writeBits((blocksize - 1).toLong, 8)
    else bw.writeBits((blocksize - 1).toLong, 16)
    if (srBits == 12) bw.writeBits(8L, 8) // 8 kHz
    val headerBytes = bw.bytesSoFar
    bw.writeBits(crc8(headerBytes, 0, headerBytes.length).toLong, 8)
    // subframes — kind per regime (and per frame parity, to widen
    // coverage inside one stream)
    val nch = chans.length
    var c = 0
    while (c < nch) {
      val sideBump = mode match {
        case 8 => if (c == 1) 1 else 0
        case 9 => if (c == 0) 1 else 0
        case 10 => if (c == 1) 1 else 0
        case _ => 0
      }
      val s = chans(c)
      // a short tail frame can't carry a high-order predictor or an
      // uneven partition split — constant streams stay constant, the
      // wasted-bits regime keeps its shift, everything else goes
      // verbatim (all decoder paths are exercised by the full frames)
      val tail = s.length < 16 // any last-frame remainder (block >= 16)
      regime match {
        case _ if tail && regime == 1 =>
          writeSubframe(bw, s, bps + sideBump, "constant", 0, 0, 0, 0, false)
        case _ if tail && regime == 4 =>
          writeSubframe(bw, s, bps + sideBump, "verbatim", 0, 0, 0,
            wasted = 2, forceEscape = false)
        case _ if tail =>
          writeSubframe(bw, s, bps + sideBump, "verbatim", 0, 0, 0, 0, false)
        case 0 =>
          val order = if (frameIdx % 2 == 0) 2 else 4
          writeSubframe(bw, s, bps + sideBump, "fixed", order,
            method = 0, partOrder = 1, wasted = 0, forceEscape = false)
        case 1 =>
          writeSubframe(bw, s, bps + sideBump, "constant", 0, 0, 0, 0, false)
        case 2 =>
          val order = if (frameIdx % 2 == 0) 2 else 4
          writeSubframe(bw, s, bps + sideBump, "lpc", order,
            method = 1, partOrder = 0, wasted = 0, forceEscape = false)
        case 3 =>
          if (frameIdx % 2 == 0)
            writeSubframe(bw, s, bps + sideBump, "verbatim", 0, 0, 0, 0, false)
          else
            writeSubframe(bw, s, bps + sideBump, "fixed", 0,
              method = 0, partOrder = 0, wasted = 0, forceEscape = true)
        case 4 =>
          writeSubframe(bw, s, bps + sideBump, "fixed", 1,
            method = 0, partOrder = 0, wasted = 2, forceEscape = false)
        case 6 => // scene fixtures: mono, plain fixed order 2
          writeSubframe(bw, s, bps + sideBump, "fixed", 2,
            method = 0, partOrder = 0, wasted = 0, forceEscape = false)
        case _ =>
          writeSubframe(bw, s, bps + sideBump, "fixed", 3,
            method = 0, partOrder = 0, wasted = 0, forceEscape = false)
      }
      c += 1
    }
    bw.alignZero()
    val body = bw.bytesSoFar
    bw.writeBits(crc16(body, 0, body.length).toLong, 16)
    bw.toBytes
  }

  /** Complete FLAC file for fixture seed k with n samples per channel.
    * Regime k%6 picks subframe kind / stereo mode / residual coding /
    * header-field variants (see [[flacSample]] for the PCM). */
  private[graft] def encodeFlac(k: Long, n: Int): Array[Byte] = {
    require(n >= 8 && n <= MaxTotalSamples)
    val regime = (k % 6).toInt
    val nch = flacChannels(k)
    val bps = 16
    val block = if (regime == 5) 18 else 16
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO (last metadata block except regime 3, which appends a
    // PADDING block to exercise the metadata walk)
    val lastFlag = if (regime == 3) 0x00 else 0x80
    out.write(lastFlag); out.write(0); out.write(0); out.write(34)
    val lastBlock = if (n % block == 0) block else n % block
    put16be(out, math.min(block, lastBlock)); put16be(out, block)
    out.write(new Array[Byte](6)) // min/max frame size 0 = unknown
    val rate = 8000
    put16be(out, rate >> 4)
    out.write(((rate & 0xf) << 4) | ((nch - 1) << 1) | ((bps - 1) >> 4))
    out.write(((((bps - 1) & 0xf) << 4) | ((n.toLong >> 32) & 0xf)).toInt)
    put32be(out, n)
    out.write(new Array[Byte](16)) // MD5 zeros = unknown
    if (regime == 3) { // PADDING block, marked last
      out.write(0x81); out.write(0); out.write(0); out.write(4)
      out.write(Array[Byte](0, 0, 0, 0))
    }
    // frames, with stereo decorrelation applied encode-side
    var first = 0
    var frameIdx = 0
    while (first < n) {
      val bsz = math.min(block, n - first)
      val raw = Array.tabulate(nch, bsz)((c, i) => flacSample(k, c, first + i))
      val chans: Array[Array[Int]] = regime match {
        case 2 => // mid/side
          val mid = Array.tabulate(bsz)(i => (raw(0)(i) + raw(1)(i)) >> 1)
          val side = Array.tabulate(bsz)(i => raw(0)(i) - raw(1)(i))
          Array(mid, side)
        case 4 => // left/side
          Array(raw(0), Array.tabulate(bsz)(i => raw(0)(i) - raw(1)(i)))
        case 5 => // right/side: ch0 = side, ch1 = right
          Array(Array.tabulate(bsz)(i => raw(0)(i) - raw(1)(i)), raw(1))
        case _ => raw.map(identity)
      }
      out.write(encodeFrame(frameIdx, first.toLong, bsz, chans, bps, regime))
      first += bsz
      frameIdx += 1
    }
    out.toByteArray
  }

  /** Mono 16-bit FLAC for ARBITRARY PCM (fixed order-2 predictor) —
    * the cross-format fixture leg: any samples a WAV fixture can
    * carry, a real FLAC can too (the [[Vp8l.encodeWebpArgb]]
    * counterpart). */
  private[graft] def encodeFlacPcmMono(pcm: Array[Int]): Array[Byte] = {
    val n = pcm.length
    require(n >= 16 && n <= MaxTotalSamples)
    val block = 16
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    val lastBlock = if (n % block == 0) block else n % block
    si(0) = 0; si(1) = math.min(block, lastBlock).toByte
    si(2) = 0; si(3) = block.toByte
    val rate = 8000
    si(10) = (rate >> 12).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | ((16 - 1) >> 4)).toByte // mono, 16-bit
    si(13) = (((16 - 1) & 0xf) << 4).toByte
    si(14) = ((n >> 24) & 0xff).toByte
    si(15) = ((n >> 16) & 0xff).toByte
    si(16) = ((n >> 8) & 0xff).toByte
    si(17) = (n & 0xff).toByte
    out.write(si)
    var first = 0
    var frameIdx = 0
    while (first < n) {
      val bsz = math.min(block, n - first)
      val chunk = java.util.Arrays.copyOfRange(pcm, first, first + bsz)
      out.write(encodeFrame(frameIdx, first.toLong, bsz, Array(chunk),
        bps = 16, regime = 6))
      first += bsz
      frameIdx += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** Fixture-synthesis column: FLAC bytes for (doc seed, n samples). */
  def packFlac(id: Column, nSamples: Column): Column = {
    val enc = udf((k: Long, n: Int) => encodeFlac(k % 251, n))
    enc(id, nSamples)
  }

  /** Fixture-synthesis column for m25: the jittered audio-scene PCM
    * ([[Multimodal.audioScenePcm]]) as a real FLAC file. */
  def packFlacScene(scene: Column, id: Column, nSamples: Column): Column = {
    val enc = udf((sc: Long, kk: Long, n: Int) =>
      encodeFlacPcmMono(Multimodal.audioScenePcm(sc, kk, n)))
    enc(scene, id, nSamples)
  }

  /** Mono FLAC with a VORBIS_COMMENT metadata block (RFC 9639 §8.6 —
    * the tag vocabulary FLAC borrowed from Ogg Vorbis, hence the
    * LITTLE-endian lengths inside an otherwise big-endian container):
    * STREAMINFO, then the comment block marked last, then frames. */
  private[graft] def encodeFlacTagged(
      pcm: Array[Int], vendor: String, tags: Seq[(String, String)]): Array[Byte] = {
    val plain = encodeFlacPcmMono(pcm)
    // splice: keep "fLaC" + STREAMINFO (unset its last flag), insert
    // the VORBIS_COMMENT block as the new last metadata block
    val out = new java.io.ByteArrayOutputStream()
    out.write(plain, 0, 4)
    out.write(plain(4) & 0x7f) // STREAMINFO, no longer last
    out.write(plain, 5, 3 + 34)
    val vc = new java.io.ByteArrayOutputStream()
    val vb = vendor.getBytes("UTF-8")
    put32le(vc, vb.length); vc.write(vb)
    put32le(vc, tags.length)
    tags.foreach { case (k, v) =>
      val c = s"$k=$v".getBytes("UTF-8")
      put32le(vc, c.length); vc.write(c)
    }
    val payload = vc.toByteArray
    out.write(0x80 | 4) // VORBIS_COMMENT, last
    out.write((payload.length >> 16) & 0xff)
    out.write((payload.length >> 8) & 0xff)
    out.write(payload.length & 0xff)
    out.write(payload)
    out.write(plain, 4 + 4 + 34, plain.length - (4 + 4 + 34))
    out.toByteArray
  }

  /** (vendor, tags) parsed from the VORBIS_COMMENT block, or null on
    * any structural lie (declared lengths are untrusted). Walks the
    * metadata chain only — frames are not decoded, so tag extraction
    * over a 100 TB corpus reads a few hundred header bytes per file. */
  private[graft] def flacTags(
      b: Array[Byte]): (String, Seq[(String, String)]) = {
    try {
      if (b.length < 42) return null
      if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return null
      var pos = 4
      var last = false
      var first = true
      while (!last) {
        if (pos + 4 > b.length) return null
        val hdr = b(pos) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = u24be(b, pos + 1)
        if (typ == 127) return null
        if (first && typ != 0) return null
        first = false
        if (pos + 4L + len > b.length) return null
        if (typ == 4) {
          val off = pos + 4
          var p = off
          def le32(): Int = if (p + 4 > off + len) -1 else { p += 4; i32le(b, p - 4) }
          val vl = le32()
          if (vl < 0 || p + vl.toLong > off + len) return null
          val vendor = new String(b, p, vl, "UTF-8")
          p += vl
          val n = le32()
          if (n < 0 || n > 4096) return null // tag-count budget
          val tags = Seq.newBuilder[(String, String)]
          var i = 0
          while (i < n) {
            val cl = le32()
            if (cl < 0 || p + cl.toLong > off + len) return null
            val c = new String(b, p, cl, "UTF-8")
            p += cl
            val eq = c.indexOf('=')
            if (eq < 1) return null
            tags += ((c.substring(0, eq).toUpperCase, c.substring(eq + 1)))
            i += 1
          }
          return (vendor, tags.result())
        }
        pos += 4 + len
      }
      ("", Seq.empty) // well-formed stream, no comment block
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Fixture-synthesis column for m27: tagged FLAC bytes. */
  def packFlacTagged(id: Column, nSamples: Column,
      lang: Column, nChars: Column): Column = {
    val enc = udf((k: Long, n: Int, lg: String, nc: Long) =>
      encodeFlacTagged(
        Array.tabulate(n)(i => Multimodal.testSample(k % 251, i)),
        "graft flac fixture",
        Seq("TITLE" -> s"doc $k", "LANGUAGE" -> lg, "NCHARS" -> nc.toString)))
    enc(id, nSamples, lang, nChars)
  }

  /** Per-row tag extraction → (id, vendor, title, language, nchars);
    * metadata-only reads, corpus-linear, shuffle-free. */
  def decodeFlacTagStats(df: DataFrame, id: String, media: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("vendor", StringType, nullable = true),
      StructField("title", StringType, nullable = true),
      StructField("language", StringType, nullable = true),
      StructField("nchars_tag", LongType, nullable = false)))
    Seam.rows(df, id, media, schema) { b =>
      val parsed = flacTags(b)
      if (parsed == null) Row(null, null, null, -1L)
      else {
        val m = parsed._2.toMap
        Row(parsed._1, m.getOrElse("TITLE", null),
          m.getOrElse("LANGUAGE", null),
          m.get("NCHARS").flatMap(_.toLongOption).getOrElse(-1L))
      }
    }
  }

  /** Fixture-synthesis column for m26: the [[Multimodal.testSample]]
    * waveform (the m10 WAV fixture's) as a real FLAC file — so the WAV
    * and FLAC legs of a mixed corpus carry ONE analytic formula. */
  def packFlacPcm16(id: Column, nSamples: Column): Column = {
    val enc = udf((k: Long, n: Int) =>
      encodeFlacPcmMono(
        Array.tabulate(n)(i => Multimodal.testSample(k % 251, i))))
    enc(id, nSamples)
  }

  private val statsSchema = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_ch0", LongType, nullable = false),
    StructField("sum_ch1", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("wsum_ch0", LongType, nullable = false),
  ))

  /** Per-row FLAC decode → PCM stats; corpus-linear, shuffle-free. */
  def decodeFlacPcmStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, statsSchema) { b =>
      val (ch, n, s0, s1, sa, ws) = decodeFlacStats(b)
      Row(ch, n, s0, s1, sa, ws)
    }
}
