package graft.ops

import graft.core.Bits.{LsbReader, LsbWriter, PrefixCode}
import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WebP-lossless (VP8L) codec: a REAL spec-derived decoder plus a
  * fixture encoder, for the m21 oracle gate.
  *
  * VP8L is the deterministic half of WebP — canonical prefix codes,
  * LZ77 over pixels, a color cache, and four reversible transforms
  * (predictor, color, subtract-green, color-indexing) — so unlike lossy
  * VP8/JPEG it sits squarely inside the hash-oracle regime: decode is
  * bit-exact by construction. Everything here is derived from the
  * published WebP lossless bitstream specification (RFC 9649); the
  * reference crawler records `image/webp` fetches but ships no decoder
  * at all (mapred/ec2/parser/ParserMapper.java:941-1101 stores
  * mime+content verbatim), so this file has no analog to port.
  *
  * Decoder hardening follows the house rules for untrusted bytes
  * ([[Multimodal.decodePngStats]]): every allocation is bounded BEFORE
  * trusting a declared field (pixel budget, palette <= 256, cache bits
  * <= 11, meta-group cap), every backward reference is range-checked,
  * and malformed input returns the all-(-1) stats tuple — never a
  * throw, because at corpus scale malformed bytes are data.
  */
object Vp8l {

  /** Same byte budget as every decoder in [[Multimodal]]; the ARGB
    * canvas is an Int buffer, so pixels are bounded to a quarter of it. */
  private val MaxPixels: Long = (1L << 26) / 4

  /** Defensive cap on meta-prefix groups: each group allocates five
    * prefix-code tables, so an adversarial entropy image must not be
    * able to size that allocation (real encoders emit a handful). */
  private val MaxMetaGroups = 4096

  /** Thrown (stacklessly) on any malformed structure; callers map it to
    * the bad tuple. Private to this object — never escapes. */
  private object Bad
    extends RuntimeException("malformed vp8l", null, false, false)

  // ------------------------------------------------------------------
  // canonical prefix codes (bits LSB-first, codewords from the root)
  // ------------------------------------------------------------------

  /** The canonical code for per-symbol lengths; over- or
    * under-subscribed trees are malformed per spec (Kraft equality). */
  private[graft] def buildCode(lengths: Array[Int]): PrefixCode = {
    val code = PrefixCode(lengths)
    if (!code.complete) throw Bad
    code
  }

  /** The simple two-symbol code: code 0 goes to the first-read symbol,
    * not the smaller one. */
  private def twoSymbolCode(s0: Int, s1: Int): PrefixCode = {
    val count = new Array[Int](16)
    count(1) = 2
    new PrefixCode(count, Array(s0, s1))
  }

  /** Order in which the code-length code's own lengths are stored. */
  private val ClOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  /** Reads one prefix code (simple or normal form) for `alphabet`. */
  private def readPrefixCode(br: LsbReader, alphabet: Int): PrefixCode = {
    if (br.readBit() == 1) { // simple
      val numSymbols = br.readBit() + 1
      val s0 =
        if (br.readBit() == 1) br.readBits(8) else br.readBit()
      if (s0 >= alphabet) throw Bad
      if (numSymbols == 1) return PrefixCode.single(s0)
      val s1 = br.readBits(8)
      if (s1 >= alphabet || s1 == s0) throw Bad
      twoSymbolCode(s0, s1)
    } else { // normal: code-length code, then RLE-coded symbol lengths
      val numCl = 4 + br.readBits(4)
      val clLens = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLens(ClOrder(i)) = br.readBits(3); i += 1 }
      val clCode = buildCode(clLens)
      var maxSymbol = alphabet
      if (br.readBit() == 1) {
        val lenNBits = 2 + 2 * br.readBits(3)
        maxSymbol = 2 + br.readBits(lenNBits)
        if (maxSymbol > alphabet) throw Bad
      }
      val lens = new Array[Int](alphabet)
      var sym = 0
      var prev = 8 // spec default when a 16-repeat precedes any literal
      while (sym < alphabet && maxSymbol > 0) {
        maxSymbol -= 1
        val s = clCode.read(br)
        if (s < 16) {
          lens(sym) = s; sym += 1
          if (s != 0) prev = s
        } else {
          val (repeat, v) = s match {
            case 16 => (3 + br.readBits(2), prev)
            case 17 => (3 + br.readBits(3), 0)
            case 18 => (11 + br.readBits(7), 0)
            case _  => throw Bad
          }
          if (sym + repeat > alphabet) throw Bad
          var j = 0
          while (j < repeat) { lens(sym) = v; sym += 1; j += 1 }
        }
      }
      buildCode(lens)
    }
  }

  // ------------------------------------------------------------------
  // LZ77 value coding and the 2D distance map
  // ------------------------------------------------------------------

  /** Length/distance prefix value: codes 0-3 are the values 1-4; above
    * that, (code-2)>>1 extra bits on an offset of (2+(code&1))<<eb. */
  private def lz77Value(prefix: Int, br: LsbReader): Int =
    if (prefix < 4) prefix + 1
    else {
      val eb = (prefix - 2) >> 1
      val off = (2 + (prefix & 1)) << eb
      off + br.readBits(eb) + 1
    }

  /** Inverse of [[lz77Value]] for the encoder: value → (prefix,
    * extra-bit count, extra-bit value). */
  private[graft] def lz77Prefix(v: Int): (Int, Int, Int) = {
    require(v >= 1)
    if (v <= 4) return (v - 1, 0, 0)
    var p = 4
    while (p < 40) {
      val eb = (p - 2) >> 1
      val off = (2 + (p & 1)) << eb
      if (v <= off + (1 << eb)) return (p, eb, v - off - 1)
      p += 1
    }
    throw new IllegalArgumentException(s"lz77 value out of range: $v")
  }

  /** Distance codes 1-120 map to close 2D offsets (dx counted leftward,
    * dy upward). The table is the fixed spec list; it is exactly the
    * set {(dx,0): 1<=dx<=8} ∪ {(dx,dy): -7<=dx<=8, 1<=dy<=7} sorted by
    * squared euclidean distance, larger dy first on ties, then positive
    * dx before negative — 120 entries. */
  private[graft] val DistanceMap: Array[(Int, Int)] = {
    val cands =
      (for (dx <- 1 to 8) yield (dx, 0)) ++
        (for (dy <- 1 to 7; dx <- -7 to 8) yield (dx, dy))
    cands.sortBy { case (dx, dy) =>
      (dx * dx + dy * dy, -dy, if (dx < 0) 1 else 0)
    }.toArray
  }

  private def planeToDistance(code: Int, xsize: Int): Int = {
    if (code < 1) throw Bad
    if (code > 120) code - 120
    else {
      val (dx, dy) = DistanceMap(code - 1)
      val d = dy * xsize + dx
      if (d < 1) 1 else d
    }
  }

  /** The color-cache slot of a pixel (spec's multiplicative hash). */
  private def cacheHash(argb: Int, bits: Int): Int =
    (0x1e35a7bd * argb) >>> (32 - bits)

  private def subSample(size: Int, bits: Int): Int =
    (size + (1 << bits) - 1) >> bits

  // ------------------------------------------------------------------
  // pixel-channel helpers (per-channel mod-256 arithmetic on packed ARGB)
  // ------------------------------------------------------------------

  @inline private def A(p: Int) = p >>> 24
  @inline private def R(p: Int) = (p >> 16) & 0xff
  @inline private def G(p: Int) = (p >> 8) & 0xff
  @inline private def B(p: Int) = p & 0xff
  @inline private def pack(a: Int, r: Int, g: Int, b: Int): Int =
    ((a & 0xff) << 24) | ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)

  private def addPixels(p: Int, q: Int): Int =
    pack(A(p) + A(q), R(p) + R(q), G(p) + G(q), B(p) + B(q))

  private def avg2(p: Int, q: Int): Int =
    pack((A(p) + A(q)) >> 1, (R(p) + R(q)) >> 1,
      (G(p) + G(q)) >> 1, (B(p) + B(q)) >> 1)

  private def select(l: Int, t: Int, tl: Int): Int = {
    // predict = L + T - TL per channel; pick whichever of L/T is
    // closer in L1 distance. Ties go to T: libwebp's Select(top, left,
    // top_left) computes pa_minus_pb = |T-pred| - |L-pred| summed per
    // channel and returns `pa_minus_pb <= 0 ? top : left`, so pL == pT
    // yields TOP (RFC 9649 as amended to match the reference decoder).
    val pa = A(l) + A(t) - A(tl)
    val pr = R(l) + R(t) - R(tl)
    val pg = G(l) + G(t) - G(tl)
    val pb = B(l) + B(t) - B(tl)
    val pL = math.abs(pa - A(l)) + math.abs(pr - R(l)) +
      math.abs(pg - G(l)) + math.abs(pb - B(l))
    val pT = math.abs(pa - A(t)) + math.abs(pr - R(t)) +
      math.abs(pg - G(t)) + math.abs(pb - B(t))
    if (pL < pT) l else t
  }

  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int =
    pack(clip255(A(l) + A(t) - A(tl)), clip255(R(l) + R(t) - R(tl)),
      clip255(G(l) + G(t) - G(tl)), clip255(B(l) + B(t) - B(tl)))

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val av = avg2(l, t)
    // per channel: clamp(ave + (ave - TL) / 2); / truncates toward 0
    @inline def ch(a: Int, c: Int) = clip255(a + (a - c) / 2)
    pack(ch(A(av), A(tl)), ch(R(av), R(tl)), ch(G(av), G(tl)), ch(B(av), B(tl)))
  }

  /** Predictor value for pixel (x, y) of a buffer being reconstructed
    * in scan order. Shared verbatim by the encoder (forward residual)
    * and decoder (inverse), so the two sides cannot drift; the edge
    * rules are the spec's: (0,0) predicts opaque black, the top row
    * predicts L, the left column predicts T, and TR of the rightmost
    * column is the current row's first (already-decoded) pixel. */
  private[graft] def predict(
      buf: Array[Int], w: Int, x: Int, y: Int, mode: Int): Int = {
    val pos = y * w + x
    if (x == 0 && y == 0) return 0xff000000
    if (y == 0) return buf(pos - 1)
    if (x == 0) return buf(pos - w)
    val l = buf(pos - 1)
    val t = buf(pos - w)
    val tl = buf(pos - w - 1)
    val tr = if (x + 1 < w) buf(pos - w + 1) else buf(y * w)
    mode match {
      case 0  => 0xff000000
      case 1  => l
      case 2  => t
      case 3  => tr
      case 4  => tl
      case 5  => avg2(avg2(l, tr), t)
      case 6  => avg2(l, tl)
      case 7  => avg2(l, t)
      case 8  => avg2(tl, t)
      case 9  => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(l, t, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case 13 => clampAddSubtractHalf(l, t, tl)
      case _  => throw Bad
    }
  }

  /** Color-transform delta: both the transform element and the channel
    * value are interpreted as SIGNED bytes (RFC 9649 §4.3). */
  @inline private def ctDelta(t: Int, c: Int): Int =
    (t.toByte * c.toByte) >> 5

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  private sealed trait Transform
  private final case class PredictorT(bits: Int, tw: Int, tiles: Array[Int])
    extends Transform
  private final case class ColorT(bits: Int, tw: Int, tiles: Array[Int])
    extends Transform
  private case object SubGreenT extends Transform
  private final case class PaletteT(palette: Array[Int], origW: Int, bits: Int)
    extends Transform

  /** Decodes one spatially-coded image: color-cache info, optional
    * meta-prefix (level 0 only), prefix-code groups, then the
    * literal/backref/cache-ref pixel stream. */
  private def readSpatialImage(
      br: LsbReader, w: Int, h: Int, level0: Boolean): Array[Int] = {
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) throw Bad
    val cacheBits = if (br.readBit() == 1) br.readBits(4) else 0
    if (cacheBits < 0 || cacheBits > 11) throw Bad
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0

    var metaTiles: Array[Int] = null
    var metaBits = 0
    var metaW = 0
    var numGroups = 1
    if (level0 && br.readBit() == 1) {
      metaBits = br.readBits(3) + 2
      metaW = subSample(w, metaBits)
      metaTiles = readSpatialImage(br, metaW, subSample(h, metaBits), false)
      var i = 0
      while (i < metaTiles.length) {
        val idx = ((metaTiles(i) >> 8) & 0xffff) + 1
        if (idx > numGroups) numGroups = idx
        i += 1
      }
      if (numGroups > MaxMetaGroups) throw Bad
    }

    val alphabets =
      Array(256 + 24 + cacheSize, 256, 256, 256, 40)
    val groups = Array.fill(numGroups) {
      alphabets.map(a => readPrefixCode(br, a))
    }

    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    @inline def insert(px: Int): Unit =
      if (cache != null) cache(cacheHash(px, cacheBits)) = px

    val n = w * h
    val out = new Array[Int](n)
    var pos = 0
    while (pos < n) {
      val g =
        if (metaTiles == null) groups(0)
        else {
          val tx = (pos % w) >> metaBits
          val ty = (pos / w) >> metaBits
          val idx = (metaTiles(ty * metaW + tx) >> 8) & 0xffff
          if (idx >= numGroups) throw Bad
          groups(idx)
        }
      val s = g(0).read(br)
      if (s < 256) {
        val r = g(1).read(br)
        val b = g(2).read(br)
        val a = g(3).read(br)
        val px = pack(a, r, s, b)
        out(pos) = px; insert(px); pos += 1
      } else if (s < 280) {
        val len = lz77Value(s - 256, br)
        val distCode = lz77Value(g(4).read(br), br)
        val dist = planeToDistance(distCode, w)
        if (dist > pos || len > n - pos) throw Bad
        var i = 0
        while (i < len) {
          val px = out(pos - dist)
          out(pos) = px; insert(px); pos += 1; i += 1
        }
      } else {
        val idx = s - 280
        if (cache == null || idx >= cacheSize) throw Bad
        out(pos) = cache(idx); pos += 1
      }
    }
    out
  }

  /** Entropy-coded sub-image (transform tiles, palette, meta image). */
  private def readEntropyImage(br: LsbReader, w: Int, h: Int): Array[Int] =
    readSpatialImage(br, w, h, level0 = false)

  /** Full VP8L payload decode (after the 0x2f signature byte) →
    * (width, height, ARGB scan-order buffer). */
  private[graft] def decodeVp8lPayload(
      b: Array[Byte], off: Int): (Int, Int, Array[Int]) = {
    val br = new LsbReader(b, off)
    val w = br.readBits(14) + 1
    val h = br.readBits(14) + 1
    br.readBit() // alpha-is-used hint (advisory)
    if (br.readBits(3) != 0) throw Bad // version must be 0
    if (w.toLong * h > MaxPixels) throw Bad

    var curW = w
    val transforms = scala.collection.mutable.ListBuffer.empty[Transform]
    val seen = new Array[Boolean](4)
    while (br.readBit() == 1) {
      val t = br.readBits(2)
      if (seen(t)) throw Bad // each transform may appear at most once
      seen(t) = true
      t match {
        case 0 =>
          val bits = br.readBits(3) + 2
          val tw = subSample(curW, bits)
          transforms += PredictorT(bits, tw,
            readEntropyImage(br, tw, subSample(h, bits)))
        case 1 =>
          val bits = br.readBits(3) + 2
          val tw = subSample(curW, bits)
          transforms += ColorT(bits, tw,
            readEntropyImage(br, tw, subSample(h, bits)))
        case 2 =>
          transforms += SubGreenT
        case 3 =>
          val n = br.readBits(8) + 1
          val raw = readEntropyImage(br, n, 1)
          // palette entries are delta-coded against the previous entry
          val pal = new Array[Int](n)
          var i = 0
          var prev = 0
          while (i < n) {
            prev = if (i == 0) raw(0) else addPixels(prev, raw(i))
            pal(i) = prev
            i += 1
          }
          val pbits =
            if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0
          transforms += PaletteT(pal, curW, pbits)
          curW = subSample(curW, pbits)
      }
    }

    var buf = readSpatialImage(br, curW, h, level0 = true)
    var bw = curW
    transforms.reverse.foreach {
      case PaletteT(pal, origW, pbits) =>
        val outB = new Array[Int](origW * h)
        if (pbits == 0) {
          var i = 0
          while (i < outB.length) {
            val idx = G(buf(i))
            outB(i) = if (idx < pal.length) pal(idx) else 0
            i += 1
          }
        } else {
          val perByte = 1 << pbits // pixels packed per green byte
          val ibits = 8 >> pbits   // bits per index
          val mask = (1 << ibits) - 1
          var y = 0
          while (y < h) {
            var x = 0
            while (x < origW) {
              val packed = G(buf(y * bw + (x >> pbits)))
              val idx = (packed >> (ibits * (x & (perByte - 1)))) & mask
              outB(y * origW + x) = if (idx < pal.length) pal(idx) else 0
              x += 1
            }
            y += 1
          }
        }
        buf = outB; bw = origW
      case SubGreenT =>
        var i = 0
        while (i < buf.length) {
          val p = buf(i)
          buf(i) = pack(A(p), R(p) + G(p), G(p), B(p) + G(p))
          i += 1
        }
      case ColorT(bits, tw, tiles) =>
        var y = 0
        while (y < h) {
          var x = 0
          while (x < bw) {
            val cte = tiles((y >> bits) * tw + (x >> bits))
            val g2r = B(cte); val g2b = G(cte); val r2b = R(cte)
            val p = buf(y * bw + x)
            val r = (R(p) + ctDelta(g2r, G(p))) & 0xff
            var bb = (B(p) + ctDelta(g2b, G(p))) & 0xff
            bb = (bb + ctDelta(r2b, r)) & 0xff
            buf(y * bw + x) = pack(A(p), r, G(p), bb)
            x += 1
          }
          y += 1
        }
      case PredictorT(bits, tw, tiles) =>
        var y = 0
        while (y < h) {
          var x = 0
          while (x < bw) {
            val mode = G(tiles((y >> bits) * tw + (x >> bits)))
            if (mode > 13) throw Bad
            val pos = y * bw + x
            buf(pos) = addPixels(buf(pos), predict(buf, bw, x, y, mode))
            x += 1
          }
          y += 1
        }
    }
    if (bw != w) throw Bad
    (w, h, buf)
  }

  /** Offset of the first chunk tagged `tag` (its 8-byte header) in a
    * RIFF/WEBP file of at least 20 bytes; -1 when the file is shorter or
    * not RIFF/WEBP, has no such chunk, or a chunk size before it overruns
    * the file. The found chunk's declared size (`u32le(b, at + 4)`) fits
    * the file. */
  private[graft] def webpChunk(b: Array[Byte], tag: String): Int = {
    if (b.length < 20 || fourCC(b, 0) != "RIFF" || fourCC(b, 8) != "WEBP") return -1
    var pos = 12
    while (pos + 8 <= b.length) {
      val sz = u32le(b, pos + 4)
      if (sz > b.length - pos - 8) return -1
      if (fourCC(b, pos) == tag) return pos
      pos += 8 + sz.toInt + (sz.toInt & 1)
    }
    -1
  }

  /** Offset of the VP8L bitstream behind its 0x2f signature, or -1. */
  private def vp8lPayload(b: Array[Byte]): Int = {
    val at = webpChunk(b, "VP8L")
    if (at < 0 || u32le(b, at + 4) < 5 || u8(b, at + 8) != 0x2f) -1 else at + 9
  }

  /** RIFF walk + payload decode → Some((w, h, argb)) or None on any
    * malformation — the pixel surface the cross-format dHash consumes. */
  private[graft] def decodeWebpArgbOpt(
      b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val payloadOff = vp8lPayload(b)
      if (payloadOff < 0) None
      else Some(decodeVp8lPayload(b, payloadOff))
    } catch {
      case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => None
    }

  /** RIFF walk to the VP8L chunk → pixel decode → the house stats
    * tuple (width, height, sum_r, sum_g, sum_b, even_sum); malformed
    * input → all -1, never a throw. */
  private[graft] def decodeWebpStats(
      b: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      val payloadOff = vp8lPayload(b)
      if (payloadOff < 0) return bad
      val (w, h, argb) = decodeVp8lPayload(b, payloadOff)
      var sr = 0L; var sg = 0L; var sb = 0L; var es = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = argb(y * w + x)
          sr += R(p); sg += G(p); sb += B(p)
          if ((x & 1) == 0 && (y & 1) == 0) es += R(p) + G(p) + B(p)
          x += 1
        }
        y += 1
      }
      (w, h, sr, sg, sb, es)
    } catch {
      case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => bad
    }
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** Write-side prefix code: per-symbol (length, canonical code);
    * `zeroBit` marks the degenerate single-symbol code (zero bits per
    * emitted symbol, mirroring the decoder's 0-bit read). */
  private final class WCode(
      val lens: Array[Int], val codes: Array[Int], val zeroBit: Boolean) {
    def emit(bw: LsbWriter, sym: Int): Unit =
      if (!zeroBit) bw.writeCode(codes(sym), lens(sym))
  }

  private def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val count = new Array[Int](16)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](16)
    var code = 0
    var l = 1
    while (l <= 15) { code = (code + count(l - 1)) << 1; next(l) = code; l += 1 }
    val codes = new Array[Int](lens.length)
    var i = 0
    while (i < lens.length) {
      if (lens(i) > 0) { codes(i) = next(lens(i)); next(lens(i)) += 1 }
      i += 1
    }
    codes
  }

  /** Optimal Huffman lengths when they fit `maxLen`, else the flattest
    * complete code (lengths L-1/L for n symbols, shortest to the most
    * frequent) — fixtures are tiny, so optimality is irrelevant but
    * completeness (Kraft equality, which the decoder enforces) is not. */
  private[graft] def codeLengths(freq: Array[Int], maxLen: Int): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    val lens = new Array[Int](freq.length)
    if (used.isEmpty) return lens
    if (used.size == 1) { lens(used.head) = 1; return lens }
    // Huffman over (weight, tie-break id) pairs
    final case class Node(w: Long, id: Int, sym: Int, l: Node, r: Node)
    val ord = Ordering.by[Node, (Long, Int)](n => (n.w, n.id)).reverse
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](ord)
    var nid = used.size
    used.foreach(s => pq.enqueue(Node(freq(s), s, s, null, null)))
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      pq.enqueue(Node(a.w + b.w, nid, -1, a, b)); nid += 1
    }
    var maxDepth = 0
    def walk(n: Node, d: Int): Unit =
      if (n.sym >= 0) { lens(n.sym) = math.max(d, 1); if (d > maxDepth) maxDepth = d }
      else { walk(n.l, d + 1); walk(n.r, d + 1) }
    walk(pq.dequeue(), 0)
    if (maxDepth <= maxLen) return lens
    // flat fallback: s = 2^L - n codes of length L-1, rest L
    java.util.Arrays.fill(lens, 0)
    val n = used.size
    var big = 1
    while ((1 << big) < n) big += 1
    val short = (1 << big) - n
    val byFreq = used.sortBy(s => (-freq(s), s))
    byFreq.zipWithIndex.foreach { case (s, i) =>
      lens(s) = if (i < short) big - 1 else big
    }
    lens
  }

  /** Writes one prefix code header (simple when the used symbols fit
    * its 8-bit fields, else normal with literal code lengths) and
    * returns the write-side code. */
  private def writePrefixCode(
      bw: LsbWriter, freq: Array[Int], alphabet: Int): WCode = {
    val used = freq.indices.filter(freq(_) > 0)
    if (used.isEmpty || (used.size == 1 && used.head <= 255)) {
      val s = if (used.isEmpty) 0 else used.head
      bw.writeBit(1); bw.writeBit(0) // simple, one symbol
      if (s < 2) { bw.writeBit(0); bw.writeBit(s) }
      else { bw.writeBit(1); bw.writeBits(s, 8) }
      return new WCode(null, null, zeroBit = true)
    }
    if (used.size == 2 && used(1) <= 255) {
      val s0 = used(0); val s1 = used(1)
      bw.writeBit(1); bw.writeBit(1) // simple, two symbols
      if (s0 < 2) { bw.writeBit(0); bw.writeBit(s0) }
      else { bw.writeBit(1); bw.writeBits(s0, 8) }
      bw.writeBits(s1, 8)
      val lens = new Array[Int](alphabet)
      val codes = new Array[Int](alphabet)
      lens(s0) = 1; lens(s1) = 1; codes(s0) = 0; codes(s1) = 1
      return new WCode(lens, codes, zeroBit = false)
    }
    // normal form: literal per-symbol lengths (no 16/17/18 runs — the
    // fixtures are small, so header compactness is irrelevant)
    val lens = codeLengths(freq, 15)
    val clFreq = new Array[Int](19)
    lens.foreach(l => clFreq(l) += 1)
    val clLens = codeLengths(clFreq, 7)
    bw.writeBit(0)
    bw.writeBits(15, 4) // num_code_lengths = 19
    ClOrder.foreach(s => bw.writeBits(clLens(s), 3))
    bw.writeBit(0) // no max-symbol shortcut
    val clUsed = clLens.count(_ > 0)
    if (clUsed > 1) {
      val clCodes = canonicalCodes(clLens)
      lens.foreach(l => bw.writeCode(clCodes(l), clLens(l)))
    } // single-length alphabets write zero bits per symbol (0-bit code)
    // A single used symbol > 255 can't take the simple form above, so it
    // lands here with lens(s) = 1 — but the decoder maps ANY one-nonzero-
    // length header to the zero-bit single-symbol code (PrefixCode of one
    // used length),
    // so the write side must also emit zero bits per symbol or the
    // bitstream desynchronizes.
    if (used.size == 1) new WCode(null, null, zeroBit = true)
    else new WCode(lens, canonicalCodes(lens), zeroBit = false)
  }

  /** Test hook: write one prefix-code header for `freq`, emit `syms`
    * through the write-side code, append a 7-bit sentinel, then decode
    * the same bitstream — the encoder/decoder agreement gate for
    * degenerate alphabets (a single used symbol > 255 cannot take the
    * simple form, so it must round-trip through the normal header as a
    * zero-bit code on BOTH sides). A desync shows up as a wrong symbol
    * or a broken sentinel, never a silent pass. */
  private[graft] def prefixCodeRoundtripForTest(
      freq: Array[Int], syms: Seq[Int]): Seq[Int] = {
    val bw = new LsbWriter()
    val wc = writePrefixCode(bw, freq, freq.length)
    syms.foreach(s => wc.emit(bw, s))
    bw.writeBits(0x2a, 7)
    val br = new LsbReader(bw.toBytes, 0)
    val pc = readPrefixCode(br, freq.length)
    val out = syms.map(_ => pc.read(br))
    require(br.readBits(7) == 0x2a, "prefix-code bitstream desynchronized")
    out
  }

  /** Test hook for the Select (mode 11) tie-break golden vector. */
  private[graft] def selectForTest(l: Int, t: Int, tl: Int): Int =
    select(l, t, tl)

  /** One token of the pixel stream. */
  private sealed trait Tok
  private final case class TLit(argb: Int) extends Tok
  private final case class TCopy(len: Int, distCode: Int) extends Tok
  private final case class TCache(idx: Int) extends Tok

  /** Writes a spatially-coded image from tokens (no meta prefix). */
  private def writeImage(
      bw: LsbWriter, toks: Seq[Tok], cacheBits: Int, level0: Boolean): Unit = {
    if (cacheBits > 0) { bw.writeBit(1); bw.writeBits(cacheBits, 4) }
    else bw.writeBit(0)
    if (level0) bw.writeBit(0) // no meta prefix
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val fr = Array(new Array[Int](256 + 24 + cacheSize),
      new Array[Int](256), new Array[Int](256), new Array[Int](256),
      new Array[Int](40))
    toks.foreach {
      case TLit(p) =>
        fr(0)(G(p)) += 1; fr(1)(R(p)) += 1; fr(2)(B(p)) += 1; fr(3)(A(p)) += 1
      case TCopy(len, dc) =>
        fr(0)(256 + lz77Prefix(len)._1) += 1
        fr(4)(lz77Prefix(dc)._1) += 1
      case TCache(i) => fr(0)(280 + i) += 1
    }
    val codes = fr.map(f => writePrefixCode(bw, f, f.length))
    toks.foreach {
      case TLit(p) =>
        codes(0).emit(bw, G(p)); codes(1).emit(bw, R(p))
        codes(2).emit(bw, B(p)); codes(3).emit(bw, A(p))
      case TCopy(len, dc) =>
        val (lp, leb, lev) = lz77Prefix(len)
        codes(0).emit(bw, 256 + lp); bw.writeBits(lev, leb)
        val (dp, deb, dev) = lz77Prefix(dc)
        codes(4).emit(bw, dp); bw.writeBits(dev, deb)
      case TCache(i) => codes(0).emit(bw, 280 + i)
    }
  }

  private def literalToks(pixels: Array[Int]): Seq[Tok] =
    pixels.toSeq.map(TLit(_))

  /** The m21 fixture: seed k selects one of five encoding regimes, so
    * the corpus exercises every decoder path — (0) plain literals under
    * full canonical prefix codes, (1) LZ77 row copies + color cache
    * over an x-periodic pattern (both the 2D plane distance code and
    * the direct code for the same distance), (2) color-indexing with
    * pixel bundling at palette sizes 2/4/16, (3) the predictor
    * transform with per-tile modes cycling all 14 predictors, (4)
    * subtract-green composed with the color transform (per-tile
    * elements). Pixel content is analytic per regime, so the DuckDB
    * oracle recomputes the channel sums without decoding. */
  private[graft] def encodeWebp(k: Long, w: Int, h: Int): Array[Byte] = {
    val bw = new LsbWriter()
    bw.writeBits(w - 1, 14)
    bw.writeBits(h - 1, 14)
    bw.writeBit(0)     // alpha hint
    bw.writeBits(0, 3) // version

    val variant = (k % 5).toInt
    variant match {
      case 0 => // literals only
        bw.writeBit(0) // no transforms
        val px = Array.tabulate(w * h) { i =>
          val (r, g, b) = Multimodal.testPixel(k, i % w, i / w)
          pack(255, r, g, b)
        }
        writeImage(bw, literalToks(px), 0, level0 = true)

      case 1 => // LZ77 row copies + color cache, x-periodic content
        bw.writeBit(0)
        val cacheBits = 4
        val cache = new Array[Int](1 << cacheBits)
        val seen = new Array[Boolean](1 << cacheBits)
        val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
        def rowPx(x: Int): Int = {
          val (r, g, b) = Multimodal.testPixel(k, x % 3, 0)
          pack(255, r, g, b)
        }
        var x = 0
        while (x < w) { // row 0: literals, with genuine cache hits
          val p = rowPx(x)
          val slot = cacheHash(p, cacheBits)
          if (seen(slot) && cache(slot) == p) toks += TCache(slot)
          else toks += TLit(p)
          cache(slot) = p; seen(slot) = true
          x += 1
        }
        // rows 1..h-1: one whole-row backreference each; even k/5 uses
        // the (0,1) plane code, odd uses the direct code for the same
        // distance — the decoder must agree they are the same pixels
        val distCode = if ((k / 5) % 2 == 0) 1 else 120 + w
        var y = 1
        while (y < h) { toks += TCopy(w, distCode); y += 1 }
        writeImage(bw, toks.toSeq, cacheBits, level0 = true)

      case 2 => // color-indexing with bundling
        val nv = Array(2, 4, 16)(((k / 5) % 3).toInt)
        bw.writeBit(1); bw.writeBits(3, 2) // transform: color indexing
        bw.writeBits(nv - 1, 8)
        val pal = Array.tabulate(nv) { j =>
          val (r, g, b) = Multimodal.gifPalette(j)
          pack(255, r, g, b)
        }
        // palette is stored delta-coded as a nv×1 entropy image
        val deltas = Array.tabulate(nv) { j =>
          if (j == 0) pal(0)
          else pack(A(pal(j)) - A(pal(j - 1)), R(pal(j)) - R(pal(j - 1)),
            G(pal(j)) - G(pal(j - 1)), B(pal(j)) - B(pal(j - 1)))
        }
        writeImage(bw, literalToks(deltas), 0, level0 = false)
        bw.writeBit(0) // end of transforms
        val pbits = if (nv <= 2) 3 else if (nv <= 4) 2 else 1
        val perByte = 1 << pbits
        val ibits = 8 >> pbits
        val bwW = subSample(w, pbits)
        val px = new Array[Int](bwW * h)
        for (y <- 0 until h; bx <- 0 until bwW) {
          var packed = 0
          for (s <- 0 until perByte) {
            val x = (bx << pbits) + s
            val idx = if (x < w) ((x + 2 * (y.toLong) + k) % nv).toInt else 0
            packed |= idx << (ibits * s)
          }
          px(y * bwW + bx) = pack(255, 0, packed, 0)
        }
        writeImage(bw, literalToks(px), 0, level0 = true)

      case 3 => // predictor transform, per-tile modes over all 14
        val sizeBits = 2 // 4×4 tiles → multiple tiles at fixture sizes
        bw.writeBit(1); bw.writeBits(0, 2) // transform: predictor
        bw.writeBits(sizeBits - 2, 3)
        val tw = subSample(w, sizeBits)
        val th = subSample(h, sizeBits)
        val modes = Array.tabulate(tw * th)(t => ((k / 5 + t) % 14).toInt)
        writeImage(bw,
          literalToks(modes.map(m => pack(255, 0, m, 0))), 0, level0 = false)
        bw.writeBit(0) // end of transforms
        val full = Array.tabulate(w * h) { i =>
          val (r, g, b) = Multimodal.testPixel(k, i % w, i / w)
          pack(255, r, g, b)
        }
        val res = new Array[Int](w * h)
        for (y <- 0 until h; x <- 0 until w) {
          val mode = modes((y >> sizeBits) * tw + (x >> sizeBits))
          val p = predict(full, w, x, y, mode)
          val o = full(y * w + x)
          res(y * w + x) = pack(A(o) - A(p), R(o) - R(p), G(o) - G(p), B(o) - B(p))
        }
        writeImage(bw, literalToks(res), 0, level0 = true)

      case _ => // subtract-green composed with the color transform
        bw.writeBit(1); bw.writeBits(2, 2) // transform: subtract green
        val sizeBits = 3 // 8×8 tiles
        bw.writeBit(1); bw.writeBits(1, 2) // transform: color
        bw.writeBits(sizeBits - 2, 3)
        val tw = subSample(w, sizeBits)
        val th = subSample(h, sizeBits)
        def cte(t: Int): (Int, Int, Int) = (
          ((k * 3 + t * 16) % 256).toInt,      // green_to_red
          ((k * 5 + 64 + t * 16) % 256).toInt, // green_to_blue
          ((k * 7 + 128 + t * 16) % 256).toInt // red_to_blue
        )
        writeImage(bw, literalToks(Array.tabulate(tw * th) { t =>
          val (g2r, g2b, r2b) = cte(t)
          pack(255, r2b, g2b, g2r)
        }), 0, level0 = false)
        bw.writeBit(0) // end of transforms
        // forward: subtract-green, then the color transform's forward
        // direction (the exact inverse of the decoder's restore order)
        val px = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val (r0, g, b0) = Multimodal.testPixel(k, x, y)
          val r1 = (r0 - g) & 0xff // subtract green
          val b1 = (b0 - g) & 0xff
          val (g2r, g2b, r2b) = cte((y >> sizeBits) * tw + (x >> sizeBits))
          val r2 = (r1 - ctDelta(g2r, g)) & 0xff
          val b2 = (b1 - ctDelta(g2b, g) - ctDelta(r2b, r1)) & 0xff
          pack(255, r2, g, b2)
        }
        writeImage(bw, literalToks(px), 0, level0 = true)
    }

    vp8lContainer(bw)
  }

  /** Wraps a finished VP8L bitstream in the RIFF/WEBP container. */
  private def vp8lContainer(bw: LsbWriter): Array[Byte] = {
    val payload = Array[Byte](0x2f) ++ bw.toBytes
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val chunkLen = payload.length
    val padded = chunkLen + (chunkLen & 1)
    ascii("RIFF"); put32le(out, 4 + 8 + padded); ascii("WEBP")
    ascii("VP8L"); put32le(out, chunkLen)
    out.write(payload)
    if ((chunkLen & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** VP8L file for ARBITRARY ARGB pixels (pure-literal regime) — the
    * cross-format fixture leg: any pixel content the BMP fixtures can
    * carry, a real WebP can too. */
  private[graft] def encodeWebpArgb(
      px: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(px.length == w * h)
    val bw = new LsbWriter()
    bw.writeBits(w - 1, 14)
    bw.writeBits(h - 1, 14)
    bw.writeBit(0); bw.writeBits(0, 3)
    bw.writeBit(0) // no transforms
    writeImage(bw, literalToks(px), 0, level0 = true)
    vp8lContainer(bw)
  }

  /** The m23 WebP scene fixture, mirroring
    * [[Multimodal.encodeBmp24Jittered]]'s contract: SAMPLE-LATTICE
    * pixels carry [[Multimodal.scenePixel]] exactly, off-lattice pixels
    * get a per-document jitter — so a BMP and a WebP of the same scene
    * are byte-unrelated files whose decoded lattices (hence dHashes)
    * are identical. */
  private[graft] def encodeWebpScene(
      scene: Long, docSeed: Long, w: Int, h: Int): Array[Byte] = {
    val xs = new Array[Boolean](w)
    val ys = new Array[Boolean](h)
    var g = 0
    while (g < 9) { xs(((g.toLong * (w - 1)) / 8).toInt) = true; g += 1 }
    g = 0
    while (g < 8) { ys(((g.toLong * (h - 1)) / 7).toInt) = true; g += 1 }
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val (r, gg, b) = Multimodal.scenePixel(scene, x, y)
      val j =
        if (xs(x) && ys(y)) 0
        else ((docSeed * 31 + 17 * x + 19 * y) % 7 + 1).toInt
      pack(255, (r + j) % 256, (gg + j) % 256, (b + j) % 256)
    }
    encodeWebpArgb(px, w, h)
  }

  /** Fixture-synthesis column for m23: jittered scene WebP bytes. */
  def packWebpScene(scene: Column, id: Column,
      width: Column, height: Column): Column = {
    val enc = udf((sc: Long, kk: Long, w: Int, h: Int) =>
      encodeWebpScene(sc, kk, w, h))
    enc(scene.cast("long"), id.cast("long"),
      width.cast("int"), height.cast("int"))
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** Fixture-synthesis column for m21: VP8L WebP bytes for
    * (seed, width, height). */
  def packWebpL(id: Column, width: Column, height: Column): Column = {
    val enc = udf((kk: Long, w: Int, h: Int) => encodeWebp(kk % 251, w, h))
    enc(id.cast("long"), width.cast("int"), height.cast("int"))
  }

  /** Real-pixel VP8L decode over [[Seam.rows]]: (id, media) → (id, stats). */
  def decodeWebpPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, Multimodal.PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodeWebpStats(b)
      Row(w, h, sr, sg, sb, es)
    }
}
