package graft.core

import graft.core.Bits.{LsbReader, PrefixCode}

/** x23: Brotli decoder (RFC 7932) — `Content-Encoding: br` is the
  * second most common encoding on the 2026 web after gzip, and the one
  * encoding the HTTP envelope could not decode until now. Clean-room
  * from the RFC: LSB-first bit stream; WBITS; meta-block headers
  * (compressed / uncompressed / metadata-skip); simple (1-4 symbol) and
  * complex prefix codes with the fixed code-length code and
  * accumulating 16/17 repeat codes; block types with 2-entry type
  * history and block-count codes per category; context modes
  * (LSB6/MSB6/UTF8/Signed) over the public 2048-byte context LUT;
  * context maps with RLE + inverse move-to-front; the 704-symbol
  * insert&copy code; distance ring buffer (16,15,11,4) with short
  * codes, NDIRECT, and the NPOSTFIX distance formula; and the RFC
  * Appendix A static dictionary (122,784 bytes) with the Appendix B
  * word transforms (omit-first/last 1-9, ferment first/all).
  *
  * All public data ships as resources extracted from the BSD-licensed
  * reference library by tools/brotli_ref.py (dictionary via
  * BrotliGetDictionary; transforms deduced through
  * BrotliTransformDictionaryWord probes; context LUT located in rodata
  * by its computable LSB6/MSB6 prefix). BrotliSpec referees this
  * decoder against libbrotli-encoded goldens at qualities 1/5/9/11.
  *
  * Untrusted-input discipline: every length/count is budgeted, output
  * is capped by `maxOut`, and any malformed structure returns null
  * (never throws) — the walker contract.
  */
object Brotli {

  // ------------------------------------------------------------------
  // public data (RFC 7932 Appendices A/B + §7.1), loaded once
  // ------------------------------------------------------------------

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  private[graft] lazy val DictData: Array[Byte] =
    resource("/graft/brotli_dict.bin")

  /** log2(word count) per word length 4..24 (RFC 7932 §8). */
  private[graft] val SizeBitsByLength: Array[Int] =
    Array(0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7,
      8, 7, 7, 6, 6, 5, 5)

  private[graft] lazy val OffsetsByLength: Array[Int] = {
    val o = new Array[Int](26)
    var l = 4
    o(4) = 0
    while (l < 25) { o(l + 1) = o(l) + l * (1 << SizeBitsByLength(l)); l += 1 }
    o
  }

  /** 2048-byte context LUT: 512 bytes per mode (lut0 for p1, lut1 for
    * p2), modes LSB6=0, MSB6=1, UTF8=2, SIGNED=3 (§7.1). */
  private lazy val ContextLut: Array[Byte] =
    resource("/graft/brotli_context.bin")

  /** 121 transforms: (prefix, kind, suffix); kind 0 identity,
    * 1 ferment-first, 2 ferment-all, 10+N omit-first-N, 20+N
    * omit-last-N (Appendix B). */
  private lazy val Transforms: Array[(Array[Byte], Int, Array[Byte])] = {
    // length-prefixed binary rows: u8 preLen, pre, u8 kind, u8 sufLen, suf
    val b = resource("/graft/brotli_transforms.bin")
    val rows = Array.newBuilder[(Array[Byte], Int, Array[Byte])]
    var i = 0
    while (i < b.length) {
      val pl = b(i) & 0xff
      val pre = java.util.Arrays.copyOfRange(b, i + 1, i + 1 + pl)
      val kind = b(i + 1 + pl) & 0xff
      val sl = b(i + 2 + pl) & 0xff
      val suf = java.util.Arrays.copyOfRange(b, i + 3 + pl, i + 3 + pl + sl)
      rows += ((pre, kind, suf))
      i += 3 + pl + sl
    }
    val out = rows.result()
    require(out.length == 121, s"expected 121 transforms, got ${out.length}")
    out
  }

  // ------------------------------------------------------------------
  // constant tables (§5, §6, §9.2)
  // ------------------------------------------------------------------

  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CpyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CpyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val InsRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CpyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  private val BlockLenBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65,
    81, 97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289,
    4337, 8433, 16625)
  private val BlockLenExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4,
    5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  /** Order in which code-length-code lengths are transmitted (§3.5). */
  private val ClOrder =
    Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Fixed code for code-length code lengths (§3.5), first two bits →
    * value 0/4/3; '11' extends to 3 or 4 bits (values 2, 1, 5). */
  private val ClTwoBitVal = Array(0, 4, 3)

  /** Distance short codes: ring index offset + value delta (§4). */
  private val DistShortIdx = Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
  private val DistShortVal = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)

  private final class Malformed extends RuntimeException("malformed brotli")
  private def bad(): Nothing = throw new Malformed

  /** Output-buffer growth: double until `n` fits, clamped to `maxOut`.
    * cap*2 overflows past 1<<30, so once cap reaches 1<<30 (guaranteed
    * by the power-of-two start) jump straight to the clamp — the `>=`
    * matters: with `>` the doubling wraps negative and loops forever
    * exactly when maxOut > 1<<30. Requires n <= maxOut (checked by the
    * caller). Factored out so the wrap case is unit-testable without a
    * gigabyte allocation. */
  private[graft] def grownCapacity(cur: Int, n: Int, maxOut: Int): Int = {
    var cap = cur
    while (cap < n)
      cap = math.min(maxOut, if (cap >= (1 << 30)) Int.MaxValue else cap * 2)
    cap
  }

  // ------------------------------------------------------------------
  // prefix codes: LSB-first stream, codewords arrive MSB-first
  // ------------------------------------------------------------------

  private def log2ceil(n: Int): Int =
    if (n <= 1) 0 else 32 - Integer.numberOfLeadingZeros(n - 1)

  /** §3.4/§3.5: one prefix code over `alphabet` symbols. */
  private def readPrefixCode(r: LsbReader, alphabet: Int): PrefixCode = {
    val hskip = r.readBits(2)
    if (hskip == 1) {
      // simple code: 1-4 explicit symbols
      val nsym = r.readBits(2) + 1
      val abits = log2ceil(alphabet)
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = r.readBits(abits)
        if (s >= alphabet) bad()
        var j = 0
        while (j < i) { if (syms(j) == s) bad(); j += 1 }
        syms(i) = s
        i += 1
      }
      val lens: Array[Int] = nsym match {
        case 1 => Array(0) // single symbol: zero bits
        case 2 => Array(1, 1)
        case 3 => Array(1, 2, 2)
        case 4 =>
          if (r.readBit() == 1) Array(1, 2, 3, 3) else Array(2, 2, 2, 2)
      }
      if (nsym == 1) {
        PrefixCode.single(syms(0))
      } else {
        val lengths = new Array[Int](alphabet)
        i = 0
        while (i < nsym) { lengths(syms(i)) = lens(i); i += 1 }
        PrefixCode(lengths)
      }
    } else {
      // complex code: code-length code lengths via the fixed code
      val clLengths = new Array[Int](18)
      var space = 32
      var numCodes = 0
      var i = hskip
      while (i < 18 && space > 0) {
        // fixed code (§3.5): 2 bits resolve values 0/4/3; the '11'
        // prefix extends to 3 bits (value 2) or 4 bits (values 1/5)
        val b2 = r.readBits(2)
        val value =
          if (b2 != 3) ClTwoBitVal(b2) // 0→0, 1→4, 2→3
          else if (r.readBit() == 0) 2
          else if (r.readBit() == 0) 1
          else 5
        clLengths(ClOrder(i)) = value
        if (value != 0) {
          space -= 32 >> value
          numCodes += 1
        }
        i += 1
      }
      if (!(numCodes == 1 || space == 0)) bad()
      val clCode = PrefixCode(clLengths)

      // symbol code lengths with accumulating 16/17 repeats
      val lengths = new Array[Int](alphabet)
      var symbol = 0
      var prevLen = 8
      var repeat = 0
      var repeatLen = 0
      var space2 = 32768
      while (symbol < alphabet && space2 > 0) {
        val p = clCode.read(r)
        if (p < 16) {
          repeat = 0
          lengths(symbol) = p
          symbol += 1
          if (p != 0) {
            prevLen = p
            space2 -= 32768 >> p
          }
        } else {
          val extraBits = if (p == 16) 2 else 3
          val newLen = if (p == 16) prevLen else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) repeat = (repeat - 2) << extraBits
          repeat += r.readBits(extraBits) + 3
          var delta = repeat - old
          if (symbol + delta > alphabet) bad()
          while (delta > 0) {
            lengths(symbol) = repeatLen
            symbol += 1
            if (repeatLen != 0) space2 -= 32768 >> repeatLen
            delta -= 1
          }
        }
      }
      if (space2 != 0) bad()
      PrefixCode(lengths)
    }
  }

  // ------------------------------------------------------------------
  // context map (§7.3)
  // ------------------------------------------------------------------

  private def inverseMtf(map: Array[Byte]): Unit = {
    val mtf = new Array[Byte](256)
    var i = 0
    while (i < 256) { mtf(i) = i.toByte; i += 1 }
    i = 0
    while (i < map.length) {
      val idx = map(i) & 0xff
      val v = mtf(idx)
      map(i) = v
      var j = idx
      while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
      mtf(0) = v
      i += 1
    }
  }

  private def readContextMap(r: LsbReader, size: Int, ntrees: Int): Array[Byte] = {
    val map = new Array[Byte](size)
    if (ntrees == 1) return map
    val rlemax = if (r.readBit() == 1) r.readBits(4) + 1 else 0
    val code = readPrefixCode(r, ntrees + rlemax)
    var i = 0
    while (i < size) {
      val sym = code.read(r)
      if (sym == 0) { map(i) = 0; i += 1 }
      else if (sym <= rlemax) {
        val reps = (1 << sym) + r.readBits(sym)
        if (i + reps > size) bad()
        i += reps // zeros
      } else {
        map(i) = (sym - rlemax).toByte
        i += 1
      }
    }
    if (r.readBit() == 1) inverseMtf(map)
    i = 0
    while (i < size) { if ((map(i) & 0xff) >= ntrees) bad(); i += 1 }
    map
  }

  // ------------------------------------------------------------------
  // block-category state (§6)
  // ------------------------------------------------------------------

  private final class BlockState(r: LsbReader, val ntypes: Int) {
    var btype = 0
    private var prev = 1
    var blen: Int = 1 << 28
    private var typeCode: PrefixCode = null
    private var lenCode: PrefixCode = null
    if (ntypes >= 2) {
      typeCode = readPrefixCode(r, ntypes + 2)
      lenCode = readPrefixCode(r, 26)
      blen = readBlockLen(r)
    }
    private def readBlockLen(r: LsbReader): Int = {
      val s = lenCode.read(r)
      BlockLenBase(s) + r.readBits(BlockLenExtra(s))
    }
    def switchType(r: LsbReader): Unit = {
      if (ntypes < 2) bad() // blen can only expire with a real type code
      val s = typeCode.read(r)
      val next = s match {
        case 0 => prev
        case 1 => (btype + 1) % ntypes
        case _ => s - 2
      }
      prev = btype
      btype = next
      blen = readBlockLen(r)
    }
  }

  // ------------------------------------------------------------------
  // transforms (§8)
  // ------------------------------------------------------------------

  /** Ferment ("uppercase") one position; returns the step width. */
  private def ferment(buf: Array[Byte], i: Int): Int = {
    val c = buf(i) & 0xff
    if (c < 192) {
      if (c >= 97 && c <= 122) buf(i) = (buf(i) ^ 32).toByte
      1
    } else if (c < 224) {
      if (i + 1 < buf.length) buf(i + 1) = (buf(i + 1) ^ 32).toByte
      2
    } else {
      if (i + 2 < buf.length) buf(i + 2) = (buf(i + 2) ^ 5).toByte
      3
    }
  }

  private[graft] def transformWord(word: Array[Byte], idx: Int): Array[Byte] = {
    val (pre, kind, suf) = Transforms(idx)
    var w = word
    kind match {
      case 0 => ()
      case 1 =>
        w = w.clone(); if (w.nonEmpty) ferment(w, 0)
      case 2 =>
        w = w.clone()
        var i = 0
        while (i < w.length) i += ferment(w, i)
      case k if k >= 10 && k <= 18 =>
        val n = k - 9
        w = if (n >= w.length) Array.emptyByteArray else w.drop(n)
      case k if k >= 20 && k <= 28 =>
        val n = k - 19
        w = if (n >= w.length) Array.emptyByteArray else w.dropRight(n)
      case _ => bad()
    }
    val out = new Array[Byte](pre.length + w.length + suf.length)
    System.arraycopy(pre, 0, out, 0, pre.length)
    System.arraycopy(w, 0, out, pre.length, w.length)
    System.arraycopy(suf, 0, out, pre.length + w.length, suf.length)
    out
  }

  // ------------------------------------------------------------------
  // the decoder
  // ------------------------------------------------------------------

  /** Decode a complete brotli stream; null on any malformed structure
    * or when the output would exceed `maxOut` (bomb budget). */
  def decode(in: Array[Byte], maxOut: Int = 1 << 26): Array[Byte] =
    try decodeImpl(in, maxOut)
    catch { case scala.util.control.NonFatal(_) => null }

  /** Spec/diagnostic entry: like [[decode]] but propagates the failure
    * point instead of degrading to the null sentinel. */
  private[graft] def decodeOrThrow(in: Array[Byte],
                                   maxOut: Int = 1 << 26): Array[Byte] =
    decodeImpl(in, maxOut)

  private def decodeImpl(in: Array[Byte], maxOut: Int): Array[Byte] = {
    if (in == null || in.length == 0) bad()
    val r = new LsbReader(in)

    // WBITS (§9.1)
    val wbits =
      if (r.readBit() == 0) 16
      else {
        val n = r.readBits(3)
        if (n != 0) 17 + n
        else {
          val m = r.readBits(3)
          if (m == 0) 17
          else if (m == 1) bad()
          else 8 + m
        }
      }
    val window = (1 << wbits) - 16

    var out = new Array[Byte](math.min(maxOut, 1 << 16))
    var outLen = 0
    def ensure(n: Int): Unit = {
      if (n > maxOut) bad()
      if (n > out.length) out = java.util.Arrays.copyOf(out, grownCapacity(out.length, n, maxOut))
    }

    var p1 = 0
    var p2 = 0
    val ring = Array(16, 15, 11, 4)
    var ringIdx = 0

    var isLast = false
    while (!isLast) {
      isLast = r.readBit() == 1
      if (isLast && r.readBit() == 1) {
        // ISLASTEMPTY
      } else {
        val sizeNibbles = r.readBits(2) + 4
        if (sizeNibbles == 7) {
          // metadata meta-block: skipped wholesale (§9.2)
          if (isLast) bad()
          if (r.readBit() != 0) bad() // reserved
          val sizeBytes = r.readBits(2)
          var skip = 0
          if (sizeBytes > 0) {
            var i = 0
            while (i < sizeBytes) {
              val b = r.readBits(8)
              if (b == 0 && i + 1 == sizeBytes && sizeBytes > 1) bad()
              skip |= b << (i * 8)
              i += 1
            }
            skip += 1
          }
          r.skipBytes(skip)
        } else {
          var mlen = 0
          var i = 0
          while (i < sizeNibbles) {
            val b = r.readBits(4)
            if (b == 0 && i + 1 == sizeNibbles && sizeNibbles > 4) bad()
            mlen |= b << (i * 4)
            i += 1
          }
          mlen += 1
          val isUncompressed = !isLast && r.readBit() == 1
          if (isUncompressed) {
            ensure(outLen + mlen)
            r.readBytes(out, outLen, mlen)
            outLen += mlen
            if (outLen >= 2) { p1 = out(outLen - 1) & 0xff; p2 = out(outLen - 2) & 0xff }
            else if (outLen == 1) { p1 = out(0) & 0xff; p2 = 0 }
          } else {
            // ---- compressed meta-block ----
            def readNbl(): Int =
              if (r.readBit() == 0) 1
              else { val k = r.readBits(3); (1 << k) + 1 + r.readBits(k) }

            val bsL = new BlockState(r, readNbl())
            val bsI = new BlockState(r, readNbl())
            val bsD = new BlockState(r, readNbl())

            val npostfix = r.readBits(2)
            val ndirect = r.readBits(4) << npostfix
            val postfixMask = (1 << npostfix) - 1

            val cmodes = new Array[Int](bsL.ntypes)
            var t = 0
            while (t < bsL.ntypes) { cmodes(t) = r.readBits(2); t += 1 }

            val ntreesL = readNbl()
            val cmapL = readContextMap(r, 64 * bsL.ntypes, ntreesL)
            val ntreesD = readNbl()
            val cmapD = readContextMap(r, 4 * bsD.ntypes, ntreesD)

            val litCodes = Array.fill(ntreesL)(readPrefixCode(r, 256))
            val cmdCodes = Array.fill(bsI.ntypes)(readPrefixCode(r, 704))
            val nDistSyms = 16 + ndirect + (48 << npostfix)
            val distCodes = Array.fill(ntreesD)(readPrefixCode(r, nDistSyms))

            while (mlen > 0) {
              if (bsI.blen == 0) bsI.switchType(r)
              bsI.blen -= 1
              val cmd = cmdCodes(bsI.btype).read(r)
              val rangeIdx = cmd >> 6
              val implicitD0 = rangeIdx < 2
              val ri = if (implicitD0) rangeIdx else rangeIdx - 2
              val insCode = InsRangeLut(ri) + ((cmd >> 3) & 7)
              val cpyCode = CpyRangeLut(ri) + (cmd & 7)
              val insLen = InsBase(insCode) + r.readBits(InsExtra(insCode))
              val cpyLen = CpyBase(cpyCode) + r.readBits(CpyExtra(cpyCode))

              // literals
              var j = 0
              while (j < insLen && mlen > 0) {
                if (bsL.blen == 0) bsL.switchType(r)
                bsL.blen -= 1
                val mode = cmodes(bsL.btype)
                val ctx = (ContextLut((mode << 9) + p1) & 0xff) |
                  (ContextLut((mode << 9) + 256 + p2) & 0xff)
                val tree = cmapL((bsL.btype << 6) + ctx) & 0xff
                val lit = litCodes(tree).read(r)
                ensure(outLen + 1)
                out(outLen) = lit.toByte
                outLen += 1
                p2 = p1
                p1 = lit
                mlen -= 1
                j += 1
              }
              if (mlen > 0) {
                // distance
                var dist = 0
                var pushed = false
                if (implicitD0) {
                  dist = ring((ringIdx + 3) & 3)
                } else {
                  if (bsD.blen == 0) bsD.switchType(r)
                  bsD.blen -= 1
                  val dctx = math.min(cpyLen, 5) - 2
                  val tree = cmapD((bsD.btype << 2) + dctx) & 0xff
                  val dcode = distCodes(tree).read(r)
                  if (dcode < 16) {
                    dist = ring((ringIdx + DistShortIdx(dcode)) & 3) +
                      DistShortVal(dcode)
                    if (dist <= 0) bad()
                  } else if (dcode < 16 + ndirect) {
                    dist = dcode - 15
                  } else {
                    val x = dcode - ndirect - 16
                    val ndistbits = 1 + (x >> (npostfix + 1))
                    if (ndistbits > 30) bad()
                    val hcode = x >> npostfix
                    val lcode = x & postfixMask
                    val offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    dist = ((offset + r.readBits(ndistbits)) << npostfix) +
                      lcode + ndirect + 1
                  }
                  if (dcode != 0) pushed = true
                }
                if (dist <= 0) bad()

                val maxDist = math.min(outLen, window)
                if (dist <= maxDist) {
                  if (cpyLen > mlen) bad()
                  if (pushed) { ring(ringIdx & 3) = dist; ringIdx += 1 }
                  ensure(outLen + cpyLen)
                  var c = 0
                  while (c < cpyLen) { // overlap-capable byte copy
                    out(outLen) = out(outLen - dist)
                    outLen += 1
                    c += 1
                  }
                  mlen -= cpyLen
                  p1 = out(outLen - 1) & 0xff
                  p2 = if (outLen >= 2) out(outLen - 2) & 0xff else 0
                } else {
                  // static dictionary reference
                  if (cpyLen < 4 || cpyLen > 24) bad()
                  val bits = SizeBitsByLength(cpyLen)
                  if (bits == 0) bad()
                  val wordId = dist - maxDist - 1
                  val wordIdx = wordId & ((1 << bits) - 1)
                  val tIdx = wordId >>> bits
                  if (tIdx >= 121) bad()
                  val off = OffsetsByLength(cpyLen) + cpyLen * wordIdx
                  val word = java.util.Arrays.copyOfRange(DictData, off, off + cpyLen)
                  val xw = transformWord(word, tIdx)
                  if (xw.length > mlen) bad()
                  ensure(outLen + xw.length)
                  System.arraycopy(xw, 0, out, outLen, xw.length)
                  outLen += xw.length
                  mlen -= xw.length
                  if (outLen >= 1) p1 = out(outLen - 1) & 0xff
                  if (outLen >= 2) p2 = out(outLen - 2) & 0xff
                }
              }
            }
          }
        }
      }
    }
    java.util.Arrays.copyOf(out, outLen)
  }
}
