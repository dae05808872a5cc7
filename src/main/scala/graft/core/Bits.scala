package graft.core

import java.io.ByteArrayOutputStream

/** Bit-level reads and writes over byte arrays, in both bit orders: the
  * one set of bit primitives under every codec (the byte-level set is
  * [[Bytes]]).
  *
  *  - MSB-first ([[MsbReader]], [[MsbWriter]]): the first bit of a byte
  *    is its top bit (FLAC, AV1, Rice lists).
  *  - LSB-first ([[LsbReader]], [[LsbWriter]]): the first bit is the low
  *    bit, and a multi-bit field starts at its own low bit (VP8L,
  *    Brotli, GIF LZW).
  *
  * Readers buffer up to 64 bits and load one byte at a time, only when a
  * read needs it, so a read fails exactly when a bit it asks for lies
  * past the last byte; it then throws [[Malformed]]. Writers pad the
  * last byte with zero bits. JPEG's entropy segments, which unstuff
  * FF00 and stop at a marker, have their own reader in
  * `ops.JpegEntropy`; VP8's bool decoder is an arithmetic coder, not a
  * bit reader, and stays in `ops.Vp8`. */
object Bits {

  /** The one failure of this module: a read past the end of the input,
    * or lengths or bits that form no prefix code. Stackless, and caught
    * by each decoder's own net, which maps it to its sentinel. */
  object Malformed
    extends RuntimeException("malformed bit stream", null, false, false)

  @inline private def mask(n: Int): Long = (1L << n) - 1

  final class MsbReader(b: Array[Byte], start: Int = 0) {
    private var pos = start // next byte to load
    private var buf = 0L    // its low `cnt` bits are unread
    private var cnt = 0

    /** `n` bits (0 to 32) as an unsigned field; 32 bits fill the Int. */
    def readBits(n: Int): Int = {
      while (cnt < n) {
        if (pos >= b.length) throw Malformed
        buf = (buf << 8) | (b(pos) & 0xff)
        pos += 1
        cnt += 8
      }
      cnt -= n
      ((buf >>> cnt) & mask(n)).toInt
    }

    def readBit(): Int = readBits(1)

    /** `n` bits as an unsigned field; 64 bits fill the Long, and of a
      * longer field the last 64 bits are kept. */
    def readLong(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        val m = math.min(left, 32)
        v = (v << m) | (readBits(m) & 0xffffffffL)
        left -= m
      }
      v
    }

    /** `n` bits (1 to 32) as a two's-complement value. */
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if (n == 32) v else (v << (32 - n)) >> (32 - n)
    }

    def atByteBoundary: Boolean = (cnt & 7) == 0

    /** Skips to the next byte boundary. */
    def alignByte(): Unit = cnt -= cnt & 7

    /** Index of the byte that holds the next bit. */
    def bytePos: Int = pos - ((cnt + 7) >> 3)
  }

  final class MsbWriter {
    private val out = new ByteArrayOutputStream()
    private var buf = 0L // its low `cnt` bits are unwritten
    private var cnt = 0

    /** The low `n` bits (0 to 64) of `v`, its top bit first. */
    def writeBits(v: Long, n: Int): Unit =
      if (n > 32) { writeBits(v >>> 32, n - 32); writeBits(v, 32) }
      else {
        buf = (buf << n) | (v & mask(n))
        cnt += n
        while (cnt >= 8) { cnt -= 8; out.write((buf >>> cnt).toInt) }
      }

    def writeBit(v: Int): Unit = writeBits(v, 1)

    /** Pads with zero bits to the next byte boundary. */
    def alignZero(): Unit = if (cnt > 0) writeBits(0, 8 - cnt)

    /** The bytes written so far; the writer must be byte-aligned. */
    def bytesSoFar: Array[Byte] = {
      require(cnt == 0, "bytesSoFar needs byte alignment")
      out.toByteArray
    }

    /** Pads the last byte with zero bits and returns every byte. */
    def toBytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  final class LsbReader(b: Array[Byte], start: Int = 0) {
    private var pos = start // next byte to load
    private var buf = 0L    // its low `cnt` bits are unread, next bit lowest
    private var cnt = 0

    /** `n` bits (0 to 32), the first read the lowest. */
    def readBits(n: Int): Int = {
      while (cnt < n) {
        if (pos >= b.length) throw Malformed
        buf |= (b(pos) & 0xffL) << cnt
        pos += 1
        cnt += 8
      }
      val v = (buf & mask(n)).toInt
      buf >>>= n
      cnt -= n
      v
    }

    /** One bit: the prefix-code walks call this per codeword bit. */
    def readBit(): Int = {
      if (cnt == 0) {
        if (pos >= b.length) throw Malformed
        buf = b(pos) & 0xffL // bits above `cnt` are always zero
        pos += 1
        cnt = 8
      }
      val v = (buf & 1).toInt
      buf >>>= 1
      cnt -= 1
      v
    }

    /** Skips to the next byte boundary. A read loads no byte before it
      * needs one, so fewer than 8 bits are ever buffered: after this the
      * buffer is empty and the next bit is the first of byte `pos`. */
    def alignByte(): Unit = {
      val drop = cnt & 7
      buf >>>= drop
      cnt -= drop
    }

    /** Copies `len` whole bytes, from the next byte boundary, into `dst`. */
    def readBytes(dst: Array[Byte], off: Int, len: Int): Unit = {
      alignByte()
      if (pos.toLong + len > b.length) throw Malformed
      System.arraycopy(b, pos, dst, off, len)
      pos += len
    }

    /** Skips `len` whole bytes from the next byte boundary. */
    def skipBytes(len: Int): Unit = {
      alignByte()
      if (pos.toLong + len > b.length) throw Malformed
      pos += len
    }
  }

  final class LsbWriter {
    private val out = new ByteArrayOutputStream()
    private var buf = 0L // its low `cnt` bits are unwritten
    private var cnt = 0

    /** The low `n` bits (0 to 32) of `v`, its low bit first. */
    def writeBits(v: Int, n: Int): Unit = {
      buf |= (v & mask(n)) << cnt
      cnt += n
      while (cnt >= 8) { out.write(buf.toInt); buf >>>= 8; cnt -= 8 }
    }

    def writeBit(v: Int): Unit = writeBits(v, 1)

    /** A prefix codeword of `len` bits, the top bit of `code` first: the
      * decoder walks the code tree from its root. */
    def writeCode(code: Int, len: Int): Unit =
      writeBits(Integer.reverse(code) >>> (32 - len), len)

    /** Pads with zero bits to the next byte boundary. */
    def alignZero(): Unit = if (cnt > 0) writeBits(0, 8 - cnt)

    /** Raw bytes at a byte boundary. */
    def writeBytes(bytes: Array[Byte]): Unit = {
      require(cnt == 0, "raw bytes need byte alignment")
      out.write(bytes)
    }

    /** Pads the last byte with zero bits and returns every byte. */
    def toBytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  /** A canonical prefix code read bit by bit from an LSB-first stream,
    * codewords at most 15 bits: `counts(l)` codewords of length `l`,
    * whose symbols are `symbols` in code order. A code of one symbol
    * reads zero bits. */
  final class PrefixCode(counts: Array[Int], symbols: Array[Int]) {
    private val single = if (symbols.length == 1) symbols(0) else -1

    def read(r: LsbReader): Int = {
      if (single >= 0) return single
      var code = 0; var first = 0; var offset = 0; var len = 1
      while (len <= 15) {
        code = (code << 1) | r.readBit()
        val c = counts(len)
        if (code - first < c) return symbols(offset + code - first)
        offset += c
        first = (first + c) << 1
        len += 1
      }
      throw Malformed
    }

    /** Kraft equality: the codewords fill the whole code space (a one-
      * symbol code counts as complete). */
    def complete: Boolean = single >= 0 || {
      var space = 1L << 15
      var len = 1
      while (len <= 15) { space -= counts(len).toLong << (15 - len); len += 1 }
      space == 0
    }
  }

  object PrefixCode {

    /** The code of one symbol, read in zero bits. */
    def single(symbol: Int): PrefixCode = new PrefixCode(new Array[Int](16), Array(symbol))

    /** The canonical code for per-symbol lengths (0 = unused, at most
      * 15): codewords ordered by (length, symbol). One used symbol gives
      * the zero-bit code whatever its length; none, or a length outside
      * 0–15, is [[Malformed]]. */
    def apply(lengths: Array[Int]): PrefixCode = {
      val counts = new Array[Int](16)
      var n = 0
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l < 0 || l > 15) throw Malformed
        if (l > 0) { counts(l) += 1; n += 1 }
        i += 1
      }
      if (n == 0) throw Malformed
      val next = new Array[Int](16)
      var acc = 0
      var len = 1
      while (len <= 15) { next(len) = acc; acc += counts(len); len += 1 }
      val symbols = new Array[Int](n)
      i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l > 0) { symbols(next(l)) = i; next(l) += 1 }
        i += 1
      }
      new PrefixCode(counts, symbols)
    }
  }
}
