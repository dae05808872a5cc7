package graft.ops

import java.io.ByteArrayOutputStream

import graft.core.Bytes.u8

/** The JPEG entropy layer (T.81 Annex B tables, Annex F/G coding) that
  * both pixel decoders ([[Multimodal.decodeJpegStats]] for baseline,
  * [[JpegProgressive.decodeJpegProgStats]] for progressive) and the
  * three fixture encoders share: DQT/DHT segment parsing, the entropy
  * reader, and the stuffed entropy writer.
  *
  * The reader is not a `core.Bits` reader, for two reasons. Its input
  * is byte-stuffed: an FF data byte is followed by 00, and any other
  * byte after FF is a marker that ends the segment (bits already
  * buffered stay readable, since the last codes of a scan usually sit
  * in the buffer when its marker is reached). And a read past the end
  * fails softly: it sets [[Reader.failed]] and returns 0, so the
  * decoders check one flag per field instead of unwinding. */
private[ops] object JpegEntropy {

  /** The tables a marker walk fills: four 8-bit quantization tables in
    * zigzag order, and per (class, id) a canonical Huffman code as the
    * first code, first value index and codeword count per length. */
  final class Tables {
    val qt: Array[Array[Int]] = Array.ofDim[Int](4, 64)
    val qtSeen = new Array[Boolean](4)
    private[JpegEntropy] val firstCode = Array.ofDim[Int](2, 4, 17)
    private[JpegEntropy] val firstIdx = Array.ofDim[Int](2, 4, 17)
    private[JpegEntropy] val count = Array.ofDim[Int](2, 4, 17)
    private[JpegEntropy] val vals = Array.ofDim[Array[Int]](2, 4)

    /** A DQT segment body `[from, until)`, possibly several tables;
      * false on a malformed one. */
    def readDqt(b: Array[Byte], from: Int, until: Int): Boolean = {
      var q = from
      while (q < until) {
        val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
        if (pq != 0 || tq > 3 || q + 65 > until) return false
        var i = 0
        while (i < 64) { qt(tq)(i) = u8(b, q + 1 + i); i += 1 }
        qtSeen(tq) = true
        q += 65
      }
      true
    }

    /** A DHT segment body `[from, until)`, possibly several tables;
      * false on a malformed one. */
    def readDht(b: Array[Byte], from: Int, until: Int): Boolean = {
      var q = from
      while (q < until) {
        val tc = u8(b, q) >> 4; val th = u8(b, q) & 15
        if (tc > 1 || th > 3 || q + 17 > until) return false
        var total = 0
        var l = 1
        while (l <= 16) { count(tc)(th)(l) = u8(b, q + l); total += u8(b, q + l); l += 1 }
        if (total > 256 || q + 17 + total > until) return false
        vals(tc)(th) = Array.tabulate(total)(i => u8(b, q + 17 + i))
        var code = 0; var vi = 0
        l = 1
        while (l <= 16) {
          firstCode(tc)(th)(l) = code
          firstIdx(tc)(th)(l) = vi
          code += count(tc)(th)(l); vi += count(tc)(th)(l)
          code <<= 1
          l += 1
        }
        q += 17 + total
      }
      true
    }
  }

  /** Reads one entropy-coded segment after another out of `bytes`. */
  final class Reader(bytes: Array[Byte], t: Tables) {
    // the per-bit walk reads these fields directly, not through accessors
    private val vals = t.vals
    private val firstCode = t.firstCode
    private val firstIdx = t.firstIdx
    private val count = t.count
    private var p = 0
    private var bitBuf = 0L
    private var bitCnt = 0
    private var feedDone = false // segment bytes exhausted (marker / end)
    private var fail = false     // a read ran dry or met no code

    /** The first byte not yet buffered: the marker that ended the
      * segment, once it has. */
    def pos: Int = p

    def failed: Boolean = fail

    /** Starts a segment at byte `at`, with an empty buffer. */
    def start(at: Int): Unit = {
      p = at; bitBuf = 0; bitCnt = 0; feedDone = false; fail = false
    }

    private def fill(): Unit = {
      while (bitCnt <= 56 && !feedDone) {
        if (p >= bytes.length) feedDone = true
        else {
          val v = u8(bytes, p)
          if (v == 0xff) {
            if (p + 1 < bytes.length && u8(bytes, p + 1) == 0x00) {
              bitBuf = (bitBuf << 8) | 0xff; bitCnt += 8; p += 2
            } else feedDone = true
          } else { bitBuf = (bitBuf << 8) | v; bitCnt += 8; p += 1 }
        }
      }
    }

    /** `n` bits (0 to 16), MSB-first; 0 and [[failed]] when they are
      * not there. */
    def getBits(n: Int): Int = {
      if (n == 0) return 0
      fill()
      if (bitCnt < n) { fail = true; return 0 }
      val v = ((bitBuf >> (bitCnt - n)) & ((1L << n) - 1)).toInt
      bitCnt -= n
      v
    }

    /** One symbol of Huffman table (class `tc`, id `th`); -1 and
      * [[failed]] on a missing table, a short read or no code. */
    def huffDecode(tc: Int, th: Int): Int = {
      if (vals(tc)(th) == null) { fail = true; return -1 }
      val first = firstCode(tc)(th)
      val cnts = count(tc)(th)
      var code = 0
      var l = 1
      while (l <= 16) {
        code = (code << 1) | getBits(1)
        if (fail) return -1
        val cnt = cnts(l)
        if (cnt > 0 && code >= first(l) && code - first(l) < cnt)
          return vals(tc)(th)(firstIdx(tc)(th)(l) + code - first(l))
        l += 1
      }
      fail = true; -1
    }

    /** At a restart interval: consumes the RSTn marker the segment
      * stopped at and starts the next segment behind it; false when no
      * RSTn is there. */
    def restart(): Boolean =
      if (p + 1 < bytes.length && u8(bytes, p) == 0xff &&
          u8(bytes, p + 1) >= 0xd0 && u8(bytes, p + 1) <= 0xd7) {
        start(p + 2); true
      } else false
  }

  /** The value of additional bits `v` in magnitude category `s` (T.81
    * F.2.2.1 EXTEND). */
  def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** The entropy writer of the fixture encoders: MSB-first, a 00 stuffed
    * behind every FF byte, a scan's last byte padded with 1 bits. */
  final class Writer(out: ByteArrayOutputStream) {
    private var bitBuf = 0L
    private var bitCnt = 0

    /** The low `len` bits of `code`. */
    def putBits(code: Int, len: Int): Unit = {
      if (len > 0) {
        bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
        bitCnt += len
        while (bitCnt >= 8) {
          val b = ((bitBuf >> (bitCnt - 8)) & 0xff).toInt
          out.write(b)
          if (b == 0xff) out.write(0x00)
          bitCnt -= 8
        }
      }
    }

    /** Pads the scan's last byte with 1 bits. */
    def flush(): Unit = if (bitCnt > 0) putBits((1 << (8 - bitCnt)) - 1, 8 - bitCnt)
  }

  /** Magnitude category of `v`: the bit length of |v| (T.81 F.1.2.1). */
  def size(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** The additional bits that send `v` in its category (the inverse of
    * [[extend]]): a negative value goes as the low bits of v - 1. */
  def extendBits(v: Int): Int = if (v < 0) v - 1 else v
}
