package graft.core

import graft.core.Bits.LsbWriter

/** Analytic brotli stream assembler for the x23 gate — the VP8
  * "hand-assembled golden" pattern: a constrained RFC 7932 encoder
  * whose every choice is pinned, so the decoded output is an analytic
  * function of the seed that a SQL oracle can reconstruct, while the
  * stream itself walks the decoder through the format's hard paths:
  *
  *  - an UNCOMPRESSED meta-block prefix (k%3==0),
  *  - a complex literal prefix code (all 256 symbols at length 8,
  *    emitted through the code-length code with an ACCUMULATING
  *    repeat-16 chain 5→17→64→251 — the §3.5 corner),
  *  - simple prefix codes with 1 and 2 symbols (command/distance),
  *  - one real back-reference copy with an explicit distance code
  *    (offset+extra form) repeating the base string,
  *  - and a final insert-only command whose copy part is skipped when
  *    MLEN runs out (k%4==0).
  *
  * BrotliFixtureSpec referees assembled streams for all 251 seeds
  * against [[Brotli.decode]]; the committed referee fixtures
  * (brotli_asm_*.ok) pin a libbrotlidec decode of the same bytes, so
  * the ASSEMBLER is format-correct, not merely self-consistent. */
object BrotliFixture {

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

  private def findLenCode(v: Int, bases: Array[Int],
                          extras: Array[Int]): (Int, Int, Int) = {
    var c = bases.length - 1
    while (c >= 0) {
      if (v >= bases(c) && v - bases(c) < (1 << extras(c)))
        return (c, v - bases(c), extras(c))
      c -= 1
    }
    throw new IllegalArgumentException(s"no length code for $v")
  }

  /** Explicit (rangeIdx>=2) command symbol for an (insCode, cpyCode)
    * pair, or the implicit-distance form when `implicitD0`. */
  private def cmdSymbol(insCode: Int, cpyCode: Int,
                        implicitD0: Boolean): Int = {
    // the decoder's LUT index is rangeIdx for implicit commands (0..1)
    // and rangeIdx - 2 for explicit ones (0..8)
    val hi = if (implicitD0) 2 else 9
    var li = 0
    while (li < hi) {
      val ic = InsRangeLut(li)
      val cc = CpyRangeLut(li)
      if (insCode >= ic && insCode < ic + 8 && cpyCode >= cc && cpyCode < cc + 8) {
        val rangeIdx = if (implicitD0) li else li + 2
        return (rangeIdx << 6) | ((insCode - ic) << 3) | (cpyCode - cc)
      }
      li += 1
    }
    throw new IllegalArgumentException(s"no cell for ($insCode, $cpyCode)")
  }

  /** Distance code + extra for distance D under NPOSTFIX=0, NDIRECT=0. */
  private def distCode(d: Int): (Int, Int, Int) = {
    var dcode = 16
    while (dcode < 64) {
      val x = dcode - 16
      val ndistbits = 1 + (x >> 1)
      val offset = ((2 + (x & 1)) << ndistbits) - 4
      val extra = d - 1 - offset
      if (extra >= 0 && extra < (1 << ndistbits)) return (dcode, extra, ndistbits)
      dcode += 1
    }
    throw new IllegalArgumentException(s"no distance code for $d")
  }

  /** The all-256-at-length-8 complex literal code, emitted through the
    * accumulating repeat-16 chain (1 + [5→17→64→251] + 4 = 256). */
  private def writeLiteralCode(w: LsbWriter): Unit = {
    w.writeBits(0, 2) // HSKIP = 0
    // code-length code lengths in ClOrder = [1,2,3,4,0,5,17,6,16,7,8,…]:
    // zeros for 1,2,3,4,0,5,17,6 then len1 for 16, zero for 7, len1 for 8
    // (fixed code: value 0 = '00', value 1 = bits 1,1,1,0); space hits 0
    // exactly after symbol 8's entry, ending the header.
    for (_ <- 0 until 8) w.writeBits(0, 2)
    w.writeBits(0x7, 3); w.writeBits(0, 1) // value 1 for symbol 16
    w.writeBits(0, 2) // value 0 for symbol 7
    w.writeBits(0x7, 3); w.writeBits(0, 1) // value 1 for symbol 8
    // CL code now: '0' → symbol 8 (length 8), '1' → symbol 16 (repeat)
    w.writeCode(0, 1) // one explicit length-8
    for (e <- Seq(2, 2, 1, 0)) { // accumulating chain: 5, 17, 64, 251
      w.writeCode(1, 1); w.writeBits(e, 2)
    }
    for (_ <- 0 until 4) w.writeCode(0, 1) // four more: total 256
  }

  private[graft] def expectedText(docId: Long, lang: String): String = {
    val k = ((docId % 251) + 251) % 251
    val base = s"brotli doc $docId in $lang "
    val reps = (k % 6 + 2).toInt
    (if (k % 3 == 0) s"RAW:$docId;" else "") +
      base * reps +
      (if (k % 4 == 0) " END" else "")
  }

  /** Valid brotli stream carrying ARBITRARY bytes: a chain of
    * uncompressed meta-blocks (≤ 65536 each) closed by an empty last
    * block — the stored mode every conformant decoder must accept.
    * Used by fixtures whose payload is a brotli slot (WOFF2's table
    * blob, metadata) without needing a real entropy encoder. */
  def encodeRaw(data: Array[Byte]): Array[Byte] = {
    val w = new LsbWriter
    w.writeBits(0, 1) // WBITS = 16
    var pos = 0
    while (pos < data.length) {
      val n = math.min(1 << 16, data.length - pos)
      w.writeBits(0, 1) // ISLAST = 0
      w.writeBits(0, 2) // MNIBBLES = 4
      w.writeBits(n - 1, 16)
      w.writeBits(1, 1) // ISUNCOMPRESSED
      w.alignZero()
      w.writeBytes(java.util.Arrays.copyOfRange(data, pos, pos + n))
      pos += n
    }
    w.writeBits(1, 1) // ISLAST
    w.writeBits(1, 1) // ISLASTEMPTY
    w.toBytes
  }

  /** One complete brotli stream whose decode equals
    * [[expectedText]](docId, lang). */
  def encode(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val base = s"brotli doc $docId in $lang ".getBytes("UTF-8")
    val reps = (k % 6 + 2).toInt
    val withRaw = k % 3 == 0
    val withTail = k % 4 == 0
    val copyLen = base.length * (reps - 1)
    val mlen = base.length + copyLen + (if (withTail) 4 else 0)

    val w = new LsbWriter
    w.writeBits(0, 1) // WBITS = 16

    if (withRaw) {
      val raw = s"RAW:$docId;".getBytes("UTF-8")
      w.writeBits(0, 1) // ISLAST = 0
      w.writeBits(0, 2) // MNIBBLES = 4
      w.writeBits(raw.length - 1, 16)
      w.writeBits(1, 1) // ISUNCOMPRESSED
      w.alignZero()
      w.writeBytes(raw)
    }

    // last meta-block, compressed
    w.writeBits(1, 1) // ISLAST
    w.writeBits(0, 1) // ISLASTEMPTY = 0
    w.writeBits(0, 2) // MNIBBLES = 4
    w.writeBits(mlen - 1, 16)
    w.writeBits(0, 3) // NBLTYPES L/I/D = 1 each
    w.writeBits(0, 2) // NPOSTFIX = 0
    w.writeBits(0, 4) // NDIRECT = 0
    w.writeBits(0, 2) // context mode LSB6 for the one literal block type
    w.writeBits(0, 1) // NTREESL = 1
    w.writeBits(0, 1) // NTREESD = 1

    writeLiteralCode(w)

    // command code (simple, 704-symbol alphabet → 10-bit symbols)
    val (insC1, insX1, insXB1) = findLenCode(base.length, InsBase, InsExtra)
    val (cpyC1, cpyX1, cpyXB1) = findLenCode(copyLen, CpyBase, CpyExtra)
    val cmd1 = cmdSymbol(insC1, cpyC1, implicitD0 = false)
    val cmd2 = if (withTail) cmdSymbol(4, 0, implicitD0 = true) else -1
    w.writeBits(1, 2) // HSKIP = 1 (simple)
    if (withTail) {
      w.writeBits(1, 2) // NSYM = 2
      w.writeBits(cmd1, 10)
      w.writeBits(cmd2, 10)
    } else {
      w.writeBits(0, 2) // NSYM = 1
      w.writeBits(cmd1, 10)
    }
    // canonical 1-bit codes: the smaller symbol gets '0'
    val cmd1Code = if (withTail && cmd2 < cmd1) 1 else 0

    // distance code (simple, one symbol; alphabet 16+0+48=64 → 6 bits)
    val (dc, dx, dxb) = distCode(base.length)
    w.writeBits(1, 2) // HSKIP = 1
    w.writeBits(0, 2) // NSYM = 1
    w.writeBits(dc, 6)

    // command 1: insert base, copy (reps-1)·|base| at distance |base|
    if (withTail) w.writeCode(cmd1Code, 1) // NSYM=1 cmd code reads 0 bits
    w.writeBits(insX1, insXB1)
    w.writeBits(cpyX1, cpyXB1)
    base.foreach(b => w.writeCode(b & 0xff, 8)) // literal code: sym == codeword
    // distance symbol: 0 bits (single-symbol tree); extra bits follow
    w.writeBits(dx, dxb)

    if (withTail) {
      // command 2: insert " END"; MLEN hits 0 → copy part is skipped
      w.writeCode(1 - cmd1Code, 1)
      // insCode 4 and cpyCode 0 carry no extra bits
      " END".getBytes("UTF-8").foreach(b => w.writeCode(b & 0xff, 8))
    }
    w.toBytes
  }
}
