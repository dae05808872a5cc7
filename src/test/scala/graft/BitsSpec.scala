package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Bits
import graft.core.Bits.{LsbReader, LsbWriter, MsbReader, MsbWriter, PrefixCode}
import graft.ops.Vp8l

/** The shared bit readers and writers under every codec: round trips in
  * both bit orders, byte alignment, the one failure on a read past the
  * end, and the canonical prefix-code builder. */
class BitsSpec extends AnyFunSuite {

  /** Random (value, width) fields, every edge width among them. */
  private def fields(rnd: Random, maxWidth: Int): Seq[(Long, Int)] = {
    val edges = Seq(0, 1, 31, 32) ++ (if (maxWidth == 64) Seq(33, 63, 64) else Nil)
    val widths = rnd.shuffle(edges ++ Seq.fill(300)(rnd.nextInt(maxWidth + 1)))
    widths.map(n => (rnd.nextLong(), n))
  }

  private def low(v: Long, n: Int): Long = if (n == 64) v else v & ((1L << n) - 1)

  test("MSB-first: writer to reader round trip over random widths, 64-bit reads included") {
    val rnd = new Random(21)
    for (_ <- 1 to 20) {
      val fs = fields(rnd, 64)
      val w = new MsbWriter
      fs.foreach { case (v, n) => w.writeBits(v, n) }
      val r = new MsbReader(w.toBytes)
      fs.foreach { case (v, n) =>
        val got = if (n <= 32) r.readBits(n) & 0xffffffffL else r.readLong(n)
        assert(got == low(v, n), s"width $n")
      }
    }
  }

  test("MSB-first: bit order, signed fields, and the byte layout") {
    val w = new MsbWriter
    w.writeBit(1); w.writeBits(0x5, 3); w.writeBits(0xf, 4) // 1 101 1111
    w.writeBits(0x3, 2) // 11 then zero padding
    val b = w.toBytes
    assert(b.toSeq.map(_ & 0xff) == Seq(0xdf, 0xc0))
    val r = new MsbReader(b)
    assert(r.readBit() == 1)
    assert(r.readSigned(3) == -3) // 101
    assert(r.readSigned(4) == -1)
    assert(r.readBits(2) == 3)
    val full = new MsbReader(Array.fill[Byte](4)(-1))
    assert(full.readSigned(32) == -1)
  }

  test("LSB-first: writer to reader round trip over random widths") {
    val rnd = new Random(22)
    for (_ <- 1 to 20) {
      val fs = fields(rnd, 32).map { case (v, n) => (v & 0xffffffffL, n) }
      val w = new LsbWriter
      fs.foreach { case (v, n) => w.writeBits(v.toInt, n) }
      val r = new LsbReader(w.toBytes)
      fs.foreach { case (v, n) =>
        assert((r.readBits(n) & 0xffffffffL) == low(v, n), s"width $n")
      }
    }
  }

  test("LSB-first: bit order, and codewords go top bit first") {
    val w = new LsbWriter
    w.writeBits(0x5, 3)  // bits 1,0,1 from the low end
    w.writeCode(0x6, 3)  // codeword 110: bits 1,1,0
    w.writeBit(1)
    assert(w.toBytes.toSeq.map(_ & 0xff) == Seq(0x5d)) // 0 1 011 101, top bit first
    val r = new LsbReader(Array(0x5d.toByte))
    assert(r.readBits(3) == 5)
    assert(Seq(r.readBit(), r.readBit(), r.readBit()) == Seq(1, 1, 0))
  }

  test("byte alignment: both orders skip to the boundary; LSB raw bytes come from it") {
    val mw = new MsbWriter
    mw.writeBits(0x7, 3)
    intercept[IllegalArgumentException](mw.bytesSoFar)
    mw.alignZero()
    mw.writeBits(0xab, 8)
    assert(mw.bytesSoFar.toSeq.map(_ & 0xff) == Seq(0xe0, 0xab))
    val mr = new MsbReader(Array(0x00, 0xe0, 0xab).map(_.toByte), 1)
    assert(mr.bytePos == 1)
    assert(mr.readBits(3) == 7)
    assert(!mr.atByteBoundary && mr.bytePos == 1)
    mr.alignByte()
    assert(mr.atByteBoundary && mr.bytePos == 2)
    assert(mr.readBits(8) == 0xab && mr.bytePos == 3)

    val lw = new LsbWriter
    lw.writeBits(0x3, 2)
    lw.alignZero()
    lw.writeBytes(Array[Byte](1, 2, 3, 4))
    lw.writeBits(0x1, 1)
    val lb = lw.toBytes
    assert(lb.toSeq == Seq[Byte](3, 1, 2, 3, 4, 1))
    val lr = new LsbReader(lb)
    assert(lr.readBits(2) == 3)
    val dst = new Array[Byte](3)
    lr.readBytes(dst, 0, 3) // from the boundary after the 2 bits
    assert(dst.toSeq == Seq[Byte](1, 2, 3))
    lr.skipBytes(1)
    assert(lr.readBit() == 1)
  }

  test("a read past the end raises the one typed failure") {
    def fails(f: => Any): Unit = assert(intercept[RuntimeException](f) eq Bits.Malformed)
    val two = Array[Byte](1, 2)
    fails(new MsbReader(two).readBits(17))
    fails(new MsbReader(two, 2).readBit())
    fails(new MsbReader(two).readLong(64))
    fails(new LsbReader(two).readBits(17))
    fails(new LsbReader(Array.empty[Byte]).readBit())
    fails { val r = new LsbReader(two); r.readBits(8); r.readBytes(new Array[Byte](2), 0, 2) }
    fails { val r = new LsbReader(two); r.skipBytes(3) }
    // the read that fits still succeeds: failure is exactly at the end
    assert(new MsbReader(two).readBits(16) == 0x0102)
    assert(new LsbReader(two).readBits(16) == 0x0201)
  }

  test("prefix codes: the RFC 1951 3.2.2 example lengths give its canonical codewords") {
    // ABCDEFGH with lengths (3, 3, 3, 3, 3, 2, 4, 4)
    val lengths = Array(3, 3, 3, 3, 3, 2, 4, 4)
    val codewords = Seq("010", "011", "100", "101", "110", "00", "1110", "1111")
    val code = PrefixCode(lengths)
    assert(code.complete)
    val w = new LsbWriter
    val order = Seq(5, 0, 7, 3, 6, 1, 2, 4, 5)
    order.foreach { s =>
      w.writeCode(Integer.parseInt(codewords(s), 2), codewords(s).length)
    }
    w.writeBits(0x2a, 7)
    val r = new LsbReader(w.toBytes)
    assert(order.map(_ => code.read(r)) == order)
    assert(r.readBits(7) == 0x2a)
  }

  test("prefix codes: one used symbol is a zero-bit code; no symbol is malformed") {
    val code = PrefixCode(Array(0, 0, 5, 0))
    assert(code.complete)
    val r = new LsbReader(Array(0x6b.toByte))
    assert(code.read(r) == 2 && code.read(r) == 2)
    assert(r.readBits(8) == 0x6b) // no bit consumed
    assert(PrefixCode.single(9).read(new LsbReader(Array.empty[Byte])) == 9)
    assert(intercept[RuntimeException](PrefixCode(Array(0, 0))) eq Bits.Malformed)
    assert(intercept[RuntimeException](PrefixCode(Array(1, 16))) eq Bits.Malformed)
  }

  test("prefix codes: VP8L rejects over- and under-subscribed lengths the builder accepts") {
    val over = Array(1, 1, 1)
    val under = Array(1, 2, 0)
    assert(!PrefixCode(over).complete && !PrefixCode(under).complete)
    // brotli takes the builder's code as is; VP8L adds Kraft equality
    assert(PrefixCode(over).read(new LsbReader(Array[Byte](1))) == 1)
    assert(intercept[RuntimeException](Vp8l.buildCode(over)).getMessage == "malformed vp8l")
    assert(intercept[RuntimeException](Vp8l.buildCode(under)).getMessage == "malformed vp8l")
    assert(Vp8l.buildCode(Array(1, 2, 2)).complete)
  }

  test("prefix codes: a bit sequence that meets no codeword in 15 bits is malformed") {
    val code = PrefixCode(Array(1, 0)) // one symbol: zero bits, always decodes
    assert(code.read(new LsbReader(Array.empty[Byte])) == 0)
    val sparse = PrefixCode(Array(1, 2)) // codewords 0 and 10; 11... never ends
    val r = new LsbReader(Array(-1, -1).map(_.toByte))
    assert(intercept[RuntimeException](sparse.read(r)) eq Bits.Malformed)
  }
}
