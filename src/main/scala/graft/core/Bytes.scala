package graft.core

import java.io.ByteArrayOutputStream

/** Fixed-width integer reads and writes over byte arrays: the one set of
  * byte primitives under every binary container walker.
  *
  * Readers index the array directly, so an out-of-range read throws
  * `ArrayIndexOutOfBoundsException`; each walker keeps its own range
  * checks (or its `NonFatal` net) and turns a short read into its own
  * sentinel. Signedness is in the name: `u32*` return the unsigned value
  * as a `Long`, `i32*` the two's-complement `Int`. Nothing here allocates
  * except [[fourCC]], and nothing boxes: several walkers call these per
  * pixel or per byte. Fields narrower than a byte, or not aligned to
  * one, are read and written through [[Bits]]. */
object Bytes {
  @inline def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  @inline def u16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  @inline def u16be(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  @inline def u24le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)
  @inline def u24be(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 16) | (u8(b, i + 1) << 8) | u8(b, i + 2)

  @inline def i32le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  @inline def i32be(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  @inline def u32le(b: Array[Byte], i: Int): Long = i32le(b, i) & 0xffffffffL
  @inline def u32be(b: Array[Byte], i: Int): Long = i32be(b, i) & 0xffffffffL

  /** Eight bytes; a value at or above 2^63 reads negative. */
  @inline def u64le(b: Array[Byte], i: Int): Long = u32le(b, i) | (u32le(b, i + 4) << 32)
  @inline def u64be(b: Array[Byte], i: Int): Long = (u32be(b, i) << 32) | u32be(b, i + 4)

  /** The four-byte tag at `i` (a RIFF chunk id, an ISOBMFF box type),
    * one char per byte (ISO-8859-1). */
  def fourCC(b: Array[Byte], i: Int): String = new String(b, i, 4, "ISO-8859-1")

  def put16le(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v); o.write(v >> 8) }
  def put16be(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v >> 8); o.write(v) }
  def put24le(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v); o.write(v >> 8); o.write(v >> 16)
  }
  def put32le(o: ByteArrayOutputStream, v: Long): Unit = {
    o.write(v.toInt); o.write((v >> 8).toInt); o.write((v >> 16).toInt); o.write((v >> 24).toInt)
  }
  def put32be(o: ByteArrayOutputStream, v: Long): Unit = {
    o.write((v >> 24).toInt); o.write((v >> 16).toInt); o.write((v >> 8).toInt); o.write(v.toInt)
  }
}
