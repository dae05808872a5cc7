package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.core.Bits.{MsbReader, MsbWriter}

/** S6: Rice (Golomb, power-of-two) coding and the delta-coded sorted-id
  * list codec built on it — the reference stores per-URL link-fingerprint
  * posting lists this way (util/RiceCoding.java:25,
  * util/CompressedURLFPListV2.java:58). Clean-room implementation: values
  * are split into a unary quotient (`v >>> k` ones then a zero) and a
  * k-bit binary remainder.
  *
  * In the Spark engine Parquet's own encodings make this codec
  * unnecessary for storage; it exists for byte-parity interchange and to
  * cover the operator inventory, with property tests over random lists.
  */
object RiceCoding {

  /** Unary-quotient cap: a quotient of `MaxQuotient` or more is written as
    * an escape (`MaxQuotient` ones, a zero, then the full value in 64 raw
    * bits) — the standard Rice/Golomb guard against outlier gaps, without
    * which a single large value at small k degenerates to ~v unary bits
    * (an OOM for v near 2^40). Legitimate quotients are always <
    * `MaxQuotient`, so decode is unambiguous. */
  val MaxQuotient = 48

  /** Encode non-negative values with Rice parameter k. */
  def encode(values: Seq[Long], k: Int): Array[Byte] = {
    val w = new MsbWriter
    values.foreach { v =>
      require(v >= 0, s"rice coding requires non-negative values, got $v")
      val q = v >>> k
      if (q >= MaxQuotient) {
        var i = 0
        while (i < MaxQuotient) { w.writeBit(1); i += 1 }
        w.writeBit(0)
        w.writeBits(v, 64)
      } else {
        var qq = q
        while (qq > 0) { w.writeBit(1); qq -= 1 }
        w.writeBit(0)
        w.writeBits(v, k)
      }
    }
    w.toBytes
  }

  def decode(bytes: Array[Byte], k: Int, n: Int): Seq[Long] = {
    val r = new MsbReader(bytes)
    (0 until n).map { _ =>
      var q = 0L
      while (r.readBit() == 1) q += 1
      if (q == MaxQuotient) r.readLong(64)
      else (q << k) | r.readLong(k)
    }
  }

  /** Pick k ≈ log2(mean) — the standard near-optimal Rice parameter. */
  def chooseK(values: Seq[Long]): Int = {
    if (values.isEmpty) return 0
    val mean = values.map(_.toDouble).sum / values.size
    math.max(0, math.ceil(math.log(math.max(mean, 1.0)) / math.log(2)).toInt)
  }

  /** Delta+Rice codec for a sorted id list (CompressedURLFPListV2 shape):
    * header = [k:1][count:4][first:8], body = rice-coded gaps. */
  def encodeSortedList(ids: Seq[Long]): Array[Byte] = {
    require(ids == ids.sorted, "list must be sorted")
    val out = new ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    if (ids.isEmpty) { d.writeByte(0); d.writeInt(0); d.writeLong(0L); return out.toByteArray }
    val gaps = ids.zip(ids.head +: ids.init).map { case (a, b) => a - b }.tail
    val k = chooseK(gaps)
    d.writeByte(k)
    d.writeInt(ids.size)
    d.writeLong(ids.head)
    d.write(encode(gaps, k))
    out.toByteArray
  }

  def decodeSortedList(bytes: Array[Byte]): Seq[Long] = {
    val d = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
    val k = d.readByte().toInt
    val n = d.readInt()
    val first = d.readLong()
    if (n == 0) return Seq.empty
    val rest = new Array[Byte](bytes.length - 13)
    d.readFully(rest)
    val gaps = decode(rest, k, n - 1)
    gaps.scanLeft(first)(_ + _)
  }
}
