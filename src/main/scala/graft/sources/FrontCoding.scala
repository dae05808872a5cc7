package graft.sources

import graft.core.Bytes.{i32be, put32be}

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** S18: front-coding (shared-prefix compression) for SORTED string lists
  * — the classic layout for URL dictionaries and CDX-style index keys
  * (sorted SURTs share long prefixes; each entry stores only
  * (lcp-with-previous, suffix)). Every `restartInterval`-th entry is a
  * RESTART: written in full, and its byte offset is persisted in a
  * trailer table, so a reader binary-searches the restart table —
  * decoding ONLY the R restart strings it probes — and then scans at
  * most one interval: O(log R + B) per probe instead of O(list).
  *
  * Layout (the LevelDB/SSTable block shape, public format): varint
  * count, varint restartInterval, then per entry varint lcp (0 at
  * restarts), varint suffixLen, suffix bytes (UTF-8); then a trailer of
  * R fixed u32-BE restart offsets (absolute positions of the restart
  * entries) and a final u32-BE R. Fixed-width trailer ints are what
  * make the restart table itself random-accessible — varints would need
  * a scan to find the k-th offset, defeating the binary search.
  * LCPs are computed on UTF-8 BYTES — a restart boundary can never split
  * a code point because restarts are whole strings, and within an
  * interval the decoder reassembles bytes before decoding UTF-8, so
  * multi-byte code points shared across entries round-trip exactly.
  *
  * In the Spark engine Parquet dictionary/delta-byte-array encodings
  * subsume this for storage (ParquetWriter applies DELTA_BYTE_ARRAY —
  * exactly front-coding — to sorted string columns); it exists for
  * byte-parity interchange with front-coded shards and to cover the
  * operator inventory, with property fuzz in SourcesSpec.
  */
object FrontCoding {

  val DefaultRestartInterval = 16

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint must be non-negative: $v")
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def readU32(b: Array[Byte], at: Int): Int = {
    require(at >= 0 && at + 4 <= b.length, "truncated trailer")
    i32be(b, at)
  }

  private final class Reader(b: Array[Byte], end: Int) {
    var pos = 0
    def varint(): Long = {
      var shift = 0; var acc = 0L
      while ({
        require(pos < end, "truncated varint")
        val x = b(pos) & 0xff; pos += 1
        acc |= (x & 0x7fL) << shift; shift += 7
        (x & 0x80) != 0
      }) ()
      acc
    }
    def bytes(n: Int): Array[Byte] = {
      require(n >= 0 && pos + n <= end, "truncated suffix")
      val r = java.util.Arrays.copyOfRange(b, pos, pos + n); pos += n; r
    }
  }

  /** Byte offset where the entry region ends (= trailer start), plus the
    * restart count, validated against the block length. */
  private def trailer(b: Array[Byte]): (Int, Int) = {
    require(b.length >= 4, "block too short for a trailer")
    val r = readU32(b, b.length - 4)
    // Long math: a corrupt count like 2^29 makes `4 * r` wrap to 0 in
    // Int and sail past the validation into a garbage decode
    val entriesEnd = b.length - 4 - 4L * r
    require(r >= 0 && entriesEnd >= 0, s"corrupt restart count $r")
    (entriesEnd.toInt, r)
  }

  private def lcp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i
  }

  /** Encode a SORTED (ascending, duplicates allowed) string list.
    * Sortedness is the caller's contract (it is what creates shared
    * prefixes); encoding never depends on it for correctness — any list
    * round-trips — but an unsorted list just compresses poorly and
    * breaks only [[lookup]] (as with any index). */
  def encodeSortedList(xs: Seq[String],
      restartInterval: Int = DefaultRestartInterval): Array[Byte] = {
    require(restartInterval >= 1, "restartInterval must be >= 1")
    val out = new ByteArrayOutputStream()
    writeVarint(out, xs.length.toLong)
    writeVarint(out, restartInterval.toLong)
    val restarts = new scala.collection.mutable.ArrayBuffer[Int]()
    var prev: Array[Byte] = Array.emptyByteArray
    var i = 0
    xs.foreach { s =>
      val cur = s.getBytes(UTF_8)
      val restart = i % restartInterval == 0
      if (restart) restarts += out.size()
      val p = if (restart) 0 else lcp(prev, cur)
      writeVarint(out, p.toLong)
      writeVarint(out, (cur.length - p).toLong)
      out.write(cur, p, cur.length - p)
      prev = cur
      i += 1
    }
    restarts.foreach(put32be(out, _))
    put32be(out, restarts.length)
    out.toByteArray
  }

  def decodeSortedList(b: Array[Byte]): Seq[String] = {
    val (entriesEnd, _) = trailer(b)
    val r = new Reader(b, entriesEnd)
    val n = r.varint().toInt
    r.varint() // restartInterval: layout metadata, not needed to scan
    val res = new scala.collection.mutable.ArrayBuffer[String](n)
    var prev: Array[Byte] = Array.emptyByteArray
    var i = 0
    while (i < n) {
      val p = r.varint().toInt
      val sl = r.varint().toInt
      require(p <= prev.length, "lcp exceeds previous entry")
      val cur = new Array[Byte](p + sl)
      System.arraycopy(prev, 0, cur, 0, p)
      System.arraycopy(r.bytes(sl), 0, cur, p, sl)
      res += new String(cur, UTF_8)
      prev = cur
      i += 1
    }
    res.toSeq
  }

  /** Point lookup WITHOUT full decode: binary-search the persisted
    * restart-offset table — decoding only the ≤ log₂R restart strings
    * the search probes — then scan at most one interval. Returns the
    * index of `key` in the encoded list, or -1. Requires the list to
    * have been SORTED at encode time (the lookup contract, as with any
    * index). */
  def lookup(b: Array[Byte], key: String): Int = {
    val keyB = key.getBytes(UTF_8)
    def cmp(x: Array[Byte], y: Array[Byte]): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    val (entriesEnd, restartCount) = trailer(b)
    val header = new Reader(b, entriesEnd)
    val n = header.varint().toInt
    val interval = header.varint().toInt
    if (n == 0 || restartCount == 0) return -1
    // a restart entry is a FULL string (lcp 0): decodable straight from
    // its trailer offset with no predecessor state
    def restartString(ri: Int): Array[Byte] = {
      val r = new Reader(b, entriesEnd)
      r.pos = readU32(b, entriesEnd + 4 * ri)
      val p = r.varint().toInt
      require(p == 0, "restart entry with nonzero lcp")
      r.bytes(r.varint().toInt)
    }
    // binary search the restart table for the last restart ≤ key
    if (cmp(restartString(0), keyB) > 0) return -1
    var lo = 0
    var hi = restartCount - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (cmp(restartString(mid), keyB) <= 0) lo = mid else hi = mid - 1
    }
    // scan the one owning interval from its restart
    val r2 = new Reader(b, entriesEnd)
    r2.pos = readU32(b, entriesEnd + 4 * lo)
    var prev2: Array[Byte] = Array.emptyByteArray
    var j = lo * interval
    val end = math.min(n, (lo + 1) * interval)
    while (j < end) {
      val p = r2.varint().toInt
      val sl = r2.varint().toInt
      val cur = new Array[Byte](p + sl)
      System.arraycopy(prev2, 0, cur, 0, p)
      System.arraycopy(r2.bytes(sl), 0, cur, p, sl)
      val c = cmp(cur, keyB)
      if (c == 0) return j
      if (c > 0) return -1 // sorted: passed where the key would sit
      prev2 = cur
      j += 1
    }
    -1
  }
}
