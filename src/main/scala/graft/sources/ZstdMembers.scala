package graft.sources

import graft.core.Bytes.u32le

import java.io.{ByteArrayInputStream, EOFException, IOException, InputStream}

import com.github.luben.zstd.ZstdInputStream

/** Member-stream abstraction shared by the archive readers: a
  * concatenation of independently-decompressible members, each starting
  * at a recorded compressed-stream offset (the seekable-`offset`
  * contract the ARC/WARC scans expose). */
trait MemberStream {
  /** The decompressed payload of the next member, or null at clean EOF. */
  def nextMember(): InputStream
  /** Compressed-stream offset of the most recent member's first byte. */
  def memberOffset: Long
}

/** Streaming reader for a concatenation of zstd frames — the `.warc.zst`
  * layout the archive ecosystem is adopting next to `.warc.gz` (one
  * record per frame, member-seekable; IIPC warc-specifications
  * warc-zstd). The dictionary slot is SUPPORTED on the read side: a
  * skippable frame with magic 0x184D2A5D (the warc-zstd dictionary
  * magic) is captured — raw, or itself a zstd frame that is inflated
  * under a budget — and subsequent frames whose header carries a
  * Dictionary_ID decode against it (the whole point of that slot: one
  * shared dictionary amortized over millions of small records). A
  * formatted dictionary's embedded ID (magic 0xEC30A437, RFC 8878 §5)
  * is checked against each frame's declared ID. Other skippable frames
  * (RFC 8878 §9.2) are passed over. [[graft.sources.v2.WarcEncoder]]
  * writes self-contained frames unless `dictSamples` > 0, when it writes
  * this dictionary slot first.
  *
  * Member boundaries are found by walking the frame's block headers
  * (RFC 8878 §3.1.1: each block header carries its on-wire size, so the
  * frame end is reachable WITHOUT decompressing) — the same
  * constant-window discipline as [[GzipMembers]], then each frame
  * inflates independently through zstd-jni. All length fields are
  * untrusted: per-frame compressed-size budget, reserved bits and block
  * types rejected.
  */
final class ZstdMembers(in: InputStream, bufSize: Int = 1 << 16)
    extends MemberStream {
  private val buf = new Array[Byte](bufSize)
  private var bufLen = 0
  private var bufPos = 0
  private var eof = false
  private var pos = 0L

  var memberOffset: Long = -1L

  /** Compressed bytes of one frame must fit this budget (a frame is one
    * WARC record; 1 GiB of compressed record is damage, not data). */
  private val MaxFrameBytes = 1 << 30

  /** A shared dictionary bigger than this is damage, not data (zstd's
    * own training tools default to ~112 KiB). */
  private val MaxDictBytes = 8 << 20

  /** warc-zstd dictionary skippable-frame magic (0x184D2A5D). */
  private val DictMagic = 0x184d2a5dL

  private var dict: Array[Byte] = null
  private var dictEmbeddedId = 0L // 0 = raw content dictionary (no ID)

  /** Capture the dictionary slot's content: raw, or a zstd frame
    * inflated under [[MaxDictBytes]]. */
  private def loadDict(content: Array[Byte]): Unit = {
    val bytes = ZstdMembers.captureDict(content)
    dict = bytes
    dictEmbeddedId = ZstdMembers.embeddedDictId(bytes)
  }

  private def fill(): Boolean = {
    if (bufPos < bufLen) return true
    if (eof) return false
    bufLen = in.read(buf)
    bufPos = 0
    if (bufLen <= 0) { eof = true; bufLen = 0; false }
    else true
  }

  private def readByte(): Int =
    if (!fill()) -1
    else { val b = buf(bufPos) & 0xff; bufPos += 1; pos += 1; b }

  private def need(out: java.io.ByteArrayOutputStream): Int = {
    val b = readByte()
    if (b < 0) throw new EOFException(s"truncated zstd frame at offset $pos")
    if (out != null) {
      if (out.size() >= MaxFrameBytes)
        throw new IOException(s"zstd frame exceeds $MaxFrameBytes bytes")
      out.write(b)
    }
    b
  }

  private def copyN(n: Long, out: java.io.ByteArrayOutputStream): Unit = {
    var left = n
    while (left > 0) { need(out); left -= 1 }
  }

  private def readMagic(out: java.io.ByteArrayOutputStream): Long = {
    val b0 = readByte()
    if (b0 < 0) return -1L
    if (out != null) out.write(b0)
    (b0.toLong | (need(out).toLong << 8) | (need(out).toLong << 16) |
      (need(out).toLong << 24)) & 0xffffffffL
  }

  def nextMember(): InputStream = {
    while (true) {
      memberOffset = pos
      val frame = new java.io.ByteArrayOutputStream(1 << 12)
      val magic = readMagic(frame)
      if (magic == -1L) return null
      if (magic >= 0x184d2a50L && magic <= 0x184d2a5fL) {
        // skippable frame: 4-byte LE size, then content. The dictionary
        // magic's content is CAPTURED (budgeted); others are passed over.
        val n = readMagic(null)
        if (n == -1L) throw new EOFException("truncated skippable frame")
        if (n > MaxFrameBytes)
          throw new IOException(s"skippable frame declares $n bytes")
        if (magic == DictMagic) {
          if (n > MaxDictBytes)
            throw new IOException(s"zstd dictionary frame declares $n bytes")
          val content = new java.io.ByteArrayOutputStream(n.toInt)
          copyN(n, content)
          loadDict(content.toByteArray)
        } else copyN(n, null)
      } else if (magic == 0xfd2fb528L) {
        // frame header
        val fhd = need(frame)
        if ((fhd & 0x08) != 0)
          throw new IOException("zstd frame header reserved bit set")
        val singleSegment = (fhd & 0x20) != 0
        if (!singleSegment) need(frame) // window descriptor
        val dictIdLen = (fhd & 3) match {
          case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
        }
        var frameDictId = 0L
        var i = 0
        while (i < dictIdLen) { // LE Dictionary_ID, kept in the frame bytes
          frameDictId |= need(frame).toLong << (8 * i)
          i += 1
        }
        if (dictIdLen > 0) {
          if (dict == null)
            throw new IOException(
              s"zstd frame needs dictionary $frameDictId but no dictionary " +
                "skippable frame (0x184D2A5D) preceded it")
          if (dictEmbeddedId != 0L && frameDictId != 0L &&
              frameDictId != dictEmbeddedId)
            throw new IOException(
              s"zstd frame wants dictionary $frameDictId, stream carries " +
                s"$dictEmbeddedId")
        }
        val fcsLen = (fhd >>> 6) match {
          case 0 => if (singleSegment) 1 else 0
          case 1 => 2; case 2 => 4; case _ => 8
        }
        copyN(fcsLen, frame)
        // blocks: 3-byte LE header carries last-bit, type, on-wire size
        var last = false
        while (!last) {
          val h = need(frame) | (need(frame) << 8) | (need(frame) << 16)
          last = (h & 1) != 0
          val btype = (h >>> 1) & 3
          val bsize = h >>> 3
          if (btype == 3) throw new IOException("reserved zstd block type")
          val wire = if (btype == 1) 1 else bsize // RLE stores one byte
          copyN(wire, frame)
        }
        if ((fhd & 0x04) != 0) copyN(4, frame) // content checksum
        val zin = new ZstdInputStream(new ByteArrayInputStream(frame.toByteArray))
        // once the dictionary slot is captured, every frame decodes
        // against it: ID-bearing frames need it (checked above), and
        // raw-content dictionaries produce ID-less frames that still
        // reference the dict window; a frame that never references the
        // dictionary decodes identically with it set.
        return if (dict != null) zin.setDict(dict) else zin
      } else
        throw new IOException(f"bad zstd magic $magic%08x at offset ${pos - 4}")
    }
    null // unreachable
  }
}

object ZstdMembers {

  /** A shared dictionary bigger than this is damage, not data. */
  private[sources] val MaxDictBytes = 8 << 20

  private def isZstdFrame(b: Array[Byte], off: Int): Boolean =
    b.length >= off + 4 && u32le(b, off) == 0xfd2fb528L

  /** The dictionary slot's usable bytes: raw content, or a zstd frame
    * inflated under [[MaxDictBytes]]. */
  private[sources] def captureDict(content: Array[Byte]): Array[Byte] =
    if (isZstdFrame(content, 0)) {
      val zin = new ZstdInputStream(new ByteArrayInputStream(content))
      try {
        val d = zin.readNBytes(MaxDictBytes + 1)
        if (d.length > MaxDictBytes)
          throw new IOException(s"zstd dictionary exceeds $MaxDictBytes bytes")
        d
      } finally zin.close()
    } else content

  /** Embedded ID of a formatted dictionary (magic 0xEC30A437, RFC 8878
    * §5); 0 for a raw-content dictionary. */
  private[sources] def embeddedDictId(bytes: Array[Byte]): Long =
    if (bytes.length >= 8 && u32le(bytes, 0) == 0xec30a437L) u32le(bytes, 4)
    else 0L

  /** Scan the HEAD of whole-archive bytes for the warc-zstd dictionary
    * skippable frame (0x184D2A5D) — the layout the writer produces puts
    * it before the first data frame, so the walk stops at the first
    * non-skippable magic. Returns the captured (possibly inflated)
    * dictionary bytes, or null when the head carries no dictionary.
    * This is the point-access analogue of the streaming capture above:
    * [[graft.sources.v2.WarcRecords.fetchRecordAt]] needs the dict to
    * decode ID-bearing frames at arbitrary offsets. */
  def dictAtHead(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    var i = 0
    while (i + 8 <= bytes.length) {
      val magic = u32le(bytes, i)
      if (magic >= 0x184d2a50L && magic <= 0x184d2a5fL) {
        val n = u32le(bytes, i + 4)
        if (i + 8 + n > bytes.length) return null
        if (magic == 0x184d2a5dL) {
          // The dict budget applies only to the dict slot itself; a large
          // benign skippable frame before it is skipped, not fatal.
          if (n > MaxDictBytes) return null
          return captureDict(
            java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + n.toInt))
        }
        i += 8 + n.toInt
      } else return null // first data frame (or gzip member): no dict slot
    }
    null
  }

  /** [[dictAtHead]] over a seekable Hadoop stream via positioned reads —
    * the content-server path, which never loads the whole archive and
    * whose stream pointer is left untouched. */
  def dictAtHead(in: org.apache.hadoop.fs.FSDataInputStream): Array[Byte] = {
    val hdr = new Array[Byte](8)
    var pos = 0L
    while (true) {
      try in.readFully(pos, hdr, 0, 8)
      catch { case _: java.io.EOFException => return null }
      val magic = u32le(hdr, 0)
      if (magic >= 0x184d2a50L && magic <= 0x184d2a5fL) {
        val n = u32le(hdr, 4)
        if (magic == 0x184d2a5dL) {
          // Budget-check only the dict slot; other skippable frames (any
          // size) are stepped over on the positioned-read path too.
          if (n > MaxDictBytes) return null
          val content = new Array[Byte](n.toInt)
          try in.readFully(pos + 8, content, 0, n.toInt)
          catch { case _: java.io.EOFException => return null }
          return captureDict(content)
        }
        pos += 8 + n
      } else return null
    }
    null
  }
}
