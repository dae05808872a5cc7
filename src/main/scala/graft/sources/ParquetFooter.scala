package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Parquet footer walk over RAW bytes — `PAR1` magic, 4-byte LE footer
  * length, then the Thrift COMPACT-protocol `FileMetaData` struct
  * (format spec: apache/parquet-format parquet.thrift + the compact
  * protocol spec) — extracting what a lake audit needs: row counts, row
  * groups, column paths/types/codecs/encodings, per-chunk byte sizes.
  *
  * Why hand-walk instead of a full reader: auditing a 100 TB lake's
  * layout (row-group sizing, codec drift, encoding regressions, column
  * bloat) needs ONLY the last few KB of each file; a footer walk runs
  * as a cheap corpus-linear kernel over ranged tail reads, no row
  * decode, no schema conversion, no reader allocation. The engine's own
  * scans stay on Spark's native parquet path — this is the metadata
  * TOOL next to them (the s28 manifest builder's forensic sibling).
  *
  * Untrusted input discipline: varints bounded, string/list lengths
  * budgeted, nesting depth capped, every offset bounds-checked; null on
  * malformation, never throws. ParquetFooterSpec referees every
  * extracted field against parquet-mr reading the same bytes.
  */
object ParquetFooter {

  final case class ColumnInfo(
      path: String, typeId: Int, codecId: Int, numValues: Long,
      compressedBytes: Long, uncompressedBytes: Long, encodingIds: Seq[Int])

  final case class RowGroupInfo(
      numRows: Long, totalByteSize: Long, columns: Seq[ColumnInfo])

  final case class FooterInfo(
      version: Int, numRows: Long, createdBy: String,
      schemaLeafNames: Seq[String], rowGroups: Seq[RowGroupInfo])

  /** parquet.thrift CompressionCodec enum names (by ordinal). */
  val CodecNames: Array[String] = Array(
    "uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd",
    "lz4_raw")

  /** parquet.thrift Type enum names (by ordinal). */
  val TypeNames: Array[String] = Array(
    "boolean", "int32", "int64", "int96", "float", "double",
    "byte_array", "fixed_len_byte_array")

  private val MaxStr = 1 << 20
  private val MaxList = 1 << 20
  private val MaxDepth = 32

  // ------------------------------------------------------------------
  // compact-protocol reader
  // ------------------------------------------------------------------

  private final class Reader(b: Array[Byte], var pos: Int, val end: Int) {
    var failed = false
    def fail(): Unit = failed = true
    def u8(): Int = {
      if (failed || pos >= end) { fail(); 0 }
      else { pos += 1; graft.core.Bytes.u8(b, pos - 1) }
    }
    def varint(): Long = {
      var shift = 0
      var v = 0L
      var more = true
      while (more && !failed) {
        if (shift > 63) { fail(); return 0L }
        val x = u8()
        v |= (x & 0x7fL) << shift
        more = (x & 0x80) != 0
        shift += 7
      }
      v
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def skipBytes(n: Long): Unit = {
      if (n < 0 || pos + n > end) fail() else pos += n.toInt
    }
    def str(): String = {
      val n = varint()
      if (failed || n < 0 || n > MaxStr || pos + n > end) { fail(); return null }
      val s = new String(b, pos, n.toInt, "UTF-8")
      pos += n.toInt
      s
    }
  }

  /** Skip one value of compact type `t`. */
  private def skip(r: Reader, t: Int, depth: Int): Unit = {
    if (depth > MaxDepth) { r.fail(); return }
    t match {
      case 1 | 2 => () // bool true/false encoded in the field header
      case 3 | 4 | 5 | 6 => r.zigzag()
      case 7 => r.skipBytes(8)
      case 8 => { val n = r.varint(); r.skipBytes(n) }
      case 9 | 10 =>
        val h = r.u8()
        var size = (h >> 4) & 0x0f
        val et = h & 0x0f
        if (size == 15) size = r.varint().toInt
        if (size < 0 || size > MaxList) { r.fail(); return }
        var i = 0
        while (i < size && !r.failed) {
          // bools inside containers occupy one byte (unlike the
          // value-in-field-header encoding skip() sees from structs)
          if (et == 1 || et == 2) r.skipBytes(1) else skip(r, et, depth + 1)
          i += 1
        }
      case 11 =>
        val size = r.varint()
        if (size < 0 || size > MaxList) { r.fail(); return }
        if (size > 0) {
          val kv = r.u8()
          val kt = (kv >> 4) & 0x0f; val vt = kv & 0x0f
          var i = 0L
          while (i < size && !r.failed) {
            skip(r, kt, depth + 1); skip(r, vt, depth + 1); i += 1
          }
        }
      case 12 => skipStruct(r, depth + 1)
      case _ => r.fail()
    }
  }

  private def skipStruct(r: Reader, depth: Int): Unit = {
    if (depth > MaxDepth) { r.fail(); return }
    var last = 0
    var stop = false
    while (!stop && !r.failed) {
      val h = r.u8()
      if (h == 0) stop = true
      else {
        val delta = (h >> 4) & 0x0f
        val t = h & 0x0f
        last = if (delta != 0) last + delta else r.zigzag().toInt
        skip(r, t, depth)
      }
    }
  }

  /** Walk one struct, calling `onField(fieldId, type)` for fields the
    * caller wants (return true to consume), skipping the rest. */
  private def struct(r: Reader, depth: Int)(onField: (Int, Int) => Boolean): Unit = {
    if (depth > MaxDepth) { r.fail(); return }
    var last = 0
    var stop = false
    while (!stop && !r.failed) {
      val h = r.u8()
      if (h == 0) stop = true
      else {
        val delta = (h >> 4) & 0x0f
        val t = h & 0x0f
        last = if (delta != 0) last + delta else r.zigzag().toInt
        if (!onField(last, t)) skip(r, t, depth)
      }
    }
  }

  private def listHeader(r: Reader): (Int, Int) = {
    val h = r.u8()
    var size = (h >> 4) & 0x0f
    val et = h & 0x0f
    if (size == 15) size = r.varint().toInt
    if (size < 0 || size > MaxList) { r.fail(); (0, 0) } else (size, et)
  }

  // ------------------------------------------------------------------
  // FileMetaData extraction
  // ------------------------------------------------------------------

  /** Parse a parquet file's footer from its raw bytes (whole file or
    * any suffix that still ends with the footer); null on malformation. */
  def parse(bytes: Array[Byte]): FooterInfo = {
    try {
      if (bytes == null || bytes.length < 12) return null
      val n = bytes.length
      if (bytes(n - 4) != 'P' || bytes(n - 3) != 'A' || bytes(n - 2) != 'R' ||
          bytes(n - 1) != '1') return null
      val len = (bytes(n - 8) & 0xff) | ((bytes(n - 7) & 0xff) << 8) |
        ((bytes(n - 6) & 0xff) << 16) | ((bytes(n - 5) & 0xff) << 24)
      if (len <= 0 || len > n - 8) return null
      val r = new Reader(bytes, n - 8 - len, n - 8)

      var version = -1
      var numRows = -1L
      var createdBy: String = null
      val leaves = scala.collection.mutable.ArrayBuffer[String]()
      val groups = scala.collection.mutable.ArrayBuffer[RowGroupInfo]()

      def readColumnMeta(): ColumnInfo = {
        var typeId = -1; var codecId = -1
        var numValues = -1L; var comp = -1L; var uncomp = -1L
        var path: String = null
        val encs = scala.collection.mutable.ArrayBuffer[Int]()
        struct(r, 3) { (id, t) =>
          (id, t) match {
            case (1, 5) => typeId = r.zigzag().toInt; true
            case (2, 9) =>
              val (sz, _) = listHeader(r)
              var i = 0
              while (i < sz && !r.failed) { encs += r.zigzag().toInt; i += 1 }
              true
            case (3, 9) =>
              val (sz, _) = listHeader(r)
              val parts = scala.collection.mutable.ArrayBuffer[String]()
              var i = 0
              while (i < sz && !r.failed) { parts += r.str(); i += 1 }
              path = parts.mkString(".")
              true
            case (4, 5) => codecId = r.zigzag().toInt; true
            case (5, 6) => numValues = r.zigzag(); true
            case (6, 6) => uncomp = r.zigzag(); true
            case (7, 6) => comp = r.zigzag(); true
            case _ => false
          }
        }
        ColumnInfo(path, typeId, codecId, numValues, comp, uncomp, encs.toSeq)
      }

      def readColumnChunk(): ColumnInfo = {
        var ci: ColumnInfo = null
        struct(r, 2) { (id, t) =>
          (id, t) match {
            case (3, 12) => ci = readColumnMeta(); true
            case _ => false
          }
        }
        ci
      }

      def readRowGroup(): RowGroupInfo = {
        var rows = -1L; var tbs = -1L
        val cols = scala.collection.mutable.ArrayBuffer[ColumnInfo]()
        struct(r, 1) { (id, t) =>
          (id, t) match {
            case (1, 9) =>
              val (sz, _) = listHeader(r)
              var i = 0
              while (i < sz && !r.failed) {
                val c = readColumnChunk()
                if (c != null) cols += c
                i += 1
              }
              true
            case (2, 6) => tbs = r.zigzag(); true
            case (3, 6) => rows = r.zigzag(); true
            case _ => false
          }
        }
        RowGroupInfo(rows, tbs, cols.toSeq)
      }

      struct(r, 0) { (id, t) =>
        (id, t) match {
          case (1, 5) => version = r.zigzag().toInt; true
          case (2, 9) =>
            val (sz, _) = listHeader(r)
            var i = 0
            while (i < sz && !r.failed) {
              // SchemaElement: keep leaf names (num_children absent/0)
              var name: String = null
              var children = 0
              struct(r, 1) { (sid, st) =>
                (sid, st) match {
                  case (4, 8) => name = r.str(); true
                  case (5, 5) => children = r.zigzag().toInt; true
                  case _ => false
                }
              }
              if (name != null && children == 0 && i > 0) leaves += name
              i += 1
            }
            true
          case (3, 6) => numRows = r.zigzag(); true
          case (4, 9) =>
            val (sz, _) = listHeader(r)
            var i = 0
            while (i < sz && !r.failed) { groups += readRowGroup(); i += 1 }
            true
          case (6, 8) => createdBy = r.str(); true
          case _ => false
        }
      }
      if (r.failed || numRows < 0) null
      else FooterInfo(version, numRows, createdBy, leaves.toSeq, groups.toSeq)
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** The footer of the parquet file at `path`, from two positioned reads
    * of its tail (the footer length, then the footer); null on
    * malformation, as [[parse]]. */
  def read(fs: FileSystem, path: Path): FooterInfo = {
    val len = fs.getFileStatus(path).getLen
    if (len < 12) return null
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      val n = graft.core.Bytes.i32le(tail, 0)
      if (n <= 0 || n > len - 12) null
      else {
        val footer = new Array[Byte](n + 8)
        in.readFully(len - 8 - n, footer)
        parse(footer)
      }
    } finally in.close()
  }
}
