package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** TAR archive census — entry walk with header-checksum verification.
  * Source releases, dataset dumps, and backup blobs in a crawl are tar
  * (usually inside gzip/zstd members the source layer already peels);
  * the census a pipeline needs before extraction: entry count, byte
  * totals, path census (absolute paths / `..` traversal — the classic
  * tar-slip attack a 100 TB ingest MUST flag before anything unpacks),
  * type mix, and per-header checksum integrity.
  *
  * POSIX ustar layout (public spec): 512-byte header blocks — name(100)
  * mode(8) uid(8) gid(8) size(12, octal) mtime(12) chksum(8) typeflag
  * linkname(100) magic("ustar\0") version uname gname devmajor devminor
  * prefix(155) — data rounded up to 512-byte blocks, two zero blocks at
  * the end. The checksum is the unsigned byte sum of the header with
  * the chksum field read as spaces. All size fields are untrusted:
  * octal parse is strict, entry counts and name lengths budgeted, the
  * walk hops data blocks without reading them (METADATA-ONLY).
  */
object Tar {

  private[graft] final case class Meta(
      nEntries: Long, nFiles: Long, nDirs: Long, sumBytes: Long,
      maxEntryBytes: Long, firstName: String, unsafePaths: Long,
      checksumOk: Boolean)

  private val MaxEntries = 1 << 20

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  private def octal(bytes: Array[Byte], at: Int, len: Int): Long = {
    var i = at
    val end = at + len
    // leading spaces, octal digits, then NUL/space terminator
    while (i < end && bytes(i) == ' ') i += 1
    var v = 0L
    var any = false
    while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
      v = v * 8 + (bytes(i) - '0')
      if (v < 0) return -1L
      any = true
      i += 1
    }
    while (i < end && (bytes(i) == 0 || bytes(i) == ' ')) i += 1
    if (!any || i != end) -1L else v
  }

  private def cstr(bytes: Array[Byte], at: Int, len: Int): String = {
    var z = 0
    while (z < len && bytes(at + z) != 0) z += 1
    new String(bytes, at, z, "UTF-8")
  }

  private[graft] def tarMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try tarMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def tarMetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 1024 || bytes.length % 512 != 0)
      return null
    var p = 0
    var nEntries = 0L; var nFiles = 0L; var nDirs = 0L
    var sumBytes = 0L; var maxEntry = 0L
    var firstName: String = null
    var unsafe = 0L
    var checksumOk = true
    var end = false
    while (!end) {
      if (p + 512 > bytes.length || nEntries >= MaxEntries) return null
      // end-of-archive: a zero block (spec asks for two; accept at EOF)
      var allZero = true
      var zi = p
      while (allZero && zi < p + 512) { if (bytes(zi) != 0) allZero = false; zi += 1 }
      if (allZero) { end = true }
      else {
        if (cstr(bytes, p + 257, 6) != "ustar") return null
        val size = octal(bytes, p + 124, 12)
        val declared = octal(bytes, p + 148, 8)
        if (size < 0 || declared < 0) return null
        // checksum: unsigned byte sum with the chksum field as spaces
        var sum = 0L
        var i = p
        while (i < p + 512) {
          sum += (if (i >= p + 148 && i < p + 156) ' '.toInt
            else bytes(i) & 0xff)
          i += 1
        }
        if (sum != declared) checksumOk = false
        val prefix = cstr(bytes, p + 345, 155)
        val base = cstr(bytes, p, 100)
        val name = if (prefix.isEmpty) base else s"$prefix/$base"
        if (firstName == null) firstName = name
        if (name.startsWith("/") || name.split("/").contains(".."))
          unsafe += 1
        val tf = bytes(p + 156)
        if (tf == '5') nDirs += 1
        else if (tf == '0' || tf == 0) {
          nFiles += 1
          sumBytes += size
          if (size > maxEntry) maxEntry = size
        }
        // other typeflags (links, pax headers) counted as entries only
        val dataBlocks = (size + 511) / 512
        if (p + 512 + dataBlocks * 512 > bytes.length) return null
        p += 512 + (dataBlocks * 512).toInt
        nEntries += 1
      }
    }
    if (nEntries == 0) return null
    Meta(nEntries, nFiles, nDirs, sumBytes, maxEntry, firstName, unsafe,
      checksumOk)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  private def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    val nb = name.getBytes("UTF-8")
    require(nb.length <= 100, "fixture name too long")
    System.arraycopy(nb, 0, h, 0, nb.length)
    def oct(at: Int, len: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (len - 1 - s.length)) + s
      padded.getBytes("ISO-8859-1").copyToArray(h, at)
      h(at + len - 1) = 0
    }
    oct(100, 8, 420) // mode 0644
    oct(108, 8, 0); oct(116, 8, 0)
    oct(124, 12, size)
    oct(136, 12, 1767225600L) // fixed mtime — deterministic
    h(156) = typeflag.toByte
    "ustar".getBytes("ISO-8859-1").copyToArray(h, 257)
    h(262) = 0; h(263) = '0'; h(264) = '0'
    // checksum over the header with chksum as spaces
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(b => sum += b & 0xff)
    val cs = java.lang.Long.toOctalString(sum)
    val padded = ("0" * (6 - cs.length)) + cs
    padded.getBytes("ISO-8859-1").copyToArray(h, 148)
    h(154) = 0; h(155) = ' '
    h
  }

  /** Deterministic ustar fixture: one directory, k%9+1 files of
    * analytic text (one per 512-rounded data block run), an UNSAFE
    * `../escape` member when k%6==0 (the tar-slip case the census must
    * flag), two zero end blocks. */
  private[graft] def encodeTar(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val out = new java.io.ByteArrayOutputStream()
    out.write(header(s"pkg$docId/", 0L, '5'))
    val nf = (k % 9 + 1).toInt
    for (i <- 0 until nf) {
      val data = (s"member $i of doc $docId in $lang " * ((k % 4 + 1).toInt))
        .getBytes("UTF-8")
      out.write(header(s"pkg$docId/f$i.txt", data.length.toLong, '0'))
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      out.write(new Array[Byte](pad))
    }
    if (k % 6 == 0) {
      val esc = s"escaped $docId".getBytes("UTF-8")
      out.write(header("../escape.txt", esc.length.toLong, '0'))
      out.write(esc)
      out.write(new Array[Byte]((512 - esc.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packTar(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => encodeTar(d, l))
    enc(id.cast("long"), lang)
  }

  private val MetaSchema = StructType(Seq(
    StructField("n_entries", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_dirs", LongType, nullable = false),
    StructField("sum_bytes", LongType, nullable = false),
    StructField("max_entry_bytes", LongType, nullable = false),
    StructField("first_name", StringType, nullable = true),
    StructField("unsafe_paths", LongType, nullable = false),
    StructField("checksum_ok", LongType, nullable = false)))

  /** TAR census over [[Seam.rows]]; null/-1 sentinel on
    * malformed input. */
  def decodeTarMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = tarMeta(b)
      if (m == null)
        Row(-1L, -1L, -1L, -1L, -1L, null, -1L, 0L)
      else
        Row(m.nEntries, m.nFiles, m.nDirs, m.sumBytes,
          m.maxEntryBytes, m.firstName, m.unsafePaths,
          if (m.checksumOk) 1L else 0L)
    }
}
