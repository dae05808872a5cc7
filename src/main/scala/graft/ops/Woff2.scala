package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.Brotli

/** m43: WOFF2 font census — web fonts are a top-10 crawl mime
  * (font/woff2), and the format's payload IS brotli (W3C WOFF2 REC):
  * a 48-byte header, a table directory whose entries carry a known-tag
  * index (63 = explicit tag), a transform version in the flag's top
  * bits (glyf/loca version 0 means TRANSFORMED — the inverted special
  * case), and UIntBase128 lengths (MSB-first 7-bit groups, leading
  * 0x80 forbidden, 5-byte cap); then ONE brotli stream holding the
  * concatenated (possibly transformed) tables. The census decodes the
  * blob through the x23 [[Brotli]] decoder and verifies its length
  * against the directory sum — the integrity check that catches
  * truncated fetches — plus the extended-metadata slot (also brotli).
  * Glyph reconstruction (the glyf transform inverse) stays out of
  * scope: container material only, the m30–m40 standing. Budgets +
  * NonFatal→null throughout. */
object Woff2 {

  private[graft] final case class Meta(
      flavor: String, nTables: Long, nKnown: Long, nCustom: Long,
      nTransformed: Long, sumOrig: Long, totalSfntSize: Long,
      blobOk: Boolean, decompLen: Long, hasMeta: Boolean, metaOrig: Long)

  /** Known table tags in spec order (W3C WOFF2 §5.2, indices 0..62). */
  private[graft] val KnownTags: Array[String] = Array(
    "cmap", "head", "hhea", "hmtx", "maxp", "name", "OS/2", "post",
    "cvt ", "fpgm", "glyf", "loca", "prep", "CFF ", "VORG", "EBDT",
    "EBLC", "gasp", "hdmx", "kern", "LTSH", "PCLT", "VDMX", "vhea",
    "vmtx", "BASE", "GDEF", "GPOS", "GSUB", "EBSC", "JSTF", "MATH",
    "CBDT", "CBLC", "COLR", "CPAL", "SVG ", "sbix", "acnt", "avar",
    "bdat", "bloc", "bsln", "cvar", "fdsc", "feat", "fmtx", "fvar",
    "gvar", "hsty", "just", "lcar", "mort", "morx", "opbd", "prop",
    "trak", "Zapf", "Silf", "Glat", "Gloc", "Feat", "Sill")

  private val MaxTables = 4096
  private val MaxBlob = 32L << 20 // decompressed table data budget
  private val MaxMeta = 4L << 20

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  private[graft] def woff2Meta(b: Array[Byte]): Meta =
    try woff2MetaImpl(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def woff2MetaImpl(b: Array[Byte]): Meta = {
    if (b == null || b.length < 48) return null
    val n = b.length
    if (u32be(b, 0) != 0x774f4632L) return null // 'wOF2'
    val flavor = u32be(b, 4) match {
      case 0x00010000L => "ttf"
      case 0x4f54544fL => "otf" // 'OTTO'
      case 0x74727565L => "ttf" // 'true'
      case _ => return null
    }
    if (u32be(b, 8) != n) return null // declared total length must match
    val numTables = u16be(b, 12)
    if (numTables == 0 || numTables > MaxTables) return null
    val totalSfntSize = u32be(b, 16)
    val totalCompressedSize = u32be(b, 20)
    val metaOffset = u32be(b, 28)
    val metaLength = u32be(b, 32)
    val metaOrigLength = u32be(b, 36)

    var p = 48
    def base128(): Long = {
      var v = 0L
      var i = 0
      var done = false
      while (!done) {
        if (p >= n || i >= 5) return -1L
        val c = u8(b, p); p += 1
        if (i == 0 && c == 0x80) return -1L // leading zero forbidden
        v = (v << 7) | (c & 0x7f)
        if (v > 0xffffffffL) return -1L
        if ((c & 0x80) == 0) done = true
        i += 1
      }
      v
    }

    var nKnown = 0L
    var nCustom = 0L
    var nTransformed = 0L
    var sumOrig = 0L
    var sumEffective = 0L // transformLength where transformed, else orig
    var t = 0
    while (t < numTables) {
      if (p >= n) return null
      val flags = u8(b, p); p += 1
      val tagIdx = flags & 0x3f
      val version = (flags >> 6) & 3
      val tag =
        if (tagIdx == 63) {
          if (p + 4 > n) return null
          val s = fourCC(b, p); p += 4
          nCustom += 1
          s
        } else { nKnown += 1; KnownTags(tagIdx) }
      val orig = base128()
      if (orig < 0) return null
      // glyf/loca: version 0 IS the transform (the inverted special
      // case); for every other table, nonzero versions are reserved
      val transformed =
        if (tag == "glyf" || tag == "loca") version == 0
        else if (version == 0) false
        else return null
      val eff =
        if (transformed) {
          nTransformed += 1
          val tl = base128()
          if (tl < 0) return null
          tl
        } else orig
      sumOrig += orig
      sumEffective += eff
      if (sumOrig > MaxBlob || sumEffective > MaxBlob) return null
      t += 1
    }

    // the single brotli blob with all (transformed) tables
    if (p + totalCompressedSize > n || totalCompressedSize < 0) return null
    val blob = java.util.Arrays.copyOfRange(b, p, (p + totalCompressedSize).toInt)
    val decomp = Brotli.decode(blob, MaxBlob.toInt)
    val blobOk = decomp != null && decomp.length.toLong == sumEffective
    val decompLen = if (decomp == null) -1L else decomp.length.toLong

    val hasMeta = metaOffset > 0 && metaLength > 0
    var metaOrig = -1L
    if (hasMeta) {
      if (metaOffset + metaLength > n || metaOrigLength > MaxMeta) return null
      val m = Brotli.decode(java.util.Arrays.copyOfRange(
        b, metaOffset.toInt, (metaOffset + metaLength).toInt), MaxMeta.toInt)
      if (m != null) metaOrig = m.length.toLong
    }

    Meta(flavor, numTables.toLong, nKnown, nCustom, nTransformed, sumOrig,
      totalSfntSize, blobOk, decompLen, hasMeta, metaOrig)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  private def writeBase128(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    val groups = Iterator.iterate(v)(_ >>> 7).takeWhile(_ != 0)
      .map(x => (x & 0x7f).toInt).toVector.reverse match {
      case Vector() => Vector(0)
      case gs => gs
    }
    groups.zipWithIndex.foreach { case (g, i) =>
      o.write(if (i + 1 < groups.length) g | 0x80 else g)
    }
  }

  /** Analytic WOFF2: k%6+3 tables — head/cmap/hmtx + transformed
    * glyf/loca when k%2==0 + a custom "GRFT" tag (index 63) + extra
    * known tags; the table blob is stored-mode brotli of analytic
    * bytes ([[graft.core.BrotliFixture.encodeRaw]]); extended metadata
    * present when k%4==0, also brotli. Lengths exercise multi-byte
    * UIntBase128 (orig lengths scale past 127). */
  private[graft] def encodeWoff2(docId: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val withGlyf = k % 2 == 0
    val withMeta = k % 4 == 0
    val flavorBits = if (k % 3 == 0) 0x4f54544fL else 0x00010000L

    // (tag, flagsByte, origLen, transformLenOpt)
    final case class T(tagIdx: Int, tag: String, version: Int,
                       orig: Long, trans: Long)
    val base = Vector(
      T(1, "head", 0, 54, -1),
      T(0, "cmap", 0, k % 900 + 120, -1), // multi-byte base128
      T(3, "hmtx", 0, k % 50 + 8, -1))
    val glyfy =
      if (withGlyf) Vector(
        T(10, "glyf", 0, k % 3000 + 200, k % 700 + 90), // transformed
        T(11, "loca", 0, k % 400 + 100, 0)) // transformed, zero trans len
      else Vector.empty
    val custom = Vector(T(63, "GRFT", 0, k % 200 + 16, -1))
    val extraKnown = (0 until (k % 3).toInt).map(i =>
      T(17 + i, KnownTags(17 + i), 0, 20 + i, -1)).toVector
    val tables = base ++ glyfy ++ custom ++ extraKnown

    val effective = tables.map(t => if (t.trans >= 0) t.trans else t.orig)
    val blobRaw = Array.tabulate(effective.sum.toInt)(i => ((docId + i) % 251).toByte)
    val blob = graft.core.BrotliFixture.encodeRaw(blobRaw)
    val metaXml = s"<metadata doc='$docId'/>".getBytes("UTF-8")
    val meta = if (withMeta) graft.core.BrotliFixture.encodeRaw(metaXml)
      else Array.emptyByteArray

    val dir = new java.io.ByteArrayOutputStream()
    tables.foreach { t =>
      dir.write((t.version << 6) | t.tagIdx)
      if (t.tagIdx == 63) dir.write(t.tag.getBytes("ISO-8859-1"))
      writeBase128(dir, t.orig)
      if (t.trans >= 0) writeBase128(dir, t.trans)
    }
    val dirBytes = dir.toByteArray

    val headerLen = 48
    val metaOffset = if (withMeta) headerLen + dirBytes.length + blob.length else 0
    val total = headerLen + dirBytes.length + blob.length + meta.length

    val o = new java.io.ByteArrayOutputStream(total)
    put32be(o, 0x774f4632L)
    put32be(o, flavorBits)
    put32be(o, total.toLong)
    put16be(o, tables.length); put16be(o, 0)
    put32be(o, 12L + tables.length * 16L + tables.map(_.orig).sum) // sfnt guess
    put32be(o, blob.length.toLong)
    put16be(o, 1); put16be(o, 0)
    put32be(o, metaOffset.toLong); put32be(o, if (withMeta) meta.length.toLong else 0L)
    put32be(o, if (withMeta) metaXml.length.toLong else 0L)
    put32be(o, 0L); put32be(o, 0L) // no private block
    o.write(dirBytes)
    o.write(blob)
    o.write(meta)
    o.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packWoff2(id: Column): Column = {
    val enc = udf((d: Long) => encodeWoff2(d))
    enc(id.cast("long"))
  }

  private val MetaSchema = StructType(Seq(
    StructField("flavor", StringType, nullable = true),
    StructField("n_tables", LongType, nullable = false),
    StructField("n_known", LongType, nullable = false),
    StructField("n_custom", LongType, nullable = false),
    StructField("n_transformed", LongType, nullable = false),
    StructField("sum_orig", LongType, nullable = false),
    StructField("total_sfnt_size", LongType, nullable = false),
    StructField("blob_ok", LongType, nullable = false),
    StructField("decomp_len", LongType, nullable = false),
    StructField("has_meta", LongType, nullable = false),
    StructField("meta_orig", LongType, nullable = false)))

  /** WOFF2 census over [[Seam.rows]]; null/-1 sentinel
    * row on malformed input. */
  def decodeWoff2Meta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = woff2Meta(b)
      if (m == null)
        Row(null, -1L, -1L, -1L, -1L, -1L, -1L, 0L, -1L, 0L, -1L)
      else
        Row(m.flavor, m.nTables, m.nKnown, m.nCustom,
          m.nTransformed, m.sumOrig, m.totalSfntSize,
          if (m.blobOk) 1L else 0L, m.decompLen,
          if (m.hasMeta) 1L else 0L, m.metaOrig)
    }
}
