package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** m40: AVIF/HEIF metadata walk — the fastest-growing image mime on the
  * 2026 web, and the ISOBMFF sibling of the m12 MP4 box walk. Image
  * items live under the `meta` box (ISO/IEC 23008-12 HEIF; AV1-in-HEIF
  * binding for AVIF):
  *
  *   `ftyp` (brand avif/avis/heic/mif1) → `meta` [fullbox]:
  *     `pitm`  primary item ID
  *     `iinf`/`infe` item inventory (item_type: av01 / Exif / mime …)
  *     `iprp`/`ipco` property pool (`ispe` dims, `pixi` channels,
  *                   `auxC` auxiliary-type URN = the alpha signal)
  *     `iprp`/`ipma` item → property associations (1-based into ipco)
  *     `iloc`  per-item extents (offset/length size nibbles, budgeted)
  *
  * The census resolves the PRIMARY item's dimensions/channels through
  * ipma (not "first ispe wins" — alpha items carry their own ispe),
  * flags alpha via any item associated to an `auxC` property, routes
  * `Exif` items (composes with m31), and bounds-checks every iloc
  * extent against the file so truncated fetches surface as intact=0.
  * AV1 pixel decode stays out of scope (not bit-exact-branded the way
  * VP8/VP8L are); every field here is container material. All declared
  * sizes/counts are untrusted and budgeted; NonFatal→null sentinel like
  * every walker.
  */
object Avif {

  private[graft] final case class Meta(
      kind: String, primaryItem: Long, nItems: Long,
      width: Long, height: Long, nChannels: Long,
      hasAlpha: Boolean, hasExif: Boolean,
      primaryBytes: Long, nExtents: Long, boundsOk: Boolean)

  private val Brands = Set("avif", "avis", "heic", "heix", "mif1")
  private val MaxItems = 4096
  private val MaxProps = 256
  private val MaxAssocs = 64
  private val MaxExtents = 256

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  /** The box type at i, or "" past the end of b. */
  private def cc(b: Array[Byte], i: Int): String = if (i + 4 <= b.length) fourCC(b, i) else ""

  private def beN(b: Array[Byte], i: Int, n: Int): Long = { // n in {0,4,8}
    var v = 0L; var j = 0
    while (j < n) { v = (v << 8) | u8(b, i + j); j += 1 }
    v
  }

  /** Resolved extent of the box at i within [i, end): (headerLen,
    * boxEnd) — size==0 extends to end of range, size==1 carries a
    * 64-bit largesize (ISO/IEC 14496-12 §4.2); null on malformed. */
  private def boxExtent(b: Array[Byte], i: Long, end: Long): (Long, Long) = {
    val size = u32be(b, i.toInt)
    if (size == 0) (8L, end)
    else if (size == 1) {
      if (i + 16 > end) null
      else {
        val large = beN(b, i.toInt + 8, 8)
        if (large < 16 || large > end - i) null else (16L, i + large)
      }
    } else if (size < 8 || size > end - i) null
    else (8L, i + size)
  }

  /** First child box named `id` inside [start, end) → body span. */
  private def child(b: Array[Byte], start: Long, end: Long, id: String): Option[(Long, Long)] = {
    var i = start
    while (i + 8 <= end) {
      val ex = boxExtent(b, i, end)
      if (ex == null) return None
      if (cc(b, i.toInt + 4) == id) return Some((i + ex._1, ex._2))
      i = ex._2
    }
    None
  }

  /** All child boxes inside [start, end) as (type, bodyStart, bodyEnd). */
  private def children(b: Array[Byte], start: Long, end: Long,
                       cap: Int = MaxProps): Vector[(String, Long, Long)] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var i = start
    var n = 0
    while (i + 8 <= end && n < cap) {
      val ex = boxExtent(b, i, end)
      if (ex == null) return out.result()
      out += ((cc(b, i.toInt + 4), i + ex._1, ex._2))
      i = ex._2
      n += 1
    }
    out.result()
  }

  private[graft] def avifMeta(b: Array[Byte]): Meta =
    try avifMetaImpl(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def avifMetaImpl(b: Array[Byte]): Meta = {
    if (b == null || b.length < 16) return null
    if (cc(b, 4) != "ftyp") return null
    val brand = cc(b, 8)
    if (!Brands.contains(brand)) return null

    val meta = child(b, 0, b.length.toLong, "meta").getOrElse(return null)
    val mBody = meta._1 + 4 // meta is a FullBox: skip version/flags

    // pitm
    val pitm = child(b, mBody, meta._2, "pitm").getOrElse(return null)
    val pv = u8(b, pitm._1.toInt)
    val primary: Long =
      if (pv == 0) { if (pitm._2 - pitm._1 < 6) return null; u16be(b, pitm._1.toInt + 4).toLong }
      else { if (pitm._2 - pitm._1 < 8) return null; u32be(b, pitm._1.toInt + 4) }

    // iinf / infe: item inventory
    val iinf = child(b, mBody, meta._2, "iinf").getOrElse(return null)
    val iv = u8(b, iinf._1.toInt)
    val declaredItems =
      if (iv == 0) { if (iinf._2 - iinf._1 < 6) return null; u16be(b, iinf._1.toInt + 4).toLong }
      else { if (iinf._2 - iinf._1 < 8) return null; u32be(b, iinf._1.toInt + 4) }
    if (declaredItems > MaxItems) return null
    val infeStart = iinf._1 + (if (iv == 0) 6 else 8)
    var itemTypes = Map.empty[Long, String]
    children(b, infeStart, iinf._2, MaxItems).foreach { case (t, s, e) =>
      if (t == "infe" && e - s >= 8) {
        val v = u8(b, s.toInt)
        if (v == 2 && e - s >= 12)
          itemTypes += u16be(b, s.toInt + 4).toLong -> cc(b, s.toInt + 8)
        else if (v == 3 && e - s >= 14)
          itemTypes += u32be(b, s.toInt + 4) -> cc(b, s.toInt + 10)
      }
    }
    if (itemTypes.size != declaredItems) return null

    // iprp → ipco property pool (1-based) + ipma associations
    val iprp = child(b, mBody, meta._2, "iprp").getOrElse(return null)
    val ipco = child(b, iprp._1, iprp._2, "ipco").getOrElse(return null)
    val props = children(b, ipco._1, ipco._2) // index i ↔ property i+1
    val ipma = child(b, iprp._1, iprp._2, "ipma").getOrElse(return null)
    val av = u8(b, ipma._1.toInt)
    val aflags = u32be(b, ipma._1.toInt) & 0xffffff
    if (ipma._2 - ipma._1 < 8) return null
    val nAssocEntries = u32be(b, ipma._1.toInt + 4)
    if (nAssocEntries > MaxItems) return null
    var assoc = Map.empty[Long, Vector[Int]]
    var p = ipma._1 + 8
    var e = 0L
    while (e < nAssocEntries) {
      val idLen = if (av < 1) 2 else 4
      if (p + idLen + 1 > ipma._2) return null
      val itemId =
        if (av < 1) u16be(b, p.toInt).toLong else u32be(b, p.toInt)
      p += idLen
      val cnt = u8(b, p.toInt); p += 1
      if (cnt > MaxAssocs) return null
      val idxs = Vector.newBuilder[Int]
      var a = 0
      while (a < cnt) {
        if ((aflags & 1) != 0) {
          if (p + 2 > ipma._2) return null
          idxs += (u16be(b, p.toInt) & 0x7fff); p += 2
        } else {
          if (p + 1 > ipma._2) return null
          idxs += (u8(b, p.toInt) & 0x7f); p += 1
        }
        a += 1
      }
      assoc += itemId -> idxs.result()
      e += 1
    }

    def propType(idx1: Int): String =
      if (idx1 >= 1 && idx1 <= props.length) props(idx1 - 1)._1 else ""
    def firstProp(itemId: Long, tpe: String): Option[(Long, Long)] =
      assoc.getOrElse(itemId, Vector.empty).iterator
        .filter(i => propType(i) == tpe)
        .map(i => (props(i - 1)._2, props(i - 1)._3))
        .nextOption()

    val ispe = firstProp(primary, "ispe").getOrElse(return null)
    if (ispe._2 - ispe._1 < 12) return null
    val width = u32be(b, ispe._1.toInt + 4)
    val height = u32be(b, ispe._1.toInt + 8)
    val nChannels = firstProp(primary, "pixi") match {
      case Some((s, e2)) if e2 - s >= 5 => u8(b, s.toInt + 4).toLong
      case _ => -1L
    }
    val hasAlpha = assoc.exists { case (_, idxs) =>
      idxs.exists(i => propType(i) == "auxC")
    }
    val hasExif = itemTypes.valuesIterator.contains("Exif")

    // iloc: extents of the primary item, bounds-checked for ALL items
    val iloc = child(b, mBody, meta._2, "iloc").getOrElse(return null)
    val lv = u8(b, iloc._1.toInt)
    if (iloc._2 - iloc._1 < 8) return null
    val szByte = u8(b, iloc._1.toInt + 4)
    val offSize = (szByte >> 4) & 0xf
    val lenSize = szByte & 0xf
    val bo = u8(b, iloc._1.toInt + 5)
    val baseSize = (bo >> 4) & 0xf
    val idxSize = if (lv == 1 || lv == 2) bo & 0xf else 0
    if (!Set(0, 4, 8).contains(offSize) || !Set(0, 4, 8).contains(lenSize) ||
        !Set(0, 4, 8).contains(baseSize) || !Set(0, 4, 8).contains(idxSize))
      return null
    var q = iloc._1 + 6
    val itemCount: Long =
      if (lv < 2) { if (q + 2 > iloc._2) return null; val c = u16be(b, q.toInt).toLong; q += 2; c }
      else { if (q + 4 > iloc._2) return null; val c = u32be(b, q.toInt); q += 4; c }
    if (itemCount > MaxItems) return null
    var primaryBytes = -1L
    var nExtents = -1L
    var boundsOk = true
    var it = 0L
    while (it < itemCount) {
      val itemId: Long =
        if (lv < 2) { if (q + 2 > iloc._2) return null; val v = u16be(b, q.toInt).toLong; q += 2; v }
        else { if (q + 4 > iloc._2) return null; val v = u32be(b, q.toInt); q += 4; v }
      if (lv == 1 || lv == 2) q += 2 // construction_method
      q += 2 // data_reference_index
      if (q + baseSize > iloc._2) return null
      val base = beN(b, q.toInt, baseSize); q += baseSize
      if (q + 2 > iloc._2) return null
      val extCount = u16be(b, q.toInt); q += 2
      if (extCount > MaxExtents) return null
      var sum = 0L
      var x = 0
      while (x < extCount) {
        if (q + idxSize + offSize + lenSize > iloc._2) return null
        q += idxSize
        val off = beN(b, q.toInt, offSize); q += offSize
        val len = beN(b, q.toInt, lenSize); q += lenSize
        if (base + off < 0 || len < 0 || base + off + len > b.length)
          boundsOk = false
        sum += len
        x += 1
      }
      if (itemId == primary) { primaryBytes = sum; nExtents = extCount.toLong }
      it += 1
    }
    if (primaryBytes < 0) return null

    Meta(brand, primary, itemTypes.size.toLong, width, height, nChannels,
      hasAlpha, hasExif, primaryBytes, nExtents, boundsOk)
  }

  /** The primary item's FIRST extent bytes (the AV1 bitstream head for
    * AVIF stills) — the m44 sequence-header tier reads through this;
    * null on any malformed structure. */
  private[graft] def primaryItemData(b: Array[Byte]): Array[Byte] =
    try {
      val m = avifMetaImpl(b)
      if (m == null || !m.boundsOk) null
      else primaryExtent(b, m.primaryItem)
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Re-walk meta→iloc for one item's first extent slice. */
  private def primaryExtent(b: Array[Byte], itemId: Long): Array[Byte] = {
    val meta = child(b, 0, b.length.toLong, "meta").getOrElse(return null)
    val iloc = child(b, meta._1 + 4, meta._2, "iloc").getOrElse(return null)
    val lv = u8(b, iloc._1.toInt)
    val szByte = u8(b, iloc._1.toInt + 4)
    val offSize = (szByte >> 4) & 0xf
    val lenSize = szByte & 0xf
    val bo = u8(b, iloc._1.toInt + 5)
    val baseSize = (bo >> 4) & 0xf
    val idxSize = if (lv == 1 || lv == 2) bo & 0xf else 0
    var q = iloc._1 + 6
    val itemCount: Long =
      if (lv < 2) { val c = u16be(b, q.toInt).toLong; q += 2; c }
      else { val c = u32be(b, q.toInt); q += 4; c }
    var it = 0L
    while (it < itemCount) {
      val id: Long =
        if (lv < 2) { val v = u16be(b, q.toInt).toLong; q += 2; v }
        else { val v = u32be(b, q.toInt); q += 4; v }
      if (lv == 1 || lv == 2) q += 2
      q += 2
      val base = beN(b, q.toInt, baseSize); q += baseSize
      val extCount = u16be(b, q.toInt); q += 2
      var x = 0
      while (x < extCount) {
        q += idxSize
        val off = beN(b, q.toInt, offSize); q += offSize
        val len = beN(b, q.toInt, lenSize); q += lenSize
        if (id == itemId && x == 0) {
          if (base + off + len > b.length) return null
          return java.util.Arrays.copyOfRange(
            b, (base + off).toInt, (base + off + len).toInt)
        }
        x += 1
      }
      it += 1
    }
    null
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  private def box(tpe: String, body: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(body.length + 8)
    put32be(o, body.length + 8L)
    o.write(tpe.getBytes("US-ASCII"))
    o.write(body)
    o.toByteArray
  }
  private def fullbox(tpe: String, version: Int, flags: Int,
                      body: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(body.length + 12)
    o.write(version); o.write((flags >> 16) & 0xff)
    o.write((flags >> 8) & 0xff); o.write(flags & 0xff)
    o.write(body)
    box(tpe, o.toByteArray)
  }

  /** Analytic AVIF/HEIC: primary av01 item (ispe+pixi via ipma), an
    * auxC-associated alpha item when k%5==0, an Exif item when k%2==1,
    * a never-referenced auxC property as a distractor otherwise, and
    * multi-extent iloc (k%2+1 extents) with real mdat bounds. */
  private[graft] def encodeAvif(docId: Long): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val brand = if (k % 4 == 0) "heic" else "avif"
    val w = k % 200 + 16
    val h = k % 150 + 16
    val ch = (k % 3 + 1).toInt
    val alpha = k % 5 == 0
    val exif = k % 2 == 1
    val nExt = (k % 2 + 1).toInt
    val extLen = k % 900 + 100
    val alphaLen = k % 50 + 10
    val exifLen = 30L

    val ftyp = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(brand.getBytes("US-ASCII")); put32be(o, 0L)
      o.write("mif1".getBytes("US-ASCII")) // compatible brand
      box("ftyp", o.toByteArray)
    }

    def infe(id: Int, tpe: String): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      put16be(o, id); put16be(o, 0)
      o.write(tpe.getBytes("US-ASCII")); o.write(0) // empty item_name
      fullbox("infe", 2, 0, o.toByteArray)
    }
    val itemDefs = Vector((1, "av01")) ++
      (if (alpha) Vector((2, "av01")) else Vector.empty) ++
      (if (exif) Vector((if (alpha) 3 else 2, "Exif")) else Vector.empty)
    val iinf = {
      val o = new java.io.ByteArrayOutputStream()
      put16be(o, itemDefs.size)
      itemDefs.foreach { case (id, t) => o.write(infe(id, t)) }
      fullbox("iinf", 0, 0, o.toByteArray)
    }

    val pitm = {
      val o = new java.io.ByteArrayOutputStream()
      put16be(o, 1)
      fullbox("pitm", 0, 0, o.toByteArray)
    }

    val ispe = {
      val o = new java.io.ByteArrayOutputStream()
      put32be(o, w); put32be(o, h)
      fullbox("ispe", 0, 0, o.toByteArray)
    }
    val pixi = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(ch)
      for (_ <- 0 until ch) o.write(8)
      fullbox("pixi", 0, 0, o.toByteArray)
    }
    val auxC = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("urn:mpeg:mpegB:cicp:systems:auxiliary:alpha".getBytes("US-ASCII"))
      o.write(0)
      fullbox("auxC", 0, 0, o.toByteArray)
    }
    val ipco = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(ispe); o.write(pixi); o.write(auxC) // auxC present even unused
      box("ipco", o.toByteArray)
    }
    val ipma = {
      val o = new java.io.ByteArrayOutputStream()
      put32be(o, if (alpha) 2L else 1L)
      put16be(o, 1); o.write(2); o.write(1); o.write(2) // item 1 → ispe, pixi
      if (alpha) { put16be(o, 2); o.write(2); o.write(1); o.write(3) } // → ispe, auxC
      fullbox("ipma", 0, 0, o.toByteArray)
    }
    val iprp = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(ipco); o.write(ipma)
      box("iprp", o.toByteArray)
    }

    // iloc offsets are absolute; assemble with a placeholder then patch
    def ilocBytes(mdatBody: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(0x44); o.write(0x00) // offset_size 4, length_size 4, base 0
      put16be(o, itemDefs.size)
      var cursor = mdatBody
      itemDefs.foreach { case (id, tpe) =>
        put16be(o, id); put16be(o, 0) // item_ID, data_reference_index
        val (cnt, each) = tpe match {
          case "Exif" => (1, exifLen)
          case _ if id == 2 && alpha => (1, alphaLen)
          case _ => (nExt, extLen)
        }
        put16be(o, cnt)
        for (_ <- 0 until cnt) {
          put32be(o, cursor); put32be(o, each)
          cursor += each
        }
      }
      fullbox("iloc", 0, 0, o.toByteArray)
    }

    val payloadLen = nExt * extLen + (if (alpha) alphaLen else 0L) +
      (if (exif) exifLen else 0L)
    val mdatData = Array.tabulate(payloadLen.toInt)(i => ((docId + i) % 251).toByte)
    // the primary item's first extent opens with a REAL AV1 reduced-
    // still-picture sequence-header OBU carrying the SAME geometry as
    // ispe (the m44 bitstream-vs-container consistency tier); extLen
    // (≥100) always covers the ~12-byte OBU, filler follows
    val obu = Av1.encodeSeqHeader(w, h, k)
    System.arraycopy(obu, 0, mdatData, 0, obu.length)

    // two-pass: sizes of meta don't depend on offset VALUES (fixed u32)
    def assemble(mdatBody: Long): Array[Byte] = {
      val metaBody = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(pitm); o.write(iinf); o.write(iprp); o.write(ilocBytes(mdatBody))
        o.toByteArray
      }
      val meta = fullbox("meta", 0, 0, metaBody)
      val o = new java.io.ByteArrayOutputStream()
      o.write(ftyp); o.write(meta); o.write(box("mdat", mdatData))
      o.toByteArray
    }
    val probe = assemble(0L)
    val mdatBody = probe.length - mdatData.length.toLong
    assemble(mdatBody)
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packAvif(id: Column): Column = {
    val enc = udf((d: Long) => encodeAvif(d))
    enc(id.cast("long"))
  }

  private val MetaSchema = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("primary_item", LongType, nullable = false),
    StructField("n_items", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_channels", LongType, nullable = false),
    StructField("has_alpha", LongType, nullable = false),
    StructField("has_exif", LongType, nullable = false),
    StructField("primary_bytes", LongType, nullable = false),
    StructField("n_extents", LongType, nullable = false),
    StructField("bounds_ok", LongType, nullable = false)))

  /** AVIF/HEIF census over [[Seam.rows]]; null/-1
    * sentinel row on malformed input. */
  def decodeAvifMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = avifMeta(b)
      if (m == null)
        Row(null, -1L, -1L, -1L, -1L, -1L, 0L, 0L, -1L, -1L, 0L)
      else
        Row(m.kind, m.primaryItem, m.nItems, m.width, m.height,
          m.nChannels, if (m.hasAlpha) 1L else 0L,
          if (m.hasExif) 1L else 0L, m.primaryBytes, m.nExtents,
          if (m.boundsOk) 1L else 0L)
    }
}
