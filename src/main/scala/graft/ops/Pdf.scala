package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** PDF metadata census — version, object count, page count, Info-dict
  * strings (title/author/creation date), encryption flag. PDF is one of
  * the largest non-HTML slices of any crawl (`ParserMapper.java:941-1101`
  * records `application/pdf` but treats it as opaque); a corpus pipeline
  * filters on page count/creation date and must route encrypted files
  * around text extraction. Full content extraction (fonts, content
  * streams, compression) is a rendering problem, out of the
  * deterministic tier — but the cross-reference machinery every PDF
  * reader starts from (ISO 32000-1 §7.5: `startxref` → classic xref
  * table → trailer dict → /Info and /Root → /Pages) is byte-exact and
  * METADATA-ONLY: the walk reads the tail plus a handful of object
  * headers, never the page streams.
  *
  * Untrusted input: every xref/object offset is bounds-checked, dict
  * scans are budgeted, the Root→Pages hop is fixed-depth (no recursive
  * page-tree descent — /Count on the root Pages node is authoritative
  * per spec), literal strings cap at 4 KB. Null row on malformation;
  * never throws.
  */
object Pdf {

  private[graft] final case class Meta(
      version: String, nObjects: Long, pageCount: Long,
      title: String, author: String, creationDate: String,
      encrypted: Boolean)

  /** Budget on xref entries read (an object count claim beyond this is
    * damage — the census reads the table, not the objects). */
  private val MaxXrefEntries = 1 << 20

  // ------------------------------------------------------------------
  // walk
  // ------------------------------------------------------------------

  private[graft] def pdfMeta(bytes: Array[Byte]): Meta =
    // NonFatal net: a corpus walker must NEVER fail the task on one
    // adversarial object — any defect escaping the explicit bounds
    // checks degrades to the null sentinel, not a job abort
    try pdfMetaImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

    private def pdfMetaImpl(bytes: Array[Byte]): Meta = {
    if (bytes == null || bytes.length < 16) return null
    val n = bytes.length
    def ascii(at: Int, len: Int): String =
      new String(bytes, at, len, "ISO-8859-1")
    if (!ascii(0, 5).equals("%PDF-")) return null
    val version = {
      var e = 5
      while (e < math.min(n, 16) && bytes(e) != '\n' && bytes(e) != '\r') e += 1
      ascii(5, e - 5)
    }
    if (!version.matches("[12]\\.[0-9]")) return null

    // ---- tail: startxref <offset> %%EOF --------------------------------
    val tail = ascii(math.max(0, n - 64), math.min(64, n))
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0 || !tail.contains("%%EOF")) return null
    val xrefOff =
      try tail.substring(sx + 9).trim.split("\\s+")(0).toLong
      catch { case _: Exception => return null }
    if (xrefOff < 9 || xrefOff >= n - 4) return null

    // ---- classic xref table --------------------------------------------
    var p = xrefOff.toInt
    if (!ascii(p, math.min(4, n - p)).equals("xref")) return null
    p += 4
    def skipWs(): Unit = {
      while (p < n && (bytes(p) == ' ' || bytes(p) == '\r' || bytes(p) == '\n' ||
        bytes(p) == '\t')) p += 1
    }
    def token(): String = {
      skipWs()
      val s = p
      while (p < n && bytes(p) > ' ' && bytes(p) != '<' && bytes(p) != '[' &&
        bytes(p) != '/' && bytes(p) != '(' && bytes(p) != '>') p += 1
      if (p == s) null else ascii(s, p - s)
    }
    // subsections: "start count" then count 20-byte entries, until "trailer"
    var nObjects = 0L
    val offsets = scala.collection.mutable.HashMap.empty[Long, Long]
    var sawTrailer = false
    while (!sawTrailer) {
      skipWs()
      if (p + 7 <= n && ascii(p, 7) == "trailer") { sawTrailer = true; p += 7 }
      else {
        val startS = token(); val cntS = token()
        if (startS == null || cntS == null) return null
        val start = try startS.toLong catch { case _: Exception => return null }
        val cnt = try cntS.toLong catch { case _: Exception => return null }
        if (start < 0 || cnt < 0 || nObjects + cnt > MaxXrefEntries) return null
        skipWs()
        if (p + 20 * cnt > n) return null
        var i = 0L
        while (i < cnt) {
          val e = p + 20 * i
          val off = try ascii(e.toInt, 10).toLong catch { case _: Exception => return null }
          val kind = bytes(e.toInt + 17)
          if (kind == 'n') { offsets(start + i) = off; nObjects += 1 }
          else if (kind != 'f') return null
          i += 1
        }
        p += 20 * cnt.toInt
      }
    }

    // ---- trailer dict ---------------------------------------------------
    val trailerEnd = math.min(n, p + 2048)
    val trailer = ascii(p, trailerEnd - p)
    def dictRef(src: String, key: String): Long = {
      val m = ("/" + key + "\\s+(\\d+)\\s+\\d+\\s+R").r.findFirstMatchIn(src)
      m.map(_.group(1).toLong).getOrElse(-1L)
    }
    val rootRef = dictRef(trailer, "Root")
    val infoRef = dictRef(trailer, "Info")
    val encrypted = trailer.contains("/Encrypt")
    if (rootRef < 0) return null

    /** Read one indirect object's raw text (budgeted window). */
    def objText(ref: Long): String = {
      val off = offsets.getOrElse(ref, -1L)
      if (off < 0 || off >= n) return null
      val end = math.min(n.toLong, off + 2048).toInt
      val s = ascii(off.toInt, end - off.toInt)
      // must begin "ref gen obj"
      if (!s.matches(s"(?s)$ref\\s+\\d+\\s+obj\\b.*")) return null
      val e = s.indexOf("endobj")
      if (e < 0) s else s.substring(0, e)
    }

    /** PDF literal string after /Key — minimal escape set, 4 KB cap. */
    def dictString(src: String, key: String): String = {
      if (src == null) return null
      val at = src.indexOf("/" + key)
      if (at < 0) return null
      var i = at + key.length + 1
      while (i < src.length && src.charAt(i) == ' ') i += 1
      if (i >= src.length || src.charAt(i) != '(') return null
      i += 1
      val out = new StringBuilder
      var depth = 1
      while (i < src.length && depth > 0 && out.length < 4096) {
        val c = src.charAt(i)
        if (c == '\\' && i + 1 < src.length) {
          val e = src.charAt(i + 1)
          out.append(e match {
            case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
            case other => other // \( \) \\ and identity for the rest
          })
          i += 2
        } else if (c == '(') { depth += 1; out.append(c); i += 1 }
        else if (c == ')') { depth -= 1; if (depth > 0) out.append(c); i += 1 }
        else { out.append(c); i += 1 }
      }
      if (depth != 0) null else out.toString
    }

    val root = objText(rootRef)
    if (root == null || !root.contains("/Type") || !root.contains("/Catalog"))
      return null
    val pagesRef = dictRef(root, "Pages")
    val pageCount =
      if (pagesRef < 0) -1L
      else {
        val pages = objText(pagesRef)
        if (pages == null) -1L
        else "/Count\\s+(\\d+)".r.findFirstMatchIn(pages)
          .map(_.group(1).toLong).getOrElse(-1L)
      }

    var title: String = null; var author: String = null; var cdate: String = null
    if (infoRef >= 0) {
      val info = objText(infoRef)
      title = dictString(info, "Title")
      author = dictString(info, "Author")
      cdate = dictString(info, "CreationDate")
    }
    Meta(version, nObjects, pageCount, title, author, cdate, encrypted)
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** Deterministic single-xref PDF: catalog, root Pages node with
    * k%30+1 page leaves, Info dict carrying docId/lang verbatim, exact
    * 10-digit xref offsets; k%11==0 adds an /Encrypt entry to the
    * trailer (census flag only — no actual crypt dict semantics). */
  private[graft] def encodePdf(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val nPages = (k % 30 + 1).toInt
    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w(s"%PDF-1.${k % 8}\n")
    // obj 1: catalog; obj 2: pages; objs 3..2+nPages: page leaves;
    // obj 3+nPages: info
    offs += out.size().toLong
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offs += out.size().toLong
    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [ $kids ] /Count $nPages >>\nendobj\n")
    for (i <- 0 until nPages) {
      offs += out.size().toLong
      w(s"${3 + i} 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n")
    }
    offs += out.size().toLong
    val infoRef = 3 + nPages
    // title exercises the escape set: parens + backslash
    w(s"$infoRef 0 obj\n<< /Title (doc \\($docId\\) \\\\$lang) " +
      s"/Author ($lang author $k) " +
      f"/CreationDate (D:2026${k % 12 + 1}%02d${k % 28 + 1}%02d120000) >>\nendobj\n")
    val xrefAt = out.size().toLong
    val total = infoRef + 1
    w(s"xref\n0 $total\n")
    w("0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w("trailer\n")
    val enc = if (k % 11 == 0) " /Encrypt 9 0 R" else ""
    w(s"<< /Size $total /Root 1 0 R /Info $infoRef 0 R$enc >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packPdf(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => encodePdf(d, l))
    enc(id.cast("long"), lang)
  }

  private val MetaSchema = StructType(Seq(
    StructField("version", StringType, nullable = true),
    StructField("n_objects", LongType, nullable = false),
    StructField("page_count", LongType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("author", StringType, nullable = true),
    StructField("creation_date", StringType, nullable = true),
    StructField("encrypted", LongType, nullable = false)))

  /** PDF census over [[Seam.rows]]; null/-1 sentinel on
    * malformed input. */
  def decodePdfMeta(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, MetaSchema) { b =>
      val m = pdfMeta(b)
      if (m == null) Row(null, -1L, -1L, null, null, null, 0L)
      else Row(m.version, m.nObjects, m.pageCount,
        m.title, m.author, m.creationDate, if (m.encrypted) 1L else 0L)
    }
}
