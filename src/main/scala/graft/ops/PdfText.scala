package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** m42: PDF text extraction — the pdftotext tier of the reference
  * parser's text role applied to the corpus' largest document format.
  * m32 ([[Pdf]]) walks the xref and Info dict; this op follows the page
  * tree and decodes the text content (ISO 32000-1):
  *
  *   startxref → xref table → trailer /Root → Catalog /Pages →
  *   page TREE walk (nested Pages nodes, /Kids recursion, budgeted) →
  *   per-page /Contents stream(s) → raw or /FlateDecode inflate under
  *   zip-bomb budgets → content-stream scan: inside BT…ET text blocks,
  *   `(…) Tj`, `[(…) n (…)] TJ`, `<hex> Tj`, and the `'`/`"`
  *   next-line-show operators append text; BT, Td, TD, T*, `'`, `"`
  *   break lines. Literal strings decode the full escape set (\n \r \t
  *   \b \f \( \) \\ \ooo and line continuations); hex strings decode
  *   byte pairs (odd final digit zero-padded). Lines are trimmed of
  *   emptiness, pages join by `\n`.
  *
  * No PDF tool exists in this container to referee against (unlike the
  * libwebp/libbrotli tiers), so the gate is the analytic oracle over
  * assembled fixtures plus operator-level specs — the m32 standing.
  * Untrusted lengths/counts budgeted throughout; NonFatal→null. */
object PdfText {

  private[graft] final case class Extracted(nPages: Long, text: String)

  private val MaxPages = 512
  private val MaxTreeDepth = 16
  private val MaxStreamInflated = 8L << 20
  private val MaxTotalInflated = 64L << 20
  private val MaxObjScan = 4096 // dict header scan window per object

  private[graft] def extract(bytes: Array[Byte]): Extracted =
    try extractImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

  private def extractImpl(bytes: Array[Byte]): Extracted = {
    if (bytes == null || bytes.length < 32) return null
    val n = bytes.length
    def ascii(at: Int, len: Int): String =
      new String(bytes, at, math.min(len, n - at), "ISO-8859-1")
    if (!ascii(0, 5).startsWith("%PDF-")) return null

    // ---- xref table (same single-table layout the m32 walk pins) ----
    val tail = ascii(math.max(0, n - 64), math.min(64, n))
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) return null
    val xrefOff = "\\d+".r.findFirstIn(tail.substring(sx)) match {
      case Some(d) => d.toLong
      case None => return null
    }
    if (xrefOff < 0 || xrefOff >= n) return null
    var p = xrefOff.toInt
    def skipWs(): Unit = {
      while (p < n && (bytes(p) == ' ' || bytes(p) == '\n' || bytes(p) == '\r' ||
        bytes(p) == '\t')) p += 1
    }
    def token(): String = {
      skipWs()
      val s = p
      while (p < n && !Character.isWhitespace(bytes(p).toChar)) p += 1
      ascii(s, p - s)
    }
    if (token() != "xref") return null
    val offsets = scala.collection.mutable.HashMap.empty[Long, Long]
    var done = false
    while (!done) {
      skipWs()
      if (p + 7 <= n && ascii(p, 7) == "trailer") done = true
      else {
        val start = try token().toLong catch { case _: Exception => return null }
        val cnt = try token().toLong catch { case _: Exception => return null }
        if (cnt < 0 || cnt > (1 << 20)) return null
        skipWs()
        var i = 0L
        while (i < cnt) {
          val e = p + 20 * i
          if (e + 20 > n) return null
          val off = try ascii(e.toInt, 10).toLong catch { case _: Exception => return null }
          if (bytes(e.toInt + 17) == 'n') offsets(start + i) = off
          i += 1
        }
        p += (20 * cnt).toInt
      }
    }
    val trailer = ascii(p, math.min(n - p, 2048))
    def dictRef(src: String, key: String): Long =
      ("/" + key + "\\s+(\\d+)\\s+\\d+\\s+R").r.findFirstMatchIn(src)
        .map(_.group(1).toLong).getOrElse(-1L)

    def objText(ref: Long): String = {
      val off = offsets.getOrElse(ref, -1L)
      if (off < 0 || off >= n) return null
      val s = ascii(off.toInt, math.min(MaxObjScan, n - off.toInt))
      val e = s.indexOf("endobj")
      val e2 = s.indexOf("stream")
      if (e < 0 && e2 < 0) s
      else if (e2 >= 0 && (e < 0 || e2 < e)) s.substring(0, e2)
      else s.substring(0, e)
    }

    // ---- page tree walk (nested Pages nodes, budgeted) ----
    val rootRef = dictRef(trailer, "Root")
    if (rootRef < 0) return null
    val root = objText(rootRef)
    if (root == null || !root.contains("/Catalog")) return null
    val pagesRef = dictRef(root, "Pages")
    if (pagesRef < 0) return null
    val RefsInKids = "/Kids\\s*\\[([^\\]]*)\\]".r
    val RefPat = "(\\d+)\\s+\\d+\\s+R".r
    val pageRefs = Vector.newBuilder[Long]
    var nPages = 0
    def walk(ref: Long, depth: Int): Unit = {
      if (depth > MaxTreeDepth || nPages >= MaxPages) return
      val o = objText(ref)
      if (o == null) return
      if (o.contains("/Type") && o.contains("/Page") && !o.contains("/Pages")) {
        pageRefs += ref
        nPages += 1
      } else {
        RefsInKids.findFirstMatchIn(o).foreach { m =>
          RefPat.findAllMatchIn(m.group(1)).foreach { r =>
            if (nPages < MaxPages) walk(r.group(1).toLong, depth + 1)
          }
        }
      }
    }
    walk(pagesRef, 0)
    val pages = pageRefs.result()
    if (pages.isEmpty) return null

    // ---- per-page content streams ----
    var totalInflated = 0L
    def streamBytes(ref: Long): Array[Byte] = {
      val off = offsets.getOrElse(ref, -1L)
      if (off < 0 || off >= n) return null
      val head = ascii(off.toInt, math.min(MaxObjScan, n - off.toInt))
      val sAt = head.indexOf("stream")
      if (sAt < 0) return null
      val len = "/Length\\s+(\\d+)".r.findFirstMatchIn(head.substring(0, sAt))
        .map(_.group(1).toLong).getOrElse(-1L)
      if (len < 0 || len > MaxStreamInflated) return null
      var dataAt = off + sAt + 6
      if (dataAt < n && bytes(dataAt.toInt) == '\r') dataAt += 1
      if (dataAt < n && bytes(dataAt.toInt) == '\n') dataAt += 1
      if (dataAt + len > n) return null
      val raw = java.util.Arrays.copyOfRange(bytes, dataAt.toInt, (dataAt + len).toInt)
      val flate = head.substring(0, sAt).contains("/FlateDecode")
      val outB =
        if (!flate) raw
        else {
          val inf = new java.util.zip.Inflater()
          try {
            inf.setInput(raw)
            val buf = new java.io.ByteArrayOutputStream(raw.length * 2 + 64)
            val chunk = new Array[Byte](8192)
            var stuck = false
            while (!inf.finished() && !stuck && buf.size <= MaxStreamInflated) {
              val r = inf.inflate(chunk)
              if (r == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
              else buf.write(chunk, 0, r)
            }
            if (stuck || buf.size > MaxStreamInflated) null else buf.toByteArray
          } catch { case _: java.util.zip.DataFormatException => null }
          finally inf.end()
        }
      if (outB == null) return null
      if (totalInflated + outB.length > MaxTotalInflated) return null
      totalInflated += outB.length
      outB
    }

    val parts = Vector.newBuilder[String]
    var produced = 0L
    pages.foreach { pref =>
      val o = objText(pref)
      if (o != null) {
        val contents = "/Contents\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(o)
          .map(m => RefPat.findAllMatchIn(m.group(1)).map(_.group(1).toLong).toSeq)
          .orElse("/Contents\\s+(\\d+)\\s+\\d+\\s+R".r.findFirstMatchIn(o)
            .map(m => Seq(m.group(1).toLong)))
          .getOrElse(Seq.empty)
        val streams = contents.flatMap(r => Option(streamBytes(r)))
        if (streams.nonEmpty) {
          val t = contentText(streams.map(b =>
            new String(b, "ISO-8859-1")).mkString("\n"))
          if (t.nonEmpty) { parts += t; produced += 1 }
        }
      }
    }
    if (produced == 0) return null
    Extracted(produced, parts.result().mkString("\n"))
  }

  // ------------------------------------------------------------------
  // content-stream text scan (ISO 32000-1 §9.4 text-showing operators)
  // ------------------------------------------------------------------

  /** Decode one literal string body (between unescaped parens). */
  private def decodeLiteral(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val e = s.charAt(i + 1)
        e match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case 'b' => out.append('\b'); i += 2
          case 'f' => out.append('\f'); i += 2
          case '(' | ')' | '\\' => out.append(e); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < s.length && s.charAt(i) >= '0' &&
              s.charAt(i) <= '7') { v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1 }
            out.append((v & 0xff).toChar)
          case other => out.append(other); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Scan a content stream for text: shows append to the current line;
    * BT, Td, TD, T-star, quote and double-quote operators break lines;
    * empty lines drop; lines join `\n`. */
  private[graft] def contentText(src: String): String = {
    val lines = Vector.newBuilder[String]
    val cur = new StringBuilder
    def break(): Unit = {
      val t = foldWs(cur.toString)
      if (t.nonEmpty) lines += t
      cur.setLength(0)
    }
    var inText = false
    // operands seen since the last operator (only strings matter here)
    var pending = List.empty[String]
    var i = 0
    val len = src.length
    while (i < len) {
      val c = src.charAt(i)
      if (c == '%') { // comment to EOL
        while (i < len && src.charAt(i) != '\n' && src.charAt(i) != '\r') i += 1
      } else if (c == '(') {
        // literal string with nesting + escapes
        val sb = new StringBuilder
        var depth = 1
        i += 1
        while (i < len && depth > 0) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < len) { sb.append(ch).append(src.charAt(i + 1)); i += 2 }
          else {
            if (ch == '(') depth += 1
            else if (ch == ')') depth -= 1
            if (depth > 0) sb.append(ch)
            i += 1
          }
        }
        pending = decodeLiteral(sb.toString) :: pending
      } else if (c == '<' && i + 1 < len && src.charAt(i + 1) != '<') {
        // hex string
        val e = src.indexOf('>', i + 1)
        if (e < 0) { i = len }
        else {
          val hex = src.substring(i + 1, e).filterNot(_.isWhitespace)
          val padded = if (hex.length % 2 == 1) hex + "0" else hex
          val sb = new StringBuilder(padded.length / 2)
          var h = 0
          var ok = true
          while (ok && h < padded.length) {
            try sb.append(Integer.parseInt(padded.substring(h, h + 2), 16).toChar)
            catch { case _: NumberFormatException => ok = false }
            h += 2
          }
          if (ok) pending = sb.toString :: pending
          i = e + 1
        }
      } else if (c == '<') { i += 2 // dict open: skip
      } else if (c.isLetter || c == '\'' || c == '"' || c == '*') {
        val s = i
        while (i < len && (src.charAt(i).isLetterOrDigit ||
          src.charAt(i) == '*' || src.charAt(i) == '\'' ||
          src.charAt(i) == '"')) i += 1
        val op = src.substring(s, i)
        op match {
          case "BT" => inText = true; break()
          case "ET" => inText = false; break()
          case "Tj" if inText =>
            pending.headOption.foreach(cur.append(_))
          case "TJ" if inText =>
            // operands were pushed in reverse; show in stream order
            pending.reverse.foreach(cur.append(_))
          case "'" | "\"" if inText =>
            break()
            pending.headOption.foreach(cur.append(_))
          case "Td" | "TD" | "T*" if inText => break()
          case _ => ()
        }
        pending = Nil
      } else if (c == '[' || c == ']') {
        i += 1 // arrays: strings inside were already collected
      } else i += 1
    }
    break()
    lines.result().mkString("\n")
  }

  private def foldWs(s: String): String =
    s.replaceAll("\\s+", " ").trim

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  private def deflateZlib(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Analytic text-bearing PDF: k%4+1 pages, nested page tree when
    * k%5==0, FlateDecode streams when k%2==0 (raw otherwise); each page
    * exercises literal escapes, TJ arrays with kerning numbers, hex
    * strings, and the `'` next-line-show operator. */
  private[graft] def encodePdfText(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val nPages = (k % 4 + 1).toInt
    val nested = k % 5 == 0 && nPages >= 2
    val flate = k % 2 == 0

    def hexOf(s: String): String =
      s.getBytes("ISO-8859-1").map(b => f"${b & 0xff}%02X").mkString

    def content(pg: Int): Array[Byte] = {
      val txt =
        s"BT 72 720 Td (Page $pg of doc $docId) Tj T* " +
          s"(second $lang \\($k\\) \\\\ ok) Tj ET\n" +
          s"BT [(arr) -120 ( join $pg)] TJ <${hexOf(s" hx$pg")}> Tj " +
          s"T* (quoted $pg) ' ET\n"
      txt.getBytes("ISO-8859-1")
    }

    val out = new java.io.ByteArrayOutputStream()
    val offs = scala.collection.mutable.ArrayBuffer[Long]()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w(s"%PDF-1.7\n")
    // object layout: 1 catalog; 2 root Pages; [3,4 intermediate Pages
    // when nested]; then page leaves; then content streams
    val pageBase = if (nested) 5 else 3
    val contBase = pageBase + nPages
    offs += out.size().toLong
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offs += out.size().toLong
    if (nested) {
      w(s"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R 4 0 R ] /Count $nPages >>\nendobj\n")
      val h = nPages / 2
      val left = (0 until h).map(i => s"${pageBase + i} 0 R").mkString(" ")
      val right = (h until nPages).map(i => s"${pageBase + i} 0 R").mkString(" ")
      offs += out.size().toLong
      w(s"3 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [ $left ] /Count $h >>\nendobj\n")
      offs += out.size().toLong
      w(s"4 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [ $right ] /Count ${nPages - h} >>\nendobj\n")
    } else {
      val kids = (0 until nPages).map(i => s"${pageBase + i} 0 R").mkString(" ")
      w(s"2 0 obj\n<< /Type /Pages /Kids [ $kids ] /Count $nPages >>\nendobj\n")
    }
    for (i <- 0 until nPages) {
      offs += out.size().toLong
      w(s"${pageBase + i} 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/Contents ${contBase + i} 0 R >>\nendobj\n")
    }
    for (i <- 0 until nPages) {
      offs += out.size().toLong
      val raw = content(i + 1)
      val data = if (flate) deflateZlib(raw) else raw
      val filter = if (flate) " /Filter /FlateDecode" else ""
      w(s"${contBase + i} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    val xrefAt = out.size().toLong
    val total = contBase + nPages
    w(s"xref\n0 $total\n")
    w("0000000000 65535 f \n")
    offs.foreach(o => w(f"$o%010d 00000 n \n"))
    w("trailer\n")
    w(s"<< /Size $total /Root 1 0 R >>\n")
    w(s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  /** Expected text for [[encodePdfText]] — the analytic twin the oracle
    * reconstructs in SQL. */
  private[graft] def expectedText(docId: Long, lang: String): String = {
    val k = ((docId % 251) + 251) % 251
    val nPages = (k % 4 + 1).toInt
    (1 to nPages).map { pg =>
      s"Page $pg of doc $docId\n" +
        s"second $lang ($k) \\ ok\n" +
        s"arr join $pg hx$pg\n" +
        s"quoted $pg"
    }.mkString("\n")
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  def packPdfText(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => encodePdfText(d, l))
    enc(id.cast("long"), lang)
  }

  private val OutSchema = StructType(Seq(
    StructField("n_pages", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** PDF text extraction over [[Seam.rows]]; null/-1
    * sentinel row on malformed input. */
  def extractPdfText(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, OutSchema) { b =>
      val e = extract(b)
      if (e == null) Row(-1L, null)
      else Row(e.nPages, e.text)
    }
}
