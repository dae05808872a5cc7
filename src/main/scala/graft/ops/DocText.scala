package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** m39: text extraction from ZIP-packaged document formats — OOXML
  * (docx) and EPUB — the document-format tier of the reference parser's
  * text-extraction role (`ParserMapper.java:941-1101` extracts text from
  * everything it can parse; a 2026 training corpus has a real docx/epub
  * slice). m33 ([[Zip]]) already routes the containers by kind; this op
  * inflates the text-bearing members and extracts visible text:
  *
  *  - OOXML: `word/document.xml`, WordprocessingML — `<w:t>` runs
  *    concatenated within a `<w:p>` paragraph, paragraphs joined by
  *    `\n` (ECMA-376 Part 1 §17.3).
  *  - EPUB: `META-INF/container.xml` → rootfile `full-path` → OPF
  *    package: manifest (id→href) + spine (idref order) → XHTML
  *    chapters in SPINE order, each stripped through the exact x9
  *    htmlToText discipline (script/style/comment subtrees vanish, tags
  *    become word boundaries, five core entities + nbsp decode with
  *    `&amp;` last, whitespace folds), joined by `\n` (EPUB OCF/OPF 3.3).
  *
  * Zip-bomb discipline: declared sizes are budgeted BEFORE inflating,
  * inflation is bounded to the declared size and a lying stream (more
  * output available past the declared size, or short) rejects the
  * document; every inflated/stored member is CRC-32-verified against
  * the central directory; hrefs containing `..` are quarantined (the
  * tar-slip rule applied to OCF). NonFatal→null sentinel like every
  * walker: one adversarial object degrades to a null row, never a task
  * abort.
  */
object DocText {

  private[graft] final case class Extracted(
      kind: String, srcName: String, nParts: Long, text: String)

  private val MaxEntryInflated = 8L << 20 // per text-bearing member
  private val MaxTotalInflated = 64L << 20 // per document
  private val MaxParts = 512 // spine items / paragraphs budget

  // ------------------------------------------------------------------
  // ZIP member access (central directory + bounded raw-deflate inflate)
  // ------------------------------------------------------------------

  /** Member bytes: STORED copy or bounded raw-deflate inflate, CRC-32
    * verified either way. Null on budget breach, truncation, a stream
    * producing more than its declared size (the classic bomb lie), or
    * CRC mismatch. */
  private def entryBytes(bytes: Array[Byte], e: Zip.Entry): Array[Byte] = {
    if (e.uncomp > MaxEntryInflated) return null
    val dataAt = Zip.dataAt(bytes, e)
    if (dataAt < 0) return null
    val data: Array[Byte] = e.method match {
      case 0 =>
        if (e.comp != e.uncomp) return null
        java.util.Arrays.copyOfRange(bytes, dataAt.toInt, (dataAt + e.comp).toInt)
      case 8 =>
        val inf = new java.util.zip.Inflater(true) // zip members are raw deflate
        try {
          inf.setInput(bytes, dataAt.toInt, e.comp.toInt)
          val out = new Array[Byte](e.uncomp.toInt)
          var got = 0
          var stuck = false
          while (got < out.length && !inf.finished() && !stuck) {
            val r = inf.inflate(out, got, out.length - got)
            if (r == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
            got += r
          }
          // a stream with more output past the declared size is a lie
          val extra = new Array[Byte](1)
          val over = !inf.finished() && !stuck && inf.inflate(extra, 0, 1) > 0
          if (stuck || over || got != out.length) null else out
        } catch { case _: java.util.zip.DataFormatException => null }
        finally inf.end()
      case _ => null
    }
    if (data == null) return null
    val c = new java.util.zip.CRC32()
    c.update(data)
    if (c.getValue != e.crc) null else data
  }

  // ------------------------------------------------------------------
  // text extraction kernels
  // ------------------------------------------------------------------

  /** The x9 htmlToText entity pass, scalar form: five core entities +
    * nbsp, `&amp;` LAST so a single literal pass matches the Column
    * composition in GraftFunctions exactly. */
  private def decodeEntities(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")

  private def foldWs(s: String): String =
    s.replaceAll("\\s+", " ").trim

  /** Scalar twin of GraftFunctions.htmlToText (x9): script/style bodies
    * and comments vanish wholesale, tags become word boundaries,
    * entities decode, whitespace folds. Used per EPUB chapter. */
  private[graft] def xhtmlToText(html: String): String = {
    val noScript =
      html.replaceAll("(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle =
      noScript.replaceAll("(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = noStyle.replaceAll("(?s)<!--.*?-->", " ")
    val noTags = noComment.replaceAll("(?s)<[^>]*>", " ")
    foldWs(decodeEntities(noTags))
  }

  private val WtRun = "(?s)<w:t(?:\\s[^>]*)?>(.*?)</w:t\\s*>".r
  private val SiSeg = "(?s)<si(?:\\s[^>]*)?>(.*?)</si\\s*>".r
  private val TRun = "(?s)<t(?:\\s[^>]*)?>(.*?)</t\\s*>".r
  private val AtRun = "(?s)<a:t(?:\\s[^>]*)?>(.*?)</a:t\\s*>".r
  private val SlideName = "^ppt/slides/slide([0-9]+)\\.xml$".r

  /** WordprocessingML body text: paragraphs are `</w:p>`-delimited
    * segments containing at least one `<w:t>` run; runs concatenate
    * within a paragraph, then entity-decode + whitespace-fold; parts
    * join by `\n`. Returns (nParagraphs, text). */
  private[graft] def docxText(xml: String): (Long, String) = {
    val segs = xml.split("</w:p\\s*>", -1)
    val paras = Vector.newBuilder[String]
    var count = 0L
    var i = 0
    while (i < segs.length && count < MaxParts) {
      val runs = WtRun.findAllMatchIn(segs(i)).map(_.group(1)).toSeq
      if (runs.nonEmpty) {
        paras += foldWs(decodeEntities(runs.mkString("")))
        count += 1
      }
      i += 1
    }
    (count, paras.result().mkString("\n"))
  }

  /** SpreadsheetML shared strings (ECMA-376 §18.4): each `<si>` is one
    * string item — plain `<t>` or rich-text `<r><t>` runs concatenated —
    * entity-decoded + whitespace-folded; items join by `\n`. */
  private[graft] def xlsxText(xml: String): (Long, String) = {
    val items = Vector.newBuilder[String]
    var count = 0L
    val it = SiSeg.findAllMatchIn(xml)
    while (it.hasNext && count < MaxParts) {
      val si = it.next().group(1)
      val runs = TRun.findAllMatchIn(si).map(_.group(1)).toSeq
      if (runs.nonEmpty) {
        items += foldWs(decodeEntities(runs.mkString("")))
        count += 1
      }
    }
    (count, items.result().mkString("\n"))
  }

  /** DrawingML slide text (ECMA-376 §21.1): paragraphs are `</a:p>`
    * segments containing `<a:t>` runs; runs concatenate, paragraphs
    * join by `\n`. */
  private[graft] def pptxSlideText(xml: String): String = {
    val segs = xml.split("</a:p\\s*>", -1)
    val paras = Vector.newBuilder[String]
    var i = 0
    var count = 0L
    while (i < segs.length && count < MaxParts) {
      val runs = AtRun.findAllMatchIn(segs(i)).map(_.group(1)).toSeq
      if (runs.nonEmpty) {
        paras += foldWs(decodeEntities(runs.mkString("")))
        count += 1
      }
      i += 1
    }
    paras.result().mkString("\n")
  }

  /** Attribute value (double- or single-quoted) from a raw tag scan. */
  private def attr(tag: String, name: String): String = {
    val d = ("(?i)\\b" + name + "\\s*=\\s*\"([^\"]*)\"").r
    val s = ("(?i)\\b" + name + "\\s*=\\s*'([^']*)'").r
    d.findFirstMatchIn(tag).map(_.group(1))
      .orElse(s.findFirstMatchIn(tag).map(_.group(1)))
      .orNull
  }

  /** Resolve `href` against the directory of `base` (the OPF path).
    * `..` segments are quarantined — OCF's tar-slip rule. */
  private def resolveHref(base: String, href: String): String = {
    if (href == null || href.contains("..")) return null
    val slash = base.lastIndexOf('/')
    if (slash < 0) href else base.substring(0, slash + 1) + href
  }

  // ------------------------------------------------------------------
  // the walker
  // ------------------------------------------------------------------

  private[graft] def extract(bytes: Array[Byte]): Extracted =
    try extractImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => null }

  private def extractImpl(bytes: Array[Byte]): Extracted = {
    val ents = Zip.centralDirectory(bytes)
    if (ents == null || ents.isEmpty) return null
    val byName = ents.iterator.map(e => e.name -> e).toMap
    var totalInflated = 0L
    def member(name: String): Array[Byte] = {
      val e = byName.getOrElse(name, null)
      if (e == null) return null
      if (totalInflated + e.uncomp > MaxTotalInflated) return null
      val d = entryBytes(bytes, e)
      if (d != null) totalInflated += d.length
      d
    }

    val isOoxml = byName.contains("[Content_Types].xml")
    val isEpub = byName.get("mimetype").exists { e =>
      e.method == 0 && {
        val d = entryBytes(bytes, e)
        d != null && new String(d, "ISO-8859-1") == "application/epub+zip"
      }
    }

    if (isOoxml) {
      // OOXML family routing by the main-part member each app puts
      // where [Content_Types].xml says it does
      if (byName.contains("word/document.xml")) {
        val doc = member("word/document.xml")
        if (doc == null) return null
        val (np, text) = docxText(new String(doc, "UTF-8"))
        if (np == 0) return null
        Extracted("ooxml", "word/document.xml", np, text)
      } else if (byName.contains("xl/sharedStrings.xml")) {
        val ss = member("xl/sharedStrings.xml")
        if (ss == null) return null
        val (np, text) = xlsxText(new String(ss, "UTF-8"))
        if (np == 0) return null
        Extracted("xlsx", "xl/sharedStrings.xml", np, text)
      } else if (byName.contains("ppt/presentation.xml")) {
        // slides in NUMERIC order (slide10 after slide9, not after
        // slide1 — the lexicographic trap), regardless of zip order
        val slides = ents.iterator.flatMap(e => e.name match {
          case SlideName(n) => Some((n.toInt, e.name))
          case _ => None
        }).toVector.sortBy(_._1).take(MaxParts)
        if (slides.isEmpty) return null
        val parts = Vector.newBuilder[String]
        var n = 0L
        slides.foreach { case (_, name) =>
          val d = member(name)
          if (d != null) {
            val t = pptxSlideText(new String(d, "UTF-8"))
            if (t.nonEmpty) { parts += t; n += 1 }
          }
        }
        if (n == 0) return null
        Extracted("pptx", "ppt/presentation.xml", n, parts.result().mkString("\n"))
      } else null
    } else if (isEpub) {
      val container = member("META-INF/container.xml")
      if (container == null) return null
      val rootTag = "(?s)<rootfile\\b[^>]*>".r
        .findFirstIn(new String(container, "UTF-8")).orNull
      if (rootTag == null) return null
      val opfPath = attr(rootTag, "full-path")
      if (opfPath == null || opfPath.contains("..")) return null
      val opf = member(opfPath)
      if (opf == null) return null
      val opfXml = new String(opf, "UTF-8")
      val manifest = "(?s)<item\\b[^>]*>".r.findAllIn(opfXml)
        .map(t => attr(t, "id") -> attr(t, "href"))
        .filter(kv => kv._1 != null && kv._2 != null)
        .toMap
      val spine = "(?s)<itemref\\b[^>]*>".r.findAllIn(opfXml)
        .map(t => attr(t, "idref")).filter(_ != null)
        .take(MaxParts).toVector
      if (spine.isEmpty) return null
      val chapters = Vector.newBuilder[String]
      var nCh = 0L
      spine.foreach { idref =>
        val path = resolveHref(opfPath, manifest.getOrElse(idref, null))
        if (path != null) {
          val d = member(path)
          if (d != null) {
            chapters += xhtmlToText(new String(d, "UTF-8"))
            nCh += 1
          }
        }
      }
      if (nCh == 0) return null
      Extracted("epub", opfPath, nCh, chapters.result().mkString("\n"))
    } else null
  }

  // ------------------------------------------------------------------
  // fixture encoders (deflated members, real CRCs)
  // ------------------------------------------------------------------

  /** Analytic docx: k%7+1 paragraphs, two runs each (the second with
    * `xml:space="preserve"` and an `&amp;` entity), plus a trailing
    * `<w:sectPr/>` segment with no runs (must not count) and a
    * docProps distractor member the extractor must ignore. */
  private[graft] def encodeDocx(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val np = (k % 7 + 1).toInt
    val b = new Zip.Writer
    b.add("[Content_Types].xml",
      ("<Types><Override PartName=\"/word/document.xml\" " +
        "ContentType=\"application/vnd.openxmlformats-officedocument" +
        ".wordprocessingml.document.main+xml\"/></Types>").getBytes("UTF-8"),
      deflate = false)
    val body = (0 until np).map { i =>
      s"<w:p><w:r><w:t>Para $i of doc $docId</w:t></w:r>" +
        "<w:r><w:t xml:space=\"preserve\"> in " + lang +
        " &amp; more.</w:t></w:r></w:p>"
    }.mkString("")
    val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\"><w:body>" + body +
      "<w:sectPr/></w:body></w:document>"
    b.add("word/document.xml", xml.getBytes("UTF-8"), deflate = true)
    b.add("docProps/core.xml",
      s"<coreProperties doc='$docId'/>".getBytes("UTF-8"), deflate = true)
    b.result()
  }

  /** Analytic EPUB: stored `mimetype` first (OCF §3.3), container.xml →
    * OPF with k%4+1 chapters; the SPINE reverses chapter order when
    * k%3==0 (proves spine-order assembly, not zip order); chapters
    * carry title/style/comment/script material the x9 discipline must
    * strip; a css manifest item stays out of the spine (distractor). */
  private[graft] def encodeEpub(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val nc = (k % 4 + 1).toInt
    val order = if (k % 3 == 0) (nc - 1) to 0 by -1 else 0 until nc
    val b = new Zip.Writer
    b.add("mimetype", "application/epub+zip".getBytes("UTF-8"),
      deflate = false)
    b.add("META-INF/container.xml",
      ("<?xml version=\"1.0\"?><container version=\"1.0\"><rootfiles>" +
        "<rootfile full-path=\"OEBPS/content.opf\" " +
        "media-type=\"application/oebps-package+xml\"/>" +
        "</rootfiles></container>").getBytes("UTF-8"), deflate = true)
    val manifest = (0 until nc).map(i =>
      s"""<item id="c$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""")
      .mkString("") +
      """<item id="css" href="style.css" media-type="text/css"/>"""
    val spine = order.map(i => s"""<itemref idref="c$i"/>""").mkString("")
    b.add("OEBPS/content.opf",
      ("<?xml version=\"1.0\"?><package version=\"3.0\">" +
        s"<manifest>$manifest</manifest><spine>$spine</spine></package>")
        .getBytes("UTF-8"), deflate = true)
    b.add("OEBPS/style.css", "p{margin:0}".getBytes("UTF-8"), deflate = true)
    for (i <- 0 until nc)
      b.add(s"OEBPS/ch$i.xhtml",
        (s"<?xml version=\"1.0\"?><html xmlns=\"http://www.w3.org/1999/xhtml\">" +
          s"<head><title>T$i</title><style>p{color:red}</style></head>" +
          s"<body><h1>Chapter $i</h1><p>Doc $docId speaks $lang &amp; reads.</p>" +
          "<!-- hidden --><script>var x=1;</script></body></html>")
          .getBytes("UTF-8"), deflate = true)
    b.result()
  }

  /** Analytic xlsx: k%8+1 shared-string items, each a rich-text pair of
    * runs (the second carrying an entity), plus workbook/sheet
    * distractor members the extractor must ignore. */
  private[graft] def encodeXlsx(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val np = (k % 8 + 1).toInt
    val b = new Zip.Writer
    b.add("[Content_Types].xml",
      ("<Types><Override PartName=\"/xl/workbook.xml\" " +
        "ContentType=\"application/vnd.openxmlformats-officedocument" +
        ".spreadsheetml.sheet.main+xml\"/></Types>").getBytes("UTF-8"),
      deflate = false)
    b.add("xl/workbook.xml",
      s"<workbook doc='$docId'><sheets><sheet name='S1'/></sheets></workbook>"
        .getBytes("UTF-8"), deflate = true)
    b.add("xl/worksheets/sheet1.xml",
      ("<worksheet><sheetData><row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c>" +
        "</row></sheetData></worksheet>").getBytes("UTF-8"), deflate = true)
    val sis = (0 until np).map { i =>
      s"<si><r><t>Cell $i doc $docId</t></r>" +
        "<r><t xml:space=\"preserve\"> in " + lang +
        " &amp; co.</t></r></si>"
    }.mkString("")
    b.add("xl/sharedStrings.xml",
      (s"""<?xml version="1.0"?><sst count="$np" uniqueCount="$np">""" +
        sis + "</sst>").getBytes("UTF-8"), deflate = true)
    b.result()
  }

  /** Analytic pptx: k%12+1 slides, two paragraphs each; zip member
    * order REVERSED when k%3==0 and slide counts reach double digits,
    * so extraction must sort slide numbers numerically (slide10 after
    * slide9), not lexicographically or by zip order. */
  private[graft] def encodePptx(docId: Long, lang: String): Array[Byte] = {
    val k = ((docId % 251) + 251) % 251
    val ns = (k % 12 + 1).toInt
    val b = new Zip.Writer
    b.add("[Content_Types].xml",
      ("<Types><Override PartName=\"/ppt/presentation.xml\" " +
        "ContentType=\"application/vnd.openxmlformats-officedocument" +
        ".presentationml.presentation.main+xml\"/></Types>").getBytes("UTF-8"),
      deflate = false)
    b.add("ppt/presentation.xml",
      s"<p:presentation doc='$docId'/>".getBytes("UTF-8"), deflate = true)
    val order = if (k % 3 == 0) ns to 1 by -1 else 1 to ns
    for (i <- order)
      b.add(s"ppt/slides/slide$i.xml",
        ("<p:sld><p:txBody><a:p><a:r><a:t>Slide " + i +
          s" title doc $docId</a:t></a:r></a:p>" +
          "<a:p><a:r><a:t>Bullet " + i + " " + lang +
          " &amp; done.</a:t></a:r></a:p><a:p><a:pPr/></a:p>" +
          "</p:txBody></p:sld>").getBytes("UTF-8"), deflate = true)
    b.result()
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** m41 fixture routing: even k → xlsx, odd k → pptx. */
  def packSheetDeck(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => {
      val k = ((d % 251) + 251) % 251
      if (k % 2 == 0) encodeXlsx(d, l) else encodePptx(d, l)
    })
    enc(id.cast("long"), lang)
  }

  /** Fixture routing: even k → docx, odd k → epub. */
  def packDoc(id: Column, lang: Column): Column = {
    val enc = udf((d: Long, l: String) => {
      val k = ((d % 251) + 251) % 251
      if (k % 2 == 0) encodeDocx(d, l) else encodeEpub(d, l)
    })
    enc(id.cast("long"), lang)
  }

  private val OutSchema = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("src_name", StringType, nullable = true),
    StructField("n_parts", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  /** Document-text extraction over [[Seam.rows]]; null/-1 sentinel row
    * on malformed or non-document input. */
  def extractDocText(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, OutSchema) { b =>
      val e = extract(b)
      if (e == null) Row(null, null, -1L, null)
      else Row(e.kind, e.srcName, e.nParts, e.text)
    }
}
