package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Brotli, BrotliFixture, HtmlMeta, Http}
import graft.ops._
import graft.sources.{ParquetFooter, ZstdMembers}
import graft.sources.v2.WarcHttp

/** Never-throws fuzz for the byte walkers: at corpus scale malformed
  * bytes are data, not errors, so every census, decoder and header
  * parser must return its null/sentinel on ANY input — including inputs
  * that start with valid magic and then lie (truncated fields, absurd
  * declared sizes, negative-looking big-endian values). Four fixed-seed
  * corpora splice real fixture heads onto random tails (and, for the
  * backward scans, random heads onto magics) so the walkers get past
  * their cheap checks and into length arithmetic; a fifth cuts and
  * bit-flips whole FLAC streams. Every walker runs over all five, and
  * each walker is its own test case. */
class ByteWalkerFuzzSpec extends AnyFunSuite {
  import ByteWalkerFuzzSpec._

  private lazy val corpus: Seq[Array[Byte]] =
    headerCorpus ++ containerCorpus ++ documentCorpus ++ animationCorpus ++ flacCorpus ++
      Pinned

  /** (walker, check): each check calls the walker and asserts its
    * result is a sentinel or a possible shape. */
  private val walkers: Seq[(String, Array[Byte] => Unit)] = Seq(
    "Multimodal.parseImageHeader" -> { b =>
      val (imgFmt, w, h) = Multimodal.parseImageHeader(b)
      assert(imgFmt == "unknown" || w >= -1 && h >= -1)
    },
    // BMP pixel decode: untrusted dims/offset must reject, not index
    "Multimodal.decodeBmp24Stats" -> { b =>
      val (bw, bh, _, _, _, _) = Multimodal.decodeBmp24Stats(b)
      assert(bw >= -1 && bh >= -1)
    },
    // BMP dHash: the lattice sampler shares the untrusted-dims walk
    "Multimodal.decodeBmpDHash" -> { b =>
      val (dw, dh, _, _) = Multimodal.decodeBmpDHash(b)
      assert(dw >= -1 && dh >= -1)
    },
    // MP4 per-sample sizes: declared counts must cap at evidence
    // (available bytes, 2^20 entries) — never size an allocation from an
    // adversarial header field
    "Multimodal.parseMp4SampleSizes" -> { b =>
      assert(Multimodal.parseMp4SampleSizes(b).length <= (1 << 20))
    },
    // PNG pixel decode: chunk walk + inflate + unfilter must never throw
    // on fuzzed chunk lengths, dims, or corrupt zlib streams
    "Multimodal.decodePngStats" -> { b =>
      val (pw, ph, _, _, _, _) = Multimodal.decodePngStats(b)
      assert(pw >= -1 && ph >= -1)
    },
    // GIF decode: block walk + LZW (fuzzed codes, widths, KwKwK edge)
    "Multimodal.decodeGifStats" -> { b =>
      val (gw, gh, _, _, _, _) = Multimodal.decodeGifStats(b)
      assert(gw >= -1 && gh >= -1)
    },
    // VP8L decode: RIFF walk + prefix codes + transforms on junk
    "Vp8l.decodeWebpStats" -> { b =>
      val (vw, vh, _, _, _, _) = Vp8l.decodeWebpStats(b)
      assert(vw >= -1 && vh >= -1)
    },
    // cross-format dHash dispatcher: any bytes → a format tag or bad
    "Multimodal.decodeImageDHash" -> { b =>
      val (df2, _, _, _, _) = Multimodal.decodeImageDHash(b)
      assert(df2 == "bad" || df2 == "bmp" || df2 == "webp")
    },
    // animated-GIF decode: multi-image walk + GCE state + composition
    "Multimodal.decodeGifAnimStats" -> { b =>
      Multimodal.decodeGifAnimStats(b).foreach(t => assert(t._1 >= 0))
    },
    // WAV sample decode: chunk walk + int16 fold
    "Multimodal.decodeWavStats" -> { b =>
      val (wc, _, _, _, _) = Multimodal.decodeWavStats(b)
      assert(wc >= -1)
    },
    // WAV autocorrelation: same walk + lag-product windows
    "Multimodal.decodeWavAutocorr" -> { b =>
      val (an, _, _) = Multimodal.decodeWavAutocorr(b, Seq(1, 4))
      assert(an >= -1L)
    },
    // JPEG decode: marker walk + huffman scan + IDCT
    "Multimodal.decodeJpegStats" -> { b =>
      val (jw, jh, _, _, _, _) = Multimodal.decodeJpegStats(b)
      assert(jw >= -1 && jh >= -1)
    },
    // MP4 sample-table walk: nested box discovery + untrusted
    // entry-count/size arithmetic (saturating overflow guards)
    "Multimodal.parseMp4SampleStats" -> { b =>
      val (ns, durMs2, tot, mxs) = Multimodal.parseMp4SampleStats(b)
      assert(ns >= -1 && durMs2 >= 0 && tot >= 0 && mxs >= 0)
    },
    "Multimodal.parseAvHeader" -> { b =>
      val (avFmt, ch, rate, bits, dur) = Multimodal.parseAvHeader(b)
      assert(avFmt == "unknown" || avFmt == "wav" || avFmt == "mp4")
      if (avFmt == "unknown") assert(ch == -1 && bits == -1 && dur == 0L)
      assert(rate >= -1)
    },
    "WarcHttp.split" -> { b =>
      val (_, _, payload, _) = WarcHttp.split(b, needHeaders = true)
      assert(payload != null && payload.length <= b.length)
    },
    "Mp3.mp3Meta" -> { b =>
      val mp3 = Mp3.mp3Meta(b)
      if (mp3 != null) assert(mp3.nFrames >= 1 && mp3.sampleRate > 0)
    },
    "Exif.exifMeta" -> { b =>
      val ex = Exif.exifMeta(b)
      if (ex != null) assert(ex.byteOrder == "II" || ex.byteOrder == "MM")
    },
    "Pdf.pdfMeta" -> { b =>
      val pdf = Pdf.pdfMeta(b)
      if (pdf != null) assert(pdf.nObjects >= 0)
    },
    "Zip.zipMeta" -> { b =>
      val zip = Zip.zipMeta(b)
      if (zip != null) assert(zip.nEntries >= 0 && zip.sumComp >= 0)
    },
    "Ogg.oggMeta" -> { b =>
      val ogg = Ogg.oggMeta(b)
      if (ogg != null) assert(ogg.nPages >= 1 && ogg.durationMs >= 0)
    },
    "Tar.tarMeta" -> { b =>
      val tar = Tar.tarMeta(b)
      if (tar != null) assert(tar.nEntries >= 1)
    },
    "Ico.icoStats" -> { b =>
      val ico = Ico.icoStats(b)
      if (ico != null) assert(ico.nImages >= 1 && ico.nTransparent >= 0)
    },
    "WebpAnim.webpMeta" -> { b =>
      val webp = WebpAnim.webpMeta(b)
      if (webp != null) assert(webp.canvasW >= 1 && webp.canvasH >= 1)
    },
    "ParquetFooter.parse" -> { b =>
      val pf = ParquetFooter.parse(b)
      if (pf != null) assert(pf.numRows >= 0)
    },
    "JpegProgressive.decodeJpegProgStats" -> { b =>
      val (jw, jh, _, _, _, _) = JpegProgressive.decodeJpegProgStats(b)
      assert(jw >= -1 && jh >= -1)
    },
    "Vp8.decodeWebpVp8Stats" -> { b =>
      val (vw, vh, _, _, _, _) = Vp8.decodeWebpVp8Stats(b)
      assert(vw >= -1 && vh >= -1)
    },
    // zstd member walk: parse or IOException — never an unbounded
    // allocation or a hang (budgets bound the loop)
    "ZstdMembers.nextMember" -> { b =>
      val ms = new ZstdMembers(new java.io.ByteArrayInputStream(b))
      try {
        var in = ms.nextMember()
        var budget = 64
        while (in != null && budget > 0) {
          in.readAllBytes(); in.close(); in = ms.nextMember(); budget -= 1
        }
      } catch { case _: java.io.IOException => () }
    },
    // string walkers over the bytes as latin-1 text
    "HtmlMeta.parse" -> { b =>
      HtmlMeta.parse(new String(b.take(2048), "ISO-8859-1"))
    },
    "Http.parseSetCookie" -> { b =>
      val c = Http.parseSetCookie(new String(b.take(2048), "ISO-8859-1"))
      if (c != null) assert(c.name.nonEmpty)
    },
    "DocText.extract" -> { b =>
      val dt = DocText.extract(b)
      if (dt != null) assert(dt.nParts >= 1 && dt.text != null)
    },
    "Avif.avifMeta" -> { b =>
      val av = Avif.avifMeta(b)
      if (av != null) assert(av.nItems >= 1 && av.width >= 0)
    },
    "Avif.primaryItemData" -> { b =>
      Avif.primaryItemData(b) // bytes or null, never a throw
    },
    "Av1.seqHeader" -> { b =>
      val a1 = Av1.seqHeader(b)
      if (a1 != null) assert(a1.width >= 1 && a1.height >= 1)
    },
    "Woff2.woff2Meta" -> { b =>
      val w2 = Woff2.woff2Meta(b)
      if (w2 != null) assert(w2.nTables >= 1 && w2.sumOrig >= 0)
    },
    "PdfText.extract" -> { b =>
      val pt = PdfText.extract(b)
      if (pt != null) assert(pt.nPages >= 1 && pt.text != null)
    },
    // FLAC decode: frame walk + subframes + rice residuals on cut and
    // bit-flipped streams (the CRC-16 is checked only after the decode)
    "Flac.decodeFlacPcm" -> { b =>
      val pcm = Flac.decodeFlacPcm(b)
      if (pcm != null) assert(pcm.nonEmpty && pcm.forall(_.length == pcm(0).length))
    },
    "Flac.flacTags" -> { b =>
      val tags = Flac.flacTags(b)
      if (tags != null) assert(tags._1 != null && tags._2 != null)
    },
    "Brotli.decode" -> { b =>
      val br = Brotli.decode(b, maxOut = 1 << 20) // tight bomb budget
      if (br != null) assert(br.length <= (1 << 20))
    },
    // content-encoding chain over fuzz bytes under every coding name
    "Http.decodeContentEncoding" -> { b =>
      for (enc <- Seq("gzip", "deflate", "br", "identity", "bogus", null))
        Http.decodeContentEncoding(enc, b, maxOut = 1 << 20)
    },
    "Tables.extractTables" -> { b =>
      val s = new String(b.take(4096), "ISO-8859-1")
      Tables.extractTables(s).foreach { case (_, nr, nc, hh, _) =>
        assert(nr >= 1 && nc >= 1 && (hh == 0 || hh == 1))
      }
    },
    "Apng.apngMeta" -> { b =>
      val m = Apng.apngMeta(b)
      if (m != null) {
        assert(m.width >= 0 && m.height >= 0)
        assert(m.nFctl >= 0 && m.nFdat >= 0 && m.totalDelayMs >= 0)
      }
    },
    // head scan returns bytes or null; a declared-size lie must not
    // allocate past the dict budget (8 MiB) — throws are a bug
    "ZstdMembers.dictAtHead" -> { b =>
      val d = try ZstdMembers.dictAtHead(b)
        catch { case _: java.io.IOException => null } // budgeted inflate only
      if (d != null) assert(d.length <= (8 << 20))
    })

  walkers.foreach { case (name, check) =>
    test(s"$name never throws on the fuzz corpora") {
      corpus.foreach(check)
    }
  }
}

object ByteWalkerFuzzSpec {

  /** A PNG signature + IHDR claiming width 0x80000000 (PNG caps each
    * dimension at 2^31-1), height 4, plus its CRC. */
  val PngWideIhdr: Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      Array[Byte](0, 0, 0, 13) ++ "IHDR".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 0, 0, 0, 0, 4, 8, 6, 0, 0, 0) ++
      Array[Byte](0, 0, 0, 0)

  /** Inputs pinned because a walker once got them wrong. */
  val Pinned: Seq[Array[Byte]] = Seq(PngWideIhdr)

  private val raw = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    .map(_.toArray)

  private def prefixed(magics: Seq[Array[Byte]]) = for {
    m <- Gen.oneOf(magics)
    tail <- raw
  } yield m ++ tail

  /** Magic at the END — the EOCD/PAR1/startxref backward scans. */
  private def suffixed(magics: Seq[Array[Byte]]) = for {
    head <- raw
    m <- Gen.oneOf(magics)
  } yield head ++ m

  /** A structurally valid 54-byte BI_RGB 24-bpp BMP header claiming the
    * given (untrusted) width/height — dimension-lie seeds for the pixel
    * decoder's bounds arithmetic. */
  private def bmpDims(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(64).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(0).putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.array()
  }

  /** ftyp + moov/trak/mdia/(mdhd, minf/stbl/ headers with box sizes
    * claiming far more than is present — fuzz supplies the stts/stsz
    * bodies, so entry counts and sample sizes are adversarial. */
  private def mp4TrackPrefix: Array[Byte] = {
    def box(id: String, size: Int) =
      Array[Byte]((size >> 24).toByte, (size >> 16).toByte,
        (size >> 8).toByte, size.toByte) ++ id.getBytes("US-ASCII")
    box("ftyp", 16) ++ "isom    ".getBytes("US-ASCII") ++
      box("moov", 0x7f000000) ++ box("trak", 0x7e000000) ++
      box("mdia", 0x7d000000) ++
      (box("mdhd", 32) ++ Array.fill[Byte](12)(0) ++
        Array[Byte](0, 0, 3, 0xe8.toByte) ++ Array.fill[Byte](8)(0)) ++
      box("minf", 0x7c000000) ++ box("stbl", 0x7b000000) ++ box("stts", 0x7a000000)
  }

  /** Image/AV header parsers and the HTTP split (seed 8). */
  def headerCorpus: Seq[Array[Byte]] = {
    // adversarial prefixes: valid magics spliced onto random tails, so
    // the parsers get past the cheap checks and into field arithmetic
    val magics = Seq(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      "GIF89a".getBytes("US-ASCII"),
      "GIF87a".getBytes("US-ASCII"),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
      "BM".getBytes("US-ASCII"),
      // a full valid 54-byte BMP header promising pixels that are absent,
      // with fuzz deciding the (untrusted) dims/offset fields after byte 2
      "BM".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0x7f) ++ Array.fill[Byte](8)(0),
      // dims both 0x7f7f7f7f with otherwise-valid header: stride*height
      // overflows Long if compared naively (the round-8 ADVICE overflow)
      bmpDims(0x7f7f7f7f, 0x7f7f7f7f),
      bmpDims(0x7f7f7f7f, 2), bmpDims(2, 0x7f7f7f7f),
      // a valid PNG signature+IHDR with fuzz deciding the chunk stream
      // after it — the walker gets past the cheap checks into
      // length/inflate arithmetic
      Multimodal.encodePng24(1L, 4, 4).take(33),
      // a valid GIF header+screen descriptor+global table with fuzz
      // deciding the block stream — exercises the LZW decoder on junk
      Multimodal.encodeGif(1L, 4, 4).take(13 + 768 + 10),
      // a valid RIFF/WAVE/fmt prefix with fuzz deciding the chunk tail
      Multimodal.encodeWavPcm16(1L, 8).take(36),
      // a valid JPEG SOI..SOS prefix with fuzz deciding the entropy
      // scan — exercises the huffman decoder on junk codes
      Multimodal.encodeJpeg(1L, 1, 1).take(180),
      // a nonzero-AC JPEG SOI..SOS prefix (custom AC table) with fuzz
      // deciding the entropy scan
      Multimodal.encodeJpegAc(1L, 2, 2).take(200),
      // a valid RIFF/WEBP/VP8L header with fuzz deciding the bitstream
      // — exercises prefix-code headers, transforms, LZ77 on junk bits
      Vp8l.encodeWebp(1L, 6, 4).take(26),
      Vp8l.encodeWebp(2L, 6, 4).take(21),
      "RIFF".getBytes("US-ASCII"),
      "RIFF1234WAVE".getBytes("US-ASCII"),
      "RIFF1234WAVEfmt ".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 0) ++ "ftyp".getBytes("US-ASCII"), // size<8 box
      // a valid ftyp + moov/trak/mdia nesting with fuzz deciding the
      // sample tables — the stts/stsz walker gets past box discovery
      // into entry-count/size arithmetic (u32·u32 overflow guards)
      mp4TrackPrefix,
      "HTTP".getBytes("US-ASCII"),
      "HTTP/1.1 ".getBytes("US-ASCII"),
      "HTTP/1.1 200 OK\r\nContent-Type:".getBytes("US-ASCII"))
    val gen = Gen.listOfN(600, Gen.frequency(1 -> raw, 2 -> prefixed(magics)))
    gen(Gen.Parameters.default, Seed(8L)).get
  }

  /** Media and archive containers (seed 16). */
  def containerCorpus: Seq[Array[Byte]] = {
    val magics: Seq[Array[Byte]] = Seq(
      // zstd: frame magic; skippable magic with a fuzzed size; a real
      // frame head cut before its blocks
      Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte),
      Array[Byte](0x50, 0x2a, 0x4d, 0x18),
      com.github.luben.zstd.Zstd.compress("seed".getBytes, 3).take(7),
      // MP3: bare ID3 header; ID3 + first frame sync cut mid-frame
      "ID3".getBytes("ISO-8859-1") ++ Array[Byte](3, 0, 0),
      Mp3.encodeMp3(1L, "en", 7L).take(40),
      Array[Byte](0xff.toByte, 0xfb.toByte),
      // EXIF: SOI+APP1+"Exif\0\0"+byte-order mark, fuzz decides IFDs
      Exif.encodeExifJpeg(1L).take(22),
      Exif.encodeExifJpeg(2L).take(40),
      // PDF: header + a tail that points startxref into fuzz
      "%PDF-1.4\n".getBytes("ISO-8859-1"),
      Pdf.encodePdf(1L, "en").take(60),
      "startxref\n9\n%%EOF\n".getBytes("ISO-8859-1"),
      // ZIP: local-header magic; a real archive cut inside the central
      // directory; an EOCD with fuzzed counts
      Array[Byte](0x50, 0x4b, 0x03, 0x04),
      Zip.encodeZip(1L, "en").take(80),
      Array[Byte](0x50, 0x4b, 0x05, 0x06),
      // Ogg: page magic + fuzzed header; a real BOS page cut mid-lacing
      "OggS".getBytes("ISO-8859-1") ++ Array[Byte](0),
      Ogg.encodeOggOpus(1L, "en").take(30),
      // TAR: a real ustar header with fuzz deciding the data blocks
      Tar.encodeTar(1L, "en").take(512),
      // ICO: directory claiming entries the payload lacks
      Array[Byte](0, 0, 1, 0, 9, 0),
      Ico.encodeIco(1L).take(24),
      // WebP container: VP8X head with fuzzed chunk stream; a lossy
      // still cut inside the bitstream
      WebpAnim.encodeWebpAnim(2L).take(34), // animated head (k=2)
      Vp8.encodeFixture(1L).take(30),
      // parquet: footer magic with fuzzed length; a real tail cut short
      "PAR1".getBytes("ISO-8859-1"),
      // progressive JPEG: SOI..SOS prefix, fuzz decides the scans
      JpegProgressive.encodeJpegProg(1L, 1, 1).take(120))
    val gen = Gen.listOfN(700,
      Gen.frequency(1 -> raw, 2 -> prefixed(magics), 1 -> suffixed(magics)))
    gen(Gen.Parameters.default, Seed(16L)).get
  }

  /** Document formats, AVIF/AV1, WOFF2 and brotli (seed 17). */
  def documentCorpus: Seq[Array[Byte]] = {
    val magics: Seq[Array[Byte]] = Seq(
      // OOXML/EPUB zips cut inside the central directory / members
      DocText.encodeDocx(1L, "en").take(90),
      DocText.encodeEpub(2L, "en").take(120),
      DocText.encodeXlsx(3L, "en").take(90),
      DocText.encodePptx(4L, "en").take(120),
      Array[Byte](0x50, 0x4b, 0x03, 0x04),
      // AVIF: ftyp head; meta box cut inside iloc
      Avif.encodeAvif(1L).take(24),
      Avif.encodeAvif(2L).take(90),
      // AV1 OBU: header byte + leb128 size with fuzzed payload
      Array[Byte](0x0a, 0x20),
      Av1.encodeSeqHeader(640, 480, 7L).take(4),
      // WOFF2: signature + fuzzed directory; a real font cut in the blob
      "wOF2".getBytes("ISO-8859-1"),
      Woff2.encodeWoff2(1L).take(60),
      // PDF with text: header; a real doc cut inside a content stream
      "%PDF-1.7\n".getBytes("ISO-8859-1"),
      PdfText.encodePdfText(2L, "en").take(200),
      "startxref\n17\n%%EOF\n".getBytes("ISO-8859-1"),
      // brotli: a real assembled stream cut mid-meta-block; stored-mode
      // head; the dictionary-heavy golden's head
      BrotliFixture.encode(3L, "en").take(12),
      BrotliFixture.encodeRaw("seed".getBytes).take(5),
      // gzip magic for the content-encoding chain
      Array[Byte](0x1f, 0x8b.toByte, 8, 0))
    val gen = Gen.listOfN(700,
      Gen.frequency(1 -> raw, 2 -> prefixed(magics), 1 -> suffixed(magics)))
    gen(Gen.Parameters.default, Seed(17L)).get
  }

  /** FLAC streams, plain and tagged, cut short or with one to three
    * bits flipped (seed 19), so the decoder meets lies past its cheap
    * checks: in frame headers, subframe headers and residuals. */
  def flacCorpus: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(19)
    val streams = (0 until 12).map(k => Flac.encodeFlac(k, 24 + 13 * k)) ++
      (0 until 2).map(k => Flac.encodeFlacTagged(
        Multimodal.audioScenePcm(k, k, 80), "vendor", Seq("TITLE" -> s"t$k")))
    streams.flatMap { s =>
      val cuts = Seq.fill(8)(s.take(rnd.nextInt(s.length)))
      val flips = Seq.fill(12) {
        val c = s.clone()
        for (_ <- 0 to rnd.nextInt(3)) {
          val i = rnd.nextInt(c.length)
          c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        c
      }
      cuts ++ flips
    }
  }

  /** The APNG chunk walk and the warc-zstd dictionary head scan (seed
    * 18; the stream form of the scan shares its code path through
    * positioned reads). */
  def animationCorpus: Seq[Array[Byte]] = {
    val magics: Seq[Array[Byte]] = Seq(
      // APNG: signature only; a real file cut inside acTL; cut mid-fdAT
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      Apng.encodeApng(1L).take(40),
      Apng.encodeApng(2L).take(120),
      Apng.encodeApng(4L), // full file, tail fuzz appends trailing junk
      // warc-zstd dictionary slot: skippable magic + fuzzed size/content
      Array[Byte](0x5d, 0x2a, 0x4d, 0x18),
      Array[Byte](0x5d, 0x2a, 0x4d, 0x18, 8, 0, 0, 0),
      // other skippable magics walk-then-stop
      Array[Byte](0x50, 0x2a, 0x4d, 0x18, 4, 0, 0, 0),
      // a zstd data frame head (no dict slot)
      Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte))
    val gen = Gen.listOfN(600, Gen.frequency(1 -> raw, 3 -> prefixed(magics)))
    gen(Gen.Parameters.default, Seed(18L)).get
  }
}
