package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

class MultimodalSpec extends AnyFunSuite with SparkSuite {

  test("pack → batch decode stub round-trips metadata over binary media") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val frames = (col("n_chars") % 50 + 1).cast("int")
    val packed = docs.select(
      col("doc_id"),
      Multimodal.packMedia(col("text"), col("doc_id") % 3, frames).as("media"),
      frames.as("frames"),
      length(col("text")).as("n_text_chars"))

    val decoded = Multimodal.decodeHeaderStub(packed, "doc_id", "media")
    assert(decoded.schema.fieldNames.toSeq == Seq("id", "format", "n_frames", "payload_len"))

    val want = packed.select(col("doc_id"), col("frames"), col("n_text_chars")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val got = decoded.collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (frames0, _) = want(r.getLong(0))
      assert(r.getInt(2) == frames0)
      val fmt = r.getLong(0) % 3 match {
        case 0 => "img"; case 1 => "audio"; case _ => "video"
      }
      assert(r.getString(1) == fmt)
      assert(r.getInt(3) > 0) // utf-8 payload: bytes ≥ chars, positive
    }
  }

  test("real image header parse: PNG IHDR, JPEG SOFn marker walk, GIF LSD") {
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // a real 1×1 PNG file prefix (signature + IHDR chunk)
    assert(Multimodal.parseImageHeader(hx(
      "89504E470D0A1A0A 0000000D 49484452 00000001 00000001 08 06 00 00 00"))
      == (("png", 1, 1)))
    // baseline JPEG: APP0(JFIF) then SOF0 320×240
    assert(Multimodal.parseImageHeader(hx(
      "FFD8 FFE00010 4A46494600010101004800480000 FFC0000B 08 00F0 0140 01 011100 FFD9"))
      == (("jpeg", 320, 240)))
    // progressive JPEG: the walk must skip DQT and DHT (C4 is NOT a SOF)
    // and land on SOF2
    assert(Multimodal.parseImageHeader(hx(
      "FFD8 FFDB0005 010203 FFC40005 010203 FFC2000B 08 0010 0020 01 011100 FFD9"))
      == (("jpeg", 32, 16)))
    // GIF87a and GIF89a, little-endian uint16 dims
    assert(Multimodal.parseImageHeader(hx("474946383761 4001 F000 F7 00 00"))
      == (("gif", 320, 240)))
    assert(Multimodal.parseImageHeader(hx("474946383961 0502 0301 F7 00 00"))
      == (("gif", 517, 259)))
    // WebP, all three chunk layouts (RFC 9649):
    // VP8X extended: canvas 64×32 → LE24 fields hold w−1=63, h−1=31
    assert(Multimodal.parseImageHeader(hx(
      "52494646 16000000 57454250 56503858 0A000000 00 000000 3F0000 1F0000"))
      == (("webp", 64, 32)))
    // VP8L lossless: signature 2F then 32 bits: (w−1) in 0-13, (h−1) in 14-27
    // w=517, h=259 → bits = 516 | 258<<14 = 0x408204 → LE 04 82 40 00
    assert(Multimodal.parseImageHeader(hx(
      "52494646 12000000 57454250 5650384C 06000000 2F 04824000 00"))
      == (("webp", 517, 259)))
    // lossy VP8: frame tag ×3, start code 9D 01 2A, LE14 dims 320×240
    assert(Multimodal.parseImageHeader(hx(
      "52494646 1A000000 57454250 56503820 0E000000 000000 9D012A 4001 F000 0000"))
      == (("webp", 320, 240)))
    // RIFF/WEBP with a truncated chunk is webp with unknown dims
    assert(Multimodal.parseImageHeader(hx("52494646 16000000 57454250 56503858 0A00"))
      == (("webp", -1, -1)))
    // malformed inputs are data, not errors
    assert(Multimodal.parseImageHeader(hx("FFD8 FFDA0002"))._2 == -1) // no SOF
    assert(Multimodal.parseImageHeader("notanimage".getBytes("UTF-8"))._1 == "unknown")
    assert(Multimodal.parseImageHeader(Array[Byte]())._1 == "unknown")
  }

  test("PNG IHDR dimensions past 2^31-1 are no shape") {
    // signature + IHDR (width 0x80000000, height 4) + CRC: 33 bytes
    val head = ByteWalkerFuzzSpec.PngWideIhdr
    assert(head.length == 33)
    assert(Multimodal.parseImageHeader(head) == (("png", -1, -1)))
    val tall = head.clone()
    tall(16) = 0; tall(20) = 0x80.toByte // width 0, height 0x80000004
    assert(Multimodal.parseImageHeader(tall) == (("png", -1, -1)))
    tall(20) = 0x7f; tall(21) = 0xff.toByte // height 0x7fff0004 fits, width 0
    assert(Multimodal.parseImageHeader(tall) == (("png", -1, -1)))
    tall(19) = 3 // width 3, height 0x7fff0004: a shape
    assert(Multimodal.parseImageHeader(tall) == (("png", 3, 0x7fff0004)))
    val flat = tall.clone()
    flat(20) = 0; flat(21) = 0; flat(22) = 0; flat(23) = 0 // height 0
    assert(Multimodal.parseImageHeader(flat) == (("png", -1, -1)))
  }

  test("packImage synthesizes bytes the real parser round-trips") {
    import spark.implicits._
    val df = Seq((0L, 16, 9), (1L, 1897, 1061), (2L, 65535, 65535), (3L, 4000, 3000),
        (4L, 1, 1))
      .toDF("id", "w", "h")
      .select(col("id"), Multimodal.packImage(col("id") % 4, col("w"), col("h")).as("media"),
        col("w"), col("h"))
    val got = Multimodal.decodeImageHeaders(df, "id", "media")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(0L) == (("png", 16, 9)))
    assert(got(1L) == (("jpeg", 1897, 1061)))
    assert(got(2L) == (("gif", 65535, 65535)))
    assert(got(3L) == (("webp", 4000, 3000)))
    assert(got(4L) == (("png", 1, 1)))
  }

  test("byte histogram feature vector: 16 bins, L1-normalized") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "zzzz")).toDF("id", "text")
      .select(col("id"),
        Multimodal.packMedia(col("text"), lit(0), lit(1)).as("media"))
      .select(col("id"), Multimodal.byteHistogram16(col("media")).as("hist"))
    val rows = df.orderBy("id").collect()
    rows.foreach { r =>
      val h = r.getAs[scala.collection.Seq[Double]]("hist")
      assert(h.length == 16)
      assert(math.abs(h.sum - 1.0) < 1e-9)
    }
    // 'abc' = 0x61 0x62 0x63 → all in bin 6
    assert(rows(0).getAs[scala.collection.Seq[Double]]("hist")(6) == 1.0)
  }

  test("real AV header parse: golden WAV and MP4 bytes built from the specs") {
    // WAV: hand-assembled from the RIFF spec (not via packWav) — 2ch,
    // 44100 Hz, 16-bit PCM, 1 s of audio declared (176400 bytes), body
    // truncated after 4 bytes (the crawler-prefix case)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val wav = "RIFF".getBytes ++ le32(176436) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(176400) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(176400) ++ Array[Byte](1, 2, 3, 4)
    assert(Multimodal.parseAvHeader(wav) == (("wav", 2, 44100, 16, 1000L)))
    // MP4 with a version-1 mvhd (64-bit duration) and a leading free box
    // inside moov, so the child walk has to skip a sibling
    val mvhd1 = be32(120) ++ "mvhd".getBytes ++ Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](16)(0) ++ be32(90000) ++
      Array.fill[Byte](4)(0) ++ be32(270000) ++ Array.fill[Byte](80)(0)
    val free = be32(16) ++ "free".getBytes ++ Array.fill[Byte](8)(0)
    val moov = be32(8L + free.length + mvhd1.length) ++ "moov".getBytes ++ free ++ mvhd1
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "mp42".getBytes ++ be32(0)
    assert(Multimodal.parseAvHeader(ftyp ++ moov) == (("mp4", -1, 90000, -1, 3000L)))
    // garbage and truncation never throw
    assert(Multimodal.parseAvHeader(Array[Byte](1, 2, 3))._1 == "unknown")
    assert(Multimodal.parseAvHeader("RIFF1234WAVE".getBytes)._1 == "unknown")
    assert(Multimodal.parseAvHeader(ftyp)._1 == "unknown")
  }

  test("packWav/packMp4 synthesize bytes the real parser round-trips") {
    import spark.implicits._
    val df = Seq((0L, 1, 8000, 8, 16000L, 600L, 4200L),
      (1L, 2, 44100, 16, 352800L, 90000L, 450000L))
      .toDF("id", "ch", "rate", "bits", "dlen", "tsc", "dur")
      .select(col("id"),
        when(col("id") % 2 === 0,
          Multimodal.packWav(col("ch"), col("rate"), col("bits"), col("dlen")))
          .otherwise(Multimodal.packMp4(col("tsc"), col("dur"))).as("media"))
    val got = Multimodal.decodeAvHeaders(df, "id", "media")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))))
      .toMap
    // 16000 bytes at 8000 B/s (1ch·8bit·8000Hz) = 2000 ms
    assert(got(0L) == (("wav", 1, 8000, 8, 2000L)))
    // 450000 ticks at 90000 Hz = 5000 ms
    assert(got(1L) == (("mp4", -1, 90000, -1, 5000L)))
  }

  test("BMP encode matches the real format byte-for-byte (golden vector)") {
    // hand-assembled 2×2 BI_RGB 24-bit BMP for seed 0: rows bottom-up,
    // each 2·3=6 pixel bytes + 2 padding bytes; pixels from testPixel:
    // (0,0)=rgb(0,0,0) (1,0)=rgb(1,3,7) (0,1)=rgb(1,5,11) (1,1)=rgb(2,8,18)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val want =
      "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(16) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++
        // bottom row first (y=1): BGR(11,5,1) BGR(18,8,2) pad pad
        Array[Byte](11, 5, 1, 18, 8, 2, 0, 0) ++
        // top row (y=0): BGR(0,0,0) BGR(7,3,1) pad pad
        Array[Byte](0, 0, 0, 7, 3, 1, 0, 0)
    assert(Multimodal.encodeBmp24(0, 2, 2).toSeq == want.toSeq)
  }

  test("BMP pixel decode: row padding, bottom-up flip, top-down, malformed") {
    // round-trip across widths covering every padding value 0-3 and both
    // height parities, against an independent brute-force of the pattern
    for (w <- 3 to 6; h <- 2 to 3; k <- Seq(0L, 17L)) {
      val got = Multimodal.decodeBmp24Stats(Multimodal.encodeBmp24(k, w, h))
      val px = for { y <- 0 until h; x <- 0 until w } yield Multimodal.testPixel(k, x, y)
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 }
        yield Multimodal.testPixel(k, x, y)
      assert(got == ((w, h,
        px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)), s"w=$w h=$h k=$k")
    }
    // a top-down BMP (negative height) must decode to the same stats as
    // its bottom-up twin only when the image is symmetric; use a 1×2 to
    // prove the flip handling: encode bottom-up, rewrite height to -2
    // AND swap the rows → identical pixel geometry
    val up = Multimodal.encodeBmp24(5, 1, 2)
    val down = up.clone()
    down(22) = (-2).toByte; down(23) = -1; down(24) = -1; down(25) = -1
    val stride = 4
    for (i <- 0 until stride) { // swap the two rows
      val t = down(54 + i); down(54 + i) = down(54 + stride + i); down(54 + stride + i) = t
    }
    assert(Multimodal.decodeBmp24Stats(down) == Multimodal.decodeBmp24Stats(up))
    // malformed: wrong magic, truncated pixel data, non-24bpp
    assert(Multimodal.decodeBmp24Stats("nope".getBytes)._1 == -1)
    assert(Multimodal.decodeBmp24Stats(up.dropRight(3))._1 == -1)
    val bpp16 = up.clone(); bpp16(28) = 16
    assert(Multimodal.decodeBmp24Stats(bpp16)._1 == -1)
  }

  test("BMP box resize: ImageIO-refereed 2x2 floor averages, odd-edge drop, malformed") {
    // independent referee: read the encoded BMP with the JDK's ImageIO
    // and box-average its pixels; our decoder must agree exactly
    for (w <- 4 to 7; h <- 3 to 6; k <- Seq(0L, 29L)) {
      val bytes = Multimodal.encodeBmp24(k, w, h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null)
      val ow = w / 2; val oh = h / 2
      var sr = 0L; var sg = 0L; var sb = 0L; var mix = 0L
      for (oy <- 0 until oh; ox <- 0 until ow) {
        val ps = for { dy <- 0 to 1; dx <- 0 to 1 }
          yield img.getRGB(2 * ox + dx, 2 * oy + dy)
        val ar = ps.map(p => (p >> 16) & 0xff).sum / 4
        val ag = ps.map(p => (p >> 8) & 0xff).sum / 4
        val ab = ps.map(p => p & 0xff).sum / 4
        sr += ar; sg += ag; sb += ab
        if (((ox + oy) & 1) == 0) mix += ar + 2L * ag + 3L * ab
      }
      assert(Multimodal.decodeBmpBoxResize2(bytes) == ((ow, oh, sr, sg, sb, mix)),
        s"w=$w h=$h k=$k")
    }
    // malformed input degrades to the sentinel, not an exception
    assert(Multimodal.decodeBmpBoxResize2("nope".getBytes)._1 == -1)
    assert(Multimodal.decodeBmpBoxResize2(
      Multimodal.encodeBmp24(1, 4, 4).dropRight(3))._1 == -1)
  }

  test("BMP k-by-k ladder: ImageIO-refereed floor averages at /4 and /8, block-drop edges, malformed") {
    // independent referee: ImageIO decode + brute-force k-by-k box
    // average; dims straddle the block boundary so the partial-block
    // drop rule is exercised on both axes at both rungs
    for (w <- 9 to 17 by 2; h <- 8 to 16 by 2; kk <- Seq(0L, 29L); k <- Seq(4, 8)) {
      val bytes = Multimodal.encodeBmp24(kk, w, h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null)
      val ow = w / k; val oh = h / k
      var sr = 0L; var sg = 0L; var sb = 0L; var mix = 0L
      for (oy <- 0 until oh; ox <- 0 until ow) {
        val ps = for { dy <- 0 until k; dx <- 0 until k }
          yield img.getRGB(k * ox + dx, k * oy + dy)
        val ar = ps.map(p => (p >> 16) & 0xff).sum / (k * k)
        val ag = ps.map(p => (p >> 8) & 0xff).sum / (k * k)
        val ab = ps.map(p => p & 0xff).sum / (k * k)
        sr += ar; sg += ag; sb += ab
        if (((ox + oy) & 1) == 0) mix += ar + 2L * ag + 3L * ab
      }
      assert(Multimodal.decodeBmpBoxResizeK(bytes, k) == ((ow, oh, sr, sg, sb, mix)),
        s"w=$w h=$h kk=$kk k=$k")
    }
    // k=2 must agree exactly with the dedicated 2x2 kernel
    for (w <- 4 to 7; h <- 3 to 6) {
      val bytes = Multimodal.encodeBmp24(7L, w, h)
      assert(Multimodal.decodeBmpBoxResizeK(bytes, 2) ==
        Multimodal.decodeBmpBoxResize2(bytes))
    }
    assert(Multimodal.decodeBmpBoxResizeK("nope".getBytes, 4)._1 == -1)
    assert(Multimodal.decodeBmpBoxResizeK(
      Multimodal.encodeBmp24(1, 9, 9).dropRight(3), 4)._1 == -1)
  }

  test("BMP dHash: jitter invariance, brute-force parity, scene separation, malformed") {
    def lattice(g: Int, n: Int, d: Int) = g * (d - 1) / (n - 1)
    // independent brute-force of the hash from the scene formula
    def want(k: Long, w: Int, h: Int): (Long, Long) = {
      def gray(gx: Int, gy: Int): Int = {
        val (r, g, b) =
          Multimodal.scenePixel(k, lattice(gx, 9, w), lattice(gy, 8, h))
        (r + 2 * g + b) / 4
      }
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64 if gray(i % 8 + 1, i / 8) > gray(i % 8, i / 8))
        if (i < 32) hi |= 1L << i else lo |= 1L << (i - 32)
      (hi, lo)
    }
    for (k <- Seq(0L, 5L, 52L); w <- Seq(3, 7, 16); h <- Seq(2, 6, 10)) {
      // two docs of the same scene: byte-different images, identical hash
      val a = Multimodal.encodeBmp24Jittered(k, 1L, w, h)
      val b = Multimodal.encodeBmp24Jittered(k, 2L, w, h)
      // a 9×8 lattice covers EVERY pixel of a ≤9×≤8 image — only larger
      // images have off-lattice pixels for the jitter to touch
      if (w > 9 || h > 8)
        assert(!java.util.Arrays.equals(a, b), s"jitter must change bytes w=$w h=$h")
      val (aw, ah, ahi, alo) = Multimodal.decodeBmpDHash(a)
      assert((aw, ah) == ((w, h)))
      assert(Multimodal.decodeBmpDHash(b) == ((w, h, ahi, alo)), s"k=$k w=$w h=$h")
      assert((ahi, alo) == want(k, w, h), s"brute-force k=$k w=$w h=$h")
    }
    // the fixture regime's 53 scenes map to 53 distinct hashes (the
    // m14 cluster count depends on this separation)
    val hs = (0 until 53).map { s =>
      Multimodal.decodeBmpDHash(
        Multimodal.encodeBmp24Jittered(s.toLong, 9L, s % 14 + 3, s % 9 + 2))
    }
    assert(hs.distinct.size == 53)
    // top-down twin (negative height, rows pre-flipped) hashes identically
    val up = Multimodal.encodeBmp24Jittered(5L, 1L, 1, 2)
    val dn = up.clone()
    dn(22) = (-2).toByte; dn(23) = -1; dn(24) = -1; dn(25) = -1
    for (i <- 0 until 4) {
      val t = dn(54 + i); dn(54 + i) = dn(54 + 4 + i); dn(54 + 4 + i) = t
    }
    assert(Multimodal.decodeBmpDHash(dn) == Multimodal.decodeBmpDHash(up))
    // malformed: wrong magic, truncated, non-24bpp
    assert(Multimodal.decodeBmpDHash("nope".getBytes)._1 == -1)
    assert(Multimodal.decodeBmpDHash(up.dropRight(3))._1 == -1)
    val b16 = up.clone(); b16(28) = 16
    assert(Multimodal.decodeBmpDHash(b16)._1 == -1)
  }

  test("BMP dHash perturbation: single cell flips ≤2 bits under injective dims") {
    // the d13 fixture contract: with w ≥ 9, h ≥ 8 the 9×8 lattice is
    // injective, so one bumped pixel affects exactly one grid cell and
    // at most its two neighbor comparisons
    for (k <- Seq(0L, 17L, 52L)) {
      val w = (k % 8 + 9).toInt; val h = (k % 5 + 8).toInt
      val (_, _, bhi, blo) =
        Multimodal.decodeBmpDHash(Multimodal.encodeBmp24Perturbed(k, 1L, w, h, -1))
      for (c <- Seq(0, 8, 35, 71)) {
        val (_, _, phi, plo) =
          Multimodal.decodeBmpDHash(Multimodal.encodeBmp24Perturbed(k, 2L, w, h, c))
        val d = java.lang.Long.bitCount(bhi ^ phi) + java.lang.Long.bitCount(blo ^ plo)
        assert(d <= 2, s"k=$k c=$c flipped $d bits")
      }
    }
  }

  test("PNG pixel decode: all five filters, RGBA, ancillary chunks, malformed") {
    // heights ≥ 5 exercise every filter type (the encoder rotates y % 5)
    // against an independent brute-force of the pattern
    for (w <- Seq(1, 3, 7, 16); h <- Seq(2, 5, 9); k <- Seq(0L, 17L)) {
      val got = Multimodal.decodePngStats(Multimodal.encodePng24(k, w, h))
      val px = for { y <- 0 until h; x <- 0 until w } yield Multimodal.testPixel(k, x, y)
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 }
        yield Multimodal.testPixel(k, x, y)
      assert(got == ((w, h,
        px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)), s"w=$w h=$h k=$k")
    }
    // an ancillary chunk between IHDR and IDAT must be skipped: splice a
    // tEXt chunk into a valid file
    val png = Multimodal.encodePng24(3, 4, 4)
    val ihdrEnd = 8 + 12 + 13
    val text = {
      val data = "k v".getBytes("US-ASCII")
      val tb = "tEXt".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length)
        .put(tb).put(data).putInt(crc.getValue.toInt).array()
    }
    val spliced = png.take(ihdrEnd) ++ text ++ png.drop(ihdrEnd)
    assert(Multimodal.decodePngStats(spliced) == Multimodal.decodePngStats(png))
    // Adam7: an interlaced encode of the same image must decode to the
    // identical stats (the seven-pass geometry reassembles exactly)
    for (w <- Seq(1, 3, 7, 16); h <- Seq(2, 5, 9); k <- Seq(0L, 17L)) {
      assert(Multimodal.decodePngStats(
        Multimodal.encodePng24(k, w, h, interlace = true)) ==
        Multimodal.decodePngStats(Multimodal.encodePng24(k, w, h)),
        s"interlaced parity w=$w h=$h k=$k")
    }
    // malformed: bad magic, truncated IDAT, a LYING interlace flag (the
    // sequential payload is shorter than the 7-pass geometry demands —
    // must reject, not misread), a LYING 16-bit depth flag on an 8-bit
    // payload (same shortfall logic), dimension lies past the inflate cap
    assert(Multimodal.decodePngStats("nope".getBytes)._1 == -1)
    assert(Multimodal.decodePngStats(png.dropRight(20))._1 == -1)
    val interlaced = png.clone(); interlaced(8 + 8 + 12) = 1
    assert(Multimodal.decodePngStats(interlaced)._1 == -1)
    val deep = png.clone(); deep(8 + 8 + 8) = 16
    assert(Multimodal.decodePngStats(deep)._1 == -1)
    val huge = png.clone()
    huge(16) = 0x7f; huge(17) = 0x7f.toByte; huge(18) = 0x7f; huge(19) = 0x7f
    huge(20) = 0x7f; huge(21) = 0x7f; huge(22) = 0x7f; huge(23) = 0x7f
    assert(Multimodal.decodePngStats(huge)._1 == -1)
  }

  test("PNG palette/gray decode: depths 1/2/4/8, sub-byte packing, malformed") {
    // brute-force parity over every (depth, form) pair, widths chosen so
    // sub-byte rows carry padding bits (w=3,7) and full bytes (w=8,16);
    // heights ≥ 5 rotate through all five filters; ODD seeds (17, 33)
    // auto-encode Adam7 INTERLACED, so the sub-byte seven-pass geometry
    // is brute-force-checked too
    for (d <- Seq(1, 2, 4, 8); pal <- Seq(false, true);
         w <- Seq(1, 3, 7, 8, 16); h <- Seq(2, 5, 9); k <- Seq(0L, 17L, 33L)) {
      val got = Multimodal.decodePngStats(Multimodal.encodePngSub(k, w, h, d, pal))
      def rgb(x: Int, y: Int): (Int, Int, Int) = {
        val s = Multimodal.pngSample(k, x, y, d)
        if (pal) Multimodal.pngPalette(s)
        else { val v = s * (255 / ((1 << d) - 1)); (v, v, v) }
      }
      val px = for { y <- 0 until h; x <- 0 until w } yield rgb(x, y)
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 } yield rgb(x, y)
      assert(got == ((w, h,
        px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)),
        s"d=$d pal=$pal w=$w h=$h k=$k")
    }
    // a paletted file whose PLTE is too short for its indexes → bad,
    // not an out-of-bounds read: depth 8 indexes reach 255 but the
    // spliced PLTE keeps 4 entries
    val full = Multimodal.encodePngSub(5L, 6, 4, 8, palette = true)
    val plteOff = 8 + 12 + 13 // after IHDR
    val shortPlte = {
      val entries = 4
      val data = Array.tabulate(3 * entries)(i => (i * 3).toByte)
      val tb = "PLTE".getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length)
        .put(tb).put(data).putInt(crc.getValue.toInt).array()
    }
    val origPlteLen = 12 + 3 * 256
    val spliced = full.take(plteOff) ++ shortPlte ++
      full.drop(plteOff + origPlteLen)
    assert(Multimodal.decodePngStats(spliced)._1 == -1, "short PLTE accepted")
    // a paletted file with NO PLTE at all → bad
    val noPlte = full.take(plteOff) ++ full.drop(plteOff + origPlteLen)
    assert(Multimodal.decodePngStats(noPlte)._1 == -1, "missing PLTE accepted")
    // depth 3 (not a PNG depth) and depth 16 gray (out of scope) → bad
    val g8 = Multimodal.encodePngSub(5L, 6, 4, 8, palette = false)
    val d3 = g8.clone(); d3(8 + 8 + 8) = 3
    assert(Multimodal.decodePngStats(d3)._1 == -1)
    val d16 = g8.clone(); d16(8 + 8 + 8) = 16
    assert(Multimodal.decodePngStats(d16)._1 == -1)
    // single-byte corruption fuzz over valid palette/gray files: the
    // decoder must never throw — every outcome is bad or a stat tuple
    val rnd = new scala.util.Random(13)
    for (i <- 0 until 300) {
      val base =
        if (i % 3 == 2) Multimodal.encodePng16(rnd.nextInt(251).toLong,
          rnd.nextInt(14) + 3, rnd.nextInt(9) + 2, rnd.nextBoolean())
        else Multimodal.encodePngSub(rnd.nextInt(251).toLong,
          rnd.nextInt(14) + 3, rnd.nextInt(9) + 2,
          Seq(1, 2, 4, 8)(rnd.nextInt(4)), rnd.nextBoolean())
      val mut = base.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      val (mw, mh, _, _, _, _) = Multimodal.decodePngStats(mut)
      assert(mw >= -1 && mh >= -1)
    }
  }

  test("PNG 16-bit decode: gray and RGB, high-byte fold, interlace, malformed") {
    // the 16→8 fold must keep the big-endian HIGH byte and discard the
    // fixture's independent low-byte pattern — brute-force parity; odd
    // seed 17 auto-interlaces, covering the 7-pass walk at bpp 2/6
    for (rgb <- Seq(false, true); w <- Seq(1, 3, 7, 16); h <- Seq(2, 5, 9);
         k <- Seq(0L, 17L)) {
      val got = Multimodal.decodePngStats(Multimodal.encodePng16(k, w, h, rgb))
      def px(x: Int, y: Int): (Int, Int, Int) =
        if (rgb) Multimodal.testPixel(k, x, y)
        else { val v = Multimodal.pngSample(k, x, y, 8); (v, v, v) }
      val all = for { y <- 0 until h; x <- 0 until w } yield px(x, y)
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 } yield px(x, y)
      assert(got == ((w, h,
        all.map(_._1.toLong).sum, all.map(_._2.toLong).sum,
        all.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)),
        s"rgb=$rgb w=$w h=$h k=$k")
    }
    // 16-bit PALETTE is not a legal PNG combination: a paletted file
    // whose depth byte claims 16 must reject
    val palFile = Multimodal.encodePngSub(4L, 6, 4, 8, palette = true)
    val p16 = palFile.clone(); p16(8 + 8 + 8) = 16
    assert(Multimodal.decodePngStats(p16)._1 == -1)
  }

  test("packPng24 → decodePngPixelStats round-trips through the batch seam") {
    import spark.implicits._
    val df = Seq((0L, 3, 2), (7L, 16, 9), (250L, 5, 4)).toDF("id", "w", "h")
      .select(col("id"), Multimodal.packPng24(col("id"), col("w"), col("h")).as("media"))
    val got = Multimodal.decodePngPixelStats(df, "id", "media")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == Map(0L -> ((3, 2)), 7L -> ((16, 9)), 250L -> ((5, 4))))
  }

  test("GIF pixel decode: real LZW, interlace, local tables, malformed") {
    // even seeds = sequential, odd = interlaced; widths/heights across
    // all four interlace passes; brute-force reference from the pattern
    for (w <- Seq(1, 3, 16); h <- Seq(2, 5, 9, 17); k <- Seq(0L, 1L, 17L, 250L)) {
      val got = Multimodal.decodeGifStats(Multimodal.encodeGif(k, w, h))
      val px = for { y <- 0 until h; x <- 0 until w }
        yield Multimodal.gifPalette(Multimodal.gifIndex(k, x, y))
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 }
        yield Multimodal.gifPalette(Multimodal.gifIndex(k, x, y))
      assert(got == ((w, h,
        px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)), s"w=$w h=$h k=$k")
    }
    // a large image forces dictionary growth through several code widths
    // (64×64 = 4096 indices) — and an overflow clear on repetitive data
    val big = Multimodal.decodeGifStats(Multimodal.encodeGif(9, 64, 64))
    assert(big._1 == 64 && big._2 == 64)
    // an extension block (e.g. GCE) before the image must be skipped:
    // splice one in after the global color table
    val gif = Multimodal.encodeGif(4, 5, 4)
    val gce = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0)
    val cut = 13 + 768 // header + screen descriptor + global table
    val spliced = gif.take(cut) ++ gce ++ gif.drop(cut)
    assert(Multimodal.decodeGifStats(spliced) == Multimodal.decodeGifStats(gif))
    // malformed: magic, truncation, trailer-before-image
    assert(Multimodal.decodeGifStats("GIF89x rest".getBytes)._1 == -1)
    assert(Multimodal.decodeGifStats(gif.dropRight(8))._1 == -1)
    assert(Multimodal.decodeGifStats(gif.take(cut) :+ 0x3b.toByte)._1 == -1)
  }

  test("animated GIF: per-frame composition, transparency, disposal, malformed") {
    // reference model: RGB canvas, opaque writes, per-frame disposal —
    // restore-to-background or restore-to-previous after the frame shows
    def model(k: Long, w: Int, h: Int,
        disposalOf: Int => Int): Seq[(Int, Long, Long, Long, Long)] = {
      val bg = Multimodal.gifPalette(0)
      val canvas = Array.fill(h, w)(bg)
      (0 until 3).map { f =>
        val (x0, y0) = Multimodal.gifAnimOrigin(f, w, h)
        val snapshot = canvas.map(_.clone())
        for (y <- y0 until h; x <- x0 until w
             if !Multimodal.gifAnimTransparent(f, x, y))
          canvas(y)(x) = Multimodal.gifPalette(Multimodal.gifAnimIndex(k, f, x, y))
        val px = for { y <- 0 until h; x <- 0 until w } yield canvas(y)(x)
        val even = for { y <- 0 until h by 2; x <- 0 until w by 2 }
          yield canvas(y)(x)
        val res = (f,
          px.map(_._1.toLong).sum, px.map(_._2.toLong).sum,
          px.map(_._3.toLong).sum,
          even.map(p => (p._1 + p._2 + p._3).toLong).sum)
        if (disposalOf(f) == 2)
          for (y <- y0 until h; x <- x0 until w) canvas(y)(x) = bg
        if (disposalOf(f) == 3)
          for (y <- y0 until h; x <- x0 until w) canvas(y)(x) = snapshot(y)(x)
        res
      }
    }
    // keep-composite (disposal 1): holes show the prior frame through;
    // odd seeds interlace every frame
    for (w <- Seq(3, 5, 16); h <- Seq(2, 5, 9); k <- Seq(0L, 17L, 33L)) {
      val got = Multimodal.decodeGifAnimStats(Multimodal.encodeGifAnim(k, w, h))
      assert(got.toSeq == model(k, w, h, _ => 1), s"w=$w h=$h k=$k")
    }
    // restore-to-background (disposal 2): each frame's rect clears
    // between frames, so holes show BACKGROUND, not the prior frame
    for (k <- Seq(4L, 9L)) {
      val got = Multimodal.decodeGifAnimStats(
        Multimodal.encodeGifAnim(k, 6, 5, disposalOf = _ => 2))
      assert(got.toSeq == model(k, 6, 5, _ => 2), s"disposal2 k=$k")
      assert(got.toSeq != model(k, 6, 5, _ => 1),
        "disposal modes indistinguishable — test substrate vacuous")
    }
    // restore-to-previous (disposal 3) under MIXED per-frame disposal:
    // frame 0 keeps (its composite is NOT background), frames 1-2
    // restore-to-previous — the pre-frame rect holds frame 0's pixels,
    // so a decoder that restores to BACKGROUND instead of the snapshot
    // diverges (the only substrate that separates 3 from 2)
    val mixed: Int => Int = f => if (f == 0) 1 else 3
    for (k <- Seq(4L, 9L)) {
      val got = Multimodal.decodeGifAnimStats(
        Multimodal.encodeGifAnim(k, 6, 5, disposalOf = mixed))
      assert(got.toSeq == model(k, 6, 5, mixed), s"disposal3 k=$k")
      assert(got.toSeq != model(k, 6, 5, f => if (f == 0) 1 else 2) &&
        got.toSeq != model(k, 6, 5, _ => 1),
        "disposal-3 substrate indistinguishable — vacuous")
    }
    // reserved disposal methods 4-7 reject at GCE parse, not 'keep'
    assert(Multimodal.decodeGifAnimStats(
      Multimodal.encodeGifAnim(4L, 6, 5, disposalOf = _ => 4)).isEmpty)
    // malformed: truncated mid-stream drops the record (no partial
    // animation), garbage header drops it
    assert(Multimodal.decodeGifAnimStats("GIF89a".getBytes).isEmpty)
    val full = Multimodal.encodeGifAnim(0L, 5, 4)
    assert(Multimodal.decodeGifAnimStats(full.dropRight(5)).isEmpty)
    assert(Multimodal.decodeGifAnimStats(full.take(200)).isEmpty)
  }

  test("JPEG pixel decode: huffman scan, 4:2:0 vs grayscale, malformed") {
    // brute-force reference from the analytic block model; even seeds
    // grayscale, odd seeds color 4:2:0 (both real entropy paths)
    for (wm <- 1 to 2; hm <- 1 to 3; k <- Seq(0L, 1L, 17L, 42L, 250L)) {
      val w = 16 * wm; val h = 16 * hm
      val got = Multimodal.decodeJpegStats(Multimodal.encodeJpeg(k, wm, hm))
      val px = for { y <- 0 until h; x <- 0 until w } yield {
        val yv = Multimodal.jpegY(k, x / 8, y / 8)
        if ((k & 1) == 0) (yv, yv, yv)
        else Multimodal.ycbcrToRgb(yv,
          Multimodal.jpegCb(k, x / 16, y / 16), Multimodal.jpegCr(k, x / 16, y / 16))
      }
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 } yield {
        val yv = Multimodal.jpegY(k, x / 8, y / 8)
        if ((k & 1) == 0) (yv, yv, yv)
        else Multimodal.ycbcrToRgb(yv,
          Multimodal.jpegCb(k, x / 16, y / 16), Multimodal.jpegCr(k, x / 16, y / 16))
      }
      assert(got == ((w, h,
        px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        even.map(p => (p._1 + p._2 + p._3).toLong).sum)), s"wm=$wm hm=$hm k=$k")
    }
    // CONFORMANCE, position-sensitive: the channel sums above are
    // block-permutation invariant, so a wrong block STREAM ORDER (the
    // single-component scan is raster, one 8×8 block per MCU — not the
    // 2×2 luma-tile order of the interleaved path) would pass them.
    // The JDK's own ImageIO JPEG decoder is the independent referee:
    // each block's pixel must land at its raster position.
    {
      val k = 42L // even → grayscale
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodeJpeg(k, 2, 2)))
      assert(img != null && img.getWidth == 32 && img.getHeight == 32)
      for (by <- 0 until 4; bx <- 0 until 4) {
        val got = img.getRaster.getSample(bx * 8 + 3, by * 8 + 5, 0)
        val want = Multimodal.jpegY(k, bx, by)
        // DC-only blocks decode exactly (q=8 cancels); allow ±1 for the
        // JDK's IDCT rounding
        assert(math.abs(got - want) <= 1, s"block ($bx,$by): $got vs $want")
      }
    }
    // an APP0/JFIF segment must be skipped like any APPn
    val jpg = Multimodal.encodeJpeg(3, 1, 1)
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16,
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val spliced = jpg.take(2) ++ app0 ++ jpg.drop(2)
    assert(Multimodal.decodeJpegStats(spliced) == Multimodal.decodeJpegStats(jpg))
    // malformed: magic, truncated scan, progressive SOF2 rejected
    assert(Multimodal.decodeJpegStats("not a jpeg".getBytes)._1 == -1)
    assert(Multimodal.decodeJpegStats(jpg.dropRight(jpg.length / 3))._1 == -1)
    val sof2 = jpg.clone()
    val sofAt = (0 until sof2.length - 1).find(i =>
      (sof2(i) & 0xff) == 0xff && (sof2(i + 1) & 0xff) == 0xc0).get
    sof2(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegStats(sof2)._1 == -1)
  }

  test("WAV PCM decode: sample stats, chunk skip, malformed") {
    for (n <- Seq(1, 50, 449); k <- Seq(0L, 17L, 250L)) {
      val got = Multimodal.decodeWavStats(Multimodal.encodeWavPcm16(k, n))
      val samples = (0 until n).map(i => Multimodal.testSample(k, i).toLong)
      assert(got == ((1, n.toLong, samples.sum,
        samples.map(math.abs).sum, samples.map(math.abs).max)), s"n=$n k=$k")
    }
    // an ancillary LIST chunk between fmt and data must be skipped
    val wav = Multimodal.encodeWavPcm16(7, 20)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = wav.take(36) ++ list ++ wav.drop(36)
    // RIFF size field is now stale but the walker uses chunk lengths
    assert(Multimodal.decodeWavStats(spliced) == Multimodal.decodeWavStats(wav))
    // malformed: magic, truncated data chunk, non-PCM format
    assert(Multimodal.decodeWavStats("RIFFxxxxWAVX".getBytes)._1 == -1)
    assert(Multimodal.decodeWavStats(wav.dropRight(3))._1 == -1)
    val fmt3 = wav.clone(); fmt3(20) = 3 // IEEE float
    assert(Multimodal.decodeWavStats(fmt3)._1 == -1)
  }

  test("WAV windowed loudness: exact window fold, gated fixture, malformed") {
    // ungated fixture: per-window |s| sums over 50-sample frames
    for (n <- Seq(1, 49, 50, 51, 449); k <- Seq(0L, 17L, 250L)) {
      val (gotN, wins) =
        Multimodal.decodeWavWindowAbs(Multimodal.encodeWavPcm16(k, n), 50)
      val s = (0 until n).map(i => math.abs(Multimodal.testSample(k, i).toLong))
      assert(gotN == n.toLong, s"n=$n k=$k")
      assert(wins.toSeq == s.grouped(50).map(_.sum).toSeq, s"n=$n k=$k")
    }
    // gated fixture mutes exactly the (i/70)%4==0 spans
    val (_, gw) =
      Multimodal.decodeWavWindowAbs(Multimodal.encodeWavPcm16GatedImpl(17, 449), 50)
    val gs = (0 until 449).map(i =>
      if ((i / 70) % 4 == 0) 0L else math.abs(Multimodal.testSample(17, i).toLong))
    assert(gw.toSeq == gs.grouped(50).map(_.sum).toSeq)
    assert(gw(0) == 0L) // window 0 sits inside the first 70-sample gap
    // malformed: truncation and bad magic → (-1, empty), never a throw
    val wav = Multimodal.encodeWavPcm16(7, 20)
    assert(Multimodal.decodeWavWindowAbs(wav.dropRight(3), 50)._1 == -1L)
    assert(Multimodal.decodeWavWindowAbs("RIFFxxxxWAVX".getBytes, 50)._1 == -1L)
    assert(Multimodal.decodeWavWindowAbs(wav, 0)._1 == -1L)
  }

  test("WAV autocorrelation: exact lag products, lag past length, malformed") {
    val lags = Seq(1, 2, 4, 8)
    for (n <- Seq(1, 50, 449); k <- Seq(0L, 17L, 250L)) {
      val got = Multimodal.decodeWavAutocorr(Multimodal.encodeWavPcm16(k, n), lags)
      val s = (0 until n).map(i => Multimodal.testSample(k, i).toLong)
      val want = (n.toLong, s.map(v => v * v).sum,
        lags.map(l => (0 until n - l).map(i => s(i) * s(i + l)).sum))
      assert(got == want, s"n=$n k=$k")
    }
    // a lag ≥ n has an empty product window → 0, not an index error
    assert(Multimodal.decodeWavAutocorr(
      Multimodal.encodeWavPcm16(3, 5), Seq(5, 9)) ==
      ((5L, (0 until 5).map(i => { val v = Multimodal.testSample(3, i).toLong; v * v }).sum,
        Seq(0L, 0L))))
    val wav = Multimodal.encodeWavPcm16(7, 20)
    assert(Multimodal.decodeWavAutocorr(wav.dropRight(3), lags)._1 == -1L)
    assert(Multimodal.decodeWavAutocorr("RIFFxxxxWAVX".getBytes, lags)._1 == -1L)
  }

  test("packBmp24 → decodeBmpPixelStats round-trips through the batch seam") {
    import spark.implicits._
    val df = Seq((0L, 3, 2), (7L, 16, 9), (250L, 5, 4)).toDF("id", "w", "h")
      .select(col("id"), Multimodal.packBmp24(col("id"), col("w"), col("h")).as("media"),
        col("w"), col("h"))
    val got = Multimodal.decodeBmpPixelStats(df, "id", "media")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == Map(0L -> ((3, 2)), 7L -> ((16, 9)), 250L -> ((5, 4))))
  }

  test("packMp4Track → parseMp4SampleStats round-trips the sample tables") {
    import spark.implicits._
    // timescale 1200, delta 110, n 4, base 250:
    //   sizes = 250+0, 250+1, 250+4, 250+2 (i² mod 7) → total 1007, max 254
    //   duration_ms = 4·110·1000/1200 = 366
    val media = Seq((1L, 1200, 110, 4, 250)).toDF("id", "tsc", "d", "n", "b")
      .select(Multimodal.packMp4Track(col("tsc"), col("d"), col("n"), col("b")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(Multimodal.parseMp4SampleStats(media) == ((4L, 366L, 1007L, 254L)))
    // the parsed container is also still a valid m6-level MP4... no mvhd
    // here (track-only moov), so parseAvHeader reports unknown — by design
    assert(Multimodal.parseAvHeader(media)._1 == "unknown")
  }

  test("mdhd v1 layout: timescale shifts past the 64-bit times") {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(id: String, body: Array[Byte]) =
      be32(8 + body.length) ++ id.getBytes("US-ASCII") ++ body
    // v1: ver=1/flags, ctime(8), mtime(8), timescale(4), duration(8)
    val mdhd = box("mdhd", Array[Byte](1, 0, 0, 0) ++ Array.fill[Byte](16)(0) ++
      be32(500) ++ Array.fill[Byte](8)(0))
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(2) ++ be32(250))
    val stsz = box("stsz", be32(0) ++ be32(10) ++ be32(2))
    val mdia = box("mdia", mdhd ++ box("minf", box("stbl", stts ++ stsz)))
    val b = be32(16) ++ "ftypisom".getBytes("US-ASCII") ++ be32(0) ++
      box("moov", box("trak", mdia))
    // duration_ms = 2·250·1000/500 = 1000; total 20, max 10
    assert(Multimodal.parseMp4SampleStats(b) == ((2L, 1000L, 20L, 10L)))
  }

  test("stsz fixed-size branch: constant sample size folds without a table") {
    // hand-build: replace stsz with fixed sample_size=100, count=5
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def box(id: String, body: Array[Byte]) =
      be32(8 + body.length) ++ id.getBytes("US-ASCII") ++ body
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(5) ++ be32(200))
    val stsz = box("stsz", be32(0) ++ be32(100) ++ be32(5))
    val mdhd = box("mdhd", Array.fill[Byte](12)(0) ++ be32(1000) ++ be32(1000) ++ be32(0))
    val stbl = box("stbl", stts ++ stsz)
    val minf = box("minf", stbl)
    val mdia = box("mdia", mdhd ++ minf)
    val b = be32(16) ++ "ftypisom".getBytes("US-ASCII") ++ be32(0) ++
      box("moov", box("trak", mdia))
    assert(Multimodal.parseMp4SampleStats(b) == ((5L, 1000L, 500L, 100L)))
  }

  test("frame sampling: every k-th index, capped") {
    import spark.implicits._
    val df = Seq(10, 1, 100).toDF("n")
      .select(col("n"), Multimodal.sampleFrameIndexes(col("n"), every = 3, cap = 5).as("idx"))
    val got = df.collect().map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Int]]("idx")).toMap
    assert(got(10) == Seq(0, 3, 6, 9))
    assert(got(1) == Seq(0))
    assert(got(100) == Seq(0, 3, 6, 9, 12))
  }

  test("JPEG nonzero-AC decode: pinned integer IDCT, replay parity, referee") {
    // brute-force parity against the PINNED integer IDCT replay — the
    // exact arithmetic the m22 oracle re-runs in SQL
    val K1 = Array(2009, 1703, 1138, 400, -400, -1138, -1703, -2009)
    val K2 = Array(1892, 784, -784, -1892, -1892, -784, 784, 1892)
    def pixel(k: Long, nbx: Int, bx: Int, by: Int, x: Int, y: Int): Int = {
      val s = 1448L * 1448 * (8L * Multimodal.jpegAcDc(k, bx, by)) +
        K1(x).toLong * 1448 * (16L * Multimodal.jpegAc1(k, bx, by)) +
        K1(x).toLong * K2(y) * (16L * Multimodal.jpegAc2(k, bx, by))
      val v = ((s + (1L << 23)) >> 24).toInt + 128
      math.max(0, math.min(255, v))
    }
    for (nbx <- 1 to 3; nby <- 1 to 3; k <- Seq(0L, 1L, 17L, 42L, 250L)) {
      val w = 8 * nbx; val h = 8 * nby
      val got = Multimodal.decodeJpegStats(Multimodal.encodeJpegAc(k, nbx, nby))
      def px(x: Int, y: Int) = pixel(k, nbx, x / 8, y / 8, x % 8, y % 8)
      val all = for { y <- 0 until h; x <- 0 until w } yield px(x, y).toLong
      val even = for { y <- 0 until h by 2; x <- 0 until w by 2 } yield px(x, y).toLong
      assert(got == ((w, h, all.sum, all.sum, all.sum, 3 * even.sum)),
        s"nbx=$nbx nby=$nby k=$k")
      // the ACs must actually land: at least one block's ripple differs
      // from its flat DC reconstruction
      val flatOnly = (0 until nby).flatMap(by => (0 until nbx).map(bx =>
        Multimodal.jpegAc1(k, bx, by) == 0 && Multimodal.jpegAc2(k, bx, by) == 0))
      if (!flatOnly.forall(identity))
        assert((0 until h).exists(y => (1 until w).exists(x =>
          px(x, y) != px(x - 1, y))), s"no AC ripple k=$k")
    }
    // independent referee: the JDK ImageIO decoder must agree with the
    // pinned IDCT within its own rounding latitude on every pixel
    val k = 42L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeJpegAc(k, 3, 2)))
    assert(img != null && img.getWidth == 24 && img.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 24) {
      val got = img.getRaster.getSample(x, y, 0)
      val want = pixel(k, 3, x / 8, y / 8, x % 8, y % 8)
      assert(math.abs(got - want) <= 2, s"($x,$y): jdk=$got pinned=$want")
    }
    // single-byte corruption fuzz over nonzero-AC files
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 200) {
      val base = Multimodal.encodeJpegAc(rnd.nextInt(251).toLong,
        rnd.nextInt(5) + 1, rnd.nextInt(4) + 1)
      val mut = base.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      val (mw, mh, _, _, _, _) = Multimodal.decodeJpegStats(mut)
      assert(mw >= -1 && mh >= -1)
    }
  }
}
