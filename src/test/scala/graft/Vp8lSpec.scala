package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Multimodal, Vp8l}

/** VP8L WebP-lossless codec: roundtrip parity against the analytic
  * fixture formulas for every encoding regime, a hand-assembled golden
  * bitstream (authored bit-by-bit from the spec in the comments below,
  * independently of the production bit writer), structural-malformation
  * rejects, and the house single-byte corruption loop. */
class Vp8lSpec extends AnyFunSuite {

  /** The analytic decoded-pixel formula per seed regime — what the
    * DuckDB oracle recomputes (m21). */
  private def expectedPixel(k: Long, w: Int, x: Int, y: Int): (Int, Int, Int) =
    (k % 5) match {
      case 1 => Multimodal.testPixel(k, x % 3, 0)
      case 2 =>
        val nv = Array(2, 4, 16)(((k / 5) % 3).toInt)
        val j = ((x + 2L * y + k) % nv).toInt
        ((5 * j + 1) % 256, (11 * j + 2) % 256, (23 * j + 3) % 256)
      case _ => Multimodal.testPixel(k, x, y)
    }

  private def expectedStats(
      k: Long, w: Int, h: Int): (Int, Int, Long, Long, Long, Long) = {
    val all = for { y <- 0 until h; x <- 0 until w }
      yield expectedPixel(k, w, x, y)
    val even = for { y <- 0 until h by 2; x <- 0 until w by 2 }
      yield expectedPixel(k, w, x, y)
    (w, h, all.map(_._1.toLong).sum, all.map(_._2.toLong).sum,
      all.map(_._3.toLong).sum,
      even.map(p => (p._1 + p._2 + p._3).toLong).sum)
  }

  test("VP8L roundtrip: all five regimes, all fixture dims, edge dims") {
    // k mod 5 picks the regime; sweep enough seeds that every predictor
    // mode (k/5 cycling 14 in regime 3), every palette size (2/4/16 in
    // regime 2), and both distance codings (k/5 parity in regime 1) run
    for (k <- 0L until 80L; (w, h) <- Seq((3, 2), (16, 10), (7, 5))) {
      val got = Vp8l.decodeWebpStats(Vp8l.encodeWebp(k, w, h))
      assert(got == expectedStats(k, w, h), s"k=$k w=$w h=$h")
    }
    // degenerate geometry: single pixel, single row, single column
    for (k <- 0L until 10L; (w, h) <- Seq((1, 1), (5, 1), (1, 7), (2, 2))) {
      val got = Vp8l.decodeWebpStats(Vp8l.encodeWebp(k, w, h))
      assert(got == expectedStats(k, w, h), s"k=$k w=$w h=$h")
    }
  }

  test("VP8L golden vector: hand-assembled 2x1 literal stream decodes exactly") {
    // Assembled bit-by-bit from the spec, independently of the encoder:
    //   14 bits w-1=1, 14 bits h-1=0, 1 bit alpha-hint=0, 3 bits version=0
    //   1 bit transforms-present=0
    //   1 bit color-cache=0, 1 bit meta-prefix=0
    //   green: simple 2-symbol {2,5} (1,1, first-is-8bit=1, 2 as 8 LSB-first
    //          bits, 5 as 8 bits) — code 0 → 2, code 1 → 5
    //   red:   simple 2-symbol {1,4} via the 1-bit first-symbol form
    //          (1,1, first-is-8bit=0, bit 1, then 4 as 8 bits)
    //   blue:  simple 2-symbol {3,6} (8-bit form)
    //   alpha: simple 1-symbol {255} (1,0, first-is-8bit=1, 255) → 0 bits
    //   dist:  simple 1-symbol {0} (1,0,0,0) → 0 bits
    //   pixels: (g=2: code 0, r=1: code 0, b=3: code 0)
    //           (g=5: code 1, r=4: code 1, b=6: code 1)
    // Expected ARGB: (255,1,2,3), (255,4,5,6).
    val bits = new scala.collection.mutable.ArrayBuffer[Int]
    def put(v: Int, n: Int): Unit = // LSB-first field, as the spec reads
      for (i <- 0 until n) bits += (v >> i) & 1
    put(1, 14); put(0, 14); put(0, 1); put(0, 3)
    put(0, 1)           // no transforms
    put(0, 1); put(0, 1) // no cache, no meta
    put(1, 1); put(1, 1); put(1, 1); put(2, 8); put(5, 8) // green {2,5}
    put(1, 1); put(1, 1); put(0, 1); put(1, 1); put(4, 8) // red {1,4}
    put(1, 1); put(1, 1); put(1, 1); put(3, 8); put(6, 8) // blue {3,6}
    put(1, 1); put(0, 1); put(1, 1); put(255, 8)          // alpha {255}
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)            // dist {0}
    put(0, 1); put(0, 1); put(0, 1) // pixel 0: g,r,b all code 0
    put(1, 1); put(1, 1); put(1, 1) // pixel 1: g,r,b all code 1
    val payload = Array(0x2f.toByte) ++
      bits.grouped(8).map { g =>
        g.zipWithIndex.map { case (b, i) => b << i }.sum.toByte
      }.toArray
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit =
      for (i <- 0 until 4) out.write((v >> (8 * i)) & 0xff)
    out.write("RIFF".getBytes("US-ASCII"))
    le32(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII")); le32(payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    val got = Vp8l.decodeWebpStats(out.toByteArray)
    assert(got == ((2, 1, 1L + 4, 2L + 5, 3L + 6, 1L + 2 + 3)))
  }

  test("VP8L malformed: magic lies, budget lies, truncation, version") {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    assert(Vp8l.decodeWebpStats(Array.empty[Byte]) == bad)
    assert(Vp8l.decodeWebpStats("RIFFxxxxWAVE".getBytes ++
      new Array[Byte](20)) == bad)
    val ok = Vp8l.encodeWebp(3L, 6, 4)
    assert(Vp8l.decodeWebpStats(ok)._1 == 6)
    // truncation at EVERY length must reject, never throw
    for (n <- 0 until ok.length)
      assert(Vp8l.decodeWebpStats(ok.take(n)) == bad, s"truncated at $n")
    // dimension lie: patch the 14+14-bit geometry to the 16384×16384
    // maximum — the pixel budget must reject before allocating
    val lie = ok.clone()
    lie(21) = 0xff.toByte; lie(22) = 0xff.toByte; lie(23) = 0xff.toByte
    lie(24) = (lie(24) | 0x0f).toByte
    assert(Vp8l.decodeWebpStats(lie) == bad)
    // version bits must be zero
    val ver = ok.clone()
    ver(24) = (ver(24) | 0x80).toByte // version high bit (bit 31 of LE32)
    assert(Vp8l.decodeWebpStats(ver) == bad)
  }

  test("VP8L single-byte corruption fuzz never throws") {
    val rnd = new scala.util.Random(29)
    for (i <- 0 until 400) {
      val base = Vp8l.encodeWebp(rnd.nextInt(251).toLong,
        rnd.nextInt(14) + 3, rnd.nextInt(9) + 2)
      val mut = base.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      val (mw, mh, _, _, _, _) = Vp8l.decodeWebpStats(mut)
      assert(mw >= -1 && mh >= -1)
    }
  }

  test("cross-format dHash: BMP and WebP of one scene hash identically") {
    for (scene <- 0L until 53L) {
      val w = (scene % 8 + 9).toInt; val h = (scene % 5 + 8).toInt
      val bmp = Multimodal.decodeImageDHash(
        Multimodal.encodeBmp24Jittered(scene, docSeed = 1000 + scene, w, h))
      val webp = Multimodal.decodeImageDHash(
        Vp8l.encodeWebpScene(scene, docSeed = 2000 + scene, w, h))
      assert(bmp._1 == "bmp" && webp._1 == "webp", s"scene=$scene")
      assert((bmp._4, bmp._5) == ((webp._4, webp._5)),
        s"scene=$scene cross-format hash mismatch")
      // jitter must not leak into the hash: a different doc, same scene
      val webp2 = Multimodal.decodeImageDHash(
        Vp8l.encodeWebpScene(scene, docSeed = 7777 + scene, w, h))
      assert((webp2._4, webp2._5) == ((webp._4, webp._5)))
    }
    // distinct scenes stay distinct (the ground-truth-oracle premise)
    val hashes = (0L until 53L).map { scene =>
      val w = (scene % 8 + 9).toInt; val h = (scene % 5 + 8).toInt
      val d = Multimodal.decodeImageDHash(Vp8l.encodeWebpScene(scene, 1L, w, h))
      (d._4, d._5)
    }
    assert(hashes.distinct.length == 53)
    // junk through the dispatcher: bad, never a throw
    assert(Multimodal.decodeImageDHash(Array[Byte](1, 2, 3))._1 == "bad")
    assert(Multimodal.decodeImageDHash("RIFFxxxxWEBPVP8L".getBytes)._1 == "bad")
  }

  test("VP8L distance map: spec anchors and derivation invariants") {
    val m = Vp8l.DistanceMap
    assert(m.length == 120)
    // the close-neighbor anchors a real encoder hits constantly
    assert(m(0) == ((0, 1)))  // one row up
    assert(m(1) == ((1, 0)))  // previous pixel
    assert(m(2) == ((1, 1)))
    assert(m(3) == ((-1, 1)))
    assert(m(4) == ((0, 2)))
    assert(m(5) == ((2, 0)))
    // every entry unique, within the spec's neighborhood, and causal
    // (strictly before the current pixel in scan order)
    assert(m.distinct.length == 120)
    assert(m.forall { case (dx, dy) =>
      dy >= 0 && dy <= 7 && dx >= -7 && dx <= 8 && (dy > 0 || dx >= 1)
    })
    // sorted by squared distance
    val d2 = m.map { case (dx, dy) => dx * dx + dy * dy }
    assert(d2.zip(d2.tail).forall { case (a, b) => a <= b })
  }

  test("Select (mode 11) tie-break: pL == pT with L != T predicts TOP") {
    // Golden vector, hand-computed: libwebp's Select(top, left, top_left)
    // returns `(pa_minus_pb <= 0) ? top : left`, i.e. ties go to TOP.
    //   TL = (a255, r10, g10, b10), L = (a255, r20, g10, b10),
    //   T  = (a255, r10, g20, b10)
    //   pred = L + T - TL = (255, 20, 20, 10)
    //   pL = |pred-L| = 0 + 0 + 10 + 0 = 10
    //   pT = |pred-T| = 0 + 10 + 0 + 0 = 10  → tie → T
    def px(a: Int, r: Int, g: Int, b: Int) =
      (a << 24) | (r << 16) | (g << 8) | b
    val tl = px(255, 10, 10, 10)
    val l = px(255, 20, 10, 10)
    val t = px(255, 10, 20, 10)
    assert(l != t)
    assert(Vp8l.selectForTest(l, t, tl) == t, "tie must resolve to TOP")
    // non-ties unaffected: strictly closer side wins either way
    assert(Vp8l.selectForTest(px(255, 40, 10, 10), px(255, 12, 10, 10),
      px(255, 10, 10, 10)) == px(255, 40, 10, 10)) // pL=2 < pT=30 → L
    assert(Vp8l.selectForTest(px(255, 12, 10, 10), px(255, 40, 10, 10),
      px(255, 10, 10, 10)) == px(255, 40, 10, 10)) // pT=2 < pL=30 → T
  }

  test("prefix code: single used symbol > 255 round-trips as zero-bit") {
    // Can't take the simple form (8-bit symbol fields), so it goes
    // through the normal header with one nonzero length; the decoder
    // maps that to the zero-bit single-symbol code, and the write side
    // must emit zero bits per symbol too or the stream desynchronizes.
    val freq = new Array[Int](320)
    freq(300) = 7
    assert(Vp8l.prefixCodeRoundtripForTest(freq, Seq(300, 300, 300)) ==
      Seq(300, 300, 300))
    // the neighboring regimes stay sane through the same gate
    val simple = new Array[Int](320); simple(7) = 3
    assert(Vp8l.prefixCodeRoundtripForTest(simple, Seq(7, 7)) == Seq(7, 7))
    val two = new Array[Int](320); two(3) = 5; two(200) = 2
    assert(Vp8l.prefixCodeRoundtripForTest(two, Seq(3, 200, 3)) ==
      Seq(3, 200, 3))
    val multi = new Array[Int](320)
    multi(0) = 9; multi(1) = 4; multi(260) = 2; multi(300) = 1
    assert(Vp8l.prefixCodeRoundtripForTest(multi,
      Seq(300, 0, 260, 1, 0)) == Seq(300, 0, 260, 1, 0))
  }
}
