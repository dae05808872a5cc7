package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Flac
import graft.FlacSpecHelpers.hex

/** FLAC codec: roundtrip parity against the analytic fixture formula
  * for every encoding regime, two hand-assembled golden bitstreams
  * (authored bit-by-bit from RFC 9639 with independently computed
  * CRCs), standard CRC check values, structural-malformation rejects,
  * and the house single-byte corruption loop. */
class FlacSpec extends AnyFunSuite {

  test("FLAC roundtrip: all six regimes, many sizes, exact PCM") {
    // k mod 6 picks the regime (fixed/constant/lpc+mid-side/
    // verbatim+escape/left-side+wasted/right-side+16-bit-blocksize);
    // sizes cover multi-frame streams and every tail-remainder shape
    for (k <- 0L until 60L; n <- Seq(8, 16, 31, 48, 100, 177)) {
      val pcm = Flac.decodeFlacPcm(Flac.encodeFlac(k, n))
      assert(pcm != null, s"decode failed k=$k n=$n")
      val nch = Flac.flacChannels(k)
      assert(pcm.length == nch)
      for (c <- 0 until nch) {
        assert(pcm(c).length == n, s"k=$k n=$n c=$c")
        for (i <- 0 until n)
          assert(pcm(c)(i) == Flac.flacSample(k, c, i),
            s"k=$k n=$n c=$c i=$i")
      }
    }
  }

  test("CRC-8 and CRC-16 match the published check values") {
    // CRC-8 (poly 0x07, init 0, no reflect) and CRC-16/BUYPASS
    // (poly 0x8005, init 0, no reflect) catalog check values over
    // the standard "123456789" vector — the CRCs FLAC specifies
    val v = "123456789".getBytes("US-ASCII")
    assert(Flac.crc8(v, 0, v.length) == 0xf4)
    assert(Flac.crc16(v, 0, v.length) == 0xfee8)
  }

  test("golden vector 1: constant subframe, mono, 2 samples of 1000") {
    // Hand-assembled from RFC 9639, independently of the production
    // bit writer (python bit assembly; CRCs computed by an independent
    // implementation): fLaC magic; last-flag STREAMINFO (block sizes
    // 2/2, 8 kHz, mono, 16-bit, 2 total samples); one frame — sync
    // 0xFFF8, uncommon-8-bit blocksize + 8 kHz code (0x64), mono
    // 16-bit (0x08), frame number 0, blocksize-1 = 1, CRC-8 0xE4;
    // subframe CONSTANT (0x00) with value 1000 (0x03E8); CRC-16.
    val g1 = hex("664c6143800000220002000200000000000001f400f0000000020000" +
      "0000000000000000000000000000fff864080001e40003e88c2a")
    val pcm = Flac.decodeFlacPcm(g1)
    assert(pcm != null, "golden 1 must decode")
    assert(pcm.length == 1)
    assert(pcm(0).toSeq == Seq(1000, 1000))
  }

  test("golden vector 2: fixed order 1 + rice k=4, samples 100/120/141") {
    // warmup 100, residuals [20, 21] → zigzag [40, 42] → with k=4:
    // q=2 (two 0s, a 1), low bits 1000 / 1010; partition order 0,
    // method 0 (4-bit params)
    val g2 = hex("664c6143800000220003000300000000000001f400f0000000030000" +
      "0000000000000000000000000000fff864080002ed120064010c1a6784")
    val pcm = Flac.decodeFlacPcm(g2)
    assert(pcm != null, "golden 2 must decode")
    assert(pcm.length == 1)
    assert(pcm(0).toSeq == Seq(100, 120, 141))
  }

  test("malformed: magic/streaminfo/length/sync/CRC lies all reject") {
    val good = Flac.encodeFlac(7L, 32)
    assert(Flac.decodeFlacPcm(good) != null)
    def corrupt(pos: Int, v: Int): Array[Byte] = {
      val c = good.clone(); c(pos) = v.toByte; c
    }
    // magic lie
    assert(Flac.decodeFlacPcm(corrupt(0, 'g')) == null)
    // STREAMINFO not first (block type lies)
    assert(Flac.decodeFlacPcm(corrupt(4, 0x81)) == null)
    // declared metadata length overruns the buffer
    assert(Flac.decodeFlacPcm(corrupt(6, 0x7f)) == null)
    // sync byte destroyed
    assert(Flac.decodeFlacPcm(corrupt(42, 0x00)) == null)
    // header CRC-8 byte flipped
    val crcPos = 42 + 6 // fixed header: sync(2)+codes(2)+frameno(1)+bs(1)
    assert(Flac.decodeFlacPcm(corrupt(crcPos, good(crcPos) ^ 0x55)) == null)
    // last byte (frame CRC-16 low byte) flipped
    assert(Flac.decodeFlacPcm(
      corrupt(good.length - 1, good(good.length - 1) ^ 0x01)) == null)
    // truncation sweep: every strict prefix rejects, never throws
    for (len <- 0 until good.length)
      assert(Flac.decodeFlacPcm(java.util.Arrays.copyOf(good, len)) == null,
        s"prefix $len must reject")
  }

  test("cross-format lattice fp: WAV and FLAC of one scene match; " +
      "scenes separate with real hamming margins") {
    import graft.ops.Multimodal
    for (scene <- 0L until 47L; doc <- Seq(scene, scene + 47, scene + 94)) {
      val n = (scene % 40 + 80).toInt
      val wav = Multimodal.decodeWavPcm16(
        Multimodal.encodeWavScene(scene, doc, n))
      assert(wav != null && wav.length == n)
      val flacChans = Flac.decodeFlacPcm(
        Flac.encodeFlacPcmMono(Multimodal.audioScenePcm(scene, doc + 1, n)))
      assert(flacChans != null && flacChans.length == 1)
      // byte-unrelated files, identical fingerprint — even across
      // DIFFERENT docs of the same scene (jitter is off-lattice only)
      assert(Multimodal.audioLatticeFp(wav) ==
        Multimodal.audioLatticeFp(flacChans(0)),
        s"scene=$scene doc=$doc")
    }
    val fps = (0L until 47L).map { sc =>
      val n = (sc % 40 + 80).toInt
      Multimodal.audioLatticeFp(
        Array.tabulate(n)(i => Multimodal.audioSceneSample(sc, i)))
    }
    assert(fps.distinct.size == 47, "all scenes must bucket apart")
    val minH = (for { a <- 0 until 47; b <- a + 1 until 47 }
      yield java.lang.Long.bitCount(fps(a) ^ fps(b))).min
    assert(minH >= 10, s"cross-scene hamming margin eroded: $minH")
  }

  test("random-PCM roundtrip: arbitrary int16 signals survive exactly") {
    // the analytic fixtures are smooth/structured; random PCM stresses
    // the rice/escape split, large residuals, and every quotient size
    for (seed <- 0 until 50) {
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(300) + 16
      val pcm = Array.fill(n)(rnd.nextInt(65536) - 32768)
      val dec = Flac.decodeFlacPcm(Flac.encodeFlacPcmMono(pcm))
      assert(dec != null && dec.length == 1, s"seed=$seed")
      assert(dec(0).toSeq == pcm.toSeq, s"seed=$seed n=$n")
    }
    // pathological shapes: constant, alternating extremes, impulse
    for (pcm <- Seq(
        Array.fill(64)(0),
        Array.fill(64)(32767),
        Array.fill(64)(-32768),
        Array.tabulate(64)(i => if (i % 2 == 0) 32767 else -32768),
        Array.tabulate(64)(i => if (i == 37) -32768 else 0))) {
      val dec = Flac.decodeFlacPcm(Flac.encodeFlacPcmMono(pcm))
      assert(dec != null && dec(0).toSeq == pcm.toSeq)
    }
  }

  test("VORBIS_COMMENT tags: roundtrip, PCM unaffected, fuzz-safe") {
    import graft.ops.Multimodal
    val pcm = Array.tabulate(40)(i => Multimodal.testSample(9L, i))
    val tags = Seq("TITLE" -> "a=b weird", "LANGUAGE" -> "de",
      "NCHARS" -> "123", "EMPTY" -> "")
    val b = Flac.encodeFlacTagged(pcm, "vend/1.0", tags)
    val parsed = Flac.flacTags(b)
    assert(parsed != null)
    assert(parsed._1 == "vend/1.0")
    // value keeps its own '=' signs; keys are case-normalized
    assert(parsed._2 == tags)
    // the tagged container still decodes to the identical PCM
    val dec = Flac.decodeFlacPcm(b)
    assert(dec != null && dec(0).toSeq == pcm.toSeq)
    // an untagged stream parses as (no vendor, no tags), not an error
    assert(Flac.flacTags(Flac.encodeFlacPcmMono(pcm)) == (("", Seq.empty)))
    // corruption: every single-byte flip returns, never throws
    for (pos <- b.indices; delta <- Seq(1, 0xff)) {
      val c = b.clone(); c(pos) = (c(pos) ^ delta).toByte
      Flac.flacTags(c)
    }
  }

  test("single-byte corruption fuzz never throws") {
    for (k <- 0L until 12L) {
      val good = Flac.encodeFlac(k, 40)
      for (pos <- good.indices; delta <- Seq(1, 0x55, 0xff)) {
        val c = good.clone()
        c(pos) = (c(pos) ^ delta).toByte
        Flac.decodeFlacStats(c) // stats path: must return, never throw
      }
    }
  }
}

object FlacSpecHelpers {
  def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
