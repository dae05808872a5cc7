package graft

import java.security.MessageDigest

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.BrotliFixture
import graft.ops.{Av1, Flac, JpegProgressive, Multimodal, Vp8l}
import graft.sources.RiceCoding

/** Byte identity of every bit-level fixture encoder: the SHA-256 over
  * the outputs for fixture ids 0–250 (each output length-prefixed, in
  * id order) is pinned per encoder. The fixtures feed oracle-gated
  * queries and committed goldens, so a refactor of the bit writers
  * under them must not move a single byte; a digest mismatch names the
  * encoder whose stream changed. Arguments per id follow the shapes the
  * registry queries pass (grid sizes, sample counts, languages). */
class EncoderDigestSpec extends AnyFunSuite {

  private val Ids = 0 to 250

  private def sha256(outs: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    outs.foreach { b =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def randomPcm(id: Int): Array[Int] = {
    val rnd = new Random(id)
    Array.fill(16 + id % 97)(rnd.nextInt(65536) - 32768)
  }

  private def riceValues(id: Int): Seq[Long] = {
    val rnd = new Random(1000 + id)
    Seq.fill(id % 40)(
      if (rnd.nextInt(8) == 0) rnd.nextLong() & Long.MaxValue
      else rnd.nextInt(1 << (id % 24)).toLong)
  }

  private val Langs = Seq("en", "de", "fr", "ja", "ru")

  private val encoders: Seq[(String, Int => Array[Byte], String)] = Seq(
    ("Flac.encodeFlac", id => Flac.encodeFlac(id, 8 + id % 169),
      "93ccda28e6eb0c18a4425dc30701abf1a3fa163255edb1be05fd965521acbbb1"),
    ("Flac.encodeFlacPcmMono",
      id => Flac.encodeFlacPcmMono(Multimodal.audioScenePcm(id % 7, id, 16 + id % 113)),
      "3877f47d5942f319b24744d74823b791cc9828f74cdcf98af39f5289f09b6dad"),
    ("Flac.encodeFlacTagged",
      id => Flac.encodeFlacTagged(randomPcm(id), s"vendor $id",
        Seq.tabulate(id % 4)(i => (s"TAG$i", s"value $id/$i"))),
      "6f080a3c252d8fb060e796edf58e84c292d3ab3f9f9a064caf749385c23954de"),
    ("Av1.encodeSeqHeader",
      id => Av1.encodeSeqHeader(1L + (id * 37L) % 4096, 1L + (id * 53L) % 2160, id),
      "1f8f7545961a88773717186927ab3b958bae058c308e706fc21957eabd5bdc65"),
    ("Vp8l.encodeWebp", id => Vp8l.encodeWebp(id, id % 14 + 3, id % 9 + 2),
      "42e3f9ef07151b59d34770616d63d9d3810c734935064d14c12f1002e0525d68"),
    ("BrotliFixture.encode",
      id => BrotliFixture.encode(id, Langs(id % Langs.length)),
      "46fe92ffcc40d63b5d63351d4d29e5397be551c54ade9f62009a1c61b2f4ad01"),
    ("RiceCoding.encode",
      id => RiceCoding.encode(riceValues(id), id % 21),
      "74e12edc760f940ccc23c144885fedf82db53682444f6886865a31997774c749"),
    ("RiceCoding.encodeSortedList",
      id => RiceCoding.encodeSortedList(riceValues(id).map(_ >>> 2).sorted),
      "18382e1bcc3fc7c3ffadf7195bd1d56aef8cf2033bda0a4acfc2009409b5b490"),
    ("Multimodal.encodeJpeg", id => Multimodal.encodeJpeg(id, id % 2 + 1, id % 3 + 1),
      "9a6ecc5d69624af6f6ac07e204c7d9dc602b04f3649393527fee3440964cfd77"),
    ("Multimodal.encodeJpegAc", id => Multimodal.encodeJpegAc(id, id % 5 + 1, id % 4 + 1),
      "e69826a600be7b645b57a8599dd6f93a2d3da8b9d92666853c5b4936d8dfa7d1"),
    ("JpegProgressive.encodeJpegProg",
      id => JpegProgressive.encodeJpegProg(id, id % 5 + 1, id % 3 + 1),
      "324dac55b3622e6dac4d5a6d28b0e0286d87fbe19282504a5e6fcfd18c1c31ee"),
    ("Multimodal.encodeGif", id => Multimodal.encodeGif(id, id % 14 + 3, id % 11 + 2),
      "34563e02d74e6fcf6bc0e128a03d0d302db8e796168f44549c55fc45e2b147bb"),
    ("Multimodal.encodeGifAnim",
      id => Multimodal.encodeGifAnim(id, id % 14 + 3, id % 11 + 2),
      "28d8702635f7ded3267365e25602344d118afbbb69efc018dfb16b2e97c25857"))

  encoders.foreach { case (name, enc, want) =>
    test(s"$name output bytes are pinned for ids 0-250") {
      assert(sha256(Ids.map(enc)) == want, name)
    }
  }
}
