package graft.ops

import graft.core.Bytes._

import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._

/** Lossy WebP (VP8 intra / key-frame) decode — RFC 6386, the web's
  * dominant modern re-encode target. The reference pipeline records
  * mime/content per fetched object but treats `image/webp` as opaque
  * bytes (`src/org/commoncrawl/mapred/ec2/parser/ParserMapper.java:941`);
  * cross-format near-dup and quality gating over a 2026 crawl need the
  * pixels. VP8 intra is bit-exact by spec: bool coder (§7), default
  * coefficient probabilities (§13.5), kf mode trees (§11), dequant
  * (§14.1), integer WHT/DCT inverses (§14.3), intra predictors (§12),
  * segmentation (§9.3/10) and both loop filters (§15) — all implemented
  * here from the RFC's normative pseudocode and constants. Conformance
  * was differentially validated bit-exact against the system libwebp on
  * fixture streams (every 16x16 mode, all ten 4x4 modes, every token
  * category, quantizer/delta sweeps, skip contexts, crops, loop-filter
  * level/sharpness/type sweeps) AND on real libwebp-encoder output with
  * segmentation + token-prob updates + loop filter (tools/vp8_proto.py,
  * tools/vp8_battery.py). Fixture levels keep iDCT intermediates inside
  * int16 — the envelope real encoders guarantee and SIMD decoders
  * assume; outside it implementations legitimately diverge.
  *
  * Corpus-linear, shuffle-free per-row kernel behind
  * [[Seam.rows]] — the same scale shape as the BMP/PNG/GIF/JPEG/
  * VP8L/FLAC tier. Malformed input → all -1, never a throw.
  */
object Vp8 {

  // ------------------------------------------------------------------
  // RFC 6386 normative constant tables (§13.4, §13.5, §11.5, §14.1)
  // ------------------------------------------------------------------

  private def b64(s: String): Array[Int] =
    Base64.getDecoder.decode(s).map(_ & 0xff)

  /** default_coeff_probs [4][8][3][11] (§13.5); band 0 of block type 0
    * is the never-consulted all-128 filler. */
  private val CoeffProbs: Array[Int] = b64(
    "gICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICA/Yj+/+TbgICAgIC9gfL/49X/24CAgGp+" +
    "4/zW0f//gICAAWL4/+zi//+AgIC1he7+3er/moCAgE6GyvfGtP/bgICAAbn5//P/gICAgIC4lvf/" +
    "7OCAgICAgE1u2P/s5oCAgICAAWX7//H/gICAgICqi/H87NH//4CAgCV0xPPk////gICAAcz+//X/" +
    "gICAgIDPoPr/7oCAgICAgGZn5//Tq4CAgICAAZj8//D/gICAgICxh/P/6uGAgICAgFCB0//C4ICA" +
    "gICAAQH/gICAgICAgID2Af+AgICAgICAgP+AgICAgICAgICAxiPt38G7oqCRmz6DLcbdrLDcnfzd" +
    "AUQvktCVp92i/9+AAZXx/93g//+AgIC4jer93tz/x4CAgFFjtfKwvvnK//+AAYHo/dbF8sT//4Bj" +
    "edL6ycb/yoCAgBdbo/Kqu/fS//+AAcj2/+r/gICAgIBtsvH/5/X//4CAgCyCyf3NwP//gICAAYTv" +
    "+9vR/6WAgIBeiOH72r7//4CAgBZkrvW6of/HgICAAbb5/+jrgICAgIB8j/H/4+qAgICAgCNNtfvB" +
    "0//NgICAAZ33/+zn//+AgIB5jev/4eP//4CAgC1jvPvD2f/ggICAAQH7/9X/gICAgIDLAfj//4CA" +
    "gICAgIkBsf/g/4CAgICA/Qn4+8/Q/8CAgICvDeDzwbn5xv//gEkRq92hs+yn/+qAAV/3/dS3//+A" +
    "gIDvWvT609H//4CAgJtNw/i8w///gICAARjv+9rb/82AgIDJM9v/xLqAgICAgEUuvu/J2v/kgICA" +
    "Ab/7//+AgICAgIDfpfn/1f+AgICAgI18+P//gICAgICAARD4//+AgICAgIC+JOb/7P+AgICAgJUB" +
    "/4CAgICAgICAAeL/gICAgICAgID3wP+AgICAgICAgPCA/4CAgICAgICAAYb8//+AgICAgIDVPvr/" +
    "/4CAgICAgDdd/4CAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICAyhjV67q/" +
    "3KDwr/9+Jrboqbjkrv+7gD0uituXsvCq/9iAAXDm+se/95///4CmbeT809f/roCAgCdNouistPWy" +
    "//+AATTc9sbH+dz//4B8Sr/zt8H63f//gBhHgtuaqvO2//+AAbbh+dvw/+CAgICVluL82M3/q4CA" +
    "gBxsqvK3wv7f//+AAVHm/MzL/8CAgIB7ZtH3vMT/6YCAgBRfmfOkrf/LgICAAd74/9jVgICAgICo" +
    "r/b8683//4CAgC901//T1P//gICAAXns/dTW//+AgICNVNX8ycr/24CAgCpQoPCiuf/NgICAAQH/" +
    "gICAgICAgID0Af+AgICAgICAgO4B/4CAgICAgICA")

  /** coeff_update_probs [4][8][3][11] (§13.4). */
  private val UpdateProbs: Array[Int] = b64(
    "////////////////////////////////////////////sPb////////////f8fz///////////n9" +
    "/f////////////T8///////////q/v7///////////3///////////////b+///////////v/f7/" +
    "//////////7//v////////////j+///////////7//7///////////////////////////3+////" +
    "///////7/v7///////////7//v////////////79//7////////6//7//v////////7/////////" +
    "////////////////////////////////////////////////2f/////////////h/PH9///+////" +
    "/+r68fr9//3+//////7////////////f/v7//////////+79/v7///////////j+///////////5" +
    "/v////////////////////////////3////////////3/v////////////////////////////3+" +
    "///////////8//////////////////////////////7+///////////9////////////////////" +
    "//////////79///////////6//////////////7/////////////////////////////////////" +
    "////////////////////uvv6///////////q+/T+//////////v78/3+//7///////3+////////" +
    "///s/f7///////////v9/f7+//////////7+///////////+/v7/////////////////////////" +
    "//7////////////+/v////////////7////////////////////////////+////////////////" +
    "////////////////////////////////////////////////////////////////////////////" +
    "////////////////////////////////////////////////////////////////////+P//////" +
    "///////6/vz+//////////j++f3///////////39///////////2/f3///////////z++/7+////" +
    "//////78///////////4/v3///////////3//v7///////////v+///////////1+/7/////////" +
    "//39/v////////////v9///////////8/f7////////////+//////////////z////////////5" +
    "//7//////////////v/////////////9///////////6////////////////////////////////" +
    "///////////+////////////////////////////")

  /** kf_bmode_prob [10][10][9] (§11.5), [above][left], tree-leaf mode
    * numbering (0=DC 1=TM 2=VE 3=HE 4=RD 5=VR 6=LD 7=VL 8=HD 9=HU). */
  private val KfBmode: Array[Int] = b64(
    "53gwWXNxeJhwmLNAfqp2LkZfr0WPUFVSSJtnODoKq9q9EQ2YchoRoyzDFQqteRhQwxo+LEBVkEcK" +
    "JqvVkCIaqi43E4igIc5HPxQIcnLQDAniUSgLYLZUHRAkhrdZiWJlaqWUSLtkgp1vIEtQQmanY0o+" +
    "KOqAKTUJsvGNGghrSisakkmmMRedQSZpoDM0H3OAaE8MG9n/VxEHV0RHLHIzD7oXLykObra3FRHC" +
    "Qi0ZZsW9FxIWWFiTliouLcTNK2G3dVUmI7M9JzXIVxoVK+irOCIzaHJmHV1NJxxVqzqlWmJAIhZ0" +
    "zhciK6ZJazYgGjMBUSsfRBlqFkCrJOFyIhMVZoS8EEx8PhJOX1U5MjAzwWUjn9dvWS5vPJQfrNvk" +
    "FRJvcHFNVbP/JnhyKCoBxPXRChltWCsdjKbVJSuaPT8em0MtRAHRZFAIK5oBMxpHjk5OEP+AIsWr" +
    "KSgFZtO3BAHdMzIRqNHAFxlSih8kqxumJizlQ1c6qVJzGjuzPztatDumXUmaKCgVdI/RIievLw8Q" +
    "tyLfMS23LhEhtwZiDyC3OS4WGIABNhElQSBJcxyAF4DNKAMJczPAEgbfVyUJcztNQBUvaDcs2gk2" +
    "NYLiQFpGzSgpFxo5NjlwuAUpJqbVHiIahZh0CiCGJxM13RpyIEn/HwlB6gIPAXZJSyAMM8D/oCsz" +
    "WB8jQ2ZVN7pVOBUXbzvNLSXANyZGfElmASJifWIqWGhVda9SX1Q1WYBkcWUtS097LzOAUasBOREF" +
    "R2Y5NSkxJiENeTlJGgFVKQpDik1uWi9ycxUCCmb/phcGZR0QClWAZcQaORIKZmbVIhQrdRQPJKOA" +
    "RAEaZj1HJSI1H/PARTxHJkl3HN4lRC2AIgEvC/WrPhETRpJVNz5GJSslmmSjVaABPwlciBxAIMlV" +
    "Sw8JCUD/uHcQVgYcBUD/GfgBOAgRhIn/N3SAOg8UUoc5GnkopDIfiZqFGSPaM2csg4N7HwaeVihA" +
    "h5TgLbeAFhoRg/CaDgHRLRAVW0DeBwHFOBUnmzyKF2bVUwwNNsD/RC8cVRpVVYCAIJKrEgsHP5Cr" +
    "BAT2IxsKkq6rDBqAvlAjY7RQfjYtVX4vV7AzKRQgZUuAi3aSdIBVOCkPsOxVJQk+Rx4Rd3b/ERKK" +
    "ZSY8ijdGKxqOkiQTHqv/YRsUii09PtsBUbxAICkUdZeOFBWjcBMMPcOAMAQY")

  /** dc_qlookup[128] (§14.1). */
  private[graft] val DcQ: Array[Int] = b64(
    "BAUGBwgJCgoLDA0ODxARERITFBQVFRYWFxcYGRkaGxwdHh8gISIjJCUlJicoKSorLC0uLi8wMTIz" +
    "NDU2Nzg5Ojs8PT4/QEFCQ0RFRkdISUpLTExNTk9QUVJTVFVWV1hZW11fYGJkZWZoamxucHJ0dnp8" +
    "foCChIaIioyPkZSXmp0=")

  /** ac_qlookup[128] (§14.1), 16-bit entries (max 284). */
  private[graft] val AcQ: Array[Int] = {
    val raw = Base64.getDecoder.decode(
      "AAQABQAGAAcACAAJAAoACwAMAA0ADgAPABAAEQASABMAFAAVABYAFwAYABkAGgAbABwAHQAeAB8A" +
      "IAAhACIAIwAkACUAJgAnACgAKQAqACsALAAtAC4ALwAwADEAMgAzADQANQA2ADcAOAA5ADoAPAA+" +
      "AEAAQgBEAEYASABKAEwATgBQAFIAVABWAFgAWgBcAF4AYABiAGQAZgBoAGoAbABuAHAAcgB0AHcA" +
      "egB9AIAAgwCGAIkAjACPAJIAlQCYAJsAngChAKQApwCqAK0AsQC1ALkAvQDBAMUAyQDNANEA1QDZ" +
      "AN0A4QDlAOoA7wD1APkA/gEDAQgBDQESARcBHA==")
    Array.tabulate(128)(i => u16be(raw, 2 * i))
  }

  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val Bands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

  private val KfYmodeProbs = Array(145, 156, 163, 128)
  private val KfUvProbs = Array(142, 114, 183)
  // trees (§8.2 representation: non-positive entries are -leaf)
  private val KfYmodeTree = Array(-4, 2, 4, 6, 0, -1, -2, -3) // 4=B_PRED
  private val UvTree = Array(0, 2, -1, 4, -2, -3)
  private val BmodeTree =
    Array(0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -4, -5, -6, 14, -7, 16, -8, -9)
  private val CoeffTree =
    Array(-11, 2, 0, 4, -1, 6, 8, 12, -2, 10, -3, -4, 14, 16, -5, -6, 18, 20, -7, -8, -9, -10)
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159), Array(165, 145), Array(173, 148, 140), Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
  private val CatBase = Array(5, 7, 11, 19, 35, 67)

  // ------------------------------------------------------------------
  // bool coder (§7)
  // ------------------------------------------------------------------

  private[graft] final class BoolDec(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var value = {
      val b0 = if (pos < end) b(pos) & 0xff else 0
      val b1 = if (pos + 1 < end) b(pos + 1) & 0xff else 0
      pos += 2
      (b0 << 8) | b1
    }
    private var range = 255
    private var bitCount = 0
    def get(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << 8
      var ret = 0
      if (value >= big) { ret = 1; range -= split; value -= big }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          value |= (if (pos < end) b(pos) & 0xff else 0)
          pos += 1
        }
      }
      ret
    }
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | get(128); i += 1 }
      v
    }
    def signedLiteral(n: Int): Int = {
      val m = literal(n)
      if (get(128) == 1) -m else m
    }
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, startNode: Int): Int = {
      var i = startNode
      while (true) {
        val tt = t(i + get(probs(probOff + (i >> 1))))
        if (tt <= 0) return -tt
        i = tt
      }
      0 // unreachable
    }
  }

  private[graft] final class BoolEnc {
    private var range = 255
    private var bottom = 0L // uint32
    private var bitCount = 24
    private val out = new java.io.ByteArrayOutputStream()
    private var buf = new scala.collection.mutable.ArrayBuffer[Int]()
    private def carry(): Unit = {
      var i = buf.length - 1
      while (buf(i) == 255) { buf(i) = 0; i -= 1 }
      buf(i) += 1
    }
    def put(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & 0x80000000L) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xff).toInt
          bottom &= (1L << 24) - 1
          bitCount = 8
        }
      }
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put(128, (v >> i) & 1); i -= 1 }
    }
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, leaf: Int): Unit = {
      // DFS for the leaf's path, then emit
      def walk(i: Int): List[(Int, Int)] = {
        var b = 0
        while (b < 2) {
          val tt = t(i + b)
          if (tt <= 0) { if (-tt == leaf) return List((i >> 1, b)) }
          else {
            val r = walk(tt)
            if (r != null) return (i >> 1, b) :: r
          }
          b += 1
        }
        null
      }
      val path = walk(0)
      require(path != null, s"leaf $leaf not in tree")
      path.foreach { case (pi, b) => put(probs(probOff + pi), b) }
    }
    def treeFrom(t: Array[Int], probs: Array[Int], probOff: Int, leaf: Int,
        startNode: Int): Unit = {
      def walk(i: Int): List[(Int, Int)] = {
        var b = 0
        while (b < 2) {
          val tt = t(i + b)
          if (tt <= 0) { if (-tt == leaf) return List((i >> 1, b)) }
          else {
            val r = walk(tt)
            if (r != null) return (i >> 1, b) :: r
          }
          b += 1
        }
        null
      }
      val path = walk(startNode)
      require(path != null, s"leaf $leaf not in tree from $startNode")
      path.foreach { case (pi, b) => put(probs(probOff + pi), b) }
    }
    def flush(): Array[Byte] = {
      var c = bitCount
      var v = bottom
      if ((v & (1L << (32 - c))) != 0) carry()
      v = (v << (c & 7)) & 0xffffffffL
      c >>= 3
      while (c > 0) { v = (v << 8) & 0xffffffffL; c -= 1 }
      var i = 0
      while (i < 4) {
        buf += ((v >> 24) & 0xff).toInt
        v = (v << 8) & 0xffffffffL
        i += 1
      }
      buf.map(_.toByte).toArray
    }
  }

  // ------------------------------------------------------------------
  // transforms (§14.3)
  // ------------------------------------------------------------------

  private[graft] def idct4x4(blk: Array[Int]): Array[Int] = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val ip0 = blk(i); val ip4 = blk(4 + i); val ip8 = blk(8 + i); val ip12 = blk(12 + i)
      val a1 = ip0 + ip8; val b1 = ip0 - ip8
      val c1 = ((ip4 * 35468) >> 16) - (ip12 + ((ip12 * 20091) >> 16))
      val d1 = (ip4 + ((ip4 * 20091) >> 16)) + ((ip12 * 35468) >> 16)
      tmp(i) = a1 + d1; tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + c1; tmp(8 + i) = b1 - c1
      i += 1
    }
    val out = new Array[Int](16)
    i = 0
    while (i < 4) {
      val ip0 = tmp(4 * i); val ip1 = tmp(4 * i + 1); val ip2 = tmp(4 * i + 2); val ip3 = tmp(4 * i + 3)
      val a1 = ip0 + ip2; val b1 = ip0 - ip2
      val c1 = ((ip1 * 35468) >> 16) - (ip3 + ((ip3 * 20091) >> 16))
      val d1 = (ip1 + ((ip1 * 20091) >> 16)) + ((ip3 * 35468) >> 16)
      out(4 * i) = (a1 + d1 + 4) >> 3; out(4 * i + 3) = (a1 - d1 + 4) >> 3
      out(4 * i + 1) = (b1 + c1 + 4) >> 3; out(4 * i + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
    out
  }

  private[graft] def iwht4x4(blk: Array[Int]): Array[Int] = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = blk(i) + blk(12 + i); val b1 = blk(4 + i) + blk(8 + i)
      val c1 = blk(4 + i) - blk(8 + i); val d1 = blk(i) - blk(12 + i)
      tmp(i) = a1 + b1; tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1; tmp(12 + i) = d1 - c1
      i += 1
    }
    val out = new Array[Int](16)
    i = 0
    while (i < 4) {
      val a1 = tmp(4 * i) + tmp(4 * i + 3); val b1 = tmp(4 * i + 1) + tmp(4 * i + 2)
      val c1 = tmp(4 * i + 1) - tmp(4 * i + 2); val d1 = tmp(4 * i) - tmp(4 * i + 3)
      out(4 * i) = (a1 + b1 + 3) >> 3; out(4 * i + 1) = (c1 + d1 + 3) >> 3
      out(4 * i + 2) = (a1 - b1 + 3) >> 3; out(4 * i + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
    out
  }

  @inline private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  @inline private def c128(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** Per-frame quantizers (§14.1): (ydc, yac, y2dc, y2ac, uvdc, uvac). */
  private[graft] def quantizers(qi: Int, ydcD: Int, y2dcD: Int, y2acD: Int,
      uvdcD: Int, uvacD: Int): Array[Int] = {
    @inline def cl(x: Int) = if (x < 0) 0 else if (x > 127) 127 else x
    val y2ac0 = AcQ(cl(qi + y2acD)) * 155 / 100
    Array(
      DcQ(cl(qi + ydcD)),
      AcQ(cl(qi)),
      DcQ(cl(qi + y2dcD)) * 2,
      if (y2ac0 < 8) 8 else y2ac0,
      math.min(DcQ(cl(qi + uvdcD)), 132),
      AcQ(cl(qi + uvacD)))
  }

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  /** Decoded frame: visible crop dims + full padded planes. */
  private[graft] final case class Frame(
      w: Int, h: Int, mbW: Int, mbH: Int,
      y: Array[Int], u: Array[Int], v: Array[Int])

  private val MaxPixels = 1 << 24 // untrusted-dimension budget

  /** VP8 key-frame decode of `payload` (the VP8 chunk body). Null on any
    * malformation or budget breach; never throws. */
  private[graft] def decodeVp8(payload: Array[Byte]): Frame = {
    try {
      if (payload.length < 10) return null
      val ft = u24le(payload, 0)
      if ((ft & 1) != 0) return null // inter frame: not a still image
      val part1Size = ft >>> 5
      if (u8(payload, 3) != 0x9d || u8(payload, 4) != 0x01 || u8(payload, 5) != 0x2a)
        return null
      val w = u16le(payload, 6) & 0x3fff
      val h = u16le(payload, 8) & 0x3fff
      if (w == 0 || h == 0 || w.toLong * h > MaxPixels) return null
      if (10 + part1Size > payload.length) return null
      val mbW = (w + 15) / 16; val mbH = (h + 15) / 16
      val d = new BoolDec(payload, 10, 10 + part1Size)
      d.get(128); d.get(128) // color space, clamping
      // segmentation (§9.3)
      val seg = d.get(128)
      var segMapUpd = 0; var segAbs = 0
      val segQ = new Array[Int](4); val segLf = new Array[Int](4)
      val segProbs = Array(255, 255, 255)
      if (seg == 1) {
        segMapUpd = d.get(128)
        val segDataUpd = d.get(128)
        if (segDataUpd == 1) {
          segAbs = d.get(128)
          var i = 0
          while (i < 4) { if (d.get(128) == 1) segQ(i) = d.signedLiteral(7); i += 1 }
          i = 0
          while (i < 4) { if (d.get(128) == 1) segLf(i) = d.signedLiteral(6); i += 1 }
        }
        if (segMapUpd == 1) {
          var i = 0
          while (i < 3) { if (d.get(128) == 1) segProbs(i) = d.literal(8); i += 1 }
        }
      }
      val filterType = d.get(128)
      val filterLevel = d.literal(6)
      val sharpness = d.literal(3)
      if (d.get(128) == 1) { // lf delta adjustments present
        if (d.get(128) == 1) {
          var i = 0
          while (i < 8) { if (d.get(128) == 1) d.signedLiteral(6); i += 1 }
        }
      }
      val nparts = 1 << d.literal(2)
      val qi = d.literal(7)
      val deltas = new Array[Int](5)
      var di = 0
      while (di < 5) {
        if (d.get(128) == 1) deltas(di) = d.signedLiteral(4)
        di += 1
      }
      def segQuants(sid: Int): Array[Int] = {
        var base = qi
        if (seg == 1) {
          base = if (segAbs == 1) segQ(sid) else qi + segQ(sid)
          base = if (base < 0) 0 else if (base > 127) 127 else base
        }
        quantizers(base, deltas(0), deltas(1), deltas(2), deltas(3), deltas(4))
      }
      def segFilterLevel(sid: Int): Int = {
        var lv = filterLevel
        if (seg == 1) {
          lv = if (segAbs == 1) segLf(sid) else filterLevel + segLf(sid)
          lv = if (lv < 0) 0 else if (lv > 63) 63 else lv
        }
        lv
      }
      d.get(128) // refresh entropy probs
      val probs = CoeffProbs.clone()
      var pi = 0
      while (pi < 1056) {
        if (d.get(UpdateProbs(pi)) == 1) probs(pi) = d.literal(8)
        pi += 1
      }
      val noSkip = d.get(128)
      val skipProb = if (noSkip == 1) d.literal(8) else 0

      // token partitions (§9.5)
      var tpStart = 10 + part1Size
      val sizes = new Array[Int](nparts)
      if (nparts > 1) {
        if (tpStart + (nparts - 1) * 3 > payload.length) return null
        var i = 0
        while (i < nparts - 1) {
          val o = tpStart + i * 3
          sizes(i) = u24le(payload, o)
          i += 1
        }
        tpStart += (nparts - 1) * 3
      }
      val parts = new Array[BoolDec](nparts)
      var off = tpStart
      var i = 0
      while (i < nparts) {
        val end = if (i < nparts - 1) off + sizes(i) else payload.length
        if (end > payload.length || off > end) return null
        parts(i) = new BoolDec(payload, off, end)
        off = end
        i += 1
      }

      val W = mbW * 16; val H = mbH * 16
      val CW = mbW * 8; val CH = mbH * 8
      val Y = new Array[Int](W * H)
      val U = new Array[Int](CW * CH)
      val V = new Array[Int](CW * CH)

      // ---- mode pass (first partition)
      val mbYmode = new Array[Int](mbW * mbH)
      val mbUvmode = new Array[Int](mbW * mbH)
      val mbSkip = new Array[Boolean](mbW * mbH)
      val mbSid = new Array[Int](mbW * mbH)
      val mbBmodes = new Array[Array[Int]](mbW * mbH)
      val aboveSub = Array.fill(mbW)(new Array[Int](4))
      var my = 0
      while (my < mbH) {
        val leftSub = new Array[Int](4)
        var mx = 0
        while (mx < mbW) {
          val mi = my * mbW + mx
          var sid = 0
          if (seg == 1 && segMapUpd == 1) {
            sid = if (d.get(segProbs(0)) == 1) 2 + d.get(segProbs(2))
                  else d.get(segProbs(1))
          }
          mbSid(mi) = sid
          mbSkip(mi) = noSkip == 1 && d.get(skipProb) == 1
          val ym = d.tree(KfYmodeTree, KfYmodeProbs, 0, 0)
          mbYmode(mi) = ym
          if (ym == 4) { // B_PRED
            val bm = new Array[Int](16)
            var sy = 0
            while (sy < 4) {
              var sx = 0
              while (sx < 4) {
                val above = if (sy == 0) aboveSub(mx)(sx) else bm((sy - 1) * 4 + sx)
                val left = if (sx == 0) leftSub(sy) else bm(sy * 4 + sx - 1)
                bm(sy * 4 + sx) = d.tree(BmodeTree, KfBmode, (above * 10 + left) * 9, 0)
                sx += 1
              }
              sy += 1
            }
            mbBmodes(mi) = bm
            var k = 0
            while (k < 4) {
              aboveSub(mx)(k) = bm(12 + k); leftSub(k) = bm(4 * k + 3); k += 1
            }
          } else {
            val implied = ym match { case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1 }
            var k = 0
            while (k < 4) { aboveSub(mx)(k) = implied; leftSub(k) = implied; k += 1 }
          }
          mbUvmode(mi) = d.tree(UvTree, KfUvProbs, 0, 0)
          mx += 1
        }
        my += 1
      }

      // ---- token + reconstruction pass
      val lfLevel = new Array[Int](mbW * mbH)
      val lfNz = new Array[Boolean](mbW * mbH)
      val aboveNz = Array.fill(mbW)(new Array[Int](9))
      val coeffBlk = new Array[Int](16)
      my = 0
      while (my < mbH) {
        val leftNz = new Array[Int](9)
        val td = parts(my % nparts)
        var mx = 0
        while (mx < mbW) {
          val mi = my * mbW + mx
          val ym = mbYmode(mi)
          val hasY2 = ym != 4
          val q = segQuants(mbSid(mi))
          lfLevel(mi) = segFilterLevel(mbSid(mi))
          // residuals per subblock, raster: y2?, 16 y, 4 u, 4 v
          val resid = new Array[Array[Int]](24) // 16 Y + 4 U + 4 V (idct outputs)
          var mbNz = false
          if (mbSkip(mi)) {
            var k = 0
            while (k < 8) { aboveNz(mx)(k) = 0; leftNz(k) = 0; k += 1 }
            if (hasY2) { aboveNz(mx)(8) = 0; leftNz(8) = 0 }
          } else {
            // token block reader: fills coeffBlk (dequantized, raster), returns nz
            def getBlock(btype: Int, first: Int, ctx0: Int, dcq: Int, acq: Int): Int = {
              java.util.Arrays.fill(coeffBlk, 0)
              var i = first
              var ctx = ctx0
              var node = 0
              var nz = 0
              var done = false
              while (!done && i < 16) {
                val band = Bands(i)
                val po = ((btype * 8 + band) * 3 + ctx) * 11
                val tok = td.tree(CoeffTree, probs, po, node)
                if (tok == 11) done = true // EOB
                else if (tok == 0) { ctx = 0; node = 2; i += 1 }
                else {
                  var av = tok
                  if (tok >= 5) {
                    val c = tok - 5
                    var extra = 0
                    val cp = CatProbs(c)
                    var bi = 0
                    while (bi < cp.length) { extra = (extra << 1) | td.get(cp(bi)); bi += 1 }
                    av = CatBase(c) + extra
                  }
                  val v = if (td.get(128) == 1) -av else av
                  coeffBlk(Zigzag(i)) = v * (if (i == 0) dcq else acq)
                  nz = 1
                  ctx = if (av == 1) 1 else 2
                  node = 0
                  i += 1
                }
              }
              nz
            }
            var wht: Array[Int] = null
            if (hasY2) {
              val ctx = aboveNz(mx)(8) + leftNz(8)
              val nz = getBlock(1, 0, ctx, q(2), q(3))
              mbNz ||= nz == 1
              aboveNz(mx)(8) = nz; leftNz(8) = nz
              wht = iwht4x4(coeffBlk)
            }
            val first = if (hasY2) 1 else 0
            val btype = if (hasY2) 0 else 3
            val yNz = new Array[Int](16)
            var sy = 0
            while (sy < 4) {
              var sx = 0
              while (sx < 4) {
                val a = if (sy == 0) aboveNz(mx)(sx) else yNz((sy - 1) * 4 + sx)
                val l = if (sx == 0) leftNz(sy) else yNz(sy * 4 + sx - 1)
                val nz = getBlock(btype, first, a + l, q(0), q(1))
                if (wht != null) coeffBlk(0) = wht(sy * 4 + sx)
                resid(sy * 4 + sx) = idct4x4(coeffBlk)
                mbNz ||= nz == 1
                yNz(sy * 4 + sx) = nz
                sx += 1
              }
              sy += 1
            }
            var k = 0
            while (k < 4) {
              aboveNz(mx)(k) = yNz(12 + k); leftNz(k) = yNz(4 * k + 3); k += 1
            }
            var pl = 0
            while (pl < 2) {
              val po = 4 + pl * 2
              val cNz = new Array[Int](4)
              var csy = 0
              while (csy < 2) {
                var csx = 0
                while (csx < 2) {
                  val a = if (csy == 0) aboveNz(mx)(po + csx) else cNz((csy - 1) * 2 + csx)
                  val l = if (csx == 0) leftNz(po + csy) else cNz(csy * 2 + csx - 1)
                  val nz = getBlock(2, 0, a + l, q(4), q(5))
                  resid(16 + pl * 4 + csy * 2 + csx) = idct4x4(coeffBlk)
                  mbNz ||= nz == 1
                  cNz(csy * 2 + csx) = nz
                  csx += 1
                }
                csy += 1
              }
              aboveNz(mx)(po) = cNz(2); aboveNz(mx)(po + 1) = cNz(3)
              leftNz(po) = cNz(1); leftNz(po + 1) = cNz(3)
              pl += 1
            }
          }
          lfNz(mi) = mbNz

          // ---- reconstruction
          val bx = mx * 16; val by = my * 16
          @inline def rs(bi: Int, x: Int, y: Int): Int = {
            val r = resid(bi)
            if (r == null) 0 else r(y * 4 + x)
          }
          if (ym == 4) {
            val bm = mbBmodes(mi)
            var sy = 0
            while (sy < 4) {
              var sx = 0
              while (sx < 4) {
                val pred = bpred4(Y, W, bx + sx * 4, by + sy * 4, bm(sy * 4 + sx), sx, sy)
                var yy = 0
                while (yy < 4) {
                  var xx = 0
                  while (xx < 4) {
                    Y((by + sy * 4 + yy) * W + bx + sx * 4 + xx) =
                      clamp(pred(yy * 4 + xx) + rs(sy * 4 + sx, xx, yy))
                    xx += 1
                  }
                  yy += 1
                }
                sx += 1
              }
              sy += 1
            }
          } else {
            val pred = predNxN(Y, W, bx, by, ym, 16)
            var sy = 0
            while (sy < 4) {
              var sx = 0
              while (sx < 4) {
                var yy = 0
                while (yy < 4) {
                  var xx = 0
                  while (xx < 4) {
                    Y((by + sy * 4 + yy) * W + bx + sx * 4 + xx) =
                      clamp(pred((sy * 4 + yy) * 16 + sx * 4 + xx) + rs(sy * 4 + sx, xx, yy))
                    xx += 1
                  }
                  yy += 1
                }
                sx += 1
              }
              sy += 1
            }
          }
          val cbx = mx * 8; val cby = my * 8
          var pl = 0
          while (pl < 2) {
            val P = if (pl == 0) U else V
            val pred = predNxN(P, CW, cbx, cby, mbUvmode(mi), 8)
            var sy = 0
            while (sy < 2) {
              var sx = 0
              while (sx < 2) {
                var yy = 0
                while (yy < 4) {
                  var xx = 0
                  while (xx < 4) {
                    P((cby + sy * 4 + yy) * CW + cbx + sx * 4 + xx) =
                      clamp(pred((sy * 4 + yy) * 8 + sx * 4 + xx) +
                        rs(16 + pl * 4 + sy * 2 + sx, xx, yy))
                    xx += 1
                  }
                  yy += 1
                }
                sx += 1
              }
              sy += 1
            }
            pl += 1
          }
          mx += 1
        }
        my += 1
      }

      if (filterLevel > 0 || seg == 1)
        loopFilter(Y, U, V, mbW, mbH, filterType, sharpness, lfLevel, lfNz, mbYmode)

      Frame(w, h, mbW, mbH, Y, U, V)
    } catch {
      case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }
  }

  /** NxN (16x16 Y / 8x8 chroma) intra prediction (§12.2): 0=DC 1=V 2=H 3=TM. */
  private def predNxN(P: Array[Int], stride: Int, bx: Int, by: Int,
      mode: Int, n: Int): Array[Int] = {
    @inline def px(x: Int, y: Int): Int = {
      if (y < 0) {
        if (by == 0) 127
        else if (x < 0) { if (bx == 0) 129 else P((by - 1) * stride + bx - 1) }
        else if (bx + x >= stride) P((by - 1) * stride + stride - 1)
        else P((by - 1) * stride + bx + x)
      } else if (x < 0) {
        if (bx == 0) 129 else P((by + y) * stride + bx - 1)
      } else P((by + y) * stride + bx + x)
    }
    val out = new Array[Int](n * n)
    mode match {
      case 0 =>
        val v =
          if (by == 0 && bx == 0) 128
          else if (by == 0) {
            var s = n >> 1; var i = 0
            while (i < n) { s += px(-1, i); i += 1 }
            s >> (if (n == 16) 4 else 3)
          } else if (bx == 0) {
            var s = n >> 1; var i = 0
            while (i < n) { s += px(i, -1); i += 1 }
            s >> (if (n == 16) 4 else 3)
          } else {
            var s = n; var i = 0
            while (i < n) { s += px(i, -1) + px(-1, i); i += 1 }
            s >> (if (n == 16) 5 else 4)
          }
        java.util.Arrays.fill(out, v)
      case 1 =>
        var y = 0
        while (y < n) { var x = 0; while (x < n) { out(y * n + x) = px(x, -1); x += 1 }; y += 1 }
      case 2 =>
        var y = 0
        while (y < n) { var x = 0; while (x < n) { out(y * n + x) = px(-1, y); x += 1 }; y += 1 }
      case _ =>
        val corner = px(-1, -1)
        var y = 0
        while (y < n) {
          val l = px(-1, y)
          var x = 0
          while (x < n) { out(y * n + x) = clamp(l + px(x, -1) - corner); x += 1 }
          y += 1
        }
    }
    out
  }

  /** 4x4 B_PRED (§12.3), tree-leaf mode numbering. Above-right quirk:
    * subblocks in MB column 3 read the ABOVE MB row (replicating the
    * last pixel at the right frame edge). */
  private def bpred4(Y: Array[Int], W: Int, px0: Int, py0: Int,
      mode: Int, sx: Int, sy: Int): Array[Int] = {
    @inline def gp(x: Int, y: Int): Int = {
      if (y < 0 && py0 + y < 0) 127
      else if (x < 0 && px0 + x < 0) 129
      else if (x >= 0 && y < 0 && px0 + x >= W) 127
      else Y((py0 + y) * W + px0 + x)
    }
    val A0 = gp(0, -1); val A1 = gp(1, -1); val A2 = gp(2, -1); val A3 = gp(3, -1)
    val L0 = gp(-1, 0); val L1 = gp(-1, 1); val L2 = gp(-1, 2); val L3 = gp(-1, 3)
    val P = gp(-1, -1)
    val AR = new Array[Int](4)
    if (sx == 3) {
      val mby = py0 - sy * 4
      var i = 0
      while (i < 4) {
        val x = px0 + 4 + i
        AR(i) =
          if (mby - 1 < 0) 127
          else if (x >= W) Y((mby - 1) * W + W - 1)
          else Y((mby - 1) * W + x)
        i += 1
      }
    } else {
      var i = 0
      while (i < 4) { AR(i) = gp(4 + i, -1); i += 1 }
    }
    @inline def avg3(a: Int, b: Int, c: Int) = (a + 2 * b + c + 2) >> 2
    @inline def avg2(a: Int, b: Int) = (a + b + 1) >> 1
    val E = Array(A0, A1, A2, A3, AR(0), AR(1), AR(2), AR(3))
    val S = Array(L3, L2, L1, L0, P, A0, A1, A2, A3)
    val out = new Array[Int](16)
    mode match {
      case 0 => // B_DC
        val v = (A0 + A1 + A2 + A3 + L0 + L1 + L2 + L3 + 4) >> 3
        java.util.Arrays.fill(out, v)
      case 1 => // B_TM
        val L = Array(L0, L1, L2, L3); val A = Array(A0, A1, A2, A3)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) { out(y * 4 + x) = clamp(L(y) + A(x) - P); x += 1 }
          y += 1
        }
      case 2 => // B_VE
        val t = Array(avg3(P, A0, A1), avg3(A0, A1, A2), avg3(A1, A2, A3), avg3(A2, A3, AR(0)))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(y * 4 + x) = t(x); x += 1 }; y += 1 }
      case 3 => // B_HE
        val t = Array(avg3(P, L0, L1), avg3(L0, L1, L2), avg3(L1, L2, L3), avg3(L2, L3, L3))
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(y * 4 + x) = t(y); x += 1 }; y += 1 }
      case 4 => // B_RD: diagonal fan over the corner sequence S
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = 4 + x - y
            out(y * 4 + x) = avg3(S(i - 1), S(i), S(i + 1))
            x += 1
          }
          y += 1
        }
      case 5 => // B_VR
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(y * 4 + x) =
              if (y >= 2 && x >= 1) out((y - 2) * 4 + x - 1)
              else if (y == 0) avg2(S(4 + x), S(5 + x))
              else if (y == 1) avg3(S(3 + x), S(4 + x), S(5 + x))
              else if (y == 2) avg3(S(2), S(3), S(4))
              else avg3(S(1), S(2), S(3))
            x += 1
          }
          y += 1
        }
      case 6 => // B_LD
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = x + y
            out(y * 4 + x) =
              if (i < 6) avg3(E(i), E(i + 1), E(i + 2))
              else avg3(E(6), E(7), E(7))
            x += 1
          }
          y += 1
        }
      case 7 => // B_VL (with the two far-reach quirk cells)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = x + (y >> 1)
            out(y * 4 + x) =
              if ((y & 1) == 1) avg3(E(i), E(i + 1), E(i + 2))
              else avg2(E(i), E(i + 1))
            x += 1
          }
          y += 1
        }
        out(2 * 4 + 3) = avg3(E(4), E(5), E(6))
        out(3 * 4 + 3) = avg3(E(5), E(6), E(7))
      case 8 => // B_HD
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(y * 4 + x) =
              if (x >= 2) {
                if (y >= 1) out((y - 1) * 4 + x - 2)
                else avg3(S(2 + x), S(3 + x), S(4 + x))
              } else if (x == 0) avg2(S(3 - y), S(4 - y))
              else avg3(S(3 - y), S(4 - y), S(5 - y))
            x += 1
          }
          y += 1
        }
      case _ => // B_HU
        val L = Array(L0, L1, L2, L3)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val i = x + 2 * y
            out(y * 4 + x) =
              if (i < 5) {
                if ((i & 1) == 1)
                  avg3(L(i >> 1), L((i >> 1) + 1), if ((i >> 1) + 2 < 4) L((i >> 1) + 2) else L3)
                else avg2(L(i >> 1), L((i >> 1) + 1))
              } else if (i == 5) avg3(L2, L3, L3)
              else L3
            x += 1
          }
          y += 1
        }
    }
    out
  }

  /** Loop filter (§15): normal (type 0) and simple (type 1), key-frame
    * hev thresholds, raster MB order, vertical then horizontal edges. */
  private def loopFilter(Y: Array[Int], U: Array[Int], V: Array[Int],
      mbW: Int, mbH: Int, ftype: Int, sharp: Int,
      lfLevel: Array[Int], lfNz: Array[Boolean], ymode: Array[Int]): Unit = {
    val W = mbW * 16; val CW = mbW * 8
    // edge walker: for vertical edges dir=(1,0) across, step=(0,1) along;
    // horizontal edges dir=(stride) across, step=1 along
    def edgeN(P: Array[Int], stride: Int, x0: Int, y0: Int, across: Int, along: Int,
        n: Int, mbEdge: Boolean, e: Int, in: Int, hthr: Int): Unit = {
      var k = 0
      while (k < n) {
        val base = (y0 * stride + x0) + k * along
        @inline def g(j: Int) = P(base + j * across)
        @inline def s(j: Int, v: Int) = P(base + j * across) = v
        val p3 = g(-4); val p2 = g(-3); val p1 = g(-2); val p0 = g(-1)
        val q0 = g(0); val q1 = g(1); val q2 = g(2); val q3 = g(3)
        val maskOk =
          (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2) <= e &&
            math.abs(p3 - p2) <= in && math.abs(p2 - p1) <= in &&
            math.abs(p1 - p0) <= in && math.abs(q3 - q2) <= in &&
            math.abs(q2 - q1) <= in && math.abs(q1 - q0) <= in
        if (maskOk) {
          val hev = math.abs(p1 - p0) > hthr || math.abs(q1 - q0) > hthr
          val sP1 = p1 - 128; val sP0 = p0 - 128; val sQ0 = q0 - 128; val sQ1 = q1 - 128
          if (mbEdge) {
            if (!hev) {
              val wv = c128(c128(sP1 - sQ1) + 3 * (sQ0 - sP0))
              val sP2 = p2 - 128; val sQ2 = q2 - 128
              var a = c128((27 * wv + 63) >> 7)
              s(0, clamp(sQ0 - a + 128)); s(-1, clamp(sP0 + a + 128))
              a = c128((18 * wv + 63) >> 7)
              s(1, clamp(sQ1 - a + 128)); s(-2, clamp(sP1 + a + 128))
              a = c128((9 * wv + 63) >> 7)
              s(2, clamp(sQ2 - a + 128)); s(-3, clamp(sP2 + a + 128))
            } else {
              val a = c128(c128(sP1 - sQ1) + 3 * (sQ0 - sP0))
              s(0, clamp(sQ0 - (c128(a + 4) >> 3) + 128))
              s(-1, clamp(sP0 + (c128(a + 3) >> 3) + 128))
            }
          } else {
            val a = c128((if (hev) c128(sP1 - sQ1) else 0) + 3 * (sQ0 - sP0))
            val f = c128(a + 4) >> 3
            s(0, clamp(sQ0 - f + 128))
            s(-1, clamp(sP0 + (c128(a + 3) >> 3) + 128))
            if (!hev) {
              val a2 = (f + 1) >> 1
              s(1, clamp(sQ1 - a2 + 128)); s(-2, clamp(sP1 + a2 + 128))
            }
          }
        }
        k += 1
      }
    }
    def edgeS(P: Array[Int], stride: Int, x0: Int, y0: Int, across: Int, along: Int,
        n: Int, e: Int): Unit = {
      var k = 0
      while (k < n) {
        val base = (y0 * stride + x0) + k * along
        @inline def g(j: Int) = P(base + j * across)
        val p1 = g(-2); val p0 = g(-1); val q0 = g(0); val q1 = g(1)
        if ((math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2) <= e) {
          val a = c128(c128((p1 - 128) - (q1 - 128)) + 3 * ((q0 - 128) - (p0 - 128)))
          P(base) = clamp((q0 - 128) - (c128(a + 4) >> 3) + 128)
          P(base - across) = clamp((p0 - 128) + (c128(a + 3) >> 3) + 128)
        }
        k += 1
      }
    }
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val level = lfLevel(mi)
        if (level > 0) {
          var in = level
          if (sharp > 0) {
            in >>= (if (sharp > 4) 2 else 1)
            if (in > 9 - sharp) in = 9 - sharp
          }
          if (in < 1) in = 1
          val hthr = if (level >= 40) 2 else if (level >= 15) 1 else 0
          val eMb = (level + 2) * 2 + in
          val eSb = level * 2 + in
          val skipSub = !lfNz(mi) && ymode(mi) != 4
          val bx = mx * 16; val by = my * 16
          val cx = mx * 8; val cy = my * 8
          if (ftype == 1) {
            if (mx > 0) edgeS(Y, W, bx, by, 1, W, 16, eMb)
            if (!skipSub) {
              var sx = 4
              while (sx <= 12) { edgeS(Y, W, bx + sx, by, 1, W, 16, eSb); sx += 4 }
            }
            if (my > 0) edgeS(Y, W, bx, by, W, 1, 16, eMb)
            if (!skipSub) {
              var sy = 4
              while (sy <= 12) { edgeS(Y, W, bx, by + sy, W, 1, 16, eSb); sy += 4 }
            }
          } else {
            if (mx > 0) {
              edgeN(Y, W, bx, by, 1, W, 16, mbEdge = true, eMb, in, hthr)
              edgeN(U, CW, cx, cy, 1, CW, 8, mbEdge = true, eMb, in, hthr)
              edgeN(V, CW, cx, cy, 1, CW, 8, mbEdge = true, eMb, in, hthr)
            }
            if (!skipSub) {
              var sx = 4
              while (sx <= 12) { edgeN(Y, W, bx + sx, by, 1, W, 16, mbEdge = false, eSb, in, hthr); sx += 4 }
              edgeN(U, CW, cx + 4, cy, 1, CW, 8, mbEdge = false, eSb, in, hthr)
              edgeN(V, CW, cx + 4, cy, 1, CW, 8, mbEdge = false, eSb, in, hthr)
            }
            if (my > 0) {
              edgeN(Y, W, bx, by, W, 1, 16, mbEdge = true, eMb, in, hthr)
              edgeN(U, CW, cx, cy, W >> 1, 1, 8, mbEdge = true, eMb, in, hthr)
              edgeN(V, CW, cx, cy, W >> 1, 1, 8, mbEdge = true, eMb, in, hthr)
            }
            if (!skipSub) {
              var sy = 4
              while (sy <= 12) { edgeN(Y, W, bx, by + sy, W, 1, 16, mbEdge = false, eSb, in, hthr); sy += 4 }
              edgeN(U, CW, cx, cy + 4, W >> 1, 1, 8, mbEdge = false, eSb, in, hthr)
              edgeN(V, CW, cx, cy + 4, W >> 1, 1, 8, mbEdge = false, eSb, in, hthr)
            }
          }
        }
        mx += 1
      }
      my += 1
    }
  }

  // ------------------------------------------------------------------
  // container walk + stats seam
  // ------------------------------------------------------------------

  /** RIFF walk to the "VP8 " (lossy) chunk → intra decode → stats tuple
    * (width, height, sum_y, sum_u, sum_v, even_sum). Malformed → all -1. */
  private[graft] def decodeWebpVp8Stats(b: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      val f = decodeWebpVp8Frame(b)
      if (f == null) return bad
      var sy = 0L; var es = 0L
      val W = f.mbW * 16
      var y = 0
      while (y < f.h) {
        var x = 0
        while (x < f.w) {
          val p = f.y(y * W + x)
          sy += p
          if ((x & 1) == 0 && (y & 1) == 0) es += p
          x += 1
        }
        y += 1
      }
      val cw = (f.w + 1) / 2; val ch = (f.h + 1) / 2
      val CW = f.mbW * 8
      var su = 0L; var sv = 0L
      y = 0
      while (y < ch) {
        var x = 0
        while (x < cw) {
          su += f.u(y * CW + x); sv += f.v(y * CW + x)
          x += 1
        }
        y += 1
      }
      (f.w, f.h, sy, su, sv, es)
    } catch {
      case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => bad
    }
  }

  private[graft] def decodeWebpVp8Frame(b: Array[Byte]): Frame = {
    if (b == null) return null
    val at = Vp8l.webpChunk(b, "VP8 ")
    if (at < 0) null
    else decodeVp8(java.util.Arrays.copyOfRange(b, at + 8, at + 8 + u32le(b, at + 4).toInt))
  }

  // ------------------------------------------------------------------
  // fixture encoder (m28 regimes; spec + oracle share the level formulas)
  // ------------------------------------------------------------------

  private[graft] final class MbPlan(
      val yMode: Int, val bModes: Array[Int], val uvMode: Int,
      val skip: Boolean, val coeffs: Map[(Int, Int), Map[Int, Int]]) {
    // coeffs key: (plane, blockIdx) with plane 0=y2 (blockIdx 0), 1=y, 2=u, 3=v;
    // value: zigzag position -> level
  }

  /** Encode a key frame from per-MB plans; mirrors the RFC decode path.
    * Fixture-only (never in the query hot path). */
  private[graft] def encodeVp8Frame(w: Int, h: Int, mbs: Array[Array[MbPlan]],
      qi: Int, filterLevel: Int = 0, filterType: Int = 0, sharpness: Int = 0,
      skipProb: Int = 170): Array[Byte] = {
    val mbW = (w + 15) / 16; val mbH = (h + 15) / 16
    require(mbs.length == mbH && mbs.forall(_.length == mbW))
    val e = new BoolEnc
    e.put(128, 0); e.put(128, 0) // color space, clamping
    e.put(128, 0) // segmentation off
    e.put(128, filterType & 1)
    e.literal(filterLevel, 6)
    e.literal(sharpness, 3)
    e.put(128, 0) // no lf deltas
    e.literal(0, 2) // one token partition
    e.literal(qi, 7)
    var i = 0
    while (i < 5) { e.put(128, 0); i += 1 } // no quant deltas
    e.put(128, 0) // refresh entropy
    i = 0
    while (i < 1056) { e.put(UpdateProbs(i), 0); i += 1 }
    e.put(128, 1) // mb_no_coeff_skip
    e.literal(skipProb, 8)
    // modes
    val aboveSub = Array.fill(mbW)(new Array[Int](4))
    var my = 0
    while (my < mbH) {
      val leftSub = new Array[Int](4)
      var mx = 0
      while (mx < mbW) {
        val mb = mbs(my)(mx)
        e.put(skipProb, if (mb.skip) 1 else 0)
        e.tree(KfYmodeTree, KfYmodeProbs, 0, mb.yMode)
        if (mb.yMode == 4) {
          var sy = 0
          while (sy < 4) {
            var sx = 0
            while (sx < 4) {
              val above = if (sy == 0) aboveSub(mx)(sx) else mb.bModes((sy - 1) * 4 + sx)
              val left = if (sx == 0) leftSub(sy) else mb.bModes(sy * 4 + sx - 1)
              e.tree(BmodeTree, KfBmode, (above * 10 + left) * 9, mb.bModes(sy * 4 + sx))
              sx += 1
            }
            sy += 1
          }
          var k = 0
          while (k < 4) {
            aboveSub(mx)(k) = mb.bModes(12 + k); leftSub(k) = mb.bModes(4 * k + 3); k += 1
          }
        } else {
          val implied = mb.yMode match { case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1 }
          var k = 0
          while (k < 4) { aboveSub(mx)(k) = implied; leftSub(k) = implied; k += 1 }
        }
        e.tree(UvTree, KfUvProbs, 0, mb.uvMode)
        mx += 1
      }
      my += 1
    }
    val part1 = e.flush()

    // tokens
    val t = new BoolEnc
    val aboveNz = Array.fill(mbW)(new Array[Int](9))
    my = 0
    while (my < mbH) {
      val leftNz = new Array[Int](9)
      var mx = 0
      while (mx < mbW) {
        val mb = mbs(my)(mx)
        val hasY2 = mb.yMode != 4
        if (mb.skip) {
          var k = 0
          while (k < 8) { aboveNz(mx)(k) = 0; leftNz(k) = 0; k += 1 }
          if (hasY2) { aboveNz(mx)(8) = 0; leftNz(8) = 0 }
        } else {
          def putBlock(btype: Int, first: Int, ctx0: Int, levels: Map[Int, Int]): Int = {
            var nz = 0
            var i = first
            var node = 0
            var ctx = ctx0
            var done = false
            while (!done && i < 16) {
              val band = Bands(i)
              val po = ((btype * 8 + band) * 3 + ctx) * 11
              val v = levels.getOrElse(i, 0)
              val rest = (i until 16).exists(j => levels.getOrElse(j, 0) != 0)
              if (!rest) {
                if (node == 0) t.treeFrom(CoeffTree, CoeffProbs, po, 11, 0)
                done = true
              } else {
                val av = math.abs(v)
                val tok =
                  if (av <= 4) av
                  else (5 to 0 by -1).collectFirst {
                    case c if av >= CatBase(c) => 5 + c
                  }.get
                t.treeFrom(CoeffTree, CoeffProbs, po, tok, node)
                if (tok >= 5) {
                  val c = tok - 5
                  val extra = av - CatBase(c)
                  val cp = CatProbs(c)
                  var bi = cp.length - 1
                  while (bi >= 0) {
                    t.put(cp(cp.length - 1 - bi), (extra >> bi) & 1)
                    bi -= 1
                  }
                }
                if (av != 0) { t.put(128, if (v < 0) 1 else 0); nz = 1 }
                ctx = if (av == 0) 0 else if (av == 1) 1 else 2
                node = if (av == 0) 2 else 0
                i += 1
              }
            }
            nz
          }
          if (hasY2) {
            val nz = putBlock(1, 0, aboveNz(mx)(8) + leftNz(8),
              mb.coeffs.getOrElse((0, 0), Map.empty))
            aboveNz(mx)(8) = nz; leftNz(8) = nz
          }
          val first = if (hasY2) 1 else 0
          val btype = if (hasY2) 0 else 3
          val yNz = new Array[Int](16)
          var sy = 0
          while (sy < 4) {
            var sx = 0
            while (sx < 4) {
              val a = if (sy == 0) aboveNz(mx)(sx) else yNz((sy - 1) * 4 + sx)
              val l = if (sx == 0) leftNz(sy) else yNz(sy * 4 + sx - 1)
              yNz(sy * 4 + sx) = putBlock(btype, first, a + l,
                mb.coeffs.getOrElse((1, sy * 4 + sx), Map.empty))
              sx += 1
            }
            sy += 1
          }
          var k = 0
          while (k < 4) { aboveNz(mx)(k) = yNz(12 + k); leftNz(k) = yNz(4 * k + 3); k += 1 }
          var pl = 0
          while (pl < 2) {
            val po = 4 + pl * 2
            val cNz = new Array[Int](4)
            var csy = 0
            while (csy < 2) {
              var csx = 0
              while (csx < 2) {
                val a = if (csy == 0) aboveNz(mx)(po + csx) else cNz((csy - 1) * 2 + csx)
                val l = if (csx == 0) leftNz(po + csy) else cNz(csy * 2 + csx - 1)
                cNz(csy * 2 + csx) = putBlock(2, 0, a + l,
                  mb.coeffs.getOrElse((2 + pl, csy * 2 + csx), Map.empty))
                csx += 1
              }
              csy += 1
            }
            aboveNz(mx)(po) = cNz(2); aboveNz(mx)(po + 1) = cNz(3)
            leftNz(po) = cNz(1); leftNz(po + 1) = cNz(3)
            pl += 1
          }
        }
        mx += 1
      }
      my += 1
    }
    val part2 = t.flush()

    val tagv = (1 << 4) | (part1.length << 5) // keyframe, version 0, show
    val out = new java.io.ByteArrayOutputStream()
    put24le(out, tagv)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(w & 0xff); out.write((w >> 8) & 0x3f)
    out.write(h & 0xff); out.write((h >> 8) & 0x3f)
    out.write(part1, 0, part1.length)
    out.write(part2, 0, part2.length)
    val payload = out.toByteArray
    val riff = new java.io.ByteArrayOutputStream()
    def wstr(s: String): Unit = riff.write(s.getBytes("US-ASCII"), 0, 4)
    wstr("RIFF")
    put32le(riff, 4 + 8 + payload.length + (payload.length & 1))
    wstr("WEBP"); wstr("VP8 "); put32le(riff, payload.length)
    riff.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) riff.write(0)
    riff.toByteArray
  }

  // ------------------------------------------------------------------
  // m28 fixture regimes — level formulas mirrored analytically by the
  // DuckDB oracle (see MultimodalQueries m28)
  // ------------------------------------------------------------------

  /** Regime of seed k (k = doc_id % 251): k%4 = 0 coeff-MB, 1 whole-MB
    * modes, 2 B_PRED 4x4, 3 constant-propagation 2x2 grid. */
  private[graft] def encodeFixture(k: Long): Array[Byte] = {
    val ki = (k % 251).toInt
    (ki % 4) match {
      case 0 =>
        // single MB, DC/DC, Y2 (dc,zz1) + per-Y-block (zz1, zz2) + UV (dc, zz1)
        val qi = ki % 48
        val d0 = (ki % 5) - 2
        val w1 = (ki % 3) - 1
        val co = scala.collection.mutable.Map[(Int, Int), Map[Int, Int]]()
        co((0, 0)) = Map(0 -> d0, 1 -> w1)
        var i = 0
        while (i < 16) {
          co((1, i)) = Map(1 -> (((ki + i) % 7) - 3), 2 -> (((2 * ki + i) % 5) - 2))
          i += 1
        }
        i = 0
        while (i < 4) {
          co((2, i)) = Map(0 -> (((ki + i) % 5) - 2), 1 -> (((ki + 2 * i) % 3) - 1))
          co((3, i)) = Map(0 -> (((2 * ki + i) % 5) - 2), 1 -> (((ki + i) % 3) - 1))
          i += 1
        }
        val w = 16 - (ki % 5); val h = 16 - (ki % 7)
        encodeVp8Frame(w, h,
          Array(Array(new MbPlan(0, new Array[Int](16), 0, skip = false, co.toMap))), qi)
      case 1 =>
        // single MB, pure 16x16 prediction from boundary, skip
        val ym = (ki / 4) % 4
        val uvm = (ki / 16) % 4
        encodeVp8Frame(16, 16,
          Array(Array(new MbPlan(ym, new Array[Int](16), uvm, skip = true, Map.empty))), ki % 64)
      case 2 =>
        // 4x4 frame: B_PRED, sub-mode k%10 visible at sb(0,0), type-3
        // residual (dc, zz1) on the visible block
        val bm = Array.fill(16)((ki / 4) % 10)
        val co = Map((1, 0) -> Map(0 -> ((ki % 5) - 2), 1 -> ((ki % 3) - 1)))
        encodeVp8Frame(4, 4,
          Array(Array(new MbPlan(4, bm, 0, skip = false, co))), ki % 32)
      case _ =>
        // 2x2 MB grid, zero residual: constant propagation across MBs
        val plans = Array.tabulate(2, 2) { (r, c) =>
          new MbPlan((ki + 2 * r + c) % 4, new Array[Int](16),
            (ki + r + 2 * c) % 4, skip = true, Map.empty)
        }
        encodeVp8Frame(32, 32, plans, ki % 64)
    }
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** Fixture-synthesis column for m28: lossy-WebP bytes for a doc id. */
  def packWebpVp8(id: Column): Column = {
    val enc = udf((kk: Long) => encodeFixture(kk))
    enc(id.cast("long"))
  }

  private val StatsSchema = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sum_y", LongType, nullable = false),
    StructField("sum_u", LongType, nullable = false),
    StructField("sum_v", LongType, nullable = false),
    StructField("even_sum", LongType, nullable = false)))

  /** Real-pixel lossy-WebP decode over [[Seam.rows]]:
    * (id, media) → (id, width, height, sum_y, sum_u, sum_v, even_sum). */
  def decodeWebpVp8Stats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, StatsSchema) { b =>
      val (w, h, sy, su, sv, es) = decodeWebpVp8Stats(b)
      Row(w, h, sy, su, sv, es)
    }
}
