package graft.ops

import graft.core.Bytes._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.udf

/** Progressive JPEG (SOF2) decode — the other half of real-crawl JPEG
  * traffic next to [[Multimodal.decodeJpegStats]]'s baseline path (the
  * reference records `image/jpeg` per fetched object at
  * `ParserMapper.java:941-1101` but never decodes; both halves are
  * needed before a pixel-level dedupe/quality stage can claim JPEG
  * coverage).
  *
  * T.81 Annex G semantics, assembled the way every real decoder does it:
  * coefficients accumulate in a full-frame QUANTIZED-domain buffer
  * across scans — DC first (point-transformed diffs) and DC refinement
  * (one raw bit ORed at Al); AC first scans per spectral band with
  * EOB-run coding across blocks; AC refinement with correction bits for
  * already-nonzero coefficients, newly-significant ±1·2^Al insertions,
  * ZRL runs counted over zero-HISTORY positions only, and EOB runs that
  * still carry correction bits — then one dequantize + the SAME pinned
  * integer IDCT ([[Multimodal.IdctK]]) renders pixels, so progressive
  * and baseline decodes of identical coefficients are bit-identical and
  * the m29 oracle replays the identical arithmetic term-for-term.
  *
  * Untrusted input discipline matches the sibling decoders: dimension
  * and table budgets up front, all-(-1) sentinel on any malformation,
  * never throws.
  */
object JpegProgressive {

  import JpegEntropy.{extend, extendBits, size}
  import Multimodal.{DcLumBits, DcLumVals, IdctK, MaxInflateBytes, ZigZag,
    huffCodes, ycbcrToRgb}

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  /** Progressive-JPEG pixel stats: (w, h, sumR, sumG, sumB, evenSum);
    * all-(-1) on malformed input. Accepts SOF2, 1 or 3 components,
    * sampling factors ≤ 2, DRI/RSTn honored in every scan. */
  private[graft] def decodeJpegProgStats(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bad = (-1, -1, -1L, -1L, -1L, -1L)
    try {
      if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
        return bad
      var pos = 2
      val t = new JpegEntropy.Tables
      var w = -1; var h = -1
      var nComp = 0
      val compSampH = new Array[Int](4); val compSampV = new Array[Int](4)
      val compQ = new Array[Int](4); val compId = new Array[Int](4)
      var restartInterval = 0
      // full-frame quantized coefficient buffers, raster order within
      // each 64-coef block; allocated at SOF2 once dims pass budget
      var coefs: Array[Array[Int]] = null
      var blocksW: Array[Int] = null; var blocksH: Array[Int] = null
      var maxH = 1; var maxV = 1
      var mcusX = 0; var mcusY = 0
      var sawEoi = false

      val ent = new JpegEntropy.Reader(bytes, t)

      // ---- one scan ------------------------------------------------
      def runScan(scanComps: Array[Int], dcTab: Array[Int], acTab: Array[Int],
          ss: Int, se: Int, ah: Int, al: Int, dataAt: Int): Boolean = {
        ent.start(dataAt)
        var eobrun = 0
        val pred = new Array[Int](4)
        val ns = scanComps.length
        val p1 = 1 << al
        val m1 = -1 << al

        def dcFirstBlock(ci: Int, bi: Int): Boolean = {
          val s = ent.huffDecode(0, dcTab(ci))
          if (s < 0 || s > 11) return false
          val diff = extend(ent.getBits(s), s)
          if (ent.failed) return false
          pred(ci) += diff
          coefs(ci)(bi * 64) = pred(ci) << al
          true
        }
        def dcRefineBlock(ci: Int, bi: Int): Boolean = {
          val b = ent.getBits(1)
          if (ent.failed) return false
          if (b == 1) coefs(ci)(bi * 64) |= p1
          true
        }
        def acFirstBlock(ci: Int, bi: Int): Boolean = {
          if (eobrun > 0) { eobrun -= 1; return true }
          val buf = coefs(ci)
          var k = ss
          while (k <= se) {
            val rs = ent.huffDecode(1, acTab(ci))
            if (rs < 0) return false
            val r = rs >> 4; val s = rs & 15
            if (s == 0) {
              if (r == 15) { k += 16 }
              else {
                eobrun = (1 << r) - 1 + (if (r > 0) ent.getBits(r) else 0)
                if (ent.failed) return false
                return true
              }
            } else {
              k += r
              if (k > se) return false
              buf(bi * 64 + ZigZag(k)) = extend(ent.getBits(s), s) << al
              if (ent.failed) return false
              k += 1
            }
          }
          true
        }
        def acRefineBlock(ci: Int, bi: Int): Boolean = {
          val buf = coefs(ci)
          var k = ss
          if (eobrun == 0) {
            var done = false
            while (!done && k <= se) {
              val rs = ent.huffDecode(1, acTab(ci))
              if (rs < 0) return false
              val r0 = rs >> 4; val s0 = rs & 15
              var r = r0
              var newVal = 0
              if (s0 == 0) {
                if (r0 != 15) {
                  // EOBRUN counts this block too — the post-loop handler
                  // refines the band's remaining nonzero coefficients
                  // (reading their correction bits) and decrements
                  eobrun = (1 << r0) + (if (r0 > 0) ent.getBits(r0) else 0)
                  if (ent.failed) return false
                  done = true
                }
                // r0 == 15: ZRL — skip 16 zero-history coefficients below
              } else {
                if (s0 != 1) return false
                newVal = if (ent.getBits(1) == 1) p1 else m1
                if (ent.failed) return false
              }
              if (!done) {
                // advance over r zero-history slots, reading a correction
                // bit at every nonzero-history coefficient passed
                var placed = false
                while (!placed && k <= se) {
                  val c = buf(bi * 64 + ZigZag(k))
                  if (c != 0) {
                    if (ent.getBits(1) == 1 && (c & p1) == 0)
                      buf(bi * 64 + ZigZag(k)) = c + (if (c >= 0) p1 else m1)
                    if (ent.failed) return false
                  } else {
                    if (r == 0) placed = true
                    else r -= 1
                  }
                  if (!placed) k += 1
                }
                if (newVal != 0) {
                  if (k > se) return false
                  buf(bi * 64 + ZigZag(k)) = newVal
                }
                k += 1
              }
            }
          }
          if (eobrun > 0) {
            // EOB-run member: remaining nonzero coefficients still
            // receive correction bits
            while (k <= se) {
              val c = buf(bi * 64 + ZigZag(k))
              if (c != 0) {
                if (ent.getBits(1) == 1 && (c & p1) == 0)
                  buf(bi * 64 + ZigZag(k)) = c + (if (c >= 0) p1 else m1)
                if (ent.failed) return false
              }
              k += 1
            }
            eobrun -= 1
          }
          true
        }
        def decodeUnit(ci: Int, bi: Int): Boolean =
          if (ss == 0) { if (ah == 0) dcFirstBlock(ci, bi) else dcRefineBlock(ci, bi) }
          else { if (ah == 0) acFirstBlock(ci, bi) else acRefineBlock(ci, bi) }

        def restart(unitIdx: Int): Boolean = {
          if (restartInterval > 0 && unitIdx > 0 && unitIdx % restartInterval == 0) {
            if (!ent.restart()) return false
            java.util.Arrays.fill(pred, 0)
            eobrun = 0
          }
          true
        }

        if (ns > 1) {
          // interleaved (DC scans only, enforced by caller): MCU order
          var mcu = 0
          var my = 0
          while (my < mcusY) {
            var mx = 0
            while (mx < mcusX) {
              if (!restart(mcu)) return false
              var si = 0
              while (si < ns) {
                val ci = scanComps(si)
                var v = 0
                while (v < compSampV(ci)) {
                  var hh = 0
                  while (hh < compSampH(ci)) {
                    val bx = mx * compSampH(ci) + hh
                    val by = my * compSampV(ci) + v
                    if (!decodeUnit(ci, by * blocksW(ci) + bx)) return false
                    hh += 1
                  }
                  v += 1
                }
                si += 1
              }
              mcu += 1
              mx += 1
            }
            my += 1
          }
        } else {
          // non-interleaved: the component's REAL block grid (no MCU
          // padding), raster order
          val ci = scanComps(0)
          val cw = (w * compSampH(ci) + maxH - 1) / maxH
          val ch = (h * compSampV(ci) + maxV - 1) / maxV
          val nbx = (cw + 7) / 8; val nby = (ch + 7) / 8
          var unit = 0
          var by = 0
          while (by < nby) {
            var bx = 0
            while (bx < nbx) {
              if (!restart(unit)) return false
              if (!decodeUnit(ci, by * blocksW(ci) + bx)) return false
              unit += 1
              bx += 1
            }
            by += 1
          }
        }
        // the reader stopped AT the next marker, so the outer walk can
        // resume from ent.pos
        true
      }

      // ---- marker walk --------------------------------------------
      val scanDc = new Array[Int](4); val scanAc = new Array[Int](4)
      while (!sawEoi) {
        if (pos + 2 > bytes.length) return bad
        if (u8(bytes, pos) != 0xff) return bad
        val m = u8(bytes, pos + 1)
        if (m == 0xd9) { sawEoi = true }
        else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { pos += 2 }
        else {
          if (pos + 4 > bytes.length) return bad
          val len = u16be(bytes, pos + 2)
          if (len < 2 || pos + 2 + len > bytes.length) return bad
          val body = pos + 4
          m match {
            case 0xdb =>
              if (!t.readDqt(bytes, body, pos + 2 + len)) return bad
              pos += 2 + len
            case 0xc2 =>
              if (coefs != null) return bad // one frame only
              if (len < 8 || u8(bytes, body) != 8) return bad
              h = u16be(bytes, body + 1); w = u16be(bytes, body + 3)
              nComp = u8(bytes, body + 5)
              if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3)) return bad
              if (w.toLong * h > MaxInflateBytes / 4) return bad
              var c = 0
              while (c < nComp) {
                val o = body + 6 + 3 * c
                compId(c) = u8(bytes, o)
                compSampH(c) = u8(bytes, o + 1) >> 4; compSampV(c) = u8(bytes, o + 1) & 15
                compQ(c) = u8(bytes, o + 2)
                if (compSampH(c) < 1 || compSampH(c) > 2 ||
                    compSampV(c) < 1 || compSampV(c) > 2 || compQ(c) > 3) return bad
                c += 1
              }
              maxH = (0 until nComp).map(compSampH).max
              maxV = (0 until nComp).map(compSampV).max
              mcusX = (w + 8 * maxH - 1) / (8 * maxH)
              mcusY = (h + 8 * maxV - 1) / (8 * maxV)
              blocksW = new Array[Int](nComp); blocksH = new Array[Int](nComp)
              coefs = new Array[Array[Int]](nComp)
              c = 0
              while (c < nComp) {
                blocksW(c) = mcusX * compSampH(c)
                blocksH(c) = mcusY * compSampV(c)
                coefs(c) = new Array[Int](blocksW(c) * blocksH(c) * 64)
                c += 1
              }
              pos += 2 + len
            case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
                0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
              return bad // not progressive-Huffman
            case 0xc4 =>
              if (!t.readDht(bytes, body, pos + 2 + len)) return bad
              pos += 2 + len
            case 0xdd =>
              if (len != 4) return bad
              restartInterval = u16be(bytes, body)
              pos += 2 + len
            case 0xda =>
              if (coefs == null) return bad // SOS before SOF2
              val ns = u8(bytes, body)
              if (ns < 1 || ns > 4 || len < 6 + 2 * ns) return bad
              val scanComps = new Array[Int](ns)
              var c = 0
              while (c < ns) {
                val id = u8(bytes, body + 1 + 2 * c)
                val ci = compId.indexOf(id)
                if (ci < 0 || ci >= nComp) return bad
                scanComps(c) = ci
                scanDc(ci) = u8(bytes, body + 2 + 2 * c) >> 4
                scanAc(ci) = u8(bytes, body + 2 + 2 * c) & 15
                c += 1
              }
              val ss0 = u8(bytes, body + 1 + 2 * ns)
              val se0 = u8(bytes, body + 2 + 2 * ns)
              val ah0 = u8(bytes, body + 3 + 2 * ns) >> 4
              val al0 = u8(bytes, body + 3 + 2 * ns) & 15
              // G.1: DC scans are Ss=Se=0 (interleave allowed); AC scans
              // are single-component with 1 ≤ Ss ≤ Se ≤ 63; successive
              // approximation refines one bit at a time
              if (ss0 == 0) { if (se0 != 0) return bad }
              else { if (ns != 1 || se0 < ss0 || se0 > 63) return bad }
              if (al0 > 13 || (ah0 != 0 && ah0 != al0 + 1)) return bad
              if (!runScan(scanComps, scanDc, scanAc, ss0, se0, ah0, al0,
                  pos + 2 + len)) return bad
              pos = ent.pos // entropy reader stopped at the next marker
              // tolerate a byte-aligned stop mid-stuffing: resync to FF
              while (pos < bytes.length && u8(bytes, pos) != 0xff) pos += 1
            case _ =>
              pos += 2 + len
          }
        }
      }
      if (coefs == null) return bad
      var c = 0
      while (c < nComp) { if (!t.qtSeen(compQ(c))) return bad; c += 1 }

      // ---- render: dequant + pinned IDCT + stats fold --------------
      val planeW = new Array[Int](nComp); val planeH = new Array[Int](nComp)
      val planes = new Array[Array[Byte]](nComp)
      c = 0
      while (c < nComp) {
        planeW(c) = blocksW(c) * 8
        planeH(c) = blocksH(c) * 8
        planes(c) = new Array[Byte](planeW(c) * planeH(c))
        c += 1
      }
      val pix = new Array[Int](64)
      val deq = new Array[Int](64)
      c = 0
      while (c < nComp) {
        val q = t.qt(compQ(c))
        val buf = coefs(c)
        var by = 0
        while (by < blocksH(c)) {
          var bx = 0
          while (bx < blocksW(c)) {
            val base = (by * blocksW(c) + bx) * 64
            var i = 0
            while (i < 64) { deq(ZigZag(i)) = buf(base + ZigZag(i)) * q(i); i += 1 }
            var y0 = 0
            while (y0 < 8) {
              var x0 = 0
              while (x0 < 8) {
                var s = 0L
                var u = 0
                while (u < 8) {
                  var v = 0
                  while (v < 8) {
                    val f = deq(8 * v + u)
                    if (f != 0)
                      s += IdctK(8 * u + x0).toLong * IdctK(8 * v + y0) * f
                    v += 1
                  }
                  u += 1
                }
                val out = ((s + (1L << 23)) >> 24).toInt + 128
                pix(8 * y0 + x0) = math.max(0, math.min(255, out))
                x0 += 1
              }
              y0 += 1
            }
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(c)((by * 8 + yy) * planeW(c) + bx * 8 + xx) =
                  pix(8 * yy + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var evenSum = 0L
      var y0 = 0
      while (y0 < h) {
        var x0 = 0
        while (x0 < w) {
          val yv = planes(0)(y0 * planeW(0) + x0) & 0xff
          val (r, g, b2) =
            if (nComp == 1) (yv, yv, yv)
            else {
              val cbx = x0 * compSampH(1) / maxH; val cby = y0 * compSampV(1) / maxV
              val crx = x0 * compSampH(2) / maxH; val cry = y0 * compSampV(2) / maxV
              ycbcrToRgb(yv,
                planes(1)(cby * planeW(1) + cbx) & 0xff,
                planes(2)(cry * planeW(2) + crx) & 0xff)
            }
          sumR += r; sumG += g; sumB += b2
          if ((x0 & 1) == 0 && (y0 & 1) == 0) evenSum += r + g + b2
          x0 += 1
        }
        y0 += 1
      }
      (w, h, sumR, sumG, sumB, evenSum)
    } catch { case scala.util.control.NonFatal(_) => bad }
  }

  // ------------------------------------------------------------------
  // fixture encoder
  // ------------------------------------------------------------------

  /** m29 adds a third analytic coefficient to the m22 layout: a ±1 at
    * zigzag 40 (raster u=5, v=3) that is INVISIBLE to the AC-first pass
    * (|v| >> 1 = 0) and appears only as a newly-significant insertion in
    * the refinement scan, behind a 31-long zero-history run — forcing
    * the ZRL-inside-refinement path. Magnitude 1·16 adds < 4 to any
    * pixel, keeping the no-clamp property. */
  private[graft] def jpegB3(k: Long, bx: Int, by: Int): Int =
    ((bx + by + k) % 3).toInt - 1

  // AC table for the progressive scans: EOBn (r ≤ 4 covers the ≤ 24-block
  // fixture grids), ZRL, first-scan symbols (run 0 / 2, size 1-2), and
  // every (r<<4)|1 insertion symbol refinement can emit — all as
  // length-6 canonical codes (26 < 2^6, no all-ones code assigned)
  private val AcProgVals: Array[Int] =
    (Array(0x00, 0x10, 0x20, 0x30, 0x40, 0xf0, 0x01, 0x02, 0x21, 0x22) ++
      (1 to 15).map(r => (r << 4) | 1)).distinct.sorted
  private val AcProgBits: Array[Int] =
    Array.tabulate(16)(i => if (i == 5) AcProgVals.length else 0)

  /** Encode the m29 progressive fixture: grayscale SOF2, the m22
    * coefficient layout plus [[jpegB3]], five scans — DC first (Al=1),
    * AC first 1..5 (Al=1), AC first 6..63 (Al=1), DC refine, AC refine
    * 1..63 — exercising DC/AC first+refine, spectral banding, EOB runs
    * with correction bits, and ZRL in refinement. */
  private[graft] def encodeJpegProg(k: Long, nbx: Int, nby: Int): Array[Byte] = {
    val w = 8 * nbx; val h = 8 * nby
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    Multimodal.jpegMarker(out, 0xdb, 0 +: Array.tabulate(64)(i => if (i == 0) 8 else 16))
    Multimodal.jpegMarker(out, 0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    Multimodal.jpegMarker(out, 0xc4, (0x00 +: (DcLumBits ++ DcLumVals)) ++
      (0x10 +: (AcProgBits ++ AcProgVals)))
    val dcLum = huffCodes(DcLumBits, DcLumVals)
    val acTab = huffCodes(AcProgBits, AcProgVals)

    // per-scan bit writer with FF stuffing; 1-fill flush at scan end
    val ew = new JpegEntropy.Writer(out)
    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit =
      Multimodal.jpegMarker(out, 0xda, Array(1, 1, 0x00, ss, se, (ah << 4) | al))

    // target quantized coefficients per block, by zigzag index
    def coefAt(bx: Int, by: Int, zz: Int): Int = zz match {
      case 0  => Multimodal.jpegAcDc(k, bx, by)
      case 1  => Multimodal.jpegAc1(k, bx, by)
      case 8  => Multimodal.jpegAc2(k, bx, by)
      case 40 => jpegB3(k, bx, by)
      case _  => 0
    }

    // ---- scan 1: DC first, Al=1 (arithmetic-shift point transform) --
    sos(0, 0, 0, 1)
    var pred = 0
    for (by <- 0 until nby; bx <- 0 until nbx) {
      val v = coefAt(bx, by, 0) >> 1
      val diff = v - pred; pred = v
      val ds = size(diff)
      val (c, l) = dcLum(ds)
      ew.putBits(c, l)
      if (ds > 0) ew.putBits(extendBits(diff), ds)
    }
    ew.flush()

    // ---- scans 2-3: AC first per band, Al=1 (magnitude shift) -------
    var eobrun = 0
    def emitEobrunFirst(): Unit = if (eobrun > 0) {
      val nb = 31 - Integer.numberOfLeadingZeros(eobrun)
      val (c, l) = acTab(nb << 4)
      ew.putBits(c, l)
      if (nb > 0) ew.putBits(eobrun & ((1 << nb) - 1), nb)
      eobrun = 0
    }
    def acFirstScan(ss: Int, se: Int): Unit = {
      sos(ss, se, 0, 1)
      eobrun = 0
      for (by <- 0 until nby; bx <- 0 until nbx) {
        var r = 0
        var kk = ss
        while (kk <= se) {
          val t = coefAt(bx, by, kk)
          val temp = math.abs(t) >> 1
          if (temp == 0) r += 1
          else {
            emitEobrunFirst()
            while (r > 15) { val (zc, zl) = acTab(0xf0); ew.putBits(zc, zl); r -= 16 }
            val s = size(temp)
            val (c, l) = acTab((r << 4) | s)
            ew.putBits(c, l)
            ew.putBits(extendBits(if (t < 0) -temp else temp), s)
            r = 0
          }
          kk += 1
        }
        if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobrunFirst() }
      }
      emitEobrunFirst()
      ew.flush()
    }
    acFirstScan(1, 5)
    acFirstScan(6, 63)

    // ---- scan 4: DC refine (one raw bit per block) -------------------
    sos(0, 0, 1, 0)
    for (by <- 0 until nby; bx <- 0 until nbx)
      ew.putBits(coefAt(bx, by, 0) & 1, 1)
    ew.flush()

    // ---- scan 5: AC refine 1..63, Ah=1 Al=0 --------------------------
    sos(1, 63, 1, 0)
    eobrun = 0
    val pendingBE = scala.collection.mutable.ArrayBuffer.empty[Int]
    def emitEobrunRefine(): Unit = if (eobrun > 0 || pendingBE.nonEmpty) {
      // an EOB run is only pending when eobrun > 0 (correction bits ride
      // along); guard both so a flush can't emit a zero-length run
      if (eobrun > 0) {
        val nb = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (c, l) = acTab(nb << 4)
        ew.putBits(c, l)
        if (nb > 0) ew.putBits(eobrun & ((1 << nb) - 1), nb)
        pendingBE.foreach(b => ew.putBits(b, 1))
        pendingBE.clear()
        eobrun = 0
      }
    }
    for (by <- 0 until nby; bx <- 0 until nbx) {
      // last zigzag position holding a newly-significant (|t| == 1) coef
      var eobPos = 0
      var kk = 1
      while (kk <= 63) {
        if (math.abs(coefAt(bx, by, kk)) == 1) eobPos = kk
        kk += 1
      }
      var r = 0
      val br = scala.collection.mutable.ArrayBuffer.empty[Int]
      kk = 1
      while (kk <= 63) {
        val t = coefAt(bx, by, kk)
        val temp = math.abs(t)
        if (temp == 0) r += 1
        else {
          // the ZRL drain must run at EVERY nonzero coefficient — before
          // buffering a correction bit — so every buffered bit's owner
          // sits before the 16th zero its ZRL advance covers (the
          // decoder reads correction bits only for coefficients it
          // passes during that advance); ZRL only while a later
          // insertion exists — trailing zeros fold into the EOB run
          while (r > 15 && kk <= eobPos) {
            emitEobrunRefine()
            val (zc, zl) = acTab(0xf0)
            ew.putBits(zc, zl); r -= 16
            br.foreach(b => ew.putBits(b, 1)); br.clear()
          }
          if (temp > 1) br += (temp & 1) // history-nonzero: correction bit
          else {
            // newly significant ±1: flush any pending EOB run first
            emitEobrunRefine()
            val (c, l) = acTab((r << 4) | 1)
            ew.putBits(c, l)
            ew.putBits(if (t > 0) 1 else 0, 1)
            br.foreach(b => ew.putBits(b, 1)); br.clear()
            r = 0
          }
        }
        kk += 1
      }
      if (r > 0 || br.nonEmpty) {
        eobrun += 1
        pendingBE ++= br
        if (eobrun == 0x7fff) emitEobrunRefine()
      }
    }
    emitEobrunRefine()
    ew.flush()

    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  /** Fixture-synthesis column for m29: progressive-JPEG bytes for
    * (seed, block grid). */
  def packJpegProg(id: Column, nbx: Column, nby: Column): Column = {
    val enc = udf((kk: Long, a: Int, b: Int) => encodeJpegProg(kk % 251, a, b))
    enc(id.cast("long"), nbx.cast("int"), nby.cast("int"))
  }

  /** Real progressive-JPEG pixel decode over [[Seam.rows]]:
    * (id, media) → (id, width, height, sum_r, sum_g, sum_b, even_sum). */
  def decodeJpegProgPixelStats(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, Multimodal.PixelStatsSchema) { b =>
      val (w, h, sr, sg, sb, es) = decodeJpegProgStats(b)
      Row(w, h, sr, sg, sb, es)
    }
}
