package graft.ops

import graft.core.Bits.{MsbReader, MsbWriter}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** m44: AV1 sequence-header OBU parse — the bitstream tier under m40's
  * AVIF container walk: AVIF stills are AV1 "reduced still picture"
  * streams, and the sequence header carries the REAL dimensions the
  * container's `ispe` property merely mirrors. Parsing it (AV1
  * Bitstream & Decoding Process Specification §5.5, MSB-first bits —
  * the opposite bit order of VP8L/brotli) gives the
  * container-vs-bitstream consistency check a real ingest runs: a
  * mismatch is the classic malformed-AVIF signal. Full AV1 frame
  * decode stays descoped (the AV1-pixel standing from m40); this is
  * the header tier only:
  *
  *   OBU header (forbidden/type/ext/has_size), leb128 size,
  *   seq_profile, still_picture, reduced_still_picture_header,
  *   seq_level_idx, frame-size bit widths + max dimensions,
  *   use_128x128_superblock, filter-intra/intra-edge flags,
  *   superres/cdef/restoration, color_config (bitdepth, monochrome,
  *   chroma sample position), film_grain_params_present.
  *
  * NonFatal→null; every count budgeted. */
object Av1 {

  private[graft] final case class SeqHeader(
      profile: Long, stillPicture: Boolean, level: Long,
      width: Long, height: Long, bitDepth: Long, monochrome: Boolean,
      use128Superblock: Boolean, enableCdef: Boolean,
      enableRestoration: Boolean, filmGrain: Boolean)

  // ------------------------------------------------------------------
  // parse
  // ------------------------------------------------------------------

  /** Parse the FIRST OBU when it is a reduced-still-picture sequence
    * header (the AVIF shape); null otherwise/on malformed input. */
  private[graft] def seqHeader(b: Array[Byte]): SeqHeader =
    try seqHeaderImpl(b)
    catch { case scala.util.control.NonFatal(_) => null }

  private def seqHeaderImpl(b: Array[Byte]): SeqHeader = {
    if (b == null || b.length < 4) return null
    val h = b(0) & 0xff
    if ((h & 0x80) != 0) return null // forbidden bit
    val obuType = (h >> 3) & 0xf
    if (obuType != 1) return null // OBU_SEQUENCE_HEADER
    val hasExt = (h & 4) != 0
    val hasSize = (h & 2) != 0
    var p = 1
    if (hasExt) p += 1
    var size = -1L
    if (hasSize) { // leb128, ≤ 8 bytes per spec
      size = 0L
      var shift = 0
      var done = false
      var i = 0
      while (!done) {
        if (p >= b.length || i >= 8) return null
        val c = b(p) & 0xff; p += 1
        size |= (c & 0x7fL) << shift
        shift += 7
        if ((c & 0x80) == 0) done = true
        i += 1
      }
      if (size < 0 || p + size > b.length) return null
    }
    val r = new MsbReader(b, p)
    val profile = r.readBits(3)
    if (profile > 2) return null
    val still = r.readBits(1) == 1
    val reduced = r.readBits(1) == 1
    if (!reduced) return null // only the AVIF shape in scope
    val level = r.readBits(5)
    val fwBits = r.readBits(4) + 1
    val fhBits = r.readBits(4) + 1
    val width = r.readBits(fwBits) + 1L
    val height = r.readBits(fhBits) + 1L
    val use128 = r.readBits(1) == 1
    r.readBits(1) // enable_filter_intra
    r.readBits(1) // enable_intra_edge_filter
    val superres = r.readBits(1) == 1
    val cdef = r.readBits(1) == 1
    val restoration = r.readBits(1) == 1
    val _ = superres
    // color_config
    val highBd = r.readBits(1)
    val bitDepth =
      if (profile == 2 && highBd == 1) { if (r.readBits(1) == 1) 12L else 10L }
      else if (highBd == 1) 10L
      else 8L
    val mono = if (profile == 1) false else r.readBits(1) == 1
    val described = r.readBits(1) == 1
    var cp = 2; var tc = 2; var mc = 2 // UNSPECIFIED when absent
    if (described) { cp = r.readBits(8); tc = r.readBits(8); mc = r.readBits(8) }
    if (mono) {
      // spec 5.5.2: mono reads color_range then returns — subsampling
      // implied 1,1, NO separate_uv_delta_q bit
      r.readBits(1) // color_range
    } else if (described && cp == 1 && tc == 13 && mc == 0) {
      // BT.709 + sRGB + identity: full range and 4:4:4 are IMPLIED —
      // no color_range bit, no subsampling/chroma-position bits
      r.readBits(1) // separate_uv_delta_q
    } else {
      r.readBits(1) // color_range
      var subX = 1; var subY = 1
      if (profile == 0) { subX = 1; subY = 1 }
      else if (profile == 1) { subX = 0; subY = 0 }
      else { // profile 2: 12-bit carries explicit subsampling bits
        if (bitDepth == 12L) {
          subX = r.readBits(1)
          subY = if (subX == 1) r.readBits(1) else 0
        } else { subX = 1; subY = 0 } // 4:2:2
      }
      if (subX == 1 && subY == 1) r.readBits(2) // chroma_sample_position
      r.readBits(1) // separate_uv_delta_q
    }
    val filmGrain = r.readBits(1) == 1
    SeqHeader(profile.toLong, still, level.toLong, width, height, bitDepth,
      mono, use128, cdef, restoration, filmGrain)
  }

  // ------------------------------------------------------------------
  // fixture encoder (the OBU the [[Avif]] fixture plants in its mdat)
  // ------------------------------------------------------------------

  private def nbits(v: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v)))

  /** Reduced-still-picture sequence-header OBU for the given geometry,
    * flags varied by the seed. */
  private[graft] def encodeSeqHeader(w: Long, h: Long, k: Long): Array[Byte] = {
    val bw = new MsbWriter
    bw.writeBits(0, 3) // seq_profile 0
    bw.writeBits(1, 1) // still_picture
    bw.writeBits(1, 1) // reduced_still_picture_header
    bw.writeBits((k % 14).toInt, 5) // seq_level_idx
    val fwBits = nbits(w - 1)
    val fhBits = nbits(h - 1)
    bw.writeBits(fwBits - 1, 4)
    bw.writeBits(fhBits - 1, 4)
    bw.writeBits((w - 1).toInt, fwBits)
    bw.writeBits((h - 1).toInt, fhBits)
    bw.writeBits((k % 2).toInt, 1) // use_128x128_superblock
    bw.writeBits(if (k % 3 == 0) 1 else 0, 1) // enable_filter_intra
    bw.writeBits(if (k % 3 != 1) 1 else 0, 1) // enable_intra_edge_filter
    bw.writeBits(if (k % 5 == 0) 1 else 0, 1) // enable_superres
    bw.writeBits(((k + 1) % 2).toInt, 1) // enable_cdef
    bw.writeBits(if (k % 7 == 0) 1 else 0, 1) // enable_restoration
    // color_config: 8-bit, not monochrome, undesc., full-range off,
    // chroma position varies, no separate uv delta q
    bw.writeBits(0, 1) // high_bitdepth
    bw.writeBits(0, 1) // mono_chrome
    bw.writeBits(0, 1) // color_description_present_flag
    bw.writeBits(0, 1) // color_range
    bw.writeBits((k % 3).toInt, 2) // chroma_sample_position
    bw.writeBits(0, 1) // separate_uv_delta_q
    bw.writeBits(if (k % 4 == 0) 1 else 0, 1) // film_grain_params_present
    val payload = bw.toBytes
    val out = new java.io.ByteArrayOutputStream(payload.length + 2)
    out.write(0x0a) // type 1, has_size, no ext
    // leb128 size (payload is tiny; single byte)
    out.write(payload.length)
    out.write(payload)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark surface
  // ------------------------------------------------------------------

  private val OutSchema = StructType(Seq(
    StructField("profile", LongType, nullable = false),
    StructField("still_picture", LongType, nullable = false),
    StructField("level", LongType, nullable = false),
    StructField("bs_width", LongType, nullable = false),
    StructField("bs_height", LongType, nullable = false),
    StructField("bit_depth", LongType, nullable = false),
    StructField("monochrome", LongType, nullable = false),
    StructField("use_128_sb", LongType, nullable = false),
    StructField("enable_cdef", LongType, nullable = false),
    StructField("enable_restoration", LongType, nullable = false),
    StructField("film_grain", LongType, nullable = false)))

  /** Parse the sequence header of each AVIF's primary item (first
    * extent bytes via [[Avif.primaryItemData]]); null/-1 sentinel row
    * on malformed input. */
  def decodeAv1Seq(df: DataFrame, id: String, media: String): DataFrame =
    Seam.rows(df, id, media, OutSchema) { b =>
      val payload = Avif.primaryItemData(b)
      val s = if (payload == null) null else seqHeader(payload)
      if (s == null)
        Row(-1L, 0L, -1L, -1L, -1L, -1L, 0L, 0L, 0L, 0L, 0L)
      else
        Row(s.profile, if (s.stillPicture) 1L else 0L,
          s.level, s.width, s.height, s.bitDepth,
          if (s.monochrome) 1L else 0L, if (s.use128Superblock) 1L else 0L,
          if (s.enableCdef) 1L else 0L,
          if (s.enableRestoration) 1L else 0L,
          if (s.filmGrain) 1L else 0L)
    }
}
