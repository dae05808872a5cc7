package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Exif, Flac, Ico, JpegProgressive, Mp3, Multimodal, Ogg, Pdf, Seam, Tar, Vp8,
  Vp8l, WebpAnim, Zip}

/** Multimodal column queries: binary media containers synthesized from
  * document text (this container has no media codecs — see
  * ops.Multimodal for the stub boundary), with metadata extraction and
  * frame-sample planning as oracle-checked column expressions. */
object MultimodalQueries {

  def defs: Seq[Q] = Seq(
    Q(
      "m1_media_meta",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val frames = (col("n_chars") % 50 + 1).cast("int")
        val media = Multimodal.packMedia(col("text"), col("doc_id") % 3, frames)
        docs
          .select(col("doc_id"), media.as("media"), frames.as("frames"))
          .select(
            col("doc_id"),
            length(col("media")).cast("long").as("n_bytes"),
            (length(col("media")) - Multimodal.HeaderLen).cast("long").as("payload_len"),
            when(col("doc_id") % 3 === 0, "img")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("format"),
            size(Multimodal.sampleFrameIndexes(col("frames"), every = 3, cap = 5))
              .cast("long").as("n_sample_frames"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
               octet_length(encode('GRFT' || (doc_id % 3)
                 || lpad(CAST(n_chars % 50 + 1 AS VARCHAR), 4, '0') || ':' || text))::BIGINT AS n_bytes,
               (octet_length(encode(text)))::BIGINT AS payload_len,
               CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
               least((n_chars % 50 + 1 + 2) // 3, 5)::BIGINT AS n_sample_frames
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),
    // m2: the decode STUB itself under the oracle gate — pack → binary →
    // mapPartitions header parse (ops.Multimodal.decodeHeaderStub, the
    // exact seam a libjpeg/ffmpeg decoder plugs into) → typed metadata.
    // The oracle recomputes the metadata from the source columns, so a
    // broken container layout, header parse, or batching shape breaks the
    // hash — the plumbing is verified even though the codec is fake.
    Q(
      "m2_media_decode",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val frames = (col("n_chars") % 50 + 1).cast("int")
        val media = Multimodal.packMedia(col("text"), col("doc_id") % 3, frames)
        val packed = docs.select(col("doc_id"), media.as("media"))
        Multimodal.decodeHeaderStub(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("format"),
            col("n_frames").cast("long").as("n_frames"),
            col("payload_len").cast("long").as("payload_len"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format,
               (n_chars % 50 + 1)::BIGINT AS n_frames,
               octet_length(encode(text))::BIGINT AS payload_len
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),
    // m3: feature extraction over the payload bytes — the 16-bin
    // high-nibble histogram (ops.Multimodal.byteHistogram16), emitted as
    // one column per bin so the doubles hash exactly (array<double> would
    // need engine-identical string formatting to survive array_join). The
    // docs are ASCII (verified: octet_length == length over all SFs), so
    // the oracle can count code points per nibble range with RE2 classes.
    Q(
      "m3_media_features",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val media = Multimodal.packMedia(col("text"), col("doc_id") % 3,
          (col("n_chars") % 50 + 1).cast("int"))
        val hist = Multimodal.byteHistogram16(col("media"))
        docs
          .select(col("doc_id"), media.as("media"))
          .withColumn("h", hist)
          .select(
            Seq(col("doc_id")) ++
              (0 until 16).map(i => element_at(col("h"), i + 1).as(f"h$i%02d")): _*)
          .orderBy("doc_id")
      },
      Some {
        val bins = (0 until 16).map { i =>
          val lo = f"\\x${i * 16}%02x"
          val hi = f"\\x${i * 16 + 15}%02x"
          val name = f"h$i%02d"
          s"len(regexp_extract_all(text, '[$lo-$hi]'))::DOUBLE / greatest(length(text), 1)::DOUBLE AS $name"
        }
        s"""
        SELECT doc_id, ${bins.mkString(",\n               ")}
        FROM documents
        ORDER BY doc_id
        """.trim
      },
    ),
    // m4: the resize path — stride-4 nearest-neighbor downsample of the
    // payload (ops.Multimodal.resizeStride). The oracle re-derives the
    // kept-byte checksum with the same integer fold, so the verification
    // covers exactly WHICH bytes the resampler kept, not just how many.
    Q(
      "m4_media_resize",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val media = Multimodal.packMedia(col("text"), col("doc_id") % 3,
          (col("n_chars") % 50 + 1).cast("int"))
        val (outLen, checksum) = Multimodal.resizeStride(col("media"), stride = 4)
        docs
          .select(col("doc_id"), media.as("media"))
          .select(
            col("doc_id"),
            (length(col("media")) - Multimodal.HeaderLen).cast("long").as("in_len"),
            outLen.as("out_len"),
            checksum.as("checksum"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               length(text)::BIGINT AS in_len,
               len(list_filter(range(1, length(text) + 1), i -> (i - 1) % 4 = 0))::BIGINT AS out_len,
               CAST(COALESCE(list_sum(list_transform(
                 list_filter(range(1, length(text) + 1), i -> (i - 1) % 4 = 0),
                 i -> ascii(text[i]))), 0) AS BIGINT) AS checksum
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),
    // m5: REAL public-format media metadata — pack actual PNG/JPEG/GIF
    // container bytes from computed dimensions, then round-trip them
    // through the magic-byte header parser (ops.Multimodal
    // .parseImageHeader: PNG IHDR, JPEG SOFn marker walk, GIF screen
    // descriptor) in the same mapPartitions batch seam as m2. The oracle
    // re-derives the dimensions analytically, so a wrong byte layout OR
    // a wrong parse breaks the hash — this closes the "codec stub only"
    // gap for header-level metadata (pixel decode stays out of scope).
    Q(
      "m5_real_media_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 1897 + 16).cast("int")
        val h = (col("doc_id") % 1061 + 9).cast("int")
        val img = Multimodal.packImage(col("doc_id") % 4, w, h)
        val packed = docs.select(col("doc_id"), img.as("media"))
        Multimodal.decodeImageHeaders(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("format"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' ELSE 'webp' END AS format,
               (doc_id % 1897 + 16)::BIGINT AS width,
               (doc_id % 1061 + 9)::BIGINT AS height
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),
    // m6: REAL audio/video container metadata — synthesize spec-shaped
    // WAV (RIFF fmt/data chunks) and MP4 (ftyp + moov/mvhd) header
    // bytes, round-trip them through the chunk/box walker
    // (ops.Multimodal.parseAvHeader) in the m2 batch seam. The WAV body
    // is deliberately absent (declared data size only): header sniffing
    // over a truncated fetch prefix is how a crawler meets AV bytes.
    // The oracle re-derives channels/rate/bits/duration analytically
    // with the same integer arithmetic, so a wrong field offset, wrong
    // endianness, or wrong duration fold breaks the hash.
    Q(
      "m6_av_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val channels = ((col("doc_id") % 4) / 2 + 1).cast("int")
        val bits = ((((col("doc_id") % 8) / 4).cast("int") + 1) * 8).cast("int")
        val rate = (((col("doc_id") % 10) / 2 + 1) * 8000).cast("int")
        val dataLen = (col("n_chars") * 4).cast("long")
        val timescale = (col("doc_id") % 10 * 100 + 600).cast("long")
        val duration = (col("n_chars") * 7).cast("long")
        val media = when(col("doc_id") % 2 === 0,
          Multimodal.packWav(channels, rate, bits, dataLen))
          .otherwise(Multimodal.packMp4(timescale, duration))
        val packed = docs.select(col("doc_id"), media.as("media"))
        Multimodal.decodeAvHeaders(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("format"),
            col("channels"),
            col("sample_rate"),
            col("bits"),
            col("duration_ms"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS format,
               CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 4) // 2 + 1 AS INT)
                    ELSE -1 END AS channels,
               CASE WHEN doc_id % 2 = 0 THEN CAST(((doc_id % 10) // 2 + 1) * 8000 AS INT)
                    ELSE CAST(doc_id % 10 * 100 + 600 AS INT) END AS sample_rate,
               CASE WHEN doc_id % 2 = 0 THEN CAST(((doc_id % 8) // 4 + 1) * 8 AS INT)
                    ELSE -1 END AS bits,
               CASE WHEN doc_id % 2 = 0 THEN
                 CAST(n_chars * 4 * 1000 // (((doc_id % 10) // 2 + 1) * 8000
                   * ((doc_id % 4) // 2 + 1) * (((doc_id % 8) // 4 + 1) * 8) // 8) AS BIGINT)
               ELSE
                 CAST(n_chars * 7 * 1000 // (doc_id % 10 * 100 + 600) AS BIGINT)
               END AS duration_ms
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),
    // m7: REAL pixel decode — uncompressed BI_RGB 24-bit BMP needs no
    // codec library, so the pixel step itself is genuine: pack real BMP
    // bytes (headers + padded bottom-up BGR rows) holding a deterministic
    // test pattern, decode them back through an independent header+row
    // walker (ops.Multimodal.decodeBmp24Stats) in the m2 batch seam, and
    // emit integer-exact channel sums. The oracle recomputes the sums
    // analytically from the pattern formula — a wrong row stride, a
    // missed bottom-up flip, or padding leaking into pixels each breaks
    // the hash (even_sum only folds pixels at even (x, y), so it is
    // geometry-sensitive where the plain sums are not). Width spans 3-16
    // so every row-padding value 0-3 occurs; height spans 2-10 so both
    // parities exercise the row flip.
    Q(
      "m7_bmp_pixels",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packBmp24(col("doc_id"), w, h).as("media"))
        Multimodal.decodeBmpPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k
          FROM documents)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (i % w + i // w + 3*k) % 256)) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (3*(i % w) + 5*(i // w) + 2*k) % 256)) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (7*(i % w) + 11*(i // w) + k) % 256)) AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> (i % w + i // w + 3*k) % 256
                    + (3*(i % w) + 5*(i // w) + 2*k) % 256
                    + (7*(i % w) + 11*(i // w) + k) % 256)) AS BIGINT) AS even_sum
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m8: REAL PNG pixel decode — same round-trip discipline as m7 but
    // through the full PNG stack: chunk walk, zlib inflate
    // (java.util.zip), and all five scanline filters (the encoder
    // rotates filter type per row, so Sub/Up/Average/Paeth each carry
    // real image rows, not just the identity filter). The oracle is the
    // same analytic pattern recomputation as m7 — a wrong filter
    // reversal, stride, or row order each breaks the hash. Closes the
    // pixel stub for the dominant web image container.
    Q(
      "m8_png_pixels",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packPng24(col("doc_id"), w, h).as("media"))
        Multimodal.decodePngPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k
          FROM documents)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (i % w + i // w + 3*k) % 256)) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (3*(i % w) + 5*(i // w) + 2*k) % 256)) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (7*(i % w) + 11*(i // w) + k) % 256)) AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> (i % w + i // w + 3*k) % 256
                    + (3*(i % w) + 5*(i // w) + 2*k) % 256
                    + (7*(i % w) + 11*(i // w) + k) % 256)) AS BIGINT) AS even_sum
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m9: REAL GIF pixel decode — the LZW container. The fixture encoder
    // is a genuine LZW compressor (dictionary codes, variable widths,
    // overflow clears) and odd seeds write INTERLACED images, so the
    // decoder's four-pass row reordering and full code machinery carry
    // real data. Palette and index pattern are analytic, so the oracle
    // recomputes the channel sums without decoding; even_sum keeps the
    // geometry probe (a wrong interlace pass order breaks it).
    Q(
      "m9_gif_pixels",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 11 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packGif(col("doc_id"), w, h).as("media"))
        Multimodal.decodeGifPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 11 + 2 AS h,
                 doc_id % 251 AS k
          FROM documents)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (5*((i % w + 2*(i // w) + k) % 256) + 1) % 256)) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (11*((i % w + 2*(i // w) + k) % 256) + 2) % 256)) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h),
                 i -> (23*((i % w + 2*(i // w) + k) % 256) + 3) % 256)) AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> (5*((i % w + 2*(i // w) + k) % 256) + 1) % 256
                    + (11*((i % w + 2*(i // w) + k) % 256) + 2) % 256
                    + (23*((i % w + 2*(i // w) + k) % 256) + 3) % 256)) AS BIGINT) AS even_sum
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m11: REAL baseline-JPEG pixel decode — the entropy layer (canonical
    // Huffman from DHT, DC-delta/AC-run-length blocks, FF00 unstuffing),
    // dequant, IDCT, 4:2:0 chroma replication and the JFIF color
    // transform all run for real; the fixture's DC-only blocks are the
    // exact-IDCT regime, so the oracle recomputes the pixels analytically
    // (flat 8×8 luma blocks, 16×16 chroma, the identical float color
    // formula) and hash-matches. Even seeds exercise the grayscale
    // single-component path; odd seeds the interleaved 4:2:0 MCU path.
    Q(
      "m11_jpeg_pixels",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val wm = (col("doc_id") % 2 + 1).cast("int")
        val hm = (col("doc_id") % 3 + 1).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packJpeg(col("doc_id"), wm, hm).as("media"))
        Multimodal.decodeJpegPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, 16*(doc_id % 2 + 1) AS w, 16*(doc_id % 3 + 1) AS h,
                 doc_id % 251 AS k
          FROM documents),
        px AS (
          SELECT doc_id, w, h, k, i,
                 (16*((i % w) // 8) + 8*((i // w) // 8) + 3*k) % 200 + 20 AS yv,
                 (5*((i % w) // 16) + 7*((i // w) // 16) + 2*k) % 160 + 48 AS cb,
                 (11*((i % w) // 16) + 3*((i // w) // 16) + k) % 160 + 48 AS cr
          FROM g, UNNEST(range(0, w*h)) AS u(i)),
        rgb AS (
          SELECT doc_id, w, h, i,
                 CASE WHEN k % 2 = 0 THEN yv
                      ELSE least(greatest(CAST(floor(yv + 1.402*(cr-128) + 0.5) AS BIGINT), 0), 255) END AS r,
                 CASE WHEN k % 2 = 0 THEN yv
                      ELSE least(greatest(CAST(floor(yv - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5) AS BIGINT), 0), 255) END AS g2,
                 CASE WHEN k % 2 = 0 THEN yv
                      ELSE least(greatest(CAST(floor(yv + 1.772*(cb-128) + 0.5) AS BIGINT), 0), 255) END AS b
          FROM px)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(CASE WHEN (i % w) % 2 = 0 AND (i // w) % 2 = 0
                             THEN r + g2 + b ELSE 0 END) AS BIGINT) AS even_sum
        FROM rgb
        GROUP BY doc_id, w, h
        ORDER BY doc_id
      """.trim),
    ),

    // m10: REAL WAV PCM sample decode — the audio analog of the pixel
    // round-trips: RIFF chunk walk + int16 LE sample fold into
    // sum/|sum|/peak stats (the silence/clipping/loudness gates an audio
    // curation pass filters on). The waveform is analytic, so the oracle
    // recomputes the exact integer stats.
    Q(
      "m10_wav_samples",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 400 + 50).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packWavPcm16(col("doc_id"), n).as("media"))
        Multimodal.decodeWavSampleStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("channels").cast("long").as("channels"),
            col("n_samples"), col("sum_s"), col("sum_abs"), col("max_abs"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 400 + 50 AS n, doc_id % 251 AS k
          FROM documents)
        SELECT doc_id,
               CAST(1 AS BIGINT) AS channels,
               n::BIGINT AS n_samples,
               CAST(list_sum(list_transform(range(0, n),
                 i -> (37*i + k) % 65536 - 32768)) AS BIGINT) AS sum_s,
               CAST(list_sum(list_transform(range(0, n),
                 i -> abs((37*i + k) % 65536 - 32768))) AS BIGINT) AS sum_abs,
               CAST(list_max(list_transform(range(0, n),
                 i -> abs((37*i + k) % 65536 - 32768))) AS BIGINT) AS max_abs
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m13: REAL autocorrelation over the decoded PCM stream — the
    // periodicity/pitch evidence (ac[L]/ac[0]) an audio curation pass
    // gates on, computed from the same RIFF chunk walk as m10. The
    // waveform is analytic, so the oracle recomputes every lag product
    // exactly: a decode off by one sample, a sign-extension slip, or a
    // lag window off-by-one each breaks the hash.
    Q(
      "m13_audio_autocorr",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 400 + 50).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packWavPcm16(col("doc_id"), n).as("media"))
        Multimodal.decodeWavAutocorrStats(packed, "doc_id", "media",
            Seq(1, 2, 4, 8))
          .select(col("id").as("doc_id"), col("n_samples"), col("energy"),
            col("ac1"), col("ac2"), col("ac4"), col("ac8"))
          .orderBy("doc_id")
      },
      Some {
        def sampleAt(i: String) = s"(37*($i) + k) % 65536 - 32768"
        def ac(l: Int) =
          s"""CAST(list_sum(list_transform(range(0, n - $l),
             |  i -> (${sampleAt("i")}) * (${sampleAt(s"i + $l")}))) AS BIGINT) AS ac$l"""
            .stripMargin
        s"""
        WITH g AS (
          SELECT doc_id, doc_id % 400 + 50 AS n, doc_id % 251 AS k
          FROM documents)
        SELECT doc_id,
               n::BIGINT AS n_samples,
               CAST(list_sum(list_transform(range(0, n),
                 i -> (${sampleAt("i")}) * (${sampleAt("i")}))) AS BIGINT) AS energy,
               ${ac(1)},
               ${ac(2)},
               ${ac(4)},
               ${ac(8)}
        FROM g
        ORDER BY doc_id
        """.trim
      },
    ),

    // m12: REAL MP4 sample-table walk — one level below m6's mvhd:
    // moov/trak/mdia/{mdhd, minf/stbl/{stts, stsz}} (ISO 14496-12), the
    // per-frame timing/size metadata a video pipeline needs to budget
    // frame extraction without touching mdat. The synthesized container
    // has genuine box nesting with child-derived sizes and a REAL
    // per-sample stsz table (sizes = base + i² mod 7), so a wrong box
    // walk, a misread run-length stts, or an off-by-one in the size
    // table each breaks the hash. Durations are integer-exact
    // (Σcount·delta·1000 div timescale) in both engines.
    Q(
      "m12_mp4_samples",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Multimodal.packMp4Track(
            (col("doc_id") % 5 * 600 + 600).cast("int"),
            (col("doc_id") % 50 + 100).cast("int"),
            (col("n_chars") % 30 + 1).cast("int"),
            (col("doc_id") % 100 + 200).cast("int")).as("media"))
        Multimodal.decodeMp4SampleStats(packed, "doc_id", "media")
          .select(col("id").as("doc_id"), col("n_samples"),
            col("duration_ms"), col("total_sample_bytes"), col("max_sample_size"))
          .orderBy("doc_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id,
                 doc_id % 5 * 600 + 600 AS tsc,
                 doc_id % 50 + 100 AS delta,
                 n_chars % 30 + 1 AS n,
                 doc_id % 100 + 200 AS base
          FROM documents)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_samples,
               CAST(n * delta * 1000 // tsc AS BIGINT) AS duration_ms,
               CAST(n * base + list_sum(list_transform(range(0, n),
                 i -> (i * i) % 7)) AS BIGINT) AS total_sample_bytes,
               CAST(base + list_max(list_transform(range(0, n),
                 i -> (i * i) % 7)) AS BIGINT) AS max_sample_size
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // m14: perceptual image near-dup — the multimodal analog of the d4
    // SimHash text pipeline, over the REAL BMP pixel decode. Documents
    // sharing a scene id carry byte-DIFFERENT images (every off-lattice
    // pixel is jittered per doc — the re-encode/CDN-noise regime) that
    // are perceptually identical; dHash (9×8 grayscale grid, 64
    // right-neighbor comparisons) collapses each scene to one 64-bit
    // key, and a plain hash GROUP BY yields the near-dup clusters — no
    // all-pairs compare, no vectors in the shuffle, O(1) bytes per
    // image into the exchange. The oracle recomputes the hash
    // analytically from the lattice formula, so a wrong sample
    // coordinate, grayscale fold, bit order, or row flip each breaks
    // the hash; the jitter invariance IS the assertion that only
    // lattice pixels reach the hash.
    Q(
      "m14_image_neardup",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val scene = col("doc_id") % 53
        val w = (scene % 14 + 3).cast("int")
        val h = (scene % 9 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packBmp24Jittered(scene, col("doc_id"), w, h).as("media"))
        Multimodal.decodeBmpDHashes(packed, "doc_id", "media")
          .groupBy("h_hi", "h_lo")
          .agg(
            count(lit(1)).as("cluster_size"),
            min(col("id")).as("canonical_doc"),
            sum(col("id")).as("docid_sum"))
          .orderBy("h_hi", "h_lo")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 53 AS scene,
                 (doc_id % 53) % 14 + 3 AS w, (doc_id % 53) % 9 + 2 AS h
          FROM documents),
        co AS (
          SELECT doc_id, scene,
                 list_transform(range(0, 72), i ->
                   {'sx': (i%9)*(w-1)//8, 'sy': (i//9)*(h-1)//7}) AS cs
          FROM g),
        gr AS (
          SELECT doc_id,
                 list_transform(cs, c ->
                   ( (c.sx*c.sx*7 + c.sy*c.sy*11 + scene*(c.sx+1)*(c.sy+2)) % 256
                   + 2*((c.sx*c.sx*3 + c.sy*c.sy*5 + scene*(c.sx+2)*(c.sy+1)) % 256)
                   + (c.sx*c.sx*13 + c.sy*c.sy*2 + scene*(c.sx+3)*(c.sy+3)) % 256
                   ) // 4) AS gray
          FROM co),
        bits AS (
          SELECT doc_id,
                 list_transform(range(0, 64), i ->
                   CASE WHEN gray[(i//8)*9 + (i%8) + 2] > gray[(i//8)*9 + (i%8) + 1]
                        THEN 1 ELSE 0 END) AS b
          FROM gr),
        hh AS (
          SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 32),
                   i -> b[i+1] * (1::BIGINT << i))) AS BIGINT) AS h_hi,
                 CAST(list_sum(list_transform(range(32, 64),
                   i -> b[i+1] * (1::BIGINT << (i-32)))) AS BIGINT) AS h_lo
          FROM bits)
        SELECT h_hi, h_lo,
               COUNT(*) AS cluster_size,
               MIN(doc_id) AS canonical_doc,
               CAST(SUM(doc_id) AS BIGINT) AS docid_sum
        FROM hh
        GROUP BY h_hi, h_lo
        ORDER BY h_hi, h_lo
      """.trim),
    ),

    // m15: keyframe selection from the REAL sample tables — the frame
    // extraction plan a video pipeline budgets BEFORE touching mdat:
    // I-frames dominate sample size, so "top-3 largest samples per
    // video" is the keyframe proxy, and it must run as the bounded
    // heap (≤3 rows per video leave each mapper), never a per-video
    // window sort — sample tables of long videos are 10⁵–10⁶ entries,
    // the zipf-partition lesson again. The stsz walk (m12's layer)
    // here yields the INDIVIDUAL entries through the same untrusted-
    // size discipline; the oracle re-ranks the analytic size table
    // with a window — heap path vs sort path, mechanism-diverse.
    Q(
      "m15_keyframe_select",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Multimodal.packMp4Track(
            (col("doc_id") % 5 * 600 + 600).cast("int"),
            (col("doc_id") % 50 + 100).cast("int"),
            (col("n_chars") % 30 + 1).cast("int"),
            (col("doc_id") % 100 + 200).cast("int")).as("media"))
        Multimodal.decodeMp4SampleSizes(packed, "doc_id", "media")
          .select(col("id").as("doc_id"),
            posexplode(col("sizes")).as(Seq("idx", "size")))
          .groupBy("doc_id")
          .agg(graft.ops.TopK.topScored(3)(
            col("size").cast("double"), col("idx").cast("long")).as("top"))
          .select(col("doc_id"), posexplode(col("top")))
          .select(col("doc_id"),
            (col("pos") + 1).cast("long").as("rank"),
            col("col.key").as("sample_idx"),
            col("col.score").cast("long").as("sample_size"))
          .orderBy("doc_id", "rank")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, n_chars % 30 + 1 AS n, doc_id % 100 + 200 AS base
          FROM documents),
        sz AS (
          SELECT doc_id, i AS idx, base + (i * i) % 7 AS size
          FROM p, UNNEST(range(0, n)) AS u(i)),
        r AS (
          SELECT doc_id, idx, size,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY size DESC, idx) AS rank
          FROM sz)
        SELECT doc_id, CAST(rank AS BIGINT) AS rank,
               CAST(idx AS BIGINT) AS sample_idx,
               CAST(size AS BIGINT) AS sample_size
        FROM r WHERE rank <= 3
        ORDER BY doc_id, rank
      """.trim),
    ),
    // m16: shot-boundary segmentation from the real MP4 sample tables —
    // the preprocessing every video training pipeline runs before clip
    // sampling: a hard cut shows up as a large inter-frame coded-size
    // delta (I-frame after a scene change), so shots = maximal runs
    // between |Δsize| ≥ threshold cuts (threshold 3 — the fixture size
    // pattern cycles with |Δ| ≤ 3, so 3 yields multi-shot tracks). Container-level truth (stsz via
    // the m12 box walk, mdat untouched); a pixel-delta refiner drops
    // into the same per-shot frame spans. Scale shape: the per-video
    // window is bounded by the video's own frame count (the m12/m15
    // rationale), and the shot rollup partial-aggregates; videos are
    // independent — embarrassingly parallel across the corpus.
    Q(
      "m16_shot_boundaries",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Multimodal.packMp4Track(
            (col("doc_id") % 5 * 600 + 600).cast("int"),
            (col("doc_id") % 50 + 100).cast("int"),
            (col("n_chars") % 30 + 1).cast("int"),
            (col("doc_id") % 100 + 200).cast("int")).as("media"))
        val frames = Multimodal.decodeMp4SampleSizes(packed, "doc_id", "media")
          .select(col("id").as("doc_id"),
            posexplode(col("sizes")).as(Seq("idx", "size")))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
        frames
          .withColumn("delta", col("size") - lag(col("size"), 1).over(w))
          .withColumn("is_cut", when(col("delta").isNull, 1L)
            .otherwise((abs(col("delta")) >= 3).cast("long")))
          .withColumn("shot_idx", sum(col("is_cut"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "shot_idx")
          .agg(min(col("idx")).cast("long").as("start_idx"),
            max(col("idx")).cast("long").as("end_idx"),
            count(lit(1)).as("n_frames"))
          .orderBy("doc_id", "shot_idx")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, n_chars % 30 + 1 AS n, doc_id % 100 + 200 AS base
          FROM documents),
        sz AS (
          SELECT doc_id, i AS idx, base + (i * i) % 7 AS size
          FROM p, UNNEST(range(0, n)) AS u(i)),
        d AS (
          SELECT doc_id, idx, size, size - lag(size) OVER w AS delta
          FROM sz WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
        c AS (
          SELECT doc_id, idx,
                 CASE WHEN delta IS NULL THEN 1
                      WHEN abs(delta) >= 3 THEN 1 ELSE 0 END AS is_cut
          FROM d),
        sh AS (
          SELECT doc_id, idx,
                 SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY idx
                   ROWS UNBOUNDED PRECEDING) AS shot_idx
          FROM c)
        SELECT doc_id, CAST(shot_idx AS BIGINT) AS shot_idx,
               CAST(MIN(idx) AS BIGINT) AS start_idx,
               CAST(MAX(idx) AS BIGINT) AS end_idx,
               COUNT(*) AS n_frames
        FROM sh GROUP BY doc_id, shot_idx
        ORDER BY doc_id, shot_idx
      """.trim),
    ),
    // m17: silence-run segmentation — the VAD/silence-trim preprocessing
    // an ASR corpus needs, from REAL decoded PCM: the gated fixture mutes
    // sample i when (i div 70) % 4 == 0 (a 70-sample gap every 280,
    // deliberately misaligned with the 50-sample analysis window so run
    // boundaries fall mid-window), the windowed-loudness decoder walks
    // the RIFF chunks and folds per-window Σ|s|, and maximal runs of
    // quiet windows (Σ|s| < 50·512) collapse via the m16 lag+cumsum
    // pattern. The margin is decisive by construction: a fully voiced
    // window sums ≈10⁶, a boundary window keeps ≥10 voiced samples
    // (≥1.6·10⁵), so "quiet" ≡ fully-inside-a-gap — an off-by-one in
    // the chunk walk, the window fold, or the gate phase moves a
    // boundary and breaks the hash. Per-audio windows only (bounded by
    // the clip's own frame count, m16's discipline); clips are
    // independent — embarrassingly parallel in the corpus dimension.
    Q(
      "m17_silence_runs",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 400 + 50).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packWavPcm16Gated(col("doc_id"), n).as("media"))
        val wins = Multimodal.decodeWavWindowStats(packed, "doc_id", "media", 50)
          .select(col("id").as("doc_id"),
            posexplode(col("win_abs")).as(Seq("wi", "sabs")))
        val quiet = wins.filter(col("sabs") < 25600).select("doc_id", "wi")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("wi"))
        quiet
          .withColumn("is_start",
            when(col("wi") - lag(col("wi"), 1).over(w) === 1, 0L).otherwise(1L))
          .withColumn("run_idx", sum(col("is_start"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "run_idx")
          .agg(min(col("wi")).cast("long").as("start_win"),
            max(col("wi")).cast("long").as("end_win"),
            count(lit(1)).as("n_windows"))
          .orderBy("doc_id", "run_idx")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 400 + 50 AS n, doc_id % 251 AS k
          FROM documents),
        w AS (
          SELECT doc_id, wi,
                 list_sum(list_transform(range(50*wi, least(50*wi + 50, n)),
                   i -> CASE WHEN (i // 70) % 4 = 0 THEN 0
                             ELSE abs((37*i + k) % 65536 - 32768) END)) AS sabs
          FROM g, UNNEST(range(0, (n + 49) // 50)) AS u(wi)),
        q AS (SELECT doc_id, wi FROM w WHERE sabs < 25600),
        r AS (
          SELECT doc_id, wi,
                 CASE WHEN wi - lag(wi) OVER (PARTITION BY doc_id ORDER BY wi) = 1
                      THEN 0 ELSE 1 END AS is_start
          FROM q),
        sr AS (
          SELECT doc_id, wi,
                 SUM(is_start) OVER (PARTITION BY doc_id ORDER BY wi
                   ROWS UNBOUNDED PRECEDING) AS run_idx
          FROM r)
        SELECT doc_id, CAST(run_idx AS BIGINT) AS run_idx,
               CAST(MIN(wi) AS BIGINT) AS start_win,
               CAST(MAX(wi) AS BIGINT) AS end_win,
               COUNT(*) AS n_windows
        FROM sr GROUP BY doc_id, run_idx
        ORDER BY doc_id, run_idx
      """.trim),
    ),

    // m18: palette + grayscale PNG pixel decode — the two PNG classes
    // that dominate the real web (color type 3 with a PLTE, color type
    // 0 gray) at bit depths 1/2/4/8: MSB-first sub-byte sample packing,
    // byte-domain filters (bpp=1), palette lookup, exact integer gray
    // scaling (255/(2^d−1) is integral for d | 8), and a tRNS chunk on
    // every third palette seed to exercise the ancillary skip. All
    // deterministic (no IDCT rounding), so the oracle recomputes the
    // geometry-sensitive channel sums analytically — same regime as m8.
    Q(
      "m18_png_palette_gray",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val depth = when(col("doc_id") % 4 === 0, 1)
          .when(col("doc_id") % 4 === 1, 2)
          .when(col("doc_id") % 4 === 2, 4)
          .otherwise(8)
        val pal = col("doc_id") % 2 === 1
        val packed = docs.select(col("doc_id"),
          Multimodal.packPngSub(col("doc_id"), w, h, depth, pal).as("media"))
        Multimodal.decodePngPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k, doc_id % 2 AS pal,
                 1 << (CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                       WHEN 2 THEN 4 ELSE 8 END) AS nv
          FROM documents)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN pal = 1
                      THEN (5*((i % w + 2*(i // w) + k) % nv) + 1) % 256
                      ELSE ((i % w + 2*(i // w) + k) % nv) * (255 // (nv - 1))
                 END)) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN pal = 1
                      THEN (11*((i % w + 2*(i // w) + k) % nv) + 2) % 256
                      ELSE ((i % w + 2*(i // w) + k) % nv) * (255 // (nv - 1))
                 END)) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN pal = 1
                      THEN (23*((i % w + 2*(i // w) + k) % nv) + 3) % 256
                      ELSE ((i % w + 2*(i // w) + k) % nv) * (255 // (nv - 1))
                 END)) AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> CASE WHEN pal = 1
                      THEN (5*((i % w + 2*(i // w) + k) % nv) + 1) % 256
                         + (11*((i % w + 2*(i // w) + k) % nv) + 2) % 256
                         + (23*((i % w + 2*(i // w) + k) % nv) + 3) % 256
                      ELSE 3 * (((i % w + 2*(i // w) + k) % nv) * (255 // (nv - 1)))
                 END)) AS BIGINT) AS even_sum
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m19: 16-bit PNG pixel decode (gray type 0 / RGB type 2, big-endian
    // samples, odd seeds Adam7-interlaced). The 16→8 fold keeps the HIGH
    // byte; the fixture's LOW bytes carry an independent analytic value
    // the fold must discard, so a wrong-endian read or low-byte fold is
    // a sum mismatch, not a silent pass. High bytes reuse m8's RGB
    // pattern and m18's depth-8 gray pattern — the oracle is exact.
    Q(
      "m19_png_deep16",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val rgb = col("doc_id") % 2 === 1
        val packed = docs.select(col("doc_id"),
          Multimodal.packPng16(col("doc_id"), w, h, rgb).as("media"))
        Multimodal.decodePngPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k, doc_id % 2 AS rgb
          FROM documents)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN rgb = 1 THEN (i % w + i // w + 3*k) % 256
                      ELSE (i % w + 2*(i // w) + k) % 256 END))
                 AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN rgb = 1 THEN (3*(i % w) + 5*(i // w) + 2*k) % 256
                      ELSE (i % w + 2*(i // w) + k) % 256 END))
                 AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 CASE WHEN rgb = 1 THEN (7*(i % w) + 11*(i // w) + k) % 256
                      ELSE (i % w + 2*(i // w) + k) % 256 END))
                 AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> CASE WHEN rgb = 1
                      THEN (i % w + i // w + 3*k) % 256
                         + (3*(i % w) + 5*(i // w) + 2*k) % 256
                         + (7*(i % w) + 11*(i // w) + k) % 256
                      ELSE 3 * ((i % w + 2*(i // w) + k) % 256) END))
                 AS BIGINT) AS even_sum
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m20: ANIMATED GIF decode — the real-web GIF is multi-frame: LZW
    // images over shrinking sub-rects composed under the 89a Graphic
    // Control Extension (transparent index 255 punches holes that show
    // the prior composite through; NETSCAPE loop block exercises the
    // application-extension skip; odd seeds interlace every frame).
    // Output is the FULL composed canvas's channel sums PER FRAME — the
    // substrate a GIF keyframe selector consumes. The oracle replays
    // the composition analytically: frame f's pixel is frame f's value
    // where covered and opaque, else the previous frame's (a nested
    // CASE per frame — exact, no decoding).
    Q(
      "m20_gif_animation",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packGifAnim(col("doc_id"), w, h).as("media"))
        Multimodal.decodeGifAnimPixelStats(packed, "doc_id", "media")
          .select(col("id").as("doc_id"), col("frame"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id", "frame")
      },
      Some {
        def idx(f: Int) = s"((i % w) + 2*(i // w) + k + 7*$f) % 255"
        def cov(f: Int) =
          s"((i % w) >= least($f, w - 1) AND (i // w) >= least($f, h - 1))"
        def tr(f: Int) = s"(((i % w) + (i // w) + $f) % 3 = 0)"
        def v(f: Int): String =
          if (f == 0) idx(0)
          else s"(CASE WHEN ${cov(f)} AND NOT ${tr(f)} THEN ${idx(f)} ELSE ${v(f - 1)} END)"
        def frameSel(f: Int) = s"""
          SELECT doc_id, CAST($f AS INTEGER) AS frame,
            CAST(list_sum(list_transform(range(0, w*h), i ->
              (5*(${v(f)}) + 1) % 256)) AS BIGINT) AS sum_r,
            CAST(list_sum(list_transform(range(0, w*h), i ->
              (11*(${v(f)}) + 2) % 256)) AS BIGINT) AS sum_g,
            CAST(list_sum(list_transform(range(0, w*h), i ->
              (23*(${v(f)}) + 3) % 256)) AS BIGINT) AS sum_b,
            CAST(list_sum(list_transform(
              list_filter(range(0, w*h),
                i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
              i -> (5*(${v(f)}) + 1) % 256 + (11*(${v(f)}) + 2) % 256
                 + (23*(${v(f)}) + 3) % 256)) AS BIGINT) AS even_sum
          FROM g"""
        s"""
        WITH g AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k
          FROM documents)
        ${(0 until 3).map(frameSel).mkString("\n          UNION ALL\n")}
        ORDER BY doc_id, frame
        """.trim
      },
    ),

    // m21: WebP-lossless (VP8L) pixel decode — the dominant modern web
    // image format, and the deterministic half of WebP (prefix codes +
    // LZ77 + color cache + reversible transforms; RFC 9649), so decode
    // is bit-exact and hash-oracle-able, unlike lossy VP8. The seed
    // cycles five encoding regimes (literals; LZ77 row copies + color
    // cache with both 2D-plane and direct distance codes; palette with
    // pixel bundling at sizes 2/4/16; the predictor transform over all
    // 14 modes per-tile; subtract-green composed with the color
    // transform), so one corpus pass exercises every decoder path. The
    // oracle recomputes the per-regime analytic pixel formulas — a
    // decoder that mis-reads any stage sums wrong.
    Q(
      "m21_webp_lossless",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 14 + 3).cast("int")
        val h = (col("doc_id") % 9 + 2).cast("int")
        val packed = docs.select(col("doc_id"),
          Vp8l.packWebpL(col("doc_id"), w, h).as("media"))
        Vp8l.decodeWebpPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some {
        // pixel formulas per seed regime (v = k%5): 1 → x-periodic row
        // pattern; 2 → palette colors over index (x+2y+k)%nv; else the
        // m8 test pattern
        def ch(a: Int, b: Int, c: Int, palM: Int, palA: Int) =
          s"""CASE WHEN v = 1 THEN ($a*((i % w) % 3) + $c*k) % 256
              WHEN v = 2 THEN ($palM*(((i % w) + 2*(i // w) + k) % nv) + $palA) % 256
              ELSE ($a*(i % w) + $b*(i // w) + $c*k) % 256 END"""
        val r = ch(1, 1, 3, 5, 1)
        val g = ch(3, 5, 2, 11, 2)
        val b = ch(7, 11, 1, 23, 3)
        s"""
        WITH base AS (
          SELECT doc_id, doc_id % 14 + 3 AS w, doc_id % 9 + 2 AS h,
                 doc_id % 251 AS k
          FROM documents),
        p AS (
          SELECT doc_id, w, h, k, k % 5 AS v,
                 CASE ((k // 5) % 3) WHEN 0 THEN 2 WHEN 1 THEN 4
                      ELSE 16 END AS nv
          FROM base)
        SELECT doc_id,
               w::BIGINT AS width, h::BIGINT AS height,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 $r)) AS BIGINT) AS sum_r,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 $g)) AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(range(0, w*h), i ->
                 $b)) AS BIGINT) AS sum_b,
               CAST(list_sum(list_transform(
                 list_filter(range(0, w*h),
                   i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                 i -> ($r) + ($g) + ($b))) AS BIGINT) AS even_sum
        FROM p
        ORDER BY doc_id
        """.trim
      },
    ),

    // m22: GENERAL baseline JPEG — nonzero AC coefficients, the regime
    // m11 had to exclude while the IDCT was implementation-defined
    // (T.81 mandates no bit-exact inverse transform). The engine pins
    // ONE integer IDCT (Multimodal.IdctK: 2048-scaled cosine basis,
    // direct 2-D sum, (S + 2^23) >> 24 rounding) and this oracle
    // replays the identical integer arithmetic term-for-term — the
    // m13/ss14 replayed-scoring pattern — so the full Huffman AC
    // run-length scan, dequant, de-zigzag and reconstruction are
    // hash-gated, not just DC. Spec-side, the JDK ImageIO decoder
    // referees the pinned transform to within its rounding latitude.
    Q(
      "m22_jpeg_ac",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val nbx = (col("doc_id") % 5 + 1).cast("int")
        val nby = (col("doc_id") % 4 + 1).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packJpegAc(col("doc_id"), nbx, nby).as("media"))
        Multimodal.decodeJpegPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some {
        // the pinned IDCT basis rows the two AC positions touch
        val k1 = "[2009, 1703, 1138, 400, -400, -1138, -1703, -2009]"
        val k2 = "[1892, 784, -784, -1892, -1892, -784, 784, 1892]"
        // i decomposes as (block, pixel); DC starts the BIGINT chain so
        // every product stays 64-bit in DuckDB
        val sExpr = s"""(
          (8*((3*((i // 64) % nbx) + 5*((i // 64) // nbx) + k) % 120 - 60))
            * 1448 * 1448
          + (16*((((i // 64) % nbx) + 2*((i // 64) // nbx) + k) % 15 - 7))
            * 1448 * ($k1)[(i % 8) + 1]
          + (16*((2*((i // 64) % nbx) + ((i // 64) // nbx) + 3*k) % 15 - 7))
            * ($k1)[(i % 8) + 1] * ($k2)[((i % 64) // 8) + 1])"""
        // DuckDB's // truncates toward zero while the engine's >> 24
        // floors: bias the numerator positive (+256·2^24, −256 after)
        // so truncation IS floor — the sign-safe div discipline
        val pxExpr =
          s"LEAST(255, GREATEST(0, ($sExpr + 8388608 + 4294967296) // 16777216 - 128))"
        s"""
        WITH g AS (
          SELECT doc_id, doc_id % 5 + 1 AS nbx, doc_id % 4 + 1 AS nby,
                 doc_id % 251 AS k
          FROM documents),
        p AS (
          SELECT doc_id, nbx, nby, k,
            CAST(list_sum(list_transform(range(0, nbx*nby*64), i ->
              $pxExpr)) AS BIGINT) AS s_all,
            CAST(list_sum(list_transform(
              list_filter(range(0, nbx*nby*64),
                i -> (i % 8) % 2 = 0 AND ((i % 64) // 8) % 2 = 0),
              i -> $pxExpr)) AS BIGINT) AS s_even
          FROM g)
        SELECT doc_id,
               (nbx*8)::BIGINT AS width, (nby*8)::BIGINT AS height,
               s_all AS sum_r, s_all AS sum_g, s_all AS sum_b,
               3*s_even AS even_sum
        FROM p
        ORDER BY doc_id
        """.trim
      },
    ),

    // m23: CROSS-FORMAT image near-dup — the capstone the pixel-exact
    // decoders exist for: the same scene stored as a 24-bit BMP (even
    // docs) and as a real VP8L WebP (odd docs), each file carrying a
    // per-document off-lattice jitter so no two files share bytes. The
    // format-dispatching dHash (one grayscale/lattice/comparison
    // definition across decoders) must land every scene's docs — BOTH
    // formats — in exactly one hash bucket. Ground-truth oracle (the
    // d13 pattern): the scene rollup, valid because the quadratic
    // scenePixel separates all 53 scenes with ≥15 hamming margin at
    // these dims (simulated; w ≥ 9, h ≥ 8 keeps the lattice injective).
    Q(
      "m23_cross_format_neardup",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val scene = col("doc_id") % 53
        val w = (scene % 8 + 9).cast("int")
        val h = (scene % 5 + 8).cast("int")
        val media = when(col("doc_id") % 2 === 0,
            Multimodal.packBmp24Jittered(scene, col("doc_id"), w, h))
          .otherwise(Vp8l.packWebpScene(scene, col("doc_id"), w, h))
        val packed = docs.select(col("doc_id"), media.as("media"))
        Multimodal.decodeImageDHashes(packed, "doc_id", "media")
          .groupBy("h_hi", "h_lo")
          .agg(
            min(col("id")).as("canonical_doc"),
            count(lit(1)).as("n_docs"),
            sum(when(col("format") === "bmp", 1L).otherwise(0L)).as("n_bmp"),
            sum(when(col("format") === "webp", 1L).otherwise(0L)).as("n_webp"),
            sum(col("id")).as("docid_sum"))
          .select("canonical_doc", "n_docs", "n_bmp", "n_webp", "docid_sum")
          .orderBy("canonical_doc")
      },
      Some("""
        SELECT MIN(doc_id) AS canonical_doc,
               COUNT(*)::BIGINT AS n_docs,
               SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_bmp,
               SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_webp,
               SUM(doc_id)::BIGINT AS docid_sum
        FROM documents
        GROUP BY doc_id % 53
        ORDER BY canonical_doc
      """.trim),
    ),
    // M-FLAC: REAL lossless-audio decode (RFC 9639) — the audio leg of
    // the deterministic-codec tier (VP8L's analog). Six encoder regimes
    // (doc-seed mod 6) cover constant/verbatim/fixed/LPC subframes,
    // rice + rice2 + escaped partitions, left/right/mid-side stereo,
    // wasted bits, and the uncommon header fields; the oracle replays
    // the analytic PCM formula per regime. wsum = Σ (i+1)·s₀[i] is the
    // order-sensitive checksum. Corpus-linear, shuffle-free decode.
    Q(
      "m24_flac_pcm",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 160 + 17).cast("int")
        val packed = docs.select(col("doc_id"),
          Flac.packFlac(col("doc_id"), n).as("media"))
        Flac.decodeFlacPcmStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("channels").cast("long").as("channels"),
            col("n_samples"), col("sum_ch0"), col("sum_ch1"),
            col("sum_abs"), col("wsum_ch0"))
          .orderBy("doc_id")
      },
      Some {
        // per-regime sample formulas (v = k%6): v1 → per-stream
        // constant, v4 → 14-bit base ×4 (wasted bits), else the
        // full-range sawtooth; ch 1 only exists for stereo regimes
        def smp(ch: Int) =
          s"""CASE WHEN v = 1 THEN ((k*97) % 65536) - 32768
              WHEN v = 4 THEN (((37*i + 4111*$ch + k) % 16384) - 8192) * 4
              ELSE ((37*i + 4111*$ch + k) % 65536) - 32768 END"""
        s"""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k, doc_id % 160 + 17 AS n,
                 (doc_id % 251) % 6 AS v
          FROM documents),
        p AS (
          SELECT doc_id, k, n, v,
                 CASE WHEN v = 1 OR v = 3 THEN 1 ELSE 2 END AS nch
          FROM base)
        SELECT doc_id,
               nch::BIGINT AS channels,
               n::BIGINT AS n_samples,
               CAST(list_sum(list_transform(range(0, n), i ->
                 ${smp(0)})) AS BIGINT) AS sum_ch0,
               CASE WHEN nch = 2 THEN CAST(list_sum(list_transform(range(0, n), i ->
                 ${smp(1)})) AS BIGINT) ELSE 0 END AS sum_ch1,
               CAST(list_sum(list_transform(range(0, n), i ->
                 abs(${smp(0)}))) AS BIGINT)
               + CASE WHEN nch = 2 THEN CAST(list_sum(list_transform(range(0, n), i ->
                 abs(${smp(1)}))) AS BIGINT) ELSE 0 END AS sum_abs,
               CAST(list_sum(list_transform(range(0, n), i ->
                 (i + 1) * (${smp(0)}))) AS BIGINT) AS wsum_ch0
        FROM p
        ORDER BY doc_id
        """.trim
      },
    ),
    // M-cross-format audio: one audio scene rendered as byte-unrelated
    // WAV and FLAC files lands in ONE fingerprint bucket through a
    // single format-dispatching lattice fingerprint — the decoder-
    // interop capstone m23 pins for images, applied to audio. Ground-
    // truth oracle (the d13/m23 pattern): the scene rollup, valid
    // because the hash-mixed scene waveform separates all 47 scenes
    // (distinct fps, min pairwise hamming 12 — simulated before
    // pinning) while per-doc jitter only touches off-lattice samples.
    Q(
      "m25_cross_format_audio_neardup",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val scene = col("doc_id") % 47
        val n = (scene % 40 + 80).cast("int")
        val media = when(col("doc_id") % 2 === 0,
            Multimodal.packWavScene(scene, col("doc_id"), n))
          .otherwise(Flac.packFlacScene(scene, col("doc_id"), n))
        val packed = docs.select(col("doc_id"), media.as("media"))
        Multimodal.decodeAudioFps(packed, "doc_id", "media")
          .groupBy("fp")
          .agg(
            min(col("id")).as("canonical_doc"),
            count(lit(1)).as("n_docs"),
            sum(when(col("format") === "wav", 1L).otherwise(0L)).as("n_wav"),
            sum(when(col("format") === "flac", 1L).otherwise(0L)).as("n_flac"),
            sum(col("id")).as("docid_sum"))
          .select("canonical_doc", "n_docs", "n_wav", "n_flac", "docid_sum")
          .orderBy("canonical_doc")
      },
      Some("""
        SELECT MIN(doc_id) AS canonical_doc,
               COUNT(*)::BIGINT AS n_docs,
               SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_wav,
               SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_flac,
               SUM(doc_id)::BIGINT AS docid_sum
        FROM documents
        GROUP BY doc_id % 47
        ORDER BY canonical_doc
      """.trim),
    ),
    // M-audio-quality: the curation gates a pipeline runs right after
    // audio decode — clipping count, zero crossings, peak, Σ|s| — with
    // ONE metric definition dispatched across containers (WAV for even
    // docs, FLAC for odd), both carrying the same analytic waveform so
    // a single oracle formula gates both decoders' PCM byte-for-byte.
    Q(
      "m26_audio_quality",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 120 + 50).cast("int")
        val media = when(col("doc_id") % 2 === 0,
            Multimodal.packWavPcm16(col("doc_id"), n))
          .otherwise(Flac.packFlacPcm16(col("doc_id"), n))
        val packed = docs.select(col("doc_id"), media.as("media"))
        Multimodal.decodeAudioQuality(packed, "doc_id", "media")
          .select(col("id").as("doc_id"), col("format"), col("n_samples"),
            col("peak"), col("n_clip"), col("zero_cross"), col("sum_abs"))
          .orderBy("doc_id")
      },
      Some {
        // the m10 testSample waveform: ((37i + k) % 65536) − 32768
        val f = "((37*i + k) % 65536) - 32768"
        val fp = "((37*(i-1) + k) % 65536) - 32768"
        s"""
        WITH p AS (
          SELECT doc_id, doc_id % 251 AS k, doc_id % 120 + 50 AS n
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
               n::BIGINT AS n_samples,
               CAST(list_max(list_transform(range(0, n), i ->
                 abs($f))) AS BIGINT) AS peak,
               CAST(list_sum(list_transform(range(0, n), i ->
                 CASE WHEN abs($f) >= 32000 THEN 1 ELSE 0 END))
                 AS BIGINT) AS n_clip,
               CAST(list_sum(list_transform(range(1, n), i ->
                 CASE WHEN ($f) * ($fp) < 0 THEN 1 ELSE 0 END))
                 AS BIGINT) AS zero_cross,
               CAST(list_sum(list_transform(range(0, n), i ->
                 abs($f))) AS BIGINT) AS sum_abs
        FROM p
        ORDER BY doc_id
        """.trim
      },
    ),
    // M-FLAC-tags: VORBIS_COMMENT metadata extraction (RFC 9639 §8.6)
    // — the title/language/custom-field read an audio curation pass
    // keys on. Little-endian lengths inside the big-endian container
    // (the Ogg Vorbis heritage), untrusted-length guards, and a
    // metadata-only walk: tags come out of a few hundred header bytes
    // per file, frames are never decoded. Oracle recomputes every tag
    // from the document row the encoder embedded.
    Q(
      "m27_flac_tags",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val n = (col("doc_id") % 60 + 30).cast("int")
        val packed = docs.select(col("doc_id"),
          Flac.packFlacTagged(col("doc_id"), n, col("lang"),
            col("n_chars").cast("long")).as("media"))
        Flac.decodeFlacTagStats(packed, "doc_id", "media")
          .select(col("id").as("doc_id"), col("vendor"), col("title"),
            col("language"), col("nchars_tag"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               'graft flac fixture' AS vendor,
               'doc ' || CAST(doc_id AS VARCHAR) AS title,
               lang AS language,
               CAST(n_chars AS BIGINT) AS nchars_tag
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),

    // m28: LOSSY WebP (VP8 intra, RFC 6386) — the dominant modern web
    // re-encode format (`ParserMapper.java:941-1101` records image/webp
    // mime but treats it as opaque). Unlike JPEG, VP8 decode IS bit-exact
    // by spec (integer bool coder, integer 4x4 iDCT/iWHT with pinned
    // rounding, integer predictors), so full-pixel channel sums are
    // hash-oracle-able. The seed cycles four regimes that together cover
    // every key-frame decode path: (0) Y2/WHT DC propagation + per-block
    // AC residuals + chroma residuals, with non-16-multiple crops; (1)
    // all four 16x16 intra predictors × all four chroma predictors; (2)
    // B_PRED with all ten 4x4 sub-modes + residual on the visible block;
    // (3) a 2×2 macroblock grid with zero residual, pinning cross-MB
    // boundary propagation (above/left reconstruction feeding the next
    // MB's prediction). The oracle recomputes the per-regime analytic
    // pixel formulas — derived independently in tools/vp8_m28_sim.py,
    // refereed against system libwebp for all 251 seeds (the sim decodes
    // every fixture through libwebp and asserts the analytic stats;
    // Vp8Spec pins encoder byte-parity + decode goldens in-suite) — so a
    // decoder that mis-reads any stage (bool coder, token tree, dequant,
    // WHT, iDCT, predictor, clamp) sums wrong.
    Q(
      "m28_webp_lossy",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Vp8.packWebpVp8(col("doc_id")).as("media"))
        Vp8.decodeWebpVp8Stats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_y"), col("sum_u"), col("sum_v"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some {
        // RFC 6386 §14.1 quantizer lookups (first 48 entries suffice:
        // regime 0 uses qi=k%48, regime 2 qi=k%32, regimes 1/3 are
        // residual-free).
        val dcq = Vp8.DcQ.take(48).mkString("[", ",", "]")
        val acq = Vp8.AcQ.take(48).mkString("[", ",", "]")
        def clampE(e: String) = s"least(255, greatest(0, $e))"
        // (idct of {raster0: dc, raster1: a, raster4: c})[yy*4+xx], +128,
        // clamped — the exact §14.3 two-pass integer transform reduced to
        // closed form for coefficients confined to rasters {0,1,4}.
        def idctTerm(dc: String, a: String, c: String, xx: String, yy: String) = {
          val t0 = s"($dc) + (CASE $yy WHEN 0 THEN ($c) + ((($c)*20091)>>16) " +
            s"WHEN 1 THEN (($c)*35468)>>16 " +
            s"WHEN 2 THEN -((($c)*35468)>>16) " +
            s"ELSE -(($c) + ((($c)*20091)>>16)) END)"
          val ax = s"(CASE $xx WHEN 0 THEN ($a) + ((($a)*20091)>>16) " +
            s"WHEN 1 THEN (($a)*35468)>>16 " +
            s"WHEN 2 THEN -((($a)*35468)>>16) " +
            s"ELSE -(($a) + ((($a)*20091)>>16)) END)"
          clampE(s"128 + ((($t0) + ($ax) + 4) >> 3)")
        }
        // regime 0 luma: WHT-propagated DC (block cols 0-1 get d0q+w1q,
        // 2-3 get d0q-w1q, both (·+3)>>3 per §14.3's inverse WHT of a
        // {raster0, raster1} Y2 block) + per-block (zz1→raster1,
        // zz2→raster4) AC residual; crop to (w,h).
        def v0Y(evensOnly: Boolean) = {
          val b = "(((p//16)//4)*4 + ((p%16)//4))"
          val dc = "(CASE WHEN (p%16)//4 < 2 THEN (d0q + w1q + 3)>>3 " +
            "ELSE (d0q - w1q + 3)>>3 END)"
          val px = idctTerm(dc, s"(((k + $b) % 7) - 3) * yac",
            s"(((2*k + $b) % 5) - 2) * yac", "((p%16)%4)", "((p//16)%4)")
          val vis = "(p%16) < w AND (p//16) < h" +
            (if (evensOnly) " AND (p%16)%2 = 0 AND (p//16)%2 = 0" else "")
          s"list_sum(list_transform(list_filter(range(0,256), p -> $vis), p -> $px))"
        }
        // regime 0 chroma: no WHT — DC at raster0 directly, zz1→raster1.
        def v0Uv(plane: String) = {
          val b = "(((p//8)//4)*2 + ((p%8)//4))"
          val (d, a) =
            if (plane == "u")
              (s"(((k + $b) % 5) - 2) * uvdc", s"(((k + 2*$b) % 3) - 1) * uvac")
            else
              (s"(((2*k + $b) % 5) - 2) * uvdc", s"(((k + $b) % 3) - 1) * uvac")
          val px = idctTerm(d, a, "0", "((p%8)%4)", "((p//8)%4)")
          s"list_sum(list_transform(list_filter(range(0,64), " +
            s"p -> (p%8) < (w+1)//2 AND (p//8) < (h+1)//2), p -> $px))"
        }
        // regime 2: the ten 4x4 B_PRED sub-mode predictions over the
        // fixture's constant boundary (127 above / 129 left / 127
        // corner) collapse to ten constant grids — derived from §12.3 in
        // tools/vp8_m28_oracle_sql.py and libwebp-refereed per seed.
        val bpred = "[[128,128,128,128,128,128,128,128,128,128,128,128,128,128,128,128]," +
          "[129,129,129,129,129,129,129,129,129,129,129,129,129,129,129,129]," +
          "[127,127,127,127,127,127,127,127,127,127,127,127,127,127,127,127]," +
          "[129,129,129,129,129,129,129,129,129,129,129,129,129,129,129,129]," +
          "[128,127,127,127,129,128,127,127,129,129,128,127,129,129,129,128]," +
          "[127,127,127,127,128,127,127,127,129,127,127,127,129,128,127,127]," +
          "[127,127,127,127,127,127,127,127,127,127,127,127,127,127,127,127]," +
          "[127,127,127,127,127,127,127,127,127,127,127,127,127,127,127,127]," +
          "[128,128,127,127,129,129,128,128,129,129,129,129,129,129,129,129]," +
          "[129,129,129,129,129,129,129,129,129,129,129,129,129,129,129,129]]"
        def v2Y(evensOnly: Boolean) = {
          val pred = s"($bpred)[((k//4)%10)+1][p+1]"
          val res = "((dc2 + (CASE p%4 WHEN 0 THEN a2 + ((a2*20091)>>16) " +
            "WHEN 1 THEN (a2*35468)>>16 WHEN 2 THEN -((a2*35468)>>16) " +
            "ELSE -(a2 + ((a2*20091)>>16)) END) + 4) >> 3)"
          val px = clampE(s"$pred + $res")
          val src =
            if (evensOnly) "list_filter(range(0,16), p -> p%4%2 = 0 AND (p//4)%2 = 0)"
            else "range(0,16)"
          s"list_sum(list_transform($src, p -> $px))"
        }
        // regime 3: constant planes make each MB's reconstruction one
        // value; DC/V/H/TM chain across the 2×2 grid (mode 0 with both
        // neighbors reduces to the rounded average; with one neighbor to
        // that neighbor exactly, since (16c+8)>>4 = c).
        def v3Chain(nm: String) = {
          def m(r: Int, c: Int) =
            if (nm == "y") s"(k + ${2 * r + c}) % 4" else s"(k + ${r + 2 * c}) % 4"
          val c00 = s"([128,127,129,129])[(${m(0, 0)})+1]"
          val c01 = s"(CASE ${m(0, 1)} WHEN 1 THEN 127 ELSE ${nm}00 END)"
          val c10 = s"(CASE ${m(1, 0)} WHEN 2 THEN 129 ELSE ${nm}00 END)"
          val c11 = s"(CASE ${m(1, 1)} WHEN 0 THEN (${nm}01 + ${nm}10 + 1)>>1 " +
            s"WHEN 1 THEN ${nm}01 WHEN 2 THEN ${nm}10 " +
            s"ELSE least(255, greatest(0, ${nm}10 + ${nm}01 - ${nm}00)) END)"
          (c00, c01, c10, c11)
        }
        val (y00, y01, y10, y11) = v3Chain("y")
        val (u00, u01, u10, u11) = v3Chain("u")
        s"""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k, (doc_id % 251) % 4 AS v
          FROM documents),
        r0 AS (
          SELECT doc_id, k, 16 - k%5 AS w, 16 - k%7 AS h,
                 ($acq)[(k%48)+1] AS yac,
                 ((k%5) - 2) * (($dcq)[(k%48)+1] * 2) AS d0q,
                 ((k%3) - 1) * greatest(8, ($acq)[(k%48)+1] * 155 // 100) AS w1q,
                 least(($dcq)[(k%48)+1], 132) AS uvdc,
                 ($acq)[(k%48)+1] AS uvac
          FROM base WHERE v = 0),
        s0 AS (
          SELECT doc_id, w::BIGINT AS width, h::BIGINT AS height,
                 CAST(${v0Y(evensOnly = false)} AS BIGINT) AS sum_y,
                 CAST(${v0Uv("u")} AS BIGINT) AS sum_u,
                 CAST(${v0Uv("v")} AS BIGINT) AS sum_v,
                 CAST(${v0Y(evensOnly = true)} AS BIGINT) AS even_sum
          FROM r0),
        s1 AS (
          SELECT doc_id,
                 16::BIGINT AS width, 16::BIGINT AS height,
                 CAST(256 * ([128,127,129,129])[((k//4)%4)+1] AS BIGINT) AS sum_y,
                 CAST(64 * ([128,127,129,129])[((k//16)%4)+1] AS BIGINT) AS sum_u,
                 CAST(64 * ([128,127,129,129])[((k//16)%4)+1] AS BIGINT) AS sum_v,
                 CAST(64 * ([128,127,129,129])[((k//4)%4)+1] AS BIGINT) AS even_sum
          FROM base WHERE v = 1),
        r2 AS (
          SELECT doc_id, k,
                 ((k%5) - 2) * ($dcq)[(k%32)+1] AS dc2,
                 ((k%3) - 1) * ($acq)[(k%32)+1] AS a2
          FROM base WHERE v = 2),
        s2 AS (
          SELECT doc_id, 4::BIGINT AS width, 4::BIGINT AS height,
                 CAST(${v2Y(evensOnly = false)} AS BIGINT) AS sum_y,
                 512::BIGINT AS sum_u, 512::BIGINT AS sum_v,
                 CAST(${v2Y(evensOnly = true)} AS BIGINT) AS even_sum
          FROM r2),
        r3a AS (
          SELECT doc_id, k, $y00 AS y00, $u00 AS u00
          FROM base WHERE v = 3),
        r3b AS (
          SELECT doc_id, k, y00, u00, $y01 AS y01, $y10 AS y10,
                 $u01 AS u01, $u10 AS u10
          FROM r3a),
        r3c AS (
          SELECT doc_id, y00 + y01 + y10 + ($y11) AS ysum,
                 u00 + u01 + u10 + ($u11) AS usum
          FROM r3b),
        s3 AS (
          SELECT doc_id, 32::BIGINT AS width, 32::BIGINT AS height,
                 CAST(256 * ysum AS BIGINT) AS sum_y,
                 CAST(64 * usum AS BIGINT) AS sum_u,
                 CAST(64 * usum AS BIGINT) AS sum_v,
                 CAST(64 * ysum AS BIGINT) AS even_sum
          FROM r3c)
        SELECT * FROM s0 UNION ALL SELECT * FROM s1
        UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        ORDER BY doc_id
        """.trim
      },
    ),

    // m29: PROGRESSIVE JPEG (SOF2) — roughly half of real-crawl JPEGs;
    // m11/m22 decode baseline (SOF0) only. The fixture encoder writes
    // five scans (DC first at Al=1, AC first over two spectral bands at
    // Al=1, DC refine, AC refine) so every Annex G mechanism — spectral
    // selection, successive approximation, EOB runs carrying correction
    // bits, ZRL over zero-history positions, newly-significant ±1
    // insertions — must execute before pixels come out. Coefficients are
    // the m22 layout plus a refinement-only ±1 at zigzag 40, and the
    // decoder renders through the SAME pinned integer IDCT, so this
    // oracle replays m22's arithmetic term-for-term with one extra basis
    // product. Spec-side, the JDK ImageIO writer authors an INDEPENDENT
    // progressive scan script whose decode must equal its baseline
    // encode bit-for-bit (JpegProgressiveSpec).
    Q(
      "m29_jpeg_progressive",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val nbx = (col("doc_id") % 5 + 1).cast("int")
        val nby = (col("doc_id") % 3 + 1).cast("int")
        val packed = docs.select(col("doc_id"),
          JpegProgressive.packJpegProg(col("doc_id"), nbx, nby).as("media"))
        JpegProgressive.decodeJpegProgPixelStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("even_sum"))
          .orderBy("doc_id")
      },
      Some {
        // pinned-IDCT basis rows touched by the four coefficient
        // positions: zigzag 0→(0,0), 1→(1,0), 8→(1,2), 40→(5,3)
        val k1 = "[2009, 1703, 1138, 400, -400, -1138, -1703, -2009]"
        val k2 = "[1892, 784, -784, -1892, -1892, -784, 784, 1892]"
        val k3 = "[1703, -400, -2009, -1138, 1138, 2009, 400, -1703]"
        val k5 = "[1138, -2009, 400, 1703, -1703, -400, 2009, -1138]"
        val sExpr = s"""(
          (8*((3*((i // 64) % nbx) + 5*((i // 64) // nbx) + k) % 120 - 60))
            * 1448 * 1448
          + (16*((((i // 64) % nbx) + 2*((i // 64) // nbx) + k) % 15 - 7))
            * 1448 * ($k1)[(i % 8) + 1]
          + (16*((2*((i // 64) % nbx) + ((i // 64) // nbx) + 3*k) % 15 - 7))
            * ($k1)[(i % 8) + 1] * ($k2)[((i % 64) // 8) + 1]
          + (16*((((i // 64) % nbx) + ((i // 64) // nbx) + k) % 3 - 1))
            * ($k5)[(i % 8) + 1] * ($k3)[((i % 64) // 8) + 1])"""
        // truncation-to-floor bias, sized past the 4-term |s| bound
        val pxExpr =
          s"LEAST(255, GREATEST(0, ($sExpr + 8388608 + 4294967296) // 16777216 - 128))"
        s"""
        WITH g AS (
          SELECT doc_id, doc_id % 5 + 1 AS nbx, doc_id % 3 + 1 AS nby,
                 doc_id % 251 AS k
          FROM documents),
        p AS (
          SELECT doc_id, nbx, nby, k,
            CAST(list_sum(list_transform(range(0, nbx*nby*64), i ->
              $pxExpr)) AS BIGINT) AS s_all,
            CAST(list_sum(list_transform(
              list_filter(range(0, nbx*nby*64),
                i -> (i % 8) % 2 = 0 AND ((i % 64) // 8) % 2 = 0),
              i -> $pxExpr)) AS BIGINT) AS s_even
          FROM g)
        SELECT doc_id,
               (nbx*8)::BIGINT AS width, (nby*8)::BIGINT AS height,
               s_all AS sum_r, s_all AS sum_g, s_all AS sum_b,
               3*s_even AS even_sum
        FROM p
        ORDER BY doc_id
        """.trim
      },
    ),

    // m30: MP3 (`audio/mpeg`) metadata census — ID3v2.3/2.4 text frames
    // (incl. TXXX), MPEG1 Layer III frame-header walk with per-frame VBR
    // bitrates, Xing/Info VBR header, ID3v1 trailer. PCM decode stays
    // descoped (float MDCT, not bit-exact by spec — the Vorbis
    // adjudication), but every field a corpus pipeline filters on is
    // header material and fully deterministic; this is the m27/m12
    // metadata-only shape (sub-linear in the payload: the walk hops
    // frame lengths, never reads bodies). Oracle recomputes the census
    // from the seed formulas, so a mis-read of any layer — syncsafe
    // sizes, v2.3 vs v2.4 frame-size encoding, bitrate/sample-rate
    // tables, padding bits, Xing offsets (mono vs stereo side-info),
    // the integer duration/bitrate formulas — breaks the hash.
    Q(
      "m30_mp3_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Mp3.packMp3(col("doc_id"), col("lang"),
            col("n_chars").cast("long")).as("media"))
        Mp3.decodeMp3Meta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("sample_rate"), col("mode"), col("n_frames"),
            col("duration_ms"), col("audio_bytes"), col("avg_kbps"),
            col("vbr_header"), col("vbr_frames"),
            col("title"), col("artist"), col("track"), col("nchars_tag"),
            col("has_id3v1").cast("long").as("has_id3v1"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, n_chars, doc_id % 251 AS k FROM documents),
        p AS (
          SELECT doc_id, lang, n_chars, k,
                 ([44100, 48000, 32000])[(k % 3) + 1] AS sr,
                 k % 40 + 10 AS nf
          FROM base),
        b AS (
          SELECT doc_id, lang, n_chars, k, sr, nf,
                 CAST(list_sum(list_transform(range(0, nf), i ->
                   144000 * ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
                     [((k + 3*i) % 14) + 1] // sr + (k + i) % 2))
                   AS BIGINT) AS audio_bytes
          FROM p)
        SELECT doc_id,
               sr::BIGINT AS sample_rate,
               (['stereo', 'joint', 'dual', 'mono'])[(k % 4) + 1] AS mode,
               nf::BIGINT AS n_frames,
               (nf * 1152 * 1000 // sr)::BIGINT AS duration_ms,
               audio_bytes,
               (audio_bytes * 8 * sr // (nf * 1152 * 1000))::BIGINT AS avg_kbps,
               CASE WHEN k % 3 = 2 THEN NULL
                    WHEN k % 2 = 0 THEN 'Xing' ELSE 'Info' END AS vbr_header,
               (CASE WHEN k % 3 = 2 THEN -1 ELSE nf END)::BIGINT AS vbr_frames,
               'doc ' || CAST(doc_id AS VARCHAR) AS title,
               lang AS artist,
               (doc_id % 99 + 1)::BIGINT AS track,
               CAST(n_chars AS BIGINT) AS nchars_tag,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_id3v1
        FROM b
        ORDER BY doc_id
      """.trim),
    ),

    // m31: EXIF/TIFF metadata walk — orientation, camera make/model,
    // capture timestamps, EXIF dimensions, and GPS coordinates (location
    // PII a corpus must detect before publishing; the binary-side
    // counterpart of t7's text scrub). The fixture splices a real
    // APP1/Exif segment into the m22 baseline JPEG, cycling byte order
    // (II/MM), inline vs offset values, and GPS presence; the walk
    // bounds-checks every untrusted offset against the segment, budgets
    // IFD entry counts, and reaches pointer IFDs at fixed depth (no
    // recursion — offset cycles cannot loop). The oracle recomputes all
    // eleven fields from the seed formulas, so a mis-read of either
    // endianness, the inline-value packing, the NUL-terminated ASCII
    // convention, or the pinned rational→ppm arithmetic breaks the hash.
    Q(
      "m31_exif_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Exif.packExifJpeg(col("doc_id")).as("media"))
        Exif.decodeExifMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("byte_order"), col("orientation"), col("make"), col("model"),
            col("date_time"), col("date_time_original"),
            col("exif_width"), col("exif_height"),
            col("has_gps"), col("gps_lat_ppm"), col("gps_lon_ppm"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               CASE WHEN k % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
               (k % 8 + 1)::BIGINT AS orientation,
               'cam' || CAST(k % 7 AS VARCHAR) AS make,
               'model ' || CAST(doc_id % 5 AS VARCHAR) AS model,
               '2026:08:' || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0')
                 || ' ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0')
                 || ':00:00' AS date_time,
               '2026:07:' || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0')
                 || ' ' || lpad(CAST((k + 5) % 24 AS VARCHAR), 2, '0')
                 || ':30:00' AS date_time_original,
               (doc_id % 1000 + 1)::BIGINT AS exif_width,
               (doc_id % 800 + 1)::BIGINT AS exif_height,
               (CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_gps,
               (CASE WHEN k % 3 <> 0 THEN -1
                     WHEN k % 4 < 2 THEN (doc_id * 7919) % 90000000
                     ELSE -((doc_id * 7919) % 90000000) END)::BIGINT AS gps_lat_ppm,
               (CASE WHEN k % 3 <> 0 THEN -1
                     WHEN k % 5 < 3 THEN (doc_id * 104729) % 180000000
                     ELSE -((doc_id * 104729) % 180000000) END)::BIGINT AS gps_lon_ppm
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m32: PDF metadata census — version, xref object count, page
    // count, Info-dict title/author/creation-date, /Encrypt flag. PDF
    // is one of the largest non-HTML mime slices of a crawl; pipelines
    // filter on page count and must route encrypted files around text
    // extraction. The walk is the cross-reference machinery every PDF
    // reader starts from (ISO 32000-1 §7.5): tail `startxref` → classic
    // xref table (10-digit offsets, n/f entries, multi-subsection) →
    // trailer dict → /Root → /Pages /Count and /Info strings with the
    // literal-string escape set — METADATA-ONLY, page streams never
    // read. Oracle recomputes all seven fields from the seed formulas;
    // a mis-read of the xref offset arithmetic, subsection layout,
    // indirect-reference syntax, or string escapes breaks the hash.
    Q(
      "m32_pdf_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Pdf.packPdf(col("doc_id"), col("lang")).as("media"))
        Pdf.decodePdfMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("version"), col("n_objects"), col("page_count"),
            col("title"), col("author"), col("creation_date"),
            col("encrypted"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               '1.' || CAST(k % 8 AS VARCHAR) AS version,
               (k % 30 + 4)::BIGINT AS n_objects,
               (k % 30 + 1)::BIGINT AS page_count,
               'doc (' || CAST(doc_id AS VARCHAR) || ') \' || lang AS title,
               lang || ' author ' || CAST(k AS VARCHAR) AS author,
               'D:2026' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0')
                 || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0')
                 || '120000' AS creation_date,
               (CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END)::BIGINT AS encrypted
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m33: ZIP container census — a large share of crawl binaries are
    // ZIP in disguise (docx/xlsx/pptx = OOXML, epub, jar). Before any
    // extraction a pipeline needs: the entry census, the
    // compression-ratio bomb signal that gates decompression, the
    // document-kind routing ([Content_Types].xml → OOXML; stored
    // `mimetype` = application/epub+zip → EPUB), and CRC integrity for
    // truncated fetches. The walk is EOCD backward scan → central
    // directory → local headers (APPNOTE layout), never inflating
    // anything; STORED entries are CRC-32-verified byte-for-byte. The
    // fixture is all-STORED so every byte is analytic (no Deflater
    // version dependence — method variety is ZipSpec's JDK-referee
    // job); the oracle recomputes counts, exact byte totals from the
    // string lengths, the kind, and the ratio bound.
    Q(
      "m33_zip_census",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Zip.packZip(col("doc_id"), col("lang")).as("media"))
        Zip.decodeZipMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("kind"), col("n_entries"), col("sum_comp"), col("sum_uncomp"),
            col("max_ratio_ppm"), col("n_stored"), col("n_deflate"),
            col("first_name"), col("crc_ok"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        p AS (
          SELECT doc_id, lang, k, k % 12 + 1 AS np,
                 CASE k % 3 WHEN 0 THEN strlen('<Types doc=''' || doc_id || '''/>')
                            WHEN 1 THEN 20 ELSE 0 END AS marker_len,
                 CAST(list_sum(list_transform(range(0, k % 12 + 1), i ->
                   strlen('entry ' || i || ' of doc ' || doc_id || ' in ' || lang)))
                   AS BIGINT) AS payload_len
          FROM base)
        SELECT doc_id,
               CASE k % 3 WHEN 0 THEN 'ooxml' WHEN 1 THEN 'epub'
                          ELSE 'zip' END AS kind,
               (np + CASE WHEN k % 3 = 2 THEN 0 ELSE 1 END)::BIGINT AS n_entries,
               (payload_len + marker_len)::BIGINT AS sum_comp,
               (payload_len + marker_len)::BIGINT AS sum_uncomp,
               1000000::BIGINT AS max_ratio_ppm,
               (np + CASE WHEN k % 3 = 2 THEN 0 ELSE 1 END)::BIGINT AS n_stored,
               0::BIGINT AS n_deflate,
               CASE k % 3 WHEN 0 THEN '[Content_Types].xml'
                          WHEN 1 THEN 'mimetype'
                          ELSE 'part/e0.txt' END AS first_name,
               1::BIGINT AS crc_ok
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // m34: OGG/OPUS metadata walk — the open-web audio default next to
    // MP3 (audio/ogg, audio/opus). Page census with the RFC 3533 page
    // CRC (poly 0x04c11db7, unreflected, init 0 — published check
    // value pinned in OggSpec) verified on EVERY page so one flipped
    // byte anywhere in the container is caught; OpusHead stream
    // parameters (channels, pre-skip, input rate); OpusTags comments
    // (the m27 Vorbis-comment layout); duration from the last granule
    // minus pre-skip over the fixed 48 kHz granule rate (RFC 7845 §4).
    // Opus packet DSP stays descoped (float SILK/CELT — the MP3-PCM
    // adjudication); every field here is container material. The
    // fixture forces multi-segment lacing (a packet > 255 bytes) and
    // analytic granule steps; the oracle recomputes all ten fields.
    Q(
      "m34_ogg_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Ogg.packOggOpus(col("doc_id"), col("lang")).as("media"))
        Ogg.decodeOggMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("serial"), col("channels"), col("pre_skip"), col("input_rate"),
            col("n_pages"), col("duration_ms"),
            col("vendor"), col("title"), col("artist"), col("crc_ok"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (doc_id * 2654435761) % 4294967296 AS serial,
               (k % 2 + 1)::BIGINT AS channels,
               ((k % 5) * 120 + 312)::BIGINT AS pre_skip,
               ([48000, 44100, 16000])[(k % 3) + 1]::BIGINT AS input_rate,
               (2 + k % 6 + 1)::BIGINT AS n_pages,
               CAST(list_sum(list_transform(range(0, k % 6 + 1), i ->
                 20 * ((k + i) % 3 + 1))) AS BIGINT) AS duration_ms,
               'graft ogg fixture' AS vendor,
               'doc ' || CAST(doc_id AS VARCHAR) AS title,
               lang AS artist,
               1::BIGINT AS crc_ok
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m35: ICO (favicon) pixel decode — the one image container nearly
    // every crawled SITE ships (/favicon.ico), in BOTH payload
    // dialects: classic DIB (doubled-height header, XOR pixels + 1-bpp
    // AND transparency mask with 32-bit row stride) and PNG-in-ICO,
    // dispatched per directory entry and decoded through the engine's
    // REAL pixel paths. Channel sums fold VISIBLE pixels only, so the
    // directory walk, doubled-height convention, bottom-up order, mask
    // stride, and payload dispatch are all hash-gated. The oracle
    // replays the shared testPixel pattern per image with the analytic
    // mask (nested-lambda replay over every pixel of every image).
    Q(
      "m35_ico_pixels",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Ico.packIco(col("doc_id")).as("media"))
        Ico.decodeIcoStats(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("n_images"), col("width0"), col("height0"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("n_transparent"))
          .orderBy("doc_id")
      },
      Some {
        // per-image i: seed ki, dims (wi, hi), png-vs-dib, analytic mask
        val ki = "((k + 31*i) % 251)"
        val wi = "((k + i) % 12 + 5)"
        val hi = "((k + i) % 9 + 5)"
        val vis = s"((k + i) % 2 = 1 OR ((p % $wi) + 2*(p // $wi) + $ki) % 7 <> 0)"
        def ch(f: String) =
          s"""CAST(list_sum(list_transform(range(0, $n_),
              i -> list_sum(list_transform(
                list_filter(range(0, $wi * $hi), p -> $vis),
                p -> $f)))) AS BIGINT)"""
        s"""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (k % 3 + 1)::BIGINT AS n_images,
               (k % 12 + 5)::BIGINT AS width0,
               (k % 9 + 5)::BIGINT AS height0,
               ${ch(s"((p % $wi) + (p // $wi) + 3*$ki) % 256")} AS sum_r,
               ${ch(s"(3*(p % $wi) + 5*(p // $wi) + 2*$ki) % 256")} AS sum_g,
               ${ch(s"(7*(p % $wi) + 11*(p // $wi) + $ki) % 256")} AS sum_b,
               CAST(list_sum(list_transform(range(0, $n_), i ->
                 CASE WHEN (k + i) % 2 = 1 THEN 0
                      ELSE len(list_filter(range(0, $wi * $hi),
                        p -> ((p % $wi) + 2*(p // $wi) + $ki) % 7 = 0)) END))
                 AS BIGINT) AS n_transparent
        FROM base
        ORDER BY doc_id
        """.trim
      },
    ),

    // m36: TAR census — the container source releases and dataset dumps
    // arrive in (usually inside the gzip/zstd members the source layer
    // already peels). METADATA-ONLY ustar walk: 512-block arithmetic,
    // strict octal field parse, per-header checksum verification (the
    // unsigned byte sum with the chksum field read as spaces), type
    // mix, and the tar-slip flag — absolute or `..` member paths that a
    // 100 TB ingest MUST catch before anything unpacks (the fixture
    // plants a `../escape.txt` member on k%6==0). The oracle recomputes
    // entry/byte totals from the analytic member texts.
    Q(
      "m36_tar_census",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          Tar.packTar(col("doc_id"), col("lang")).as("media"))
        Tar.decodeTarMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("n_entries"), col("n_files"), col("n_dirs"),
            col("sum_bytes"), col("max_entry_bytes"),
            col("first_name"), col("unsafe_paths"), col("checksum_ok"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        p AS (
          SELECT doc_id, lang, k, k % 9 + 1 AS nf,
                 CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END AS esc,
                 CASE WHEN k % 6 = 0
                      THEN strlen('escaped ' || doc_id) ELSE 0 END AS esclen,
                 list_transform(range(0, k % 9 + 1), i ->
                   strlen('member ' || i || ' of doc ' || doc_id || ' in '
                     || lang || ' ') * (k % 4 + 1)) AS lens
          FROM base)
        SELECT doc_id,
               (1 + nf + esc)::BIGINT AS n_entries,
               (nf + esc)::BIGINT AS n_files,
               1::BIGINT AS n_dirs,
               (CAST(list_sum(lens) AS BIGINT) + esclen)::BIGINT AS sum_bytes,
               greatest(CAST(list_max(lens) AS BIGINT), esclen)::BIGINT
                 AS max_entry_bytes,
               'pkg' || CAST(doc_id AS VARCHAR) || '/' AS first_name,
               esc::BIGINT AS unsafe_paths,
               1::BIGINT AS checksum_ok
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // m37: CONTAINER ROUTING REPORT — the capstone the census tier
    // exists for: ONE corpus pass where every object is magic-sniffed,
    // dispatched to its walker (ZIP / MP3 / ICO / PDF / Ogg / TAR /
    // AVIF), and rolled up per kind with an integrity verdict — the
    // mime-router + quarantine report a real ingest runs before any
    // extraction. TAR integrity includes the tar-slip flag, so the
    // report QUARANTINES the k%6==0 archives (intact < n_docs for the
    // tar row proves the gate bites). One shuffle (7-row groupBy);
    // per-row walks are the already-gated kernels, so the oracle reuses
    // their seed formulas.
    Q(
      "m37_container_routing",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val slot = col("doc_id") % 7
        val media = when(slot === 0, Zip.packZip(col("doc_id"), col("lang")))
          .when(slot === 1, Mp3.packMp3(col("doc_id"), col("lang"),
            col("n_chars").cast("long")))
          .when(slot === 2, Ico.packIco(col("doc_id")))
          .when(slot === 3, Pdf.packPdf(col("doc_id"), col("lang")))
          .when(slot === 4, Ogg.packOggOpus(col("doc_id"), col("lang")))
          .when(slot === 5, Tar.packTar(col("doc_id"), col("lang")))
          .otherwise(graft.ops.Avif.packAvif(col("doc_id")))
        val route = udf((b: Array[Byte]) => {
          if (b == null || b.length < 4) ("unknown", 0L, 0L)
          else if (b(0) == 'P' && b(1) == 'K') {
            val m = Zip.zipMeta(b)
            if (m == null) ("zip", 0L, 0L)
            else ("zip", if (m.crcOk) 1L else 0L, m.sumUncomp)
          } else if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
            val m = Mp3.mp3Meta(b)
            if (m == null) ("mp3", 0L, 0L) else ("mp3", 1L, m.durationMs)
          } else if (b(0) == 0 && b(1) == 0 && b(2) == 1 && b(3) == 0) {
            val m = Ico.icoStats(b)
            if (m == null) ("ico", 0L, 0L) else ("ico", 1L, m.nImages)
          } else if (b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F') {
            val m = Pdf.pdfMeta(b)
            if (m == null) ("pdf", 0L, 0L)
            else ("pdf", if (m.encrypted) 0L else 1L, m.pageCount)
          } else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') {
            val m = Ogg.oggMeta(b)
            if (m == null) ("ogg", 0L, 0L)
            else ("ogg", if (m.crcOk) 1L else 0L, m.durationMs)
          } else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' &&
              b(6) == 'y' && b(7) == 'p') {
            val m = graft.ops.Avif.avifMeta(b)
            if (m == null) ("avif", 0L, 0L)
            else ("avif", if (m.boundsOk) 1L else 0L, m.primaryBytes)
          } else {
            val m = Tar.tarMeta(b)
            if (m == null) ("tar", 0L, 0L)
            else ("tar",
              if (m.checksumOk && m.unsafePaths == 0L) 1L else 0L, m.nFiles)
          }
        })
        docs.select(route(media).as("r"))
          .groupBy(col("r._1").as("kind"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("r._2")).as("n_intact"),
            sum(col("r._3")).as("metric_sum"))
          .orderBy("kind")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, n_chars, doc_id % 251 AS k, doc_id % 7 AS slot
          FROM documents)
        SELECT 'avif' AS kind, COUNT(*)::BIGINT AS n_docs,
               COUNT(*)::BIGINT AS n_intact,
               CAST(SUM((k % 2 + 1) * (k % 900 + 100)) AS BIGINT) AS metric_sum
        FROM base WHERE slot = 6
        UNION ALL
        SELECT 'ico' AS kind, COUNT(*)::BIGINT AS n_docs,
               COUNT(*)::BIGINT AS n_intact,
               CAST(SUM(k % 3 + 1) AS BIGINT) AS metric_sum
        FROM base WHERE slot = 2
        UNION ALL
        SELECT 'mp3', COUNT(*)::BIGINT, COUNT(*)::BIGINT,
               CAST(SUM((k % 40 + 10) * 1152 * 1000
                 // ([44100, 48000, 32000])[(k % 3) + 1]) AS BIGINT)
        FROM base WHERE slot = 1
        UNION ALL
        SELECT 'ogg', COUNT(*)::BIGINT, COUNT(*)::BIGINT,
               CAST(SUM(CAST(list_sum(list_transform(range(0, k % 6 + 1), i ->
                 20 * ((k + i) % 3 + 1))) AS BIGINT)) AS BIGINT)
        FROM base WHERE slot = 4
        UNION ALL
        SELECT 'pdf', COUNT(*)::BIGINT,
               CAST(SUM(CASE WHEN k % 11 = 0 THEN 0 ELSE 1 END) AS BIGINT),
               CAST(SUM(k % 30 + 1) AS BIGINT)
        FROM base WHERE slot = 3
        UNION ALL
        SELECT 'tar', COUNT(*)::BIGINT,
               CAST(SUM(CASE WHEN k % 6 = 0 THEN 0 ELSE 1 END) AS BIGINT),
               CAST(SUM(k % 9 + 1 + CASE WHEN k % 6 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT)
        FROM base WHERE slot = 5
        UNION ALL
        SELECT 'zip', COUNT(*)::BIGINT, COUNT(*)::BIGINT,
               CAST(SUM(
                 CASE k % 3 WHEN 0 THEN strlen('<Types doc=''' || doc_id || '''/>')
                            WHEN 1 THEN 20 ELSE 0 END
                 + CAST(list_sum(list_transform(range(0, k % 12 + 1), i ->
                     strlen('entry ' || i || ' of doc ' || doc_id || ' in '
                       || lang))) AS BIGINT)) AS BIGINT)
        FROM base WHERE slot = 0
        ORDER BY kind
      """.trim),
    ),

    // m38: WebP CONTAINER walk — still vs ANIMATED dispatch (VP8X /
    // ANIM / ANMF), the chunk layer above the m21/m28 bitstream
    // decoders; animated WebP has largely replaced GIF for short loops.
    // Stills read their dims from the first bitstream bytes (VP8 frame
    // tag / VP8L signature — fixed-offset fields, no decode); animated
    // files report frame count, per-frame geometry folded to canvas
    // containment + area, total duration, loop count. Every ANMF frame
    // in the fixture wraps a REAL VP8L bitstream. The oracle replays
    // the stills' dims from the m21/m28 fixture formulas and the
    // animation arithmetic analytically.
    Q(
      "m38_webp_container",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          WebpAnim.packWebpAnim(col("doc_id")).as("media"))
        WebpAnim.decodeWebpAnimMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("kind"), col("canvas_w"), col("canvas_h"), col("n_frames"),
            col("total_duration_ms"), col("loop_count"), col("sum_frame_area"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        p AS (
          SELECT doc_id, k, k % 7 + 1 AS n,
                 CASE k % 4 WHEN 0 THEN 16 - (k % 5) WHEN 1 THEN 16
                            WHEN 2 THEN 4 ELSE 32 END AS v8w,
                 CASE k % 4 WHEN 0 THEN 16 - (k % 7) WHEN 1 THEN 16
                            WHEN 2 THEN 4 ELSE 32 END AS v8h
          FROM base)
        SELECT doc_id,
               CASE WHEN k % 5 = 0 THEN 'vp8l-still'
                    WHEN k % 5 = 1 THEN 'vp8-still'
                    ELSE 'animated' END AS kind,
               (CASE WHEN k % 5 = 0 THEN k % 10 + 4
                     WHEN k % 5 = 1 THEN v8w
                     ELSE list_max(list_transform(range(0, n),
                       i -> 2*(i % 3) + ((k + i) % 10 + 4))) END)::BIGINT
                 AS canvas_w,
               (CASE WHEN k % 5 = 0 THEN k % 7 + 3
                     WHEN k % 5 = 1 THEN v8h
                     ELSE list_max(list_transform(range(0, n),
                       i -> 2*((i + 1) % 2) + ((k + i) % 7 + 3))) END)::BIGINT
                 AS canvas_h,
               (CASE WHEN k % 5 < 2 THEN 1 ELSE n END)::BIGINT AS n_frames,
               (CASE WHEN k % 5 < 2 THEN -1
                     ELSE list_sum(list_transform(range(0, n),
                       i -> (k + 7*i) % 90 + 10)) END)::BIGINT
                 AS total_duration_ms,
               (CASE WHEN k % 5 < 2 THEN -1 ELSE k % 4 END)::BIGINT
                 AS loop_count,
               (CASE WHEN k % 5 = 0 THEN (k % 10 + 4) * (k % 7 + 3)
                     WHEN k % 5 = 1 THEN v8w * v8h
                     ELSE list_sum(list_transform(range(0, n),
                       i -> ((k + i) % 10 + 4) * ((k + i) % 7 + 3))) END)::BIGINT
                 AS sum_frame_area
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // m39: OOXML/EPUB TEXT EXTRACTION — the document-format tier of the
    // reference parser's text-extraction role (ParserMapper.java:941-1101
    // extracts text from everything it can parse). m33 routes the
    // containers; this op inflates the text-bearing members under
    // zip-bomb budgets (declared-size gate, bounded inflate, lying-stream
    // rejection, per-member CRC) and extracts visible text: docx via the
    // WordprocessingML w:p/w:t walk, EPUB via container.xml → OPF →
    // SPINE-ordered chapters through the exact x9 htmlToText discipline.
    // The epub fixture reverses spine order vs zip order when k%3==0 and
    // plants title/style/comment/script material plus non-spine and
    // docProps distractors; the oracle reconstructs the full extracted
    // text string in SQL and gates chars, words, and the md5 of the text
    // itself.
    Q(
      "m39_doc_text",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.DocText.packDoc(col("doc_id"), col("lang")).as("media"))
        graft.ops.DocText.extractDocText(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("kind"), col("src_name"), col("n_parts"),
            length(col("text")).cast("long").as("n_chars"),
            size(split(col("text"), "[ \n]")).cast("long").as("n_words"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k,
                 CASE WHEN k % 2 = 0 THEN 'ooxml' ELSE 'epub' END AS kind,
                 CASE WHEN k % 2 = 0 THEN 'word/document.xml'
                      ELSE 'OEBPS/content.opf' END AS src_name,
                 CASE WHEN k % 2 = 0 THEN k % 7 + 1 ELSE k % 4 + 1 END AS np,
                 CASE WHEN k % 2 = 0 THEN
                   array_to_string(list_transform(range(0, k % 7 + 1), i ->
                     'Para ' || i || ' of doc ' || doc_id || ' in ' || lang
                       || ' & more.'), chr(10))
                 ELSE
                   array_to_string(list_transform(
                     CASE WHEN k % 3 = 0 THEN range(k % 4, -1, -1)
                          ELSE range(0, k % 4 + 1) END, i ->
                     'T' || i || ' Chapter ' || i || ' Doc ' || doc_id
                       || ' speaks ' || lang || ' & reads.'), chr(10))
                 END AS text
          FROM base)
        SELECT doc_id, kind, src_name, np::BIGINT AS n_parts,
               strlen(text)::BIGINT AS n_chars,
               len(string_split_regex(text, '[ ' || chr(10) || ']'))::BIGINT
                 AS n_words,
               md5(text) AS text_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // m40: AVIF/HEIF METADATA WALK — the fastest-growing image mime of
    // the 2026 web, ISOBMFF image items under `meta` (ISO 23008-12):
    // pitm primary item, iinf/infe inventory (Exif items route to the
    // m31 tier), iprp/ipco property pool + ipma associations (the
    // primary item's dims come through ipma, NOT first-ispe-wins —
    // alpha items carry their own ispe), auxC-association alpha flag
    // (the fixture plants a never-referenced auxC distractor so only a
    // real association fires), and iloc extents bounds-checked against
    // the file. AV1 pixel decode stays descoped (not bit-exact by
    // spec); every field is container material. Oracle replays all
    // eleven fields analytically.
    Q(
      "m40_avif_meta",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.Avif.packAvif(col("doc_id")).as("media"))
        graft.ops.Avif.decodeAvifMeta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("kind"), col("primary_item"), col("n_items"),
            col("width"), col("height"), col("n_channels"),
            col("has_alpha"), col("has_exif"),
            col("primary_bytes"), col("n_extents"), col("bounds_ok"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               CASE WHEN k % 4 = 0 THEN 'heic' ELSE 'avif' END AS kind,
               1::BIGINT AS primary_item,
               (1 + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_items,
               (k % 200 + 16)::BIGINT AS width,
               (k % 150 + 16)::BIGINT AS height,
               (k % 3 + 1)::BIGINT AS n_channels,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_alpha,
               (CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS has_exif,
               ((k % 2 + 1) * (k % 900 + 100))::BIGINT AS primary_bytes,
               (k % 2 + 1)::BIGINT AS n_extents,
               1::BIGINT AS bounds_ok
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m41: XLSX/PPTX TEXT EXTRACTION — completes m39's OOXML family
    // with the other two main parts a training corpus actually meets:
    // SpreadsheetML shared strings (plain + rich-text runs, ECMA-376
    // §18.4 — the string table sheet cells reference) and DrawingML
    // slide text (a:p paragraphs / a:t runs, §21.1) with slides
    // assembled in NUMERIC order — the pptx fixture reverses zip member
    // order when k%3==0 and reaches double-digit slide numbers, so
    // lexicographic or zip-order assembly breaks the hash. Same bounded
    // inflate + zip-bomb discipline as m39; workbook/worksheet/
    // presentation distractor members must be ignored. The oracle
    // reconstructs the full text and gates md5(text).
    Q(
      "m41_sheet_deck_text",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.DocText.packSheetDeck(col("doc_id"), col("lang")).as("media"))
        graft.ops.DocText.extractDocText(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("kind"), col("src_name"), col("n_parts"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k,
                 CASE WHEN k % 2 = 0 THEN 'xlsx' ELSE 'pptx' END AS kind,
                 CASE WHEN k % 2 = 0 THEN 'xl/sharedStrings.xml'
                      ELSE 'ppt/presentation.xml' END AS src_name,
                 CASE WHEN k % 2 = 0 THEN k % 8 + 1 ELSE k % 12 + 1 END AS np,
                 CASE WHEN k % 2 = 0 THEN
                   array_to_string(list_transform(range(0, k % 8 + 1), i ->
                     'Cell ' || i || ' doc ' || doc_id || ' in ' || lang
                       || ' & co.'), chr(10))
                 ELSE
                   array_to_string(list_transform(range(1, k % 12 + 2), i ->
                     'Slide ' || i || ' title doc ' || doc_id || chr(10)
                       || 'Bullet ' || i || ' ' || lang || ' & done.'),
                     chr(10))
                 END AS text
          FROM base)
        SELECT doc_id, kind, src_name, np::BIGINT AS n_parts,
               strlen(text)::BIGINT AS n_chars,
               md5(text) AS text_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // m42: PDF TEXT EXTRACTION — the pdftotext tier over the corpus'
    // largest document format (m32 stops at the xref/Info walk): page
    // TREE walk (nested Pages nodes when k%5==0 — zip-order/lex traps
    // don't exist here, tree order is the only order), /Contents
    // streams raw or FlateDecode'd under bomb budgets, and the ISO
    // 32000 §9.4 text scan — BT/ET blocks, Tj, TJ arrays with kerning
    // numbers, hex strings, literal-string escapes (\( \) \\ octal),
    // and the ' next-line-show operator. No PDF tool exists in this
    // container to referee against, so the gate is the analytic oracle
    // (the m32 standing): the fixture's every operator choice is
    // pinned and the oracle reconstructs the full text and gates
    // md5(text).
    Q(
      "m42_pdf_text",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.PdfText.packPdfText(col("doc_id"), col("lang")).as("media"))
        graft.ops.PdfText.extractPdfText(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("n_pages"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k % 4 + 1 AS np,
                 array_to_string(list_transform(range(1, k % 4 + 2), pg ->
                   'Page ' || pg || ' of doc ' || doc_id || chr(10)
                     || 'second ' || lang || ' (' || k || ') \ ok' || chr(10)
                     || 'arr join ' || pg || ' hx' || pg || chr(10)
                     || 'quoted ' || pg), chr(10)) AS text
          FROM base)
        SELECT doc_id, np::BIGINT AS n_pages,
               strlen(text)::BIGINT AS n_chars,
               md5(text) AS text_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // m43: WOFF2 FONT CENSUS — web fonts are a top-10 crawl mime and
    // the format's payload IS brotli (W3C WOFF2 REC): header, table
    // directory with known-tag indices (63 = explicit tag), the
    // INVERTED transform flag (glyf/loca version 0 = transformed,
    // others' nonzero versions = reserved → reject), UIntBase128
    // lengths (multi-byte exercised), then ONE brotli blob of the
    // concatenated tables. The census decodes the blob through the x23
    // Brotli decoder and gates its length against the directory sum —
    // the truncated-fetch integrity check — plus the brotli extended-
    // metadata slot. Glyph reconstruction stays descoped (container
    // material only, the m30–m40 standing). The oracle replays all
    // twelve fields analytically.
    Q(
      "m43_woff2_census",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.Woff2.packWoff2(col("doc_id")).as("media"))
        graft.ops.Woff2.decodeWoff2Meta(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("flavor"), col("n_tables"), col("n_known"), col("n_custom"),
            col("n_transformed"), col("sum_orig"), col("total_sfnt_size"),
            col("blob_ok"), col("decomp_len"), col("has_meta"),
            col("meta_orig"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k,
                 CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS g,
                 CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 20 ELSE 41 END AS extra,
                 (54 + (k % 900 + 120) + (k % 50 + 8) + (k % 200 + 16)) AS fixed
          FROM base)
        SELECT doc_id,
               CASE WHEN k % 3 = 0 THEN 'otf' ELSE 'ttf' END AS flavor,
               (4 + 2 * g + k % 3)::BIGINT AS n_tables,
               (3 + 2 * g + k % 3)::BIGINT AS n_known,
               1::BIGINT AS n_custom,
               (2 * g)::BIGINT AS n_transformed,
               (fixed + extra
                  + g * ((k % 3000 + 200) + (k % 400 + 100)))::BIGINT
                 AS sum_orig,
               (12 + (4 + 2 * g + k % 3) * 16 + fixed + extra
                  + g * ((k % 3000 + 200) + (k % 400 + 100)))::BIGINT
                 AS total_sfnt_size,
               1::BIGINT AS blob_ok,
               (fixed + extra + g * (k % 700 + 90))::BIGINT AS decomp_len,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_meta,
               (CASE WHEN k % 4 = 0
                     THEN strlen('<metadata doc=''' || doc_id || '''/>')
                     ELSE -1 END)::BIGINT AS meta_orig
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // m44: AV1 SEQUENCE-HEADER PARSE — the bitstream tier under m40:
    // AVIF stills are AV1 reduced-still-picture streams, and the
    // sequence header (AV1 spec §5.5, MSB-first bits — the OPPOSITE
    // bit order of VP8L/brotli) carries the REAL dimensions the
    // container's ispe merely mirrors. The fixture's primary-item
    // first extent now opens with a genuine OBU carrying the SAME
    // geometry as ispe, so the oracle's equality on bs_width/bs_height
    // against the ispe formulas IS the container-vs-bitstream
    // consistency check a real ingest runs. OBU header + leb128 size +
    // profile/still/level/frame-size-bit-widths/superblock/cdef/
    // restoration/color_config/film_grain all parsed; full AV1 frame
    // decode stays descoped (the m40 standing).
    Q(
      "m44_av1_seqheader",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val packed = docs.select(col("doc_id"),
          graft.ops.Avif.packAvif(col("doc_id")).as("media"))
        graft.ops.Av1.decodeAv1Seq(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("profile"), col("still_picture"), col("level"),
            col("bs_width"), col("bs_height"), col("bit_depth"),
            col("monochrome"), col("use_128_sb"), col("enable_cdef"),
            col("enable_restoration"), col("film_grain"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               0::BIGINT AS profile,
               1::BIGINT AS still_picture,
               (k % 14)::BIGINT AS level,
               (k % 200 + 16)::BIGINT AS bs_width,
               (k % 150 + 16)::BIGINT AS bs_height,
               8::BIGINT AS bit_depth,
               0::BIGINT AS monochrome,
               (k % 2)::BIGINT AS use_128_sb,
               ((k + 1) % 2)::BIGINT AS enable_cdef,
               (CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS enable_restoration,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS film_grain
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m45: WebVTT/SRT SUBTITLE EXTRACTION — the video-text-pair tier
    // next to m16's shot boundaries: subtitle tracks are the aligned
    // text a video corpus trains captioning/ASR against. Fixture
    // subtitles (WEBVTT with voice tags + cue settings; SRT with
    // comma-millisecond timestamps) are built per doc, then PARSED with
    // declarative regexps — cue count, per-cue start/end timestamp
    // arithmetic folded to total cue milliseconds, voice-tag census,
    // and the x9 text-fold discipline (strip timing lines / cue ids /
    // markup tags, collapse whitespace, md5). The oracle rebuilds the
    // SAME subtitle text in SQL and re-parses it with its own regexps —
    // the lg8 replay discipline, zero UDFs either side.
    Q(
      "m45_subtitle_extract",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val isSrt = k % 3 === 0
        val nc = k % 4 + 2
        def p2(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 2, "0")
        def p3(c: org.apache.spark.sql.Column) = lpad(c.cast("string"), 3, "0")
        def fmtShort(ms: org.apache.spark.sql.Column, sep: String) = concat(
          p2((ms / 60000).cast("long")),
          lit(":"), p2((ms / 1000).cast("long") % 60),
          lit(sep), p3(ms % 1000))
        def fmtFull(ms: org.apache.spark.sql.Column, sep: String) =
          concat(lit("00:"), fmtShort(ms, sep))
        // VTT permits hour-less MM:SS.mmm stamps (WebVTT §6.2); SRT
        // always carries hours — k%5==4 VTT docs exercise the short form
        def fmt(ms: org.apache.spark.sql.Column, sep: String, srt: Boolean) =
          if (srt) fmtFull(ms, sep)
          else when(k % 5 === 4, fmtShort(ms, sep))
            .otherwise(fmtFull(ms, sep))
        def cueArr(sep: String, srt: Boolean) =
          transform(sequence(lit(0), nc - 1), i => {
            val sms = i * 7000 + (k % 13) * 250
            val ems = sms + 1500 + (k % 7) * 300 + i * 100
            concat(
              (i + 1).cast("string"), lit("\n"),
              fmt(sms, sep, srt), lit(" --> "), fmt(ems, sep, srt),
              if (srt) lit("")
              else when(i % 2 === 1, lit(" align:start")).otherwise(""),
              lit("\n"),
              if (srt)
                when(i % 2 === 0, concat(lit("srt <i>cue</i> "), i,
                    lit(" doc "), col("doc_id")))
                  .otherwise(concat(lit("srt cue "), i,
                    lit(" doc "), col("doc_id")))
              else
                when(i % 2 === 0, concat(lit("<v Speaker"), k % 4,
                    lit(">word w"), i, lit(" doc "), col("doc_id"),
                    lit("</v>")))
                  .otherwise(concat(lit("plain <i>line</i> "), i,
                    lit(" of "), col("doc_id"))),
              lit("\n\n"))
          })
        val sub = when(isSrt, array_join(cueArr(",", srt = true), ""))
          .otherwise(concat(lit("WEBVTT\n\n"),
            array_join(cueArr(".", srt = false), "")))
        val folded = trim(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(col("sub"),
            "(?m)^.*-->.*$", ""), "(?m)^WEBVTT$", ""),
            "(?m)^\\d+$", ""), "<[^>]*>", ""), "\\s+", " "))
        docs.select(col("doc_id"), sub.as("sub"))
          .withColumn("ts", transform(
            regexp_extract_all(col("sub"),
              lit("((?:\\d{2}:)?\\d{2}:\\d{2}[.,]\\d{3})"), lit(1)),
            t => when(length(t) === 9, // hour-less MM:SS.mmm (VTT §6.2)
              substring(t, 1, 2).cast("long") * 60000L +
                substring(t, 4, 2).cast("long") * 1000L +
                substring(t, 7, 3).cast("long"))
              .otherwise(
                substring(t, 1, 2).cast("long") * 3600000L +
                  substring(t, 4, 2).cast("long") * 60000L +
                  substring(t, 7, 2).cast("long") * 1000L +
                  substring(t, 10, 3).cast("long"))))
          .select(
            col("doc_id"),
            when(col("sub").startsWith("WEBVTT"), "vtt").otherwise("srt")
              .as("kind"),
            regexp_count(col("sub"), lit("-->")).cast("long").as("n_cues"),
            expr("aggregate(sequence(0, size(ts) div 2 - 1), 0L, " +
              "(acc, j) -> acc + element_at(ts, int(2*j+2)) " +
              "- element_at(ts, int(2*j+1)))")
              .as("total_ms"),
            regexp_count(col("sub"), lit("<v ")).cast("long").as("n_voice"),
            regexp_extract(col("sub"), "<v ([^>]+)>", 1).as("first_voice"),
            md5(folded.cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        b AS (
          SELECT doc_id, k, k % 3 = 0 AS srt, k % 4 + 2 AS nc FROM base),
        cues AS (
          SELECT doc_id, k, srt, i,
                 i * 7000 + (k % 13) * 250 AS sms,
                 i * 7000 + (k % 13) * 250 + 1500 + (k % 7) * 300 + i * 100 AS ems
          FROM b, unnest(range(0, nc)) r(i)),
        cuetxt AS (
          SELECT doc_id, srt, i,
            (i + 1) || chr(10) ||
            (CASE WHEN NOT srt AND k % 5 = 4 THEN '' ELSE '00:' END) ||
              lpad(CAST(sms // 60000 AS VARCHAR), 2, '0') || ':' ||
              lpad(CAST((sms // 1000) % 60 AS VARCHAR), 2, '0') ||
              (CASE WHEN srt THEN ',' ELSE '.' END) ||
              lpad(CAST(sms % 1000 AS VARCHAR), 3, '0') ||
            ' --> ' ||
            (CASE WHEN NOT srt AND k % 5 = 4 THEN '' ELSE '00:' END) ||
              lpad(CAST(ems // 60000 AS VARCHAR), 2, '0') || ':' ||
              lpad(CAST((ems // 1000) % 60 AS VARCHAR), 2, '0') ||
              (CASE WHEN srt THEN ',' ELSE '.' END) ||
              lpad(CAST(ems % 1000 AS VARCHAR), 3, '0') ||
            (CASE WHEN NOT srt AND i % 2 = 1 THEN ' align:start' ELSE '' END) ||
            chr(10) ||
            (CASE WHEN srt AND i % 2 = 0
                    THEN 'srt <i>cue</i> ' || i || ' doc ' || doc_id
                  WHEN srt THEN 'srt cue ' || i || ' doc ' || doc_id
                  WHEN i % 2 = 0
                    THEN '<v Speaker' || (k % 4) || '>word w' || i ||
                         ' doc ' || doc_id || '</v>'
                  ELSE 'plain <i>line</i> ' || i || ' of ' || doc_id END) ||
            chr(10) || chr(10) AS cue
          FROM cues),
        subs AS (
          SELECT doc_id,
                 (CASE WHEN srt THEN ''
                       ELSE 'WEBVTT' || chr(10) || chr(10) END) ||
                 string_agg(cue, '' ORDER BY i) AS sub
          FROM cuetxt GROUP BY doc_id, srt),
        p AS (
          SELECT doc_id, sub,
                 list_transform(
                   regexp_extract_all(sub,
                     '((?:\d{2}:)?\d{2}:\d{2}[.,]\d{3})', 1),
                   t -> CASE WHEN length(t) = 9 THEN
                          CAST(substr(t, 1, 2) AS BIGINT) * 60000 +
                          CAST(substr(t, 4, 2) AS BIGINT) * 1000 +
                          CAST(substr(t, 7, 3) AS BIGINT)
                        ELSE
                          CAST(substr(t, 1, 2) AS BIGINT) * 3600000 +
                          CAST(substr(t, 4, 2) AS BIGINT) * 60000 +
                          CAST(substr(t, 7, 2) AS BIGINT) * 1000 +
                          CAST(substr(t, 10, 3) AS BIGINT) END) AS ms
          FROM subs)
        SELECT doc_id,
               CASE WHEN starts_with(sub, 'WEBVTT') THEN 'vtt'
                    ELSE 'srt' END AS kind,
               CAST(len(regexp_extract_all(sub, '-->')) AS BIGINT) AS n_cues,
               CAST(list_sum(list_transform(range(0, len(ms) // 2), j ->
                 ms[CAST(2 * j + 2 AS INT)] - ms[CAST(2 * j + 1 AS INT)]))
                 AS BIGINT) AS total_ms,
               CAST(len(regexp_extract_all(sub, '<v ')) AS BIGINT) AS n_voice,
               regexp_extract(sub, '<v ([^>]+)>', 1) AS first_voice,
               md5(trim(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(sub,
                   '(?m)^.*-->.*$', '', 'g'), '(?m)^WEBVTT$', '', 'g'),
                   '(?m)^\d+$', '', 'g'), '<[^>]*>', '', 'g'),
                   '\s+', ' ', 'g'))) AS text_md5
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // m46: APNG ANIMATION-CONTROL walk — the PNG sibling of m20's GIF
    // animation census: acTL declared frames/plays, the interleaved
    // fcTL/fdAT shared-sequence-number protocol (strictly 0,1,2,… in
    // stream order — the validity rule real decoders enforce), delay
    // arithmetic with the den==0→1/100s spec rule, per-frame geometry
    // bounds vs IHDR, dispose/blend ops, and the default-image-is-
    // frame-0 dispatch (fcTL before IDAT). The fixture is a REAL
    // deflated PNG container with CRCs; pixels stay with m8/m18/m19.
    Q(
      "m46_apng_meta",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val parse = udf((id: Long) => {
          val m = graft.ops.Apng.apngMeta(graft.ops.Apng.encodeApng(id))
          if (m == null)
            (-1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, 0L, 0L, 0L)
          else
            (m.width, m.height, m.framesDeclared, m.plays, m.nFctl,
              m.nFdat, m.totalDelayMs, m.firstDispose, m.firstBlend,
              if (m.seqOk) 1L else 0L, if (m.defaultIsFrame) 1L else 0L,
              if (m.intact) 1L else 0L)
        })
        docs.select(col("doc_id"), parse(col("doc_id")).as("m"))
          .select(col("doc_id"),
            col("m._1").as("width"), col("m._2").as("height"),
            col("m._3").as("n_frames"), col("m._4").as("n_plays"),
            col("m._5").as("n_fctl"), col("m._6").as("n_fdat"),
            col("m._7").as("total_delay_ms"),
            col("m._8").as("first_dispose"), col("m._9").as("first_blend"),
            col("m._10").as("seq_ok"), col("m._11").as("default_is_frame"),
            col("m._12").as("intact"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (k % 40 + 8)::BIGINT AS width,
               (k % 30 + 8)::BIGINT AS height,
               (k % 5 + 1)::BIGINT AS n_frames,
               (k % 4)::BIGINT AS n_plays,
               (k % 5 + 1)::BIGINT AS n_fctl,
               (CASE WHEN k % 2 = 0 THEN k % 5 ELSE k % 5 + 1 END)::BIGINT
                 AS n_fdat,
               CAST(list_sum(list_transform(range(0, k % 5 + 1),
                 i -> ((k + i) % 50 + 1) * 10)) AS BIGINT) AS total_delay_ms,
               (k % 3)::BIGINT AS first_dispose,
               (k % 2)::BIGINT AS first_blend,
               1::BIGINT AS seq_ok,
               (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS default_is_frame,
               1::BIGINT AS intact
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // m47: REAL 2×2 box-filter resize over the m7 pixel decode — the
    // genuine resample kernel the m4 stride walk stood in for: each
    // output pixel is the per-channel floor-average of its 2×2 input
    // block (trailing odd row/column dropped — libjpeg/Pillow "reduce"
    // semantics). Width spans 4-16 and height 3-11 so both parities
    // exercise the drop rule AND every BMP row-padding value occurs
    // under the resample. All-integer, so the oracle replays every
    // average exactly from the m7 pattern formula; `mix` folds only the
    // even-parity RESAMPLED lattice, so a shifted block, swapped
    // channel, or wrong rounding mode each breaks a different column.
    Q(
      "m47_box_resize",
      (s, dir) => {
        val docs = Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
        val w = (col("doc_id") % 13 + 4).cast("int")
        val h = (col("doc_id") % 9 + 3).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packBmp24(col("doc_id"), w, h).as("media"))
        Multimodal.decodeBmpBoxResize(packed, "doc_id", "media")
          .select(
            col("id").as("doc_id"),
            col("out_w").cast("long").as("out_w"),
            col("out_h").cast("long").as("out_h"),
            col("sum_r2"), col("sum_g2"), col("sum_b2"), col("mix"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 9 + 3 AS h,
                 doc_id % 251 AS k,
                 (doc_id % 13 + 4) // 2 AS ow, (doc_id % 9 + 3) // 2 AS oh
          FROM documents)
        SELECT doc_id,
               ow::BIGINT AS out_w, oh::BIGINT AS out_h,
               CAST(list_sum(list_transform(range(0, ow*oh), o ->
                 (((2*(o % ow)) + (2*(o // ow)) + 3*k) % 256
                  + ((2*(o % ow)+1) + (2*(o // ow)) + 3*k) % 256
                  + ((2*(o % ow)) + (2*(o // ow)+1) + 3*k) % 256
                  + ((2*(o % ow)+1) + (2*(o // ow)+1) + 3*k) % 256) // 4))
                 AS BIGINT) AS sum_r2,
               CAST(list_sum(list_transform(range(0, ow*oh), o ->
                 ((3*(2*(o % ow)) + 5*(2*(o // ow)) + 2*k) % 256
                  + (3*(2*(o % ow)+1) + 5*(2*(o // ow)) + 2*k) % 256
                  + (3*(2*(o % ow)) + 5*(2*(o // ow)+1) + 2*k) % 256
                  + (3*(2*(o % ow)+1) + 5*(2*(o // ow)+1) + 2*k) % 256) // 4))
                 AS BIGINT) AS sum_g2,
               CAST(list_sum(list_transform(range(0, ow*oh), o ->
                 ((7*(2*(o % ow)) + 11*(2*(o // ow)) + k) % 256
                  + (7*(2*(o % ow)+1) + 11*(2*(o // ow)) + k) % 256
                  + (7*(2*(o % ow)) + 11*(2*(o // ow)+1) + k) % 256
                  + (7*(2*(o % ow)+1) + 11*(2*(o // ow)+1) + k) % 256) // 4))
                 AS BIGINT) AS sum_b2,
               CAST(list_sum(list_transform(
                 list_filter(range(0, ow*oh),
                   o -> ((o % ow) + (o // ow)) % 2 = 0), o ->
                 (((2*(o % ow)) + (2*(o // ow)) + 3*k) % 256
                  + ((2*(o % ow)+1) + (2*(o // ow)) + 3*k) % 256
                  + ((2*(o % ow)) + (2*(o // ow)+1) + 3*k) % 256
                  + ((2*(o % ow)+1) + (2*(o // ow)+1) + 3*k) % 256) // 4
                 + 2 * (((3*(2*(o % ow)) + 5*(2*(o // ow)) + 2*k) % 256
                  + (3*(2*(o % ow)+1) + 5*(2*(o // ow)) + 2*k) % 256
                  + (3*(2*(o % ow)) + 5*(2*(o // ow)+1) + 2*k) % 256
                  + (3*(2*(o % ow)+1) + 5*(2*(o // ow)+1) + 2*k) % 256) // 4)
                 + 3 * (((7*(2*(o % ow)) + 11*(2*(o // ow)) + k) % 256
                  + (7*(2*(o % ow)+1) + 11*(2*(o // ow)) + k) % 256
                  + (7*(2*(o % ow)) + 11*(2*(o // ow)+1) + k) % 256
                  + (7*(2*(o % ow)+1) + 11*(2*(o // ow)+1) + k) % 256) // 4)))
                 AS BIGINT) AS mix
        FROM g
        ORDER BY doc_id
      """.trim),
    ),

    // m48: the THUMBNAIL LADDER — m47's box filter generalized to k×k
    // (/4 and /8, the rungs a multimodal corpus build ships alongside
    // /2): per rung, each output pixel is the per-channel floor-average
    // of its k×k block (sum div k²; trailing partial blocks dropped,
    // out = in/k — libjpeg/Pillow "reduce" semantics). Dims span
    // 9-21 × 8-16 so every rung keeps ≥1 output pixel, both /4 and /8
    // drop varying remainders, and all four BMP row paddings occur.
    // One row per (image, rung); the oracle replays every nested block
    // average from the m7 pattern formula — all integer.
    Q(
      "m48_thumbnail_ladder",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val w = (col("doc_id") % 13 + 9).cast("int")
        val h = (col("doc_id") % 9 + 8).cast("int")
        val packed = docs.select(col("doc_id"),
          Multimodal.packBmp24(col("doc_id"), w, h).as("media"))
        Multimodal.decodeBmpBoxResizeLadder(packed, "doc_id", "media", Seq(4, 8))
          .select(
            col("id").as("doc_id"),
            col("k").cast("long").as("k"),
            col("out_w").cast("long").as("out_w"),
            col("out_h").cast("long").as("out_h"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("mix"))
          .orderBy("doc_id", "k")
      },
      Some(m48Oracle),
    ),
  )

  /** m48 oracle: the k×k block averages replayed as nested list ops
    * over the m7 pattern formula (x = k·ox + bx, y = k·oy + by). */
  private def m48Oracle: String = {
    val X = "(k*(o % ow) + b % k)"
    val Y = "(k*(o // ow) + b // k)"
    def blk(f: String) =
      s"(list_sum(list_transform(range(0, k*k), b -> $f)) // (k*k))"
    val rA = blk(s"($X + $Y + 3*kk) % 256")
    val gA = blk(s"(3*$X + 5*$Y + 2*kk) % 256")
    val bA = blk(s"(7*$X + 11*$Y + kk) % 256")
    def overOut(e: String, name: String) =
      s"CAST(COALESCE(list_sum(list_transform(range(0, ow*oh), o -> $e)), 0) AS BIGINT) AS $name"
    val mix =
      "CAST(COALESCE(list_sum(list_transform(" +
        "list_filter(range(0, ow*oh), o -> ((o % ow) + (o // ow)) % 2 = 0), " +
        s"o -> $rA + 2*$gA + 3*$bA)), 0) AS BIGINT) AS mix"
    s"""
      WITH g AS (
        SELECT doc_id, doc_id % 13 + 9 AS w, doc_id % 9 + 8 AS h,
               doc_id % 251 AS kk
        FROM documents),
      base AS (
        SELECT doc_id, k, kk, w // k AS ow, h // k AS oh
        FROM g CROSS JOIN (SELECT unnest([4, 8]) AS k) ks)
      SELECT doc_id, k::BIGINT AS k, ow::BIGINT AS out_w, oh::BIGINT AS out_h,
             ${overOut(rA, "sum_r")},
             ${overOut(gA, "sum_g")},
             ${overOut(bA, "sum_b")},
             $mix
      FROM base
      ORDER BY doc_id, k
    """.trim
  }

  private val n_ = "(k % 3 + 1)"
}
