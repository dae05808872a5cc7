package graft

import org.apache.spark.sql.{Column, DataFrame, SeamCalls}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Pins every decoder on [[Seam.rows]]: it runs once per input row,
  * whatever the query selects or filters; a null media reaches it and
  * yields the decoder's sentinel row, never a failed job; and the output
  * schema is the one each decoder had when it ran as a `mapPartitions` +
  * `createDataFrame` seam. */
class SeamSpec extends AnyFunSuite with SparkSuite {

  /** A decoder, its output schema (`!` = not null) for a non-null id,
    * and its sentinel row for id 7 with a null media. `media` builds
    * the bytes of a row from its id. */
  private case class D(name: String, run: (DataFrame, String, String) => DataFrame,
      schema: String, nullRow: String,
      media: Column => Column = k => bin(k).cast("binary"))

  private val decoders = Seq(
    D("Av1.decodeAv1Seq", Av1.decodeAv1Seq _,
      "id:bigint!,profile:bigint!,still_picture:bigint!,level:bigint!," +
        "bs_width:bigint!,bs_height:bigint!,bit_depth:bigint!," +
        "monochrome:bigint!,use_128_sb:bigint!,enable_cdef:bigint!," +
        "enable_restoration:bigint!,film_grain:bigint!",
      "[7,-1,0,-1,-1,-1,-1,0,0,0,0,0]"),
    D("Avif.decodeAvifMeta", Avif.decodeAvifMeta _,
      "id:bigint!,kind:string,primary_item:bigint!,n_items:bigint!," +
        "width:bigint!,height:bigint!,n_channels:bigint!,has_alpha:bigint!," +
        "has_exif:bigint!,primary_bytes:bigint!,n_extents:bigint!," +
        "bounds_ok:bigint!",
      "[7,null,-1,-1,-1,-1,-1,0,0,-1,-1,0]"),
    D("DocText.extractDocText", DocText.extractDocText _,
      "id:bigint!,kind:string,src_name:string,n_parts:bigint!,text:string",
      "[7,null,null,-1,null]"),
    D("Exif.decodeExifMeta", Exif.decodeExifMeta _,
      "id:bigint!,byte_order:string,orientation:bigint!,make:string," +
        "model:string,date_time:string,date_time_original:string," +
        "exif_width:bigint!,exif_height:bigint!,has_gps:bigint!," +
        "gps_lat_ppm:bigint!,gps_lon_ppm:bigint!",
      "[7,null,-1,null,null,null,null,-1,-1,0,-1,-1]"),
    D("Flac.decodeFlacTagStats", Flac.decodeFlacTagStats _,
      "id:bigint!,vendor:string,title:string,language:string," +
        "nchars_tag:bigint!",
      "[7,null,null,null,-1]"),
    D("Flac.decodeFlacPcmStats", Flac.decodeFlacPcmStats _,
      "id:bigint!,channels:int!,n_samples:bigint!,sum_ch0:bigint!," +
        "sum_ch1:bigint!,sum_abs:bigint!,wsum_ch0:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Ico.decodeIcoStats", Ico.decodeIcoStats _,
      "id:bigint!,n_images:bigint!,width0:bigint!,height0:bigint!," +
        "sum_r:bigint!,sum_g:bigint!,sum_b:bigint!,n_transparent:bigint!",
      "[7,-1,-1,-1,-1,-1,-1,-1]"),
    D("JpegProgressive.decodeJpegProgPixelStats", JpegProgressive.decodeJpegProgPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Mp3.decodeMp3Meta", Mp3.decodeMp3Meta _,
      "id:bigint!,sample_rate:bigint!,mode:string,n_frames:bigint!," +
        "duration_ms:bigint!,audio_bytes:bigint!,avg_kbps:bigint!," +
        "vbr_header:string,vbr_frames:bigint!,title:string,artist:string," +
        "track:bigint!,nchars_tag:bigint!,has_id3v1:boolean!",
      "[7,-1,null,-1,-1,-1,-1,null,-1,null,null,-1,-1,false]"),
    D("Multimodal.decodeHeaderStub", Multimodal.decodeHeaderStub _,
      "id:bigint!,format:string!,n_frames:int!,payload_len:int!",
      "[7,bad,-1,-1]", k => Multimodal.packMedia(k.cast("string"), lit(0), lit(1))),
    D("Multimodal.decodeImageHeaders", Multimodal.decodeImageHeaders _,
      "id:bigint!,format:string!,width:int!,height:int!",
      "[7,unknown,-1,-1]"),
    D("Multimodal.decodeAvHeaders", Multimodal.decodeAvHeaders _,
      "id:bigint!,format:string!,channels:int!,sample_rate:int!,bits:int!," +
        "duration_ms:bigint!",
      "[7,unknown,-1,-1,-1,0]"),
    D("Multimodal.decodeBmpBoxResize", Multimodal.decodeBmpBoxResize _,
      "id:bigint!,out_w:int!,out_h:int!,sum_r2:bigint!,sum_g2:bigint!," +
        "sum_b2:bigint!,mix:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodePngPixelStats", Multimodal.decodePngPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeGifPixelStats", Multimodal.decodeGifPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeJpegPixelStats", Multimodal.decodeJpegPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeAudioFps", Multimodal.decodeAudioFps _,
      "id:bigint!,format:string!,fp:bigint!",
      "[7,bad,-1]"),
    D("Multimodal.decodeAudioQuality", Multimodal.decodeAudioQuality _,
      "id:bigint!,format:string!,n_samples:bigint!,peak:bigint!," +
        "n_clip:bigint!,zero_cross:bigint!,sum_abs:bigint!",
      "[7,bad,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeWavAutocorrStats",
      (d, i, m) => Multimodal.decodeWavAutocorrStats(d, i, m, Seq(1, 3)),
      "id:bigint!,n_samples:bigint!,energy:bigint!,ac1:bigint!," +
        "ac3:bigint!",
      "[7,-1,-1,-1,-1]"),
    D("Multimodal.decodeWavWindowStats", (d, i, m) => Multimodal.decodeWavWindowStats(d, i, m, 50),
      "id:bigint!,n_samples:bigint!,win_abs:array<bigint!>!",
      "[7,-1,ArraySeq()]"),
    D("Multimodal.decodeWavSampleStats", Multimodal.decodeWavSampleStats _,
      "id:bigint!,channels:int!,n_samples:bigint!,sum_s:bigint!," +
        "sum_abs:bigint!,max_abs:bigint!",
      "[7,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeImageDHashes", Multimodal.decodeImageDHashes _,
      "id:bigint!,format:string!,width:int!,height:int!,h_hi:bigint!," +
        "h_lo:bigint!",
      "[7,bad,-1,-1,-1,-1]"),
    D("Multimodal.decodeBmpDHashes", Multimodal.decodeBmpDHashes _,
      "id:bigint!,width:int!,height:int!,h_hi:bigint!,h_lo:bigint!",
      "[7,-1,-1,-1,-1]"),
    D("Multimodal.decodeBmpPixelStats", Multimodal.decodeBmpPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Multimodal.decodeMp4SampleSizes", Multimodal.decodeMp4SampleSizes _,
      "id:bigint!,sizes:array<int!>!",
      "[7,ArraySeq()]"),
    D("Multimodal.decodeMp4SampleStats", Multimodal.decodeMp4SampleStats _,
      "id:bigint!,n_samples:bigint!,duration_ms:bigint!," +
        "total_sample_bytes:bigint!,max_sample_size:bigint!",
      "[7,-1,0,0,0]"),
    D("Ogg.decodeOggMeta", Ogg.decodeOggMeta _,
      "id:bigint!,serial:bigint!,channels:bigint!,pre_skip:bigint!," +
        "input_rate:bigint!,n_pages:bigint!,duration_ms:bigint!," +
        "vendor:string,title:string,artist:string,crc_ok:bigint!",
      "[7,-1,-1,-1,-1,-1,-1,null,null,null,0]"),
    D("Pdf.decodePdfMeta", Pdf.decodePdfMeta _,
      "id:bigint!,version:string,n_objects:bigint!,page_count:bigint!," +
        "title:string,author:string,creation_date:string,encrypted:bigint!",
      "[7,null,-1,-1,null,null,null,0]"),
    D("PdfText.extractPdfText", PdfText.extractPdfText _,
      "id:bigint!,n_pages:bigint!,text:string",
      "[7,-1,null]"),
    D("Tar.decodeTarMeta", Tar.decodeTarMeta _,
      "id:bigint!,n_entries:bigint!,n_files:bigint!,n_dirs:bigint!," +
        "sum_bytes:bigint!,max_entry_bytes:bigint!,first_name:string," +
        "unsafe_paths:bigint!,checksum_ok:bigint!",
      "[7,-1,-1,-1,-1,-1,null,-1,0]"),
    D("Vp8.decodeWebpVp8Stats", Vp8.decodeWebpVp8Stats _,
      "id:bigint!,width:int!,height:int!,sum_y:bigint!,sum_u:bigint!," +
        "sum_v:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("Vp8l.decodeWebpPixelStats", Vp8l.decodeWebpPixelStats _,
      "id:bigint!,width:int!,height:int!,sum_r:bigint!,sum_g:bigint!," +
        "sum_b:bigint!,even_sum:bigint!",
      "[7,-1,-1,-1,-1,-1,-1]"),
    D("WebpAnim.decodeWebpAnimMeta", WebpAnim.decodeWebpAnimMeta _,
      "id:bigint!,kind:string,canvas_w:bigint!,canvas_h:bigint!," +
        "n_frames:bigint!,total_duration_ms:bigint!,loop_count:bigint!," +
        "sum_frame_area:bigint!",
      "[7,null,-1,-1,-1,-1,-1,-1]"),
    D("Woff2.decodeWoff2Meta", Woff2.decodeWoff2Meta _,
      "id:bigint!,flavor:string,n_tables:bigint!,n_known:bigint!," +
        "n_custom:bigint!,n_transformed:bigint!,sum_orig:bigint!," +
        "total_sfnt_size:bigint!,blob_ok:bigint!,decomp_len:bigint!," +
        "has_meta:bigint!,meta_orig:bigint!",
      "[7,null,-1,-1,-1,-1,-1,-1,0,-1,0,-1]"),
    D("Zip.decodeZipMeta", Zip.decodeZipMeta _,
      "id:bigint!,kind:string,n_entries:bigint!,sum_comp:bigint!," +
        "sum_uncomp:bigint!,max_ratio_ppm:bigint!,n_stored:bigint!," +
        "n_deflate:bigint!,first_name:string,crc_ok:bigint!",
      "[7,null,-1,-1,-1,-1,-1,-1,null,0]"),
  )

  private def sig(dt: DataType): String = dt match {
    case ArrayType(e, containsNull) => s"array<${sig(e)}${if (containsNull) "" else "!"}>"
    case s: StructType => s.fields.map(f =>
      s"${f.name}:${sig(f.dataType)}${if (f.nullable) "" else "!"}").mkString(",")
    case o => o.catalogString
  }

  /** `n` rows of (k, m = media(k)), and a null media at k = 7 when
    * `withNull`. */
  private def input(n: Int, withNull: Boolean,
      media: Column => Column = k => bin(k).cast("binary")): DataFrame =
    spark.range(0, n).select(col("id").as("k"),
      (if (withNull) when(col("id") =!= 7, media(col("id")))
       else media(col("id"))).as("m"))

  /** Calls of the decoder while `df` is collected. */
  private def calls(df: DataFrame): Long = {
    val acc = spark.sparkContext.longAccumulator
    SeamCalls.counted(df, Seam.UdfName, acc).collect()
    acc.value
  }

  for (d <- decoders) test(s"${d.name}: one call per row, its schema and null row") {
    val in = input(8, withNull = true, d.media)
    val out = d.run(in, "k", "m")
    assert(sig(out.schema) == d.schema)
    // every field read, and a filter on a decoded field: neither may
    // inline or repeat the call
    assert(calls(out) == 8)
    val f = out.columns(1)
    assert(calls(out.where(coalesce(col(f).cast("string"), lit("")) =!= "\u0001")
      .select(out.columns.map(col).toSeq: _*)) == 8)
    assert(out.where(col("id") === 7).collect().map(_.toString).toSeq == Seq(d.nullRow))
  }

  test("decodeHeaderStub returns its sentinel on bytes that are not a GRFT container") {
    val in = spark.range(0, 4).select(col("id").as("k"),
      when(col("id") === 0, Multimodal.packMedia(lit("x"), lit(0), lit(1)))
        .when(col("id") === 1, lit("GRFT0abcd:payload").cast("binary"))
        .when(col("id") === 2, lit("GRF").cast("binary"))
        .otherwise(lit("not a container at all").cast("binary")).as("m"))
    val rows = Multimodal.decodeHeaderStub(in, "k", "m").orderBy("id")
      .collect().map(_.toString).toSeq
    assert(rows.head.startsWith("[0,img,"))
    assert(rows.tail == Seq("[1,bad,-1,-1]", "[2,bad,-1,-1]", "[3,bad,-1,-1]"))
  }

  test("the id passes through as the input attribute, keeping its nullability") {
    val nullableId = input(4, withNull = false).select(
      when(col("k") >= 0, col("k")).as("k"), col("m"))
    val out = Multimodal.decodeImageHeaders(nullableId, "k", "m")
    assert(out.schema("id").nullable)
    assert(out.where(col("id").isNull).count() == 0)
  }
}
