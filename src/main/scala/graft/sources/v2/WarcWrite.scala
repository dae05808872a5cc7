package graft.sources.v2

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

/** The `graft-warc` write path, over the shared [[ArchiveBatchWrite]]
  * protocol: `part-<partition>-<task>[-<seq>].warc.gz` (or `.warc.zst`)
  * task files, renamed into place at commit; files roll at `rollSize`
  * bytes (default 1 GB), each rolled file opening with its own
  * `warcinfo` record so every archive is standalone.
  *
  * Record layout (ISO 28500): one gzip member per record — the
  * member-seekable layout the reader exposes as `offset` — containing
  * the `WARC/1.0` line, named headers, blank line, the block, and the
  * closing CRLF CRLF. `WARC-Record-ID` is a deterministic name-based
  * UUID over (url, date, block): re-writing the same data produces the
  * same archive bytes, which keeps the round-trip queries hashable.
  *
  * Required columns: `url, warc_type, warc_date, content_type, content`;
  * optional `ip` (written as WARC-IP-Address when present and non-null).
  */
final case class WarcWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = info.options.get("path")
      val codec = info.options.getOrDefault("codec", "gzip")
      val dictSamples = info.options.getInt("dictSamples", 0)
      ArchiveBatchWrite.validate(WarcFormat.name, path, info.schema(),
        Seq("url", "warc_type", "warc_date", "content_type", "content"))
      require(codec == "gzip" || codec == "zstd",
        s"graft-warc: codec must be gzip or zstd, got $codec")
      require(dictSamples == 0 || codec == "zstd",
        "graft-warc: dictSamples requires codec=zstd")
      val fieldNames = info.schema().fieldNames
      ArchiveBatchWrite(WarcFormat.name, path,
        new SerializableConfiguration(
          SparkSession.active.sparkContext.hadoopConfiguration),
        info.options.getLong("rollSize", 1000000000L),
        () => new WarcEncoder(fieldNames, codec, dictSamples))
    }
  }
}

/** One member (gzip) or frame (zstd) per record, each file opening with
  * a `warcinfo` record; optionally a per-file zstd dictionary. */
final class WarcEncoder(
    fieldNames: Array[String],
    codec: String,
    dictSamples: Int,
) extends ArchiveEncoder {

  private val idx = fieldNames.zipWithIndex.toMap
  private val hasIp = idx.contains("ip")
  // optional map<string,string> column: extra named WARC headers written
  // verbatim (e.g. WARC-Payload-Digest / WARC-Refers-To on revisit
  // records); the reader surfaces them back through `warc_headers`
  private val hasExtra = idx.contains("extra_headers")

  override val ext: String = if (codec == "zstd") "warc.zst" else "warc.gz"

  // --- per-file dictionary state (dictSamples > 0, codec=zstd): the
  // first N records of each FILE are buffered, a zstd dictionary is
  // trained on them, a skippable frame (magic 0x184D2A5D — the IIPC
  // warc-zstd dictionary slot) is written, then every member of the
  // file compresses against the shared dictionary. Files that close
  // before N samples (or whose training fails — zdict needs enough
  // material) flush self-contained. Buffered bytes are budgeted.
  private val MaxPendingBytes = 8L << 20
  private val pending = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
  private var pendingBytes = 0L
  private var fileDict: com.github.luben.zstd.ZstdDictCompress = null

  override def begin(out: OutputStream, fileName: String): Unit = {
    val info = "software: graft\r\nformat: WARC File Format 1.0\r\n".getBytes(UTF_8)
    writeMember(out, Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> recordId(fileName, "", info),
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Filename" -> fileName,
      "Content-Type" -> "application/warc-fields",
    ), info)
  }

  /** Deterministic name-based record id (RFC 4122 v3 over the record's
    * identity), so identical input rewrites identical archives. */
  private def recordId(url: String, date: String, block: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(url.getBytes(UTF_8)); md.update(0.toByte)
    md.update(date.getBytes(UTF_8)); md.update(0.toByte)
    md.update(block)
    s"<urn:uuid:${java.util.UUID.nameUUIDFromBytes(md.digest())}>"
  }

  private def serializeMember(headers: Seq[(String, String)],
      block: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append("\r\n") }
    head.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    head.toString.getBytes(UTF_8) ++ block ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** One member (gzip) / one frame (zstd) per record — the seekable
    * layout; close() ends the member, NonClosing shields the shared
    * file stream in both codecs. */
  private def emitCompressed(out: OutputStream, bytes: Array[Byte]): Unit = {
    val z: OutputStream =
      if (codec == "zstd") {
        val zs = new com.github.luben.zstd.ZstdOutputStream(new NonClosing(out), 3)
        if (fileDict != null) zs.setDict(fileDict)
        zs
      } else new GZIPOutputStream(new NonClosing(out))
    z.write(bytes)
    z.close()
  }

  private def trainAndFlush(out: OutputStream): Unit = {
    val dict =
      try {
        val trainer = new com.github.luben.zstd.ZstdDictTrainer(
          math.min(pendingBytes, MaxPendingBytes).toInt + 1024, 16 << 10)
        pending.foreach(trainer.addSample)
        trainer.trainSamples() // formatted dict: entropy tables + ID
      } catch {
        case _: com.github.luben.zstd.ZstdException =>
          // zdict needs more material than small files provide; fall
          // back to a RAW-CONTENT dictionary (legal per RFC 8878 §5 —
          // no magic, no entropy tables, pure back-reference window):
          // the concatenated sample head, capped. Frames compressed
          // against it carry no Dictionary_ID; the reader applies the
          // captured slot to every frame, which is a no-op for frames
          // that never reference it.
          val cap = 16 << 10
          val buf = new java.io.ByteArrayOutputStream(cap)
          pending.iterator.takeWhile(_ => buf.size < cap).foreach { b =>
            buf.write(b, 0, math.min(b.length, cap - buf.size))
          }
          buf.toByteArray
      }
    // skippable dictionary frame: LE magic, LE content size, dict bytes
    val hdr = new Array[Byte](8)
    hdr(0) = 0x5d; hdr(1) = 0x2a; hdr(2) = 0x4d; hdr(3) = 0x18
    hdr(4) = (dict.length & 0xff).toByte
    hdr(5) = ((dict.length >> 8) & 0xff).toByte
    hdr(6) = ((dict.length >> 16) & 0xff).toByte
    hdr(7) = ((dict.length >> 24) & 0xff).toByte
    out.write(hdr); out.write(dict)
    fileDict = new com.github.luben.zstd.ZstdDictCompress(dict, 3)
    pending.foreach(emitCompressed(out, _))
    pending.clear()
    pendingBytes = 0L
  }

  private def writeMember(out: OutputStream, headers: Seq[(String, String)],
      block: Array[Byte]): Unit = {
    val bytes = serializeMember(headers, block)
    if (codec == "zstd" && dictSamples > 0 && fileDict == null) {
      pending += bytes
      pendingBytes += bytes.length
      if (pending.length >= dictSamples || pendingBytes >= MaxPendingBytes)
        trainAndFlush(out)
    } else emitCompressed(out, bytes)
  }

  /** End-of-file bookkeeping: flush an untrained buffer self-contained
    * and drop the per-file dictionary so the next file trains its own. */
  override def finish(out: OutputStream): Unit = {
    if (pending.nonEmpty) trainAndFlush(out)
    if (fileDict != null) { fileDict.close(); fileDict = null }
  }

  override def write(out: OutputStream, row: InternalRow): Unit = {
    val url = row.getUTF8String(idx("url")).toString
    val wtype = row.getUTF8String(idx("warc_type")).toString
    val date = row.getUTF8String(idx("warc_date")).toString
    val ctype = row.getUTF8String(idx("content_type")).toString
    val block = row.getBinary(idx("content"))
    val ip =
      if (hasIp && !row.isNullAt(idx("ip"))) row.getUTF8String(idx("ip")).toString
      else null
    val extras: Seq[(String, String)] =
      if (!hasExtra || row.isNullAt(idx("extra_headers"))) Seq.empty
      else {
        val m = row.getMap(idx("extra_headers"))
        (0 until m.numElements()).map { i =>
          m.keyArray.getUTF8String(i).toString ->
            m.valueArray.getUTF8String(i).toString
        }
      }
    val headers = Seq(
      "WARC-Type" -> wtype,
      "WARC-Record-ID" -> recordId(url, date, block),
      "WARC-Date" -> date,
      "WARC-Target-URI" -> url) ++
      (if (ip == null) Seq.empty else Seq("WARC-IP-Address" -> ip)) ++
      extras ++
      Seq("Content-Type" -> ctype)
    writeMember(out, headers, block)
  }
}
