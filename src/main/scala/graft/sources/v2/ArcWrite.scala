package graft.sources.v2

import java.io.OutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.util.SerializableConfiguration

/** The `graft-arc` write path (S7 — the reference's ParserOutputFormat
  * writes crawl output back as ARC archives,
  * mapred/ec2/parser/ParserOutputFormat.java:81), over the shared
  * [[ArchiveBatchWrite]] protocol.
  *
  * Each file is a filedesc:// version block followed by one gzip member
  * per record — the exact layout the reader streams, so archives
  * round-trip and stay seekable by member offset. `rollSize` defaults to
  * the reference's 100 MB cap (util/ArcFileWriter.java:88).
  */
final case class ArcWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = info.options.get("path")
      ArchiveBatchWrite.validate(ArcFormat.name, path, info.schema(),
        Seq("url", "ip", "archive_date", "mime_type", "content"))
      val fieldNames = info.schema().fieldNames
      ArchiveBatchWrite(ArcFormat.name, path,
        new SerializableConfiguration(
          SparkSession.active.sparkContext.hadoopConfiguration),
        info.options.getLong("rollSize", 100000000L),
        () => new ArcEncoder(fieldNames))
    }
  }
}

/** One gzip member per record: `url ip date mime length\n`, the payload,
  * and a closing newline. */
final class ArcEncoder(fieldNames: Array[String]) extends ArchiveEncoder {
  private val idx = fieldNames.zipWithIndex.toMap

  override def ext: String = "arc.gz"

  override def begin(out: OutputStream, fileName: String): Unit =
    writeMember(out,
      s"filedesc://$fileName 0.0.0.0 20080101000000 text/plain",
      "1 0 graft\nURL IP-address Archive-date Content-type Archive-length"
        .getBytes("UTF-8"))

  override def write(out: OutputStream, row: InternalRow): Unit = {
    val url = row.getUTF8String(idx("url")).toString
    val ip = row.getUTF8String(idx("ip")).toString
    val date = row.getUTF8String(idx("archive_date")).toString
    val mime = row.getUTF8String(idx("mime_type")).toString
    writeMember(out, s"$url $ip $date $mime", row.getBinary(idx("content")))
  }

  private def writeMember(out: OutputStream, headerPrefix: String,
      payload: Array[Byte]): Unit = {
    val gz = new GZIPOutputStream(new NonClosing(out))
    gz.write(s"$headerPrefix ${payload.length}".getBytes("UTF-8"))
    gz.write('\n')
    gz.write(payload)
    gz.write('\n')
    gz.close() // member boundary: finish + end() the deflater; file stays open
  }
}
