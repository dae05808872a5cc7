package graft.sources.v2

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** Streaming flavor of the `graft-arc` scan: each micro-batch processes
  * the archive files that arrived since the last batch — the Spark-native
  * form of the reference's incremental segment model (each crawl phase
  * consumes the segment directories newer than its last watermark,
  * CrawlDBMergeJob-style), with exactly-once file-level semantics from
  * the streaming engine's offset log.
  *
  * The offset is a NAME WATERMARK: the lexicographically greatest file
  * path already processed. Archives are assumed to arrive with
  * monotonically increasing names (the reference names archives by
  * timestamp/segment id, so this holds in practice); a file sorting
  * before the watermark is treated as already processed. Unlike a
  * file-count offset, the watermark survives deletion of already
  * processed archives (retention/compaction): new arrivals sort after
  * it regardless of how many older files disappeared.
  */
final case class ArcStreamOffset(lastFile: String) extends Offset {
  override def json(): String = {
    // control chars are legal in POSIX file names; an unescaped one would
    // corrupt the streaming offset log (invalid JSON in the checkpoint)
    val esc = lastFile.flatMap {
      case '"'             => "\\\""
      case '\\'            => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c               => c.toString
    }
    s"""{"lastFile":"$esc"}"""
  }
}

/** Shared by the ARC and WARC scans (file-per-partition, name watermark). */
final class ArcMicroBatchStream(scan: ArchiveScan) extends MicroBatchStream {

  private def sortedFiles() = scan.listFiles()

  override def initialOffset(): Offset = ArcStreamOffset("")

  override def latestOffset(): Offset =
    ArcStreamOffset(
      sortedFiles().map(_.getPath.toString).maxOption.getOrElse(""))

  override def deserializeOffset(json: String): Offset = {
    // a checkpoint from the earlier file-count offset format must fail
    // loudly — silently mapping it to the initial offset would replay
    // every already-processed archive as duplicates
    if (json.contains("\"fileCount\""))
      throw new IllegalStateException(
        s"${scan.format.name}: legacy file-count stream offset $json is not " +
          "supported; restart the stream with a fresh checkpoint location")
    ArcStreamOffset(
      """"lastFile"\s*:\s*"((?:[^"\\]|\\u[0-9a-fA-F]{4}|\\.)*)"""".r
        .findFirstMatchIn(json)
        .map(m => unescape(m.group(1)))
        .getOrElse(""))
  }

  // single left-to-right pass so a backslash consumed by one escape can
  // never be re-read as the start of another
  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e =>
            out.append(e); i += 2
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ArcStreamOffset].lastFile
    val to = end.asInstanceOf[ArcStreamOffset].lastFile
    sortedFiles()
      .filter { st =>
        val p = st.getPath.toString
        p > from && p <= to
      }
      .map { st =>
        ArchiveInputPartition(st.getPath.toString, st.getLen, Array.empty): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
