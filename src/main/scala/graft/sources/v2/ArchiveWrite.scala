package graft.sources.v2

import java.io.{FilterOutputStream, OutputStream}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The write protocol `graft-arc` and `graft-warc` share (the reference's
  * archive writer rolls at a size cap and renames finished files into
  * place, util/ArcFileWriter.java:77-88).
  *
  * Each task writes `part-<partition>-<task>[-<seq>].<ext>` files under a
  * `_temporary` prefix; files ROLL at `rollSize` bytes, so one huge task
  * never produces one huge archive, and every rolled file opens with the
  * format's own version record, so it stands alone. The driver renames the
  * task files into place at commit (rename is atomic on HDFS-like stores),
  * so a failed or speculative task never leaves a partial archive visible.
  * A format supplies only its member encoding ([[ArchiveEncoder]]).
  */
final case class ArchiveBatchWrite(
    format: String,
    path: String,
    conf: SerializableConfiguration,
    rollSize: Long,
    newEncoder: () => ArchiveEncoder,
) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ArchiveWriterFactory(path, conf, rollSize, newEncoder)

  /** NOTE: like Hadoop's v1 file committer, the rename loop is not
    * atomic across tasks — a rename failure throws after earlier tasks'
    * archives are already visible. Callers treating the output dir as
    * transactional should write to a fresh directory per attempt. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    messages.foreach { case ArchiveCommit(tmps) =>
      tmps.foreach { tmp =>
        val src = new Path(tmp)
        val dst = new Path(dir, src.getName)
        // rename returns false (not an exception) on e.g. an existing
        // destination; ignoring it would silently drop the task's archive
        // and then delete it with _temporary below
        if (!fs.rename(src, dst))
          throw new java.io.IOException(
            s"$format commit: rename $src -> $dst failed (destination exists?)")
      }
    }
    fs.delete(new Path(dir, "_temporary"), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.collect { case ArchiveCommit(tmps) =>
      tmps.foreach(t => fs.delete(new Path(t), false))
    }
    fs.delete(new Path(path, "_temporary"), true)
  }
}

object ArchiveBatchWrite {
  /** Checks the write's `path` option and required columns, in that order. */
  def validate(format: String, path: String, schema: StructType,
      required: Seq[String]): Unit = {
    require(path != null, s"$format: 'path' option is required to write")
    require(required.forall(schema.fieldNames.contains),
      s"$format write needs columns $required, got ${schema.fieldNames.toSeq}")
  }
}

final case class ArchiveCommit(tmpFiles: Seq[String]) extends WriterCommitMessage

final case class ArchiveWriterFactory(
    path: String,
    conf: SerializableConfiguration,
    rollSize: Long,
    newEncoder: () => ArchiveEncoder,
) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ArchiveDataWriter(path, conf, partitionId, taskId, rollSize, newEncoder())
}

/** What a format writes into the files of one task's roll sequence. */
abstract class ArchiveEncoder {
  /** File extension, e.g. `arc.gz`. */
  def ext: String
  /** The version record that opens every file (`fileName` is its name). */
  def begin(out: OutputStream, fileName: String): Unit
  def write(out: OutputStream, row: InternalRow): Unit
  /** Called before each file closes, rolled or committed. */
  def finish(out: OutputStream): Unit = ()
}

final class ArchiveDataWriter(
    dir: String,
    conf: SerializableConfiguration,
    partitionId: Int,
    taskId: Long,
    rollSize: Long,
    encoder: ArchiveEncoder,
) extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(conf.value)
  private val done = scala.collection.mutable.ArrayBuffer[String]()
  private var seq = 0
  private var tmp: Path = null
  private var out: FSDataOutputStream = null
  openNext()

  /** Start the next archive in the roll sequence. */
  private def openNext(): Unit = {
    val name =
      if (seq == 0) f"part-$partitionId%05d-$taskId.${encoder.ext}"
      else f"part-$partitionId%05d-$taskId-$seq%04d.${encoder.ext}"
    tmp = new Path(new Path(dir, "_temporary"), name)
    out = fs.create(tmp, true)
    seq += 1
    encoder.begin(out, name)
  }

  private def closeFile(): Unit = {
    encoder.finish(out)
    out.close()
    done += tmp.toString
  }

  override def write(row: InternalRow): Unit = {
    // roll LAZILY (before the next record, not after the last): an eager
    // post-write roll would commit a trailing archive holding only the
    // version record when the final record crosses the cap
    if (out.getPos >= rollSize) { closeFile(); openNext() }
    encoder.write(out, row)
  }

  override def commit(): WriterCommitMessage = {
    closeFile()
    ArchiveCommit(done.toSeq)
  }

  override def abort(): Unit = {
    out.close()
    (done.toSeq :+ tmp.toString).foreach(t => fs.delete(new Path(t), false))
  }

  override def close(): Unit = ()
}

/** Shields the shared file stream from a member codec's close(), so each
  * member's close() can release its native compressor (GZIPOutputStream
  * .finish() alone never calls Deflater.end() — one leaked native buffer
  * per record would OOM a large task) while the archive stays open. */
private[v2] final class NonClosing(o: OutputStream) extends FilterOutputStream(o) {
  override def close(): Unit = flush()
  override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
}
