package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Packed token-sequence shards with an index sidecar — the binary
  * layout a pretraining data loader random-accesses (the
  * Megatron-LM-style indexed dataset: a `.bin` of concatenated token
  * ids plus a `.idx` of per-document offsets; public format, described
  * in the Megatron-LM repository's `indexed_dataset.py`). This is the
  * EXPORT side of the curation pipeline: cu-family selects and packs
  * documents, t13/t14 tokenize them, and this sink lays the ids out so
  * a trainer fetches any document with one index lookup and one ranged
  * read — no parquet decode, no row-group scan, on the hot input path
  * of every training step.
  *
  * Layout per shard i (all through Hadoop FileSystem, so hdfs:// and
  * s3a:// targets work like the TFiles bridge):
  *  - `part-i.bin`  — each document's token ids as little-endian
  *    int32s, concatenated in doc_id order.
  *  - `part-i.idx`  — fixed 20-byte entries `(doc_id: i64 LE,
  *    byte_offset: i64 LE, n_tokens: i32 LE)`, sorted by doc_id — a
  *    reader binary-searches the entry, then ranged-reads the span.
  *  - `manifest.json` — shard → [min,max] doc_id span (the TFiles
  *    range-routing pattern), so a point fetch opens only the owning
  *    shard.
  *
  * Scale shape: shards are range-partitioned and internally sorted by
  * doc_id (one shuffle at write); fetches route via the broadcast
  * manifest, co-locate per shard, and share one open reader per task —
  * the same discipline as `TFiles.lookup`.
  */
object TokenShards {

  val FetchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("id_sum", LongType, nullable = false),
    StructField("first_id", IntegerType, nullable = false),
    StructField("last_id", IntegerType, nullable = false)))

  private val IdxEntryBytes = 20

  /** Write (doc_id: long, ids: array<int>) rows as range-partitioned
    * sorted .bin/.idx shard pairs under `dir`, plus manifest.json of
    * shard doc_id spans (driver-side, O(shards)). */
  def write(df: DataFrame, dir: String, shards: Int): Unit = {
    val spark = df.sparkSession
    val confEntries = HadoopConfs.snapshot(spark)
    // driver-side pre-clean: Hadoop rename FAILS onto an existing
    // destination, so a job re-run over the same dir would otherwise
    // keep the previous run's .bin/.idx under the new manifest (and a
    // smaller shard count would strand files past its range). After
    // this sweep, an in-job rename failure can only mean a faster
    // byte-identical duplicate attempt of THIS job — safe to drop.
    locally {
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(HadoopConfs.session(spark))
      if (fs.exists(dirPath)) fs.listStatus(dirPath).foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".bin") || n.endsWith(".idx") || n.startsWith("_tmp-"))
          fs.delete(st.getPath, false)
      }
    }
    val manifest = df.select(col("doc_id").cast("long"), col("ids"))
      .repartitionByRange(shards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .rdd.mapPartitionsWithIndex { (i, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          val conf = HadoopConfs.restore(confEntries)
          val binPath = new Path(f"$dir/part-$i%05d.bin")
          val idxPath = new Path(f"$dir/part-$i%05d.idx")
          val fs = binPath.getFileSystem(conf)
          // Task-commit protocol: a speculative or retried attempt must
          // never interleave bytes with a live attempt on the final
          // offset-sensitive paths. Each attempt writes to an
          // attempt-unique temp name and renames into place only after
          // a clean close; rename is atomic per file, and because the
          // input partition is deterministically sorted every winning
          // attempt produces identical bytes — whichever rename lands
          // first is complete and correct, the loser deletes its temp.
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val binTmp = new Path(f"$dir/_tmp-part-$i%05d.bin.$attempt")
          val idxTmp = new Path(f"$dir/_tmp-part-$i%05d.idx.$attempt")
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskFailureListener((_, _) => {
              fs.delete(binTmp, false); fs.delete(idxTmp, false); ()
            }))
          val bin = fs.create(binTmp, true)
          val idx = fs.create(idxTmp, true)
          // one little-endian index entry (FSDataOutputStream itself is
          // big-endian DataOutput — bypass it with an explicit buffer)
          val entry = java.nio.ByteBuffer.allocate(IdxEntryBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var min = Long.MaxValue
          var max = Long.MinValue
          var nDocs = 0L
          var off = 0L
          it.foreach { r =>
            val k = r.getLong(0)
            val ids = r.getSeq[Int](1)
            entry.clear(); entry.putLong(k).putLong(off).putInt(ids.length)
            idx.write(entry.array())
            val buf = java.nio.ByteBuffer.allocate(ids.length * 4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            ids.foreach(buf.putInt)
            bin.write(buf.array())
            off += ids.length.toLong * 4
            min = math.min(min, k); max = math.max(max, k); nDocs += 1
          }
          bin.close(); idx.close()
          commitPair(fs, binTmp, binPath, idxTmp, idxPath)
          Iterator((f"part-$i%05d", min, max, nDocs))
        }
      }.collect()
    val json = manifest.map { case (f, mn, mx, n) =>
      s"""{"stem":"$f","min":$mn,"max":$mx,"n":$n}"""
    }.mkString("", "\n", "\n")
    val mPath = new Path(dir, "manifest.json")
    val mOut = mPath.getFileSystem(HadoopConfs.session(spark)).create(mPath, true)
    try mOut.write(json.getBytes(UTF_8)) finally mOut.close()
  }

  /** PAIRED task commit — invariant: idx-present ⇒ bin-final. The two
    * renames are independently atomic but not jointly, so the idx goes
    * in only AFTER the bin is in final position; a reader that sees an
    * .idx can therefore always trust the .bin beside it. If the bin
    * rename fails the final must already exist (write's pre-clean swept
    * stale ones, so only a byte-identical faster duplicate attempt of
    * THIS job can own it) — then the idx rename proceeds against that
    * identical bin (also completing the pair for an attempt that died
    * between its two renames); if the final bin is somehow absent too
    * (a transient rename failure that is NOT duplicate-attempt
    * contention), the temps are dropped and the task FAILS — a silent
    * return here would let write() publish a manifest row for a shard
    * with no files, surfacing as data loss at fetch time. */
  private[graft] def commitPair(fs: org.apache.hadoop.fs.FileSystem,
      binTmp: Path, binPath: Path, idxTmp: Path, idxPath: Path): Unit = {
    val binLanded = fs.rename(binTmp, binPath) || fs.exists(binPath)
    if (binLanded) {
      fs.delete(binTmp, false) // no-op when our rename won
      // same fail-loud rule on the idx leg: rename-failed AND no final
      // in place is a transient FS fault, not duplicate contention — a
      // silent return would publish a manifest row for a bin with no idx
      val idxLanded = fs.rename(idxTmp, idxPath) || fs.exists(idxPath)
      if (idxLanded) fs.delete(idxTmp, false)
      else {
        fs.delete(idxTmp, false)
        throw new java.io.IOException(
          s"commit of $idxPath failed with no final in place — " +
            "failing the task so the shard is not published half-paired")
      }
    } else {
      fs.delete(binTmp, false); fs.delete(idxTmp, false)
      throw new java.io.IOException(
        s"commit of $binPath failed with no final in place — " +
          "failing the task so the shard is not published un-backed")
    }
  }

  /** Distributed point fetch: probe doc_ids route to their owning shard
    * via the broadcast manifest, co-locate per shard, and each task
    * binary-searches the shard's .idx then ranged-reads the .bin span —
    * the trainer's data-loader access pattern. Missing doc_ids produce
    * no row. Returns (doc_id, n_tokens, id_sum, first_id, last_id). */
  def fetch(spark: SparkSession, dir: String, probes: DataFrame): DataFrame = {
    // explicit schema: an empty write leaves a zero-record manifest, and
    // schema inference over it yields no columns — the select below would
    // then throw instead of returning the correct empty fetch result
    val manifestSchema = StructType(Seq(
      StructField("stem", StringType), StructField("min", LongType),
      StructField("max", LongType), StructField("n", LongType)))
    val manifest = spark.read.schema(manifestSchema).json(s"$dir/manifest.json")
      .select(col("stem"), col("min"), col("max"))
    val routed = probes.select(col("doc_id").cast("long").as("doc_id"))
      .join(broadcast(manifest),
        col("doc_id") >= col("min") && col("doc_id") <= col("max"))
      .select(col("stem"), col("doc_id"))
      .repartition(col("stem"))
      .sortWithinPartitions("stem", "doc_id")
    val confEntries = HadoopConfs.snapshot(spark)
    val rows = routed.rdd.mapPartitions { it =>
      val conf = HadoopConfs.restore(confEntries)
      var curStem: String = null
      var idx: java.nio.ByteBuffer = null
      var bin: org.apache.hadoop.fs.FSDataInputStream = null
      def close(): Unit = {
        if (bin != null) bin.close()
        bin = null; idx = null; curStem = null
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => close()))
      val out = it.flatMap { r =>
        val stem = r.getString(0); val k = r.getLong(1)
        if (stem != curStem) {
          close()
          val idxPath = new Path(s"$dir/$stem.idx")
          val fs = idxPath.getFileSystem(conf)
          // the whole index is entries×20 bytes — read it once per task
          // (the data loader equivalently mmaps it); .bin stays open for
          // ranged reads only
          val len = fs.getFileStatus(idxPath).getLen
          // 20 B/doc: 2 GiB of index = 107 M docs in ONE shard — a
          // mis-sized shard count, not a normal state. Fail loudly
          // instead of truncating through toInt.
          require(len <= Int.MaxValue,
            s"$idxPath is ${len} B; resize shard count so each .idx fits in memory")
          val raw = new Array[Byte](len.toInt)
          val in = fs.open(idxPath)
          try in.readFully(0, raw) finally in.close()
          idx = java.nio.ByteBuffer.wrap(raw)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          // pair-consistency gate (the fetch half of the paired-commit
          // invariant): the .bin must end exactly where the .idx's last
          // entry says it does — a truncated, stale, or mismatched bin
          // fails loudly here instead of returning silent garbage
          val binPath = new Path(s"$dir/$stem.bin")
          val binLen = fs.getFileStatus(binPath).getLen
          val entries = idx.capacity() / IdxEntryBytes
          if (entries > 0) {
            val lastOff = idx.getLong((entries - 1) * IdxEntryBytes + 8)
            val lastTok = idx.getInt((entries - 1) * IdxEntryBytes + 16)
            require(lastOff + lastTok.toLong * 4 == binLen,
              s"$stem: .bin is $binLen B but .idx expects ${lastOff + lastTok.toLong * 4} B — mixed or truncated shard pair")
          }
          bin = fs.open(binPath)
          curStem = stem
        }
        // binary search the sorted fixed-width entries for doc_id k
        val n = idx.capacity() / IdxEntryBytes
        var lo = 0; var hi = n - 1; var found = -1
        while (lo <= hi && found < 0) {
          val mid = (lo + hi) >>> 1
          val d = idx.getLong(mid * IdxEntryBytes)
          if (d == k) found = mid
          else if (d < k) lo = mid + 1
          else hi = mid - 1
        }
        if (found < 0) Iterator.empty
        else {
          val off = idx.getLong(found * IdxEntryBytes + 8)
          val nTok = idx.getInt(found * IdxEntryBytes + 16)
          val raw = new Array[Byte](nTok * 4)
          bin.readFully(off, raw)
          val bb = java.nio.ByteBuffer.wrap(raw)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var s = 0L
          var i = 0
          while (i < nTok) { s += bb.getInt(i * 4); i += 1 }
          val first = if (nTok > 0) bb.getInt(0) else -1
          val last = if (nTok > 0) bb.getInt((nTok - 1) * 4) else -1
          Iterator(Row(k, nTok, s, first, last))
        }
      }
      new Iterator[Row] {
        def hasNext: Boolean = { val h = out.hasNext; if (!h) close(); h }
        def next(): Row = out.next()
      }
    }
    spark.createDataFrame(rows, FetchSchema)
  }
}
