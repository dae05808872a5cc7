package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArcRecord, ArcSource, GzipMembers}
import graft.sources.v2.{ArcFormat, ArchiveScan}

class ArcV2Spec extends AnyFunSuite with SparkSuite {

  private def rec(url: String, mime: String, body: String) =
    ArcRecord(url, "10.0.0.1", "20240101120000", mime, body.length.toLong,
      body.getBytes("UTF-8"))

  private lazy val fixtures: (String, Seq[ArcRecord]) = {
    val dir = Files.createTempDirectory("arcv2").toString
    val a = Seq(
      rec("http://a.com/", "text/html", "<html>alpha</html>"),
      rec("http://a.com/img.png", "image/png", "PNGDATA" * 100),
      rec("http://b.org/x", "text/html", "<html>beta</html>"),
    )
    val b = Seq(
      rec("http://c.net/doc", "text/plain", "plain text " * 50),
      rec("http://a.com/two", "text/html", "<html>gamma</html>"),
    )
    Files.write(Paths.get(dir, "one.arc.gz"), ArcSource.writeArc(a))
    Files.write(Paths.get(dir, "two.arc.gz"), ArcSource.writeArc(b))
    Files.write(Paths.get(dir, "ignore.txt"), "not an arc".getBytes)
    (dir, a ++ b)
  }

  test("GzipMembers streams members with correct offsets") {
    val bytes = ArcSource.writeArc(fixtures._2.take(3))
    val spans = ArcSource.memberSpans(bytes) // buffered ground truth
    val gm = new GzipMembers(new ByteArrayInputStream(bytes), bufSize = 37)
    var got = List.empty[(Long, Int)]
    var m = gm.nextMember()
    while (m != null) {
      var n = 0
      val tmp = new Array[Byte](64)
      var r = m.read(tmp, 0, tmp.length)
      while (r >= 0) { n += r; r = m.read(tmp, 0, tmp.length) }
      got ::= (gm.memberOffset, n)
      m = gm.nextMember()
    }
    assert(got.reverse.map(_._1) == spans.map(_._1))
    assert(got.forall(_._2 > 0))
  }

  test("V2 scan matches the binaryFile-based reader row-for-row") {
    val (dir, recs) = fixtures
    val v2 = spark.read.format("graft-arc").load(dir)
      .select("url", "mime_type", "length", "content")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        new String(r.getAs[Array[Byte]](3), "UTF-8")))
      .sortBy(_._1)
    val v1 = ArcSource.read(spark, dir).collect()
      .map(r => (r.url, r.mimeType, r.length, new String(r.content, "UTF-8")))
      .sortBy(_._1)
    assert(v2.length == recs.length)
    assert(v2.toSeq == v1.toSeq)
  }

  test("column pruning reaches the scan: metadata query reads no content") {
    val (dir, _) = fixtures
    val df = spark.read.format("graft-arc").load(dir).select("url", "length")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.length == 1)
    assert(scans.head.readSchema().fieldNames.toSeq == Seq("url", "length"))
    assert(df.count() == fixtures._2.length)
  }

  test("header predicates push into the scan and filter correctly") {
    val (dir, _) = fixtures
    val df = spark.read.format("graft-arc").load(dir)
      .filter(col("mime_type") === "text/html" && col("length") > 0L)
      .select("url")
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[ArchiveScan]
    assert(scan.pushed.exists(_.references.contains("mime_type")))
    assert(scan.pushed.exists(_.references.contains("length")))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      fixtures._2.filter(_.mimeType == "text/html").map(_.url).sorted)
  }

  test("pushdown agrees with Spark's own evaluation on every header predicate") {
    val (dir, _) = fixtures
    val strings = Seq(
      ("url", "http://a.com/", "http://a.com", ".png", "b.org"),
      ("ip", "10.0.0.1", "10.", ".1", "0.0"),
      ("archive_date", "20240101120000", "2024", "120000", "0101"),
      ("mime_type", "text/html", "text/", "/plain", "ext"))
    val perColumn = strings.flatMap { case (c, v, p, x, m) =>
      Seq(col(c) === v, col(c).isin(v, "none"), col(c).startsWith(p),
        col(c).endsWith(x), col(c).contains(m))
    }
    val len = col("length")
    val filters = perColumn ++ Seq(
      len === 18L, len > 18L, len >= 18L, len < 550L, len <= 550L,
      col("url").isNull, col("mime_type").isNotNull, len.isNotNull,
      col("mime_type") === "text/html" && len > 17L,
      col("url").startsWith("http://a") || col("mime_type") === "text/plain",
      not(col("mime_type") === "text/html"),
      not(col("url").isin("http://a.com/", "http://b.org/x")),
      not(col("url").endsWith(".png") || len < 18L),
      not(col("ip").contains("9") && len > 100L))
    ArchivePushdown.check(spark, "graft-arc", dir, Seq("arc_file", "offset", "url"),
      filters, ArcV2Spec.pushed)
  }

  test("V2 write round-trips through the V2 read (one archive per task)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arcv2w").toString
    val rows = (1 to 40).map(i =>
      (s"http://w.example/$i", "10.1.1.1", "20240202000000",
        if (i % 2 == 0) "text/html" else "text/plain",
        s"payload-$i-${"x" * i}".getBytes("UTF-8")))
    rows.toDF("url", "ip", "archive_date", "mime_type", "content")
      .repartition(3)
      .write.format("graft-arc").mode("append").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".arc.gz")) == 3, files.toSeq.toString)
    assert(!files.contains("_temporary"))
    val back = spark.read.format("graft-arc").load(dir)
      .select("url", "mime_type", "content").collect()
      .map(r => (r.getString(0), r.getString(1),
        new String(r.getAs[Array[Byte]](2), "UTF-8")))
      .sortBy(_._1)
    val want = rows
      .map(r => (r._1, r._4, new String(r._5, "UTF-8"))).sortBy(_._1)
    assert(back.toSeq == want)
  }

  test("V2 write rolls archives at the size cap; every rolled file stands alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arcv2roll").toString
    val rows = (1 to 30).map(i =>
      (s"http://r.example/$i", "10.2.2.2", "20240303000000", "text/plain",
        ("y" * 600).getBytes("UTF-8")))
    rows.toDF("url", "ip", "archive_date", "mime_type", "content")
      .coalesce(1) // single task: rolling, not partitioning, must split it
      .write.format("graft-arc").mode("append")
      .option("rollSize", 2048) // reference caps at 100 MB; tiny for test
      .save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arc.gz")).sortBy(_.getName)
    assert(files.length > 1, s"no roll happened: ${files.map(_.getName).toSeq}")
    // every rolled file is a complete ARC: own filedesc version block
    files.foreach { f =>
      val recs = ArcSource.parseArc(new java.io.ByteArrayInputStream(
        Files.readAllBytes(f.toPath))).toSeq
      assert(recs.nonEmpty, s"${f.getName} unreadable standalone")
    }
    // and the union of all files is exactly the written rows
    val back = spark.read.format("graft-arc").load(dir).select("url").as[String]
      .collect().sorted
    assert(back.toSeq == rows.map(_._1).sorted)
  }

  test("micro-batch stream picks up newly arrived archives per batch") {
    val dir = Files.createTempDirectory("arcv2s").toString
    Files.write(Paths.get(dir, "seg-001.arc.gz"), ArcSource.writeArc(Seq(
      rec("http://s.example/1", "text/html", "one"),
      rec("http://s.example/2", "text/html", "two"))))
    val stream = spark.readStream.format("graft-arc").load(dir).select("url")
    val q = stream.writeStream.format("memory").queryName("arc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("arc_stream").count() == 2)
      // a later segment arrives; only it is read in the next batch
      Files.write(Paths.get(dir, "seg-002.arc.gz"), ArcSource.writeArc(Seq(
        rec("http://s.example/3", "text/plain", "three"))))
      q.processAllAvailable()
      val urls = spark.table("arc_stream").collect().map(_.getString(0)).sorted
      assert(urls.toSeq == Seq("http://s.example/1", "http://s.example/2",
        "http://s.example/3"))
    } finally q.stop()
  }

  test("ignoreCorruptFiles skips a truncated archive, strict mode throws") {
    val dir = Files.createTempDirectory("arcv2c").toString
    Files.write(Paths.get(dir, "good.arc.gz"), ArcSource.writeArc(Seq(
      rec("http://ok.example/", "text/html", "fine"))))
    val full = ArcSource.writeArc(Seq(
      rec("http://bad.example/", "text/html", "x" * 5000)))
    Files.write(Paths.get(dir, "trunc.arc.gz"), full.take(full.length / 2))
    val strict = spark.read.format("graft-arc").load(dir).select("url")
    assertThrows[org.apache.spark.SparkException](strict.collect())
    val lax = spark.read.format("graft-arc")
      .option("ignoreCorruptFiles", "true").load(dir).select("url")
    assert(lax.collect().map(_.getString(0)).toSeq == Seq("http://ok.example/"))
  }

  test("header-level damage skips one member, not the rest of the file") {
    val dir = Files.createTempDirectory("arcv2hdr").toString
    // good record ‖ member with a non-numeric length token ‖ good record —
    // the gzip boundaries are intact, so only the bad RECORD is dropped
    val bad = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("http://bad.example/ 1.2.3.4 20240101120000 text/html NaN\noops\n"
        .getBytes("UTF-8"))
      gz.finish(); gz.close()
      bos.toByteArray
    }
    val bytes = ArcSource.writeArc(Seq(rec("http://a.example/", "text/html", "one"))) ++
      bad ++
      ArcSource.writeArc(Seq(rec("http://b.example/", "text/html", "two")),
        withVersionBlock = false)
    Files.write(Paths.get(dir, "mixed.arc.gz"), bytes)

    val strict = spark.read.format("graft-arc").load(dir).select("url")
    assertThrows[org.apache.spark.SparkException](strict.collect())
    val lax = spark.read.format("graft-arc")
      .option("ignoreCorruptFiles", "true").load(dir).select("url")
    assert(lax.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("http://a.example/", "http://b.example/"))
  }

  test("a row-assembly programming error fails the task even with ignoreCorruptFiles") {
    // the corrupt-file catch is scoped to the real corruption surface
    // (IOException/NumberFormat/NegativeArraySize); a bug in row assembly
    // (here: a field the match does not know) must propagate, not be
    // logged as a "corrupt remainder" and silently drop the file
    val dir = Files.createTempDirectory("arcv2err").toString
    val f = Paths.get(dir, "ok.arc.gz")
    Files.write(f, ArcSource.writeArc(Seq(rec("http://e.example/", "text/html", "x"))))
    val reader = new graft.sources.v2.ArcPartitionReader(
      graft.sources.v2.ArchiveInputPartition(f.toString, Files.size(f), Array.empty),
      spark.sessionState.newHadoopConf(),
      fieldNames = Array("url", "no_such_field"),
      pushed = Array.empty,
      ignoreCorrupt = true)
    assertThrows[MatchError] { while (reader.next()) () }
  }

  test("stream offset json round-trips control chars and escapes") {
    import graft.sources.v2.{ArcMicroBatchStream, ArcStreamOffset}
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val stream = new ArcMicroBatchStream(
      ArchiveScan(ArcFormat, CaseInsensitiveStringMap.empty(), new StructType(),
        Array.empty))
    val nasty = Seq(
      "/data/plain.arc.gz",
      "/data/with\nnewline.arc.gz",
      "/data/tab\there.arc.gz",
      "/data/quote\"and\\backslash.arc.gz",
      "/data/bellctrl.arc.gz")
    nasty.foreach { f =>
      val json = ArcStreamOffset(f).json()
      // the serialized form must never contain a raw control character
      assert(!json.exists(_ < ' '), s"raw control char in offset json: $json")
      val back = stream.deserializeOffset(json)
      assert(back == ArcStreamOffset(f), s"round trip failed for $f")
    }
  }

  test("offset column seeks back to the same record") {
    val (dir, _) = fixtures
    val rows = spark.read.format("graft-arc").load(dir)
      .select("arc_file", "offset", "url").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bytes = Files.readAllBytes(Paths.get(new java.net.URI(r.getString(0))))
      val fetched = ArcSource.fetchRecordAt(bytes, r.getLong(1))
      assert(fetched.url == r.getString(2))
    }
  }
}

object ArcV2Spec {
  /** What the scan claims for each filter of the pushdown case, in order. */
  val pushed: Seq[String] = Seq(
    "EqualTo(url,http://a.com/)",
    "In(url, [http://a.com/,none])",
    "StringStartsWith(url,http://a.com)",
    "StringEndsWith(url,.png)",
    "StringContains(url,b.org)",
    "EqualTo(ip,10.0.0.1)",
    "In(ip, [10.0.0.1,none])",
    "StringStartsWith(ip,10.)",
    "StringEndsWith(ip,.1)",
    "StringContains(ip,0.0)",
    "EqualTo(archive_date,20240101120000)",
    "In(archive_date, [20240101120000,none])",
    "StringStartsWith(archive_date,2024)",
    "StringEndsWith(archive_date,120000)",
    "StringContains(archive_date,0101)",
    "EqualTo(mime_type,text/html)",
    "In(mime_type, [none,text/html])",
    "StringStartsWith(mime_type,text/)",
    "StringEndsWith(mime_type,/plain)",
    "StringContains(mime_type,ext)",
    "EqualTo(length,18)",
    "GreaterThan(length,18)",
    "GreaterThanOrEqual(length,18)",
    "LessThan(length,550)",
    "LessThanOrEqual(length,550)",
    "<no scan>",
    "",
    "",
    "EqualTo(mime_type,text/html); GreaterThan(length,17)",
    "Or(StringStartsWith(url,http://a),EqualTo(mime_type,text/plain))",
    "Not(EqualTo(mime_type,text/html))",
    "Not(In(url, [http://a.com/,http://b.org/x]))",
    "GreaterThanOrEqual(length,18); Not(StringEndsWith(url,.png))",
    "Or(Not(StringContains(ip,9)),LessThanOrEqual(length,100))",
  )
}
