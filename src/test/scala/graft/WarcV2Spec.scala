package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.ArchiveScan

class WarcV2Spec extends AnyFunSuite with SparkSuite {

  /** Hand-built WARC bytes (the golden fixture is written from the spec,
    * not by our own writer, so reader and writer are tested against the
    * format rather than against each other). One gzip member per record
    * unless grouped. */
  private def gzMember(records: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    records.foreach(gz.write)
    gz.finish(); gz.close()
    bos.toByteArray
  }

  private def record(
      wtype: String, url: String, block: Array[Byte],
      ctype: String = "application/http; msgtype=response",
      ip: String = null, extra: Seq[String] = Seq.empty): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    head.append("WARC-Type: ").append(wtype).append("\r\n")
    if (url != null) head.append("WARC-Target-URI: ").append(url).append("\r\n")
    head.append("WARC-Date: 2026-01-02T03:04:05Z\r\n")
    head.append("WARC-Record-ID: <urn:uuid:0000-").append(url).append(">\r\n")
    if (ip != null) head.append("WARC-IP-Address: ").append(ip).append("\r\n")
    extra.foreach(l => head.append(l).append("\r\n"))
    if (ctype != null) head.append("Content-Type: ").append(ctype).append("\r\n")
    head.append("Content-Length: ").append(block.length).append("\r\n\r\n")
    head.toString.getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def httpBlock(status: Int, mime: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status OK\r\nContent-Type: $mime; charset=UTF-8\r\n" +
      s"Server: test\r\n\r\n$body").getBytes("UTF-8")

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("warcv2").toString
    val recs = Seq(
      gzMember(Seq(record("warcinfo", null,
        "software: fixture\r\n".getBytes("UTF-8"),
        ctype = "application/warc-fields"))),
      gzMember(Seq(record("response", "http://a.com/",
        httpBlock(200, "text/html", "<html>alpha</html>"), ip = "10.0.0.1"))),
      gzMember(Seq(record("response", "http://a.com/miss",
        httpBlock(404, "text/html", "gone"), ip = "10.0.0.1"))),
      // two records in ONE gzip member (legal per spec)
      gzMember(Seq(
        record("response", "http://b.org/big",
          httpBlock(200, "text/plain", "plain " * 40), ip = "10.0.0.2"),
        record("request", "http://b.org/big",
          "GET /big HTTP/1.1\r\nHost: b.org\r\n\r\n".getBytes("UTF-8"),
          ctype = "application/http; msgtype=request"))),
      // a WET-style conversion record: no HTTP envelope
      gzMember(Seq(record("conversion", "http://a.com/",
        "alpha extracted text".getBytes("UTF-8"), ctype = "text/plain"))),
    )
    Files.write(Paths.get(dir, "seg-00001.warc.gz"), recs.flatten.toArray)
    dir
  }

  test("reads spec-shaped archives: headers, HTTP split, WET passthrough") {
    val rows = spark.read.format("graft-warc").load(fixtureDir)
      .select("url", "warc_type", "http_status", "mime_type", "payload", "ip")
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse(""), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        Option(r.getString(3)).getOrElse(""),
        new String(Option(r.getAs[Array[Byte]](4)).getOrElse(Array.empty), "UTF-8"),
        Option(r.getString(5)).getOrElse("")))
      .sortBy(t => (t._1, t._2))
    assert(rows.length == 6)
    val byKey = rows.groupBy(t => (t._1, t._2)).view.mapValues(_.head).toMap
    // response: status + payload mime split out of the block
    val alpha = byKey(("http://a.com/", "response"))
    assert(alpha._3 == 200 && alpha._4 == "text/html" &&
      alpha._5 == "<html>alpha</html>" && alpha._6 == "10.0.0.1")
    assert(byKey(("http://a.com/miss", "response"))._3 == 404)
    // request record in the shared member also splits (application/http)
    assert(byKey(("http://b.org/big", "request"))._3 == -1) // no status line in requests
    // conversion (WET): payload IS the block, no status/mime
    val wet = byKey(("http://a.com/", "conversion"))
    assert(wet._3 == -1 && wet._4 == "" && wet._5 == "alpha extracted text")
    // warcinfo has no target URI
    assert(byKey(("", "warcinfo"))._2 == "warcinfo")
  }

  test("http_headers map: lowercased names, first value wins, null without envelope") {
    val rows = spark.read.format("graft-warc").load(fixtureDir)
      .select("url", "warc_type", "http_headers")
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse(""), r.getString(1),
        Option(r.getAs[Map[String, String]](2)).getOrElse(Map.empty)))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.head._3).toMap
    val alpha = rows(("http://a.com/", "response"))
    assert(alpha("content-type") == "text/html; charset=UTF-8")
    assert(alpha("server") == "test")
    assert(rows(("http://a.com/", "conversion")).isEmpty) // no HTTP envelope
    // the warc_headers map carries every named record header, lowercased
    val wh = spark.read.format("graft-warc").load(fixtureDir)
      .filter(col("warc_type") === "response" && col("url") === "http://a.com/")
      .select("warc_headers").collect().head.getAs[Map[String, String]](0)
    assert(wh("warc-target-uri") == "http://a.com/")
    assert(wh("warc-ip-address") == "10.0.0.1")
    assert(wh.contains("warc-record-id") && wh.contains("content-length"))
  }

  test("column pruning: metadata scan reads no block columns") {
    val df = spark.read.format("graft-warc").load(fixtureDir)
      .select("url", "warc_type", "length")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.length == 1)
    assert(scans.head.readSchema().fieldNames.toSeq == Seq("url", "warc_type", "length"))
    assert(df.count() == 6)
  }

  test("named-header predicates push into the scan; block-derived stay residual") {
    val df = spark.read.format("graft-warc").load(fixtureDir)
      .filter(col("warc_type") === "response" && col("length") > 10L &&
        col("http_status") === 200)
      .select("url")
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[ArchiveScan]
    assert(scan.pushed.exists(_.references.contains("warc_type")))
    assert(scan.pushed.exists(_.references.contains("length")))
    // http_status needs the block: must NOT be claimed by the scan
    assert(!scan.pushed.exists(_.references.contains("http_status")))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("http://a.com/", "http://b.org/big"))
  }

  test("pushdown agrees with Spark's own evaluation on every header predicate") {
    // the warcinfo record has no url and no ip: every predicate meets nulls
    val strings = Seq(
      ("url", "http://a.com/", "http://a.com", "/big", "b.org"),
      ("warc_type", "response", "re", "sion", "info"),
      ("warc_date", "2026-01-02T03:04:05Z", "2026", "05Z", "T03"),
      ("record_id", "<urn:uuid:0000-http://a.com/>", "<urn:uuid:0000-http://b",
        "miss>", "null"),
      ("ip", "10.0.0.1", "10.", ".2", "0.0"),
      ("content_type", "text/plain", "application/", "=request", "warc"))
    val perColumn = strings.flatMap { case (c, v, p, x, m) =>
      Seq(col(c) === v, col(c).isin(v, "none"), col(c).startsWith(p),
        col(c).endsWith(x), col(c).contains(m))
    }
    val len = col("length")
    val filters = perColumn ++ Seq(
      len === 20L, len > 20L, len >= 20L, len < 100L, len <= 100L,
      col("url").isNull, col("ip").isNull, col("url").isNotNull,
      col("ip").isNotNull, len.isNotNull,
      col("warc_type") === "response" && len > 10L,
      col("url").startsWith("http://a") || col("ip") === "10.0.0.2",
      col("url").isNull || col("ip") === "10.0.0.2",
      not(col("url") === "http://a.com/"),
      not(col("ip").isin("10.0.0.1")),
      not(col("url").startsWith("http://a") || len > 100L),
      not(col("ip").isNull && col("warc_type") === "warcinfo"),
      // Spark infers no IsNotNull for IN: a null url or ip must not
      // turn NOT(IN) true
      not(col("url").isin("http://a.com/", "http://b.org/big")),
      not(col("ip").isin("10.0.0.1", "10.0.0.2")),
      not(col("url").isin("http://a.com/", "x") || len > 100000L))
    ArchivePushdown.check(spark, "graft-warc", fixtureDir,
      Seq("warc_file", "offset", "warc_type", "url"), filters, WarcV2Spec.pushed)
  }

  test("folded header lines: the scan and the point fetch agree") {
    import graft.sources.v2.WarcRecords
    val dir = Files.createTempDirectory("warcv2fold").toString
    val bytes = gzMember(Seq(record("response", "http://f.example/",
      "hello".getBytes("UTF-8"), ctype = "text/plain",
      extra = Seq("X-Folded: first part", "  second part"))))
    Files.write(Paths.get(dir, "fold.warc.gz"), bytes)
    val rows = spark.read.format("graft-warc").load(dir)
      .select("url", "length", "offset", "warc_headers", "content").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "http://f.example/" && r.getLong(1) == 5L &&
      r.getLong(2) == 0L)
    val scanned = r.getAs[Map[String, String]](3)
    assert(scanned("x-folded") == "first part second part")
    val (fetched, block) = WarcRecords.fetchRecordAt(bytes, r.getLong(2))
    assert(fetched == scanned)
    assert(block.toSeq == r.getAs[Array[Byte]](4).toSeq)
  }

  test("write → read round trip; rolled files stand alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("warcv2w").toString
    val rows = (1 to 30).map { i =>
      (s"http://w.example/$i", "response", "2026-02-03T00:00:00Z",
        "application/http; msgtype=response", s"10.9.9.${i % 4}",
        httpBlock(if (i % 5 == 0) 404 else 200, "text/html", s"<html>$i</html>"))
    }
    rows.toDF("url", "warc_type", "warc_date", "content_type", "ip", "content")
      .coalesce(1)
      .write.format("graft-warc").mode("append")
      .option("rollSize", 4096)
      .save(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    assert(files.length > 1, s"no roll: ${files.map(_.getName).toSeq}")
    val back = spark.read.format("graft-warc").load(dir)
      .filter(col("warc_type") =!= "warcinfo")
      .select("url", "warc_date", "ip", "http_status",
        "mime_type", "payload", "record_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getString(4), new String(r.getAs[Array[Byte]](5), "UTF-8"),
        r.getString(6)))
      .sortBy(_._1)
    assert(back.length == rows.length)
    val want = rows.map(r =>
      (r._1, r._3, r._5, if (r._1.split("/").last.toInt % 5 == 0) 404 else 200,
        "text/html",
        s"<html>${r._1.split("/").last}</html>")).sortBy(_._1)
    assert(back.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSeq == want)
    // deterministic record ids: every id unique, stable format
    assert(back.map(_._7).distinct.length == rows.length)
    assert(back.forall(_._7.startsWith("<urn:uuid:")))
    // each rolled file is standalone: opens with its own warcinfo
    files.foreach { f =>
      val one = spark.read.format("graft-warc").load(f.getAbsolutePath)
        .select("warc_type").collect().map(_.getString(0))
      assert(one.head == "warcinfo", s"${f.getName} missing warcinfo")
    }
  }

  test("point fetch: seek a member offset, parse one record, split payload") {
    import graft.sources.v2.WarcRecords
    val dir = fixtureDir
    val f = new java.io.File(dir, "seg-00001.warc.gz")
    val bytes = Files.readAllBytes(f.toPath)
    // offsets from the scan's metadata columns (no payload read)
    val rows = spark.read.format("graft-warc").load(dir)
      .filter(col("warc_type") === "response")
      .select("url", "offset").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (hdrs, _) = WarcRecords.fetchRecordAt(bytes, rows("http://a.com/"))
    assert(hdrs("warc-target-uri") == "http://a.com/")
    assert(new String(WarcRecords.fetchPayloadAt(bytes, rows("http://a.com/")),
      "UTF-8") == "<html>alpha</html>")
    // conversion record (no envelope): payload IS the block
    val conv = spark.read.format("graft-warc").load(dir)
      .filter(col("warc_type") === "conversion")
      .select("offset").collect().head.getLong(0)
    assert(new String(WarcRecords.fetchPayloadAt(bytes, conv), "UTF-8") ==
      "alpha extracted text")
  }

  test("micro-batch stream picks up newly arrived warc segments") {
    val dir = Files.createTempDirectory("warcv2s").toString
    Files.write(Paths.get(dir, "seg-001.warc.gz"), gzMember(Seq(
      record("response", "http://s.example/1", httpBlock(200, "text/html", "one")))))
    val stream = spark.readStream.format("graft-warc").load(dir).select("url")
    val q = stream.writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream").count() == 1)
      Files.write(Paths.get(dir, "seg-002.warc.gz"), gzMember(Seq(
        record("response", "http://s.example/2", httpBlock(200, "text/html", "two")))))
      q.processAllAvailable()
      assert(spark.table("warc_stream").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("http://s.example/1", "http://s.example/2"))
    } finally q.stop()
  }

  test("ignoreCorruptFiles skips a truncated archive, strict mode throws") {
    val dir = Files.createTempDirectory("warcv2c").toString
    Files.write(Paths.get(dir, "good.warc.gz"), gzMember(Seq(
      record("response", "http://ok.example/", httpBlock(200, "text/html", "fine")))))
    val full = gzMember(Seq(
      record("response", "http://bad.example/", httpBlock(200, "text/html", "x" * 5000))))
    Files.write(Paths.get(dir, "trunc.warc.gz"), full.take(full.length / 2))
    val strict = spark.read.format("graft-warc").load(dir).select("url")
    assertThrows[org.apache.spark.SparkException](strict.collect())
    val lax = spark.read.format("graft-warc")
      .option("ignoreCorruptFiles", "true").load(dir).select("url")
    assert(lax.collect().map(_.getString(0)).toSeq == Seq("http://ok.example/"))
  }

  test("header-level damage drops one record, keeps the rest of the file") {
    val dir = Files.createTempDirectory("warcv2hdr").toString
    val bad = gzMember(Seq(
      "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://bad.example/\r\nWARC-Date: x\r\nWARC-Record-ID: <urn:uuid:b>\r\nContent-Length: NaN\r\n\r\noops\r\n\r\n"
        .getBytes("UTF-8")))
    val bytes =
      gzMember(Seq(record("response", "http://a.example/", httpBlock(200, "text/html", "one")))) ++
      bad ++
      gzMember(Seq(record("response", "http://b.example/", httpBlock(200, "text/html", "two"))))
    Files.write(Paths.get(dir, "mixed.warc.gz"), bytes)
    val strict = spark.read.format("graft-warc").load(dir).select("url")
    assertThrows[org.apache.spark.SparkException](strict.collect())
    val lax = spark.read.format("graft-warc")
      .option("ignoreCorruptFiles", "true").load(dir).select("url")
    assert(lax.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("http://a.example/", "http://b.example/"))
  }
}

object WarcV2Spec {
  /** What the scan claims for each filter of the pushdown case, in order. */
  val pushed: Seq[String] = Seq(
    "EqualTo(url,http://a.com/); IsNotNull(url)",
    "In(url, [http://a.com/,none])",
    "IsNotNull(url); StringStartsWith(url,http://a.com)",
    "IsNotNull(url); StringEndsWith(url,/big)",
    "IsNotNull(url); StringContains(url,b.org)",
    "EqualTo(warc_type,response)",
    "In(warc_type, [none,response])",
    "StringStartsWith(warc_type,re)",
    "StringEndsWith(warc_type,sion)",
    "StringContains(warc_type,info)",
    "EqualTo(warc_date,2026-01-02T03:04:05Z)",
    "In(warc_date, [2026-01-02T03:04:05Z,none])",
    "StringStartsWith(warc_date,2026)",
    "StringEndsWith(warc_date,05Z)",
    "StringContains(warc_date,T03)",
    "EqualTo(record_id,<urn:uuid:0000-http://a.com/>)",
    "In(record_id, [<urn:uuid:0000-http://a.com/>,none])",
    "StringStartsWith(record_id,<urn:uuid:0000-http://b)",
    "StringEndsWith(record_id,miss>)",
    "StringContains(record_id,null)",
    "EqualTo(ip,10.0.0.1); IsNotNull(ip)",
    "In(ip, [10.0.0.1,none])",
    "IsNotNull(ip); StringStartsWith(ip,10.)",
    "IsNotNull(ip); StringEndsWith(ip,.2)",
    "IsNotNull(ip); StringContains(ip,0.0)",
    "EqualTo(content_type,text/plain); IsNotNull(content_type)",
    "In(content_type, [none,text/plain])",
    "IsNotNull(content_type); StringStartsWith(content_type,application/)",
    "IsNotNull(content_type); StringEndsWith(content_type,=request)",
    "IsNotNull(content_type); StringContains(content_type,warc)",
    "EqualTo(length,20)",
    "GreaterThan(length,20)",
    "GreaterThanOrEqual(length,20)",
    "LessThan(length,100)",
    "LessThanOrEqual(length,100)",
    "IsNull(url)",
    "IsNull(ip)",
    "IsNotNull(url)",
    "IsNotNull(ip)",
    "",
    "EqualTo(warc_type,response); GreaterThan(length,10)",
    "Or(StringStartsWith(url,http://a),EqualTo(ip,10.0.0.2))",
    "Or(IsNull(url),EqualTo(ip,10.0.0.2))",
    "IsNotNull(url); Not(EqualTo(url,http://a.com/))",
    "IsNotNull(ip); Not(EqualTo(ip,10.0.0.1))",
    "IsNotNull(url); LessThanOrEqual(length,100); Not(StringStartsWith(url,http://a))",
    "Or(IsNotNull(ip),Not(EqualTo(warc_type,warcinfo)))",
    "Not(In(url, [http://a.com/,http://b.org/big]))",
    "Not(In(ip, [10.0.0.1,10.0.0.2]))",
    "LessThanOrEqual(length,100000); Not(In(url, [http://a.com/,x]))",
  )
}
