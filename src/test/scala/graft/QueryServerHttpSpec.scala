package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryServer, QueryServerHttp, Registry}

/** The reference's serving shape (QueryServerFE servlets) over real HTTP:
  * a page request returns the same rows the library page() call does, the
  * count endpoint reads the cached index, and client errors are 400s. */
class QueryServerHttpSpec extends AnyFunSuite with SparkSuite with TempStageDir {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("paged query, count, and error handling over HTTP") {
    val cacheDir = tempDir("qhttp")
    val server = new QueryServer(spark, cacheDir, sfDir)
    val fe = new QueryServerHttp(server)
    val port = fe.start()
    try {
      val name = "w3_dual_sort"
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head

      val (code, body) =
        get(port, s"/query/$name?sortBy=$sortBy&dir=desc&offset=3&pageSize=4")
      assert(code == 200)
      val want = server
        .page(name, server.PageRequest(sortBy, ascending = false,
          offset = 3, pageSize = 4))
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == want)
      assert(body.startsWith("[{") && body.count(_ == '{') == 4)

      val (cCode, cBody) = get(port, s"/count/$name?sortBy=$sortBy&dir=desc")
      assert(cCode == 200)
      val n = Registry.queries(name)(spark, sfDir).count()
      assert(cBody == s"""{"count":$n}""")

      // client errors: unknown sort column and unknown query name
      val entries = new java.io.File(cacheDir).list().toSet
      assert(get(port, s"/query/$name?sortBy=nope")._1 == 400)
      assert(get(port, s"/query/no_such_query?sortBy=x")._1 == 400)
      assert(get(port, s"/query/$name")._1 == 400) // missing sortBy
      // a direction is asc or desc, nothing else
      for (dir <- Seq("DESC", "descending")) {
        val (dCode, dBody) = get(port, s"/query/$name?sortBy=$sortBy&dir=$dir")
        assert(dCode == 400 && dBody.contains("dir"), s"dir=$dir: $dCode $dBody")
      }
      // ...refused before the build wrote an entry or a staging dir
      assert(new java.io.File(cacheDir).list().toSet == entries)

      // unbounded paging is refused, not collected on the driver
      val (pCode, pBody) =
        get(port, s"/query/$name?sortBy=$sortBy&pageSize=2000000000")
      assert(pCode == 400 && pBody.contains("pageSize"))
      assert(get(port, s"/query/$name?sortBy=$sortBy&pageSize=0")._1 == 400)
      assert(get(port, s"/query/$name?sortBy=$sortBy&pageSize=9e9")._1 == 400)
      assert(get(port, s"/query/$name?sortBy=$sortBy&offset=-1")._1 == 400)
      assert(get(port,
        s"/count/$name?sortBy=$sortBy&pageSize=${QueryServerHttp.MaxPageSize}")._1 == 200)
    } finally fe.stop()
  }

  test("a response that runs no Spark job is not held by a delayed ACK") {
    // each request on a fresh connection, as bench/harness/Serve.scala
    // sends them: with Nagle's algorithm on, every response waited ~44 ms
    // for the client's delayed ACK of its header segment
    val cacheDir = tempDir("qhttp_latency")
    val fe = new QueryServerHttp(new QueryServer(spark, cacheDir, sfDir))
    val port = fe.start()
    def medianMs(path: String, code: Int): Double = {
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime
        val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          assert(c.getResponseCode == code, path)
          val in = if (code >= 400) c.getErrorStream else c.getInputStream
          try in.readAllBytes() finally in.close()
        } finally c.disconnect()
        (System.nanoTime - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    try {
      val name = "w3_dual_sort"
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head
      val count = s"/count/$name?sortBy=$sortBy"
      assert(get(port, count)._1 == 200) // builds the entry
      val medians = Seq(("/status/nope", 400), (count, 200))
        .map { case (path, code) => path -> medianMs(path, code) }
      val report = medians.map { case (p, ms) => f"$p: median $ms%.1f ms" }.mkString("; ")
      info(report)
      assert(medians.forall(_._2 < 15), report)
    } finally fe.stop()
  }

  test("async submit → poll → result matches the synchronous page; cancel reaches a terminal state") {
    val cacheDir = tempDir("qhttp_async")
    val server = new QueryServer(spark, cacheDir, sfDir)
    val fe = new QueryServerHttp(server)
    val port = fe.start()
    try {
      val name = "w3_dual_sort"
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head

      // synchronous validation: bad name / bad column / bad paging → 400
      assert(get(port, s"/submit/no_such?sortBy=x")._1 == 400)
      assert(get(port, s"/submit/$name?sortBy=nope")._1 == 400)
      assert(get(port, s"/submit/$name?sortBy=$sortBy&pageSize=0")._1 == 400)
      assert(get(port, "/status/nope")._1 == 400)

      val (sCode, sBody) =
        get(port, s"/submit/$name?sortBy=$sortBy&dir=desc&offset=3&pageSize=4")
      assert(sCode == 200)
      val id = """"id":"([^"]+)"""".r.findFirstMatchIn(sBody).get.group(1)

      // poll the heartbeat until terminal (the reference's QueryStatus loop)
      var status = ""
      val deadline = System.currentTimeMillis + 120000
      while (status != "done" && status != "failed" &&
          System.currentTimeMillis < deadline) {
        val (c, b) = get(port, s"/status/$id")
        assert(c == 200)
        status = """"status":"([^"]+)"""".r.findFirstMatchIn(b).get.group(1)
        if (status == "running") Thread.sleep(100)
      }
      assert(status == "done")

      val (rCode, rBody) = get(port, s"/result/$id")
      assert(rCode == 200)
      val want = server
        .page(name, server.PageRequest(sortBy, ascending = false,
          offset = 3, pageSize = 4))
        .toJSON.collect().mkString("[", ",", "]")
      assert(rBody == want)

      // browse a DIFFERENT page of the finished job against the cached
      // index (no re-execution): explicit offset/pageSize on /result
      val (pCode, pBody) = get(port, s"/result/$id?offset=0&pageSize=2")
      assert(pCode == 200)
      val wantP0 = server
        .page(name, server.PageRequest(sortBy, ascending = false,
          offset = 0, pageSize = 2))
        .toJSON.collect().mkString("[", ",", "]")
      assert(pBody == wantP0)
      assert(get(port, s"/result/$id?pageSize=0")._1 == 400)
      assert(get(port, s"/result/$id?offset=-1")._1 == 400)

      // result before done / after cancel is a client error
      val (s2Code, s2Body) = get(port, s"/submit/$name?sortBy=$sortBy")
      assert(s2Code == 200)
      val id2 = """"id":"([^"]+)"""".r.findFirstMatchIn(s2Body).get.group(1)
      val (cCode, cBody) = get(port, s"/cancel/$id2")
      assert(cCode == 200)
      // cancel races the (fast) build: either terminal state is legal,
      // but the job must never report running after cancel returns
      val st2 = """"status":"([^"]+)"""".r.findFirstMatchIn(cBody).get.group(1)
      assert(st2 == "cancelled" || st2 == "done")
      if (st2 == "cancelled") {
        assert(get(port, s"/result/$id2")._1 == 400)
        // idempotent: a second cancel reports the same state
        assert(get(port, s"/cancel/$id2")._2.contains("cancelled"))
      }
    } finally fe.stop()
  }

  test("submit refuses new work at the in-flight cap with 429; sync paths unaffected") {
    val cacheDir = tempDir("qhttp_cap")
    val server = new QueryServer(spark, cacheDir, sfDir)
    // cap 0: the refusal path itself, with no timing dependence on how
    // fast the worker drains (a real cap rejects identically once
    // maxJobs jobs are non-terminal)
    val fe = new QueryServerHttp(server, maxJobs = 0)
    val port = fe.start()
    try {
      val name = "w3_dual_sort"
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head
      val (code, body) = get(port, s"/submit/$name?sortBy=$sortBy")
      assert(code == 429 && body.contains("in-flight"), s"$code $body")
      // the cap bounds the ASYNC ledger only — synchronous pages still serve
      assert(get(port, s"/query/$name?sortBy=$sortBy&pageSize=2")._1 == 200)
    } finally fe.stop()
  }

  test("stop() ends the request handler threads") {
    // they are non-daemon: left running, they keep the JVM alive
    val cacheDir = tempDir("qhttp_stop")
    val fe = new QueryServerHttp(new QueryServer(spark, cacheDir, sfDir))
    val port = fe.start()
    try {
      val name = "w3_dual_sort"
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head
      assert(get(port, s"/query/$name?sortBy=$sortBy&pageSize=2")._1 == 200)
    } finally fe.stop()
    assert(fe.handlers.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
  }

  test("content fetch: seek an archive member offset, serve payload bytes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tempDir("qhttp_arch")
    val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
    Seq(("http://f.example/1", "response", "2026-01-01T00:00:00Z",
        "application/http; msgtype=response",
        (httpHead + "<html>fetched</html>").getBytes("UTF-8")))
      .toDF("url", "warc_type", "warc_date", "content_type", "content")
      .coalesce(1)
      .write.format("graft-warc").mode("append").save(root)
    val (file, offset) = spark.read.format("graft-warc").load(root)
      .filter(col("warc_type") === "response")
      .select("warc_file", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).head
    val rel = new java.io.File(new java.net.URI(file).getPath).getName
    // an ARC archive beside it, served through the same endpoint
    Seq(("http://f.example/2", "10.0.0.2", "20260101000000", "text/plain",
        "<p>arc fetched</p>".getBytes("UTF-8")))
      .toDF("url", "ip", "archive_date", "mime_type", "content")
      .coalesce(1)
      .write.format("graft-arc").mode("append").save(root)
    val (arcFile, arcOffset) = spark.read.format("graft-arc").load(root)
      .select("arc_file", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).head
    val arcRel = new java.io.File(new java.net.URI(arcFile).getPath).getName

    val cacheDir = tempDir("qhttp_f")
    val server = new QueryServer(spark, cacheDir, sfDir)
    val fe = new QueryServerHttp(server, archiveRoot = Some(root))
    val port = fe.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/fetch?file=$rel&offset=$offset"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.statusCode() == 200)
      assert(new String(resp.body(), "UTF-8") == "<html>fetched</html>")
      assert(resp.headers().firstValue("Content-Type").orElse("") == "text/html")
      val arcResp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/fetch?file=$arcRel&offset=$arcOffset"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(arcResp.statusCode() == 200)
      assert(new String(arcResp.body(), "UTF-8") == "<p>arc fetched</p>")
      assert(arcResp.headers().firstValue("Content-Type").orElse("") == "text/plain")
      // traversal and non-archive paths are client errors
      assert(this.get(port, s"/fetch?file=../$rel&offset=0")._1 == 400)
      assert(this.get(port, "/fetch?file=notthere.txt&offset=0")._1 == 400)
      // disabled without a root
      val fe2 = new QueryServerHttp(server)
      val p2 = fe2.start()
      try assert(this.get(p2, s"/fetch?file=$rel&offset=0")._1 == 400)
      finally fe2.stop()
    } finally fe.stop()
  }

  test("content fetch serves .warc.zst with a shared dictionary (r17 advice)") {
    import org.apache.spark.sql.functions._
    val root = tempDir("qhttp_zst")
    spark.range(0, 40).selectExpr(
        "concat('http://z.example/p', id) AS url",
        "'response' AS warc_type",
        "'2026-01-02T03:04:05Z' AS warc_date",
        "'application/http; msgtype=response' AS content_type",
        """cast(concat('HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n',
           'shared page chrome body ', id) AS BINARY) AS content""")
      .coalesce(1)
      .write.format("graft-warc")
      .option("codec", "zstd").option("dictSamples", "8")
      .mode("append").save(root)
    val (file, offset) = spark.read.format("graft-warc").load(root)
      .filter(col("url") === "http://z.example/p25")
      .select("warc_file", "offset").collect()
      .map(r => (r.getString(0), r.getLong(1))).head
    val rel = new java.io.File(new java.net.URI(file).getPath).getName
    assert(rel.endsWith(".warc.zst"))

    val cacheDir = tempDir("qhttp_z")
    val server = new QueryServer(spark, cacheDir, sfDir)
    val fe = new QueryServerHttp(server, archiveRoot = Some(root))
    val port = fe.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/fetch?file=$rel&offset=$offset"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      // a dictSamples archive member decodes only against the head
      // dictionary slot — this is the endpoint-level gate for the
      // positioned-read dict scan
      assert(resp.statusCode() == 200, new String(resp.body(), "UTF-8"))
      assert(new String(resp.body(), "UTF-8") == "shared page chrome body 25")
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/plain"))
    } finally fe.stop()
  }

  private def toJsonArray(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  test("page JSON renders byte-identical to Dataset.toJSON on edge values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("dt", DateType),
      StructField("dec", DecimalType(38, 18)),
      StructField("money", DecimalType(18, 2)),
      StructField("arr", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("st", StructType(Seq(
        StructField("a", LongType),
        StructField("b", StructType(Seq(StructField("c", StringType))))))),
      StructField("bin", BinaryType),
      StructField("flag", BooleanType)))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(
      Row(1, "quote \" backslash \\ slash / tab\t nl\n cr\r bell\u0007 nul\u0000",
        Double.NaN, Float.PositiveInfinity, ts("2026-03-04T05:06:07.123456Z"),
        java.time.LocalDateTime.parse("1999-12-31T23:59:59.000001"),
        java.sql.Date.valueOf("2024-02-29"),
        new java.math.BigDecimal("-12345678901234567890.123456789012345678"),
        new java.math.BigDecimal("0.10"),
        Seq(1.5, null, Double.NegativeInfinity), Map("k\"ey" -> 1, "n" -> null),
        Row(Long.MinValue, Row("n\u00e9sted \u2028 \ud83d\ude00")),
        Array[Byte](0, -1, 127, 10), true),
      Row(2, "non-BMP \ud834\udd1e \ud83d\ude00 and \u00ff", Double.PositiveInfinity,
        Float.NaN, ts("1900-01-01T00:00:00Z"),
        java.time.LocalDateTime.parse("2026-01-01T00:00:00"),
        java.sql.Date.valueOf("1582-10-15"), new java.math.BigDecimal("0E-18"),
        new java.math.BigDecimal("-99.99"), Seq.empty[Double], Map.empty[String, Integer],
        Row(null, null), Array.empty[Byte], false),
      Row(3, null, null, null, null, null, null, null, null, null, null, null, null, null),
      Row(4, "", -0.0, Float.NegativeInfinity, ts("1970-01-01T00:00:00Z"), null,
        java.sql.Date.valueOf("1970-01-01"), new java.math.BigDecimal("1E+2"), null,
        Seq[Any](null), Map("" -> 0), Row(0L, Row(null)), null, null))
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    assert(QueryServerHttp.renderJson(local) == toJsonArray(local))
    // and where the projection runs in a task rather than folding
    val dir = tempDir("qhttp_json")
    local.write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir).orderBy("id")
    assert(QueryServerHttp.renderJson(read) == toJsonArray(read))
  }

  test("the first and last page of each serving entry render as toJSON, with no job") {
    val cacheDir = tempDir("qhttp_pages")
    val server = new QueryServer(spark, cacheDir, sfDir)
    // the serve_read benchmark's entries
    val entries = Seq(
      ("i5_url_detail", "l_linenumber", true),
      ("w3_dual_sort", "n_cust", false),
      ("i2_domain_url_list", "o_totalprice", false),
      ("i20_cluster_members", "probe_id", true),
      ("lg1_topk_per_host", "rank_value", false),
      ("c1_crawldb_merge", "url_key", true))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    for ((name, sortBy, asc) <- entries) {
      val req = server.PageRequest(sortBy, ascending = asc, pageSize = 25)
      val n = server.resultCount(name, req)
      assert(n == server.index(name, req).count(), s"$name: resultCount")
      for (off <- Seq(0L, math.max(0L, n - 10))) {
        val page = server.page(name, req.copy(offset = off))
        spark.sparkContext.addSparkListener(listener)
        val body =
          try {
            val out = QueryServerHttp.renderJson(page)
            org.apache.spark.ListenerDrain(spark.sparkContext)
            out
          } finally spark.sparkContext.removeSparkListener(listener)
        assert(body == toJsonArray(page), s"$name offset $off")
        assert(body.startsWith(if (n == 0) "[]" else "[{"), s"$name offset $off")
      }
    }
    assert(jobs.get == 0, s"rendering ran ${jobs.get} Spark jobs")
  }
}
