package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryServer, QueryServerHttp, Registry}

/** The reference's serving shape (QueryServerFE servlets) over real HTTP:
  * a page request returns the same rows the library page() call does, the
  * count endpoint reads the cached index, and client errors are 400s. */
class QueryServerHttpSpec extends AnyFunSuite with SparkSuite {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("paged query, count, and error handling over HTTP") {
    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp").toString
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

  test("async submit → poll → result matches the synchronous page; cancel reaches a terminal state") {
    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp_async").toString
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
    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp_cap").toString
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
    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp_stop").toString
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
    val root = java.nio.file.Files.createTempDirectory("qhttp_arch").toString
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

    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp_f").toString
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
    val root = java.nio.file.Files.createTempDirectory("qhttp_zst").toString
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

    val cacheDir = java.nio.file.Files.createTempDirectory("qhttp_z").toString
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
}
