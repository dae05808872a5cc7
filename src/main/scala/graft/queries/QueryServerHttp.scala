package graft.queries

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.queries.QueryServerHttp.renderJson
import graft.sources.v2.{ArcFormat, WarcFormat}

/** Thin HTTP front end over [[QueryServer]] — the serving shape of the
  * reference's QueryServerFE, which registers one servlet per named
  * query over the master's query engine (QueryServerFE.java:111-118,
  * CrawlListServlet paging). Spark-side everything stays [[QueryServer]]:
  * this layer only parses the request, asks for one page, and streams it
  * out as JSON.
  *
  *   GET /query/<name>?sortBy=<col>[&dir=asc|desc][&offset=N][&pageSize=N]
  *       → JSON array of row objects (one page of the positional index)
  *   GET /count/<name>?sortBy=<col>[&dir=asc|desc]
  *       → {"count": N} (the index's parquet footers, read on the
  *       driver: no Spark job on a cache hit)
  *   GET /submit/<name>?…   → {"id":…} async page build under a job group
  *   GET /status/<id>       → status + task-level progress (heartbeat)
  *   GET /result/<id>[?offset=N&pageSize=N] → the submit-time page once
  *       status is "done"; explicit paging params browse any page of the
  *       cached positional index without re-running the query
  *   GET /cancel/<id>       → cooperative cancellation via cancelJobGroup
  *
  * JSON rendering is one `to_json(struct(*))` projection over the page
  * (schema-aware, correct escaping, byte-identical to DataFrame.toJSON)
  * rather than hand-rolled string building; the page is a local
  * DataFrame, so Spark folds the projection and rendering runs no job.
  * Built on the JDK's HttpServer so the library adds no dependency;
  * production fronting (TLS, auth) belongs on a reverse proxy, exactly
  * like the reference's Jetty FE sat behind the ops stack.
  *
  * Accepted sockets run with TCP_NODELAY. A response goes out as two
  * writes, headers then body; with Nagle's algorithm on (the JDK
  * server's default) the body waits for the client's ACK of the
  * header segment, which the client delays by about 40 ms. On
  * loopback with the JDK's HttpURLConnection, one connection per
  * request, that put every response at a 44 ms median; with
  * TCP_NODELAY it is 0.3 ms (JDK 17, 2–40 KB bodies). The JDK reads
  * its `sun.net.httpserver.nodelay` property once per JVM, when the
  * first HttpServer is created, so the companion object sets it before
  * creating this server's, unless the JVM was started with it set; a
  * JDK HttpServer created earlier in the same JVM fixes the setting. */
final class QueryServerHttp(server: QueryServer, port: Int = 0,
    maxJobs: Int = QueryServerHttp.DefaultMaxJobs,
    archiveRoot: Option[String] = None) {

  private val http = QueryServerHttp.bind(port)
  // the HttpServer never shuts down an executor it is given; stop() does
  private[graft] val handlers = java.util.concurrent.Executors.newFixedThreadPool(4)
  http.setExecutor(handlers)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) ->
          java.net.URLDecoder.decode(v, UTF_8)
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def handle(ex: HttpExchange)(f: => String): Unit =
    handleBytes(ex)((f.getBytes(UTF_8), "application/json"))

  /** Serves `f`'s (body, content type), or a JSON error: 429 at the job
    * cap, 400 for client errors, 500 for anything else. */
  private def handleBytes(ex: HttpExchange)(f: => (Array[Byte], String)): Unit = {
    def error(code: Int, msg: String): Unit =
      respond(ex, code, s"""{"error":${jsonStr(msg)}}""".getBytes(UTF_8),
        "application/json")
    try {
      val (body, contentType) = f
      respond(ex, 200, body, contentType)
    } catch {
      case e: QueryServerHttp.TooManyJobsException => error(429, e.getMessage)
      // bad request names / sort columns / numbers surface as require(),
      // map lookups or NumberFormatException (an IllegalArgumentException)
      // — client errors, not server faults
      case e @ (_: IllegalArgumentException | _: NoSuchElementException) =>
        error(400, e.getMessage)
      case e: Exception => error(500, e.toString)
    } finally ex.close()
  }

  private def jsonStr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def reqOf(p: Map[String, String]) = {
    // the page is collected on the driver (one page = one response body),
    // so client-supplied sizes must be bounded — the reference's servlet
    // layer bounds paging the same way (ClientQueryInfo's bounded window,
    // queryserver.jr:50-62). Violations → 400 via the handle() path.
    val pageSize = p.getOrElse("pageSize", "25").toInt
    val offset = p.getOrElse("offset", "0").toLong
    checkPage(offset, pageSize)
    server.PageRequest(
      sortBy = p.getOrElse("sortBy",
        throw new IllegalArgumentException("missing sortBy parameter")),
      ascending = p.getOrElse("dir", "asc") match {
        case "asc" => true
        case "desc" => false
        case d => throw new IllegalArgumentException(
          s"dir must be asc or desc, got '$d'")
      },
      offset = offset,
      pageSize = pageSize)
  }

  private def checkPage(offset: Long, pageSize: Int): Unit = {
    require(pageSize >= 1 && pageSize <= QueryServerHttp.MaxPageSize,
      s"pageSize must be in [1, ${QueryServerHttp.MaxPageSize}], got $pageSize")
    require(offset >= 0, s"offset must be >= 0, got $offset")
  }

  http.createContext("/query/", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/query/")
    val p = params(ex)
    renderJson(server.page(name, reqOf(p)))
  })

  http.createContext("/count/", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/count/")
    s"""{"count":${server.resultCount(name, reqOf(params(ex)))}}"""
  })

  // --- async submit/status/result/cancel: the serving shape of the
  // reference's long-query protocol, where the client polls progress
  // heartbeats for a remotely executing query and can cancel it
  // (queryserver.jr:244 QueryStatus/heartbeat; RemoteQueryInfo). The
  // submit validates synchronously (400 on bad name/column), hands the
  // page build to a worker under a Spark job group named by the query
  // id, and cancel maps to cancelJobGroup — Spark's cooperative task
  // interruption, the cluster analog of the reference's cancel flag.

  private final class AsyncJob(val name: String, val req: server.PageRequest) {
    val status = new java.util.concurrent.atomic.AtomicReference[String]("running")
    @volatile var result: String = _
    @volatile var error: String = _
    val startedAt: Long = System.currentTimeMillis
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[String, AsyncJob]()
  private val workers = java.util.concurrent.Executors.newFixedThreadPool(2)

  private def jobOf(path: String, prefix: String): AsyncJob = {
    val id = path.stripPrefix(prefix)
    val j = jobs.get(id)
    if (j == null) throw new IllegalArgumentException(s"unknown job id '$id'")
    j
  }

  private def statusJson(id: String, j: AsyncJob): String = {
    // task-level progress from the status tracker, keyed by the job
    // group — the heartbeat payload the reference streams back
    val tracker = server.spark.sparkContext.statusTracker
    val (done, total) = tracker.getJobIdsForGroup(id)
      .flatMap(jid => tracker.getJobInfo(jid).toSeq)
      .flatMap(_.stageIds().flatMap(sid => tracker.getStageInfo(sid).toSeq))
      .foldLeft((0, 0)) { case ((d, t), s) => (d + s.numCompletedTasks, t + s.numTasks) }
    s"""{"id":${jsonStr(id)},"status":${jsonStr(j.status.get)}""" +
      s""","elapsed_ms":${System.currentTimeMillis - j.startedAt}""" +
      s""","tasks_done":$done,"tasks_total":$total""" +
      (if (j.error == null) "" else s""","error":${jsonStr(j.error)}""") + "}"
  }

  http.createContext("/submit/", (ex: HttpExchange) => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/submit/")
    val req = reqOf(params(ex))
    server.validate(name, req) // 400 now, not a failed job later
    // bound the ledger: drop the oldest terminal jobs beyond the cap,
    // and REFUSE new work while MaxJobs jobs are still non-terminal —
    // otherwise a submit burst grows both the map and the executor's
    // unbounded queue without limit (the advertised bound must hold even
    // though the bind is loopback-only)
    if (jobs.size >= maxJobs) {
      import scala.jdk.CollectionConverters._
      jobs.entrySet.asScala.toSeq
        .filter(e => e.getValue.status.get != "running")
        .sortBy(_.getValue.startedAt)
        .take(jobs.size - (maxJobs - 1))
        .foreach(e => jobs.remove(e.getKey))
    }
    if (jobs.size >= maxJobs)
      throw new QueryServerHttp.TooManyJobsException(
        s"too many in-flight jobs (cap $maxJobs); retry after polling " +
          "existing jobs to completion")
    val id = java.util.UUID.randomUUID.toString
    val job = new AsyncJob(name, req)
    jobs.put(id, job)
    workers.submit(new Runnable {
      override def run(): Unit = {
        // a cancel that landed while this job sat in the worker queue
        // already CASed it terminal — honor it instead of building the
        // whole page only to discard the result
        if (job.status.get != "running") return
        val sc = server.spark.sparkContext
        sc.setJobGroup(id, s"graft async $name", interruptOnCancel = true)
        try {
          val page = renderJson(server.page(name, req))
          // CAS: a cancel that won the race keeps its terminal state
          if (job.status.compareAndSet("running", "done")) job.result = page
        } catch {
          case e: Throwable =>
            job.error = e.toString
            job.status.compareAndSet("running", "failed")
        } finally sc.clearJobGroup()
      }
    })
    s"""{"id":${jsonStr(id)},"status":"running"}"""
  })

  http.createContext("/status/", (ex: HttpExchange) => handle(ex) {
    val id = ex.getRequestURI.getPath.stripPrefix("/status/")
    statusJson(id, jobOf(ex.getRequestURI.getPath, "/status/"))
  })

  // /result/<id> returns the page built at submit time; with explicit
  // offset/pageSize params it serves ANY page of the completed query
  // instead — the submit-time work cached the positional index, so a
  // different page is a pos-range-pruned read of that cache, never a
  // re-execution (the reference's cache-then-paginate protocol: run the
  // query once, browse the indexed result page by page, §3.1 step 9).
  http.createContext("/result/", (ex: HttpExchange) => handle(ex) {
    val j = jobOf(ex.getRequestURI.getPath, "/result/")
    require(j.status.get == "done", s"job is ${j.status.get}, not done")
    val p = params(ex)
    if (p.contains("offset") || p.contains("pageSize")) {
      val req = j.req.copy(
        offset = p.get("offset").map(_.toLong).getOrElse(j.req.offset),
        pageSize = p.get("pageSize").map(_.toInt).getOrElse(j.req.pageSize))
      checkPage(req.offset, req.pageSize)
      renderJson(server.page(j.name, req))
    } else j.result
  })

  // --- archived page content by (archive file, member offset) — the
  // reference's content servlet resolves a URL's stored location and
  // seeks the archive member the same way (MasterServer.java:1057,
  // queryserver.jr:229-233 readPaginatedResults serve page bytes).
  // The locator comes from the scans' (arc_file/warc_file, offset)
  // columns or a CDX line (s15); the fetch SEEKS — it never reads the
  // archive. Raw payload bytes, payload mime as Content-Type.
  //
  //   GET /fetch?file=<relative path>&offset=N
  //
  // Only enabled when an archiveRoot is configured; the path must stay
  // under it (no "..", no absolute paths) — the bind is loopback-only,
  // but the root is the contract.
  http.createContext("/fetch", (ex: HttpExchange) => handleBytes(ex) {
    val p = params(ex)
    val root = archiveRoot.getOrElse(
      throw new IllegalArgumentException("content fetch is not enabled (no archive root)"))
    val rel = p.getOrElse("file",
      throw new IllegalArgumentException("missing file parameter"))
    require(!rel.startsWith("/") && !rel.split("/").contains("..") && rel.nonEmpty,
      s"file must be a relative path under the archive root, got '$rel'")
    // the formats' own default file-name patterns decide what is an archive
    val fileName = rel.substring(rel.lastIndexOf('/') + 1)
    val warc = WarcFormat.defaultNames.matches(fileName)
    require(warc || ArcFormat.defaultNames.matches(fileName),
      s"not an archive file: '$rel'")
    val offset = p.getOrElse("offset", "0").toLong
    require(offset >= 0, s"offset must be >= 0, got $offset")
    val f = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root), rel)
    val fs = f.getFileSystem(server.spark.sparkContext.hadoopConfiguration)
    val in = fs.open(f)
    try {
      // a .warc.zst written with a shared dictionary needs the head
      // slot before any member decodes (positioned reads — the
      // stream pointer is untouched before the seek)
      val dict =
        if (rel.endsWith(".warc.zst")) graft.sources.ZstdMembers.dictAtHead(in)
        else null
      in.seek(offset)
      if (warc) graft.sources.v2.WarcRecords.fetchPayload(in, dict)
      else {
        val rec = graft.sources.ArcSource.parseArc(in).next()
        (rec.content, rec.mimeType)
      }
    } finally in.close()
  })

  http.createContext("/cancel/", (ex: HttpExchange) => handle(ex) {
    val id = ex.getRequestURI.getPath.stripPrefix("/cancel/")
    val j = jobOf(ex.getRequestURI.getPath, "/cancel/")
    if (j.status.compareAndSet("running", "cancelled"))
      server.spark.sparkContext.cancelJobGroup(id)
    s"""{"id":${jsonStr(id)},"status":${jsonStr(j.status.get)}}"""
  })

  /** Start listening; returns the bound port (ephemeral when port=0). */
  def start(): Int = {
    http.start()
    http.getAddress.getPort
  }

  def stop(): Unit = {
    http.stop(0)
    handlers.shutdownNow()
    workers.shutdownNow()
  }
}

object QueryServerHttp {
  // read by the JDK once per JVM, when the first HttpServer is created
  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  /** A server bound to `port` on loopback. Creating it here runs the
    * object's initializer, which sets `NoDelay`, first. */
  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Upper bound on one page: keeps a single response's driver-side
    * collect O(MaxPageSize) no matter what the client asks for. */
  val MaxPageSize: Int = 10000

  /** Default in-flight job cap (ledger + worker-queue bound). */
  val DefaultMaxJobs: Int = 256

  /** `df` as a JSON array of row objects, one `to_json(struct(*))`
    * projection per row: the same bytes as `df.toJSON`, without the
    * extra deserialize/mapPartitions stage toJSON plans. Over a local
    * relation (a [[QueryServer.page]]) the optimizer evaluates the
    * projection itself, so no Spark job runs. */
  private[graft] def renderJson(df: DataFrame): String =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0))
      .mkString("[", ",", "]")

  /** Submit refused because maxJobs jobs are still non-terminal → 429. */
  private[queries] final class TooManyJobsException(msg: String)
      extends RuntimeException(msg)
}
