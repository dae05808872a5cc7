package benchharness

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.BenchBus
import org.apache.spark.sql.functions.col

import graft.queries.{QueryServer, QueryServerHttp, Registry, ResultCache}

/** The serving workload (serve_read): a QueryServer behind QueryServerHttp
  * on loopback, driven by closed-loop HTTP clients in this process.
  * Set-up builds the positional index of every reader entry in a fresh
  * cache dir; then `Clients` closed-loop readers page through them at
  * seeded offsets, visiting the entries in seeded order, so every request
  * is a ResultCache hit.
  *
  * Everything is checked after the window, against one direct
  * QueryServer.page of each whole index:
  *  - each index: its rows and order-insensitive digest (without `pos`),
  *    which the launcher compares with their pins, and its sort column
  *    monotone over `pos` in the requested direction;
  *  - each page: its rows carry the contiguous `pos` range
  *    offset+1..offset+k and equal the same range of the direct read. */
object Serve {
  final case class Entry(name: String, sortBy: String, asc: Boolean) {
    def query(offset: Long, pageSize: Int): String =
      s"sortBy=$sortBy&dir=${if (asc) "asc" else "desc"}&offset=$offset&pageSize=$pageSize"
  }

  /** Four small interactive results and two large ones (74k and 150k
    * rows), cheapest build first. i20 stays at its 1/6 share although its
    * builder rewrites a shared bucketed table on every request (see
    * NOTES.md). */
  val Readers = Seq(
    Entry("i5_url_detail", "l_linenumber", asc = true),
    Entry("w3_dual_sort", "n_cust", asc = false),
    Entry("i2_domain_url_list", "o_totalprice", asc = false),
    Entry("i20_cluster_members", "probe_id", asc = true),
    Entry("lg1_topk_per_host", "rank_value", asc = false),
    Entry("c1_crawldb_merge", "url_key", asc = true))

  val PageSize = 25

  /** One reader. With two or more, concurrent i20 requests race on the
    * table its builder rewrites and a random few pages fail, so two sets
    * of runs of the same code would not agree (see NOTES.md, finding 1).
    * One reader also keeps the load within the four cores Spark's tasks
    * already use. */
  val Clients = 1

  /** Untimed pages served after the last set-up build, before the window:
    * a fixed amount of warm-up traffic, so the JIT has got about as far
    * in every run when timing starts. */
  val WarmPages = 16

  final case class Page(entry: Entry, offset: Long, status: Int, body: String,
      ms: Double, layers: Map[String, Double])

  /** The direct read of one whole index: its digest without `pos`, the
    * `pos` of the first row whose sort key breaks the requested order, if
    * any, and, by `pos`, the rows the window's pages cover, as the server
    * renders them. */
  final case class Direct(digest: RowHash.Digest, disorderAt: Option[Long],
      rows: Map[Long, String])

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val cacheDir = s"${ctx.work}/cache"
    val server = new QueryServer(spark, cacheDir, ctx.sf)
    val fingerprint = ResultCache.inputFingerprint(spark, ctx.sf)
    val http = new QueryServerHttp(server, 0)
    val port = http.start()
    val base = s"http://127.0.0.1:$port"

    // Set-up: the reader indexes build concurrently, submitted cheapest
    // first, as the first requests of several users would. The
    // readers start at once on every index already built, and serve
    // WarmPages more after the last one, untimed: the page path (builder
    // re-runs, planning, parquet reads, HTTP) is still being JIT-compiled.
    val counts = new java.util.concurrent.ConcurrentHashMap[Entry, java.lang.Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Readers.size)
    val pending = Readers.map { e =>
      pool.submit(() => {
        val t0 = System.nanoTime()
        val n = server.resultCount(e.name, server.PageRequest(e.sortBy, e.asc))
        counts.put(e, n)
        e -> (n, Main.ms(t0, System.nanoTime()))
      })
    }
    pool.shutdown()

    val measuring = new AtomicBoolean(false)
    val stop = new AtomicBoolean(false)
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val pages = mutable.ArrayBuffer.empty[Page]
    val readers = (0 until Clients).map { c =>
      thread(s"reader-$c") {
        // warm-up and window draw from separate generators, so the
        // window's requests depend on the seed alone
        val warm = new scala.util.Random(ctx.seed * 1000003L + c + 500)
        var rnd = warm
        var n = 0
        var round = List.empty[Entry]
        while (!stop.get) {
          val timed = measuring.get
          if (timed && (rnd eq warm)) {
            rnd = new scala.util.Random(ctx.seed * 1000003L + c)
            round = Nil
          }
          // every reader visits each entry once per round, in seeded order,
          // so the entry mix is the same in every run
          if (round.isEmpty) round = rnd.shuffle(Readers.filter(counts.containsKey)).toList
          if (round.isEmpty) Thread.sleep(50)
          else {
            val e = round.head
            round = round.tail
            val nPages = math.max(1L, (counts.get(e) + PageSize - 1) / PageSize)
            val off = PageSize.toLong * rnd.nextLong(nPages)
            val r0 = System.nanoTime()
            val (status, body) = get(s"$base/query/${e.name}?${e.query(off, PageSize)}")
            val wall = Main.ms(r0, System.nanoTime())
            if (timed) {
              val layers =
                if (ctx.trace.isEmpty) Map.empty[String, Double]
                else replay(ctx, server, cacheDir, fingerprint, c * 100000 + n, e, off, wall)
              pages.synchronized(pages += Page(e, off, status, body, wall, layers))
            }
            n += 1
            served.incrementAndGet()
          }
        }
      }
    }
    val builds = pending.map(_.get)
    val cacheBytesSetup = du(cacheDir)
    val warmTo = served.get + WarmPages
    while (served.get < warmTo && readers.exists(_.isAlive)) Thread.sleep(5)
    val setupS = ctx.sinceLaunch
    val codegen0 = Trace.codegen()
    val windowFromMs = System.currentTimeMillis
    val t0 = System.nanoTime()
    measuring.set(true)
    Thread.sleep((ctx.seconds * 1e3).toLong)
    stop.set(true)
    readers.foreach(_.join(120000L))
    val windowS = Main.ms(t0, System.nanoTime()) / 1e3
    val windowToMs = System.currentTimeMillis
    // read before any check runs, so the checks' own reads are not in it
    val memory = Memory.now()
    val codegenWindow = Trace.codegenSince(codegen0)
    http.stop()

    // --- checks, after the window: one direct QueryServer.page per entry,
    // the entries side by side
    val checks0 = System.nanoTime()
    val offsets = pages.toSeq.groupBy(_.entry)
      .map { case (e, ps) => e -> ps.map(_.offset).distinct }
    implicit val ec: ExecutionContext = ExecutionContext.global
    val direct = Await.result(Future.traverse(builds) { case (e, (n, _)) =>
      Future(e -> Main.attempt {
        val df = server.page(e.name, server.PageRequest(e.sortBy, e.asc, 0L,
          math.max(1L, n).toInt))
        val data = df.drop("pos")
        val keys = df.select(e.sortBy).collect().map(_.get(0))
        val covered = offsets.getOrElse(e, Nil)
          .map(o => col("pos") > o && col("pos") <= o + PageSize)
        val rows = if (covered.isEmpty) Map.empty[Long, String]
          else df.filter(covered.reduce(_ || _)).toJSON.collect().map(r => posOf(r) -> r).toMap
        Direct(RowHash.run(data.queryExecution.executedPlan, data.schema),
          disorderAt(keys, e.asc), rows)
      })
    }, Duration.Inf).toMap
    /** None when the page is right, else (wrong output?, why). */
    def check(e: Entry, off: Long, body: String): Option[(Boolean, String)] =
      direct(e) match {
        case Left(err) => Some((false, s"direct read failed: $err"))
        case Right(d) =>
          val wantPos = (off + 1) to math.min(off + PageSize, d.digest.rows)
          val got = splitRows(body)
          val pos = got.map(posOf)
          if (pos.toSeq != wantPos)
            Some((true, s"pos range ${pos.take(3).mkString(",")}… at offset $off"))
          else if (got.toSeq != wantPos.map(d.rows.get(_).orNull))
            Some((true, s"rows differ from direct page at offset $off"))
          else None
      }
    def op(kind: String, e: Entry, ms: Double, bad: Option[(Boolean, String)]) =
      Op(kind, e.name, ms, bad.isEmpty, wrong = bad.exists(_._1),
        error = bad.map(_._2).getOrElse(""))
    val pageOps = pages.toSeq.map { p =>
      op("page", p.entry, p.ms,
        if (p.status != 200) Some((false, s"HTTP ${p.status}: ${p.body.take(200)}"))
        else check(p.entry, p.offset, p.body))
    }
    // an index's digest is checked against its pin by the launcher
    val buildOps = builds.map { case (e, (n, ms)) =>
      direct(e) match {
        case Left(err) => op("index_build", e, ms, Some((false, s"direct read failed: $err")))
        case Right(d) =>
          val bad =
            if (d.digest.rows != n) Some(s"index counts $n rows but reads ${d.digest.rows}")
            else d.disorderAt.map(pos =>
              s"${e.sortBy} breaks ${if (e.asc) "ascending" else "descending"} order at pos $pos")
          op("index_build", e, ms, bad.map((true, _))).copy(rows = d.digest.rows,
            hash = d.digest.hex)
      }
    }
    val checksDone = System.nanoTime()

    val layers = ctx.trace.map { tr =>
      BenchBus.drain(ctx.sc)
      val replayed = pages.toSeq.filter(_.layers.nonEmpty)
      def med(k: String) = Main.median(replayed.map(_.layers(k)))
      def total(k: String) = replayed.map(_.layers(k)).sum
      val scopes = replayed.map(p => p.layers("scope").toInt).map(i => s"req-$i")
      val returned = total("rows_returned")
      val readRows = scopes.map(s => tr.stats(s).inputRecords).sum.toDouble
      // execution counters of the replayed page reads
      val l = Layers.of(tr, scopes, total("page_exec_ms"), ctx.cores)
      // scheduling wait of the page jobs the HTTP handlers submit in the
      // window (the set-up builds and warm-up pages are unscoped too)
      val pageJobs = Layers.of(tr, Seq("server"), 0.0, ctx.cores,
        submittedIn = (windowFromMs, windowToMs))
      l ++= Seq(
        "sched_wait_ms" -> pageJobs("sched_wait_ms"),
        "sched_wait_max_ms" -> pageJobs("sched_wait_max_ms"),
        "replayed_pages" -> replayed.size.toDouble,
        "build_ms" -> med("build_ms"),
        "build_jobs" -> scopes.map(s => tr.stats(s"build:$s").jobs).sum.toDouble,
        "plan_ms" -> med("plan_ms"),
        "codegen_ms" -> codegenWindow._2,
        "codegen_compiles" -> codegenWindow._1,
        "exec_ms" -> med("page_exec_ms"),
        "cache_hits" -> total("cache_hit"),
        "cache_misses" -> (replayed.size - total("cache_hit")),
        "cache_lookup_ms" -> med("cache_lookup_ms"),
        "cache_build_ms" -> Main.median(builds.map(_._2._2)),
        "cache_bytes_written" -> cacheBytesSetup.toDouble,
        "index_ms" -> med("index_ms"),
        "page_exec_ms" -> med("page_exec_ms"),
        "rows_read_per_row_returned" -> (if (returned > 0) readRows / returned else 0.0),
        "http_ms" -> med("http_ms"),
        "http_5xx" -> pages.count(_.status >= 500).toDouble,
        "persisted_rdds_after" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "cache_entries_after" -> org.apache.spark.sql.BenchCache.entries(spark).toDouble)
      l.toMap
    }.getOrElse(Map.empty)

    val detail = Map[String, Any](
      "readers" -> Clients,
      "check_s" -> Main.ms(checks0, checksDone) / 1e3,
      "http_5xx" -> pages.count(_.status >= 500),
      "result_rows" -> builds.map { case (e, (n, _)) => e.name -> n }.toMap,
      "index_build_ms" -> builds.map { case (e, (_, ms)) => e.name -> ms }.toMap)
    Result(setupS, windowS, memory, buildOps ++ pageOps, layers, detail)
  }

  /** Replay one request in process, timing each call QueryServer.index
    * makes (the query builder, then the ResultCache lookup) and the page
    * read, under listener scopes named after the request. */
  private def replay(ctx: Ctx, server: QueryServer, cacheDir: String,
      fingerprint: String, id: Int, e: Entry, off: Long,
      httpMs: Double): Map[String, Double] = {
    val scope = s"req-$id"
    val spark = ctx.spark
    val params = Map("sort" -> e.sortBy, "dir" -> (if (e.asc) "asc" else "desc"),
      "sf" -> ctx.sf, "data" -> fingerprint)
    val t0 = System.nanoTime()
    Main.attempt {
      Trace.inScope(ctx.sc, s"build:$scope")(Registry.queries(e.name)(spark, ctx.sf))
    }
    val t1 = System.nanoTime()
    val entry = new Path(s"$cacheDir/${ResultCache.canonicalId(e.name, params)}/_SUCCESS")
    val hit = entry.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(entry)
    val t2 = System.nanoTime()
    val res = Main.attempt {
      val idx = ResultCache.getOrCompute(spark, cacheDir, e.name, params)(
        throw new IllegalStateException(s"no cached index for ${e.name}"))
      val t3 = System.nanoTime()
      Trace.inScope(ctx.sc, scope) {
        val js = idx.filter(col("pos") > off && col("pos") <= off + PageSize)
          .orderBy(col("pos")).toJSON
        js.queryExecution.executedPlan
        val t4 = System.nanoTime()
        val rows = js.collect().length
        (t3, t4, System.nanoTime(), rows)
      }
    }
    val (t3, t4, t5, rows) = res.getOrElse((t2, t2, t2, 0))
    val buildMs = Main.ms(t0, t1)
    val lookupMs = Main.ms(t2, t3)
    val planMs = Main.ms(t3, t4)
    val execMs = Main.ms(t4, t5)
    Map("scope" -> id.toDouble,
      "build_ms" -> buildMs,
      "cache_hit" -> (if (hit) 1.0 else 0.0),
      "cache_lookup_ms" -> lookupMs,
      "index_ms" -> (buildMs + lookupMs),
      "plan_ms" -> planMs,
      "page_exec_ms" -> execMs,
      "rows_returned" -> rows.toDouble,
      "http_ms" -> (httpMs - buildMs - lookupMs - planMs - execMs))
  }

  /** The `pos` of the first key that breaks the requested order, if any.
    * Nulls rank lowest, where Spark's asc (nulls first) and desc (nulls
    * last) put them. */
  private def disorderAt(keys: Array[Any], asc: Boolean): Option[Long] =
    (1 until keys.length).find { i =>
      val c = compareKeys(keys(i - 1), keys(i))
      if (asc) c > 0 else c < 0
    }.map(_ + 1L)

  /** Spark's ordering of one sort key's values: NaN above every double,
    * strings by their UTF-8 bytes. */
  private def compareKeys(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y)
    case (x: java.lang.Number, y: java.lang.Number) =>
      new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(s"cannot order ${a.getClass} keys")
  }

  private def get(url: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(150000)
    try {
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, body)
    } catch {
      case e: java.io.IOException => (599, Main.errorOf(e))
    } finally c.disconnect()
  }

  /** Split a JSON array of flat row objects into its row strings. The
    * engine renders rows with DataFrame.toJSON, so a row boundary is a
    * "},{" outside any string literal. */
  private def splitRows(body: String): Array[String] = {
    val s = body.trim.stripPrefix("[").stripSuffix("]")
    if (s.isEmpty) return Array.empty
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var esc = false; var start = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (ch == '\\') esc = true
        else if (ch == '"') inStr = false
      } else ch match {
        case '"' => inStr = true
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toArray
  }

  private def posOf(row: String): Long =
    """"pos":(\d+)""".r.findFirstMatchIn(row).map(_.group(1).toLong).getOrElse(-1L)

  private def du(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }
}
