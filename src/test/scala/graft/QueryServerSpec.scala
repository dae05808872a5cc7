package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupeQueries, QueryServer, Registry}

/** §3.1 interactive serving: the positional-index page server must
  * return exactly the rows a direct orderBy/offset/limit would, serve
  * repeat pages from the cache without recomputation, and keep asc/desc
  * indexes independent (the reference's per-sort-order index dirs). */
class QueryServerSpec extends AnyFunSuite with SparkSuite {

  private def newServer(): (QueryServer, String) = {
    val dir = java.nio.file.Files.createTempDirectory("qserver").toString
    (new QueryServer(spark, dir, sfDir), dir)
  }

  /** `f`'s result with the Spark jobs and tasks it ran on this thread,
    * counted by a listener on a job group of its own. */
  private def jobsOf[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = f
      ListenerDrain(sc)
      (out, jobs.get, tasks.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The page a direct orderBy/offset/limit returns for `req`, under the
    * index's total order (the sort field, then every other column). */
  private def directPage(name: String, req: QueryServer#PageRequest): Seq[String] = {
    val base = Registry.queries(name)(spark, sfDir)
    val ties = base.columns.filter(_ != req.sortBy).sorted.map(col)
    val order = (col(req.sortBy) +: ties)
      .map(c => if (req.ascending) c.asc else c.desc)
    base.orderBy(order: _*).offset(req.offset.toInt).limit(req.pageSize)
      .collect().map(_.toString).toSeq
  }

  test("pages equal direct orderBy/offset/limit in both directions") {
    val (server, _) = newServer()
    val name = "w3_dual_sort"
    val base = Registry.queries(name)(spark, sfDir)
    val sortBy = base.columns.head

    for (asc <- Seq(true, false)) {
      val req = server.PageRequest(sortBy, ascending = asc, offset = 5, pageSize = 7)
      val got = server.page(name, req)
        .drop("pos").collect().map(_.toString).toSeq

      val ties = base.columns.filter(_ != sortBy).sorted.map(col)
      val order = (col(sortBy) +: ties).map(c => if (asc) c.asc else c.desc)
      val want = base.orderBy(order: _*)
        .offset(5).limit(7).collect().map(_.toString).toSeq

      assert(got == want, s"asc=$asc page mismatch")
      assert(got.size == 7)
    }
  }

  test("index pos is the exact global rank across the whole result") {
    // the rank is computed per range partition + a size prefix sum (no
    // global window); this compares EVERY pos against the ground-truth
    // global sort, so a boundary error between partitions cannot hide
    val (server, _) = newServer()
    val name = "w2_pagination"
    val base = Registry.queries(name)(spark, sfDir)
    val sortBy = base.columns.head
    val req = server.PageRequest(sortBy, ascending = false, offset = 0, pageSize = 1)
    val idx = server.index(name, req).orderBy("pos")
    val n = idx.count()
    assert(n == base.count())
    assert(idx.select("pos").collect().map(_.getLong(0)).toSeq == (1L to n),
      "pos is not 1..N")
    val ties = base.columns.filter(_ != sortBy).sorted.map(col)
    val want = base
      .orderBy((col(sortBy) +: ties).map(_.desc): _*)
      .collect().map(_.toString).toSeq
    assert(idx.drop("pos").collect().map(_.toString).toSeq == want)
  }

  test("rank matches a global sort on randomized data (nulls, dup keys, both directions)") {
    // randomized adversary for the range-partition + prefix-sum rank:
    // duplicate sort keys spanning partition boundaries, nulls (asc =
    // nulls first), and a value column to prove row/rank pairing — not
    // just the rank sequence — survives the distributed computation
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val n = 5000
    val rows = (1 to n).map { i =>
      (i.toLong,
        if (rnd.nextInt(10) == 0) null
        else s"k${rnd.nextInt(40)}", // heavy duplication → boundary ties
        rnd.nextInt(1000).toLong)
    }
    import spark.implicits._
    val df = rows.toDF("id", "skey", "v")
    for (asc <- Seq(true, false)) {
      def d(c: org.apache.spark.sql.Column) = if (asc) c.asc else c.desc
      val order = Seq(d(col("skey")), d(col("id")), d(col("v")))
      val got = QueryServer.withGlobalPos(df, order)
        .orderBy("pos")
        .collect().map(r => (r.getLong(r.fieldIndex("pos")), r.getLong(0)))
      assert(got.map(_._1).toSeq == (1L to n).toSeq, s"asc=$asc pos not 1..N")
      val want = df.orderBy(order: _*).collect().map(_.getLong(0)).toSeq
      assert(got.map(_._2).toSeq == want, s"asc=$asc row order diverged")
    }
  }

  test("repeat pages hit one cached index per (sort, direction)") {
    val (server, dir) = newServer()
    val req = server.PageRequest("o_orderkey", ascending = true, offset = 0, pageSize = 10)
    val name = "i5_url_detail"
    def entries() = new java.io.File(dir).listFiles().count(_.isDirectory)

    val p1 = server.page(name, req).collect()
    assert(entries() == 1)
    val p2 = server.page(name, req).collect()
    assert(entries() == 1, "repeat page materialized a second index")
    assert(p1.toSeq.map(_.toString) == p2.toSeq.map(_.toString))

    // the opposite direction is its own canonical entry (the reference's
    // per-sort-order index dirs)
    server.page(name, req.copy(ascending = false)).collect()
    assert(entries() == 2)
  }

  test("a rejected request fails before anything is written to the cache") {
    // an unknown sort column or query name is never a cache hit, so it
    // reaches the build, which must refuse it before the staging write
    val (server, dir) = newServer()
    val e = intercept[IllegalArgumentException](
      server.page("w3_dual_sort", server.PageRequest("nope")))
    assert(e.getMessage.contains("unknown sort column 'nope'"))
    intercept[NoSuchElementException](
      server.page("no_such_query", server.PageRequest("x")))
    assert(new java.io.File(dir).list().isEmpty,
      s"cache dir not empty: ${new java.io.File(dir).list().mkString(", ")}")
  }

  test("a cached page runs no builder: i20's bucketed table stays untouched") {
    // i20 reads the shared (cluster_id → member_id) bucketed table; once
    // the entry is built, pages must read it and nothing else
    val (server, _) = newServer()
    val name = "i20_cluster_members"
    val req = server.PageRequest("probe_id", offset = 0, pageSize = 2)
    server.page(name, req).collect()
    def members(): Map[String, Long] = {
      val loc = java.nio.file.Paths.get(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(DedupeQueries.membersTable(sfDir)))
        .location)
      val files = java.nio.file.Files.walk(loc)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally files.close()
    }
    val built = members()
    assert(built.nonEmpty)
    val pages = Seq(0L, 1L, 2L).map(off =>
      server.page(name, req.copy(offset = off)).collect().map(_.toString).toSeq)
    assert(members() == built, "a cached page rewrote i20_members")
    assert(pages.forall(_.size == 2)) // 5 probes at sf0.001, each a member

    // concurrent cached pages used to race on the rewrite
    // (TABLE_OR_VIEW_ALREADY_EXISTS / TASK_WRITE_FAILED)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 4).map(_ => scala.concurrent.Future {
      server.page(name, req).collect().map(_.toString).toSeq
    })
    val results =
      try fs.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(120, "s")))
      finally pool.shutdown()
    assert(results.forall(_ == pages.head))
    assert(members() == built)
  }

  test("concurrent cold builds of two i20 sort orders both succeed") {
    // the two entries have different cache paths, so their builds run
    // at once; neither may write a table the other reads
    val (server, _) = newServer()
    val name = "i20_cluster_members"
    val reqs = Seq(
      server.PageRequest("probe_id", ascending = true, offset = 0, pageSize = 3),
      server.PageRequest("member_id", ascending = false, offset = 0, pageSize = 3))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = reqs.map(req => scala.concurrent.Future {
      server.page(name, req).drop("pos").collect().map(_.toString).toSeq
    })
    val results =
      try fs.map(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(300, "s")))
      finally pool.shutdown()
    val base = Registry.queries(name)(spark, sfDir)
    reqs.zip(results).foreach { case (req, got) =>
      val ties = base.columns.filter(_ != req.sortBy).sorted.map(col)
      val order = (col(req.sortBy) +: ties)
        .map(c => if (req.ascending) c.asc else c.desc)
      val want = base.orderBy(order: _*).limit(3).collect().map(_.toString).toSeq
      assert(got == want, s"${req.sortBy} page mismatch")
    }
  }

  test("a cached page runs one Spark job with one task") {
    // a global orderBy over the page planned a range-partitioning
    // exchange (a sampling job, a shuffle map job, a result job), and
    // every hit inferred the entry's parquet schema in a job of its own
    val (server, _) = newServer()
    for (name <- Seq("w3_dual_sort", "i5_url_detail")) {
      val sortBy = Registry.queries(name)(spark, sfDir).columns.head
      val req = server.PageRequest(sortBy, ascending = false, offset = 3, pageSize = 5)
      val cold = server.page(name, req).collect().map(_.toString).toSeq
      val (rows, jobs, tasks) = jobsOf(server.page(name, req).collect())
      assert(rows.map(_.toString).toSeq == cold)
      assert(jobs == 1, s"$name: a cached page ran $jobs jobs")
      assert(tasks == 1, s"$name: a cached page ran $tasks tasks")
      val (n, countJobs, _) = jobsOf(server.resultCount(name, req))
      assert(n == Registry.queries(name)(spark, sfDir).count())
      assert(countJobs <= 1, s"$name: a cached resultCount ran $countJobs jobs")
    }
  }

  test("pages across a range-partition boundary, the last page and past the end") {
    val (server, _) = newServer()
    val name = "w2_pagination"
    val sortBy = Registry.queries(name)(spark, sfDir).columns.head
    for (asc <- Seq(true, false)) {
      val req0 = server.PageRequest(sortBy, ascending = asc)
      val n = server.resultCount(name, req0)
      // the last pos of each index file but the final one: the index is
      // written one file per range partition
      val ends = server.index(name, req0)
        .groupBy(input_file_name()).agg(max("pos")).collect()
        .map(_.getLong(1)).sorted.dropRight(1)
      assert(ends.nonEmpty, s"asc=$asc: the index is a single file, no boundary to cross")
      val reqs = ends.toSeq.map(end => req0.copy(offset = math.max(0L, end - 2), pageSize = 5)) ++ Seq(
        req0.copy(offset = n - 3, pageSize = 7), // the last, partial page
        req0.copy(offset = n + 5, pageSize = 7)) // past the end: no rows
      for (req <- reqs) {
        val got = server.page(name, req).collect()
        val want = directPage(name, req)
        assert(got.map(r => r.getLong(r.fieldIndex("pos"))).toSeq ==
          (req.offset + 1 to math.min(n, req.offset + req.pageSize)),
          s"asc=$asc offset=${req.offset}: pos range")
        assert(server.page(name, req).drop("pos").collect().map(_.toString).toSeq == want,
          s"asc=$asc offset=${req.offset}: page mismatch")
      }
      assert(directPage(name, reqs.last).isEmpty)
      assert(directPage(name, reqs(reqs.size - 2)).size == 3)
    }
  }

  test("a deleted cache entry is rebuilt and read afresh") {
    // the entry's recorded schema must not outlive its files
    val (server, dir) = newServer()
    val name = "w3_dual_sort"
    val sortBy = Registry.queries(name)(spark, sfDir).columns.head
    val req = server.PageRequest(sortBy, offset = 2, pageSize = 4)
    val before = server.page(name, req).collect().map(_.toString).toSeq
    assert(before.size == 4)
    new java.io.File(dir).listFiles().foreach { f =>
      val files = java.nio.file.Files.walk(f.toPath)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally files.close()
    }
    assert(new java.io.File(dir).list().isEmpty)
    val after = server.page(name, req).collect().map(_.toString).toSeq
    assert(after == before)
    assert(new java.io.File(dir).listFiles().count(_.isDirectory) == 1,
      "the entry was not rebuilt")
  }

  test("page read prunes to the row groups containing the page") {
    val (server, _) = newServer()
    val name = "w3_dual_sort"
    val base = Registry.queries(name)(spark, sfDir)
    val req = server.PageRequest(base.columns.head, ascending = true, offset = 2, pageSize = 3)
    server.index(name, req).count() // build the index
    val plan = server.page(name, req).queryExecution.executedPlan.toString
    // the pos range predicate must reach the parquet reader
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(pos"),
      s"pos range not pushed to the scan:\n$plan")
  }

  test("concurrent first requests for one entry serialize on its build") {
    // two threads asking for the same uncached (query, sort) must not
    // race two overwrite-writes into one cache directory; the per-path
    // build lock serializes them and both serve the same result
    val (server, _) = newServer()
    val sortBy = Registry.queries("w2_pagination")(spark, sfDir).columns.head
    val req = server.PageRequest(sortBy, ascending = true,
      offset = 0, pageSize = 5)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 2).map { _ =>
      scala.concurrent.Future {
        server.page("w2_pagination", req)
          .collect().map(_.toString).toSeq
      }
    }
    val results = fs.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
    pool.shutdown()
    assert(results(0) == results(1))
    assert(results(0).nonEmpty)
  }
}
