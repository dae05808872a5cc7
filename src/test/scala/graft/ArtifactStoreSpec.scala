package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.CacheEntries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PersistBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupeQueries, GraphQueries, Registry, ResultCache, Staging}

/** The build-once artifact store ([[ResultCache.getOrBuild]]) and the
  * builders on it: an entry is built once however many callers ask, an
  * input rewritten in place is rebuilt, and a second run of any query
  * that reaches the store or a staging path changes nothing. */
class ArtifactStoreSpec extends AnyFunSuite with SparkSuite with TempStageDir {

  private def stageBase: String = spark.conf.get(Staging.ConfKey)

  test("two threads asking for one entry build it once") {
    val builds = new AtomicInteger(0)
    def get() = ResultCache.getOrBuild(spark, "spec-conc", Map("k" -> "1"), sfDir) { out =>
      builds.incrementAndGet()
      Thread.sleep(200)
      spark.range(3).write.parquet(s"$out/a")
      spark.range(5).write.parquet(s"$out/b")
    }
    val paths = Await.result(Future.sequence(Seq(Future(get()), Future(get()))), 120.seconds)
    assert(builds.get == 1)
    assert(paths.distinct.size == 1)
    val entry = paths.head
    assert(spark.read.parquet(s"$entry/a").count() == 3)
    assert(spark.read.parquet(s"$entry/b").count() == 5)
    // a multi-output entry is gated by its own marker
    assert(Files.exists(Paths.get(entry.stripPrefix("file:"), "_SUCCESS")))
  }

  test("page builds that reach the store on crossed stripes do not deadlock") {
    // One page holds the cache stripe numbered like entry kb and asks
    // for entry 1; the other holds the one numbered like entry 1 and asks
    // for entry kb. A hit takes its stripe too, so the entries may exist.
    // With one stripe array for both levels each would wait forever.
    val cacheDir = tempDir("graft-cache-cross")
    def entry(k: Int) = ResultCache.getOrBuild(spark, "spec-cross", Map("k" -> k.toString), sfDir) {
      out => spark.range(k).write.parquet(out)
    }
    val s1 = ResultCache.stripe(entry(1))
    val kb = Iterator.from(2).find(k => ResultCache.stripe(entry(k)) != s1).get
    def pageLike(k: Int) = {
      val target = ResultCache.stripe(entry(k))
      Iterator.from(0).map(i => Map("i" -> i.toString)).find(p =>
        ResultCache.stripe(s"$cacheDir/${ResultCache.canonicalId("spec-page", p)}") == target).get
    }
    val bothHeld = new java.util.concurrent.CountDownLatch(2)
    // the page whose stripe is numbered like entry `like` reads entry `k`
    def page(like: Int, k: Int) = {
      val params = pageLike(like)
      Future {
        ResultCache.getOrCompute(spark, cacheDir, "spec-page", params) {
          bothHeld.countDown()
          bothHeld.await(60, SECONDS)
          spark.read.parquet(entry(k))
        }.count()
      }
    }
    val counts = Await.result(Future.sequence(Seq(page(kb, 1), page(1, kb))), 120.seconds)
    assert(counts == Seq(1L, kb.toLong))
  }

  test("a failed build publishes nothing and leaves no build dir") {
    def get(fail: Boolean) =
      ResultCache.getOrBuild(spark, "spec-fail", Map.empty, sfDir) { out =>
        spark.range(2).write.parquet(s"$out/a")
        if (fail) throw new IllegalStateException("killed mid-build")
      }
    intercept[IllegalStateException](get(fail = true))
    val store = new java.io.File(Staging.path(spark, "store").stripPrefix("file:"))
    val names = store.list().filter(_.startsWith("spec-fail"))
    assert(names.isEmpty, names.mkString(", "))
    val entry = get(fail = false)
    assert(spark.read.parquet(s"$entry/a").count() == 2)
  }

  test("artifact consumers see an input dir rewritten in place") {
    val dir = tempDir("graft-sf-copy")
    new java.io.File(sfDir).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(dir, f.getName)))
    def rewrite(table: String, keep: org.apache.spark.sql.Column): Unit = {
      val rows = Registry.table(spark, sfDir, table).filter(keep)
      Files.delete(Paths.get(dir, s"$table.parquet"))
      rows.write.parquet(s"$dir/$table.parquet")
    }
    def edgeDsts = Registry.queries("g1_link_extract")(spark, dir)
      .select("dst_domain").collect().map(_.getLong(0)).toSet
    def probes = Registry.queries("i20_cluster_members")(spark, dir)
      .select("probe_id").collect().map(_.getLong(0)).toSet
    def labelled = DedupeQueries.sharedNearDup(spark, dir)._2
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val probes0 = probes
    assert(edgeDsts.exists(_ % 2 == 0) && probes0.exists(_ % 3 == 1))
    // a hit leaves the registered table as it is
    def registered = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(DedupeQueries.membersTable(dir)))
    val before = registered
    assert(probes == probes0)
    assert(registered.createTime == before.createTime)

    rewrite("lineitem", col("l_suppkey") % 2 === 1)
    rewrite("documents", col("doc_id") % 3 =!= 1)
    val docs = Registry.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dsts1 = edgeDsts
    assert(dsts1.nonEmpty && dsts1.forall(_ % 2 == 1), s"stale edges: $dsts1")
    assert(labelled == docs, "stale near-dup labels")
    val probes1 = probes
    assert(probes1 == probes0.filter(_ % 3 != 1), s"stale cluster members: $probes1")
    // the new entry has tables of its own; the old one's never moved
    assert(registered.identifier != before.identifier)
    assert(spark.sessionState.catalog.getTableMetadata(before.identifier).location ==
      before.location)
  }

  test("the HyperBall build keeps the caller's shuffle width") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    // a stage base of its own, so the build runs in this test
    caller.conf.set(Staging.ConfKey, tempDir("graft-stage-hb"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(caller.conf.get("spark.sql.shuffle.partitions"))
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { GraphQueries.hyperball(caller, sfDir); ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    assert(!seen.isEmpty)
    assert(seen.toArray.toSet == Set("3"), s"widths seen: $seen")
  }

  /** Every registry query whose builder reaches the store or a
    * per-application staging path. */
  private val storeQueries = Seq(
    "g1_link_extract", "g2_inlink_counts", "g3_inverse_linkdb", "g4_domain_rank",
    "g5_pagerank", "g6_pagerank_sampled", "q3_links_of", "g10_hits",
    "g11_cocitation", "g12_ppr", "g13_triangles", "g14_degree_dist", "g15_kcore",
    "g16_seed_distance", "g18_link_prediction", "g19_modularity",
    "g20_assortativity", "g21_hyperball", "g22_distance_distribution",
    "g23_harmonic_centrality", "g24_centrality_topk", "g25_clustering_coeff",
    "g26_edge_support", "g27_kcore", "g28_label_propagation",
    "d2_minhash_lsh", "d3_ngram_jaccard", "d5_dedupe_clusters",
    "d6_fuzzy_cross_source", "d11_cluster_winners", "d12_lsh_recall",
    "cu17_leakage_split", "cu21_governed_corpus", "cu24_frozen_split",
    "i20_cluster_members", "d9_indexed_incremental", "ss9_ivf_indexed",
    "i9_cached_page")

  test("a second run of each store or staging query changes nothing") {
    val engine = spark.newSession()
    GraftSession.sqlConf(4).foreach { case (k, v) => engine.conf.set(k, v) }
    engine.conf.set(Staging.ConfKey, stageBase)
    val base = Paths.get(stageBase)
    def staged: Long = {
      val files = Files.walk(base)
      try files.count() finally files.close()
    }
    /** The result, as sorted rows, and what stays behind once the query
      * is done and its blocks are released as the runners release them. */
    def run(name: String) = {
      val rows = Registry.queries(name)(engine, sfDir).collect().map(_.toString).sorted.toSeq
      PersistBridge.releaseAll(spark.sparkContext)
      (rows, (spark.sparkContext.getPersistentRDDs.size, CacheEntries(spark),
        spark.catalog.listTables().count(), staged))
    }
    for (name <- storeQueries) {
      assert(Registry.queries.contains(name), name)
      val (rows1, left1) = run(name)
      val (rows2, left2) = run(name)
      assert(rows1 == rows2, s"$name: the second run's result differs")
      assert(left1 == left2,
        s"$name: (persistent RDDs, cache entries, tables, staged) grew $left1 -> $left2")
    }
  }
}
