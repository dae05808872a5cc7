package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Components, Hits, PageRank, Ppr}

/** A finished iterative op leaves nothing pinned in a long-lived session
  * (query server, repeated bench rounds): after two runs whose results
  * were consumed, the CacheManager holds no more entries and the
  * SparkContext no more persistent RDDs than before. Loop invariants and
  * superseded generations are unpersisted; the final state is handed off
  * through the lineage-cut materializer, whose executor-local checkpoint
  * RDD the context holds only weakly, so it goes with the last reference
  * to the result. */
class IterativeLifecycleSpec extends AnyFunSuite with SparkSuite {

  private def cacheEntries: Int = org.apache.spark.sql.CacheEntries(spark)

  /** Persistent RDDs once the unreachable ones are collected (the context
    * keeps them in a weak-valued map): waits until at most `target`. */
  private def persistentRdds(target: Int): Int = {
    def n = spark.sparkContext.getPersistentRDDs.size
    var tries = 0
    while (n > target && tries < 100) {
      System.gc()
      Thread.sleep(50)
      tries += 1
    }
    n
  }

  private def assertReleased(runs: Seq[() => Int]): Unit = {
    val entries0 = cacheEntries
    val rdds0 = persistentRdds(0)
    runs.foreach(run => assert(run() > 0, "the run returned no rows"))
    assert(cacheEntries == entries0, "a CacheManager entry was left behind")
    val rdds = persistentRdds(rdds0)
    assert(rdds <= rdds0, s"$rdds persistent RDDs after the runs, $rdds0 before")
  }

  private def prEdges = {
    import spark.implicits._
    Seq((1L, 100L, 2L, 200L), (2L, 200L, 3L, 300L), (3L, 300L, 1L, 100L),
      (4L, 100L, 2L, 200L))
      .toDF("src_domain", "src_root", "dst_domain", "dst_root")
  }

  test("PageRank releases its invariants and every generation") {
    import spark.implicits._
    val supers = Seq(100L).toDF("root")
    // 10 iterations cross a lineage cut; the tol run reads the previous
    // generation after each pin
    assertReleased(Seq(
      () => PageRank.run(prEdges, supers, iters = 10).collect().length,
      () => PageRank.run(prEdges, supers, iters = 10, tol = Some(0L))
        .collect().length))
  }

  test("Ppr releases its invariants and every generation") {
    import spark.implicits._
    val edges = prEdges.select("src_domain", "dst_domain")
    val seeds = Seq(1L).toDF("domain")
    assertReleased(Seq.fill(2)(
      () => Ppr.run(edges, seeds, iters = 10).collect().length))
  }

  test("Hits releases its invariants") {
    import spark.implicits._
    val edges = Seq((1L, 10L, 2L), (1L, 11L, 1L), (2L, 10L, 1L))
      .toDF("src_domain", "dst_domain", "n_links")
    assertReleased(Seq.fill(2)(
      () => Hits.run(edges, iters = 2).collect().length))
  }

  test("star contraction leaves nothing pinned") {
    import spark.implicits._
    val pairs = (0L until 40L).map(k => (k, k + 1)).toDF("a", "b")
    assertReleased(Seq.fill(2)(
      () => Components.starContract(pairs).collect().length))
  }

  test("the per-query release frees persisted and locally checkpointed blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = (1 to 100).toDF("v").localCheckpoint(eager = true)
    val cached = sc.parallelize(1 to 100, 2).persist()
    assert(cached.count() == 100 && pinned.count() == 100)
    val ids = sc.getPersistentRDDs.keySet -- before
    assert(ids.size == 2 && ids.forall(org.apache.spark.RddBlocks(sc, _) > 0))
    org.apache.spark.sql.graftbridge.PersistBridge.releaseAll(sc)
    assert(sc.getPersistentRDDs.isEmpty)
    var tries = 0
    while (ids.exists(org.apache.spark.RddBlocks(sc, _) > 0) && tries < 100) {
      Thread.sleep(50); tries += 1
    }
    ids.foreach(id => assert(org.apache.spark.RddBlocks(sc, id) == 0, s"rdd $id"))
  }
}
