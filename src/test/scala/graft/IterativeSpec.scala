package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

import graft.ops.{Components, Dedupe, PageRank}

/** The iterative ops' reliable-checkpoint path: with
  * `spark.graft.checkpointDir` set, per-round state goes through
  * `df.checkpoint()` (cluster-fault-tolerant) instead of executor-local
  * blocks, and the results are identical. */
class IterativeSpec extends AnyFunSuite with SparkSuite {

  private def ckDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ck").toString

  test("connected components: reliable checkpoint path matches default") {
    def labels(s: SparkSession) = {
      import s.implicits._
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 11L),
      ).toDF("doc_a", "doc_b")
      Components.starContract(pairs, "doc_a", "doc_b")
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val want = labels(spark)
    val got = labels(checkpointedSession())
    assert(got == want)
    assert(got.map(_._2).distinct.sorted == Seq(1L, 5L, 8L))
  }

  test("pagerank: reliable checkpoint path matches default") {
    def tuples(s: SparkSession) = {
      import s.implicits._
      val edges = Seq(
        (1L, 100L, 2L, 200L), (2L, 200L, 3L, 300L), (3L, 300L, 1L, 100L),
        (4L, 100L, 2L, 200L),
      ).toDF("src_domain", "src_root", "dst_domain", "dst_root")
      val supers = Seq(100L).toDF("root")
      PageRank.run(edges, supers, iters = 3).orderBy("domain").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val want = tuples(spark)
    val got = tuples(checkpointedSession())
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("reliable checkpoints of one session share one checkpoint subdir") {
    // SparkContext.setCheckpointDir makes a fresh UUID subdir per call;
    // the configured root must get one, however many materializations
    val s = checkpointedSession()
    val root = new java.io.File(s.conf.get(graft.ops.Iterative.CheckpointDirKey))
    import s.implicits._
    val df = Seq(1L, 2L, 3L).toDF("x")
    assert(graft.ops.Iterative.materialize(df).count() == 3)
    assert(graft.ops.Iterative.materializeSer(df.filter($"x" > 1)).count() == 2)
    val subdirs = root.listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(subdirs.size == 1, s"checkpoint subdirs under $root: $subdirs")
  }

  test("pagerank subdomain sampling: cap averages over the md5-chosen sample") {
    import spark.implicits._
    // dst 9 hears from two subdomains of non-super root 100 with UNEQUAL
    // contributions (src 1 spreads over two targets, src 2 over one);
    // src 3→11 keeps every node present under any cap
    val edges = Seq(
      (1L, 100L, 9L, 900L), (1L, 100L, 11L, 901L),
      (2L, 100L, 9L, 900L),
      (3L, 101L, 11L, 901L),
    ).toDF("src_domain", "src_root", "dst_domain", "dst_root")
    val supers = Seq.empty[Long].toDF("root")
    def rankOf(df: org.apache.spark.sql.DataFrame, dom: Long): Long =
      df.filter(org.apache.spark.sql.functions.col("domain") === dom)
        .collect()(0).getLong(2)
    val full = PageRank.run(edges, supers, iters = 1)
    val capped = PageRank.run(edges, supers, iters = 1,
      subdomainSampleCap = Some(1))
    val wide = PageRank.run(edges, supers, iters = 1,
      subdomainSampleCap = Some(100))

    // a cap wider than any group is the unsampled op exactly
    assert(wide.orderBy("domain").collect().toSeq ==
      full.orderBy("domain").collect().toSeq)

    // cap=1 keeps only the md5-first subdomain of (dst=9, root=100):
    // replay the op's own order (md5("sd:" ‖ id), id) to find it
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val winner = Seq(1L, 2L).minBy(id => (md5hex(s"sd:$id"), id))
    val winnerContrib = PageRank.Scale / (if (winner == 1L) 2 else 1)
    def damp(acc: Long) =
      150000000000L + (acc / 1000) * 850 + ((acc % 1000) * 850) / 1000
    assert(rankOf(capped, 9L) == damp(winnerContrib))
    // and the unsampled run averaged BOTH subdomains
    assert(rankOf(full, 9L) ==
      damp((PageRank.Scale / 2 + PageRank.Scale) / 2))
  }

  test("pagerank epsilon stop: converged graph stops early with the same ranks") {
    import spark.implicits._
    // a two-node cycle reaches its fixed point quickly; with tol set the
    // run must stop as soon as an iteration moves no rank, and the result
    // must equal the long fixed-iteration run
    val edges = Seq(
      (1L, 100L, 2L, 200L), (2L, 200L, 1L, 100L),
    ).toDF("src_domain", "src_root", "dst_domain", "dst_root")
    val supers = Seq(100L, 200L).toDF("root")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("domain").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sc = spark.sparkContext
    sc.setJobGroup("pr-fixed", "fixed-iteration run")
    val fixed = tuples(PageRank.run(edges, supers, iters = 60))
    val fixedJobs = sc.statusTracker.getJobIdsForGroup("pr-fixed").length
    sc.setJobGroup("pr-tol", "epsilon-stop run")
    val early = tuples(PageRank.run(edges, supers, iters = 60, tol = Some(0L)))
    val tolJobs = sc.statusTracker.getJobIdsForGroup("pr-tol").length
    sc.clearJobGroup()
    assert(early == fixed)
    // the fixed point is reached after one iteration (super-root cycle at
    // the damping fixed point), so the tol run must launch far fewer jobs
    // than 60 materialized iterations do
    assert(tolJobs < fixedJobs / 4,
      s"epsilon stop did not stop early: $tolJobs vs $fixedJobs jobs")
  }

  test("spark.graft.checkpointDir routes dedupe and IVF materializations " +
      "through reliable checkpoints") {
    // the non-iterative pipelines (shingle/vector tables) materialize via
    // Iterative.materialize; with the session conf set they must survive
    // executor loss (reliable checkpoint files on the checkpoint fs) and
    // return identical results
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(120)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = pairs(
      Dedupe.minhashNearDupPairs(docs, "doc_id", "text", 0.8, 72, 6)
        .select("doc_a", "doc_b"))

    val session = spark.newSession()
    val dir = ckDir()
    session.conf.set(graft.ops.Iterative.CheckpointDirKey, dir)
    val docsR = session.read.parquet(s"$sfDir/documents.parquet").limit(120)
    val gotPairs = pairs(
      Dedupe.minhashNearDupPairs(docsR, "doc_id", "text", 0.8, 72, 6)
        .select("doc_a", "doc_b"))
    assert(gotPairs == wantPairs)

    // an IVF index build through the same reliable path
    val suffix = java.lang.Long.toHexString(System.nanoTime())
    val path = java.nio.file.Files.createTempDirectory("graft-ivfck-").toString
    graft.ops.Similarity.writeIvfIndex(
      session.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", s"ivfck_$suffix", path, nSeeds = 8)
    assert(session.table(s"ivfck_${suffix}_cells").count() == emb.count())

    // reliable checkpoint files actually landed on the checkpoint fs
    def rddFiles(d: java.io.File): Int =
      d.listFiles().map(f =>
        if (f.isDirectory) rddFiles(f)
        else if (f.getName.startsWith("part-")) 1 else 0).sum
    assert(rddFiles(new java.io.File(dir)) > 0,
      s"no reliable checkpoint files under $dir")
  }
}
