package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Registry, Staging}

/** Proves the `spark.graft.stageDir` plumbing: with the conf set, every
  * persisted-index staging site resolves under the configured base (the
  * cluster-portability contract — a driver-local /tmp table is unreadable
  * by executors on a real deployment), and the index-backed queries run
  * green against a non-default dir. Unset, the local-temp fallback holds.
  */
class StagingSpec extends AnyFunSuite with SparkSuite {

  test("Staging.dir falls back to local temp when the conf is unset") {
    spark.conf.unset(Staging.ConfKey)
    val d = Staging.dir("spec-unset")
    assert(new java.io.File(d).isDirectory)
    assert(d.contains("graft-spec-unset-"))
  }

  test("Staging.dir resolves under the configured base and creates it") {
    val base = Files.createTempDirectory("graft-stage-base-").toString
    spark.conf.set(Staging.ConfKey, base)
    try {
      val d = Staging.dir("spec-conf")
      assert(d.startsWith("file:") || d.startsWith("/"),
        s"qualified or absolute path expected: $d")
      val local = d.stripPrefix("file:")
      assert(local.startsWith(base), s"$d not under $base")
      assert(new java.io.File(local).isDirectory)
    } finally spark.conf.unset(Staging.ConfKey)
  }

  test("Staging.Memo reuses per base but re-resolves on a base change") {
    val memo = new Staging.Memo("spec-memo")
    spark.conf.unset(Staging.ConfKey)
    val p1 = memo.path
    assert(memo.path == p1) // stable within a base
    val base = Files.createTempDirectory("graft-stage-memo-").toString
    spark.conf.set(Staging.ConfKey, base)
    try {
      val p2 = memo.path
      assert(p2 != p1)
      assert(p2.stripPrefix("file:").startsWith(base))
      assert(memo.path == p2)
    } finally spark.conf.unset(Staging.ConfKey)
  }

  test("index-backed queries run green pointing at a non-default stageDir") {
    val base = Files.createTempDirectory("graft-stage-e2e-").toString
    spark.conf.set(Staging.ConfKey, base)
    try {
      for (name <- Seq("d9_indexed_incremental", "i20_cluster_members",
          "ss9_ivf_indexed", "cu24_frozen_split")) {
        val q = Registry.queries.getOrElse(name,
          fail(s"registry is missing $name"))
        val n = q(spark, sfDir).count()
        assert(n > 0, s"$name returned no rows under stageDir=$base")
      }
      // the staged indexes physically landed under the configured base
      // (i20's two label tables are the shared near-dup build's)
      val staged = new java.io.File(base).listFiles()
        .map(_.getName).toSeq
      for (tag <- Seq("graft-d9-", "graft-d5shared-", "graft-ss9-", "graft-cu24-"))
        assert(staged.exists(_.startsWith(tag)),
          s"no $tag* dir under $base (got: ${staged.mkString(", ")})")
    } finally spark.conf.unset(Staging.ConfKey)
  }

  test("shared artifacts are immutable per dir: a dir switch cannot " +
      "repoint a lazy handle, and alternating dirs reuses both builds") {
    import graft.queries.{DedupeQueries, GraphQueries}
    val dirA = sfDir
    val dirB = "/root/testdata/sf0.01"
    // hold dirA handles LAZY, build dirB, only then evaluate dirA's —
    // the single-slot-cache bug made these read dirB's rows
    val (pairsA, labelsA) = DedupeQueries.sharedNearDup(spark, dirA)
    val edgesA = GraphQueries.edges(spark, dirA)
    val (_, labelsB) = DedupeQueries.sharedNearDup(spark, dirB)
    val edgesB = GraphQueries.edges(spark, dirB)
    // each dir resolved its own physical artifact — the single-slot
    // cache had B's build overwrite A's paths in place
    assert(labelsA.inputFiles.toSet != labelsB.inputFiles.toSet,
      "labels artifacts must be dir-namespaced")
    assert(edgesA.inputFiles.toSet != edgesB.inputFiles.toSet,
      "edges artifacts must be dir-namespaced")
    // every document gets a label, so |labels| == |documents| per dir,
    // and dirA's lazy handle still evaluates against dirA's corpus
    assert(labelsA.count() ==
      Registry.table(spark, dirA, "documents").count(),
      "dirA labels repointed by dir switch")
    assert(labelsB.count() ==
      Registry.table(spark, dirB, "documents").count())
    // alternating back is a cache hit on the SAME immutable path
    val (pairsA2, _) = DedupeQueries.sharedNearDup(spark, dirA)
    assert(pairsA2.inputFiles.toSet == pairsA.inputFiles.toSet)
    assert(GraphQueries.edges(spark, dirA).inputFiles.toSet ==
      edgesA.inputFiles.toSet)
  }
}
