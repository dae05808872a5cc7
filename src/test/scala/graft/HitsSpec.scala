package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Hits

/** HITS power iteration (ops.Hits): hand-computed scores on a small graph,
  * the normalized web-scale path, and the reliable-checkpoint path. */
class HitsSpec extends AnyFunSuite with SparkSuite {

  //  1 → 10 (x2), 1 → 11, 2 → 10   (weights = n_links)
  private def edges = edgesIn(spark)

  private def edgesIn(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      (1L, 10L, 2L), (1L, 11L, 1L), (2L, 10L, 1L),
    ).toDF("src_domain", "dst_domain", "n_links")
  }

  private def scores(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
    df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("two unnormalized iterations match the hand computation") {
    // hub0 = 1 everywhere
    // auth1: 10 -> 2+1 = 3; 11 -> 1
    // hub1:  1 -> 2*3 + 1*1 = 7; 2 -> 1*3 = 3
    // auth2: 10 -> 2*7 + 1*3 = 17; 11 -> 1*7 = 7
    // hub2:  1 -> 2*17 + 1*7 = 41; 2 -> 1*17 = 17
    val got = scores(Hits.run(edges, iters = 2))
    assert(got == Map(
      ("auth", 10L) -> 17L, ("auth", 11L) -> 7L,
      ("hub", 1L) -> 41L, ("hub", 2L) -> 17L))
  }

  test("normalized rescale survives scores past Long.Max/NormScale") {
    import spark.implicits._
    // one heavy edge: auth1 = 2e7 → rescaled 1e6; hub raw = 2e7 · 1e6 =
    // 2e13, whose NAIVE ×NormScale rescale product (2e19) wraps Long —
    // the decimal-widened rescale must keep every score in [0, NormScale]
    val heavy = Seq((1L, 10L, 20000000L)).toDF("src_domain", "dst_domain", "n_links")
    val got = scores(Hits.run(heavy, iters = 2, normalize = true))
    assert(got.values.forall(v => v >= 0L && v <= Hits.NormScale), got.toString)
    assert(got(("hub", 1L)) == Hits.NormScale)
  }

  test("normalized path preserves the ranking and bounds the magnitudes") {
    val got = scores(Hits.run(edges, iters = 4, normalize = true))
    // every score rescaled into [0, NormScale]; top auth/hub unchanged
    assert(got.values.forall(v => v >= 0L && v <= Hits.NormScale))
    assert(got(("auth", 10L)) == Hits.NormScale) // max rescales to exactly NormScale
    assert(got(("auth", 10L)) > got(("auth", 11L)))
    assert(got(("hub", 1L)) == Hits.NormScale)
    assert(got(("hub", 1L)) > got(("hub", 2L)))
  }

  test("unnormalized depth beyond the overflow bound is refused") {
    intercept[IllegalArgumentException](Hits.run(edges, iters = 4))
  }

  test("supernode regression: normalized HITS survives a hub owning the edge mass") {
    import spark.implicits._
    // the x10hub shape that crashed unnormalized g10: one (u,v) edge
    // carries supernode multiplicity while a fan of light edges spreads
    // distinct degree — unnormalized depth-2 sums overflow int64; the
    // normalized path must finish with every score in [0, NormScale]
    val hub = (Seq((1L, 100L, 4000000000L)) ++
      (1L to 500L).map(i => (i, 100L + i % 50, 1000L)))
      .toDF("src_domain", "dst_domain", "n_links")
    val got = scores(Hits.run(hub, iters = 2, normalize = true))
    assert(got.values.forall(v => v >= 0L && v <= Hits.NormScale))
    assert(got(("auth", 100L)) == Hits.NormScale)
  }

  test("reliable checkpoint path matches default") {
    assert(scores(Hits.run(edgesIn(checkpointedSession()), iters = 2))
      == scores(Hits.run(edges, iters = 2)))
  }
}
