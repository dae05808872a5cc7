package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Components

/** g17 honesty pins: star contraction must (a) label components
  * EXACTLY like a driver-side union-find on the same edges, and
  * (b) converge in logarithmic rounds on the diameter-99 chain
  * substrate — the whole point of preferring it over hash-min label
  * propagation, which needs one round per hop. */
class StarContractSpec extends AnyFunSuite with SparkSuite {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain substrate: equals union-find, converges in O(log n) rounds") {
    import spark.implicits._
    val edges = (0L until 1500L).filter(_ % 100 != 99).map(k => (k, k + 1))
      .filter(_._2 < 1500L)
    val (df, rounds) = Components.starContractWithRounds(
      edges.toDF("a", "b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
    // diameter is 99: hash-min would need 99 rounds; star contraction
    // must stay logarithmic or the algorithm degenerated
    assert(rounds <= 12, s"star contraction took $rounds rounds on the chain")
    assert(got.values.toSet.size == 15)
  }

  test("adversarial shapes: shuffled input, stars, cliques, crossing chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val chain = (0L until 200L).map(k => (k, k + 1))
    val star = (1000L until 1050L).map(k => (2000L, k))
    val clique = for (i <- 3000L until 3010L; j <- i + 1 until 3010L) yield (i, j)
    val edges = rnd.shuffle(chain ++ star ++ clique)
      .map { case (x, y) => if (rnd.nextBoolean()) (y, x) else (x, y) }
    val (df, _) = Components.starContractWithRounds(edges.toDF("a", "b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("too few rounds on a chain throws instead of returning labels") {
    import spark.implicits._
    val chain = (0L until 64L).map(k => (k, k + 1))
    val e = intercept[IllegalArgumentException](
      Components.starContract(chain.toDF("a", "b"), maxIters = 1))
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("colliding signatures must NOT read as convergence") {
    import spark.implicits._
    // two DIFFERENT canonical edge sets with identical (count, sum lo,
    // sum hi) = (2, 3, 7) — exactly the collision the old signature-only
    // fixpoint test would have accepted, silently emitting wrong
    // components. The decision procedure must reject it: convergence is
    // confirmed only by exact set equality.
    val e1 = Seq((1L, 4L), (2L, 3L)).toDF("lo", "hi")
    val e2 = Seq((1L, 3L), (2L, 4L)).toDF("lo", "hi")
    def sig(rows: Seq[(Long, Long)]) =
      (rows.size.toLong, rows.map(_._1).sum, rows.map(_._2).sum)
    assert(sig(Seq((1L, 4L), (2L, 3L))) == sig(Seq((1L, 3L), (2L, 4L))))
    assert(!Components.confirmedFixpoint(e1, e2))
    assert(Components.confirmedFixpoint(e1, e1))
  }

  test("negative ids (hashed 64-bit nodes): equals union-find") {
    import spark.implicits._
    // monotonicity of the signature is sign-independent, but pin the
    // behavior on hashed ids anyway: chains and stars through negatives
    val edges = Seq(
      (-5L, -4L), (-4L, -3L), (-3L, 7L), (7L, 8L),
      (-100L, 0L), (0L, 100L),
      (Long.MinValue / 2, -9L), (-9L, -8L))
    val (df, _) = Components.starContractWithRounds(edges.toDF("a", "b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }
}
