package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G-family: PERSONALIZED PageRank — random walk with restart at a seed
  * set (topic-sensitive PageRank, Haveliwala WWW'02). Where [[PageRank]]
  * teleports uniformly (every node gets the 0.15 floor), PPR restarts
  * ONLY at the seeds, so rank mass localizes around them: the
  * "domains related to these domains" / "pages trusted from this seed
  * list" query (the TrustRank shape) a crawl policy engine runs to
  * prioritize a frontier around known-good hubs.
  *
  * Same numeric discipline as [[PageRank]]: the loop is FIXED-POINT
  * integer arithmetic end to end (rank in 1e-12 units, `div` for every
  * division, damping split as `(acc div 1000)·850 + ((acc mod 1000)·850)
  * div 1000`), so every iteration is exact, order-insensitive and
  * bit-reproducible — the g12 oracle replays the whole loop in SQL and
  * must hash-match.
  *
  * Same scale discipline as [[PageRank]]: the out-degree-annotated edge
  * table — the O(data) side — is cached pre-partitioned on the
  * per-iteration join key and never re-shuffles inside the loop; only
  * the O(nodes) rank state moves per iteration; the seed set is O(seeds)
  * and broadcast once into the node table. Per-iteration state is pinned
  * by [[Iterative.Generations]] so lineage stays flat over long walks.
  */
object Ppr {

  /** `edges`: (src_domain, dst_domain) distinct directed edges.
    * `seeds`: one `domain` column (the restart set).
    * Returns (domain, is_seed, rank_u) — rank_u in [[PageRank.Scale]]
    * fixed-point units; seeds start with full Scale mass, everything
    * else at 0, and each iteration re-injects the 0.15 restart mass at
    * the seeds only. */
  def run(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    // one setup shuffle for the O(edges) side; everything keyed by
    // src_domain (out-degree agg, degree join, the loop's rank join)
    // rides this single partitioning with no further Exchange
    val edgesIn = Iterative.pinned(
      edges.select("src_domain", "dst_domain"), "src_domain")
    val outdeg = edgesIn.groupBy("src_domain").agg(count(lit(1)).as("outdeg"))
    val e = edgesIn.join(outdeg, "src_domain").persist()
    e.count()
    val nodesAll = edgesIn.select(col("src_domain").as("domain"))
      .unionByName(edgesIn.select(col("dst_domain").as("domain")))
      .distinct()
    // the seed set is a model-sized side input: broadcast it into the
    // node table once — the flag then travels with the O(nodes) state
    val nodes = Iterative.pinned(nodesAll
      .join(broadcast(seeds.select(col("domain").as("sd"), lit(1L).as("flag"))),
        col("domain") === col("sd"), "left")
      .select(col("domain"), coalesce(col("flag"), lit(0L)).as("is_seed")),
      "domain")
    edgesIn.unpersist() // e and nodes are pinned; the raw plan is done

    // per-iteration state: the same generation pinning as PageRank.run
    // (persisted, so the e ⨝ ranks join is exchange-free)
    val gens = new Iterative.Generations(edges.sparkSession)
    // iteration 0 rides the nodes cache directly (a projection over the
    // domain-partitioned invariant)
    var ranks = nodes.withColumn("rank_u",
      col("is_seed") * lit(PageRank.Scale))
    var iter = 1
    while (iter <= iters) {
      val acc = e
        .join(ranks.select(col("domain"), col("rank_u")),
          col("src_domain") === col("domain"))
        .select(col("dst_domain"), expr("rank_u div outdeg").as("contrib_u"))
        .groupBy("dst_domain").agg(sum("contrib_u").as("acc"))
      val next = nodes
        .join(acc, col("domain") === col("dst_domain"), "left")
        .select(col("domain"), col("is_seed"),
          (col("is_seed") * lit(150000000000L) +
            expr("(coalesce(acc, 0) div 1000) * 850 + ((coalesce(acc, 0) % 1000) * 850) div 1000"))
            .as("rank_u"))
      ranks = if (iter < iters) gens.advance(next) else next
      iter += 1
    }
    val out = gens.finish(ranks)
    nodes.unpersist()
    e.unpersist()
    out
  }
}
