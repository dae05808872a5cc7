package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G-family: HITS (Kleinberg's hubs-and-authorities) as a DataFrame power
  * iteration — the companion centrality to [[PageRank]] over the same
  * link-graph edge model. The reference ranks domains with PageRank only;
  * HITS is the standard second opinion for link-spam analysis (a farm of
  * mutually linking hosts inflates PageRank but not authority, because its
  * hubs have no independent standing).
  *
  * Semantics: edge weight = link multiplicity `n_links`. One iteration is
  *   auth_i(v) = Σ_{u→v} n_links(u,v) · hub_{i-1}(u)
  *   hub_i(u)  = Σ_{u→v} n_links(u,v) · auth_i(v)
  * seeded with hub_0 ≡ 1. Scores stay UNNORMALIZED Long integers, so every
  * iteration is exact, order-insensitive, and engine-reproducible (the same
  * fixed-point discipline as [[PageRank]]); for parity-checkable depths the
  * magnitudes are bounded far below Long range. For deep web-scale runs set
  * `normalize = true`: after each full iteration both vectors are rescaled
  * to max = `NormScale` with integer division — the scale-free form of the
  * usual L2 normalization (ranking-preserving up to integer-division ties;
  * the unnormalized variant overflows once Σ n_links·score approaches 2^63,
  * roughly beyond 3 iterations on a 1e9-edge graph).
  *
  * Scale design (mirrors [[PageRank.run]]): the O(edges) table is cached
  * TWICE, pre-partitioned on the two per-half-step join keys (`src_domain`
  * for the auth step, `dst_domain` for the hub step) — inside the loop only
  * the O(nodes) score state shuffles, plus the unavoidable contribution
  * re-key (the groupBy that re-aggregates contributions by the opposite
  * endpoint). Each iteration's state is checkpoint-materialized so lineage
  * stays flat over any depth.
  */
object Hits {

  /** Post-normalization maximum score (when `normalize = true`). */
  val NormScale = 1000000L

  /** `edges`: src_domain, dst_domain, n_links (distinct per (src,dst)).
    * Returns (role ∈ {auth, hub}, node, score_u): authority scores exist on
    * link targets, hub scores on link sources — the two node roles are kept
    * apart because crawl-graph source/target id namespaces may overlap
    * (customers vs suppliers in the test mapping). */
  def run(edges: DataFrame, iters: Int,
      normalize: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(normalize || iters <= 3,
      s"unnormalized HITS is overflow-safe only to 3 iterations; pass normalize=true for iters=$iters")
    val mat = Iterative.materializer(edges.sparkSession)
    // the caller's edge plan can be an arbitrarily expensive multi-join
    // derivation: materialize it exactly ONCE (the src-partitioned pin),
    // and build the dst-partitioned copy FROM that cache — two pins of
    // the raw plan would run the whole derivation twice
    val bySrc = Iterative.pinned(
      edges.select("src_domain", "dst_domain", "n_links"), "src_domain")
    val byDst = Iterative.pinned(bySrc, "dst_domain")

    def rescale(df: DataFrame, scoreCol: String): DataFrame =
      if (!normalize) df
      else {
        // integer rescale to max = NormScale; the max is a single scalar
        // aggregate over O(nodes) state (never over edges)
        val row = df.agg(max(col(scoreCol))).collect()(0)
        val mx = if (row.isNullAt(0)) 1L else row.getLong(0).max(1L) // empty graph → identity
        // widen to DECIMAL(38,0) for the product: `score * NormScale` in
        // Long overflows once a hub's weighted in-degree over max-scaled
        // neighbors exceeds ~9.2e6 — at exactly the scale the normalize
        // flag exists for. score ≤ 2⁶³ × 10⁶ fits decimal(38,0) exactly,
        // and `div` floors back to the same Long the non-overflowing
        // Long path produced.
        df.withColumn(scoreCol, expr(
          s"cast(cast($scoreCol as decimal(38,0)) * ${NormScale}L div ${mx}L as bigint)"))
      }

    var hub = mat(bySrc.select(col("src_domain").as("node")).distinct()
      .withColumn("h", lit(1L)))
    var auth: DataFrame = null
    var i = 1
    while (i <= iters) {
      // auth step: edges co-partitioned on src_domain meet the hub state
      // (shuffled by node — O(nodes)); contributions re-key by dst_domain
      // with map-side partial aggregation
      // materialize BEFORE rescaling: the max-scalar pass then reads the
      // checkpointed state instead of re-running the join+agg, and the
      // rescale itself stays a lazy projection over it
      auth = rescale(mat(
        bySrc.join(hub, col("src_domain") === col("node"))
          .groupBy(col("dst_domain"))
          .agg(sum(col("n_links") * col("h")).as("a"))
          .withColumnRenamed("dst_domain", "node")), "a")
      // hub step: symmetric, over the dst-partitioned copy
      hub = rescale(mat(
        byDst.join(auth, col("dst_domain") === col("node"))
          .groupBy(col("src_domain"))
          .agg(sum(col("n_links") * col("a")).as("h"))
          .withColumnRenamed("src_domain", "node")), "h")
      i += 1
    }
    val out = mat(
      auth.select(lit("auth").as("role"), col("node"), col("a").as("score_u"))
        .unionByName(
          hub.select(lit("hub").as("role"), col("node"), col("h").as("score_u"))))
    bySrc.unpersist()
    byDst.unpersist()
    out
  }
}
