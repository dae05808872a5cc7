package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by TWO-PHASE STAR CONTRACTION (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
  * in MapReduce and Beyond", SoCC 2014): alternating large-star /
  * small-star rounds converge in O(log n) rounds on ANY graph,
  * where plain hash-min label propagation needs O(diameter) rounds —
  * the difference between 7 rounds and 100 on a 100-link redirect
  * chain, and the published algorithm of record for web-scale
  * component finding (link farms, redirect chains, dedupe families).
  * It is the engine's one connected-components operator: d5's shared
  * near-dup clusters (reference G4, DeduperUtils.SetUnionFinder), d13,
  * ss7, cu24 and g17 all label through it.
  *
  * Both phases are pure relational operators — a partial-agg'd
  * per-node min plus an equi join back onto the edge list — so each
  * round is two hash shuffles of the CURRENT edge set (which only
  * shrinks toward the star forest); no per-node adjacency list is
  * ever collected.
  */
object Components {

  /** (node, component) for every endpoint in `pairs`; component = the
    * minimum node id of the component. Self loops are ignored, so a node
    * that appears only in self pairs gets no row. Throws if the edge set
    * has not reached its fixpoint within `maxIters` rounds: never a
    * truncated labelling. */
  def starContract(
      pairs: DataFrame, a: String = "a", b: String = "b",
      maxIters: Int = 30): DataFrame =
    starContractWithRounds(pairs, a, b, maxIters)._1

  /** Same, also returning the number of rounds to the fixpoint —
    * spec-pinned to stay logarithmic on high-diameter graphs. */
  def starContractWithRounds(
      pairs: DataFrame, a: String = "a", b: String = "b",
      maxIters: Int = 30): (DataFrame, Int) = {
    val mat = Iterative.materializer(pairs.sparkSession)
    var edges = mat(pairs
      .select(least(col(a), col(b)).as("lo"), greatest(col(a), col(b)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())

    // the edge set is canonical (lo < hi, distinct), so per-round change
    // detection rides on one cheap agg signature. The signature is only
    // a NEGATIVE test (different signature ⇒ the set changed, keep
    // iterating — trivially sound, it's a function of the set);
    // convergence itself is never declared on it: a matching signature
    // only triggers the exact set comparison below, so a collision
    // between two different consecutive edge sets cannot end the loop
    // early. 32-bit murmur terms summed into a long stay overflow-free
    // under ANSI mode to ~2^32 edges (raw 64-bit hashed node ids would
    // overflow sum() immediately).
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(hash(col("lo"), col("hi")).cast("long"))).first()
      if (r.getLong(0) == 0L) (0L, 0L)
      else (r.getLong(0), r.getLong(1))
    }

    var cur = sig(edges)
    var converged = cur._1 == 0L // empty edge set: already a (vacuous) fixpoint
    var rounds = 0
    while (!converged && rounds < maxIters) {
      val prevEdges = edges
      // LARGE-STAR: m(u) = min(N(u) ∪ {u}) over both directions;
      // attach every LARGER neighbor v of u to m(u). Since
      // m(u) ≤ u < v the result is canonical by construction.
      val nbr = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lm = nbr.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = nbr.filter(col("v") > col("u"))
        .join(lm, "u")
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
      // SMALL-STAR: per node u, over its SMALLER neighbors N⁻(u),
      // m = min(N⁻(u)); attach u and every v ∈ N⁻(u) to m.
      // r21 round fusion: the per-hi min rides a WINDOW over the
      // large-star output and each (lo, hi) row emits its two member
      // edges (m,hi),(m,lo) via explode — ls is consumed exactly ONCE,
      // so its per-round checkpoint barrier and the groupBy+join-back
      // pair are gone and the whole round is one linear plan with a
      // single materialization. Exchange volume is unchanged (the
      // window's one |E'| exchange-by-hi replaces the join's), minus
      // the full ls checkpoint write per round. Row identity with the
      // r5–r20 two-mat round is exact (same multiset before the final
      // distinct); measured at sf0.1 interleaved in one JVM
      // (OPTIMIZATION_r21.md, g17): jobs/run 126 → 86, warm wall
      // 5.2–5.7 → 3.8–4.7 s, outputs set-identical, rounds unchanged.
      // Skew note: AQE cannot split a window partition the way it can
      // a skewed SMJ, so a mega-hub's small-star group is one task here
      // — bounded by the hub's SMALLER-neighbor count in the current
      // CONTRACTED edge set (large-star has already re-pointed larger
      // neighbors at minima, and rounds shrink degrees fast). The
      // skew-splittable fallback — groupBy+join WITHOUT the ls
      // checkpoint, second consumption riding ReusedExchange — was
      // measured too: 110 jobs / 4.4–4.7 s (variant D in
      // OPTIMIZATION_r21.md); switch to it if a production graph ever
      // straggles on this window.
      edges = mat(ls
        .withColumn("m", min(col("lo")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("hi")))
        .select(col("m").as("lo"),
          explode(array(col("hi"), col("lo"))).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct())
      val next = sig(edges)
      rounds += 1
      // a signature match is treated as NECESSARY only: convergence is
      // declared solely after the exact set comparison confirms it, so
      // a hash-style collision between two different consecutive edge
      // sets can never terminate the loop early with wrong components
      converged = next == cur && confirmedFixpoint(prevEdges, edges)
      cur = next
    }
    require(converged, s"star contraction did not converge in $maxIters rounds")
    // fixpoint = star forest rooted at each component's minimum: every
    // hi is a non-root member, its lo the root; roots label themselves
    val members = edges.select(col("hi").as("node"), col("lo").as("component"))
    val roots = edges.select(col("lo")).distinct()
      .join(edges.select(col("hi").as("lo")), Seq("lo"), "left_anti")
      .select(col("lo").as("node"), col("lo").as("component"))
    (members.unionByName(roots), rounds)
  }

  /** Exact fixpoint confirmation: with equal row counts already
    * established by the signature, one-sided `except` decides set
    * equality of two distinct canonical edge tables. Both sides are
    * checkpointed when called from the contraction loop, so this is a
    * single small job over materialized blocks, run once at the end. */
  private[graft] def confirmedFixpoint(prev: DataFrame, cur: DataFrame): Boolean =
    cur.except(prev).isEmpty

  /** g27: k-CORE decomposition membership (Seidman 1983; the
    * distributed bulk-peel of Montresor et al.) — repeatedly delete ALL
    * nodes of degree < k until fixpoint; what survives is the k-core,
    * the standard "dense nucleus" cut of a web graph (spam-farm nuclei,
    * community cores). Bulk deletion makes the round count the PEELING
    * DEPTH of the graph (small for heavy-tailed web graphs), not the
    * node count; each round is one degree partial-agg plus two
    * anti-joins against the (shrinking, broadcastable) victim set, and
    * per-round state is checkpoint-materialized so lineage stays flat.
    * Input `pairs` is an undirected distinct edge list (sa < sb);
    * returns (node, core_deg) for the k-core members, where core_deg is
    * the node's degree INSIDE the core (≥ k by construction). */
  /** g28: SYNCHRONOUS label propagation (Raghavan et al. 2007, the LPA
    * community baseline) made deterministic: every node simultaneously
    * adopts the most frequent label among its neighbors, ties to the
    * SMALLEST label, for a FIXED number of rounds — fixed rounds (not
    * convergence) because synchronous LPA can 2-cycle on bipartite
    * structure, and a fixed unroll is what the SQL oracle replays
    * round-by-round. Each round is one edge-sized join + two
    * partial-agg'd groupBys (label counts, then per-node argmax via
    * max_by — never a window over the corpus); state is checkpoint-
    * materialized per round. Input `pairs` is an undirected distinct
    * edge list; returns (node, label) — nodes sharing a label after R
    * rounds are one community. */
  def labelPropagation(pairs: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    val und = Iterative.materialize(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .unionByName(
          pairs.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
    var labels = Iterative.materialize(
      und.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    for (_ <- 1 to rounds) {
      labels = Iterative.materialize(
        und.join(labels.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          .agg(max_by(col("label"),
            struct(col("cnt"), (-col("label")).as("nl"))).as("label")))
    }
    labels
  }

  def kCore(pairs: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    var alive = Iterative.materialize(
      pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .unionByName(
          pairs.select(col(dstCol).as("src"), col(srcCol).as("dst"))))
    var done = false
    while (!done) {
      val bad = Iterative.materialize(
        alive.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") < k).select(col("src").as("n")))
      if (bad.isEmpty) done = true
      else
        alive = Iterative.materialize(
          alive
            .join(bad.select(col("n").as("src")), Seq("src"), "left_anti")
            .join(bad.select(col("n").as("dst")), Seq("dst"), "left_anti"))
    }
    alive.groupBy("src").agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }
}
