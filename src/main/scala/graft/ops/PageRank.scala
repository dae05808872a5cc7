package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G2: iterative PageRank with the reference's per-root-domain averaging
  * (SURVEY §2.8 G2).
  *
  * Reference semantics (service/pagerank/slave/PageRankUtils.java):
  *   - damping `rank = 0.15 + 0.85 · acc` (finalizePageRank, :300-317);
  *   - anti-spam accumulation (accumulateRank, :2438-2500): contributions
  *     arriving from subdomains of a NON-super root domain are AVERAGED
  *     across those subdomains instead of summed; super-domain sources sum
  *     normally. (The reference additionally samples ~100 subdomains per
  *     root; `subdomainSampleCap` reproduces that deterministically —
  *     default off, averaging over all of them.)
  *   - GraphX cannot express the two-level aggregation, so this is a
  *     DataFrame loop: contribs → groupBy(dst, src_root) → groupBy(dst).
  *
  * Numeric discipline: the entire loop runs in FIXED-POINT integer
  * arithmetic (rank in 1e-12 units, `div` for every division), so each
  * iteration is exact, order-insensitive, and bit-reproducible in any
  * engine — float summation order can never drift a hash. Damping is
  * 0.15 + 0.85·acc computed as integer ops:
  * `150e9 + (acc div 1000)·850 + ((acc mod 1000)·850) div 1000`
  * (the split keeps the product below Long overflow at any realistic
  * accumulated mass).
  *
  * Scale notes: the edge set (with out-degree and the source-super flag
  * pre-joined) is materialized once and reused every iteration; each
  * iteration's ranks are pinned by [[Iterative.Generations]] so lineage
  * stays flat. Per iteration: one shuffle join (ranks by domain) + two
  * aggregations + one left join — the same shape the reference's
  * distribute/calculate phases hand-implement over TCP.
  */
object PageRank {

  val Scale = 1000000000000L // 1e12 fixed-point units

  /** `edges`: src_domain, src_root, dst_domain, dst_root (distinct).
    * `superRoots`: one `root` column. Returns (domain, root, rank_u).
    * `subdomainSampleCap`: when set, a non-super root's average for a
    * given target runs over at most this many of its subdomains, chosen
    * deterministically by (md5 of the source id, id) — the reference
    * walks a domain-hash-sorted map and stops after ~100 subdomains
    * (accumulateRank, PageRankUtils.java:2458-2470; its guard trips
    * AFTER adding the 101st, so exact parity with the stock build is
    * cap=101). The sample depends only on the edge structure, never on
    * ranks, so it is applied ONCE in setup as an edge pre-filter and the
    * loop is unchanged; super-root sources always all sum. Default off:
    * the average runs over every subdomain.
    * `tol`: when set, iteration stops early once no domain's rank moved
    * by more than `tol` fixed-point units (1e-12 of a rank point) in an
    * iteration — the reference master iterates until told to stop; this
    * is the engine's self-stopping form. Costs one max-aggregation per
    * iteration, and forces per-iteration materialization.
    */
  def run(edges: DataFrame, superRoots: DataFrame, iters: Int,
      subdomainSampleCap: Option[Int] = None,
      tol: Option[Long] = None): DataFrame = {
    // Loop-invariant tables are CACHED pre-partitioned on their
    // per-iteration join keys (Iterative.pinned): the edge table — the
    // O(data) side — never re-shuffles inside the loop; only the
    // O(nodes) rank state moves each iteration. At 100 TB this is the
    // difference between shuffling the crawl once and five times.
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // The caller's edge plan can be arbitrarily expensive (a multi-join
    // derivation over the raw crawl); cache it ONCE, already partitioned
    // on src_domain. Everything keyed by src_domain downstream — the
    // out-degree aggregation, the degree join, and the final pinned `e` —
    // then rides that one partitioning with no further Exchange: the
    // O(edges) table is shuffled exactly once in the whole setup phase.
    val edgesIn = Iterative.pinned(edges, "src_domain")
    val nodes = Iterative.pinned(
      edgesIn.select(col("src_domain").as("domain"), col("src_root").as("root"))
        .unionByName(edgesIn.select(col("dst_domain").as("domain"), col("dst_root").as("root")))
        .distinct(), "domain")
    val outdeg = edgesIn.groupBy("src_domain").agg(count(lit(1)).as("outdeg"))
    // co-partitioned join (no Exchange on either side) + broadcast flag;
    // the result inherits HashPartitioning(src_domain), so persisting it
    // directly keeps the loop's join-key partitioning visible through
    // InMemoryTableScan without a redundant repartition pass
    val eAll = edgesIn
      .join(outdeg, "src_domain")
      .join(broadcast(superRoots.select(col("root").as("sr"), lit(true).as("flag"))),
        col("src_root") === col("sr"), "left")
      .select(col("src_domain"), col("src_root"), col("dst_domain"),
        col("outdeg"), coalesce(col("flag"), lit(false)).as("src_super"))
    // the subdomain sample is loop-invariant (it depends on the edge
    // structure, not on ranks): one setup-time window + filter, then the
    // reduced edge set is re-pinned on the loop's join key. Out-degrees
    // were computed on the FULL edge set above, matching the reference
    // (sampling narrows whose contributions count, not how much each
    // source spreads its rank).
    val eChosen = subdomainSampleCap match {
      case Some(cap) =>
        val w = Window
          .partitionBy(col("dst_domain"), col("src_root"), col("src_super"))
          .orderBy(md5(concat_ws(":", lit("sd"), col("src_domain"))),
            col("src_domain"))
        eAll.withColumn("_rn", row_number().over(w))
          .filter(col("src_super") || col("_rn") <= cap)
          .drop("_rn")
          .repartition(nParts, col("src_domain"))
      case None => eAll
    }
    val e = eChosen.persist()
    e.count()
    edgesIn.unpersist() // nodes and e are pinned; the raw plan is done

    // r21 note (measured rejection): disabling AQE for the loop body —
    // the "trim per-round re-planning" lever — made g5 SLOWER (7.5 vs
    // 6.8 s warm, g12 4.7 vs 4.3): the coalescing of the loop's small
    // rank exchanges saves more than its per-stage re-planning costs at
    // this scale. Left on.
    //
    // per-iteration state: persisted generations, a lineage cut every
    // 8th, released once superseded (see Iterative.Generations)
    val gens = new Iterative.Generations(edges.sparkSession)
    // iteration 0 rides the nodes cache directly: a projection over the
    // domain-partitioned invariant needs no pin of its own
    var ranks = nodes.withColumn("rank_u", lit(Scale))
    var iter = 1
    var converged = false
    while (iter <= iters && !converged) {
      val contribs = e
        .join(ranks.select(col("domain"), col("rank_u")),
          col("src_domain") === col("domain"))
        .select(col("dst_domain"), col("src_root"), col("src_super"),
          expr("rank_u div outdeg").as("contrib_u"))
      val perRoot = contribs
        .groupBy(col("dst_domain"), col("src_root"), col("src_super"))
        .agg(sum(col("contrib_u")).as("s"), count(lit(1)).as("c"))
        .select(col("dst_domain"),
          when(col("src_super"), col("s")).otherwise(expr("s div c")).as("v"))
      val acc = perRoot.groupBy(col("dst_domain")).agg(sum(col("v")).as("acc"))
      val next = nodes
        .join(acc, col("domain") === col("dst_domain"), "left")
        .select(col("domain"), col("root"),
          (lit(150000000000L) +
            expr("(coalesce(acc, 0) div 1000) * 850 + ((coalesce(acc, 0) % 1000) * 850) div 1000"))
            .as("rank_u"))
      tol match {
        case Some(eps) =>
          // fixed-point ranks make the stop test exact: max |Δrank_u| is
          // an integer, so "no domain moved more than eps units" cannot
          // drift with summation order. One extra (cheap, O(nodes))
          // aggregation per iteration. The delta join reads the PREVIOUS
          // state, so the old generation is released only afterwards.
          val nextM = gens.pin(next)
          val d = nextM
            .join(ranks.select(col("domain"), col("rank_u").as("prev_u")), "domain")
            .agg(max(abs(col("rank_u") - col("prev_u"))))
            .collect()(0)
          converged = d.isNullAt(0) || d.getLong(0) <= eps
          gens.release()
          ranks = nextM
        case None =>
          ranks = if (iter < iters) gens.advance(next) else next
      }
      iter += 1
    }
    // hand off the final state BEFORE releasing the loop invariants: the
    // cached tables feed the last (lazy) iteration, and a long-lived
    // session (query server, repeated bench rounds) must not accumulate
    // dead cache entries per run
    val out = gens.finish(ranks)
    nodes.unpersist()
    e.unpersist()
    out
  }
}
