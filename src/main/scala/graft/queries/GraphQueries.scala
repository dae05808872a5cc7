package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{LinkGraph, PageRank, Ppr, Seam}

/** Link-graph queries (SURVEY §2.8 G1/G3, §2.4 A2/A3, §2.11 Q3/Q4) over
  * the FIXTURES.md §B graph role mapping: customers are source domains,
  * suppliers target domains, nations the root-domain grouping, and each
  * order line contributes one raw link customer→supplier.
  *
  * The super-domain set for the rank query is nations 0–4 (stands in for
  * the reference's SuperDomainList broadcast file).
  */
object GraphQueries {

  private val InvCap = 10 // inverse-DB source-sample cap
  private val SuperMax = 5 // nations < SuperMax are "super domains"
  private val PrMin = 5000.0 // Q4 min-pagerank analog (src acctbal)

  /** G1+A9: derive the deduped edge table with multiplicities. The only
    * fact-fact shuffle is orders⋈lineitem on the order key; customer and
    * supplier dims are broadcast. */
  private def rawEdges(s: SparkSession, dir: String): DataFrame = {
    val o = Registry.table(s, dir, "orders")
    val l = Registry.table(s, dir, "lineitem")
    val c = Registry.table(s, dir, "customer")
    val sup = Registry.table(s, dir, "supplier")
    val raw = o.join(l, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
      .select(
        col("o_custkey").as("src_domain"),
        col("c_nationkey").cast("long").as("src_root"),
        col("l_suppkey").as("dst_domain"),
        col("s_nationkey").cast("long").as("dst_root"))
    LinkGraph.distinctEdges(raw)
  }

  /** The materialized link DB: [[rawEdges]] built once per sf dir in the
    * artifact store and read by every graph query — the production shape
    * (a link DB is built once per crawl snapshot and queried many
    * times; the reference materializes its linkgraph/inverse DB the
    * same way). */
  def edges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(edgesEntry(s, dir))

  private def edgesEntry(s: SparkSession, dir: String): String =
    ResultCache.getOrBuild(s, "g-edges", Map.empty, dir) { out =>
      rawEdges(s, dir).write.parquet(out)
    }

  private val PrIters = 5
  private val SuppBase = 1000000L // supplier domain-id namespace offset
  // g6 sampled variant: fewer iterations (the loop is g5's, already
  // exercised at depth), a cap small enough that real groups exceed it
  private val SampIters = 2
  private val SampCap = 2
  // g12 personalized variant: 4 iterations localize visibly beyond the
  // 1-hop frontier while keeping the unrolled oracle chain readable
  private val PprIters = 4

  /** Bidirectional distinct edge set for PageRank: customer→supplier plus
    * the reverse direction (so the graph has cycles and real rank flow);
    * supplier ids are offset into their own namespace. */
  def prEdges(s: SparkSession, dir: String): DataFrame = bidirectional(edges(s, dir))

  private def bidirectional(edges: DataFrame): DataFrame = {
    val base = edges.select("src_domain", "src_root", "dst_domain", "dst_root")
    val fwd = base.select(
      col("src_domain"), col("src_root"),
      (col("dst_domain") + SuppBase).as("dst_domain"), col("dst_root"))
    val rev = base.select(
      (col("dst_domain") + SuppBase).as("src_domain"), col("dst_root").as("src_root"),
      col("src_domain").as("dst_domain"), col("src_root").as("dst_root"))
    fwd.unionByName(rev)
  }

  private val EdgesCte =
    """edges AS (
      |  SELECT o_custkey AS src_domain, CAST(c_nationkey AS BIGINT) AS src_root,
      |         l_suppkey AS dst_domain, CAST(s_nationkey AS BIGINT) AS dst_root,
      |         COUNT(*) AS n_links
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  GROUP BY 1, 2, 3, 4
      |)""".stripMargin

  /** Shared g13/g15/g25/g26 substrate: the top-500 strongest
    * co-citation edges (common desc, ids asc) over the heap-capped
    * supplier pair graph — fixed-size at any corpus factor (see g13's
    * comment for why an absolute support threshold densifies instead).
    * Built once per sf dir in the artifact store like [[edges]]: the
    * expensive leg is the corpus-scale edge scan + per-cust top-k, and
    * four consumers were re-running it per query (the r16 g25 soak's
    * dominant cost). */
  private[graft] def cocitationTopEdges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(cocitEntry(s, dir))

  private def cocitEntry(s: SparkSession, dir: String): String = {
    val edges = edgesEntry(s, dir)
    ResultCache.getOrBuild(s, "g-cocit", Map.empty, dir) { out =>
      val cap = 20
      val topM = 500
      val e = s.read.parquet(edges)
        .select(col("src_domain").as("cust"), col("dst_domain").as("supp"))
      val capped = graft.ops.Iterative.materialize(
        e.groupBy("cust")
          .agg(graft.ops.TopK.topScored(cap)(
            -col("supp").cast("double"), col("supp")).as("top"))
          .select(col("cust"), explode(col("top.key")).as("supp")))
      val a = capped.select(col("cust"), col("supp").as("sa"))
      val b = capped.select(col("cust"), col("supp").as("sb"))
      a.join(b, "cust").filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
        .orderBy(col("common").desc, col("sa"), col("sb"))
        .limit(topM)
        .select("sa", "sb")
        .write.parquet(out)
    }
  }

  /** Degree-oriented triangle relation over the co-citation substrate:
    * one row per triangle (a, x, y) where a is the wedge apex under the
    * lowest-degree orientation (the node-iterator bound that keeps hub
    * wedges from exploding) and x < y close the triangle. Built once
    * per sf dir in the artifact store like [[edges]] — g13 (per-node
    * counts), g25 (clustering coefficient), and g26 (per-edge truss
    * support) all consume the SAME artifact instead of re-deriving the
    * oriented-wedge join per query. */
  private[graft] def triangleRows(s: SparkSession, dir: String): DataFrame = {
    val cocit = cocitEntry(s, dir)
    s.read.parquet(ResultCache.getOrBuild(s, "g-tri", Map.empty, dir) { out =>
      val pairs = s.read.parquet(cocit)
      val deg = pairs.select(col("sa").as("n"))
        .unionByName(pairs.select(col("sb").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val flip = col("da") > col("db") // sa<sb already breaks deg ties
      val oriented = pairs
        .join(deg.select(col("n").as("sa"), col("deg").as("da")), Seq("sa"))
        .join(deg.select(col("n").as("sb"), col("deg").as("db")), Seq("sb"))
        .select(
          when(flip, col("sb")).otherwise(col("sa")).as("u"),
          when(flip, col("sa")).otherwise(col("sb")).as("v"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("a"), col("e1.v").as("x"), col("e2.v").as("y"))
      wedges.join(
          pairs.select(col("sa").as("x"), col("sb").as("y")), Seq("x", "y"))
        .select("a", "x", "y")
        .write.parquet(out)
    })
  }

  /** The same substrate as SQL CTEs (appended after [[EdgesCte]]). */
  private val TopEdgesCtes =
    """capped AS (
      |  SELECT src_domain AS cust, dst_domain AS supp
      |  FROM edges
      |  QUALIFY row_number() OVER (PARTITION BY src_domain ORDER BY dst_domain) <= 20
      |),
      |pairs AS (
      |  SELECT sa, sb FROM (
      |    SELECT a.supp AS sa, b.supp AS sb, COUNT(*) AS common
      |    FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
      |    GROUP BY 1, 2
      |    ORDER BY common DESC, sa, sb LIMIT 500)
      |)""".stripMargin

  def defs: Seq[Q] = Seq(
    // G1/A9: the edge extraction itself (deduped, with multiplicity).
    Q(
      "g1_link_extract",
      (s, dir) =>
        edges(s, dir)
          .orderBy("src_domain", "dst_domain"),
      Some(s"""
        WITH $EdgesCte
        SELECT src_domain, src_root, dst_domain, dst_root, n_links
        FROM edges
        ORDER BY src_domain, dst_domain
      """.trim),
    ),

    // A2: inlink counting per target, same-root vs cross-root split
    // (CountInLinksStep.java:42 semantics).
    Q(
      "g2_inlink_counts",
      (s, dir) =>
        LinkGraph.inlinkCounts(edges(s, dir))
          .orderBy("dst_domain"),
      Some(s"""
        WITH $EdgesCte
        SELECT dst_domain, dst_root,
               CAST(SUM(n_links) AS BIGINT) AS n_inlinks,
               COUNT(DISTINCT src_domain) AS n_src_domains,
               CAST(SUM(CASE WHEN src_root = dst_root THEN n_links ELSE 0 END) AS BIGINT) AS same_root_links,
               CAST(SUM(CASE WHEN src_root <> dst_root THEN n_links ELSE 0 END) AS BIGINT) AS cross_root_links,
               COUNT(DISTINCT CASE WHEN src_root <> dst_root THEN src_root END) AS n_cross_roots
        FROM edges
        GROUP BY dst_domain, dst_root
        ORDER BY dst_domain
      """.trim),
    ),

    // G3: inverse link DB — per target, capped sorted source list
    // (InverseLinkDBWriterV3 semantics with bounded samples).
    Q(
      "g3_inverse_linkdb",
      (s, dir) =>
        // src_domains serialized to a comma-joined string: the driver's
        // pandas-based gate cannot sort/hash ndarray cells.
        LinkGraph.inverseLinkDb(edges(s, dir), InvCap)
          .withColumn("src_domains",
            array_join(col("src_domains").cast("array<string>"), ","))
          .orderBy("dst_domain"),
      Some(s"""
        WITH $EdgesCte
        SELECT dst_domain,
               array_to_string(list_transform(
                 list_slice(list_sort(list_distinct(list(src_domain))), 1, $InvCap),
                 x -> CAST(x AS VARCHAR)), ',') AS src_domains,
               COUNT(DISTINCT src_domain) > $InvCap AS src_truncated,
               CAST(SUM(n_links) AS BIGINT) AS n_inlinks
        FROM edges
        GROUP BY dst_domain
        ORDER BY dst_domain
      """.trim),
    ),

    // A3: domain-rank score with the reference's counting rules and
    // score formula (GenDomainRankStep.java:72-77), super roots = 0..4.
    Q(
      "g4_domain_rank",
      (s, dir) => {
        val superRoots = Registry.table(s, dir, "nation")
          .filter(col("n_nationkey") < SuperMax)
          .select(col("n_nationkey").cast("long").as("root"))
        LinkGraph.domainRank(edges(s, dir), superRoots)
          .orderBy("dst_domain")
      },
      Some(s"""
        WITH $EdgesCte,
        sup AS (SELECT CAST(n_nationkey AS BIGINT) AS root FROM nation WHERE n_nationkey < $SuperMax),
        counts AS (
          SELECT dst_domain,
                 CAST(SUM(CASE WHEN src_root = dst_root
                               AND dst_root IN (SELECT root FROM sup)
                               THEN n_links ELSE 0 END) AS BIGINT) AS same_root_inlinks,
                 CAST(SUM(CASE WHEN src_root <> dst_root
                               AND src_root IN (SELECT root FROM sup)
                               THEN n_links ELSE 0 END)
                      + COUNT(DISTINCT CASE WHEN src_root <> dst_root
                                            AND src_root NOT IN (SELECT root FROM sup)
                                            THEN src_root END) AS BIGINT) AS cross_root_inlinks
          FROM edges
          GROUP BY dst_domain
        )
        SELECT dst_domain, same_root_inlinks, cross_root_inlinks,
               round(
                 least(sqrt(pow(ln(greatest(CAST(same_root_inlinks AS DOUBLE), 1.0)) * 0.2, 2)
                          + pow(ln(greatest(CAST(cross_root_inlinks AS DOUBLE), 1.0)), 2)), 14.0)
                   / 14.0 * 10.0, 6) AS rank_score
        FROM counts
        ORDER BY dst_domain
      """.trim),
    ),

    // G2: PageRank with per-root-domain averaging, 5 iterations, exact
    // fixed-point arithmetic (see ops.PageRank). The oracle unrolls the
    // loop as chained CTEs and must match bit-for-bit.
    Q(
      "g5_pagerank",
      (s, dir) => {
        val superRoots = Registry.table(s, dir, "nation")
          .filter(col("n_nationkey") < SuperMax)
          .select(col("n_nationkey").cast("long").as("root"))
        // every round is pinned: measured on local[32] at sf0.1,
        // materializing every round beats letting the 5-iteration chain
        // pipeline as one job (13.0 s vs 18.9 s end-to-end) — the fused
        // plan is ~20 chained shuffles that Catalyst re-optimizes as one
        // giant DAG, and each rank state is re-derived through the whole
        // prefix when the optimizer can't see it's consumed once.
        PageRank.run(prEdges(s, dir), superRoots, PrIters)
          .orderBy("domain")
      },
      Some {
        val iterCtes = (1 to PrIters).map { i =>
          s"""l$i AS (
             |  SELECT e.dst_domain, e.src_root,
             |         CAST(SUM(r.rank_u // e.outdeg) AS BIGINT) AS s,
             |         COUNT(*) AS c
             |  FROM e JOIN r${i - 1} r ON e.src_domain = r.domain
             |  GROUP BY e.dst_domain, e.src_root
             |),
             |a$i AS (
             |  SELECT dst_domain,
             |         CAST(SUM(CASE WHEN src_root < $SuperMax THEN s ELSE s // c END) AS BIGINT) AS acc
             |  FROM l$i GROUP BY dst_domain
             |),
             |r$i AS (
             |  SELECT n.domain, n.root,
             |         CAST(150000000000 + (COALESCE(a.acc, 0) // 1000) * 850
             |              + ((COALESCE(a.acc, 0) % 1000) * 850) // 1000 AS BIGINT) AS rank_u
             |  FROM nodes n LEFT JOIN a$i a ON n.domain = a.dst_domain
             |)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH $EdgesCte,
        bi AS (
          SELECT src_domain, src_root, dst_domain + $SuppBase AS dst_domain, dst_root FROM edges
          UNION ALL
          SELECT dst_domain + $SuppBase, dst_root, src_domain, src_root FROM edges
        ),
        deg AS (SELECT src_domain AS d, COUNT(*) AS outdeg FROM bi GROUP BY 1),
        e AS (SELECT bi.*, deg.outdeg FROM bi JOIN deg ON bi.src_domain = deg.d),
        nodes AS (
          SELECT DISTINCT domain, root FROM (
            SELECT src_domain AS domain, src_root AS root FROM bi
            UNION ALL
            SELECT dst_domain, dst_root FROM bi)
        ),
        r0 AS (SELECT domain, root, CAST(${PageRank.Scale} AS BIGINT) AS rank_u FROM nodes),
        $iterCtes
        SELECT domain, root, rank_u
        FROM r$PrIters
        ORDER BY domain
        """.trim
      },
    ),

    // G2 sampled variant: the reference's ≤100-subdomain anti-spam
    // sampling (accumulateRank walks a domain-hash-sorted map and stops —
    // PageRankUtils.java:2458-2470), replayed deterministically by
    // (md5('sd:'‖id), id) order. The oracle re-derives the SAME sample
    // with a window over the edge CTE and runs the same fixed-point
    // loop, so the sampling semantics themselves are hash-verified, not
    // just spec-pinned.
    Q(
      "g6_pagerank_sampled",
      (s, dir) => {
        val superRoots = Registry.table(s, dir, "nation")
          .filter(col("n_nationkey") < SuperMax)
          .select(col("n_nationkey").cast("long").as("root"))
        PageRank.run(prEdges(s, dir), superRoots, SampIters,
            subdomainSampleCap = Some(SampCap))
          .orderBy("domain")
      },
      Some {
        val iterCtes = (1 to SampIters).map { i =>
          s"""l$i AS (
             |  SELECT e.dst_domain, e.src_root,
             |         CAST(SUM(r.rank_u // e.outdeg) AS BIGINT) AS s,
             |         COUNT(*) AS c
             |  FROM es e JOIN r${i - 1} r ON e.src_domain = r.domain
             |  GROUP BY e.dst_domain, e.src_root
             |),
             |a$i AS (
             |  SELECT dst_domain,
             |         CAST(SUM(CASE WHEN src_root < $SuperMax THEN s ELSE s // c END) AS BIGINT) AS acc
             |  FROM l$i GROUP BY dst_domain
             |),
             |r$i AS (
             |  SELECT n.domain, n.root,
             |         CAST(150000000000 + (COALESCE(a.acc, 0) // 1000) * 850
             |              + ((COALESCE(a.acc, 0) % 1000) * 850) // 1000 AS BIGINT) AS rank_u
             |  FROM nodes n LEFT JOIN a$i a ON n.domain = a.dst_domain
             |)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH $EdgesCte,
        bi AS (
          SELECT src_domain, src_root, dst_domain + $SuppBase AS dst_domain, dst_root FROM edges
          UNION ALL
          SELECT dst_domain + $SuppBase, dst_root, src_domain, src_root FROM edges
        ),
        deg AS (SELECT src_domain AS d, COUNT(*) AS outdeg FROM bi GROUP BY 1),
        e AS (SELECT bi.*, deg.outdeg FROM bi JOIN deg ON bi.src_domain = deg.d),
        es AS (
          SELECT src_domain, src_root, dst_domain, dst_root, outdeg FROM (
            SELECT e.*, ROW_NUMBER() OVER (
              PARTITION BY dst_domain, src_root
              ORDER BY md5('sd:' || CAST(src_domain AS VARCHAR)), src_domain) AS rn
            FROM e)
          WHERE src_root < $SuperMax OR rn <= $SampCap
        ),
        nodes AS (
          SELECT DISTINCT domain, root FROM (
            SELECT src_domain AS domain, src_root AS root FROM bi
            UNION ALL
            SELECT dst_domain, dst_root FROM bi)
        ),
        r0 AS (SELECT domain, root, CAST(${PageRank.Scale} AS BIGINT) AS rank_u FROM nodes),
        $iterCtes
        SELECT domain, root, rank_u
        FROM r$SampIters
        ORDER BY domain
        """.trim
      },
    ),

    // Q3: point lookup — outlinks of one source domain. At warehouse
    // scale the edge table is bucketed by src_domain, so this prunes to
    // one bucket; here it is a pushed-down scan filter.
    Q(
      "q3_links_of",
      (s, dir) =>
        edges(s, dir)
          .filter(col("src_domain") === 42L)
          .select(col("src_domain"), col("dst_domain"), col("dst_root"), col("n_links"))
          .orderBy("dst_domain"),
      Some(s"""
        WITH $EdgesCte
        SELECT src_domain, dst_domain, dst_root, n_links
        FROM edges
        WHERE src_domain = 42
        ORDER BY dst_domain
      """.trim),
    ),

    // Q4: inverse-links-by-domain — all inlinks into any target of one
    // root domain, with the min-pagerank source filter
    // (InverseLinksByDomainQuery.java:63 semantics; acctbal = rank analog).
    Q(
      "q4_inlinks_by_root",
      (s, dir) => {
        val o = Registry.table(s, dir, "orders")
        val l = Registry.table(s, dir, "lineitem")
        val c = Registry.table(s, dir, "customer").filter(col("c_acctbal") >= PrMin)
        val sup = Registry.table(s, dir, "supplier").filter(col("s_nationkey") === 3)
        o.join(l, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("c_custkey") === col("o_custkey"))
          .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
          .groupBy(
            col("o_custkey").as("src_domain"),
            col("l_suppkey").as("dst_domain"))
          .agg(count(lit(1)).as("n_links"))
          .orderBy("src_domain", "dst_domain")
      },
      Some(s"""
        SELECT o_custkey AS src_domain, l_suppkey AS dst_domain, COUNT(*) AS n_links
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN customer ON c_custkey = o_custkey AND c_acctbal >= $PrMin
        JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = 3
        GROUP BY 1, 2
        ORDER BY src_domain, dst_domain
      """.trim),
    ),

    // g12: PERSONALIZED PageRank — random walk restarting at a seed set
    // (topic-sensitive PageRank / the TrustRank shape): "domains related
    // to these seeds", the crawl-policy query that prioritizes a frontier
    // around known-good hubs. Seeds are the nation-0 source domains; the
    // restart mass re-injects at seeds ONLY, so rank localizes. The
    // oracle replays the fixed-point loop as chained CTEs (g5's
    // discipline) and must match bit-for-bit — the locality itself is
    // hash-checked, not eyeballed.
    Q(
      "g12_ppr",
      (s, dir) => {
        val es = prEdges(s, dir)
        val seeds = es.filter(col("src_root") === 0)
          .select(col("src_domain").as("domain")).distinct()
        Ppr.run(es, seeds, PprIters).orderBy("domain")
      },
      Some {
        val iterCtes = (1 to PprIters).map { i =>
          s"""a$i AS (
             |  SELECT e.dst_domain, CAST(SUM(r.rank_u // e.outdeg) AS BIGINT) AS acc
             |  FROM e JOIN r${i - 1} r ON e.src_domain = r.domain
             |  GROUP BY 1
             |),
             |r$i AS (
             |  SELECT n.domain, n.is_seed,
             |         CAST(n.is_seed * 150000000000 + (COALESCE(a.acc, 0) // 1000) * 850
             |              + ((COALESCE(a.acc, 0) % 1000) * 850) // 1000 AS BIGINT) AS rank_u
             |  FROM r0 n LEFT JOIN a$i a ON n.domain = a.dst_domain
             |)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH $EdgesCte,
        bi AS (
          SELECT src_domain, src_root, dst_domain + $SuppBase AS dst_domain, dst_root FROM edges
          UNION ALL
          SELECT dst_domain + $SuppBase, dst_root, src_domain, src_root FROM edges
        ),
        deg AS (SELECT src_domain AS d, COUNT(*) AS outdeg FROM bi GROUP BY 1),
        e AS (SELECT bi.src_domain, bi.dst_domain, deg.outdeg FROM bi JOIN deg ON bi.src_domain = deg.d),
        nodes AS (
          SELECT DISTINCT domain FROM (
            SELECT src_domain AS domain FROM bi
            UNION ALL
            SELECT dst_domain FROM bi)
        ),
        seeds AS (SELECT DISTINCT src_domain AS domain FROM bi WHERE src_root = 0),
        r0 AS (
          SELECT n.domain,
                 CASE WHEN s.domain IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS is_seed,
                 CAST(CASE WHEN s.domain IS NOT NULL THEN ${PageRank.Scale} ELSE 0 END AS BIGINT) AS rank_u
          FROM nodes n LEFT JOIN seeds s ON n.domain = s.domain
        ),
        $iterCtes
        SELECT domain, is_seed, rank_u
        FROM r$PprIters
        ORDER BY domain
        """.trim
      },
    ),

    // G1 end-to-end from raw bytes: the complete parser→graph loop the
    // reference runs per crawled page (ParseWorker link walk →
    // ParserMapper canonical href emission → LinkGraphDataEmitter
    // aggregation). Each doc becomes a page with three links — an
    // absolute hub link, an absolute per-site link, and a RELATIVE link
    // resolved against the page's <base href> — and the graph is host-
    // level inlink counts computed from nothing but the raw markup:
    // extractLinks → resolve → urlHost → aggregate. The oracle builds
    // the expected (host, links, source-doc) counts constructively.
    Q(
      "g7_raw_html_linkgraph",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val id = col("doc_id").cast("string")
        val hub = (col("doc_id") % 5).cast("string")
        val site = (col("doc_id") % 40).cast("string")
        val self = (col("doc_id") % 7).cast("string")
        val html = concat(
          lit("<html><head><base href=\"http://self"), self,
          lit(".example.net/dir/page.html\"></head><body><a href=\"http://hub"),
          hub, lit(".example.com/x\">hub</a><a href='http://site"), site,
          lit(".example.org/p/"), id,
          lit("'>site</a><a href=rel/a.html>self</a></body></html>"))
        Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"), F.baseHref(col("html")).as("base"),
            explode(F.extractLinks(col("html"))).as("l"))
          .select(col("doc_id"),
            F.urlHost(F.resolveUrl(col("base"), col("l.url"))).as("host"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_links"),
            count_distinct(col("doc_id")).as("n_src_docs"))
          .orderBy("host")
      },
      Some("""
        SELECT host, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_src_docs
        FROM (
          SELECT doc_id, 'hub' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host FROM documents
          UNION ALL
          SELECT doc_id, 'site' || CAST(doc_id % 40 AS VARCHAR) || '.example.org' FROM documents
          UNION ALL
          SELECT doc_id, 'self' || CAST(doc_id % 7 AS VARCHAR) || '.example.net' FROM documents)
        GROUP BY host
        ORDER BY host
      """.trim),
    ),
    // g8: feed-link graph from raw Atom/RSS bytes — the g7 shape for the
    // few-percent of a crawl corpus that is feed XML, not HTML (the
    // reference's emitter branches on source type the same way:
    // LinkGraphDataEmitter.java:201/:273). Each doc synthesizes a real
    // feed (even doc_id → Atom with href attributes + a rel="self" link
    // the alternate filter must DROP; odd → RSS with element-text links),
    // item links are RELATIVE and resolve against the fetch URL, and the
    // result is the per-host inlink rollup. A scope bug, a missed rel
    // default, an unfiltered self link, or a broken RFC 3986 resolve all
    // change the host histogram.
    Q(
      "g8_feed_linkgraph",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val id = col("doc_id").cast("string")
        val a = (col("doc_id") % 13).cast("string")
        val f = (col("doc_id") % 11).cast("string")
        val atom = concat(
          lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
            "<link rel=\"self\" href=\"sub/self.xml\"/>" +
            "<link rel=\"alternate\" href=\"http://asite"), a,
          lit(".example.org/\"/><entry><title>e1</title><link href=\"/p/"), id,
          lit("\"/></entry><entry><link href='item2.html'/></entry></feed>"))
        val rss = concat(
          lit("<rss version=\"2.0\"><channel><title>c</title>" +
            "<link>http://rsite"), a,
          lit(".example.org/</link><item><link> /p/"), id,
          lit(" </link></item><item><link>item2.html</link></item>" +
            "</channel></rss>"))
        val base = concat(lit("http://feed"), f, lit(".example.com/dir/feed.xml"))
        Registry.table(s, dir, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 2 === 0, atom).otherwise(rss).as("xml"),
            base.as("base"))
          .select(col("doc_id"), col("base"),
            explode(F.extractFeedLinks(col("xml"))).as("l"))
          .filter(col("l.rel") === "alternate")
          .select(col("doc_id"),
            F.urlHost(F.resolveUrl(col("base"), col("l.url"))).as("host"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_links"),
            count_distinct(col("doc_id")).as("n_src_docs"))
          .orderBy("host")
      },
      Some("""
        SELECT host, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_src_docs
        FROM (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'asite' ELSE 'rsite' END
                   || CAST(doc_id % 13 AS VARCHAR) || '.example.org' AS host
          FROM documents
          UNION ALL
          SELECT doc_id, 'feed' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' FROM documents
          UNION ALL
          SELECT doc_id, 'feed' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' FROM documents)
        GROUP BY host
        ORDER BY host
      """.trim),
    ),
    // g9: sitemap URL discovery — the third discovery source beside raw
    // HTML (g7) and feeds (g8). The reference's crawl records carry
    // sitemap metadata as first-class fields (protocol.jr:190
    // Flag_InSitemap, :267 SitemapChangeFrequency, :278-282 change
    // freq/priority/lastmod; database.jr:670 hasSitemapURL); this is
    // the extraction that fills them. Even docs synthesize a real
    // urlset (one absolute loc with lastmod/changefreq/priority, one
    // RELATIVE loc that must resolve against the fetch URL and carries
    // no optional fields); odd docs a sitemapindex pointing at a child
    // sitemap. The per-(scope, host) rollup counts dated entries and
    // sums priority tenths integer-exactly — a missed optional field,
    // a scope mix-up, an <urlset>/<url> regex confusion, or a broken
    // relative resolve each shifts a histogram cell.
    Q(
      "g9_sitemap_urls",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val id = col("doc_id").cast("string")
        val a = (col("doc_id") % 13).cast("string")
        val f = (col("doc_id") % 11).cast("string")
        val dd = lpad((col("doc_id") % 27 + 1).cast("string"), 2, "0")
        val cf = element_at(array(lit("daily"), lit("weekly"), lit("monthly")),
          (col("doc_id") % 3 + 1).cast("int"))
        val p = (col("doc_id") % 9 + 1).cast("string")
        val urlset = concat(
          lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            "<url><loc>http://site"), a, lit(".example.org/p/"), id,
          lit("</loc><lastmod>2026-01-"), dd, lit("</lastmod><changefreq>"), cf,
          lit("</changefreq><priority>0."), p,
          lit("</priority></url><url><loc>/rel/"), id,
          lit("</loc></url></urlset>"))
        val index = concat(
          lit("<sitemapindex><sitemap><loc>http://idx"), a,
          lit(".example.org/sitemaps/part"), id,
          lit(".xml</loc><lastmod>2026-02-"), dd,
          lit("</lastmod></sitemap></sitemapindex>"))
        val base = concat(lit("http://sm"), f, lit(".example.com/sitemap.xml"))
        Registry.table(s, dir, "documents")
          .select(col("doc_id"), base.as("base"),
            when(col("doc_id") % 2 === 0, urlset).otherwise(index).as("xml"))
          .select(col("doc_id"), col("base"),
            explode(F.extractSitemapUrls(col("xml"))).as("u"))
          .select(col("doc_id"), col("u.scope").as("scope"),
            F.urlHost(F.resolveUrl(col("base"), col("u.url"))).as("host"),
            col("u.lastmod"), col("u.priority"))
          .groupBy("scope", "host")
          .agg(count(lit(1)).as("n_urls"),
            count_distinct(col("doc_id")).as("n_docs"),
            sum(when(col("lastmod").isNotNull, 1L).otherwise(0L)).as("n_dated"),
            sum(coalesce(
              regexp_extract(col("priority"), "0\\.(\\d)", 1).cast("long"),
              lit(0L))).as("sum_prio10"))
          .orderBy("scope", "host")
      },
      Some("""
        WITH e AS (
          SELECT doc_id, 'url' AS scope,
                 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example.org' AS host,
                 1 AS dated, doc_id % 9 + 1 AS prio
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT doc_id, 'url',
                 'sm' || CAST(doc_id % 11 AS VARCHAR) || '.example.com', 0, 0
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT doc_id, 'index',
                 'idx' || CAST(doc_id % 13 AS VARCHAR) || '.example.org', 1, 0
          FROM documents WHERE doc_id % 2 = 1)
        SELECT scope, host, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs,
               CAST(SUM(dated) AS BIGINT) AS n_dated,
               CAST(SUM(prio) AS BIGINT) AS sum_prio10
        FROM e GROUP BY scope, host ORDER BY scope, host
      """.trim),
    ),
    // G10: HITS hubs/authorities over the same edge table as g5 (ops.Hits) —
    // the link-spam second opinion to PageRank (a mutually-linking farm
    // inflates rank but not authority). Two exact unnormalized integer
    // iterations; the oracle unrolls them as joins, so the whole power
    // iteration — weighting, seeding, both half-steps per round — is
    // hash-checked.
    Q(
      "g10_hits",
      // normalize = true: each half-step integer-rescales to max = 1e6,
      // so scores NEVER compound — without it a supernode's weighted
      // degree overflows int64 by depth 2 (caught by the x10hub soak:
      // one node owning ~20% of edge mass with ~240k-multiplicity edges
      // pushed Σ n_links·score past 2^63). The oracle replays the exact
      // integer rescale in HUGEINT, so the gate stays bit-exact.
      (s, dir) =>
        graft.ops.Hits.run(edges(s, dir), iters = 2, normalize = true)
          .orderBy("role", "node"),
      Some(s"""
        WITH $EdgesCte,
        auth1 AS (
          SELECT dst_domain AS node, SUM(n_links)::HUGEINT AS a
          FROM edges GROUP BY 1),
        auth1r AS (
          SELECT node, CAST(a * 1000000 // (SELECT MAX(a) FROM auth1) AS BIGINT) AS a
          FROM auth1),
        hub1 AS (
          SELECT e.src_domain AS node, SUM(e.n_links::HUGEINT * a1.a) AS h
          FROM edges e JOIN auth1r a1 ON e.dst_domain = a1.node GROUP BY 1),
        hub1r AS (
          SELECT node, CAST(h * 1000000 // (SELECT MAX(h) FROM hub1) AS BIGINT) AS h
          FROM hub1),
        auth2 AS (
          SELECT e.dst_domain AS node, SUM(e.n_links::HUGEINT * h1.h) AS a
          FROM edges e JOIN hub1r h1 ON e.src_domain = h1.node GROUP BY 1),
        auth2r AS (
          SELECT node, CAST(a * 1000000 // (SELECT MAX(a) FROM auth2) AS BIGINT) AS a
          FROM auth2),
        hub2 AS (
          SELECT e.src_domain AS node, SUM(e.n_links::HUGEINT * a2.a) AS h
          FROM edges e JOIN auth2r a2 ON e.dst_domain = a2.node GROUP BY 1),
        hub2r AS (
          SELECT node, CAST(h * 1000000 // (SELECT MAX(h) FROM hub2) AS BIGINT) AS h
          FROM hub2)
        SELECT 'auth' AS role, node, a AS score_u FROM auth2r
        UNION ALL
        SELECT 'hub' AS role, node, h AS score_u FROM hub2r
        ORDER BY role, node
      """.trim),
    ),
    // G11: co-citation similarity — target domains that share many source
    // domains ("related pages" in link analysis; the bipartite projection
    // a crawl graph supports where triangle-style metrics don't apply).
    // The per-source fanout is capped at 20 through the bounded TopK heap
    // (ObjectHashAggregate, ≤20 rows per source leave each mapper — the
    // reference's InvCap sampling analog), so pair generation is
    // O(sources · cap²) — LINEAR in the corpus, never Σdeg² on a zipf
    // hub. Jaccard runs over the capped neighbor sets, making the oracle
    // exact: one integer ratio per pair, bit-identical in both engines.
    Q(
      "g11_cocitation",
      (s, dir) => {
        val cap = 20
        val e = edges(s, dir)
          .select(col("src_domain").as("cust"), col("dst_domain").as("supp"))
        // capped feeds THREE consumers (deg + both pair-join sides):
        // materialize once or the 4-table edge derivation and the heap
        // cap would each run three times
        val capped = graft.ops.Iterative.materialize(
          e.groupBy("cust")
            .agg(graft.ops.TopK.topScored(cap)(
              -col("supp").cast("double"), col("supp")).as("top"))
            .select(col("cust"), explode(col("top.key")).as("supp")))
        val deg = capped.groupBy("supp").agg(count(lit(1)).as("deg"))
        val a = capped.select(col("cust"), col("supp").as("sa"))
        val b = capped.select(col("cust"), col("supp").as("sb"))
        a.join(b, "cust").filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("common"))
          .filter(col("common") >= 3)
          .join(deg.select(col("supp").as("sa"), col("deg").as("dega")), "sa")
          .join(deg.select(col("supp").as("sb"), col("deg").as("degb")), "sb")
          .select(col("sa"), col("sb"), col("common"),
            (col("common").cast("double") /
              (col("dega") + col("degb") - col("common"))).as("jaccard"))
          .orderBy(col("common").desc, col("sa"), col("sb"))
      },
      Some(s"""
        WITH $EdgesCte,
        capped AS (
          SELECT src_domain AS cust, dst_domain AS supp
          FROM edges
          QUALIFY row_number() OVER (PARTITION BY src_domain ORDER BY dst_domain) <= 20
        ),
        deg AS (SELECT supp, COUNT(*) AS deg FROM capped GROUP BY 1),
        pairs AS (
          SELECT a.supp AS sa, b.supp AS sb, COUNT(*)::BIGINT AS common
          FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
          GROUP BY 1, 2
          HAVING COUNT(*) >= 3
        )
        SELECT sa, sb, common,
               common::DOUBLE / (da.deg + db.deg - common) AS jaccard
        FROM pairs JOIN deg da ON sa = da.supp JOIN deg db ON sb = db.supp
        ORDER BY common DESC, sa, sb
      """.trim),
    ),
    // G13: triangle counting over the co-citation projection — the
    // customer→supplier link graph is bipartite (no odd cycles), so the
    // triangle substrate is g11's derived supplier–supplier graph:
    // per-node triangle participation, the local clustering signal
    // behind link-farm and community detection. An absolute support
    // threshold is NOT scale-invariant here (expected co-citation of a
    // random pair grows linearly with source count, so a ≥3 graph
    // densifies toward complete — measured 163 s at 10×), so the
    // substrate is the TOP-M strongest edges (common desc, ids asc):
    // fixed-size at any corpus scale, like the analysis graphs people
    // actually run clustering on. The heavy distributed work — the
    // capped pair aggregation — stays linear in sources; the top-M is
    // TakeOrdered (per-partition heads). Spark then runs the
    // DEGREE-ORDERED algorithm: every undirected edge is oriented
    // low-degree → high-degree (ties by id), capping any node's
    // out-neighborhood at O(√M) — wedge generation is Σ outdeg² ≤
    // O(M^1.5) TOTAL even if M is raised to warehouse width, and no
    // hub ever enumerates its Σdeg² wedges on one task. The wedge
    // closes against the canonical (lo, hi) edge set with an
    // equi-join. The oracle counts the SAME triangles with the naive
    // a<b<c triple join — orientation is pure work placement, the
    // triple set is provably identical, so agreement checks the
    // mechanism, not a shared implementation.
    Q(
      "g13_triangles",
      (s, dir) =>
        // the shared degree-oriented triangle artifact (triangleRows)
        // folded to per-node counts
        triangleRows(s, dir)
          .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("triangles"))
          .orderBy("node"),
      Some(s"""
        WITH $EdgesCte,
        $TopEdgesCtes,
        tri AS (
          SELECT p1.sa AS a, p1.sb AS b, p2.sb AS c
          FROM pairs p1
          JOIN pairs p2 ON p2.sa = p1.sa AND p2.sb > p1.sb
          JOIN pairs p3 ON p3.sa = p1.sb AND p3.sb = p2.sb
        ),
        nodes AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        SELECT node, COUNT(*) AS triangles
        FROM nodes GROUP BY node ORDER BY node
      """.trim),
    ),
    // G14: degree distribution — the first profile anyone computes on a
    // crawl graph (power-law check, hub census, partitioner sizing
    // input): for each direction, how many nodes have each distinct
    // (deduped-edge) degree. Two partial-agg'd corpus passes collapse
    // the edge table to per-node degrees, then the histogram groupBy
    // lands on an output bounded by the number of DISTINCT degree
    // values (≪ nodes; heavy-tailed graphs reuse small degrees
    // constantly) — no windows, no sorts at corpus width, and the
    // degree shuffle key is the node id, so zipf hubs cost one counter
    // each, not a sorted partition.
    Q(
      "g14_degree_dist",
      (s, dir) => {
        val e = edges(s, dir).select("src_domain", "dst_domain")
        val outDeg = e.groupBy("src_domain").agg(count(lit(1)).as("deg"))
        val inDeg = e.groupBy("dst_domain").agg(count(lit(1)).as("deg"))
        outDeg.select(lit("out").as("direction"), col("deg"))
          .unionByName(inDeg.select(lit("in").as("direction"), col("deg")))
          .groupBy("direction", "deg")
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy("direction", "deg")
      },
      Some(s"""
        WITH $EdgesCte,
        od AS (SELECT src_domain, COUNT(*) AS deg FROM edges GROUP BY 1),
        idg AS (SELECT dst_domain, COUNT(*) AS deg FROM edges GROUP BY 1),
        u AS (
          SELECT 'out' AS direction, deg FROM od
          UNION ALL SELECT 'in', deg FROM idg)
        SELECT direction, CAST(deg AS BIGINT) AS deg, COUNT(*) AS n_nodes
        FROM u GROUP BY direction, deg
        ORDER BY direction, deg
      """.trim),
    ),
    // G15: k-core decomposition (k=18) over the g13 substrate — the
    // PEELING class of iterative graph algorithm (PageRank/HITS/PPR
    // cover power iteration, d5 covers label propagation; peeling is
    // the remaining one): repeatedly delete nodes of degree < k until
    // the maximal subgraph where every node keeps ≥ k neighbors
    // remains — the dense-community / spam-farm core detector. Spark
    // iterates to the TRUE fixpoint with g27's bulk peel
    // (Components.kCore: each round one partial-agg'd degree count +
    // two anti joins against the victim set, until no victim). k = 18
    // drives a genuine 5-round cascade at sf0.01 (500 → 328 edges,
    // 42 → 28 nodes), not a one-shot filter. The oracle unrolls 8
    // peel rounds — at fixpoint further rounds are no-ops, so
    // fixed-depth replay equals the fixpoint exactly; KCoreSpec pins
    // convergence-within-8 so the unroll depth stays honest.
    Q(
      "g15_kcore",
      (s, dir) =>
        graft.ops.Components.kCore(cocitationTopEdges(s, dir),
            "sa", "sb", k = 18)
          .orderBy("node"),
      Some(s"""
        WITH $EdgesCte,
        $TopEdgesCtes,
        e0 AS MATERIALIZED (SELECT sa, sb FROM pairs),
        ${kcoreRoundCtes(8, 18)}
        SELECT n AS node, CAST(dg AS BIGINT) AS core_deg
        FROM (
          SELECT n, COUNT(*) AS dg
          FROM (SELECT sa AS n FROM e8 UNION ALL SELECT sb FROM e8)
          GROUP BY 1)
        ORDER BY node
      """.trim),
    ),
    // G16: multi-source BFS seed distance — min hops (≤ 3) from the
    // nation-0 seed list over the bidirectional pagerank graph: the
    // hop-limited frontier expansion every crawler runs ("crawl depth
    // from the seed file", reference CrawlSeedsList semantics). Level-
    // synchronous BFS is exact min-distance by construction: round i
    // joins the dist-(i−1) frontier onto the edge set (hash join on the
    // src key — the frontier is O(nodes) at scale, so it is NEVER
    // broadcast), dedupes, and anti-joins already-labelled nodes.
    // Exactly 3 rounds run in both engines — a fixed-depth semantic,
    // so no convergence pin is needed (an empty frontier makes later
    // rounds no-ops). Unreached nodes are absent from the output.
    // Seeds come from the customer DIM (nationkey 0), including
    // zero-degree seeds — both engines agree by construction.
    Q(
      "g16_seed_distance",
      (s, dir) => {
        val depth = 3
        val ed = graft.ops.Iterative.materialize(
          prEdges(s, dir).select(col("src_domain").as("src"),
            col("dst_domain").as("dst")).distinct())
        val seeds = Registry.table(s, dir, "customer")
          .filter(col("c_nationkey") === 0)
          .select(col("c_custkey").as("n"), lit(0L).as("dist"))
        var labelled = graft.ops.Iterative.materialize(seeds)
        for (i <- 1 to depth) {
          val frontier = labelled.filter(col("dist") === (i - 1).toLong)
            .select(col("n").as("src"))
          val next = ed.join(frontier, "src")
            .select(col("dst").as("n")).distinct()
            .join(labelled.select("n"), Seq("n"), "left_anti")
            .select(col("n"), lit(i.toLong).as("dist"))
          labelled = graft.ops.Iterative.materialize(labelled.unionByName(next))
        }
        labelled.select(col("n").as("node"), col("dist")).orderBy("node")
      },
      Some(s"""
        WITH $EdgesCte,
        ed AS MATERIALIZED (
          SELECT src_domain AS src, dst_domain + 1000000 AS dst FROM edges
          UNION
          SELECT dst_domain + 1000000 AS src, src_domain AS dst FROM edges),
        b0 AS MATERIALIZED (
          SELECT c_custkey AS n, CAST(0 AS BIGINT) AS dist
          FROM customer WHERE c_nationkey = 0),
        ${bfsRoundCtes(3)}
        SELECT n AS node, dist FROM b3 ORDER BY node
      """.trim),
    ),
    // G17: connected components by TWO-PHASE STAR CONTRACTION
    // (Kiveris et al., SoCC 2014) — the O(log n)-round algorithm of
    // record for web-scale components, vs the O(diameter) hash-min
    // loop d5 uses (fine for dedupe clusters whose diameter is tiny,
    // hopeless on redirect/pagination CHAINS). The substrate is
    // exactly that worst case: 100-link successor chains over the
    // customer keys (edge k→k+1 except across century boundaries) —
    // diameter 99, where hash-min needs 99 rounds and star
    // contraction measures 6–8 (StarContractSpec pins ≤ 12, and
    // equality with a driver-side union-find). The oracle walks the
    // same chains with a recursive min-label CTE (depth-99 recursion
    // is DuckDB's problem, not the cluster's). Output: every node
    // labelled with its component's minimum id.
    Q(
      "g17_components",
      (s, dir) => {
        val c = Registry.table(s, dir, "customer").select("c_custkey")
        val pairs = c.select(col("c_custkey").as("a"))
          .where(col("a") % 100 =!= 99)
          .join(c.select(col("c_custkey").as("b")),
            col("b") === col("a") + 1)
        graft.ops.Components.starContract(pairs)
          .select(col("node"), col("component"))
          .orderBy("node")
      },
      Some("""
        WITH RECURSIVE
        e0 AS (
          SELECT a.c_custkey AS a, b.c_custkey AS b
          FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
          WHERE a.c_custkey % 100 <> 99),
        edges AS (
          SELECT a AS src, b AS dst FROM e0
          UNION SELECT b, a FROM e0),
        walk(id, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.label
          FROM edges e JOIN walk w ON e.dst = w.id
          WHERE w.label < e.src)
        SELECT id AS node, MIN(label) AS component
        FROM walk GROUP BY id ORDER BY node
      """.trim),
    ),

    // G18: link prediction by the resource-allocation index (Zhou/Lü/
    // Zhang 2009 — the degree-weighted refinement of g11's raw
    // co-citation count; Adamic–Adar with 1/deg in place of 1/log deg,
    // which keeps the score EXACT in integer ppm). Evidence from a
    // co-citing source is discounted by how promiscuous the source is:
    // ra(sa,sb) = Σ_{cust co-citing both} 1/deg(cust). The reference's
    // link-graph analyses (ranker/ + the inverse link DB) stop at raw
    // counts; this is the similar-page signal a recommender builds on
    // top. Shape: ONE shuffle keyed by cust folds each source's capped
    // citation set into a sorted array (≤20), pairs explode doc-locally
    // (≤190 rows per cust, never corpus-quadratic), and the pair fold
    // partial-aggregates into TakeOrdered(100) — no self-join, no
    // window, output fixed-size at any corpus factor.
    Q(
      "g18_link_prediction",
      (s, dir) => {
        val cap = 20
        val e = edges(s, dir)
          .select(col("src_domain").as("cust"), col("dst_domain").as("supp"))
        e.groupBy("cust")
          .agg(graft.ops.TopK.topScored(cap)(
            -col("supp").cast("double"), col("supp")).as("top"))
          .select(sort_array(col("top.key")).as("supps"))
          .select(
            expr("""explode(flatten(transform(supps,
              (x, i) -> transform(slice(supps, i + 2, size(supps)),
                        y -> struct(x AS sa, y AS sb))))) AS p"""),
            expr("CAST(1000000 DIV size(supps) AS BIGINT)").as("w"))
          .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
          .agg(count(lit(1)).as("common"), sum(col("w")).as("ra_ppm"))
          .filter(col("common") >= 3)
          .orderBy(col("ra_ppm").desc, col("sa"), col("sb"))
          .limit(100)
      },
      Some(s"""
        WITH $EdgesCte,
        capped AS (
          SELECT src_domain AS cust, dst_domain AS supp
          FROM edges
          QUALIFY row_number() OVER (PARTITION BY src_domain ORDER BY dst_domain) <= 20
        ),
        cdeg AS (SELECT cust, COUNT(*) AS deg FROM capped GROUP BY 1),
        pr AS (
          SELECT a.supp AS sa, b.supp AS sb, 1000000 // d.deg AS w
          FROM capped a
          JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
          JOIN cdeg d ON d.cust = a.cust)
        SELECT sa, sb, COUNT(*)::BIGINT AS common, CAST(SUM(w) AS BIGINT) AS ra_ppm
        FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 3
        ORDER BY ra_ppm DESC, sa, sb LIMIT 100
      """.trim),
    ),

    // g19: directed weighted modularity of the root-domain partition —
    // the graph-quality audit behind "is the web graph actually
    // domain-clustered?", and the objective every community-detection
    // pass (Louvain/label-propagation) optimizes; here it scores the
    // partition the reference already has (root domains = nations, the
    // g4 grouping). Q·m² = Σ_c (m·intra_c − out_c·in_c), all BIGINT:
    // each root's contribution is exact (headroom: m·intra ≤ m² < 2^63
    // up to m ≈ 3e9 edge-weight — past that the per-root triple
    // (intra, out, in) is still exact and the caller rescales). Scale
    // shape: the only corpus-sized work is the one edge-derivation pass;
    // each edge then contributes two (root, role) rows to ONE
    // partial-agg'd groupBy onto O(|roots|) rows — no window, no
    // self-join, and the total-weight scalar joins back as a broadcast
    // single row. A positive contrib means the root keeps more of its
    // weight internal than a degree-preserving random rewiring would —
    // at crawl scale the per-root sign is the budget signal for
    // partition-aware sharding (SURVEY §8.2 ingest layout).
    Q(
      "g19_modularity",
      (s, dir) => {
        val e = edges(s, dir)
        // ONE pass over the 4-table edge derivation: each edge explodes
        // into its two (root, role) rows inline (a union of two selects
        // would re-run the whole derivation per branch — measured 5.7×
        // superlinear at the 100× soak before this)
        val roles = e.select(explode(array(
          struct(
            col("src_root").as("root"),
            col("n_links").as("w_out"),
            lit(0L).as("w_in"),
            when(col("src_root") === col("dst_root"), col("n_links"))
              .otherwise(0L).as("w_intra")),
          struct(
            col("dst_root").as("root"),
            lit(0L).as("w_out"),
            col("n_links").as("w_in"),
            lit(0L).as("w_intra")))).as("x"))
          .select(col("x.root").as("root"), col("x.w_out").as("w_out"),
            col("x.w_in").as("w_in"), col("x.w_intra").as("w_intra"))
        // materialized: two consumers (the report and the total), each of
        // which would otherwise re-run the whole edge derivation chain —
        // the O(roots) fold is 25 rows, the cheapest checkpoint there is
        val byRoot = graft.ops.Iterative.materialize(
          roles.groupBy("root").agg(
            sum(col("w_out")).as("w_out"),
            sum(col("w_in")).as("w_in"),
            sum(col("w_intra")).as("w_intra")))
        // total edge weight m = Σ w_out over the O(roots) fold — every
        // edge contributes its weight to exactly one root's out side, so
        // no second pass over the edges is needed
        val total = byRoot.agg(sum(col("w_out")).as("m"))
        byRoot.crossJoin(broadcast(total))
          .select(col("root"), col("m"), col("w_intra"), col("w_out"),
            col("w_in"),
            (col("m") * col("w_intra") - col("w_out") * col("w_in"))
              .as("contrib_num"))
          .orderBy("root")
      },
      Some(s"""
        WITH $EdgesCte,
        roles AS (
          SELECT src_root AS root, n_links AS w_out, 0 AS w_in,
                 CASE WHEN src_root = dst_root THEN n_links ELSE 0 END
                   AS w_intra
          FROM edges
          UNION ALL
          SELECT dst_root, 0, n_links, 0 FROM edges),
        g AS (
          SELECT root,
                 CAST(SUM(w_out) AS BIGINT) AS w_out,
                 CAST(SUM(w_in) AS BIGINT) AS w_in,
                 CAST(SUM(w_intra) AS BIGINT) AS w_intra
          FROM roles GROUP BY 1),
        t AS (SELECT CAST(SUM(n_links) AS BIGINT) AS m FROM edges)
        SELECT root, m, w_intra, w_out, w_in,
               CAST(m * w_intra - w_out * w_in AS BIGINT) AS contrib_num
        FROM g CROSS JOIN t
        ORDER BY root
      """.trim),
    ),

    // g20: degree assortativity (Newman 2002) — do high-fanout sources
    // link to high-indegree targets? The hub-wiring health metric that
    // separates a crawl graph with link farms (assortative hubs) from an
    // organic web (disassortative). Per distinct edge the sample point is
    // (x, y) = (src out-degree, dst in-degree); the report is the exact
    // integer SUFFICIENT STATISTICS — n, Σx, Σy, Σx², Σy², Σxy — whose
    // int64 headroom is comfortable (Σy² ≈ edges·deg² needs ~2⁵⁶ at 10⁹
    // edges × 10⁴ degrees; per-shard rescale past that, the cu19
    // discipline). The n·Σ−Σ·Σ Pearson PRODUCTS overflow int64 already
    // at the 10× soak (measured: ARITHMETIC_OVERFLOW), so the in-engine
    // verdict column is only the covariance SIGN, compared overflow-safe
    // through 38-digit decimals — the full correlation is one big-rational
    // multiply the consumer does on this one-row report. Scale shape: two
    // partial-agg'd degree folds, two hash equi-joins keyed on the edge
    // endpoints (degree tables are O(nodes) — never broadcast), ONE
    // global partial-agg'd reduction to a single row.
    Q(
      "g20_assortativity",
      (s, dir) => {
        // materialize the 4-table edge derivation once — three consumers
        // (both degree folds + the point join) would otherwise each
        // re-run the orders⋈lineitem shuffle
        val e = graft.ops.Iterative.materialize(
          edges(s, dir).select("src_domain", "dst_domain"))
        val outdeg = e.groupBy("src_domain")
          .agg(count(lit(1)).as("x"))
        val indeg = e.groupBy("dst_domain")
          .agg(count(lit(1)).as("y"))
        e.join(outdeg, "src_domain").join(indeg, "dst_domain")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"),
            col("sxy"),
            when(expr("cast(n as decimal(38,0)) * cast(sxy as decimal(38,0))") >
                 expr("cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))"), 1)
              .when(expr("cast(n as decimal(38,0)) * cast(sxy as decimal(38,0))") <
                    expr("cast(sx as decimal(38,0)) * cast(sy as decimal(38,0))"), -1)
              .otherwise(0).cast("int").as("cov_sign"))
      },
      Some(s"""
        WITH $EdgesCte,
        e AS (SELECT DISTINCT src_domain, dst_domain FROM edges),
        od AS (SELECT src_domain, COUNT(*) AS x FROM e GROUP BY 1),
        id AS (SELECT dst_domain, COUNT(*) AS y FROM e GROUP BY 1),
        pts AS (
          SELECT x, y FROM e
          JOIN od USING (src_domain) JOIN id USING (dst_domain)),
        s AS (
          SELECT COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM pts)
        SELECT n, sx, sy, sxx, syy, sxy,
               CAST(CASE
                 WHEN n::HUGEINT * sxy::HUGEINT > sx::HUGEINT * sy::HUGEINT THEN 1
                 WHEN n::HUGEINT * sxy::HUGEINT < sx::HUGEINT * sy::HUGEINT THEN -1
                 ELSE 0 END AS INT) AS cov_sign
        FROM s
      """.trim),
    ),
    // G21: HYPERBALL (Boldi & Vigna, 2013) — the per-node neighborhood
    // function N(v, t) = |ball(v, t)| approximated with mergeable HLL
    // registers, the algorithm of record for effective-diameter /
    // centrality sweeps on web-scale graphs (it computed the Facebook
    // "four degrees of separation" result). Exact-distinct per node is
    // O(V·ball) state — hopeless at 10⁹ nodes; HyperBall is O(V·m)
    // state and one edges⋈state join per round. Registers are carried
    // as (node, bucket, reg) ROWS, so every round is a plain
    // groupBy-max with map-side combine: hub fan-in partial-aggregates
    // before the shuffle (AQE-skew-safe), at an m=16 constant factor
    // the packed-register form would avoid but at the cost of a custom
    // merge UDAF outside codegen. Register max over any path set =
    // max over the reachable set (max is idempotent/associative), so
    // the iterative merge equals the exact-ball registers — the oracle
    // computes ball membership by recursive closure and replays the
    // IDENTICAL register math (the a21 md5 HLL: 16 buckets from hex
    // digit 1, ρ ∈ [1,41] from the 40-bit suffix, α₁₆ = 0.673 integer
    // estimate). t = 3 over the bidirectional pagerank edge set.
    Q(
      "g21_hyperball",
      (s, dir) => {
        val m = 16
        hyperball(s, dir)._1
          .select(col("node"),
            expr((0 until m).map(j => s"if(r$j > 0, 1L, 0L)")
              .mkString(" + ")).as("n_buckets_hit"),
            expr((0 until m).map(j => s"cast(r$j as bigint)")
              .mkString(" + ")).as("sum_reg"),
            expr((0 until m)
              .map(j => s"shiftleft(cast(1 as bigint), 41 - r$j)")
              .mkString(" + ")).as("s_scaled"))
          // m²·2^41 = 2^49; α₁₆ = 0.673; integer div end-to-end
          .withColumn("ball_est",
            expr("(562949953421312L div s_scaled) * 673L div 1000L"))
          .select("node", "n_buckets_hit", "sum_reg", "s_scaled", "ball_est")
          .orderBy("node")
      },
      Some(s"""
        WITH $EdgesCte,
        ed AS MATERIALIZED (
          SELECT src_domain AS src, dst_domain + 1000000 AS dst FROM edges
          UNION
          SELECT dst_domain + 1000000 AS src, src_domain AS dst FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        b0 AS MATERIALIZED (SELECT node AS v, node AS u FROM nodes),
        ${ballRoundCtes(3)},
        h AS (
          SELECT v,
                 ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 1))::BIGINT
                   AS bucket,
                 ('0x' || substr(md5(CAST(u AS VARCHAR)), 2, 10))::BIGINT
                   AS val
          FROM b3),
        r AS (
          SELECT v, bucket,
                 MAX(CASE WHEN val = 0 THEN 41
                          ELSE 41 - length(bin(val)) END) AS reg
          FROM h GROUP BY 1, 2),
        g AS (
          SELECT v,
                 COUNT(*) AS n_buckets_hit,
                 CAST(SUM(reg) AS BIGINT) AS sum_reg,
                 CAST(SUM(1::BIGINT << (41 - reg)) AS BIGINT) AS s_hit
          FROM r GROUP BY 1)
        SELECT v AS node, n_buckets_hit, sum_reg,
               CAST(s_hit + (16 - n_buckets_hit) * 2199023255552
                 AS BIGINT) AS s_scaled,
               CAST(562949953421312
                      // (s_hit + (16 - n_buckets_hit) * 2199023255552)
                    * 673 // 1000 AS BIGINT) AS ball_est
        FROM g ORDER BY node
      """.trim),
    ),
    // G22: DISTANCE DISTRIBUTION — HyperBall's headline readout: the
    // neighborhood function N(t) = Σ_v |ball(v, t)| per radius, the
    // quantity behind effective-diameter and "degrees of separation"
    // numbers. One register-merge loop (g21's), with a two-aggregate
    // per-node rollup snapshotted after every round — the snapshots
    // are O(V) folds, so sweeping t costs the SAME joins g21 already
    // pays plus four tiny readouts. Oracle: exact balls per radius,
    // identical register/estimate replay, summed.
    Q(
      "g22_distance_distribution",
      (s, dir) => hyperball(s, dir)._2.orderBy("t"),
      Some(s"""
        WITH $EdgesCte,
        ed AS MATERIALIZED (
          SELECT src_domain AS src, dst_domain + 1000000 AS dst FROM edges
          UNION
          SELECT dst_domain + 1000000 AS src, src_domain AS dst FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        b0 AS MATERIALIZED (SELECT node AS v, node AS u FROM nodes),
        ${ballRoundCtes(3)},
        ${(0 to 3).map(hyperballReadoutCte).mkString(",\n")}
        SELECT * FROM o0 UNION ALL SELECT * FROM o1
        UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
        ORDER BY t
      """.trim),
    ),
    // G23: HARMONIC CENTRALITY — HyperBall's target application
    // (Boldi & Vigna run the register sweep precisely to score
    // centrality on web graphs): HC(v) = Σ_t |ball(v,t)| − |ball(v,t−1)|
    // over t, i.e. each newly reached node weighted 1/its distance.
    // Exact per-node closeness is an all-pairs BFS — quadratic and
    // hopeless at web scale; the ball-delta form falls out of the SAME
    // shared loop g21/g22 already pay for (per-round per-node estimate
    // snapshots, node-keyed V-sized joins). Kept integer-exact as ppm
    // with per-term `div` (deltas are non-negative: balls are nested
    // and the integer estimate is monotone in the register state, so
    // truncation direction is moot). Oracle: exact balls per radius,
    // identical per-node register/estimate replay, same delta formula.
    Q(
      "g23_harmonic_centrality",
      (s, dir) => {
        hyperball(s, dir)._3
          .select(col("node"),
            col("est3").as("ball3_est"),
            expr("1000000L * (est1 - est0) " +
              "+ (1000000L * (est2 - est1)) div 2 " +
              "+ (1000000L * (est3 - est2)) div 3").as("hc_ppm"))
          .orderBy("node")
      },
      Some(s"""
        WITH $EdgesCte,
        ed AS MATERIALIZED (
          SELECT src_domain AS src, dst_domain + 1000000 AS dst FROM edges
          UNION
          SELECT dst_domain + 1000000 AS src, src_domain AS dst FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        b0 AS MATERIALIZED (SELECT node AS v, node AS u FROM nodes),
        ${ballRoundCtes(3)},
        ${(0 to 3).map(hyperballNodeEstCte).mkString(",\n")}
        SELECT e0.v AS node, e3.est AS ball3_est,
               1000000 * (e1.est - e0.est)
               + (1000000 * (e2.est - e1.est)) // 2
               + (1000000 * (e3.est - e2.est)) // 3 AS hc_ppm
        FROM e0 JOIN e1 USING (v) JOIN e2 USING (v) JOIN e3 USING (v)
        ORDER BY node
      """.trim),
    ),
    // G24: CENTRALITY TOP-K READOUT — "who are the hubs": the top-50
    // harmonic-centrality nodes, the question every crawl-prioritization
    // loop asks of the centrality table (the reference feeds
    // `PageRankUtils.java`'s rank into the same decision). Rides the
    // SAME persisted HyperBall estimate artifact as g21/g22/g23 — zero
    // additional loop cost — and the global top-k is
    // TakeOrderedAndProject (plan-pinned): a 50-row bounded heap per
    // partition merged on the driver, never a full sort — O(V) scan,
    // O(k) state, no shuffle of the V-sized table at any scale. Ties at
    // the boundary are broken by node id in both engines, so the
    // selected SET is deterministic.
    Q(
      "g24_centrality_topk",
      (s, dir) => {
        hyperball(s, dir)._3
          .select(col("node"),
            col("est3").as("ball3_est"),
            expr("1000000L * (est1 - est0) " +
              "+ (1000000L * (est2 - est1)) div 2 " +
              "+ (1000000L * (est3 - est2)) div 3").as("hc_ppm"))
          .orderBy(col("hc_ppm").desc, col("node").asc)
          .limit(50)
      },
      Some(s"""
        WITH $EdgesCte,
        ed AS MATERIALIZED (
          SELECT src_domain AS src, dst_domain + 1000000 AS dst FROM edges
          UNION
          SELECT dst_domain + 1000000 AS src, src_domain AS dst FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM ed
                  UNION SELECT DISTINCT dst FROM ed),
        b0 AS MATERIALIZED (SELECT node AS v, node AS u FROM nodes),
        ${ballRoundCtes(3)},
        ${(0 to 3).map(hyperballNodeEstCte).mkString(",\n")}
        SELECT e0.v AS node, e3.est AS ball3_est,
               1000000 * (e1.est - e0.est)
               + (1000000 * (e2.est - e1.est)) // 2
               + (1000000 * (e3.est - e2.est)) // 3 AS hc_ppm
        FROM e0 JOIN e1 USING (v) JOIN e2 USING (v) JOIN e3 USING (v)
        ORDER BY hc_ppm DESC, node ASC
        LIMIT 50
      """.trim),
    ),
    // G25: LOCAL CLUSTERING COEFFICIENT — the per-node community
    // signal next to g13's triangle counts: cc(v) = 2·tri(v) /
    // (deg(v)·(deg(v)−1)) over the same deduped undirected pair set,
    // integer-exact as ppm. Link farms read near 1.0 (everything
    // interlinks), organic hubs near 0 — the spam-vs-hub discriminator
    // crawl prioritization feeds on. Same degree-oriented wedge
    // generation as g13 (each wedge counted once at its lowest-degree
    // apex — the node-iterator bound that keeps hub wedges from
    // exploding), nodes with deg ≥ 2 and zero triangles kept at 0.
    Q(
      "g25_clustering_coeff",
      (s, dir) => {
        val pairs = cocitationTopEdges(s, dir)
        val deg = pairs.select(col("sa").as("n"))
          .unionByName(pairs.select(col("sb").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        // per-node triangle counts from the SHARED oriented-triangle
        // artifact (triangleRows) — built once, consumed by g13/g25/g26
        val tri = triangleRows(s, dir)
          .select(explode(array(col("a"), col("x"), col("y"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("triangles"))
        deg.filter(col("deg") >= 2)
          .join(tri, col("n") === col("node"), "left")
          .select(col("n").as("node"), col("deg"),
            coalesce(col("triangles"), lit(0L)).as("triangles"),
            // Integer `div` keeps ppm exact like the oracle's `//`; double
            // division + cast can cross an integer boundary near 2^51.
            expr("coalesce(triangles, 0L) * 2000000 div (deg * (deg - 1))")
              .as("cc_ppm"))
          .orderBy("node")
      },
      Some(s"""
        WITH $EdgesCte,
        $TopEdgesCtes,
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT sa AS n FROM pairs UNION ALL SELECT sb FROM pairs)
          GROUP BY n),
        tri AS (
          SELECT p1.sa AS a, p1.sb AS b, p2.sb AS c
          FROM pairs p1
          JOIN pairs p2 ON p2.sa = p1.sa AND p2.sb > p1.sb
          JOIN pairs p3 ON p3.sa = p1.sb AND p3.sb = p2.sb),
        tcnt AS (
          SELECT node, COUNT(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY node)
        SELECT d.n AS node, d.deg,
               COALESCE(t.triangles, 0)::BIGINT AS triangles,
               (COALESCE(t.triangles, 0) * 2000000
                 // (d.deg * (d.deg - 1)))::BIGINT AS cc_ppm
        FROM deg d LEFT JOIN tcnt t ON t.node = d.n
        WHERE d.deg >= 2
        ORDER BY node
      """.trim),
    ),

    // G26: per-edge triangle support — the k-truss substrate (an edge
    // in a k-truss sits in ≥ k−2 triangles): the community-core vs
    // bridge discriminator on the link graph (high-support edges sit
    // inside dense cores crawl prioritization protects; support-0 edges
    // are the bridges spam graphs lack). Consumes the SAME persisted
    // triangleRows artifact as g13/g25 — each triangle contributes
    // support to its three edges, normalized to the pairs orientation
    // (sa < sb), and every co-citation edge keeps a row (support 0 via
    // left join). Cost at corpus scale: a 3×|triangles| union folded on
    // the edge key — no new wedge join anywhere.
    Q(
      "g26_edge_support",
      (s, dir) => {
        val pairs = cocitationTopEdges(s, dir)
        val tri = triangleRows(s, dir)
        val triEdges = tri.select(
            least(col("a"), col("x")).as("ea"),
            greatest(col("a"), col("x")).as("eb"))
          .unionByName(tri.select(
            least(col("a"), col("y")).as("ea"),
            greatest(col("a"), col("y")).as("eb")))
          .unionByName(tri.select(col("x").as("ea"), col("y").as("eb")))
          .groupBy("ea", "eb").agg(count(lit(1)).as("sup"))
        pairs.join(triEdges,
            col("sa") === col("ea") && col("sb") === col("eb"), "left")
          .select(col("sa"), col("sb"),
            coalesce(col("sup"), lit(0L)).as("support"))
          .orderBy("sa", "sb")
      },
      Some(s"""
        WITH $EdgesCte,
        $TopEdgesCtes,
        tri AS (
          SELECT p1.sa AS a, p1.sb AS b, p2.sb AS c
          FROM pairs p1
          JOIN pairs p2 ON p2.sa = p1.sa AND p2.sb > p1.sb
          JOIN pairs p3 ON p3.sa = p1.sb AND p3.sb = p2.sb),
        sup AS (
          SELECT ea, eb, COUNT(*) AS sup FROM (
            SELECT a AS ea, b AS eb FROM tri
            UNION ALL SELECT a, c FROM tri
            UNION ALL SELECT b, c FROM tri)
          GROUP BY ea, eb)
        SELECT p.sa, p.sb, COALESCE(s.sup, 0)::BIGINT AS support
        FROM pairs p
        LEFT JOIN sup s ON s.ea = p.sa AND s.eb = p.sb
        ORDER BY p.sa, p.sb
      """.trim),
    ),

    // G27: k-CORE membership (Seidman 1983; bulk-peel à la Montresor et
    // al.) over the shared co-citation substrate — the "dense nucleus"
    // cut next to g26's truss support: repeatedly delete ALL nodes of
    // degree < k until fixpoint. Bulk deletion makes the round count
    // the graph's peeling depth (small on heavy-tailed webgraphs), each
    // round one degree partial-agg + two anti-joins against the
    // shrinking victim set. The oracle replays the peel ROUND BY ROUND
    // (unrolled, materialized CTEs — the t13 discipline); rounds beyond
    // the fixpoint are no-ops, and a fixture deep enough to exceed the
    // unroll would fail the compare loudly rather than silently agree.
    Q(
      "g27_kcore",
      (s, dir) =>
        graft.ops.Components.kCore(cocitationTopEdges(s, dir),
            "sa", "sb", k = 3)
          .orderBy("node"),
      Some(kcoreOracle(k = 3, rounds = 20)),
    ),

    // G28: LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007) over
    // the shared co-citation substrate — the community baseline next to
    // g17's components (which merge ANY connectivity; LPA splits by
    // neighborhood majority). SYNCHRONOUS and deterministic: every node
    // adopts its neighbors' most frequent label, ties to the smallest,
    // for a FIXED 4 rounds (synchronous LPA can 2-cycle, so fixed
    // rounds — not convergence — is the replayable contract). Each
    // round is one edge join + two partial-agg'd groupBys; the oracle
    // unrolls all 4 rounds (the g27/t13 discipline).
    Q(
      "g28_label_propagation",
      (s, dir) =>
        graft.ops.Components.labelPropagation(cocitationTopEdges(s, dir),
            "sa", "sb", rounds = 4)
          .orderBy("node"),
      Some(lpaOracle(rounds = 4)),
    ),
  )

  /** g28 oracle: synchronous LPA unrolled round-by-round in SQL. */
  private def lpaOracle(rounds: Int): String = {
    val levels = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT u.src AS node, l.label,
         |           row_number() OVER (PARTITION BY u.src
         |             ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM und u JOIN l${r - 1} l ON l.node = u.dst
         |    GROUP BY u.src, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EdgesCte,
       |$TopEdgesCtes,
       |und AS MATERIALIZED (
       |  SELECT sa AS src, sb AS dst FROM pairs
       |  UNION ALL SELECT sb AS src, sa AS dst FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM und),
       |$levels
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** g27 oracle: the bulk peel unrolled `rounds` levels in SQL over the
    * co-citation substrate. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT * FROM a${r - 1}
         |  WHERE src NOT IN (SELECT n FROM b${r - 1})
         |    AND dst NOT IN (SELECT n FROM b${r - 1})),
         |b$r AS MATERIALIZED (
         |  SELECT src AS n FROM a$r GROUP BY src HAVING COUNT(*) < $k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $EdgesCte,
       |$TopEdgesCtes,
       |a0 AS MATERIALIZED (
       |  SELECT sa AS src, sb AS dst FROM pairs
       |  UNION ALL SELECT sb AS src, sa AS dst FROM pairs),
       |b0 AS MATERIALIZED (
       |  SELECT src AS n FROM a0 GROUP BY src HAVING COUNT(*) < $k),
       |$peels
       |SELECT src AS node, COUNT(*)::BIGINT AS core_deg
       |FROM a$rounds
       |GROUP BY src
       |ORDER BY node""".stripMargin
  }

  /** ONE HyperBall register-merge loop per (sf dir, t), built in the
    * artifact store, serves both g21 (final per-node registers) and g22
    * (per-round distance-distribution readouts) — the sharedNearDup/
    * edges build-once discipline: the loop is the dominant cost, and
    * g22's snapshots fall out of the same rounds g21 already pays for.
    *
    * Registers travel PACKED as 16 fixed-width int COLUMNS per node
    * (r0..r15), merged with sixteen plain per-column `max` aggregates
    * — ONE whole-stage-codegen HashAggregate over an 80-byte UnsafeRow
    * with map-side combine and sort-based spill. Two rejected layouts,
    * both measured at the 100× soak in one 8 GiB JVM: (node, bucket,
    * reg) ROWS shuffle E·16 rows per round (OOM), and an array<int>
    * column with an elementwise-max UDAF routes through
    * ObjectHashAggregate, whose per-key object buffers and 128-key
    * sort-fallback also OOM at E·V scale ([AGGREGATE_OUT_OF_MEMORY]).
    * Fixed-width columns are the Tungsten-native form: E rows per
    * round, spillable, codegen end-to-end.
    *
    * Returns (final state (node, r0..r15), distribution rows
    * (t, n_nodes, sum_ball_est), per-node estimates
    * (node, est0..est$t) — the g23 harmonic-centrality input).
    *
    * `t` is the ball radius (3 for the registry queries; HyperballSpec
    * gates t=4 against an exact-BFS register replay on the small
    * substrate, so sweeping deeper is a parameter change, not new code).
    *
    * Memory at scale: each round shuffles E 80-byte register rows into
    * the groupBy-max. At a fixed 32 shuffle partitions the per-task
    * final-aggregate hash maps grow with E/32 and the 100× build needed
    * a 24 g heap (r15 SCALING.md). The build now scales the shuffle
    * width with the measured edge count (≈250k rows/partition, capped)
    * so per-task state stays roof-independent — more, smaller reduce
    * tasks instead of 32 spilling ones; AQE coalesces the tail when the
    * substrate is small. The loop runs on a clone of the caller's session
    * with that width, so queries planned on the caller's session keep
    * theirs (a repartition before each groupBy would lose its map-side
    * partial aggregate). */
  private[graft] def hyperball(
      s: SparkSession, dir: String, t: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    val edges = edgesEntry(s, dir)
    val entry = ResultCache.getOrBuild(s, "g-hyperball", Map("t" -> t.toString), dir) { out =>
      val m = 16
      val hs = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(s)
      val ed = graft.ops.Iterative.materializeSer(
        bidirectional(hs.read.parquet(edges)).select(col("src_domain").as("src"),
          col("dst_domain").as("dst")).distinct())
      val edgeCount = ed.count() // materialized — a cheap second action
      val parts = math.min(2048L, math.max(32L, edgeCount / 250000L + 1L))
      hs.conf.set(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS.key, parts)
      val nodes = ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct()
      val md = md5(col("node").cast("string"))
      val v = conv(substring(md, 2, 10), 16, 10).cast("long")
      val bucket = conv(substring(md, 1, 1), 16, 10).cast("int")
      val rho = when(v === 0L, 41).otherwise(lit(41) - length(bin(v)))
        .cast("int")
      var state = graft.ops.Iterative.materializeSer(nodes
        .select(col("node"), bucket.as("b"), rho.as("r"))
        .select(col("node") +: (0 until m).map(j =>
          when(col("b") === j, col("r")).otherwise(lit(0))
            .cast("int").as(s"r$j")): _*))
      // Σ 2^(41-reg) over ALL m registers — an untouched register
      // (reg = 0) contributes 2^41 naturally, so no hit-count split
      val sScaled = expr((0 until m)
        .map(j => s"shiftleft(cast(1 as bigint), 41 - r$j)")
        .mkString(" + "))
      // LAZY (r20): readout and estDf read the round's CHECKPOINTED
      // state, so deferring them costs no recomputation — the final
      // dist/ests parquet writes evaluate all rounds' snapshots from
      // the retained checkpoints in ONE job each, instead of paying a
      // materialization job per round: 2(t+1) driver barrier jobs and
      // the per-round ests checkpoint blocks removed. Cold-JVM sf0.1
      // build time is NEUTRAL within box noise (min 14.6 vs 15.3 s
      // over 6/3 runs) — the removed jobs are sub-second here.
      // Retention trade, stated precisely: the deferred plans hold
      // ALL t+1 per-round state checkpoints (V-row, 80-byte register
      // frames, serialized) until the final writes, where the old
      // code let superseded states become cleaner-collectible but
      // retained the per-round ests checkpoints (V-row frames of
      // growing width) instead — the t=3 peak is ~4 V-sized frames
      // either way; the x10 cold-JVM solo build completed in 30.6 s
      // under the default test heap after the change (the pre-change
      // committed solo x10 row was 34.9 s, r15), no memory incident.
      // Per-round
      // materialization stays ONLY on `state` (the loop-carried frame
      // whose lineage would otherwise grow per round).
      // The round's frame is passed EXPLICITLY (ADVICE r20): binding
      // the snapshot to the argument value rather than a closure over
      // the mutable `state` var means a reorder of the loop's
      // reassignment and readout lines cannot silently record the
      // previous round's snapshot twice.
      def readout(st: org.apache.spark.sql.DataFrame, round: Int) =
        st.select(sScaled.as("s_scaled"))
          .withColumn("est",
            expr("(562949953421312L div s_scaled) * 673L div 1000L"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("est")).as("sum_ball_est"))
          .select(lit(round.toLong).as("t"), col("n_nodes"),
            col("sum_ball_est"))
      // per-node ball estimate snapshot — g23's input; node-keyed
      // V-sized joins assemble the wide (node, est0..est3) table
      def estDf(st: org.apache.spark.sql.DataFrame, round: Int) = st
        .select(col("node"), sScaled.as("s_scaled"))
        .select(col("node"),
          expr("(562949953421312L div s_scaled) * 673L div 1000L")
            .as(s"est$round"))
      var outs = readout(state, 0)
      var ests = estDf(state, 0)
      for (i <- 1 to t) {
        val st = state.toDF(
          "sn" +: (0 until m).map(j => s"r$j"): _*)
        val contrib = ed.join(st, col("sn") === col("dst"))
          .select(col("src").as("node") +: (0 until m).map(j =>
            col(s"r$j")): _*)
        state = graft.ops.Iterative.materializeSer(
          state.unionByName(contrib)
            .groupBy("node")
            .agg(max(col("r0")).as("r0"), (1 until m).map(j =>
              max(col(s"r$j")).as(s"r$j")): _*))
        outs = outs.unionByName(readout(state, i))
        ests = ests.join(estDf(state, i), "node")
      }
      state.write.parquet(s"$out/state")
      outs.write.parquet(s"$out/dist")
      ests.write.parquet(s"$out/ests")
    }
    (s.read.parquet(s"$entry/state"), s.read.parquet(s"$entry/dist"),
      s.read.parquet(s"$entry/ests"))
  }

  /** g21 oracle machinery: exact radius-t ball membership, one
    * expansion round per CTE (b_i = b_{i-1} ∪ out-neighbors of its
    * members). MATERIALIZED for the usual re-scan reason. */
  private def ballRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM b${i - 1}
         |    UNION ALL
         |    SELECT b.v, e.dst AS u
         |    FROM b${i - 1} b JOIN ed e ON e.src = b.u))"""
        .stripMargin
    }.mkString(",\n")

  /** g23 oracle machinery: the per-node register/estimate replay
    * against the exact ball b$t — e$t is (v, est). */
  private def hyperballNodeEstCte(t: Int): String =
    s"""e$t AS MATERIALIZED (
       |  SELECT v,
       |         CAST(562949953421312 // (
       |           CAST(SUM(1::BIGINT << (41 - reg)) AS BIGINT)
       |           + (16 - COUNT(*)) * 2199023255552) * 673 // 1000
       |           AS BIGINT) AS est
       |  FROM (
       |    SELECT v,
       |           ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 1))::BIGINT
       |             AS bucket,
       |           MAX(CASE
       |             WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 2, 10))::BIGINT = 0
       |               THEN 41
       |             ELSE 41 - length(bin(
       |               ('0x' || substr(md5(CAST(u AS VARCHAR)), 2, 10))::BIGINT))
       |             END) AS reg
       |    FROM b$t GROUP BY 1, 2)
       |  GROUP BY v)"""
      .stripMargin

  /** g22 oracle machinery: the g21 register/estimate replay evaluated
    * against the exact ball b$t, rolled up to one (t, n_nodes,
    * sum_ball_est) row per radius. */
  private def hyperballReadoutCte(t: Int): String =
    s"""o$t AS (
       |  SELECT $t::BIGINT AS t, COUNT(*) AS n_nodes,
       |         CAST(SUM(est) AS BIGINT) AS sum_ball_est
       |  FROM (
       |    SELECT v,
       |           CAST(562949953421312 // (
       |             CAST(SUM(1::BIGINT << (41 - reg)) AS BIGINT)
       |             + (16 - COUNT(*)) * 2199023255552) * 673 // 1000
       |             AS BIGINT) AS est
       |    FROM (
       |      SELECT v,
       |             ('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 1))::BIGINT
       |               AS bucket,
       |             MAX(CASE
       |               WHEN ('0x' || substr(md5(CAST(u AS VARCHAR)), 2, 10))::BIGINT = 0
       |                 THEN 41
       |               ELSE 41 - length(bin(
       |                 ('0x' || substr(md5(CAST(u AS VARCHAR)), 2, 10))::BIGINT))
       |               END) AS reg
       |      FROM b$t GROUP BY 1, 2)
       |    GROUP BY v))"""
      .stripMargin

  /** g16 oracle machinery: level-synchronous BFS unrolled — round i
    * expands the dist-(i−1) frontier of b(i−1) and labels unseen
    * neighbors i. MATERIALIZED for the same 3^rounds reason as
    * [[kcoreRoundCtes]]. */
  private def bfsRoundCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT n, dist FROM b${i - 1}
         |  UNION ALL
         |  SELECT n, CAST($i AS BIGINT) AS dist FROM (
         |    SELECT DISTINCT ed.dst AS n
         |    FROM ed JOIN b${i - 1} f ON ed.src = f.n AND f.dist = ${i - 1}
         |    WHERE ed.dst NOT IN (SELECT n FROM b${i - 1})))"""
        .stripMargin
    }.mkString(",\n")

  /** g15 oracle machinery: `rounds` unrolled peel levels — level i
    * recomputes degrees over e(i-1), keeps the ≥k nodes, and filters
    * the edge set to kept endpoints. Rounds past the fixpoint are
    * no-ops, so any depth ≥ the actual peel depth replays the
    * fixpoint exactly. Every level is MATERIALIZED: each e(i) is
    * referenced three times by level i+1, so inlined CTEs would expand
    * the plan 3^rounds-fold (measured: DuckDB exhausts file handles
    * re-scanning the base tables). */
  private def kcoreRoundCtes(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT n, COUNT(*) AS dg
         |  FROM (SELECT sa AS n FROM e${i - 1} UNION ALL SELECT sb FROM e${i - 1})
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE dg >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT sa, sb FROM e${i - 1}
         |  WHERE sa IN (SELECT n FROM k$i) AND sb IN (SELECT n FROM k$i))"""
        .stripMargin
    }.mkString(",\n")
}
