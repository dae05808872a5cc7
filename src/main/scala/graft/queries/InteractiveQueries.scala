package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interactive query surface (SURVEY §2.11) — the reference's query-server
  * queries collapse from master/slave scatter-gather + spill-merge +
  * position-index pagination into single declarative plans. The "domain"
  * table analog is customers (domain_name = c_name); their "URLs" are
  * orders.
  *
  * Pagination discipline (W2): every paged query orders by
  * (sort_field, unique key) so OFFSET is total-order deterministic —
  * the reference gets this from its positional index over a sorted file
  * (PositionBasedSequenceFileIndex.java:229-320).
  */
object InteractiveQueries {

  private val dec2 = (c: String) => col(c).cast("decimal(18,2)")

  def defs: Seq[Q] = Seq(
    // Q1 DomainListQuery: regex scan over domain names → per-domain
    // aggregate → sort by url count desc → page 2 (offset 20, size 10)
    // (DomainListQuery.java:59: remote regex scan, merge, re-sort, page).
    Q(
      "i1_domain_list",
      (s, dir) => {
        val c = Registry.table(s, dir, "customer").filter(col("c_name").rlike("7$"))
        val o = Registry.table(s, dir, "orders")
        c.join(o, col("o_custkey") === col("c_custkey"), "left")
          .groupBy(col("c_custkey").as("domain_id"), col("c_name").as("domain_name"))
          .agg(count(col("o_orderkey")).as("url_count"),
            sum(dec2("o_totalprice")).cast("double").as("total_value"))
          .orderBy(col("url_count").desc, col("domain_id").asc)
          .offset(20)
          .limit(10)
      },
      Some("""
        SELECT c_custkey AS domain_id, c_name AS domain_name,
               COUNT(o_orderkey) AS url_count,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        WHERE regexp_matches(c_name, '7$')
        GROUP BY c_custkey, c_name
        ORDER BY url_count DESC, domain_id ASC
        LIMIT 10 OFFSET 20
      """.stripMargin.trim),
    ),

    // Q2 DomainURLListQuery: one domain's URL list, rank-sorted, with
    // bulk-joined per-URL metadata (DomainURLListQuery.java:51 +
    // DatabaseIndexV2.java:260 bulk metadata join).
    Q(
      "i2_domain_url_list",
      (s, dir) => {
        val o = Registry.table(s, dir, "orders").filter(col("o_custkey") === 77L)
        val l = Registry.table(s, dir, "lineitem")
        o.join(l, col("l_orderkey") === col("o_orderkey"), "left")
          .groupBy(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"))
          .agg(count(col("l_linenumber")).as("n_lines"),
            sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
               COUNT(l_linenumber) AS n_lines, SUM(l_quantity) AS sum_qty
        FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_custkey = 77
        GROUP BY o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        ORDER BY o_totalprice DESC, o_orderkey ASC
      """.stripMargin.trim),
    ),

    // Q5 URLDetailQuery: single-key point lookup with detail join
    // (DatabaseIndexV2.queryMetadataAndURLGivenFP:193-258). At warehouse
    // scale the orders table is bucketed by key → one-bucket scan.
    Q(
      "i5_url_detail",
      (s, dir) => {
        val o = Registry.table(s, dir, "orders").filter(col("o_orderkey") === 4242L)
        val l = Registry.table(s, dir, "lineitem").filter(col("l_orderkey") === 4242L)
        o.join(l, col("l_orderkey") === col("o_orderkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"),
            col("l_linenumber"), col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"))
          .orderBy(col("l_linenumber"), col("l_partkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               l_linenumber, l_partkey, l_quantity, l_extendedprice
        FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey = 4242
        ORDER BY l_linenumber, l_partkey
      """.stripMargin.trim),
    ),

    // Q6 CrawlListServlet: paged crawl-list view — urgent orders by date
    // asc, page 4 of size 25, with the (date, key) total order
    // (QueryServerFE.java:116 paging semantics).
    Q(
      "i6_crawl_list_page",
      (s, dir) =>
        Registry.table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .offset(75)
          .limit(25),
      Some("""
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        ORDER BY o_orderdate ASC, o_orderkey ASC
        LIMIT 25 OFFSET 75
      """.stripMargin.trim),
    ),

    // Q5 ContentQuery (the content half): archived bytes are served by an
    // (archive_file, byte_offset) lookup — the reference resolves a URL
    // fingerprint to its stored location and seeks (MasterServer content
    // fetch; queryserver detail query). The real seekable index over ARC
    // members is the graft-arc scan's (arc_file, offset) columns, read
    // back by ArcSource.fetchRecordAt (i8); this oracle analog replays the
    // index layout over `documents`: one archive per source, offsets =
    // running byte sums in doc_id order, and the fetched content identity
    // checked via md5.
    Q(
      "i7_content_fetch",
      (s, dir) => {
        val w = Window.partitionBy(col("arc_file")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Registry.table(s, dir, "documents")
          .select(col("doc_id"), col("source").as("arc_file"),
            octet_length(col("text")).cast("long").as("content_len"), col("text"))
          .withColumn("byte_offset", coalesce(sum(col("content_len")).over(w), lit(0L)))
          .filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), col("arc_file"), col("byte_offset"),
            col("content_len"), md5(col("text").cast("binary")).as("content_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, arc_file, byte_offset, content_len, content_md5 FROM (
          SELECT doc_id, source AS arc_file,
                 CAST(COALESCE(SUM(strlen(text)) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS byte_offset,
                 CAST(strlen(text) AS BIGINT) AS content_len,
                 md5(text) AS content_md5
          FROM documents)
        WHERE doc_id % 97 = 0
        ORDER BY doc_id
      """.stripMargin.trim),
    ),
    // §3.1 end-to-end through the page server: build the cached positional
    // index for (g2_inlink_counts, n_inlinks desc) in a fresh cache dir,
    // then serve page 2 as a pos-range read off the cached parquet — the
    // reference's Query.getCanonicalId cache + readPaginatedResults path.
    // The oracle recomputes the base query and replays the index's
    // total-order rank (sort field, then every remaining column by name),
    // so a wrong tiebreak or off-by-one page boundary breaks the hash.
    Q(
      "i9_cached_page",
      (s, dir) => {
        // one cache dir per application, reused across invocations in
        // it: reruns exercise the cache-HIT path without leaking an index
        // copy per run, while separate applications never share a path
        val server = new QueryServer(s, Staging.path(s, "i9-cache"), dir)
        server.page("g2_inlink_counts",
          server.PageRequest("n_inlinks", ascending = false,
            offset = 10, pageSize = 10))
      },
      Some {
        val base = GraphQueries.defs.find(_.name == "g2_inlink_counts")
          .flatMap(_.oracle)
          .getOrElse(sys.error("g2_inlink_counts oracle missing"))
        s"""
        WITH base AS ($base),
        r AS (
          SELECT *, ROW_NUMBER() OVER (ORDER BY
            n_inlinks DESC, cross_root_links DESC, dst_domain DESC,
            dst_root DESC, n_cross_roots DESC, n_src_domains DESC,
            same_root_links DESC) AS pos
          FROM base
        )
        SELECT dst_domain, dst_root, n_inlinks, n_src_domains,
               same_root_links, cross_root_links, n_cross_roots,
               CAST(pos AS BIGINT) AS pos
        FROM r WHERE pos > 10 AND pos <= 20 ORDER BY pos
        """.stripMargin.trim
      },
    ),

    // i11: phrase search over a POSITIONAL inverted index — the
    // interactive-search mechanism cu5's postings lack (doc frequency
    // alone cannot answer "these words ADJACENT"). Spark side: tokens
    // posexplode into (token, doc, sorted positions) postings, the
    // query phrases' word postings are pruned by a broadcast semi-join
    // (only the queried words' lists ever reach a shuffle — at 100 TB
    // the full postings table is corpus-sized, the pruned one is
    // query-sized), and adjacency = |shift(positions(w1)) ∩
    // positions(w2)| per doc. The DuckDB oracle never builds postings:
    // it counts adjacent bigrams directly from the token stream —
    // mechanism-diverse evidence that the index path returns exactly
    // the scan-path answer. Phrases are the corpus's own top-5 bigrams
    // (count desc, bigram asc — deterministic in both engines), so the
    // query set needs no fixture table.
    Q(
      "i11_phrase_search",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toksArr = docs.select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        val bg = toksArr
          .select(col("doc_id"),
            explode(when(size(col("ts")) < 2,
              expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
              .otherwise(expr(
                """transform(slice(ts, 1, size(ts) - 1),
                  |  (t, i) -> named_struct('w1', t, 'w2', element_at(ts, i + 2)))"""
                  .stripMargin))).as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"),
            concat(col("b.w1"), lit(" "), col("b.w2")).as("phrase"))
        val top5 = bg.groupBy("phrase", "w1", "w2")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("phrase").asc)
          .limit(5)
          .select("phrase", "w1", "w2")
        val post = toksArr
          .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")))
          .groupBy("tok", "doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("ps"))
        val m1 = post.join(broadcast(top5), col("tok") === col("w1"))
          .select(col("phrase"), col("w2"), col("doc_id").as("doc_id1"),
            col("ps").as("ps1"))
        val post2 = post
          .join(broadcast(top5.select(col("w2").as("tok")).distinct()),
            Seq("tok"), "leftsemi")
          .select(col("tok").as("tok2"), col("doc_id").as("doc_id2"), col("ps"))
        val joined = post2
          .join(m1, col("tok2") === col("w2") && col("doc_id2") === col("doc_id1"))
          .select(col("phrase"), col("doc_id1").as("doc_id"),
            size(array_intersect(
              transform(col("ps1"), p => p + 1), col("ps"))).as("occ"))
          .where(col("occ") > 0)
        joined.groupBy("phrase")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("occ")).cast("long").as("n_occurrences"),
            sum(col("doc_id")).as("docid_sum"))
          .orderBy("phrase")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        bg AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS phrase
          FROM ts, UNNEST(range(1, len(ts))) AS u(i)),
        top5 AS (
          SELECT phrase FROM bg GROUP BY phrase
          ORDER BY COUNT(*) DESC, phrase LIMIT 5),
        occ AS (
          SELECT b.phrase, b.doc_id, COUNT(*) AS occ
          FROM bg b JOIN top5 t ON b.phrase = t.phrase
          GROUP BY 1, 2)
        SELECT phrase,
               COUNT(*) AS n_docs,
               CAST(SUM(occ) AS BIGINT) AS n_occurrences,
               CAST(SUM(doc_id) AS BIGINT) AS docid_sum
        FROM occ GROUP BY phrase ORDER BY phrase
      """.trim),
    ),

    // i12: BM25 ranked retrieval — the scoring layer over the postings
    // machinery (cu5 doc-frequency, i11 positions): Okapi BM25 with
    // k1 = 1.2, b = 0.75 in pure integer fixed point. The log-idf is
    // replaced by the rational Robertson–Sparck-Jones core
    // (N − df)·10⁶ div df — monotone in df, exact in both engines (a
    // float log would hash-drift); the saturation/length-norm fraction
    // multiplies through by 10·avgdl so numerator and denominator stay
    // integral: score(t,d) = idf · 22·tf·avgdl div
    // (10·avgdl·tf + 3·avgdl + 9·dl). Query = the corpus's own
    // mid-frequency terms (df ranks 11–15 — deterministic in both
    // engines; the top-10 df terms are stopword-like and would swamp
    // the ranking). Scale shape: tf/dl/df are partial-agg'd groupBys;
    // the 5-term query table and the two one-row scalars broadcast, so
    // scoring is a map-side join over only the matching postings; the
    // global top-10 runs as TakeOrdered (per-partition heads, never a
    // full sort).
    Q(
      "i12_bm25_search",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
          .where(col("tok") =!= "")
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val terms = df.orderBy(col("df").desc, col("tok").asc)
          .offset(10).limit(5)
        val scal = dl.agg(
          count(lit(1)).as("n_docs"),
          expr("sum(dl) div count(1)").as("avgdl"))
        val scored = tf
          .join(broadcast(terms), Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(scal))
          .select(col("doc_id"),
            expr("""((n_docs - df) * 1000000 div df)
                   | * (22 * tf * avgdl)
                   | div (10 * avgdl * tf + 3 * avgdl + 9 * dl)"""
              .stripMargin).as("ts"))
        scored.groupBy("doc_id")
          .agg(sum(col("ts")).as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(10)
      },
      Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                    t -> t <> '')) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        terms AS (
          SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 5 OFFSET 10),
        scal AS (
          SELECT COUNT(*) AS n_docs, SUM(dl) // COUNT(*) AS avgdl FROM dl),
        scored AS (
          SELECT tf.doc_id,
                 ((n_docs - t.df) * 1000000 // t.df)
                   * (22 * tf.tf * avgdl)
                   // (10 * avgdl * tf.tf + 3 * avgdl + 9 * dl.dl) AS ts
          FROM tf JOIN terms t USING (tok)
                  JOIN dl ON tf.doc_id = dl.doc_id, scal)
        SELECT doc_id, CAST(SUM(ts) AS BIGINT) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10
      """.trim),
    ),

    // i13: hit SNIPPETS — the result-page layer over i11's positional
    // postings: for every (phrase, matching doc) return the first match
    // position and the surrounding token window (6 tokens from the
    // first phrase word), which is what a search UI actually renders.
    // Spark side walks the INDEX (pruned postings → first adjacent
    // position per doc → one doc_id-keyed join back to the token
    // arrays for the window slice); the oracle scans the raw token
    // stream directly — mechanism-diverse evidence, as i11. Scale
    // shape: the phrase table broadcasts, only the queried words'
    // postings shuffle, and the snippet join touches only MATCHING
    // docs (semi-join-sized, doc_id-keyed).
    Q(
      "i13_snippets",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toksArr = docs.select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        val bg = toksArr
          .select(col("doc_id"),
            explode(when(size(col("ts")) < 2,
              expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
              .otherwise(expr(
                """transform(slice(ts, 1, size(ts) - 1),
                  |  (t, i) -> named_struct('w1', t, 'w2', element_at(ts, i + 2)))"""
                  .stripMargin))).as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"),
            concat(col("b.w1"), lit(" "), col("b.w2")).as("phrase"))
        val top5 = bg.groupBy("phrase", "w1", "w2")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("phrase").asc)
          .limit(5)
          .select("phrase", "w1", "w2")
        val post = toksArr
          .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")))
          .groupBy("tok", "doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("ps"))
        val m1 = post.join(broadcast(top5), col("tok") === col("w1"))
          .select(col("phrase"), col("w2"), col("doc_id").as("doc_id1"),
            col("ps").as("ps1"))
        val post2 = post
          .join(broadcast(top5.select(col("w2").as("tok")).distinct()),
            Seq("tok"), "leftsemi")
          .select(col("tok").as("tok2"), col("doc_id").as("doc_id2"), col("ps"))
        val hits = post2
          .join(m1, col("tok2") === col("w2") && col("doc_id2") === col("doc_id1"))
          .select(col("phrase"), col("doc_id1").as("doc_id"),
            // 0-based w2 hit positions = 1-based index of the phrase's
            // FIRST word — the min doubles as the slice start
            array_min(array_intersect(
              transform(col("ps1"), p => p + 1), col("ps"))).as("fp"))
          .where(col("fp").isNotNull)
        hits.join(toksArr, "doc_id")
          .select(col("phrase"), col("doc_id"),
            col("fp").cast("long").as("first_pos"),
            concat_ws(" ", slice(col("ts"), col("fp"), lit(6))).as("snippet"))
          .orderBy("phrase", "doc_id")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        bg AS (
          SELECT doc_id, i, ts[i] || ' ' || ts[i+1] AS phrase
          FROM ts, UNNEST(range(1, len(ts))) AS u(i)),
        top5 AS (
          SELECT phrase FROM bg GROUP BY phrase
          ORDER BY COUNT(*) DESC, phrase LIMIT 5),
        hit AS (
          SELECT b.phrase, b.doc_id, MIN(i) AS fp
          FROM bg b JOIN top5 t ON b.phrase = t.phrase
          GROUP BY 1, 2)
        SELECT h.phrase, h.doc_id, CAST(fp AS BIGINT) AS first_pos,
               array_to_string(t.ts[fp:fp+5], ' ') AS snippet
        FROM hit h JOIN ts t ON h.doc_id = t.doc_id
        ORDER BY h.phrase, h.doc_id
      """.trim),
    ),

    // i14: prefix autocomplete — top-5 corpus tokens per 3-char prefix
    // by frequency, the typeahead index a search box serves. Same skew
    // discipline as t9's head: token counting is a partial-agg'd
    // groupBy, and the per-prefix head runs as the bounded-heap
    // aggregate (≤5 rows per prefix per mapper reach the shuffle) —
    // never a Window over a prefix's whole vocabulary, which for a hot
    // prefix is zipf-fat at corpus scale.
    Q(
      "i14_autocomplete",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        docs.select(explode(
            filter(split(lower(col("text")), "[^a-z]+"), t => t =!= ""))
            .as("tok"))
          .where(length(col("tok")) >= 3)
          .groupBy("tok")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("prefix", substring(col("tok"), 1, 3))
          .groupBy("prefix")
          .agg(graft.ops.TopK.topScoredStrings(5)(col("cnt"), col("tok"))
            .as("top"))
          .select(col("prefix"), posexplode(col("top")))
          .select(col("prefix"), (col("pos") + 1).cast("long").as("pos"),
            col("col.key").as("tok"), col("col.score").as("cnt"))
          .orderBy("prefix", "pos")
      },
      Some("""
        WITH tok AS (
          SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   t -> t <> '')) AS tok
          FROM documents),
        tc AS (
          SELECT tok, COUNT(*) AS cnt FROM tok
          WHERE length(tok) >= 3 GROUP BY tok),
        r AS (
          SELECT substr(tok, 1, 3) AS prefix, tok, cnt,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY substr(tok, 1, 3)
                   ORDER BY cnt DESC, tok) AS BIGINT) AS pos
          FROM tc)
        SELECT prefix, pos, tok, cnt FROM r WHERE pos <= 5
        ORDER BY prefix, pos
      """.trim),
    ),

    // i15: faceted search — the result-page sidebar over the same query
    // the i12 ranker answers: for the corpus's mid-frequency query terms
    // (df ranks 11–15, i12's deterministic query-selection discipline),
    // the per-facet document counts (source and lang dimensions) plus
    // each facet's share of the matched set in ppm. Scale shape: the
    // 5-term query table broadcasts into a LEFTSEMI over the distinct
    // postings, so only matching (doc, term) rows survive the scan; the
    // matched-doc set is collapsed to distinct doc_ids BEFORE the
    // facet-dimension fetch join (doc_id-keyed equi, matching docs
    // only); facet counts are partial-agg'd groupBys onto a
    // facet-cardinality output. Nothing sorts or shuffles at corpus
    // width — the facet table is model-sized by construction.
    Q(
      "i15_facets",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val post = docs.select(col("doc_id"),
            explode(array_distinct(
              filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "")))
              .as("tok"))
        val df = post.groupBy("tok").agg(count(lit(1)).as("df"))
        val terms = df.orderBy(col("df").desc, col("tok").asc)
          .offset(10).limit(5).select("tok")
        val matched = post.join(broadcast(terms), Seq("tok"), "leftsemi")
          .select("doc_id").distinct()
        val hits = matched.join(docs.select("doc_id", "source", "lang"),
          Seq("doc_id"))
        val total = hits.agg(count(lit(1)).as("n_matched"))
        hits.select(lit("source").as("facet"), col("source").as("value"))
          .unionByName(
            hits.select(lit("lang").as("facet"), col("lang").as("value")))
          .groupBy("facet", "value")
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(total))
          .select(col("facet"), col("value"), col("n_docs"),
            expr("n_docs * 1000000 div n_matched").as("share_ppm"))
          .orderBy("facet", "value")
      },
      Some("""
        WITH post AS (
          SELECT DISTINCT doc_id, t AS tok
          FROM (SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> t <> '')) AS t
                FROM documents)),
        df AS (SELECT tok, COUNT(*) AS df FROM post GROUP BY 1),
        terms AS (
          SELECT tok FROM df ORDER BY df DESC, tok LIMIT 5 OFFSET 10),
        matched AS (
          SELECT DISTINCT doc_id FROM post
          WHERE tok IN (SELECT tok FROM terms)),
        hits AS (
          SELECT d.doc_id, d.source, d.lang
          FROM matched m JOIN documents d ON m.doc_id = d.doc_id),
        total AS (SELECT COUNT(*) AS n_matched FROM hits),
        fac AS (
          SELECT 'source' AS facet, source AS value FROM hits
          UNION ALL SELECT 'lang', lang FROM hits)
        SELECT facet, value, COUNT(*) AS n_docs,
               CAST(COUNT(*) * 1000000 // n_matched AS BIGINT) AS share_ppm
        FROM fac, total
        GROUP BY facet, value, n_matched
        ORDER BY facet, value
      """.trim),
    ),

    // i16: "more like this" — the related-documents panel: top-10 docs
    // sharing the most DISCRIMINATIVE phrasing with a probe doc, scored
    // by summed integer idf (N·10⁶ div df) over shared distinct word
    // 3-gram SHINGLES. Shingles, not unigrams: the corpus vocabulary is
    // closed (every word is near-stopword by df), while 3-gram phrasing
    // is zipf-sparse — the same reason the dedupe tier shingles (d2) and
    // t15 fingerprints templates at shingle level. Stopword-ish shingles
    // are pruned by the RELATIVE gate df·20 ≤ N (≤5% of docs —
    // scale-invariant, the t15 lesson; an absolute cap would pass
    // everything at sf0.001 and nothing at 100×). Scale shape: the
    // probe's shingle set is ONE doc's — broadcast; scoring touches only
    // postings of the probe's rare shingles (map-side pruned),
    // partial-aggs per candidate doc; top-10 is TakeOrdered. The
    // probe's own row is excluded; counts and scores integer-exact.
    Q(
      "i16_more_like_this",
      (s, dir) => {
        val probeId = 42L
        val docs = Registry.table(s, dir, "documents")
        val toksArr = docs.select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        val post = toksArr.select(col("doc_id"),
          explode(array_distinct(when(size(col("ts")) < 3,
            expr("CAST(array() AS array<string>)"))
            .otherwise(expr(
              """transform(slice(ts, 1, size(ts) - 2),
                |  (t, i) -> concat(t, ' ', element_at(ts, i + 2),
                |                   ' ', element_at(ts, i + 3)))"""
                .stripMargin)))).as("g"))
        val df = post.groupBy("g").agg(count(lit(1)).as("df"))
        val scal = docs.agg(count(lit(1)).as("n_docs"))
        val probeTerms = post.filter(col("doc_id") === probeId)
          .join(df, Seq("g"))
          .crossJoin(broadcast(scal))
          .filter(col("df") * 20 <= col("n_docs"))
          .select(col("g"), expr("n_docs * 1000000 div df").as("idf_u"))
        post.filter(col("doc_id") =!= probeId)
          .join(broadcast(probeTerms), Seq("g"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("shared_shingles"),
            sum(col("idf_u")).cast("long").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        post AS (
          SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
          FROM ts, UNNEST(range(1, len(ts) - 1)) AS u(i)),
        df AS (SELECT g, COUNT(*) AS df FROM post GROUP BY 1),
        scal AS (SELECT COUNT(*) AS n_docs FROM documents),
        probe AS (
          SELECT p.g, n_docs * 1000000 // df.df AS idf_u
          FROM post p JOIN df USING (g), scal
          WHERE p.doc_id = 42 AND df.df * 20 <= n_docs)
        SELECT p.doc_id, COUNT(*) AS shared_shingles,
               CAST(SUM(pr.idf_u) AS BIGINT) AS score
        FROM post p JOIN probe pr ON p.g = pr.g
        WHERE p.doc_id <> 42
        GROUP BY p.doc_id
        ORDER BY score DESC, doc_id LIMIT 10
      """.trim),
    ),

    // I17: "did you mean" spell-correction (the SymSpell ≤2-deletion
    // index — the serving-side twin of u3's offline sweep): candidates
    // for a misspelled query term are vocabulary words sharing a
    // ≤2-deletion variant. The guarantee (lev(a,b) ≤ 2 ⟹ del≤2(a) ∩
    // del≤2(b) ≠ ∅ — delete the edited positions of an optimal script
    // from both sides) is fuzz-pinned in SpellcheckSpec; unlike u3's
    // distance-1 channels the d=2 block is complete but NOT exact, so
    // the levenshtein verify here is load-bearing. Ranking: distance
    // first, then corpus frequency, then the token — top-3 per probe
    // through a PROBE-partitioned window (the probe set is a live
    // query stream's misspellings — model-sized by definition; the
    // vocab side carries the ≤2-deletion index, O(vocab·len²) rows,
    // vocab-sized, never corpus-sized). The oracle asserts GROUND
    // TRUTH by brute-force probe×vocab levenshtein (oracle-scale) —
    // blocking completeness makes the sets equal by construction.
    Q(
      "i17_spellcheck",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val vocab = docs.select(explode(
            filter(split(lower(col("text")), "[^a-z]+"), t => t =!= ""))
            .as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
        // ≤2-deletion variant set of a string column (incl. itself)
        def del2(c: org.apache.spark.sql.Column) = {
          val L = length(c)
          val d1 = transform(sequence(lit(1), L),
            i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, L)))
          val d2 = flatten(transform(sequence(lit(1), L), i =>
            transform(sequence(i + 1, L), j =>
              concat(c.substr(lit(1), i - 1),
                c.substr(i + 1, j - i - 1), c.substr(j + 1, L)))))
          array_distinct(concat(array(c), d1, d2))
        }
        // probe stream: three misspelling shapes per ≥5-char vocab word
        val probes = vocab.where(length(col("token")) >= 5)
          .select(explode(array(
            concat(col("token").substr(lit(1), lit(1)),
              col("token").substr(lit(3), length(col("token")))),
            concat(lit("q"), col("token").substr(lit(2), length(col("token")))),
            concat(col("token").substr(lit(1), lit(1)),
              col("token").substr(lit(3), length(col("token")) - lit(3)))))
            .as("probe"))
          .distinct()
        val vocabIdx = vocab.select(col("token"), col("freq"),
          explode(del2(col("token"))).as("block"))
        val probeIdx = probes.select(col("probe"),
          explode(del2(col("probe"))).as("block"))
        val cand = probeIdx.join(vocabIdx, "block")
          .select("probe", "token", "freq").distinct()
          .withColumn("dist", levenshtein(col("probe"), col("token")).cast("long"))
          .where(col("dist") <= 2)
        cand
          .withColumn("rank", row_number().over(Window.partitionBy("probe")
            .orderBy(col("dist"), col("freq").desc, col("token"))).cast("long"))
          .where(col("rank") <= 3)
          .select(col("probe"), col("rank"), col("token"), col("dist"), col("freq"))
          .orderBy("probe", "rank")
      },
      Some("""
        WITH v AS (
          SELECT unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   t -> t <> '')) AS token
          FROM documents),
        vocab AS (SELECT token, COUNT(*) AS freq FROM v GROUP BY 1),
        probes AS (
          SELECT DISTINCT unnest([
            substr(token, 1, 1) || substr(token, 3),
            'q' || substr(token, 2),
            substr(token, 1, 1) || substr(token, 3, length(token) - 3)
          ]) AS probe
          FROM vocab WHERE length(token) >= 5),
        cand AS (
          SELECT p.probe, w.token, w.freq,
                 CAST(levenshtein(p.probe, w.token) AS BIGINT) AS dist
          FROM probes p CROSS JOIN vocab w
          WHERE levenshtein(p.probe, w.token) <= 2)
        SELECT probe, rank, token, dist, freq FROM (
          SELECT *, CAST(row_number() OVER (
            PARTITION BY probe ORDER BY dist, freq DESC, token) AS BIGINT) AS rank
          FROM cand)
        WHERE rank <= 3
        ORDER BY probe, rank
      """.trim),
    ),

    // i18: keyset (cursor/"seek-method") pagination — the scale-correct
    // complement to w2's offset windows: page N+1 resumes from the last
    // row of page N via a sargable composite-key predicate, so the scan
    // cost is O(page), not O(pages-skipped) — offset pagination re-reads
    // and re-sorts everything before the requested page, which is why
    // every deep-paging API (and the reference's own paginated index
    // reads, PositionBasedSequenceFileIndex.java:229) keys on a cursor.
    // The cursor here is the 60th row of the (o_totalprice DESC,
    // o_orderkey ASC) listing — an O(1) driver-side fetch (the TFile-
    // manifest collect class) — and the page-4 fetch is a tuple-order
    // predicate + TakeOrdered: (price < c) OR (price = c AND key > k),
    // which reaches the parquet scan as pushed min/max-prunable filters.
    // On a listing laid out sorted by the ranking key (the s25
    // discipline), the seek touches O(1) row groups at any corpus size.
    Q(
      "i18_keyset_pagination",
      (s, dir) => {
        val orders = Registry.table(s, dir, "orders")
        val listing = orders
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        // cursor = last row of page 3 (rows 1-60): O(1) rows to the driver
        val cur = listing.limit(60)
          .orderBy(col("o_totalprice").asc, col("o_orderkey").desc)
          .select(col("o_totalprice"), col("o_orderkey"))
          .limit(1).collect()(0)
        val (cPrice, cKey) = (cur.getDouble(0), cur.getLong(1))
        orders
          .filter(col("o_totalprice") < cPrice ||
            (col("o_totalprice") === cPrice && col("o_orderkey") > cKey))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(20)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
      },
      Some("""
        WITH cur AS (
          SELECT o_totalprice AS c_price, o_orderkey AS c_key
          FROM orders
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 1 OFFSET 59)
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders CROSS JOIN cur
        WHERE o_totalprice < c_price
           OR (o_totalprice = c_price AND o_orderkey > c_key)
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
      """.stripMargin.trim),
    ),

    // i19: host-crowded result page — the web-search SERP discipline
    // ("host crowding": never let one site monopolize a result page):
    // global top-10 documents by length subject to ≤2 results per source.
    // The per-host cut runs through the bounded TopK heap (≤2 rows per
    // source leave each mapper — zipf-safe, the w5/lg1 discipline; a
    // megasite with 10⁸ candidate pages still ships 2), and the page cut
    // is TakeOrdered over the O(2·hosts) survivors — no window, no
    // global sort anywhere. Fully deterministic order: (n_chars DESC,
    // doc_id ASC) at both levels.
    Q(
      "i19_host_crowding",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        docs.groupBy("source")
          .agg(graft.ops.TopK.topScored(2)(
            col("n_chars").cast("double"), col("doc_id")).as("top"))
          .select(col("source"), explode(col("top")).as("t"))
          .select(col("source"), col("t.key").as("doc_id"),
            col("t.score").cast("long").as("n_chars"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
          .limit(10)
      },
      Some("""
        SELECT source, doc_id, n_chars FROM (
          SELECT source, doc_id, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents)
        WHERE rn <= 2
        ORDER BY n_chars DESC, doc_id ASC
        LIMIT 10
      """.stripMargin.trim),
    ),

    // i20: near-dup cluster-member lookup — the interactive face of the
    // d5 clustering: "show me every copy of this document" (the dedupe
    // review / takedown-propagation / provenance-audit page). The
    // cluster labels persist as TWO bucketed tables, both built once
    // with cu24 in DedupeQueries.sharedNearDup — (doc_id → cluster_id)
    // bucketed by doc_id and (cluster_id → member_id) bucketed by
    // cluster_id — so BOTH hops of a point query land on
    // pre-bucketed join keys: the corpus-sized index sides never
    // re-shuffle, only the O(probes) side moves (the d9/TFiles serving
    // discipline). Probes here are the fixed doc_id % 100 == 7 page;
    // singletons are their own single member, so every probe answers.
    Q(
      "i20_cluster_members",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // both label tables come from the shared build — cu24 and i20
        // were independently paying for the same banding + clustering
        // (their dominant cost), and the builder writes nothing itself,
        // so concurrent builds of two sort orders cannot race
        val (_, labels, members) = DedupeQueries.nearDup(s, dir)
        docs.select(col("doc_id")).filter(col("doc_id") % 100 === 7)
          .join(s.table(labels), "doc_id")
          .select(col("doc_id").as("probe_id"), col("cluster_id"))
          .join(s.table(members), "cluster_id")
          .select(col("probe_id"), col("cluster_id"), col("member_id"))
          .orderBy("probe_id", "member_id")
      },
      Some(s"""
        WITH RECURSIVE ${DedupeQueries.clusterCtes},
        lbl AS (
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id)
        SELECT p.doc_id AS probe_id, p.cluster_id, m.doc_id AS member_id
        FROM lbl p JOIN lbl m USING (cluster_id)
        WHERE p.doc_id % 100 = 7
        ORDER BY probe_id, member_id
      """.trim),
    ),
  )
}
