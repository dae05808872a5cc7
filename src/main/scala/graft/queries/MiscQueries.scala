package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Remaining scalar/filter/join operator families (SURVEY §2.2 F5,
  * §2.3 J2, §2.7 X4/X6) as oracle-matched queries. */
object MiscQueries {

  /** The x26 sitemap-XML fixture text: urlset vs sitemapindex dispatch
    * keyed by doc_id%251, &amp;-escaped query strings, optional
    * lastmod/priority. SHARED with lg8, whose frontier is driven off
    * the PARSED text of this same XML (not re-fabricated URL columns) —
    * the r17 verdict's honesty fix. */
  private[queries] def sitemapXml(docId: Column): Column = {
    val k = docId % 251
    val isIndex = k % 4 === 0
    val nu = k % 7 + 1
    val urlEntries = array_join(
      transform(sequence(lit(0), nu - 1), i => concat(
        lit("<url><loc>https://s"), k % 5, lit(".example/p"), i,
        lit("-"), docId, lit("?a=1&amp;b="), i, lit("</loc>"),
        when(i % 2 === 0, concat(lit("<lastmod>2026-0"), i % 9 + 1,
          lit("-01</lastmod>"))).otherwise(""),
        when(i % 4 === 0, concat(lit("<priority>0."), k % 9,
          lit("</priority>"))).otherwise(""),
        lit("</url>"))), "")
    val idxEntries = array_join(
      transform(sequence(lit(0), k % 3), i => concat(
        lit("<sitemap><loc>https://s"), k % 5, lit(".example/sm"), i,
        lit("-"), docId, lit(".xml</loc></sitemap>"))), "")
    when(isIndex, concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"), idxEntries,
        lit("</sitemapindex>")))
      .otherwise(concat(
        lit("<?xml version=\"1.0\"?><urlset>"), urlEntries,
        lit("</urlset>")))
  }

  /** The x26 parse: every <loc> body, entity-decoded, capped at the
    * protocol's 50,000-entry budget. */
  private[queries] def sitemapLocs(xml: Column): Column =
    transform(slice(regexp_extract_all(xml,
        lit("<loc>([^<]*)</loc>"), lit(1)), 1, 50000), l =>
      replace(replace(replace(l, lit("&lt;"), lit("<")),
        lit("&gt;"), lit(">")), lit("&amp;"), lit("&")))

  def defs: Seq[Q] = Seq(
    // F8: robots.txt gating — the reference crawler's Nutch-derived
    // robots engine (service/crawler/RobotRulesParser.java: per-agent
    // sections with precedence, ordered first-match-wins prefix rules,
    // Crawl-delay) re-expressed clean-room in core/Robots and applied
    // as a corpus-scale fetchability audit: per (host, agent), how many
    // candidate URLs the synthesized policy admits/blocks and the
    // host's crawl delay. The oracle re-derives every decision
    // analytically, so the section selection, the Allow-before-Disallow
    // ordering, the * fallback AND the delay parse are all gated.
    Q(
      "f8_robots_gate",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val h = (col("doc_id") % 7).cast("string")
        val robots = concat(
          lit("# crawl policy\nUser-agent: graftbot\nAllow: /p/ok/\n" +
            "Disallow: /p/\nCrawl-delay: "), h,
          lit("\n\nUser-agent: *\nDisallow: /q/\n"))
        val agent = when(col("doc_id") % 3 === 0, lit("graftbot"))
          .otherwise(lit("otherbot"))
        val path = concat(
          when(col("doc_id") % 4 === 0, lit("/p/ok/"))
            .when(col("doc_id") % 4 === 1, lit("/p/"))
            .when(col("doc_id") % 4 === 2, lit("/q/"))
            .otherwise(lit("/r/")),
          col("doc_id").cast("string"))
        Registry.table(s, dir, "documents")
          .select(concat(lit("h"), h).as("host"), agent.as("agent"),
            F.robotsAllowed(robots, agent, path).as("ok"),
            F.robotsCrawlDelay(robots, agent).as("delay"))
          .groupBy("host", "agent")
          .agg(
            sum(when(col("ok"), 1L).otherwise(0L)).as("n_allowed"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("n_blocked"),
            max(col("delay")).as("crawl_delay"))
          .orderBy("host", "agent")
      },
      Some("""
        SELECT 'h' || CAST(h AS VARCHAR) AS host, agent,
               CAST(SUM(ok) AS BIGINT) AS n_allowed,
               CAST(SUM(1 - ok) AS BIGINT) AS n_blocked,
               CAST(MAX(CASE WHEN agent = 'graftbot' THEN h ELSE -1 END) AS BIGINT) AS crawl_delay
        FROM (SELECT doc_id % 7 AS h,
                     CASE WHEN doc_id % 3 = 0 THEN 'graftbot' ELSE 'otherbot' END AS agent,
                     CASE WHEN doc_id % 3 = 0
                          THEN CASE WHEN doc_id % 4 = 1 THEN 0 ELSE 1 END
                          ELSE CASE WHEN doc_id % 4 = 2 THEN 0 ELSE 1 END END AS ok
              FROM documents)
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.stripMargin.trim),
    ),
    // F5: crawler filter suite — broadcast block list (left-anti) +
    // boost list (withColumn bonus), the DomainFilter/PageRankBoostFilter
    // combination (service/crawler/filters/). Block and boost sets are
    // derived relations, broadcast like the reference's filter files.
    Q(
      "f2_filter_suite",
      (s, dir) => {
        val blocked = Registry.table(s, dir, "nation")
          .filter(col("n_nationkey").isin(1, 2))
          .select(col("n_nationkey").as("blocked_key"))
        val cust = Registry.table(s, dir, "customer")
        cust
          .join(broadcast(blocked), col("c_nationkey") === col("blocked_key"), "left_anti")
          .withColumn("score",
            (col("c_acctbal").cast("decimal(18,2)") +
              when(col("c_mktsegment") === "BUILDING", 1000)
                .otherwise(0).cast("decimal(18,2)")).cast("double"))
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("score"))
          .orderBy(col("score").desc, col("c_custkey").asc)
          .limit(100)
      },
      Some("""
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2))
                    + CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1000 ELSE 0 END AS DECIMAL(18,2))
                 AS DOUBLE) AS score
        FROM customer
        WHERE c_nationkey NOT IN (1, 2)
        ORDER BY score DESC, c_custkey ASC
        LIMIT 100
      """.stripMargin.trim),
    ),

    // J2: join + secondary sort by tag — per key, values delivered in
    // tag order (JoinByTextSortByTagMapper composite-key semantics). The
    // Spark shape is an ordered collect: sort structs whose leading
    // fields are the secondary sort key (value fields included, so equal
    // keys cannot produce nondeterminism).
    Q(
      "j5_tag_ordered_collect",
      (s, dir) =>
        Registry.table(s, dir, "lineitem")
          .filter(col("l_orderkey") < 200)
          .groupBy(col("l_orderkey"))
          .agg(
            // comma-joined (not a raw array): the driver's pandas gate
            // cannot sort/hash ndarray cells.
            array_join(transform(
              array_sort(collect_list(struct(
                col("l_shipdate"), col("l_linenumber"), col("l_partkey"),
                col("l_returnflag")))),
              x => x.getField("l_returnflag")), ",").as("flags_in_order"),
            count(lit(1)).as("n"))
          .orderBy(col("l_orderkey")),
      Some("""
        SELECT l_orderkey,
               array_to_string(
                 list(l_returnflag ORDER BY l_shipdate, l_linenumber, l_partkey, l_returnflag),
                 ',') AS flags_in_order,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_orderkey < 200
        GROUP BY l_orderkey
        ORDER BY l_orderkey
      """.stripMargin.trim),
    ),

    // X4: IP address functions — int ↔ dotted-quad round trip with pure
    // bit-op expressions (util/IPAddressUtils semantics), checked by
    // recomputing the integer from the string form.
    Q(
      "x4_ip_functions",
      (s, dir) =>
        Registry.table(s, dir, "supplier")
          .select(col("s_suppkey"),
            ((col("s_suppkey") * 2654435761L) % 4294967296L).as("ip_int"))
          .select(
            col("s_suppkey"), col("ip_int"),
            concat_ws(".",
              shiftright(col("ip_int"), 24).bitwiseAND(lit(255L)),
              shiftright(col("ip_int"), 16).bitwiseAND(lit(255L)),
              shiftright(col("ip_int"), 8).bitwiseAND(lit(255L)),
              col("ip_int").bitwiseAND(lit(255L))).as("ip_str"))
          .withColumn("ip_roundtrip",
            element_at(split(col("ip_str"), "\\."), 1).cast("long") * 16777216 +
              element_at(split(col("ip_str"), "\\."), 2).cast("long") * 65536 +
              element_at(split(col("ip_str"), "\\."), 3).cast("long") * 256 +
              element_at(split(col("ip_str"), "\\."), 4).cast("long"))
          .orderBy(col("s_suppkey")),
      Some("""
        SELECT s_suppkey, ip_int,
               concat_ws('.', (ip_int >> 24) & 255, (ip_int >> 16) & 255,
                              (ip_int >> 8) & 255, ip_int & 255) AS ip_str,
               CAST(string_split(concat_ws('.', (ip_int >> 24) & 255, (ip_int >> 16) & 255,
                              (ip_int >> 8) & 255, ip_int & 255), '.')[1] AS BIGINT) * 16777216
                 + CAST(string_split(concat_ws('.', (ip_int >> 24) & 255, (ip_int >> 16) & 255,
                              (ip_int >> 8) & 255, ip_int & 255), '.')[2] AS BIGINT) * 65536
                 + CAST(string_split(concat_ws('.', (ip_int >> 24) & 255, (ip_int >> 16) & 255,
                              (ip_int >> 8) & 255, ip_int & 255), '.')[3] AS BIGINT) * 256
                 + CAST(string_split(concat_ws('.', (ip_int >> 24) & 255, (ip_int >> 16) & 255,
                              (ip_int >> 8) & 255, ip_int & 255), '.')[4] AS BIGINT) AS ip_roundtrip
        FROM (SELECT s_suppkey, (s_suppkey * 2654435761) % 4294967296 AS ip_int FROM supplier)
        ORDER BY s_suppkey
      """.stripMargin.trim),
    ),

    // X4 at scale: interval-lookup join — probe IPs resolved against
    // [lo, hi] address blocks (the IP→geo/AS shape) WITHOUT the
    // BroadcastNestedLoopJoin a raw BETWEEN join condition produces.
    // RangeJoin explodes each block into 2^24-wide covering buckets and
    // equi-joins on the bucket key + residual BETWEEN; blocks here overlap
    // by half a stride, so some probes legitimately match two blocks and
    // some none — the general interval case, not a disguised equi-join.
    Q(
      "x11_ip_range_lookup",
      (s, dir) => {
        val p = Registry.table(s, dir, "supplier")
          .select(col("s_suppkey"),
            ((col("s_suppkey") * 2654435761L) % 4294967296L).as("ip_int"))
        val r = Registry.table(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"),
            (col("n_nationkey").cast("long") * 134217728L).as("lo"),
            (col("n_nationkey").cast("long") * 134217728L + 201326591L).as("hi"))
        graft.ops.RangeJoin.lookup(p, "ip_int", r, "lo", "hi", bucketBits = 24)
          .select(col("s_suppkey"), col("ip_int"),
            col("n_nationkey").as("range_id"), col("n_name").as("range_label"))
          .orderBy(col("s_suppkey"), col("range_id"))
      },
      Some("""
        SELECT p.s_suppkey, p.ip_int, r.n_nationkey AS range_id, r.n_name AS range_label
        FROM (SELECT s_suppkey, (s_suppkey*2654435761)%4294967296 AS ip_int FROM supplier) p
        JOIN (SELECT n_nationkey, n_name, CAST(n_nationkey AS BIGINT)*134217728 AS lo,
                     CAST(n_nationkey AS BIGINT)*134217728 + 201326591 AS hi FROM nation) r
          ON p.ip_int BETWEEN r.lo AND r.hi
        ORDER BY p.s_suppkey, range_id
      """.stripMargin.trim),
    ),

    // X6: JSON functions — extract a typed property from the events
    // props JSON and aggregate it (the crawldb records are JSON docs;
    // safeGetLong/safeIncrementJSONCounter collapse to get_json_object +
    // aggregation).
    Q(
      "x6_json_extract",
      (s, dir) =>
        Registry.table(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               MIN(k) AS min_k, MAX(k) AS max_k
        FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        GROUP BY event_type
        ORDER BY event_type
      """.stripMargin.trim),
    ),
    // x8: the full charset cascade of the reference's
    // bestEffortDetectCharset (CharsetUtils.java:128-180). Each doc's
    // ASCII text is wrapped into one of nine (headers, bytes) shapes
    // exercising every tier: the HTTP Content-Type charset parameter
    // (with an alias spelling, proving normalization), the <meta
    // http-equiv> charset in the first 2000 bytes, then the byte
    // sniffer's tiers — pure ASCII, BOM hits (UTF-8, UTF-16LE),
    // strict-UTF-8 validation accepting a multi-byte sequence, a bare
    // ≥0xA0 high byte punting to latin-1, and the statistical tier
    // standing in for the reference's ICU/Mozilla detectors: BOM-less
    // UTF-16LE by positional zero bytes, and printable-C1 bytes (curly
    // quotes) classifying windows-1252. The oracle knows which shape
    // each doc_id got, so every verdict is hash-verified per row without
    // DuckDB re-implementing the cascade.
    Q(
      "x8_charset_sniff",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val text = col("text").cast("binary")
        val shape = col("doc_id") % 9
        val headers =
          when(shape === 0, // header tier, alias spelling normalized
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=windows-1252\r\n"))
        val meta = lit(
          """<html><head><meta http-equiv="content-type" content="text/html; charset=utf8"></head>""")
        val payload =
          when(shape === 1, concat(meta.cast("binary"), text)) // meta tier
            .when(shape === 2, text) // pure ASCII
            .when(shape === 3, // UTF-8 BOM
              concat(lit(Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte)), text))
            .when(shape === 4, // UTF-16LE BOM
              concat(lit(Array(0xff.toByte, 0xfe.toByte)), text))
            .when(shape === 5, // valid 2-byte UTF-8 seq (é)
              concat(text, lit(Array(0xc3.toByte, 0xa9.toByte))))
            .when(shape === 6, // bare ≥0xA0 high byte → latin-1
              concat(text, lit(Array(0xe9.toByte))))
            .when(shape === 7, // statistical: BOM-less UTF-16LE
              encode(col("text"), "UTF-16LE"))
            .otherwise( // statistical: cp1252 curly quotes around the text
              concat(lit(Array(0x93.toByte)), text, lit(Array(0x94.toByte))))
        docs
          .select(col("doc_id"),
            graft.functions.GraftFunctions.detectCharset(headers, payload)
              .as("charset"))
          .groupBy("charset")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .orderBy("charset")
      },
      Some("""
        SELECT charset, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        FROM (
          SELECT doc_id,
                 CASE CAST(doc_id % 9 AS INT)
                   WHEN 0 THEN 'WINDOWS-1252'
                   WHEN 1 THEN 'UTF-8'
                   WHEN 2 THEN 'US-ASCII'
                   WHEN 3 THEN 'UTF-8'
                   WHEN 4 THEN 'UTF-16LE'
                   WHEN 5 THEN 'UTF-8'
                   WHEN 6 THEN 'ISO-8859-1'
                   WHEN 7 THEN 'UTF-16LE'
                   ELSE 'WINDOWS-1252' END AS charset
          FROM documents)
        GROUP BY charset
        ORDER BY charset
      """.trim),
    ),
    // x12: the CJK/Cyrillic statistical tier (the ICU/Mozilla role in
    // the reference's cascade, CharsetUtils.java detectCharacterEncoding
    // fallbacks) over REAL legacy-encoded bytes: each doc's fixture text
    // is genuine Japanese/Korean/Chinese/Russian prose encoded through
    // the JVM's own Shift_JIS / EUC-JP / EUC-KR / GB2312 / windows-1251
    // codecs, and the sniffer must recover the encoding from the bytes
    // alone — structural SJIS leads, EUC row occupancy (kana rows vs
    // hangul-region vs pinyin-spread hanzi), Cyrillic letter density.
    // The oracle knows which class each doc_id got, so every verdict is
    // hash-checked without DuckDB running the detector.
    Q(
      "x12_legacy_charsets",
      (s, dir) => {
        val legacyBytes = udf { (cls: Int, docId: Long) =>
          val (text, cs) = cls match {
            case 0 => ("これは にほんごの ぶんしょうです。かなが ならんでいます。", "Shift_JIS")
            case 1 => ("これは にほんごの ぶんしょうです。かなが ならんでいます。", "EUC-JP")
            case 2 => ("한국어 문서 처리 시스템 텍스트 분석 결과", "EUC-KR")
            case 3 => ("中文文本处理系统字符编码检测数据分析程序", "GB2312")
            case _ => ("Русский текст для проверки кодировки символов", "windows-1251")
          }
          ((text + " ") * 3 + s"doc $docId").getBytes(cs)
        }
        Registry.table(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.detectCharset(
              lit(null).cast("string"),
              legacyBytes((col("doc_id") % 5).cast("int"), col("doc_id")))
              .as("charset"))
          .groupBy("charset")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .orderBy("charset")
      },
      Some("""
        SELECT charset, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        FROM (
          SELECT doc_id,
                 CASE CAST(doc_id % 5 AS INT)
                   WHEN 0 THEN 'SHIFT_JIS'
                   WHEN 1 THEN 'EUC-JP'
                   WHEN 2 THEN 'EUC-KR'
                   WHEN 3 THEN 'GB2312'
                   ELSE 'WINDOWS-1251' END AS charset
          FROM documents)
        GROUP BY charset
        ORDER BY charset
      """.trim),
    ),
    // x9: HTML visible-text extraction (the parser's DOM text walk,
    // deterministic tier — ParserMapper/HTMLDomUtils). Each doc's text is
    // escaped into a full HTML page salted with a style block, a script
    // (containing a bare '<' and quotes), a comment, and entity-encoded
    // visible text; htmlToText must strip exactly the invisible parts,
    // decode the entities, and fold whitespace. The oracle never parses
    // HTML: it builds the EXPECTED visible text directly from the
    // documents table, so a stripping/decoding defect is a hash mismatch.
    Q(
      "x9_html_text",
      (s, dir) => {
        val esc = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val html = concat(
          lit("<html><head><title>t</title><style>body { color: red; }</style>" +
            "<script type=\"text/javascript\">if (1 < 2) { alert(\"x&y\"); }" +
            "</script></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- hidden --><p>"), esc,
          lit("</p><p>A&amp;B &lt;tag&gt;&nbsp;end</p></body></html>"))
        Registry.table(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.GraftFunctions.htmlToText(html).as("txt"))
          .select(col("doc_id"),
            length(col("txt")).cast("long").as("text_len"),
            md5(col("txt").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(length(expected) AS BIGINT) AS text_len,
               md5(expected) AS text_md5
        FROM (
          SELECT doc_id,
                 trim(regexp_replace(
                   't Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text ||
                     ' A&B <tag> end',
                   '\s+', ' ', 'g')) AS expected
          FROM documents)
        ORDER BY doc_id
      """.trim),
    ),
    // x10: link extraction from raw markup — the other half of the parser
    // loop (ParseWorker.java:82-88 tag→attr inventory, :697 <base href>
    // rebasing; ParserMapper.java:241-265 canonical href emission). Each
    // doc becomes a full page exercising every spelling the walk handles:
    // both quote styles + unquoted attrs, entity-encoded URLs and anchor
    // text, a <base href> that rebases relative/rooted/protocol-relative
    // and fragment-only refs, an href-less anchor, a src-less script, and
    // a link hidden in a comment and in script text (both must vanish).
    // The oracle never parses HTML: it constructs the expected (tag, url,
    // text) rows directly, so a missed tag, an unresolved relative, or a
    // swallowed entity is a row/hash mismatch. The exploded output IS the
    // link-table shape g1 consumes — raw bytes to link graph end-to-end.
    Q(
      "x10_link_extract",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val id = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><base href=\"http://base"), id,
          lit(".example.org/dir/page.html\">" +
            "<link rel=\"stylesheet\" href='/css/site.css'>" +
            "<script src=app.js></script>" +
            "<script>var s = \"<a href=\\\"http://nope"), id,
          lit(".com/\\\">x</a>\";</script></head><body>" +
            "<!-- <a href=\"http://commented"), id,
          lit(".com/\">no</a> --><h1>Doc "), id,
          lit("</h1><a href=\"http://d"), id,
          lit(".example.com/p?a=1&amp;b=2\">First &amp; second</a>" +
            "<a href='rel/"), id,
          lit(".html'>Relative <b>link</b></a>" +
            "<a name=\"x\">no href</a>" +
            "<img src=/img/"), id,
          lit(".png alt=\"i\">" +
            "<iframe src=\"//cdn.example.net/f"), id,
          lit(".html\"></iframe><area href=\"#frag\"></body></html>"))
        graft.ops.Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"), F.baseHref(col("html")).as("base"),
            explode(F.extractLinks(col("html"))).as("l"))
          .select(col("doc_id"), col("l.tag").as("tag"),
            F.resolveUrl(col("base"), col("l.url")).as("url"),
            col("l.text").as("text"))
          .orderBy("doc_id", "tag", "url")
      },
      Some("""
        SELECT d.doc_id, t.tag,
               replace(t.url_t, '{id}', CAST(d.doc_id AS VARCHAR)) AS url,
               t.txt AS text
        FROM documents d, (VALUES
          ('a',      'http://d{id}.example.com/p?a=1&b=2', 'First & second'),
          ('a',      'http://base{id}.example.org/dir/rel/{id}.html', 'Relative link'),
          ('area',   'http://base{id}.example.org/dir/page.html#frag', ''),
          ('iframe', 'http://cdn.example.net/f{id}.html', ''),
          ('img',    'http://base{id}.example.org/img/{id}.png', ''),
          ('link',   'http://base{id}.example.org/css/site.css', ''),
          ('script', 'http://base{id}.example.org/dir/app.js', '')
        ) t(tag, url_t, txt)
        ORDER BY doc_id, tag, url
      """.trim),
    ),

    // x13: HTTP cache-policy parsing → recrawl TTLs — the freshness
    // input a recrawl scheduler (lg5/a19) actually gets from the wire:
    // Cache-Control directives (RFC 9111) ride the REAL graft-warc
    // round-trip (written into response records, read back through the
    // DSv2 header parser), then directive precedence runs as column
    // expressions: no-store > no-cache > s-maxage > max-age > default,
    // with a crawler-side cap on `private` responses and a [60 s, 7 d]
    // clamp on the recrawl interval. The oracle recomputes policy and
    // TTL from the fixture arithmetic — a wrong header parse, a wrong
    // precedence order, or a wrong clamp each breaks the hash.
    Q(
      "x13_cache_policy",
      (s, dir) => {
        val out = Staging.dir("x13")
        val m = col("doc_id") % 7
        val cacheControl = when(m === 0, lit("max-age=3600, public"))
          .when(m === 1, lit("no-cache"))
          .when(m === 2, lit("s-maxage=600, max-age=60"))
          .when(m === 3, lit("no-store"))
          .when(m === 4, lit("private, max-age=7200"))
          .when(m === 5, lit(""))   // header absent → heuristic default
          .otherwise(lit("max-age=0, must-revalidate"))
        val httpHead = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html"),
          when(m === 5, lit("")).otherwise(
            concat(lit("\r\nCache-Control: "), cacheControl)),
          lit("\r\n\r\n"))
        Registry.table(s, dir, "documents")
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(httpHead.cast("binary"), col("text").cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(out)
        val cc = lower(coalesce(col("http_headers")("cache-control"), lit("")))
        val maxAge = regexp_extract(cc, "(^|[,\\s])max-age=(\\d+)", 2)
        val sMaxAge = regexp_extract(cc, "(^|[,\\s])s-maxage=(\\d+)", 2)
        val policy = when(cc.contains("no-store"), "no-store")
          .when(cc.contains("no-cache"), "no-cache")
          .when(sMaxAge =!= "", "s-maxage")
          .when(maxAge =!= "", "max-age")
          .otherwise("default")
        val rawTtl = when(policy === "no-store", lit(-1L))
          .when(policy === "no-cache", lit(0L))
          .when(policy === "s-maxage", sMaxAge.cast("long"))
          .when(policy === "max-age",
            when(cc.contains("private"),
              least(maxAge.cast("long"), lit(300L)))
              .otherwise(maxAge.cast("long")))
          .otherwise(lit(86400L))
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            policy.as("policy"),
            rawTtl.as("ttl_s"),
            when(rawTtl < 0, lit(-1L))
              .otherwise(least(greatest(rawTtl, lit(60L)), lit(604800L)))
              .as("next_fetch_s"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CASE doc_id % 7
                 WHEN 3 THEN 'no-store'
                 WHEN 1 THEN 'no-cache'
                 WHEN 2 THEN 's-maxage'
                 WHEN 5 THEN 'default'
                 ELSE 'max-age' END AS policy,
               CASE doc_id % 7
                 WHEN 0 THEN 3600 WHEN 1 THEN 0 WHEN 2 THEN 600
                 WHEN 3 THEN -1 WHEN 4 THEN 300 WHEN 5 THEN 86400
                 ELSE 0 END::BIGINT AS ttl_s,
               CASE doc_id % 7
                 WHEN 0 THEN 3600 WHEN 1 THEN 60 WHEN 2 THEN 600
                 WHEN 3 THEN -1 WHEN 4 THEN 300 WHEN 5 THEN 86400
                 ELSE 60 END::BIGINT AS next_fetch_s
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),

    // F9: URL-template mining / crawler-trap detection — collapse every
    // URL to its structural skeleton (digit runs → N) and profile each
    // template's URL mass. Calendar pages, session-id paths and infinite
    // pagination show up as templates whose DISTINCT-URL share of the
    // corpus explodes; '/about'-style singletons don't. The trap flag is
    // RELATIVE (share > 5% of all distinct URLs) — the t15/g13 lesson:
    // an absolute count threshold flips meaning as the corpus grows,
    // a share is scale-invariant. Shape: one partial-agg'd groupBy onto
    // the template-cardinality output plus a broadcast one-row total;
    // nothing here is corpus-sized after the first fold. Synthesized
    // 4-shape URL substrate from orders (the u1 discipline).
    Q(
      "f9_url_templates",
      (s, dir) => {
        val o = Registry.table(s, dir, "orders")
        val m = col("o_orderkey") % 4
        val url = when(m === 0, concat(lit("/cat-"), (col("o_custkey") % 50).cast("string"),
            lit("/item/"), col("o_orderkey").cast("string")))
          .when(m === 1, concat(lit("/search?q=term"), (col("o_orderkey") % 20).cast("string")))
          .when(m === 2, concat(lit("/calendar/2024/"), (col("o_orderkey") % 12 + 1).cast("string"),
            lit("/"), (col("o_orderkey") % 28 + 1).cast("string"),
            lit("?session="), col("o_orderkey").cast("string")))
          .otherwise(lit("/about"))
        val perTemplate = o.select(url.as("url"))
          .select(col("url"), regexp_replace(col("url"), "[0-9]+", "N").as("template"))
          .groupBy("template")
          .agg(count(lit(1)).as("n_urls"),
            count_distinct(col("url")).as("n_distinct_urls"))
        val total = perTemplate.agg(
          sum(col("n_distinct_urls")).as("total_distinct"))
        perTemplate.crossJoin(broadcast(total))
          .select(col("template"), col("n_urls"), col("n_distinct_urls"),
            expr("n_distinct_urls * 1000000 div total_distinct").as("share_ppm"),
            (col("n_distinct_urls") * 20 > col("total_distinct")).as("is_trap"))
          .orderBy("template")
      },
      Some("""
        WITH u AS (
          SELECT CASE o_orderkey % 4
            WHEN 0 THEN '/cat-' || (o_custkey % 50) || '/item/' || o_orderkey
            WHEN 1 THEN '/search?q=term' || (o_orderkey % 20)
            WHEN 2 THEN '/calendar/2024/' || (o_orderkey % 12 + 1) || '/'
                        || (o_orderkey % 28 + 1) || '?session=' || o_orderkey
            ELSE '/about' END AS url
          FROM orders),
        t AS (
          SELECT regexp_replace(url, '[0-9]+', 'N', 'g') AS template,
                 COUNT(*) AS n_urls,
                 COUNT(DISTINCT url) AS n_distinct_urls
          FROM u GROUP BY 1),
        tot AS (SELECT SUM(n_distinct_urls) AS total_distinct FROM t)
        SELECT template, n_urls, n_distinct_urls,
               CAST(n_distinct_urls * 1000000 // total_distinct AS BIGINT) AS share_ppm,
               n_distinct_urls * 20 > total_distinct AS is_trap
        FROM t CROSS JOIN tot
        ORDER BY template
      """.trim),
    ),

    // X15: user-agent parsing + bot-traffic rollup — the access-log
    // analytics every crawl/serving operator runs: extract the agent
    // FAMILY and MAJOR VERSION with one regex, classify bots, roll up
    // requests and distinct users per (family, major). The regex is
    // deliberately in the common subset (literal alternation + digit
    // class + one capture) so Java and RE2 semantics agree. One
    // partial-agg'd fold onto agent-family cardinality — model-sized
    // output at any scale. Substrate synthesizes four realistic UA
    // shapes from the event stream (the u1 discipline).
    Q(
      "x15_useragent",
      (s, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        val ua = when(col("event_id") % 4 === 0,
            concat(lit("Mozilla/5.0 (X11; Linux x86_64) Chrome/"),
              (lit(90) + k % 30).cast("string"), lit(".0.0.1 Safari/537.36")))
          .when(col("event_id") % 4 === 1,
            concat(lit("Mozilla/5.0 (Macintosh) Version/16."),
              (k % 10).cast("string"), lit(" Safari/605.1.15")))
          .when(col("event_id") % 4 === 2,
            concat(lit("curl/7."), (k % 40).cast("string"), lit(".0")))
          .otherwise(lit("Googlebot/2.1 (+http://www.google.com/bot.html)"))
        Registry.table(s, dir, "events")
          .select(col("user_id"), ua.as("ua"))
          .select(col("user_id"),
            regexp_extract(col("ua"),
              "(Chrome|Version|curl|Googlebot)/([0-9]+)", 1).as("family"),
            regexp_extract(col("ua"),
              "(Chrome|Version|curl|Googlebot)/([0-9]+)", 2).cast("long")
              .as("major"))
          .groupBy("family", "major")
          .agg(count(lit(1)).as("n_requests"),
            count_distinct(col("user_id")).as("n_users"))
          .withColumn("is_bot", col("family").isin("curl", "Googlebot"))
          .orderBy("family", "major")
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 CASE event_id % 4
                   WHEN 0 THEN 'Mozilla/5.0 (X11; Linux x86_64) Chrome/'
                     || (90 + CAST(json_extract(props, '$.k') AS BIGINT) % 30)
                     || '.0.0.1 Safari/537.36'
                   WHEN 1 THEN 'Mozilla/5.0 (Macintosh) Version/16.'
                     || (CAST(json_extract(props, '$.k') AS BIGINT) % 10)
                     || ' Safari/605.1.15'
                   WHEN 2 THEN 'curl/7.'
                     || (CAST(json_extract(props, '$.k') AS BIGINT) % 40) || '.0'
                   ELSE 'Googlebot/2.1 (+http://www.google.com/bot.html)'
                 END AS ua
          FROM events)
        SELECT regexp_extract(ua, '(Chrome|Version|curl|Googlebot)/([0-9]+)', 1)
                 AS family,
               CAST(regexp_extract(ua, '(Chrome|Version|curl|Googlebot)/([0-9]+)', 2)
                 AS BIGINT) AS major,
               COUNT(*) AS n_requests,
               COUNT(DISTINCT user_id) AS n_users,
               regexp_extract(ua, '(Chrome|Version|curl|Googlebot)/([0-9]+)', 1)
                 IN ('curl', 'Googlebot') AS is_bot
        FROM u
        GROUP BY 1, 2
        ORDER BY family, major
      """.trim),
    ),

    // X16: claimed-vs-sniffed content-type audit. The crawl stores the
    // type the SERVER declared (the reference carries it verbatim from
    // the fetch, StreamingArcFileReader.java:916); a corpus builder must
    // not trust it — a mislabeled blob routed to the wrong decoder is a
    // crash or an exploit. Substrate packs REAL container bytes (the six
    // m5/m6 packers) under an independently-derived claimed type so a
    // deterministic subset genuinely disagrees; the sniffer is six
    // fixed-offset magic probes as pure codegen'd projections
    // (ops.Multimodal.sniffMime — no UDF, no batch seam), and the audit
    // folds onto (claimed, sniffed) cardinality — model-sized output.
    // The oracle re-derives both sides analytically: a wrong packer
    // byte, wrong probe offset, or wrong precedence breaks the hash.
    Q(
      "x16_mime_sniff",
      (s, dir) => {
        import graft.ops.Multimodal
        val docs = Registry.table(s, dir, "documents")
        val fmt = col("doc_id") % 6
        val media = when(fmt < 4,
            Multimodal.packImage(fmt,
              (col("doc_id") % 1897 + 16).cast("int"),
              (col("doc_id") % 1061 + 9).cast("int")))
          .when(fmt === 4, Multimodal.packWav(lit(1), lit(8000), lit(8),
            col("n_chars").cast("long")))
          .otherwise(Multimodal.packMp4(lit(600), col("n_chars").cast("long")))
        val mimeOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = i =>
          when(i === 0, "image/png").when(i === 1, "image/jpeg")
            .when(i === 2, "image/gif").when(i === 3, "image/webp")
            .when(i === 4, "audio/wav").when(i === 5, "video/mp4")
            .otherwise(lit("text/html"))
        docs
          .select(col("doc_id"),
            mimeOf(col("doc_id") % 7).as("claimed"),
            Multimodal.sniffMime(media).as("sniffed"))
          .groupBy("claimed", "sniffed")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
          .withColumn("mismatch", col("claimed") =!= col("sniffed"))
          .orderBy("claimed", "sniffed")
      },
      Some("""
        WITH typed AS (
          SELECT doc_id,
                 CASE doc_id % 7
                   WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                   WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/webp'
                   WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'video/mp4'
                   ELSE 'text/html' END AS claimed,
                 CASE doc_id % 6
                   WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                   WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/webp'
                   WHEN 4 THEN 'audio/wav' ELSE 'video/mp4' END AS sniffed
          FROM documents)
        SELECT claimed, sniffed, COUNT(*) AS n, MIN(doc_id) AS first_id,
               claimed <> sniffed AS mismatch
        FROM typed GROUP BY 1, 2 ORDER BY 1, 2
      """.trim),
    ),
    // X18: HTTP chunked transfer-decoding (RFC 9112 §7.1) — a real
    // crawl corpus stores many bodies chunked, and nothing downstream
    // (text extraction, dedupe, media decode) runs until the framing
    // is removed. Per-doc fixed chunk size so the data-chunk count is
    // SQL-replayable; chunk extensions on odd docs and a trailer
    // section on every third doc exercise the skip paths; untrusted
    // sizes are budget-capped and malformation yields the -1 row. The
    // oracle recomputes payload hash/length analytically and the chunk
    // count arithmetically — a framing bug (lost chunk, CRLF drift,
    // trailer bleed-through) breaks the hash. Per-row, shuffle-free.
    Q(
      "x18_chunked_decode",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val size = (col("doc_id") % 37 + 5).cast("int")
        val pack = udf((text: String, sz: Int, id: Long) =>
          graft.core.Http.enchunk(text.getBytes("UTF-8"), sz,
            withExt = id % 2 == 1,
            trailer = if (id % 3 == 0) Some("X-Graft-Trailer: 1") else None))
        val dec = udf((b: Array[Byte]) => {
          val r = graft.core.Http.dechunkCounted(b)
          if (r == null) (null: String, -1L, -1L)
          else (new String(r._1, "UTF-8"), r._1.length.toLong, r._2.toLong)
        })
        docs
          .select(col("doc_id"),
            dec(pack(col("text"), size, col("doc_id"))).as("d"))
          .select(col("doc_id"),
            md5(col("d._1")).as("body_md5"),
            col("d._2").as("body_len"),
            col("d._3").as("n_chunks"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               md5(text) AS body_md5,
               CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
               CAST((octet_length(encode(text)) + (doc_id % 37 + 5) - 1)
                 // (doc_id % 37 + 5) AS BIGINT) AS n_chunks
        FROM documents
        ORDER BY doc_id
      """.trim),
    ),

    // x19: SET-COOKIE census — the privacy/security attribute parse
    // (RFC 6265 §5.2 user-agent algorithm) behind every cookie audit a
    // crawl corpus gets run through: Secure/HttpOnly adoption, SameSite
    // enforcement values, Domain scoping (leading dot stripped, case
    // folded), Max-Age (negative = delete). The fixture header cycles
    // attribute presence, attribute-name case, a dotted UPPERCASE
    // Domain, a non-enforcement SameSite token (ignored per spec), and
    // negative Max-Age; the oracle recomputes every field analytically.
    Q(
      "x19_setcookie_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val header = concat(
          lit("sid"), k, lit("=v"),
          repeatstr(lit("x"), (k % 9).cast("int")), col("doc_id"),
          lit("; Path=/p"), k % 4,
          when(k % 3 === 0,
            concat(lit("; Domain=.Ex"), k % 7, lit(".COM"))).otherwise(lit("")),
          when(k % 5 < 2,
            concat(lit("; Max-Age="), k * 37 - 100)).otherwise(lit("")),
          when(k % 2 === 0, lit("; secure")).otherwise(lit("")),
          when(k % 3 === 1, lit("; HttpOnly")).otherwise(lit("")),
          lit("; SameSite="),
          when(k % 4 === 0, lit("Strict")).when(k % 4 === 1, lit("lax"))
            .when(k % 4 === 2, lit("NONE")).otherwise(lit("weird")))
        val parse = udf((h: String) => {
          val c = graft.core.Http.parseSetCookie(h)
          if (c == null) (null: String, -1L, null: String, null: String,
            -1L, 0L, 0L, null: String)
          else (c.name, c.valueLen.toLong, c.domain, c.path, c.maxAge,
            if (c.secure) 1L else 0L, if (c.httpOnly) 1L else 0L, c.sameSite)
        })
        docs
          .select(col("doc_id"), parse(header).as("c"))
          .select(col("doc_id"),
            col("c._1").as("name"), col("c._2").as("value_len"),
            col("c._3").as("domain"), col("c._4").as("path"),
            col("c._5").as("max_age"), col("c._6").as("secure"),
            col("c._7").as("http_only"), col("c._8").as("same_site"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               'sid' || CAST(k AS VARCHAR) AS name,
               (1 + (k % 9) + strlen(CAST(doc_id AS VARCHAR)))::BIGINT
                 AS value_len,
               CASE WHEN k % 3 = 0
                    THEN 'ex' || CAST(k % 7 AS VARCHAR) || '.com'
                    ELSE NULL END AS domain,
               '/p' || CAST(k % 4 AS VARCHAR) AS path,
               (CASE WHEN k % 5 < 2 THEN k * 37 - 100 ELSE -1 END)::BIGINT
                 AS max_age,
               (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS secure,
               (CASE WHEN k % 3 = 1 THEN 1 ELSE 0 END)::BIGINT AS http_only,
               CASE k % 4 WHEN 0 THEN 'Strict' WHEN 1 THEN 'Lax'
                          WHEN 2 THEN 'None' ELSE NULL END AS same_site
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x20: HTML META-DIRECTIVE census — the PER-PAGE policy signals
    // next to f8's robots.txt host gate: meta-robots noindex/nofollow
    // (what the crawler may keep/expand), rel=canonical (the dedupe
    // hint search pipelines honor before any content hash), hreflang
    // alternates, OpenGraph title/image, declared charset. The fixture
    // cycles attribute order, quote styles (double/single/unquoted),
    // token case, and plants a rel=canonical DECOY after </head> that
    // must not count (directives are head material). Oracle recomputes
    // every field analytically.
    Q(
      "x20_meta_directives",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val robotsContent = when(k % 4 === 0, "index, follow")
          .when(k % 4 === 1, "NOINDEX")
          .when(k % 4 === 2, "noindex,nofollow")
          .otherwise("nofollow")
        val metaRobots = when(k % 2 === 0,
            concat(lit("<meta name=\"robots\" content=\""), robotsContent,
              lit("\">")))
          .otherwise(concat(lit("<meta content='"), robotsContent,
            lit("' name=robots>")))
        val canonical = when(k % 3 =!= 1,
          when(k % 2 === 0,
            concat(lit("<link rel=canonical href=\"https://ex"), k % 7,
              lit(".com/c/"), col("doc_id"), lit("\">")))
            .otherwise(concat(lit("<link href=\"https://ex"), k % 7,
              lit(".com/c/"), col("doc_id"), lit("\" rel=\"canonical\"/>"))))
          .otherwise(lit(""))
        val hreflangs = concat(
          when(k % 3 >= 1,
            lit("<link rel=\"alternate\" hreflang=\"EN\" href=\"https://ex.com/en\">"))
            .otherwise(lit("")),
          when(k % 3 >= 2,
            lit("<link rel='alternate' hreflang='de' href='https://ex.com/de'>"))
            .otherwise(lit("")))
        val og = concat(
          lit("<meta property=\"og:title\" content=\"doc "),
          col("doc_id"), lit("\">"),
          when(k % 5 < 3,
            concat(lit("<meta property='og:image' content='https://img/"),
              col("doc_id"), lit(".jpg'>"))).otherwise(lit("")))
        val charsetTag = when(k % 2 === 0, lit("<meta charset=UTF-8>"))
          .otherwise(lit("<meta charset=\"iso-8859-1\">"))
        val html = concat(
          lit("<html><head>"), charsetTag, metaRobots, canonical, hreflangs,
          og,
          lit("</head><body><link rel=\"canonical\" href=\"https://evil/\">" +
            "<p>body</p></body></html>"))
        val parse = udf((h: String) => {
          val d = graft.core.HtmlMeta.parse(h)
          (if (d.noindex) 1L else 0L, if (d.nofollow) 1L else 0L,
            d.canonical, d.hreflangs.length.toLong,
            if (d.hreflangs.isEmpty) null else d.hreflangs.mkString(","),
            d.ogTitle, if (d.ogImage != null) 1L else 0L, d.charset)
        })
        docs
          .select(col("doc_id"), parse(html).as("d"))
          .select(col("doc_id"),
            col("d._1").as("noindex"), col("d._2").as("nofollow"),
            col("d._3").as("canonical"), col("d._4").as("n_hreflang"),
            col("d._5").as("hreflangs"), col("d._6").as("og_title"),
            col("d._7").as("has_og_image"), col("d._8").as("charset"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 4 IN (1, 2) THEN 1 ELSE 0 END)::BIGINT AS noindex,
               (CASE WHEN k % 4 IN (2, 3) THEN 1 ELSE 0 END)::BIGINT AS nofollow,
               CASE WHEN k % 3 <> 1
                    THEN 'https://ex' || CAST(k % 7 AS VARCHAR) || '.com/c/'
                      || CAST(doc_id AS VARCHAR)
                    ELSE NULL END AS canonical,
               (k % 3)::BIGINT AS n_hreflang,
               CASE k % 3 WHEN 1 THEN 'en' WHEN 2 THEN 'en,de'
                          ELSE NULL END AS hreflangs,
               'doc ' || CAST(doc_id AS VARCHAR) AS og_title,
               (CASE WHEN k % 5 < 3 THEN 1 ELSE 0 END)::BIGINT AS has_og_image,
               CASE WHEN k % 2 = 0 THEN 'utf-8' ELSE 'iso-8859-1' END AS charset
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x21: META-REFRESH census — the client-side redirect a crawler
    // must follow (and the cloaking/doorway signal a quality pipeline
    // flags): the WHATWG shared declarative refresh steps over the
    // content grammar's real spellings — bare delay, `;url=`,
    // `,URL='...'` with quotes and case variation, and pages with no
    // refresh at all. Oracle recomputes delay/target analytically.
    Q(
      "x21_meta_refresh",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val target = concat(lit("https://r"), k % 7, lit(".ex/"), col("doc_id"))
        val refresh = when(k % 4 === 0,
            concat(lit("<meta http-equiv=refresh content=\""), k % 30, lit("\">")))
          .when(k % 4 === 1,
            concat(lit("<meta http-equiv=\"refresh\" content=\""), k % 30,
              lit("; url="), target, lit("\">")))
          .when(k % 4 === 2,
            concat(lit("<meta content=\""), k % 30, lit(",URL='"), target,
              lit("'\" http-equiv=\"Refresh\">")))
          .otherwise(lit(""))
        val html = concat(lit("<html><head><meta charset=utf-8>"), refresh,
          lit("</head><body><p>x</p></body></html>"))
        val parse = udf((h: String) => {
          val d = graft.core.HtmlMeta.parse(h)
          (d.refreshDelay, d.refreshUrl)
        })
        docs
          .select(col("doc_id"), parse(html).as("d"))
          .select(col("doc_id"),
            col("d._1").as("refresh_delay"), col("d._2").as("refresh_url"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 4 = 3 THEN -1 ELSE k % 30 END)::BIGINT
                 AS refresh_delay,
               CASE WHEN k % 4 IN (1, 2)
                    THEN 'https://r' || CAST(k % 7 AS VARCHAR) || '.ex/'
                      || CAST(doc_id AS VARCHAR)
                    ELSE NULL END AS refresh_url
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x22: ROBOTS SITEMAP DISCOVERY — the `Sitemap:` directives f8's
    // allow/deny gate ignores: RFC 9309 §2.3 "other records" — valid
    // ANYWHERE in the file (before or inside agent sections),
    // case-insensitive key, comments stripped — the tier every crawl
    // frontier seeds from before fetching a single page. The fixture
    // plants directives at both positions with case and comment
    // variation inside a realistic agent-section file; the oracle
    // recomputes the ordered list analytically.
    Q(
      "x22_robots_sitemaps",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val sm0 = concat(lit("https://s"), k % 7, lit(".ex/sm0-"),
          col("doc_id"), lit(".xml"))
        val sm1 = concat(lit("https://s"), k % 7, lit(".ex/sm1-"),
          col("doc_id"), lit(".xml"))
        val robots = concat(
          when(k % 3 >= 1, concat(lit("Sitemap: "), sm0, lit("\n")))
            .otherwise(lit("")),
          lit("User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"),
          when(k % 3 === 2,
            concat(lit("SITEMAP:\t"), sm1, lit(" # weekly\n")))
            .otherwise(lit("")),
          lit("User-agent: badbot\nDisallow: /\n"))
        val parse = udf((txt: String) => {
          val sms = graft.core.Robots.sitemaps(txt)
          (sms.length.toLong, if (sms.isEmpty) null else sms.mkString(","))
        })
        docs
          .select(col("doc_id"), parse(robots).as("d"))
          .select(col("doc_id"),
            col("d._1").as("n_sitemaps"), col("d._2").as("sitemaps"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        p AS (
          SELECT doc_id, k,
                 'https://s' || CAST(k % 7 AS VARCHAR) || '.ex/sm0-'
                   || CAST(doc_id AS VARCHAR) || '.xml' AS sm0,
                 'https://s' || CAST(k % 7 AS VARCHAR) || '.ex/sm1-'
                   || CAST(doc_id AS VARCHAR) || '.xml' AS sm1
          FROM base)
        SELECT doc_id,
               (CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END)::BIGINT
                 AS n_sitemaps,
               CASE k % 3 WHEN 0 THEN NULL WHEN 1 THEN sm0
                          ELSE sm0 || ',' || sm1 END AS sitemaps
        FROM p
        ORDER BY doc_id
      """.trim),
    ),

    // x23: BROTLI DECODE — `Content-Encoding: br` is the second most
    // common encoding on the 2026 web; core/Brotli.scala is a clean-room
    // RFC 7932 decoder (prefix codes, block types, context modeling,
    // distance ring, static dictionary + transforms), refereed against
    // libbrotli-encoded goldens at q1/5/9/11 in BrotliSpec. The gated
    // fixture is an ASSEMBLED stream (the VP8 golden pattern,
    // libbrotlidec-pinned in BrotliFixtureSpec): an uncompressed
    // meta-block prefix (k%3==0), a complex literal code emitted through
    // the accumulating repeat-16 chain, 1- and 2-symbol simple codes, an
    // explicit-distance back-reference repeating the base string, and a
    // final command whose copy part MLEN-expires (k%4==0) — so the
    // decoded text is analytic and the DuckDB oracle replays it exactly.
    Q(
      "x23_brotli_decode",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val pack = udf((id: Long, lang: String) =>
          graft.core.BrotliFixture.encode(id, lang))
        val dec = udf((b: Array[Byte]) => {
          val d = graft.core.Brotli.decode(b)
          if (d == null) null else new String(d, "UTF-8")
        })
        docs
          .select(col("doc_id"),
            dec(pack(col("doc_id"), col("lang"))).as("text"))
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id,
                 CASE WHEN k % 3 = 0 THEN 'RAW:' || doc_id || ';' ELSE '' END
                   || repeat('brotli doc ' || doc_id || ' in ' || lang || ' ',
                             CAST(k % 6 + 2 AS INTEGER))
                   || CASE WHEN k % 4 = 0 THEN ' END' ELSE '' END AS text
          FROM base)
        SELECT doc_id,
               strlen(text)::BIGINT AS n_chars,
               md5(text) AS text_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // x24: SVG CENSUS — image/svg+xml is a top-10 image mime and pure
    // text, so the census is entirely declarative: the fixture document
    // is a concat expression, the extraction is regexp built-ins
    // (whole-stage codegen, no UDF anywhere). Fields: declared
    // width/height (px suffix tolerated), viewBox geometry, element
    // count (open tags only — the planted comment must not count),
    // <script> presence and on*= event handlers (the two SVG-XSS
    // signals a sanitizing pipeline gates on), and external-resource
    // hrefs (the tracking/exfil signal). Oracle replays every field
    // analytically from the seed.
    Q(
      "x24_svg_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val w = k % 300 + 10
        val h = k % 200 + 10
        val nRects = (k % 9 + 1).cast("int")
        val svg = concat(
          lit("<svg xmlns=\"http://www.w3.org/2000/svg\" width=\""), w,
          when(k % 2 === 0, "px").otherwise(""),
          lit("\" height=\""), h,
          lit("\" viewBox=\"0 0 "), w * 2, lit(" "), h * 2, lit("\">"),
          lit("<title>doc "), col("doc_id"), lit("</title>"),
          lit("<!-- generated <not-an-element> -->"),
          lit("<rect x=\"0\" y=\"0\""),
          when(k % 5 === 0, " onclick=\"track()\"").otherwise(""),
          lit("/>"),
          repeatstr(lit("<rect/>"), nRects - 1),
          when(k % 7 === 0, "<script>alert(1)</script>").otherwise(""),
          when(k % 4 === 0, "<image href=\"http://cdn.example/img.png\"/>")
            .otherwise(""),
          lit("</svg>"))
        docs.select(col("doc_id"),
            // comments vanish BEFORE any counting (x9 discipline) — the
            // fixture plants <not-an-element> inside one to prove it
            regexp_replace(svg, "(?s)<!--.*?-->", " ").as("svg"))
          .select(
            col("doc_id"),
            regexp_extract(col("svg"), "<svg[^>]*\\bwidth=\"([0-9]+)", 1)
              .cast("long").as("width"),
            regexp_extract(col("svg"), "<svg[^>]*\\bheight=\"([0-9]+)", 1)
              .cast("long").as("height"),
            regexp_extract(col("svg"),
              "viewBox=\"0 0 ([0-9]+) ([0-9]+)\"", 1)
              .cast("long").as("vb_w"),
            regexp_extract(col("svg"),
              "viewBox=\"0 0 ([0-9]+) ([0-9]+)\"", 2)
              .cast("long").as("vb_h"),
            regexp_count(col("svg"), lit("<[A-Za-z]")).cast("long")
              .as("n_elements"),
            (regexp_count(col("svg"), lit("(?i)<script")) > 0)
              .cast("long").as("has_script"),
            (regexp_count(col("svg"), lit("(?i)\\son[a-z]+\\s*=")) > 0)
              .cast("long").as("has_handler"),
            (regexp_count(col("svg"), lit("(?i)\\bhref=\"https?://")) > 0)
              .cast("long").as("has_external_ref"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (k % 300 + 10)::BIGINT AS width,
               (k % 200 + 10)::BIGINT AS height,
               ((k % 300 + 10) * 2)::BIGINT AS vb_w,
               ((k % 200 + 10) * 2)::BIGINT AS vb_h,
               (2 + k % 9 + 1
                  + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS n_elements,
               (CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_script,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_handler,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS has_external_ref
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x25: SECURITY-HEADER CENSUS — the x19/x20 sibling for the three
    // headers every web-security audit rolls up: HSTS (max-age +
    // includeSubDomains, RFC 6797), CSP (directive count + the two
    // unsafe tokens sanitizers gate on), and X-Content-Type-Options
    // nosniff. Declarative regexp built-ins over the response header
    // block — zero UDFs; the oracle replays every field.
    Q(
      "x25_security_headers",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val hsts = when(k % 2 === 0, concat(
          lit("Strict-Transport-Security: max-age="), k * 1000 + 300,
          when(k % 4 === 0, "; includeSubDomains").otherwise(""),
          lit("\r\n"))).otherwise("")
        val csp = when(k % 3 =!= 2, concat(
          lit("Content-Security-Policy: default-src 'self'; script-src 'self'"),
          when(k % 5 === 0, " 'unsafe-inline'").otherwise(""),
          when(k % 7 === 0, " 'unsafe-eval'").otherwise(""),
          lit(" https://cdn"), k % 9, lit(".example"),
          when(k % 3 === 0, "; img-src *").otherwise(""),
          lit("\r\n"))).otherwise("")
        val xcto = when(k % 6 < 3, lit("X-Content-Type-Options: nosniff\r\n"))
          .otherwise("")
        val headers = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
          hsts, csp, xcto, lit("\r\n"))
        docs.select(col("doc_id"), headers.as("h"))
          .select(
            col("doc_id"),
            (regexp_count(col("h"),
              lit("(?im)^strict-transport-security:")) > 0)
              .cast("long").as("has_hsts"),
            coalesce(expr(
              "try_cast(regexp_extract(h, '(?i)max-age=(\\\\d+)', 1) AS BIGINT)"),
              lit(-1L)).as("hsts_max_age"),
            (regexp_count(col("h"), lit("(?i)includeSubDomains")) > 0)
              .cast("long").as("hsts_include_sub"),
            (regexp_count(col("h"),
              lit("(?im)^content-security-policy:")) > 0)
              .cast("long").as("has_csp"),
            when(regexp_extract(col("h"),
                "(?im)^content-security-policy:([^\\r\\n]*)", 1) =!= "",
              size(split(regexp_extract(col("h"),
                "(?im)^content-security-policy:([^\\r\\n]*)", 1), ";")))
              .otherwise(0).cast("long").as("n_csp_directives"),
            (regexp_count(col("h"), lit("'unsafe-inline'")) > 0)
              .cast("long").as("csp_unsafe_inline"),
            (regexp_count(col("h"), lit("'unsafe-eval'")) > 0)
              .cast("long").as("csp_unsafe_eval"),
            (regexp_count(col("h"), lit("(?im)^x-content-type-options:\\s*nosniff"))
              > 0).cast("long").as("has_nosniff"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_hsts,
               (CASE WHEN k % 2 = 0 THEN k * 1000 + 300 ELSE -1 END)::BIGINT
                 AS hsts_max_age,
               (CASE WHEN k % 2 = 0 AND k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS hsts_include_sub,
               (CASE WHEN k % 3 <> 2 THEN 1 ELSE 0 END)::BIGINT AS has_csp,
               (CASE WHEN k % 3 = 2 THEN 0
                     WHEN k % 3 = 0 THEN 3 ELSE 2 END)::BIGINT
                 AS n_csp_directives,
               (CASE WHEN k % 3 <> 2 AND k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS csp_unsafe_inline,
               (CASE WHEN k % 3 <> 2 AND k % 7 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS csp_unsafe_eval,
               (CASE WHEN k % 6 < 3 THEN 1 ELSE 0 END)::BIGINT AS has_nosniff
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x26: SITEMAP XML PARSE — completes the x22 chain (robots.txt
    // names the sitemaps; this parses them): urlset vs sitemapindex
    // dispatch, <loc> extraction with entity decode (&amp; is legal in
    // URLs and MUST decode), optional lastmod/priority census, and the
    // protocol's 50k-entry budget via slice. Declarative built-ins
    // end-to-end (regexp_extract_all + transform in codegen, zero
    // UDFs); the oracle replays counts, the first loc, and the md5 of
    // the joined loc list.
    Q(
      "x26_sitemap_parse",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val locs = sitemapLocs(col("xml"))
        docs.select(col("doc_id"), sitemapXml(col("doc_id")).as("xml"))
          .select(
            col("doc_id"),
            when(col("xml").contains("<sitemapindex>"), "sitemapindex")
              .otherwise("urlset").as("kind"),
            size(locs).cast("long").as("n_entries"),
            regexp_count(col("xml"), lit("<lastmod>")).cast("long")
              .as("n_lastmod"),
            regexp_count(col("xml"), lit("<priority>")).cast("long")
              .as("n_priority"),
            element_at(locs, 1).as("first_loc"),
            md5(array_join(locs, ",").cast("binary")).as("locs_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k, k % 4 = 0 AS idx,
                 CASE WHEN k % 4 = 0 THEN
                   list_transform(range(0, k % 3 + 1), i ->
                     'https://s' || (k % 5) || '.example/sm' || i || '-'
                       || doc_id || '.xml')
                 ELSE
                   list_transform(range(0, k % 7 + 1), i ->
                     'https://s' || (k % 5) || '.example/p' || i || '-'
                       || doc_id || '?a=1&b=' || i)
                 END AS locs
          FROM base)
        SELECT doc_id,
               CASE WHEN idx THEN 'sitemapindex' ELSE 'urlset' END AS kind,
               len(locs)::BIGINT AS n_entries,
               (CASE WHEN idx THEN 0
                     ELSE (k % 7 + 2) // 2 END)::BIGINT AS n_lastmod,
               (CASE WHEN idx THEN 0
                     ELSE (k % 7 + 4) // 4 END)::BIGINT AS n_priority,
               locs[1] AS first_loc,
               md5(array_to_string(locs, ',')) AS locs_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // x30: RESOURCE-HINT / FAVICON-LINK census — completes x20's
    // head-policy walk with the <link> relations a crawler and a CDN
    // planner both read: rel=icon / apple-touch-icon (the favicon
    // fetch every crawler schedules), preload (+as= destination),
    // prefetch, dns-prefetch, preconnect, and the crossorigin
    // attribute census. The fixture cycles quote styles and plants a
    // rel=icon DECOY after </head> that must not count (link hints are
    // head material — the x20 decoy discipline). Declarative regexps
    // over the head slice only; the oracle recomputes every field
    // analytically.
    Q(
      "x30_resource_hints",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        // three real-world spellings: quoted, unquoted, and the legacy
        // multi-token rel="shortcut icon" (the ORIGINAL favicon form —
        // 'icon' must match as a rel TOKEN, not a substring, so
        // apple-touch-icon never counts)
        val icon = when(k % 3 =!= 2,
          when(k % 4 === 0,
            concat(lit("<link rel=\"icon\" href=\"/fav"), k % 4,
              lit(".png\" sizes=\"32x32\">")))
            .when(k % 4 === 2,
              concat(lit("<link rel=\"shortcut icon\" href=\"/fav"), k % 4,
                lit(".png\">")))
            .otherwise(concat(lit("<link rel=icon href=/fav"), k % 4,
              lit(".png>")))).otherwise("")
        val touch = when(k % 7 === 0,
          concat(lit("<link rel=\"apple-touch-icon\" href=\"/apple"),
            k % 9, lit(".png\">"))).otherwise("")
        val preload1 = when(k % 2 === 0,
          concat(lit("<link rel=\"preload\" href=\"/m"), col("doc_id"),
            lit(".js\" as=\"script\">"))).otherwise("")
        val preload2 = when(k % 5 === 0,
          concat(lit("<link rel=preload href=/f"), k % 3,
            lit(".woff2 as=font crossorigin>"))).otherwise("")
        val prefetch = when(k % 4 === 1,
          concat(lit("<link rel=\"prefetch\" href=\"/next"), col("doc_id"),
            lit(".html\">"))).otherwise("")
        val dnsp = when(k % 3 === 0,
          concat(lit("<link rel=\"dns-prefetch\" href=\"//cdn"), k % 9,
            lit(".example\">"))).otherwise("")
        val preconn = when(k % 6 < 2,
          concat(lit("<link rel=\"preconnect\" href=\"https://api"), k % 5,
            lit(".example\" crossorigin=\"anonymous\">"))).otherwise("")
        val html = concat(
          lit("<html><head><title>d</title>"), icon, touch, preload1,
          preload2, prefetch, dnsp, preconn,
          lit("</head><body><link rel=\"icon\" href=\"/evil.ico\">" +
            "<p>body</p></body></html>"))
        val head = regexp_extract(col("html"), "(?s)^(.*?)</head>", 1)
        // 'icon' as a rel TOKEN: quoted values are space-separated token
        // lists (rel="shortcut icon" counts; rel="apple-touch-icon" is
        // one token and must not), unquoted rel can only be the bare token
        val iconPat =
          "(?i)rel=(\"(?:[a-z-]+ )*icon(?: [a-z-]+)*\"|icon[\\s/>])"
        docs.select(col("doc_id"), html.as("html"))
          .withColumn("head", head)
          .select(
            col("doc_id"),
            regexp_count(col("head"), lit(iconPat))
              .cast("long").as("n_icons"),
            (regexp_count(col("head"),
              lit("(?i)rel=[\"']?apple-touch-icon")) > 0)
              .cast("long").as("has_touch_icon"),
            when(regexp_count(col("head"), lit(iconPat)) > 0,
              regexp_extract(col("head"),
                "(?i)rel=(?:\"(?:[a-z-]+ )*icon(?: [a-z-]+)*\"|icon[\\s/>])" +
                  "[^>]*?href=[\"']?([^\"'\\s>]+)", 1))
              .otherwise(lit(null)).as("first_icon_href"),
            regexp_count(col("head"), lit("(?i)rel=[\"']?preload"))
              .cast("long").as("n_preload"),
            when(regexp_count(col("head"), lit("(?i)rel=[\"']?preload")) > 0,
              regexp_extract(col("head"),
                "(?i)rel=[\"']?preload[^>]*\\bas=[\"']?([a-z]+)", 1))
              .otherwise(lit(null)).as("first_preload_as"),
            regexp_count(col("head"), lit("(?i)rel=[\"']?prefetch"))
              .cast("long").as("n_prefetch"),
            regexp_count(col("head"), lit("(?i)rel=[\"']?dns-prefetch"))
              .cast("long").as("n_dns_prefetch"),
            regexp_count(col("head"), lit("(?i)rel=[\"']?preconnect"))
              .cast("long").as("n_preconnect"),
            regexp_count(col("head"), lit("(?i)crossorigin"))
              .cast("long").as("n_crossorigin"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 3 <> 2 THEN 1 ELSE 0 END)::BIGINT AS n_icons,
               (CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS has_touch_icon,
               CASE WHEN k % 3 <> 2
                    THEN '/fav' || CAST(k % 4 AS VARCHAR) || '.png'
                    ELSE NULL END AS first_icon_href,
               (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END
                + CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_preload,
               CASE WHEN k % 2 = 0 THEN 'script'
                    WHEN k % 5 = 0 THEN 'font'
                    ELSE NULL END AS first_preload_as,
               (CASE WHEN k % 4 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_prefetch,
               (CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS n_dns_prefetch,
               (CASE WHEN k % 6 < 2 THEN 1 ELSE 0 END)::BIGINT AS n_preconnect,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END
                + CASE WHEN k % 6 < 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_crossorigin
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x31: HTTP Link-HEADER parse (RFC 8288) — the header-side
    // counterpart of x30's HTML hints: CDNs and APIs carry pagination
    // (rel=next/prev) and push hints (rel=preload + as/crossorigin) in
    // `Link:` response headers, and a crawler following rel=next from
    // headers is the standard API-pagination walk. The fixture cycles
    // quoted/unquoted rel, single comma-combined vs multiple Link
    // header lines, and a quoted param value CONTAINING a comma
    // (`title="pg, next"` — legal per RFC 8288 §3) sitting between the
    // URL and its rel; parsing splits members on commas OUTSIDE quoted
    // strings (even-quote lookahead per header line — the t23
    // replace-then-split discipline), then evaluates each member
    // independently. All array/lambda codegen built-ins.
    Q(
      "x31_link_header",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val nxt = when(k % 3 =!= 1,
          concat(lit("</p/"), col("doc_id") + 1,
            when(k % 2 === 0, lit(">; title=\"pg, next\"; rel=\"next\""))
              .otherwise(lit(">; rel=next")))).otherwise(lit(null))
        val prv = when(k % 4 === 0,
          concat(lit("</p/"), col("doc_id") - 1,
            // quoted-PAIR inside a quoted string (RFC 8288 §3 via RFC
            // 7230 quoted-string): the \" must not flip quote parity
            lit(">; title=\"q\\\" z\"; rel=prev")))
          .otherwise(lit(null))
        val pre1 = when(k % 2 === 0,
          concat(lit("<https://cdn"), k % 5,
            lit(".example/a.css>; rel=preload; as=style")))
          .otherwise(lit(null))
        val pre2 = when(k % 5 === 0,
          lit("</f.woff2>; rel=\"preload\"; as=\"font\"; crossorigin"))
          .otherwise(lit(null))
        val members = filter(array(nxt, prv, pre1, pre2), m => m.isNotNull)
        val linkLines = when(k % 2 === 0,
            when(size(members) > 0,
              concat(lit("Link: "), array_join(members, ", "), lit("\r\n")))
              .otherwise(lit("")))
          .otherwise(
            // one Link header line per member (the multi-header spelling)
            concat(aggregate(members, lit(""),
              (acc, m) => concat(acc, lit("Link: "), m, lit("\r\n")))))
        // decoy: a header whose NAME ends in "link:" — only a
        // line-anchored parse keeps it from minting a phantom rel=next
        val h = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
            "X-Weblink: </decoy>; rel=next\r\n"),
          linkLines, lit("\r\n"))
        // member split: GraftFunctions.linkHeaderMembers — commas outside
        // quoted strings, quoted-pairs neutralized first (see its doc);
        // fuzz-pinned in Round19ParserFuzzSpec
        val mems = graft.functions.GraftFunctions.linkHeaderMembers(col("h"))
        // rel match anchored to a whole link-param token: `;\s*rel=` so a
        // quoted param VALUE containing the literal "rel=next" can't
        // count, and a trailing (?![-a-z0-9.]) so rel=next-archive /
        // rel=nextgen / rel=next.page (RFC 8288 reg-rel-type allows
        // LOALPHA *(LOALPHA/DIGIT/"."/"-") — distinct relations) don't
        // prefix-match. The remaining hole (a quoted value containing
        // "; rel=next") needs a full param parse — out of scope for a
        // census counter, documented here.
        val isNext = (m: Column) => m.rlike("(?i);\\s*rel=\"?next\\b(?![-a-z0-9.])")
        val isPreload = (m: Column) => m.rlike("(?i);\\s*rel=\"?preload\\b(?![-a-z0-9.])")
        docs.select(col("doc_id"), h.as("h"))
          .select(col("doc_id"), mems.as("mems"))
          .select(
            col("doc_id"),
            size(col("mems")).cast("long").as("n_links"),
            exists(col("mems"), isNext).cast("long").as("has_next"),
            regexp_extract(get(filter(col("mems"), isNext), lit(0)),
              "<([^>]*)>", 1).as("next_url"),
            size(filter(col("mems"), isPreload)).cast("long").as("n_preload"),
            regexp_extract(get(filter(col("mems"), isPreload), lit(0)),
              "(?i)\\bas=\"?([a-z]+)", 1).as("first_preload_as"),
            size(filter(col("mems"),
              m => m.rlike("(?i)\\bcrossorigin")))
              .cast("long").as("n_crossorigin"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               ((CASE WHEN k % 3 <> 1 THEN 1 ELSE 0 END)
                + (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)
                + (CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                + (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END))::BIGINT AS n_links,
               (CASE WHEN k % 3 <> 1 THEN 1 ELSE 0 END)::BIGINT AS has_next,
               CASE WHEN k % 3 <> 1 THEN '/p/' || (doc_id + 1)
                    ELSE NULL END AS next_url,
               ((CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                + (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END))::BIGINT AS n_preload,
               CASE WHEN k % 2 = 0 THEN 'style'
                    WHEN k % 5 = 0 THEN 'font'
                    ELSE NULL END AS first_preload_as,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_crossorigin
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x32: RESPONSIVE-IMAGE census (srcset/picture — WHATWG srcset
    // attribute + the <picture><source> element): the image-harvest
    // tier a multimodal corpus build reads BEFORE fetching — width (w)
    // and density (x) descriptors say which candidate to pull, <source
    // type="image/webp"> says a modern format exists, loading="lazy"
    // marks below-the-fold assets. Declarative regexps; analytic oracle.
    Q(
      "x32_srcset_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val srcset = concat(
          lit("/i"), col("doc_id"), lit("-320.jpg 320w, /i"),
          col("doc_id"), lit("-"), (k % 4 + 4) * 160, lit(".jpg "),
          (k % 4 + 4) * 160, lit("w"),
          when(k % 3 === 0, lit(", /i-hi.jpg 2x")).otherwise(""),
          // descriptor-less candidate: valid per WHATWG, defaults to 1x
          when(k % 7 === 0, concat(lit(", /i"), col("doc_id"),
            lit("-plain.jpg"))).otherwise(""),
          // a candidate whose URL itself contains a comma (CDN transform
          // paths) — ONE candidate, not two, under the boundary-aware split
          when(k % 11 === 0, concat(
            lit(", https://cdn.example/tr:w_300,c_fill/i"),
            col("doc_id"), lit(".jpg 2x"))).otherwise(""))
        val img = concat(
          lit("<img src=\"/i"), col("doc_id"), lit(".jpg\" srcset=\""),
          srcset, lit("\" sizes=\"(max-width: 600px) 100vw, 50vw\""),
          when(k % 5 === 0, lit(" loading=\"lazy\"")).otherwise(""),
          lit(">"))
        val picture = when(k % 4 === 0, concat(
          lit("<picture><source media=\"(min-width:800px)\" " +
            "srcset=\"/big"), col("doc_id"),
          lit(".webp\" type=\"image/webp\"><img src=\"/fall"),
          col("doc_id"), lit(".jpg\"></picture>"))).otherwise("")
        val html = concat(lit("<html><body>"), img, picture,
          lit("<p>text</p></body></html>"))
        docs.select(col("doc_id"), html.as("html"))
          .select(
            col("doc_id"),
            regexp_count(col("html"), lit("(?i)<img\\b"))
              .cast("long").as("n_img"),
            // candidates = entries of every srcset attribute (incl.
            // <source>); a descriptor-less entry is a valid 1x candidate
            // per WHATWG, so count entries, not w/x-descriptor
            // occurrences — and split only at candidate BOUNDARIES
            // (comma before whitespace, or right after a w/x
            // descriptor), because a candidate URL may itself contain
            // commas (CDN transform paths, legal per WHATWG)
            aggregate(
              regexp_extract_all(col("html"),
                lit("(?i)srcset=\"([^\"]*)\""), lit(1)),
              lit(0),
              (acc, v) => acc +
                size(filter(split(v, ",(?=\\s)|(?<=\\d[wx]),"),
                  t => trim(t) =!= "")))
              .cast("long").as("n_candidates"),
            expr("array_max(transform(" +
              "regexp_extract_all(html, '(\\\\d+)w[,\"]', 1), " +
              "v -> cast(v AS BIGINT)))").as("max_width_w"),
            (regexp_count(col("html"), lit("(?i)<picture>")) > 0)
              .cast("long").as("has_picture"),
            regexp_count(col("html"), lit("(?i)<source\\b"))
              .cast("long").as("n_sources"),
            (regexp_count(col("html"),
              lit("(?i)type=\"image/webp\"")) > 0)
              .cast("long").as("has_webp_source"),
            regexp_count(col("html"), lit("(?i)loading=\"lazy\""))
              .cast("long").as("n_lazy"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 4 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_img,
               (2 + CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS n_candidates,
               ((k % 4 + 4) * 160)::BIGINT AS max_width_w,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS has_picture,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_sources,
               (CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS has_webp_source,
               (CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_lazy
        FROM base
        ORDER BY doc_id
      """.trim),
    ),

    // x27: HTML TABLE EXTRACTION — the WebTables tier: relational
    // facts live in <table> markup, and the structured slice of a
    // training corpus is exactly these rows×cells. Scope pinned in
    // ops/Tables.scala: non-nested tables only (nested skipped
    // wholesale), comments + script/style stripped BEFORE the scan
    // (the fixture plants a commented-out table, a scripted "<table>"
    // string, and a nested table — none may count), full-<th> first
    // row = header, per-cell entity decode + fold. One output row per
    // table (the explode shape); the oracle rebuilds every table's
    // joined cell text and gates md5.
    Q(
      "x27_html_tables",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val packed = docs.select(col("doc_id"),
          graft.ops.Tables.packTablesHtml(col("doc_id")).as("html"))
        graft.ops.Tables.extractTablesDf(packed, "doc_id", "html")
          .select(
            col("id").as("doc_id"),
            col("table_idx").cast("long").as("table_idx"),
            col("n_rows").cast("long").as("n_rows"),
            col("n_cols").cast("long").as("n_cols"),
            col("has_header").cast("long").as("has_header"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id", "table_idx")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        t AS (
          SELECT doc_id, k, unnest(range(0, k % 3 + 1)) AS tbl FROM base),
        d AS (
          SELECT doc_id, k, tbl,
                 CASE WHEN tbl % 2 = 0 THEN 1 ELSE 0 END AS hdr,
                 k % 4 + 1 AS dr, k % 3 + 2 AS cols
          FROM t),
        txt AS (
          SELECT doc_id, tbl, hdr, dr, cols,
                 (CASE WHEN hdr = 1 THEN
                    array_to_string(list_transform(range(0, cols), c ->
                      'H' || tbl || ' ' || c), ' | ') || chr(10)
                  ELSE '' END)
                 || array_to_string(list_transform(range(0, dr), r ->
                      array_to_string(list_transform(range(0, cols), c ->
                        'c' || tbl || ' ' || r || ' ' || c || ' of '
                          || doc_id
                          || CASE WHEN r = 0 AND c = 0 THEN ' & co'
                             ELSE '' END), ' | ')), chr(10)) AS text
          FROM d)
        SELECT doc_id,
               CAST(tbl AS BIGINT) AS table_idx,
               (dr + hdr)::BIGINT AS n_rows,
               cols::BIGINT AS n_cols,
               hdr::BIGINT AS has_header,
               md5(text) AS text_md5
        FROM txt
        ORDER BY doc_id, table_idx
      """.trim),
    ),

    // x28: FEED ITEM CENSUS — g8 extracts feed LINKS for the link
    // graph; the news-corpus pipeline also needs the ITEMS (RSS 2.0
    // <item> / Atom <entry>): per-feed kind dispatch, channel title,
    // item count, guid/id coverage, the first item title with entity
    // decode, and the md5 of the ordered item-link list (rss element
    // text vs atom href attribute — the two spellings). Declarative
    // regexp built-ins end-to-end, zero UDFs; oracle replays all
    // fields.
    Q(
      "x28_feed_items",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val isRss = k % 2 === 0
        val ni = k % 6 + 1
        val rssItems = array_join(
          transform(sequence(lit(0), ni - 1), i => concat(
            lit("<item><title>Item "), i, lit(" &amp; doc "), col("doc_id"),
            lit("</title><link>https://n"), k % 7, lit(".example/a"), i,
            lit("-"), col("doc_id"), lit("</link>"),
            when(i % 2 === 0, concat(lit("<guid isPermaLink=\"false\">tag:"),
              col("doc_id"), lit(":"), i, lit("</guid>"))).otherwise(""),
            lit("<pubDate>Mon, 0"), i % 9 + 1,
            lit(" Jan 2026 12:00:00 GMT</pubDate></item>"))), "")
        val atomEntries = array_join(
          transform(sequence(lit(0), ni - 1), i => concat(
            lit("<entry><title>Entry "), i, lit(" of "), col("doc_id"),
            lit("</title><link href=\"https://n"), k % 7, lit(".example/e"),
            i, lit("-"), col("doc_id"), lit("\"/>"),
            lit("<id>urn:"), col("doc_id"), lit(":"), i, lit("</id>"),
            lit("<updated>2026-01-0"), i % 9 + 1,
            lit("T12:00:00Z</updated></entry>"))), "")
        val xml = when(isRss, concat(
            lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
              "<title>Chan "), col("doc_id"), lit("</title>"), rssItems,
            lit("</channel></rss>")))
          .otherwise(concat(
            lit("<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/" +
              "2005/Atom\"><title>Feed "), col("doc_id"), lit("</title>"),
            atomEntries, lit("</feed>")))
        def deEnt(c: org.apache.spark.sql.Column) =
          replace(replace(replace(c, lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")), lit("&amp;"), lit("&"))
        docs.select(col("doc_id"), xml.as("xml"))
          .select(
            col("doc_id"),
            when(col("xml").contains("<rss"), "rss").otherwise("atom")
              .as("kind"),
            deEnt(element_at(regexp_extract_all(col("xml"),
              lit("<title>([^<]*)</title>"), lit(1)), 1))
              .as("channel_title"),
            (regexp_count(col("xml"), lit("<item>")) +
              regexp_count(col("xml"), lit("<entry>"))).cast("long")
              .as("n_items"),
            (regexp_count(col("xml"), lit("<guid[ >]")) +
              regexp_count(col("xml"), lit("<id>"))).cast("long")
              .as("n_guids"),
            deEnt(element_at(regexp_extract_all(col("xml"),
              lit("<title>([^<]*)</title>"), lit(1)), 2))
              .as("first_item_title"),
            md5(array_join(coalesce(
              when(col("xml").contains("<rss"),
                regexp_extract_all(col("xml"),
                  lit("<link>([^<]*)</link>"), lit(1)))
                .otherwise(regexp_extract_all(col("xml"),
                  lit("<link href=\"([^\"]*)\""), lit(1)))),
              ",").cast("binary")).as("links_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k, k % 2 = 0 AS rss, k % 6 + 1 AS ni,
                 list_transform(range(0, k % 6 + 1), i ->
                   CASE WHEN k % 2 = 0
                     THEN 'https://n' || (k % 7) || '.example/a' || i || '-'
                            || doc_id
                     ELSE 'https://n' || (k % 7) || '.example/e' || i || '-'
                            || doc_id END) AS links
          FROM base)
        SELECT doc_id,
               CASE WHEN rss THEN 'rss' ELSE 'atom' END AS kind,
               CASE WHEN rss THEN 'Chan ' || doc_id
                    ELSE 'Feed ' || doc_id END AS channel_title,
               ni::BIGINT AS n_items,
               (CASE WHEN rss THEN (ni + 1) // 2 ELSE ni END)::BIGINT
                 AS n_guids,
               CASE WHEN rss THEN 'Item 0 & doc ' || doc_id
                    ELSE 'Entry 0 of ' || doc_id END AS first_item_title,
               md5(array_to_string(links, ',')) AS links_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // x29: JSON-LD CENSUS — schema.org structured data rides in
    // <script type="application/ld+json"> blocks (the modern carrier
    // that replaced microdata), and a knowledge/training pipeline
    // censuses it before extraction: block count, @type inventory, and
    // the headline/author/wordCount fields of the first Article. The
    // fixture plants a typeless <script> holding JSON-looking text (a
    // distractor only the type= attribute gate excludes) and a second
    // Product block on half the seeds. Declarative end-to-end:
    // regexp_extract_all for the blocks, get_json_object (codegen) for
    // the fields; the oracle replays analytically.
    Q(
      "x29_jsonld_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val hasLd = k % 2 === 0
        val art = concat(
          lit("""{"@context":"https://schema.org","@type":"Article","""),
          lit(""""headline":"Doc """), col("doc_id"),
          lit(""" headline","author":{"@type":"Person","name":"A"""),
          k % 9, lit(""""},"wordCount":"""), col("n_chars") % 997, lit("}"))
        val prod = concat(
          lit("""{"@context":"https://schema.org","@type":"Product","""),
          lit(""""name":"P"""), col("doc_id"),
          lit("""","offers":{"price":""""), k % 90 + 10, lit(""""}}"""))
        val html = concat(
          lit("<html><head><script>var x = {\"@type\":\"Fake\"};</script>"),
          when(hasLd, concat(
            lit("<script type=\"application/ld+json\">"), art,
            lit("</script>"),
            when(k % 4 === 0, concat(
              lit("<script type=\"application/ld+json\">"), prod,
              lit("</script>"))).otherwise(""))).otherwise(""),
          lit("</head><body>page</body></html>"))
        val blocks = regexp_extract_all(col("html"),
          lit("(?is)<script[^>]*type=\"application/ld\\+json\"[^>]*>(.*?)</script>"),
          lit(1))
        docs.select(col("doc_id"), col("n_chars"), html.as("html"))
          .select(col("doc_id"), col("n_chars"), blocks.as("blocks"))
          .select(
            col("doc_id"),
            size(col("blocks")).cast("long").as("n_blocks"),
            get_json_object(try_element_at(col("blocks"), lit(1)), "$['@type']")
              .as("first_type"),
            get_json_object(try_element_at(col("blocks"), lit(1)), "$.headline")
              .as("headline"),
            get_json_object(try_element_at(col("blocks"), lit(1)), "$.author.name")
              .as("author_name"),
            get_json_object(try_element_at(col("blocks"), lit(1)), "$.wordCount")
              .cast("long").as("word_count"),
            array_join(transform(col("blocks"),
              b => get_json_object(b, "$['@type']")), ",").as("types"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, n_chars, doc_id % 251 AS k FROM documents)
        SELECT doc_id,
               (CASE WHEN k % 2 = 0 THEN
                  CASE WHEN k % 4 = 0 THEN 2 ELSE 1 END
                ELSE 0 END)::BIGINT AS n_blocks,
               CASE WHEN k % 2 = 0 THEN 'Article' ELSE NULL END AS first_type,
               CASE WHEN k % 2 = 0 THEN 'Doc ' || doc_id || ' headline'
                    ELSE NULL END AS headline,
               CASE WHEN k % 2 = 0 THEN 'A' || (k % 9) ELSE NULL END
                 AS author_name,
               CASE WHEN k % 2 = 0 THEN n_chars % 997 ELSE NULL END::BIGINT
                 AS word_count,
               CASE WHEN k % 2 = 0 THEN
                 CASE WHEN k % 4 = 0 THEN 'Article,Product' ELSE 'Article' END
               ELSE '' END AS types
        FROM base
        ORDER BY doc_id
      """.trim),
    ),
  )

  /** `repeat` with a column count (the functions.repeat overload takes
    * a literal only). */
  private def repeatstr(c: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("repeat", c, n)
}
