package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArcSource, FrontCoding, RiceCoding, Sinks, WikipediaXmlSource}

/** Driver-verified round trips for the storage-format operators (SURVEY §2.1
  * S2/S6/S7/S8/S9). Each query pushes table data OUT through the real
  * writer/encoder and back IN through the real reader/decoder, then returns
  * columns an ANSI-SQL oracle can recompute from the original table — so a
  * lossy or corrupting codec/source shows up as a hash mismatch in the
  * correctness gate, not just in a unit test.
  *
  * The staging directory is a fresh dir per invocation, resolved through
  * [[Staging.dir]] (`spark.graft.stageDir` on a cluster, local temp
  * otherwise); the queries are correctness probes over small slices, not
  * production paths — the production write surface is the same code
  * under `graft.sources`.
  */
object SourceQueries {

  private def stage(name: String): String =
    Staging.dir(name)

  /** XML-escape the three structural entities, matching
    * [[WikipediaXmlSource.unescape]]'s inverse order. */
  private def xmlEscape(c: Column): Column =
    replace(replace(replace(c, lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  def defs: Seq[Q] = Seq(
    // S2+S7: ARC archive write → read round trip through the graft-arc
    // DataSource V2 (reference util/ArcFileWriter.java:77 writes, ArcFileReader
    // .java:68 streams; one gzip member per record, seekable by offset).
    // `length` comes back from the ARC header line, so a header/payload
    // disagreement fails the hash even though the oracle never sees ARC bytes.
    Q(
      "s2_arc_roundtrip",
      (s, dir) => {
        val out = stage("s2")
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 13 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("10.0.0.1").as("ip"),
            lit("20260101000000").as("archive_date"),
            lit("text/plain").as("mime_type"),
            col("text").cast("binary").as("content"))
          .write.format("graft-arc").mode("append").save(out)
        s.read.format("graft-arc").load(out)
          .select(col("url"), col("length"),
            md5(col("content")).as("content_md5"))
      },
      Some("""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(text) AS BIGINT) AS length,
               md5(text) AS content_md5
        FROM documents WHERE doc_id % 13 = 0
      """.stripMargin.trim),
    ),

    // S2 extension: WARC (ISO 28500) write → read round trip through the
    // graft-warc DataSource V2 — the format the reference's corpus ships
    // in today (the reference itself predates WARC and writes ARC,
    // util/ArcFileWriter.java:77; same member-seekable layout). Each
    // document goes out as a `response` record wrapping a real HTTP
    // message; the reader must re-split the envelope, so `http_status`,
    // `mime_type` and the payload hash all verify the block round trip
    // AND the HTTP parse against an oracle that never sees WARC bytes.
    Q(
      "s10_warc_roundtrip",
      (s, dir) => {
        val out = stage("s10")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 11 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            lit("10.0.0.1").as("ip"),
            concat(lit(httpHead).cast("binary"),
              col("text").cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(out)
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("url"), col("length"), col("http_status"),
            col("mime_type"), md5(col("payload")).as("payload_md5"))
      },
      Some(s"""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(text) + ${"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n".length} AS BIGINT) AS length,
               200 AS http_status,
               'text/plain' AS mime_type,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id % 11 = 0
      """.stripMargin.trim),
    ),

    // WET derivation end-to-end: raw WARC response records (HTTP + HTML)
    // → html-to-text extraction → WARC `conversion` records (the WET
    // sidecar format the corpus publishes alongside raw crawls) → read
    // back. Exercises both graft-warc trips, the HTTP envelope split,
    // and the htmlToText kernel in one pipeline; the oracle re-derives
    // the extracted text from the source table, so a defect in ANY stage
    // breaks the hash.
    Q(
      "s11_wet_export",
      (s, dir) => {
        val out = stage("s11")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
        val html = concat(
          lit("<html><head><title>d</title></head><body><p>"),
          xmlEscape(col("text")), lit("</p></body></html>"))
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(lit(httpHead).cast("binary"), html.cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(s"$out/raw")
        s.read.format("graft-warc").load(s"$out/raw")
          .filter(col("warc_type") === "response" && col("mime_type") === "text/html")
          .select(col("url"),
            lit("conversion").as("warc_type"),
            col("warc_date"),
            lit("text/plain").as("content_type"),
            graft.functions.GraftFunctions.htmlToText(col("payload").cast("string"))
              .cast("binary").as("content"))
          .write.format("graft-warc").mode("append").save(s"$out/wet")
        s.read.format("graft-warc").load(s"$out/wet")
          .filter(col("warc_type") === "conversion")
          .select(col("url"), col("length"), md5(col("payload")).as("text_md5"))
      },
      Some("""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(expected) AS BIGINT) AS length,
               md5(expected) AS text_md5
        FROM (
          SELECT doc_id, source,
                 trim(regexp_replace('d ' || text, '\s+', ' ', 'g')) AS expected
          FROM documents WHERE doc_id % 7 = 0)
      """.stripMargin.trim),
    ),

    // WAT derivation end-to-end: raw WARC response records → per-page
    // metadata JSON (status, payload mime, title, outlinks — the fields
    // the corpus's WAT sidecar carries in its Envelope) written back as
    // WARC `metadata` records, then read and re-parsed. Completes the
    // raw/WET/WAT sidecar trio over graft-warc; exercises the HTTP
    // split, link extraction, and a JSON round trip through real archive
    // bytes. The oracle re-derives every field analytically.
    Q(
      "s12_wat_export",
      (s, dir) => {
        val F = graft.functions.GraftFunctions
        val out = stage("s12")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
        val hub = (col("doc_id") % 9).cast("string")
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit(" meta</title></head><body><a href=\"http://hub"), hub,
          lit(".example.com/x\">h</a><a href=\"/p/"), col("doc_id").cast("string"),
          lit("\">s</a>body</body></html>"))
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(lit(httpHead).cast("binary"), html.cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(s"$out/raw")
        val payloadStr = col("payload").cast("string")
        val wat = to_json(struct(
          col("http_status").as("status"),
          col("mime_type").as("mime"),
          regexp_extract(payloadStr, "(?i)<title>([^<]*)</title>", 1).as("title"),
          transform(F.extractLinks(payloadStr), l => l.getField("url")).as("links")))
        s.read.format("graft-warc").load(s"$out/raw")
          .filter(col("warc_type") === "response")
          .select(col("url"),
            lit("metadata").as("warc_type"),
            col("warc_date"),
            lit("application/json").as("content_type"),
            wat.cast("binary").as("content"))
          .write.format("graft-warc").mode("append").save(s"$out/wat")
        val watSchema = "status INT, mime STRING, title STRING, links ARRAY<STRING>"
        s.read.format("graft-warc").load(s"$out/wat")
          .filter(col("warc_type") === "metadata")
          .select(col("url"), from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(watSchema)).as("w"))
          .select(col("url"),
            col("w.status").as("http_status"),
            col("w.mime").as("mime_type"),
            col("w.title").as("title"),
            size(col("w.links")).cast("long").as("n_links"))
      },
      Some("""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               200 AS http_status,
               'text/html' AS mime_type,
               'doc ' || CAST(doc_id AS VARCHAR) || ' meta' AS title,
               CAST(2 AS BIGINT) AS n_links
        FROM documents WHERE doc_id % 5 = 0
      """.stripMargin.trim),
    ),

    // Content serving over WARC: the i8 shape for the modern format. A
    // metadata-ONLY scan (url/file/offset — column pruning means no
    // record block is ever inflated) builds the content index; probes
    // then seek the gzip member at `offset` and parse just that record,
    // splitting the HTTP envelope to the payload (WarcRecords
    // .fetchPayloadAt). The md5 against the oracle verifies the offset
    // arithmetic, the member seek, AND the point HTTP split against
    // bytes the oracle never parses.
    Q(
      "i10_warc_point_fetch",
      (s, dir) => {
        val out = stage("i10")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(lit(httpHead).cast("binary"),
              col("text").cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(out)
        val fetchAt = udf { (bytes: Array[Byte], off: Long) =>
          graft.sources.v2.WarcRecords.fetchPayloadAt(bytes, off)
        }
        val probes = s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response" &&
            element_at(split(col("url"), "/"), -1).cast("long") % 21 === 0)
          .select(col("url"), col("warc_file"), col("offset"))
        val files = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.warc.gz").load(out)
          .select(col("path").as("warc_file"), col("content").as("file_bytes"))
        probes.join(files, "warc_file")
          .select(col("url"),
            md5(fetchAt(col("file_bytes"), col("offset"))).as("payload_md5"))
      },
      Some("""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id % 21 = 0
      """.stripMargin.trim),
    ),

    // Header analytics through the http_headers map column (the
    // reference extracts the same header map to crawl metadata JSON —
    // util/HttpHeaderInfoExtractor.java): write responses with varied
    // Server/X-Cache headers, read the split map back, roll up hit
    // rates per server. Verifies name lowercasing, value fidelity and
    // the map's null-for-non-envelope contract against an analytic
    // oracle that never sees HTTP bytes.
    Q(
      "s13_http_header_stats",
      (s, dir) => {
        val out = stage("s13")
        val httpHead = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nServer: srv"),
          (col("doc_id") % 7).cast("string"),
          lit("\r\nX-Cache: "),
          when(col("doc_id") % 3 === 0, lit("HIT")).otherwise(lit("MISS")),
          lit("\r\n\r\n"))
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(httpHead.cast("binary"), col("text").cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(out)
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("http_headers")("server").as("server"),
            col("http_headers")("x-cache").as("cache"),
            length(col("payload")).cast("long").as("n_bytes"))
          .groupBy("server", "cache")
          .agg(count(lit(1)).as("n_responses"),
            sum(col("n_bytes")).as("sum_bytes"))
          .orderBy("server", "cache")
      },
      Some("""
        SELECT 'srv' || CAST(doc_id % 7 AS VARCHAR) AS server,
               CASE WHEN doc_id % 3 = 0 THEN 'HIT' ELSE 'MISS' END AS cache,
               COUNT(*) AS n_responses,
               CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes
        FROM documents WHERE doc_id % 2 = 0
        GROUP BY 1, 2
        ORDER BY 1, 2
      """.stripMargin.trim),
    ),

    // Crawl-dedup with revisit records (ISO 28500 §6.7.2 — the corpus
    // writes a `revisit` record instead of re-storing an unchanged
    // page): crawl 1 stores every page; crawl 2 stores changed pages as
    // new responses and unchanged ones as revisit records carrying
    // WARC-Payload-Digest + WARC-Refers-To-Target-URI via the writer's
    // extra_headers column. Reading back, every revisit's digest is
    // joined against the original page text — so the extra-header write
    // path, the warc_headers map read path, and the dedup bookkeeping
    // are all under the oracle gate.
    Q(
      "s14_warc_revisit",
      (s, dir) => {
        val out = stage("s14")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
        val url = concat(lit("http://"), col("source"), lit("/doc/"),
          col("doc_id").cast("string"))
        val docs = Registry.table(s, dir, "documents")
        val noExtras = lit(null).cast("map<string,string>")
        val crawl1 = docs.select(url.as("url"),
          lit("response").as("warc_type"),
          lit("2026-01-01T00:00:00Z").as("warc_date"),
          lit("application/http; msgtype=response").as("content_type"),
          concat(lit(httpHead).cast("binary"), col("text").cast("binary")).as("content"),
          noExtras.as("extra_headers"))
        val unchanged = col("doc_id") % 3 === 0
        val crawl2 = docs.select(url.as("url"),
          when(unchanged, lit("revisit")).otherwise(lit("response")).as("warc_type"),
          lit("2026-02-01T00:00:00Z").as("warc_date"),
          when(unchanged, lit("message/http"))
            .otherwise(lit("application/http; msgtype=response")).as("content_type"),
          when(unchanged, lit(Array.empty[Byte]))
            .otherwise(concat(lit(httpHead).cast("binary"),
              concat(col("text"), lit(" v2")).cast("binary"))).as("content"),
          when(unchanged, map(
            lit("WARC-Payload-Digest"),
            concat(lit("md5:"), md5(col("text").cast("binary"))),
            lit("WARC-Refers-To-Target-URI"), url)).otherwise(noExtras)
            .as("extra_headers"))
        crawl1.unionByName(crawl2)
          .write.format("graft-warc").mode("append").save(out)
        val back = s.read.format("graft-warc").load(out)
          .filter(col("warc_type") =!= "warcinfo")
        val originals = docs.select(url.as("url"),
          md5(col("text").cast("binary")).as("orig_md5"))
        val digestOk = back.filter(col("warc_type") === "revisit")
          .select(col("url"),
            col("warc_headers")("warc-payload-digest").as("digest"),
            col("warc_headers")("warc-refers-to-target-uri").as("refers_to"))
          .join(originals, "url")
          .filter(col("digest") === concat(lit("md5:"), col("orig_md5")) &&
            col("refers_to") === col("url"))
        back.groupBy()
          .agg(
            sum(when(col("warc_type") === "response", 1L).otherwise(0L)).as("n_response"),
            sum(when(col("warc_type") === "revisit", 1L).otherwise(0L)).as("n_revisit"))
          .crossJoin(digestOk.agg(count(lit(1)).as("n_digest_ok")))
          .select(col("n_response"), col("n_revisit"), col("n_digest_ok"))
      },
      Some("""
        SELECT CAST(COUNT(*) + SUM(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
               CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_revisit,
               CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_digest_ok
        FROM documents
      """.stripMargin.trim),
    ),

    // CDX(J) index generation — the random-access sidecar the corpus
    // publishes so a URL can be served without scanning archives (the
    // reference's DatabaseIndex plays the same role over its own files;
    // member-offset serving itself is i10). One metadata scan of the
    // archive (payload read only for the digest) emits one CDXJ line
    // per record: SURT-style reversed-host key, 14-digit timestamp,
    // JSON payload of locator fields. The lines round-trip through a
    // text sink and are re-parsed; every oracle-checkable field is
    // verified (offsets are archive-layout-dependent, so the query
    // checks their INVARIANT — parseable and non-negative — not their
    // values).
    Q(
      "s15_cdx_index",
      (s, dir) => {
        val out = stage("s15")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 9 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(lit(httpHead).cast("binary"),
              col("text").cast("binary")).as("content"))
          .write.format("graft-warc").mode("append").save(s"$out/warc")
        val host = graft.functions.GraftFunctions.urlHost(col("url"))
        val path = regexp_replace(col("url"), "^https?://[^/]+", "")
        val urlkey = concat(
          array_join(reverse(split(host, "\\.")), ","), lit(")"), path)
        val ts = regexp_replace(col("warc_date"), "[^0-9]", "")
        val cdxLine = concat(urlkey, lit(" "), ts, lit(" "), to_json(struct(
          col("url"),
          col("mime_type").as("mime"),
          col("http_status").as("status"),
          md5(col("payload")).as("digest"),
          col("length"),
          col("offset"),
          col("warc_file").as("filename"))))
        s.read.format("graft-warc").load(s"$out/warc")
          .filter(col("warc_type") === "response")
          .select(cdxLine.as("value"))
          .write.mode("overwrite").text(s"$out/cdx")
        val parsed = s.read.text(s"$out/cdx")
          .select(
            substring_index(col("value"), " ", 1).as("urlkey"),
            element_at(split(col("value"), " ", 3), 2).as("ts"),
            from_json(element_at(split(col("value"), " ", 3), 3),
              org.apache.spark.sql.types.StructType.fromDDL(
                "url STRING, mime STRING, status INT, digest STRING, " +
                  "length BIGINT, offset BIGINT, filename STRING")).as("c"))
        parsed.select(
          col("urlkey"), col("ts"), col("c.url").as("url"),
          col("c.status").as("http_status"), col("c.mime").as("mime_type"),
          col("c.digest").as("digest"), col("c.length").as("block_len"),
          (col("c.offset") >= 0 && col("c.filename").endsWith(".warc.gz"))
            .as("locator_ok"))
      },
      Some(s"""
        SELECT source || ')/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
               '20260102030405' AS ts,
               'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               200 AS http_status,
               'text/plain' AS mime_type,
               md5(text) AS digest,
               CAST(strlen(text) + ${"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n".length} AS BIGINT) AS block_len,
               TRUE AS locator_ok
        FROM documents WHERE doc_id % 9 = 0
      """.stripMargin.trim),
    ),

    // S6: delta+Rice posting-list codec round trip (reference
    // util/RiceCoding.java:25 via util/CompressedURLFPListV2.java:58's
    // sorted-id-list layout). Encode each customer's sorted order-key list,
    // decode, explode — any bit-level codec defect breaks the identity and
    // the hash. The k=chooseK + escape-marker path is additionally
    // property-fuzzed in SourcesSpec over the full 2^40 value range.
    Q(
      "s6_rice_roundtrip",
      (s, dir) => {
        val roundtrip = udf { xs: Seq[Long] =>
          RiceCoding.decodeSortedList(RiceCoding.encodeSortedList(xs))
        }
        Registry.table(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(col("o_orderkey").cast("long"))).as("ks"))
          .select(col("o_custkey"),
            explode(roundtrip(col("ks"))).as("o_orderkey"))
      },
      Some("SELECT o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey FROM orders"),
    ),

    // S18: front-coded sorted URL lists — the shared-prefix layout of
    // every sorted URL dictionary (CDX keys, SSTable blocks; Parquet's
    // own DELTA_BYTE_ARRAY is the same idea). Each customer's sorted
    // URL list is encoded as (lcp, suffix) entries with full-string
    // restarts every 16, decoded back, and exploded — any varint, lcp,
    // or restart-boundary defect breaks the identity and the hash. The
    // restart-table binary-search point lookup is property-fuzzed in
    // SourcesSpec.
    Q(
      "s18_frontcoded_urls",
      (s, dir) => {
        val roundtrip = udf { xs: Seq[String] =>
          FrontCoding.decodeSortedList(FrontCoding.encodeSortedList(xs))
        }
        Registry.table(s, dir, "orders")
          .select(col("o_custkey"),
            concat(lit("https://c"), col("o_custkey").cast("string"),
              lit(".example/order/"), col("o_orderkey").cast("string"))
              .as("url"))
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(col("url"))).as("us"))
          .select(col("o_custkey"), explode(roundtrip(col("us"))).as("url"))
      },
      Some("""
        SELECT o_custkey,
               'https://c' || CAST(o_custkey AS VARCHAR) ||
               '.example/order/' || CAST(o_orderkey AS VARCHAR) AS url
        FROM orders
      """.trim),
    ),

    // S7: multi-stream sink round trip — ONE pass over a parse-shaped
    // input fans records out into one directory per record type
    // (reference ParserOutputFormat.java:55-81 splits parse output into
    // metadata/text/raw streams the same way), then each stream is read
    // back INDIVIDUALLY and the union is content-hashed per stream. A
    // record landing in the wrong stream, dropped, or corrupted breaks
    // the per-type (count, length sum, md5-prefix sum) against the
    // oracle's recompute from the original table.
    Q(
      "s7_multisink_roundtrip",
      (s, dir) => {
        val out = stage("s7")
        val parsed = Registry.table(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            element_at(array(lit("meta"), lit("text"), lit("raw")),
              (col("doc_id") % 3 + 1).cast("int")).as("rec_type"))
        Sinks.writeByType(parsed, "rec_type", out)
        Seq("meta", "text", "raw")
          .map(t => Sinks.readStreamDir(s, out, "rec_type", t))
          .reduce(_ unionByName _)
          .groupBy(col("rec_type"))
          .agg(
            count(lit(1)).as("n_records"),
            sum(length(col("text")).cast("long")).as("sum_len"),
            sum(conv(substring(md5(col("text").cast("binary")), 1, 10), 16, 10)
              .cast("long")).as("content_sum"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("rec_type")
      },
      Some("""
        SELECT CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN 'meta' WHEN 1 THEN 'text' ELSE 'raw' END AS rec_type,
               COUNT(*) AS n_records,
               CAST(SUM(strlen(text)) AS BIGINT) AS sum_len,
               CAST(SUM(('0x' || substr(md5(text), 1, 10))::BIGINT) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        GROUP BY 1 ORDER BY 1
      """.stripMargin.trim),
    ),

    // S1 (real container): round trip through ACTUAL Hadoop SequenceFiles
    // — the reference's universal job I/O (JobBuilder.java:110
    // inputIsSeqFile; SequenceFileReader.java:42) and the format a
    // migrating user's existing shards are in. Rows go OUT through
    // compressed LongWritable/Text shards (one per partition, the
    // reference's sharded layout) and back IN through the Hadoop reader;
    // the per-source aggregate hashes the JSON payloads, so a corrupted
    // write, a dropped shard, or Writable-reuse aliasing each breaks the
    // oracle hash. The oracle recomputes from the original table — the
    // SequenceFile bytes are the only path between the two.
    Q(
      "s16_seqfile_roundtrip",
      (s, dir) => {
        val out = stage("s16") + "/shards"
        val docs = Registry.table(s, dir, "documents")
        graft.sources.SequenceFiles.write(
          docs.select(col("doc_id").as("key"),
            to_json(struct(col("source"), col("n_chars"),
              md5(col("text").cast("binary")).as("h"))).as("rec")),
          out)
        val back = graft.sources.SequenceFiles.read(s, out)
          .select(col("key"),
            get_json_object(col("rec"), "$.source").as("source"),
            get_json_object(col("rec"), "$.n_chars").cast("long").as("n_chars"),
            get_json_object(col("rec"), "$.h").as("h"))
        back.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_records"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(col("h"), 1, 10), 16, 10).cast("long")).as("content_sum"),
            min(col("key")).as("min_id"),
            max(col("key")).as("max_id"))
          .orderBy("source")
      },
      Some("""
        SELECT source,
               COUNT(*) AS n_records,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(('0x' || substr(md5(text), 1, 10))::BIGINT) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        GROUP BY source ORDER BY source
      """.stripMargin.trim),
    ),

    // S4 (real container): point fetch through ACTUAL Hadoop TFiles —
    // the reference query server's index container
    // (PositionBasedSequenceFileIndex + the TFile indexes it seeks;
    // SURVEY §2.1 S4). Records go OUT as range-partitioned sorted
    // gz-block TFile shards plus a shard-span manifest, and each probe
    // key comes back IN through the TFile block-index seek
    // (Scanner.seekTo) on the one shard that owns it — the reference's
    // interactive fetch mechanism. The oracle recomputes the probed
    // records from the original table; a wrong sort, a mis-routed
    // probe, or a corrupt block each drops/garbles rows and breaks the
    // hash.
    Q(
      "s17_tfile_point_fetch",
      (s, dir) => {
        val out = stage("s17")
        val docs = Registry.table(s, dir, "documents")
        graft.sources.TFiles.write(
          docs.select(col("doc_id").as("key"),
            to_json(struct(col("source"), col("n_chars"),
              md5(col("text").cast("binary")).as("h"))).as("rec")),
          out, shards = 8)
        val probes = docs.select(col("doc_id").as("key"))
          .filter(col("key") % 37 === 5)
        graft.sources.TFiles.lookup(s, out, probes)
          .select(col("key").as("doc_id"),
            get_json_object(col("rec"), "$.source").as("source"),
            get_json_object(col("rec"), "$.n_chars").cast("long").as("n_chars"),
            get_json_object(col("rec"), "$.h").as("h"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               md5(text) AS h
        FROM documents WHERE doc_id % 37 = 5 ORDER BY doc_id
      """.stripMargin.trim),
    ),

    // S8: time-series append log — two appends (so append semantics are
    // actually exercised) then a tail read (reference util/TimeSeriesDataFile
    // .java:41, appendRecordToLogFile :78 / readFromTail :208). Ordering is
    // by microsecond epoch with event_id tiebreak so both engines pick the
    // identical tail set (the raw parquet is nanos; Spark reads micros).
    Q(
      "s8_tslog_tail",
      (s, dir) => {
        val out = stage("s8")
        val ev = Registry.table(s, dir, "events")
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"))
        Sinks.appendLog(ev.filter(col("event_id") % 2 === 0), out)
        Sinks.appendLog(ev.filter(col("event_id") % 2 === 1), out)
        Sinks.readTail(s, out, "ts_us", "event_id", 200)
      },
      Some("""
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM events ORDER BY ts_us DESC, event_id DESC LIMIT 200
      """.stripMargin.trim),
    ),

    // S4+J3: the reference's "shuffle free reduce" multi-file merge join
    // (MultiFileMergeUtils.java:125, CrawlDBMergeJob.java:296-306) as a
    // bucketed sort-merge join — both sides land pre-bucketed+sorted on the
    // join key, so the join itself needs no Exchange (plan pinned in
    // SinksSpec; here the RESULT of that layout is what the oracle hashes).
    Q(
      "j6_bucketed_join",
      (s, dir) => {
        val out = stage("j6")
        Sinks.writeBucketedAt(
          Registry.table(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")),
          "j6_orders", "o_custkey", 8, s"$out/orders")
        Sinks.writeBucketedAt(
          Registry.table(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          "j6_customer", "c_custkey", 8, s"$out/customer")
        s.table("j6_orders")
          .join(s.table("j6_customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey").cast("long")).as("sum_orderkey"))
      },
      Some("""
        SELECT c_nationkey, COUNT(*) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
      """.stripMargin.trim),
    ),

    // Q5 (content half), end-to-end through real archive bytes: write a
    // documents slice as ARC, read the (url, arc_file, offset) content
    // index from the graft-arc scan's metadata columns (reference
    // DatabaseIndexV2's metadata→archive-location resolution, as i10 does
    // for WARC), then POINT-FETCH each probe
    // url by seeking its member offset and parsing just that record
    // (MasterServer.java:1057 / queryserver.jr:229-233 serve page bytes
    // exactly this way). i7 verifies the offset arithmetic analytically;
    // this verifies the seek against bytes the oracle never parses.
    Q(
      "i8_archive_point_fetch",
      (s, dir) => {
        val out = stage("i8")
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("10.0.0.1").as("ip"),
            lit("20260101000000").as("archive_date"),
            lit("text/plain").as("mime_type"),
            col("text").cast("binary").as("content"))
          .write.format("graft-arc").mode("append").save(out)
        val fetchAt = udf { (bytes: Array[Byte], off: Long) =>
          ArcSource.fetchRecordAt(bytes, off).content
        }
        // the index is the scan's metadata columns: no payload is read
        val probes = s.read.format("graft-arc").load(out)
          .filter(element_at(split(col("url"), "/"), -1).cast("long") % 21 === 0)
          .select(col("url"), col("arc_file"), col("offset"), col("length"))
        // per-file bytes join: the fetch seeks to the member offset, so
        // only probed files are read and only probed members are inflated
        val files = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.arc.gz").load(out)
          .select(col("path").as("arc_file"), col("content").as("file_bytes"))
        probes.join(files, "arc_file")
          .select(col("url"), col("length"),
            md5(fetchAt(col("file_bytes"), col("offset"))).as("content_md5"))
      },
      Some("""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(text) AS BIGINT) AS length,
               md5(text) AS content_md5
        FROM documents WHERE doc_id % 21 = 0
      """.stripMargin.trim),
    ),

    // S9: MediaWiki XML dump source — build page-per-record XML from the
    // documents table, write as split-safe text, stream back through the
    // `</page>`-delimited reader (reference WikipediaPageInputFormat /
    // XMLInputFormat page splitting). md5 over the round-tripped body
    // verifies the escape/unescape pair and the split walker together.
    Q(
      "s9_wiki_roundtrip",
      (s, dir) => {
        val out = stage("s9")
        Registry.table(s, dir, "documents")
          .select(concat(
            lit("<page><title>doc-"), col("doc_id").cast("string"),
            lit("</title><id>"), col("doc_id").cast("string"),
            lit("</id><text>"), xmlEscape(col("text")),
            lit("</text></page>\n")).as("value"))
          .write.mode("overwrite").text(out)
        WikipediaXmlSource.read(s, out).toDF()
          .select(col("id").as("doc_id"), col("title"),
            md5(col("text").cast("binary")).as("text_md5"))
      },
      Some("""
        SELECT doc_id, 'doc-' || CAST(doc_id AS VARCHAR) AS title,
               md5(text) AS text_md5
        FROM documents
      """.stripMargin.trim),
    ),

    // s19: packed token-sequence shards (.bin/.idx, the Megatron-style
    // indexed-dataset layout) — the EXPORT artifact a trainer's data
    // loader reads: documents tokenize against a bounded 1024-word
    // frequency vocabulary (unknown → 0), the id sequences go OUT as
    // range-partitioned int32 .bin shards with fixed-width .idx
    // sidecars, and probe doc_ids come back IN through the real binary
    // path: manifest route → .idx binary search → ranged .bin read.
    // The oracle recomputes the fetched stats from the raw text in
    // SQL, so a wrong byte order, a mis-written offset, an off-by-one
    // in the index search, or a scrambled sequence order each breaks
    // the hash (first/last are position-sensitive where the sum is
    // not). The vocabulary rank window runs over exactly 1024 rows —
    // bounded by construction, never corpus-sized.
    Q(
      "s19_token_shards",
      (s, dir) => {
        val out = stage("s19")
        val docs = Registry.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          posexplode(filter(split(lower(col("text")), "[^a-z]+"),
            t => t =!= "")).as(Seq("pos", "tok")))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc).limit(1024)
          .withColumn("id", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("tok").asc)).cast("int"))
          .select("tok", "id")
        val seqs = toks.join(broadcast(vocab), Seq("tok"), "left")
          .select(col("doc_id"),
            col("pos"), coalesce(col("id"), lit(0)).cast("int").as("id"))
          .groupBy("doc_id")
          .agg(transform(
            sort_array(collect_list(struct(col("pos"), col("id")))),
            e => e.getField("id")).as("ids"))
        graft.sources.TokenShards.write(seqs, out, shards = 8)
        val probes = docs.select(col("doc_id")).filter(col("doc_id") % 23 === 7)
        graft.sources.TokenShards.fetch(s, out, probes)
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("id_sum"),
            col("first_id").cast("long").as("first_id"),
            col("last_id").cast("long").as("last_id"))
          .orderBy("doc_id")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        tok AS (
          SELECT doc_id, i AS pos, ts[i] AS tok
          FROM ts, UNNEST(range(1, len(ts) + 1)) AS u(i)),
        vc AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        vocab AS (
          SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS id
          FROM (SELECT * FROM vc ORDER BY cnt DESC, tok LIMIT 1024)),
        ids AS (
          SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
          FROM tok t LEFT JOIN vocab v USING (tok))
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_tokens,
               CAST(SUM(id) AS BIGINT) AS id_sum,
               CAST(min_by(id, pos) AS BIGINT) AS first_id,
               CAST(max_by(id, pos) AS BIGINT) AS last_id
        FROM ids WHERE doc_id % 23 = 7
        GROUP BY doc_id ORDER BY doc_id
      """.stripMargin.trim),
    ),

    // S20: Z-order (Morton curve) clustering for multi-dimensional data
    // skipping — the layout op behind Delta/Iceberg OPTIMIZE ZORDER:
    // interleave the bits of two scan dimensions (customer residue ×
    // order-day residue, 10 bits each), range-bucket rows by the curve
    // key, and emit each bucket's min/max per dimension — the row-group
    // stats a pruning scan consumes. The curve's locality GUARANTEE is
    // visible in the output: bucket width 4096 = 2¹² is tile-aligned,
    // so every bucket's bounding rectangle is exactly ≤ 64×64 (span
    // columns ≤ 63) — a predicate on EITHER dimension prunes ~63/64 of
    // buckets, where row-order layout gives full-domain spans and
    // prunes nothing. All bit arithmetic integer-exact in both
    // engines; one partial-agg'd fold onto the 256-bucket output.
    Q(
      "s20_zorder_layout",
      (s, dir) => {
        def z(x: Column, y: Column): Column =
          (0 until 10).map { i =>
            shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
              .bitwiseOR(
                shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
          }.reduce(_ bitwiseOR _)
        Registry.table(s, dir, "orders")
          .select((col("o_custkey") % 1024).as("x"),
            (datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")) % 1024).cast("long").as("y"))
          .withColumn("bucket", shiftright(z(col("x"), col("y")), 12))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("x_min"), max("x").as("x_max"),
            min("y").as("y_min"), max("y").as("y_max"))
          .select(col("bucket"), col("n_rows"),
            col("x_min"), col("x_max"), col("y_min"), col("y_max"),
            (col("x_max") - col("x_min")).as("x_span"),
            (col("y_max") - col("y_min")).as("y_span"))
          .orderBy("bucket")
      },
      Some {
        val zSql = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""
        WITH d AS (
          SELECT o_custkey % 1024 AS x,
                 date_diff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) % 1024 AS y
          FROM orders),
        zv AS (SELECT x, y, $zSql AS zval FROM d),
        z AS (SELECT x, y, zval // 4096 AS bucket FROM zv)
        SELECT bucket, COUNT(*) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max,
               MAX(x) - MIN(x) AS x_span, MAX(y) - MIN(y) AS y_span
        FROM z GROUP BY bucket ORDER BY bucket
        """.trim
      },
    ),

    // S1-adjacent: ORC round trip — the THIRD columnar container a
    // migrating warehouse holds (Hive's default). Spark's native ORC
    // source (the orc-core jars ship in every Spark distro) gets the
    // same treatment as parquet: lang-partitioned layout at write,
    // partition PRUNING plus predicate PUSHDOWN at read (both pinned in
    // PlanSpec), and a content checksum through the round trip so a
    // truncated stripe or a mis-written partition breaks the hash. The
    // oracle replays the aggregate from the parquet original — the two
    // containers must agree bit-for-bit on the surviving rows.
    Q(
      "s21_orc_roundtrip",
      (s, dir) => {
        val out = stage("s21") + "/orc"
        val docs = Registry.table(s, dir, "documents")
        docs
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            md5(col("text").cast("binary")).as("h"))
          .write.partitionBy("lang").orc(out)
        s.read.orc(out)
          .filter(col("lang").isin("en", "de") && col("n_chars") >= 500)
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(col("h"), 1, 10), 16, 10).cast("long")).as("content_sum"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("lang", "source")
      },
      Some("""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(('0x' || substr(md5(text), 1, 10))::BIGINT) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        WHERE lang IN ('en', 'de') AND n_chars >= 500
        GROUP BY 1, 2 ORDER BY 1, 2
      """.stripMargin.trim),
    ),

    // S1-adjacent: Avro Object Container File round trip — the row
    // container bridge (sources/AvroFiles): out through the stock
    // avro.mapreduce output format (real Hadoop commit protocol,
    // deflate codec, schema in the header), back in through the stock
    // input format, with the same fold-and-checksum gate as the
    // SequenceFile bridge s16. AvroFilesSpec additionally opens a shard
    // with the plain Avro DataFileStream to prove foreign readability.
    Q(
      "s22_avro_roundtrip",
      (s, dir) => {
        val out = stage("s22") + "/avro"
        val docs = Registry.table(s, dir, "documents")
        graft.sources.AvroFiles.write(
          docs.select(col("doc_id").as("key"),
            to_json(struct(col("source"), col("n_chars"),
              md5(col("text").cast("binary")).as("h"))).as("rec")),
          out)
        val back = graft.sources.AvroFiles.read(s, out)
          .select(col("key"),
            get_json_object(col("rec"), "$.source").as("source"),
            get_json_object(col("rec"), "$.n_chars").cast("long").as("n_chars"),
            get_json_object(col("rec"), "$.h").as("h"))
        back.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_records"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(col("h"), 1, 10), 16, 10).cast("long")).as("content_sum"),
            min(col("key")).as("min_id"),
            max(col("key")).as("max_id"))
          .orderBy("source")
      },
      Some("""
        SELECT source,
               COUNT(*) AS n_records,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(('0x' || substr(md5(text), 1, 10))::BIGINT) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        GROUP BY source ORDER BY source
      """.stripMargin.trim),
    ),

    // S1-adjacent: gzip JSONL shard delivery — THE interchange format a
    // training pipeline hands to trainers (every public LLM corpus —
    // C4, Pile, RedPajama — ships as sharded .json.gz). Out through the
    // native json sink with range-partitioned, record-capped shards
    // (contiguous doc_id spans, bounded shard size → resumable
    // loaders); back in with an EXPLICIT schema — at 100 TB, json
    // schema inference is a full extra pass over the corpus, so the
    // bridge never permits it. The content checksum is recomputed from
    // the read-back text, so a lossy JSON escape/parse cycle (control
    // chars, unicode, embedded quotes) fails the hash, not just a count.
    Q(
      "s23_jsonl_shards",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val out = stage("s23") + "/jsonl"
        val docs = Registry.table(s, dir, "documents")
        docs
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write
          .option("compression", "gzip")
          .option("maxRecordsPerFile", 1000)
          .json(out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_chars", LongType), StructField("text", StringType)))
        s.read.schema(schema).json(out)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(conv(substring(md5(col("text").cast("binary")), 1, 10), 16, 10)
              .cast("long")).as("content_sum"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(('0x' || substr(md5(text), 1, 10))::BIGINT) AS BIGINT) AS content_sum,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM documents
        GROUP BY 1 ORDER BY 1
      """.stripMargin.trim),
    ),

    // S1-adjacent: schema evolution across segment generations — a
    // long-lived store NEVER has one schema: the reference's own record
    // protocol versions fields for exactly this reason, and a parquet
    // warehouse accumulates old-writer segments next to new-writer ones.
    // gen=1 segments lack the `quality` column that gen=2 writers added;
    // the union read reconciles footers (mergeSchema), nulls the missing
    // column for old rows, and aggregates must treat absence as absence
    // (COUNT(col)/SUM skip nulls) — not as zero. The directory name also
    // round-trips as a partition column, so generation-scoped reads stay
    // prunable. Oracle re-derives both generations analytically from
    // parity; a reader that zero-fills, drops old rows, or fails to
    // reconcile the footers breaks the hash.
    Q(
      "s24_schema_evolution",
      (s, dir) => {
        val out = stage("s24") + "/evo"
        val docs = Registry.table(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.parquet(out + "/gen=1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (col("n_chars") % 100).as("quality"))
          .write.parquet(out + "/gen=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count(col("quality")).as("n_with_quality"),
            sum(col("quality")).as("sum_quality"),
            max(col("gen").cast("int")).as("max_gen"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
                 AS n_with_quality,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 END) AS BIGINT)
                 AS sum_quality,
               CAST(MAX(doc_id % 2 + 1) AS INT) AS max_gen
        FROM documents
        GROUP BY 1 ORDER BY 1
      """.stripMargin.trim),
    ),

    // S5/Q-family adjacent: s25 SURT prefix range scan — the CDX lookup
    // shape the reference's query master serves ("every capture under
    // this host/path"): the index is laid out SORTED by SURT key
    // (host-reversed, the s15 form), so a host prefix query is a
    // contiguous key range, not a corpus scan. The range is expressed as
    // a sargable BETWEEN-style pair (urlkey >= prefix AND urlkey <
    // prefix-successor — ')' + 1 = '*'), which reaches the parquet
    // reader as PushedFilters and prunes via row-group min/max zone maps
    // (plan-pinned in PlanSpec); combined with the range-partitioned
    // write, a 1000-executor cluster opens only the files whose key
    // range intersects the prefix — O(result), not O(index). The oracle
    // derives the same capture set relationally (source = 'src7'),
    // proving the range arithmetic selects exactly the host's keys.
    Q(
      "s25_cdx_prefix_scan",
      (s, dir) => {
        val out = stage("s25") + "/cdx"
        val docs = Registry.table(s, dir, "documents")
        val host = concat(col("source"), lit(".example.org"))
        val urlkey = concat(
          array_join(reverse(split(host, "\\.")), ","),
          lit(")/doc/"), col("doc_id").cast("string"))
        docs
          .select(urlkey.as("urlkey"), col("doc_id"), col("lang"),
            col("n_chars"))
          .repartitionByRange(8, col("urlkey"))
          .sortWithinPartitions("urlkey")
          .write.parquet(out)
        val lo = "org,example,src7)"
        val hi = "org,example,src7*" // prefix successor: ')' + 1
        s.read.parquet(out)
          .filter(col("urlkey") >= lo && col("urlkey") < hi)
          .select("urlkey", "doc_id", "lang", "n_chars")
          .orderBy("urlkey")
      },
      Some("""
        SELECT 'org,example,' || source || ')/doc/' ||
                 CAST(doc_id AS VARCHAR) AS urlkey,
               doc_id, lang, n_chars
        FROM documents
        WHERE source = 'src7'
        ORDER BY urlkey
      """.stripMargin.trim),
    ),

    // s26: copy-on-write MERGE (upsert) with partition-pruned rewrite —
    // the Delta/Iceberg-style maintenance op a living corpus needs: apply
    // a batch of updates + inserts by rewriting ONLY the partitions the
    // batch touches. The base corpus is laid out in doc_id-range
    // partitions (bucket = doc_id div 250); the update batch hits buckets
    // 0–1 and the inserts key past max_id (the c5 discipline), landing in
    // fresh partitions — so the rewrite reads O(batch)-many buckets
    // however large the corpus grows, and every untouched partition
    // passes through by NOT being read (the final read unions original
    // dirs with the rewritten output). The affected-bucket list is an
    // O(buckets-touched) driver-side collect (the TFile-manifest class of
    // small collect), and the pruned scans carry real PartitionFilters
    // (plan-pinned). The oracle replays MERGE semantics relationally
    // (FULL OUTER coalesce of base vs upserts), so a row lost, duplicated,
    // or left stale by the rewrite breaks the hash — per-language counts,
    // char sums, AND the bucket fan-out are all value-checked.
    Q(
      "s26_cow_merge",
      (s, dir) => {
        val out = stage("s26")
        val docs = Registry.table(s, dir, "documents")
        val base = docs.select(col("doc_id"), col("lang"), col("n_chars"),
          expr("doc_id div 250").as("bucket"))
        // co-locate each bucket before the dynamic-partition write: an
        // unsorted write fans every task across every bucket dir (tasks ×
        // buckets tiny files — the classic small-file explosion as the
        // corpus grows); hash-distributing on the partition column writes
        // one file per bucket
        base.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(s"$out/base")
        val maxId = base.agg(max(col("doc_id")).as("m"))
        val updates = base.filter(col("bucket") < 2 && col("doc_id") % 10 === 3)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 1000L).as("n_chars"))
        val inserts = base.filter(col("bucket") < 2 && col("doc_id") % 10 === 7)
          .crossJoin(broadcast(maxId))
          .select((col("m") + 1L + col("doc_id")).as("doc_id"),
            lit("new").as("lang"), lit(50L).as("n_chars"))
        val upserts = updates.unionByName(inserts)
          .withColumn("bucket", expr("doc_id div 250"))
        // plan which partitions the batch touches (O(touched) rows)
        val touched = upserts.select("bucket").distinct()
          .collect().map(_.getLong(0)).sorted
        val baseRead = s.read.parquet(s"$out/base")
        // COW rewrite: full-outer coalesce over the touched buckets only
        baseRead.filter(col("bucket").isin(touched: _*))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .join(upserts.select(col("doc_id").as("u_id"),
            col("lang").as("u_lang"), col("n_chars").as("u_chars")),
            col("doc_id") === col("u_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("u_id")).as("doc_id"),
            coalesce(col("u_lang"), col("lang")).as("lang"),
            coalesce(col("u_chars"), col("n_chars")).as("n_chars"))
          .withColumn("bucket", expr("doc_id div 250"))
          .repartition(col("bucket")) // one file per rewritten bucket
          .write.partitionBy("bucket").parquet(s"$out/rewrite")
        // post-merge corpus = untouched base partitions ∪ the rewrite
        val merged = baseRead.filter(!col("bucket").isin(touched: _*))
          .unionByName(s.read.parquet(s"$out/rewrite"))
        merged.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(col("bucket")).as("n_buckets"))
          .orderBy("lang")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, n_chars, doc_id // 250 AS bucket
          FROM documents),
        mx AS (SELECT MAX(doc_id) AS m FROM base),
        upserts AS (
          SELECT doc_id, lang, n_chars + 1000 AS n_chars
          FROM base WHERE bucket < 2 AND doc_id % 10 = 3
          UNION ALL
          SELECT m + 1 + doc_id, 'new', 50
          FROM base CROSS JOIN mx WHERE bucket < 2 AND doc_id % 10 = 7),
        merged AS (
          SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id,
                 COALESCE(u.lang, b.lang) AS lang,
                 COALESCE(u.n_chars, b.n_chars) AS n_chars
          FROM base b FULL OUTER JOIN upserts u ON b.doc_id = u.doc_id)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               COUNT(DISTINCT doc_id // 250) AS n_buckets
        FROM merged
        GROUP BY 1 ORDER BY 1
      """.stripMargin.trim),
    ),

    // s27: CSV delivery round trip under RFC 4180 adversarial content —
    // embedded commas, doubled quotes, AND a literal newline inside a
    // quoted field (the case that breaks naive line-split readers; the
    // read side must run multiLine record assembly). Quote escaping is
    // pinned to the RFC doubled-" convention on both legs (Spark's
    // default escape is backslash — interop poison for every non-Spark
    // consumer). The oracle recomputes the tricky field's md5 + length
    // from the raw table, so a quoting/escaping/record-split defect on
    // either leg breaks the hash. Explicit read schema — no inference
    // pass (the s23 discipline).
    Q(
      "s27_csv_roundtrip",
      (s, dir) => {
        val out = stage("s27") + "/csv"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            concat(lit("x,\"y\"\n"), col("source")).as("tricky"),
            col("n_chars"))
          .write.option("header", "true")
          .option("quoteAll", "true").option("escape", "\"")
          .csv(out)
        s.read
          .schema("doc_id LONG, tricky STRING, n_chars LONG")
          .option("header", "true").option("multiLine", "true")
          .option("escape", "\"")
          .csv(out)
          .select(col("doc_id"), md5(col("tricky")).as("tricky_md5"),
            length(col("tricky")).as("tricky_len"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               md5('x,"y"' || chr(10) || source) AS tricky_md5,
               CAST(length('x,"y"' || chr(10) || source) AS INT) AS tricky_len,
               n_chars
        FROM documents
        WHERE doc_id % 5 = 0
        ORDER BY doc_id
      """.stripMargin.trim),
    ),

    // s28: MANIFEST-PRUNED SCAN — the Iceberg/Delta file-skipping shape:
    // a sidecar manifest records per-file min/max key stats at write
    // time, and a range query consults the MANIFEST (tiny) to choose
    // files, never listing the table or touching non-matching footers.
    // Parquet row-group zone maps (s25) still require opening every
    // file's footer; at 100 TB / millions of files the O(files) listing
    // + footer pass IS the bottleneck, which is exactly why the table-
    // format manifests exist. The data is range-partitioned on the key
    // so file key-spans are tight and disjoint; the matching-file set
    // is an O(selected-files) driver collect (the TFile-manifest class
    // of small collect — bounded by selectivity, not corpus). The spec
    // pins that the pruned read opens a strict subset of files; the
    // oracle proves the file cut loses no rows (full relational scan).
    Q(
      "s28_manifest_pruned_scan",
      (s, dir) => {
        val out = stage("s28")
        val docs = Registry.table(s, dir, "documents")
        docs.select(col("doc_id"), col("lang"), col("n_chars"))
          .repartitionByRange(16, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$out/data")
        s.read.parquet(s"$out/data")
          .groupBy(input_file_name().as("file"))
          .agg(min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"),
            count(lit(1)).as("n_rows"))
          .write.mode("overwrite").parquet(s"$out/manifest")
        prunedRange(s, s"$out/data", s"$out/manifest", 100L, 160L)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE doc_id >= 100 AND doc_id < 160
        ORDER BY doc_id
      """.stripMargin.trim),
    ),

    // s29: ZSTD WARC MEMBERS (`.warc.zst`) — the archive ecosystem's
    // next member codec after gzip (IIPC warc-zstd: one self-contained
    // zstd frame per record, member-seekable, optional skippable
    // dictionary frame). Same graft-warc DSv2 path, same committer
    // discipline, same seekable-`offset` contract — the reader finds
    // frame boundaries by walking RFC 8878 block headers WITHOUT
    // decompressing (sources/ZstdMembers.scala), so pushed-down
    // predicates still skip rejected records' blocks. The round trip
    // writes response records as zstd members, reads them back through
    // the default (dual-codec) glob, and re-splits the HTTP envelope;
    // the oracle never sees WARC or zstd bytes.
    Q(
      "s29_warc_zstd_roundtrip",
      (s, dir) => {
        val out = stage("s29")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 9 === 0)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            lit("10.0.0.2").as("ip"),
            concat(lit(httpHead).cast("binary"),
              col("text").cast("binary")).as("content"))
          .write.format("graft-warc").option("codec", "zstd")
          .mode("append").save(out)
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("url"), col("length"), col("http_status"),
            col("mime_type"), md5(col("payload")).as("payload_md5"))
      },
      Some(s"""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(text) + ${"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n".length} AS BIGINT) AS length,
               200 AS http_status,
               'text/plain' AS mime_type,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id % 9 = 0
      """.stripMargin.trim),
    ),

    // s30: PARQUET FOOTER AUDIT — lake forensics from raw bytes: the
    // Thrift compact-protocol FileMetaData walk
    // (sources/ParquetFooter.scala, parquet-mr-refereed field-by-field
    // in ParquetFooterSpec) reads ONLY each file's tail and reports row
    // counts, row groups, leaf columns, codecs, and the internal
    // consistency check (footer num_rows == Σ row-group rows == every
    // chunk's value count). At 100 TB this audits layout drift
    // (row-group sizing, codec/encoding regressions, column bloat)
    // without row decode — ranged tail reads, corpus-linear in FILES
    // not bytes. The oracle recomputes rows/columns/codec analytically.
    Q(
      "s30_parquet_footer_audit",
      (s, dir) => {
        val out = stage("s30")
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .coalesce(1)
          .write.option("compression", "snappy").mode("overwrite")
          .parquet(s"$out/t")
        val audit = udf((b: Array[Byte]) => {
          val f = graft.sources.ParquetFooter.parse(b)
          if (f == null) (-1L, -1L, null: String, null: String, 0L)
          else {
            val consistent = f.rowGroups.map(_.numRows).sum == f.numRows &&
              f.rowGroups.forall(g => g.columns.forall(_.numValues == g.numRows))
            (f.numRows, f.rowGroups.size.toLong,
              f.schemaLeafNames.mkString(","),
              f.rowGroups.flatMap(_.columns.map { c =>
                // Unknown/newer codec ordinals (or a chunk missing the
                // field, -1) must degrade to a label, never throw in-task.
                val id = c.codecId
                if (id >= 0 && id < graft.sources.ParquetFooter.CodecNames.length)
                  graft.sources.ParquetFooter.CodecNames(id)
                else s"codec_$id"
              }).distinct.sorted.mkString(","),
              if (consistent) 1L else 0L)
          }
        })
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.parquet").load(s"$out/t")
          .select(audit(col("content")).as("a"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(col("a._1")).as("total_rows"),
            sum(col("a._2")).as("n_row_groups"),
            min(col("a._3")).as("leaf_cols"),
            min(col("a._4")).as("codecs"),
            min(col("a._5")).as("all_consistent"))
      },
      Some("""
        SELECT 1::BIGINT AS n_files,
               (SELECT COUNT(*) FROM documents WHERE doc_id % 4 = 0)::BIGINT
                 AS total_rows,
               1::BIGINT AS n_row_groups,
               'doc_id,lang,n_chars' AS leaf_cols,
               'snappy' AS codecs,
               1::BIGINT AS all_consistent
      """.stripMargin.trim),
    ),

    // s31: ZSTD DICTIONARY SLOT — the whole point of warc-zstd's
    // skippable dictionary frame: millions of small records share one
    // per-file dictionary, amortizing the entropy tables the records
    // are too small to carry individually. The writer buffers the
    // first `dictSamples` records of each FILE, trains a zstd
    // dictionary on them (budgeted buffer; training failure degrades
    // to self-contained frames), emits the 0x184D2A5D skippable frame,
    // then every member compresses against the shared dictionary. The
    // reader captures the slot and decodes Dictionary_ID-bearing
    // frames against it — still walking block headers WITHOUT
    // decompressing for member boundaries. The oracle never sees WARC
    // or zstd bytes, so a mis-trained/mis-applied dictionary breaks
    // every payload hash.
    Q(
      "s31_warc_zstd_dict",
      (s, dir) => {
        val out = stage("s31")
        val httpHead = "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n"
        Registry.table(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            lit("10.0.0.3").as("ip"),
            concat(lit(httpHead).cast("binary"),
              col("text").cast("binary")).as("content"))
          .write.format("graft-warc")
          .option("codec", "zstd").option("dictSamples", "16")
          .mode("append").save(out)
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("url"), col("length"), col("http_status"),
            col("mime_type"), md5(col("payload")).as("payload_md5"))
      },
      Some(s"""
        SELECT 'http://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
               CAST(strlen(text) + ${"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=UTF-8\r\n\r\n".length} AS BIGINT) AS length,
               200 AS http_status,
               'text/plain' AS mime_type,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id % 3 = 1
      """.stripMargin.trim),
    ),

    // s32: CONTENT-ENCODING ENVELOPE — the full HTTP body decode a
    // crawl pipeline applies after the WARC split: Transfer-Encoding
    // chunked (x18's dechunker) composed with Content-Encoding
    // gzip / br / identity (RFC 9110 §8.4 reverse-order chain,
    // core/Http.decodeContentEncoding; br = the clean-room RFC 7932
    // decoder, the second most common encoding on the 2026 web). The
    // fixture writes response records whose bodies cycle br (the
    // libbrotlidec-pinned assembled stream) / gzip (JDK) / identity,
    // half of them chunked, through the graft-warc writer; the read
    // side splits the envelope, parses TE/CE from the headers, and
    // decodes — the oracle never sees WARC, chunking, gzip, or brotli
    // bytes, so any envelope mis-handling breaks the text hash.
    Q(
      "s32_content_encoding",
      (s, dir) => {
        val out = stage("s32")
        val pack = udf((id: Long, lang: String, text: String) => {
          val k = ((id % 251) + 251) % 251
          val (ce, body0) = (k % 3) match {
            case 0 => ("br", graft.core.BrotliFixture.encode(id, lang))
            case 1 =>
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(text.getBytes("UTF-8")); g.close()
              ("gzip", bos.toByteArray)
            case _ => (null: String, text.getBytes("UTF-8"))
          }
          val chunked = k % 2 == 1
          val body =
            if (chunked) graft.core.Http.enchunk(body0, (k % 31 + 9).toInt,
              withExt = false, trailer = None)
            else body0
          val head = new StringBuilder("HTTP/1.1 200 OK\r\n")
            .append("Content-Type: text/plain\r\n")
          if (ce != null) head.append("Content-Encoding: ").append(ce).append("\r\n")
          if (chunked) head.append("Transfer-Encoding: chunked\r\n")
          else head.append("Content-Length: ").append(body.length).append("\r\n")
          head.append("\r\n")
          head.toString.getBytes("ISO-8859-1") ++ body
        })
        graft.ops.Seam.spread(Registry.table(s, dir, "documents"), "doc_id")
          .select(
            concat(lit("http://"), col("source"), lit("/ce/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            pack(col("doc_id"), col("lang"), col("text")).as("content"))
          .write.format("graft-warc").mode("append").save(out)
        val dec = udf((headers: Map[String, String], payload: Array[Byte]) => {
          val h = if (headers == null) Map.empty[String, String] else headers
          def field(name: String): String =
            h.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
              .map(_.trim).orNull
          val te = Option(field("Transfer-Encoding"))
            .exists(_.equalsIgnoreCase("chunked"))
          val ce = field("Content-Encoding")
          val body =
            if (te) {
              val r = graft.core.Http.dechunkCounted(payload)
              if (r == null) null else r._1
            } else payload
          val d = graft.core.Http.decodeContentEncoding(ce, body)
          if (d == null) null else new String(d, "UTF-8")
        })
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("url"),
            dec(col("http_headers"), col("payload")).as("text"))
          .select(col("url"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("url")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, text, source, doc_id % 251 AS k
          FROM documents),
        d AS (
          SELECT 'http://' || source || '/ce/' || doc_id AS url,
                 CASE WHEN k % 3 = 0 THEN concat(
                   'RAW:' || doc_id || ';',
                   repeat('brotli doc ' || doc_id || ' in ' || lang || ' ',
                          CAST(k % 6 + 2 AS INTEGER)),
                   CASE WHEN k % 4 = 0 THEN ' END' ELSE '' END)
                 ELSE text END AS t
          FROM base)
        SELECT url,
               strlen(t)::BIGINT AS n_chars,
               md5(t) AS text_md5
        FROM d
        ORDER BY url
      """.stripMargin.trim),
    ),
  )

  /** The s28 read path: select files whose [min_id, max_id] span
    * intersects [lo, hi) from the manifest, then scan ONLY those
    * (residual predicate still applied — manifests prune, they don't
    * filter). Shared with the spec, which pins the file-subset claim. */
  private[graft] def prunedRange(s: SparkSession, data: String,
      manifest: String, lo: Long, hi: Long): org.apache.spark.sql.DataFrame = {
    val files = s.read.parquet(manifest)
      .filter(col("max_id") >= lo && col("min_id") < hi)
      .select("file").collect().map(_.getString(0))
    require(files.nonEmpty, s"manifest selected no files for [$lo, $hi)")
    s.read.parquet(files.toIndexedSeq: _*)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
  }
}
