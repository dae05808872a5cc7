package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.RiceCoding

/** Training-data curation surface over `documents`/`events` (LLM-pipeline
  * extension, SURVEY §2.14): reproducible corpus splits, length profiling,
  * mixture weighting, skew-proof exact distinct, posting-list compression,
  * and the end-to-end dedupe→filter→sample→shard pipeline.
  *
  * Portability rules (the oracle hash-compares bit-exact):
  *  - all counts/sums are over int64 — exact in any engine;
  *  - the only doubles are single IEEE divisions of exact longs, computed
  *    in the same operand order on both sides;
  *  - randomness is md5-based (lowercase hex in both Spark and DuckDB), so
  *    every "sample" is a pure deterministic function of the row key.
  */
object CurationQueries {

  /** Two-hex-char md5 bucket of a salted key: 256 uniform buckets whose
    * lexicographic order both engines agree on (binary collation). The
    * reference's sampling is ad-hoc (mapper-side HashSet mod — e.g. the
    * ≤100-sample caps in CrawlDBMergingReducer.java:95); hash-bucketing is
    * the scale-out replacement: reproducible under re-runs, re-partitioning,
    * and incremental appends, because it depends only on the row key. */
  private def md5Bucket(salt: String, key: org.apache.spark.sql.Column) =
    substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 2)

  private def md5BucketSql(salt: String, key: String) =
    s"substr(md5('$salt:' || CAST($key AS VARCHAR)), 1, 2)"

  /** One frozen-split staging dir per (JVM, stageDir base), d9 discipline:
    * saveAsTable(overwrite) to the same external location replaces the
    * assignment table in place, so reruns don't accumulate copies. */
  private val cu24Stage = new Staging.Memo("cu24")
  private def cu24StagePath: String = cu24Stage.path

  /** Oracle fragment: normalized whitespace tokens (the t2 tokenizer). */
  private val TokensSql =
    raw"string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')"

  /** Hard cap on posting-list length: tokens seen in more documents than
    * this never reach `collect_list`, so every aggregation buffer in cu5
    * holds at most this many ids regardless of corpus size. The reference
    * enforces the same invariant when READING lists back — it truncates at
    * 2^27 bytes / 8-byte items (DatabaseIndexV2.java:772,811-814); gating
    * at build time is the shuffle-native equivalent (a stop word's list is
    * useless for lookup anyway, exactly why the reference truncates it). */
  val MaxPostingDocFreq: Int = 1 << 14

  /** cu5's plan, parameterized so the spec can pin the bounded-state
    * invariant with a tiny cap. `pairs` is materialized once (d8's
    * stop-doc-freq gate pattern, Dedupe.sharedSubstringPairs) and feeds
    * both the frequency gate and the gated collect; the gate join and the
    * final groupBy share the `token` hash-partitioning, so the gate costs
    * one extra small aggregate, not an extra shuffle of the pairs. */
  def postings(docs: org.apache.spark.sql.DataFrame,
      maxDocFreq: Int = MaxPostingDocFreq): org.apache.spark.sql.DataFrame = {
    val roundtrip = udf { ids: Seq[Long] =>
      val sorted = ids.sorted
      val decoded = RiceCoding.decodeSortedList(RiceCoding.encodeSortedList(sorted))
      require(decoded == sorted, "posting list codec round-trip mismatch")
      decoded.sum
    }
    val pairs = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("token"))
      .filter(length(col("token")) >= 5)
      .distinct()
      .transform(graft.ops.Iterative.materialize) // feeds gate + gated collect
    val eligible = pairs.groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= maxDocFreq)
    pairs.join(eligible, "token")
      .groupBy("token", "doc_freq")
      .agg(collect_list("doc_id").as("ids")) // bounded: |ids| <= maxDocFreq
      .select(col("token"), col("doc_freq"),
        roundtrip(col("ids")).as("docid_sum"))
      .orderBy("token")
  }

  def defs: Seq[Q] = Seq(
    // ---------------------------------------------------------------
    // cu1: deterministic train/val/test split. Buckets 00-0c (~5%) test,
    // 0d-19 (~5%) val, rest train — a pure function of doc_id, so the
    // split survives recomputation on any cluster layout. One shuffle
    // (the groupBy); the md5 is codegen'd per row.
    Q(
      "cu1_det_split",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val b = md5Bucket("split", col("doc_id"))
        docs
          .withColumn(
            "split",
            when(b < lit("0d"), lit("test"))
              .when(b < lit("1a"), lit("val"))
              .otherwise(lit("train")))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
          .orderBy("lang", "split")
      },
      Some(s"""
        SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM (
          SELECT lang, n_chars,
                 CASE WHEN ${md5BucketSql("split", "doc_id")} < '0d' THEN 'test'
                      WHEN ${md5BucketSql("split", "doc_id")} < '1a' THEN 'val'
                      ELSE 'train' END AS split
          FROM documents)
        GROUP BY lang, split
        ORDER BY lang, split
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu2: per-language length-distribution profile via ntile deciles —
    // exact quantile boundaries without engine-specific interpolation
    // (ntile is pure row-order arithmetic, identical everywhere). NO
    // per-row window: a naive ntile over partitionBy(lang) would sort a
    // whole language on ONE task, and a dominant language is ~half a
    // crawl corpus. The output only needs per-(lang, decile) aggregates,
    // and within one (lang, n_chars) value group every decile aggregate
    // is symmetric in the rows, so the exact answer derives from value-
    // group COUNTS: one partial-agg'd groupBy(lang, n_chars), a prefix
    // sum over group SIZES per lang (O(distinct lengths), never data
    // rows), then SQL-ntile boundary arithmetic — with n rows, q = n/10
    // and rem = n%10, decile d covers ranks
    // [(d-1)q + min(d-1,rem) + 1, dq + min(d,rem)] — intersected with
    // each group's rank span [s, s+c-1].
    Q(
      "cu2_length_deciles",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val vg = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
        val totals = vg.groupBy("lang").agg(sum("c").as("n"))
        val ranked = vg.withColumn("s",
          coalesce(sum("c").over(
            Window.partitionBy("lang").orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1)
        ranked.join(broadcast(totals), "lang")
          .withColumn("q", expr("n div 10"))
          .withColumn("rem", col("n") % 10)
          .withColumn("e", col("s") + col("c") - 1)
          .withColumn("decile", explode(sequence(lit(1L), lit(10L))))
          .withColumn("d_lo",
            (col("decile") - 1) * col("q")
              + least(col("decile") - 1, col("rem")) + 1)
          .withColumn("d_hi",
            col("decile") * col("q") + least(col("decile"), col("rem")))
          .withColumn("k",
            least(col("e"), col("d_hi")) - greatest(col("s"), col("d_lo")) + 1)
          .filter(col("k") >= 1)
          .groupBy("lang", "decile")
          .agg(
            sum("k").as("n_docs"),
            min("n_chars").as("chars_lo"),
            max("n_chars").as("chars_hi"),
            sum(col("k") * col("n_chars")).as("chars_sum"))
          .orderBy("lang", "decile")
      },
      Some("""
        SELECT lang, decile, COUNT(*) AS n_docs,
               MIN(n_chars) AS chars_lo, MAX(n_chars) AS chars_hi,
               CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        FROM (
          SELECT lang, n_chars,
                 ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
          FROM documents)
        GROUP BY lang, decile
        ORDER BY lang, decile
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu3: data-mixing weights. Per (lang, source) cell: its share of the
    // language's chars and the up/down-sampling weight that would make the
    // mixture uniform across that language's sources. Long sums first
    // (exact), then single IEEE divisions in a fixed operand order so the
    // doubles hash-match the oracle.
    Q(
      "cu3_mix_weights",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val wl = Window.partitionBy("lang")
        docs
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("cell_chars"))
          .withColumn("share",
            col("cell_chars").cast("double") /
              sum("cell_chars").over(wl).cast("double"))
          .withColumn("weight",
            (lit(1.0) / count(lit(1)).over(wl).cast("double")) / col("share"))
          .orderBy("lang", "source")
      },
      Some("""
        SELECT lang, source, n_docs, cell_chars,
               cell_chars::DOUBLE / (SUM(cell_chars) OVER (PARTITION BY lang))::DOUBLE AS share,
               (1.0 / (COUNT(*) OVER (PARTITION BY lang))::DOUBLE)
                 / (cell_chars::DOUBLE / (SUM(cell_chars) OVER (PARTITION BY lang))::DOUBLE) AS weight
        FROM (
          SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS cell_chars
          FROM documents GROUP BY lang, source)
        ORDER BY lang, source
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu4: exact distinct-count over skewed keys, two-phase. A direct
    // count_distinct on a handful of hot event_types funnels every row of
    // a hot key through one partial-agg path; pre-grouping on
    // (event_type, user_id) makes phase 1 shuffle on the COMPOSITE key
    // (uniform even when event_type is pathologically skewed) and phase 2
    // count tiny pre-aggregated rows. Same trick the reference plays with
    // its Bloom-gated HashSets (LinkGraphDataEmitter.java:302-336), made
    // shuffle-native.
    Q(
      "cu4_twophase_distinct",
      (s, dir) => {
        val events = Registry.table(s, dir, "events")
        events
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("distinct_users"), sum("c").as("n_events"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu5: inverted-index posting lists through the delta+Rice codec
    // (CompressedURLFPListV2 shape, util/RiceCoding.java:25). Long rare
    // tokens → distinct (token, doc_id) pairs → doc-freq gate (bounded
    // aggregation state, see `postings`) → per-token sorted id list,
    // encoded and decoded inside the row so the checksum the oracle
    // verifies is computed FROM THE DECODED BYTES — a broken codec breaks
    // the hash.
    Q(
      "cu5_postings",
      (s, dir) => postings(Registry.table(s, dir, "documents")),
      Some(s"""
        SELECT token, doc_freq, docid_sum FROM (
          SELECT token, COUNT(*) AS doc_freq,
                 CAST(SUM(doc_id) AS BIGINT) AS docid_sum
          FROM (
            SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS token
            FROM documents)
          WHERE length(token) >= 5
          GROUP BY token)
        WHERE doc_freq <= $MaxPostingDocFreq
        ORDER BY token
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu6: the full curation pipeline in one plan — exact dedupe (min
    // doc_id per content hash), quality floor, deterministic 90% train
    // sample, shard packing — ending in per-shard manifests. Each stage is
    // a narrow transform on the previous shuffle's output; the only wide
    // ops are the dedupe window and the final shard groupBy.
    Q(
      "cu6_curation_pipeline",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // exact dedupe as an arg-min aggregate, not a window: min_by gets
        // map-side partial aggregation and ships only (hash, doc_id,
        // n_chars) into the shuffle — a window over md5(text) would carry
        // the full text through the exchange and sort every partition
        docs
          .select(md5(col("text")).as("h"), col("doc_id"), col("n_chars"))
          .groupBy("h")
          .agg(min_by(struct(col("doc_id"), col("n_chars")), col("doc_id")).as("w"))
          .select(col("w.doc_id").as("doc_id"), col("w.n_chars").as("n_chars"))
          .filter(col("n_chars") >= 200)
          .filter(md5Bucket("split", col("doc_id")) >= lit("1a"))
          .withColumn("shard_id", pmod(col("doc_id"), lit(8)))
          .groupBy("shard_id")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            min("doc_id").as("min_doc"),
            max("doc_id").as("max_doc"))
          .orderBy("shard_id")
      },
      Some(s"""
        WITH dedup AS (
          SELECT doc_id, n_chars,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents),
        kept AS (
          SELECT doc_id, n_chars FROM dedup
          WHERE rn = 1 AND n_chars >= 200
            AND ${md5BucketSql("split", "doc_id")} >= '1a')
        SELECT doc_id % 8 AS shard_id, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM kept GROUP BY shard_id ORDER BY shard_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu7: sequence packing — assemble documents into fixed token-budget
    // training sequences (the batch-assembly step after curation; lg3 is
    // the same prefix-sum packing shape for crawl segments). Docs are
    // hash-sharded, then packed within each shard by a running token sum
    // over a deterministic (md5-bucket, doc_id) order — computed with
    // the cu12/cu13 TWO-PHASE shape, not a per-shard window: 16 shards
    // is a parallelism cap, and one shard is corpus/16 rows on a single
    // task at 100 TB. The md5 order's leading 2 hex chars split each
    // shard into 256 contiguous ranges, so cumsum = within-(shard,
    // bucket) running sum + the bucket's per-shard TOKEN-TOTAL prefix
    // (a ≤256-rows-per-shard broadcast) — bit-identical seq boundaries,
    // 4096-way parallel. Token count is the chars/4 heuristic; seq
    // boundaries fall out of floor(cumsum/budget).
    Q(
      "cu7_sequence_packing",
      (s, dir) => {
        val budget = 2048L
        val docs = Registry.table(s, dir, "documents")
        val keyed = docs
          .select(col("doc_id"),
            pmod(col("doc_id"), lit(16)).as("shard_id"),
            expr("n_chars div 4").as("n_tokens"))
          .withColumn("b", md5Bucket("pack", col("doc_id")))
        val offs = keyed.groupBy("shard_id", "b")
          .agg(sum("n_tokens").as("bt"))
          .withColumn("off",
            coalesce(sum("bt").over(
              Window.partitionBy("shard_id").orderBy("b")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("shard_id"), col("b"), col("off"))
        keyed
          .withColumn("run",
            sum(col("n_tokens")).over(
              Window.partitionBy("shard_id", "b").orderBy(col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(offs), Seq("shard_id", "b"))
          .withColumn("seq_id",
            floor((col("off") + col("run") - col("n_tokens")) / budget))
          .groupBy("shard_id", "seq_id")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("sum_tokens"),
            min("doc_id").as("first_doc"))
          .orderBy("shard_id", "seq_id")
      },
      Some(s"""
        SELECT shard_id, seq_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MIN(doc_id) AS first_doc
        FROM (
          SELECT doc_id, shard_id, n_tokens,
                 CAST(floor((SUM(n_tokens) OVER (
                     PARTITION BY shard_id
                     ORDER BY ${md5BucketSql("pack", "doc_id")}, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens) / 2048) AS BIGINT) AS seq_id
          FROM (
            SELECT doc_id, doc_id % 16 AS shard_id, n_chars // 4 AS n_tokens
            FROM documents))
        GROUP BY shard_id, seq_id
        ORDER BY shard_id, seq_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu8: decontamination — flag training docs that share word 4-grams
    // with a held-out benchmark set (here: source 'src0'), the standard
    // pre-training hygiene check. Gram construction is a narrow
    // transform; the only wide ops are the (doc, gram) distinct and the
    // gram join, both keyed by the gram — and the benchmark side is tiny
    // relative to the corpus, so at scale it broadcasts (or rides the
    // runtime bloom filter) instead of shuffling the training grams twice.
    Q(
      "cu8_decontamination",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toks = graft.ops.TextAnalysis.tokens(col("text"))
        val gramList = when(size(col("t")) < 4, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col("t")) - 3),
            i => array_join(slice(col("t"), i, lit(4)), " ")))
        val grams = docs
          .select(col("doc_id"), col("source"), toks.as("t"))
          .select(col("doc_id"), col("source"), explode(gramList).as("g"))
          .distinct()
        val bench = grams.filter(col("source") === "src0").select("g").distinct()
        grams
          .filter(col("source") =!= "src0")
          .join(bench.withColumn("hit", lit(1L)), Seq("g"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_grams"),
            sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
          .filter(col("n_contaminated") > 0)
          .withColumn("contamination",
            col("n_contaminated").cast("double") / col("n_grams").cast("double"))
          .orderBy("doc_id")
      },
      Some(raw"""
        WITH toks AS (
          SELECT doc_id, source,
                 string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS t
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, source, array_to_string(t[i:i+3], ' ') AS g
          FROM toks, UNNEST(range(1, greatest(len(t) - 3, 0) + 1)) AS u(i)),
        bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        scored AS (
          SELECT tr.doc_id, COUNT(*) AS n_grams,
                 CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_contaminated
          FROM (SELECT * FROM grams WHERE source != 'src0') tr
          LEFT JOIN bench b ON tr.g = b.g
          GROUP BY tr.doc_id)
        SELECT doc_id, n_grams, n_contaminated,
               n_contaminated::DOUBLE / n_grams::DOUBLE AS contamination
        FROM scored
        WHERE n_contaminated > 0
        ORDER BY doc_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu9: per-document top-3 keywords by TF-IDF — the keyword-extraction
    // / topic-tagging pass of a curation pipeline. Log-free IDF
    // (tf·N/df as exact int64 product over one IEEE division) keeps the
    // score bit-portable across engines; ties break on the token. Shape:
    // explode → (doc,token) count → df via groupBy(token) + equi-join
    // back onto tf — NOT a token-partitioned window: a window buffers a
    // token's whole posting list on ONE task, and a stop-like token's
    // list is O(corpus) rows at 100 TB; the groupBy form moves the same
    // bytes hash-distributed with map-side partial aggregation, and the
    // per-doc ranking window is bounded by per-document vocabulary.
    Q(
      "cu9_tfidf",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tf = docs
          .select(col("doc_id"),
            explode(graft.ops.TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy("doc_id", "token")
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
        tf
          .join(df, "token")
          .crossJoin(broadcast(nDocs))
          .withColumn("score",
            (col("tf") * col("n_docs")).cast("double") / col("df"))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy("doc_id")
                .orderBy(col("score").desc, col("token").asc)).cast("long"))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "token", "tf", "df", "score")
          .orderBy("doc_id", "rank")
      },
      Some(raw"""
        WITH tf AS (
          SELECT doc_id, token, COUNT(*) AS tf
          FROM (
            SELECT doc_id,
                   unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS token
            FROM documents)
          GROUP BY 1, 2),
        scored AS (
          SELECT doc_id, token, tf,
                 COUNT(*) OVER (PARTITION BY token)::BIGINT AS df
          FROM tf),
        ranked AS (
          SELECT doc_id, token, tf, df,
                 (tf * (SELECT COUNT(*) FROM documents))::DOUBLE / df AS score
          FROM scored)
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, token ASC)::BIGINT AS rank,
               token, tf, df, score
        FROM (SELECT * FROM ranked)
        QUALIFY rank <= 3
        ORDER BY doc_id, rank
      """.trim),
    ),

    // cu10: quality-stratified deterministic sampling — the CCNet/FineWeb
    // move: docs are tiered by quality score and subsampled at a
    // tier-specific keep rate, so high-quality text is retained in full
    // while low-quality text is thinned, reproducibly. The keep decision
    // is an md5 bucket of the doc id against a per-tier hex threshold
    // (high: keep all, mid: < '80' ≈ 50%, low: < '1a' ≈ 10%) — a pure
    // function of the row key, stable under re-runs, re-partitioning, and
    // incremental appends. One shuffle (the rollup); everything else is a
    // linear codegen'd scan.
    Q(
      "cu10_quality_sample",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val q = graft.ops.TextAnalysis.qualityFeatures(docs, "text")
          .withColumn("tier",
            when(col("quality_score") >= 0.75, lit("high"))
              .when(col("quality_score") >= 0.5, lit("mid"))
              .otherwise(lit("low")))
        val b = md5Bucket("qsample", col("doc_id"))
        val kept = when(col("tier") === "high", lit(true))
          .when(col("tier") === "mid", b < lit("80"))
          .otherwise(b < lit("1a"))
        q.withColumn("kept", kept)
          .groupBy("lang", "tier")
          .agg(
            count(lit(1)).as("n_candidates"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
          .withColumn("kept_frac",
            col("n_kept").cast("double") / col("n_candidates"))
          .orderBy("lang", "tier")
      },
      Some(s"""
        WITH feats AS (
          SELECT doc_id, lang, n_chars,
                 LEAST(n_tokens::DOUBLE / 64.0, 1.0) * 0.5
                   + LEAST((n_types::DOUBLE / n_tokens) * 2.0, 1.0) * 0.5 AS quality_score
          FROM (
            SELECT doc_id, lang, n_chars,
                   len(${TokensSql})::BIGINT AS n_tokens,
                   len(list_distinct(${TokensSql}))::BIGINT AS n_types
            FROM documents)),
        tiered AS (
          SELECT lang, n_chars,
                 CASE WHEN quality_score >= 0.75 THEN 'high'
                      WHEN quality_score >= 0.5 THEN 'mid'
                      ELSE 'low' END AS tier,
                 CASE WHEN quality_score >= 0.75 THEN TRUE
                      WHEN quality_score >= 0.5
                        THEN ${md5BucketSql("qsample", "doc_id")} < '80'
                      ELSE ${md5BucketSql("qsample", "doc_id")} < '1a' END AS kept
          FROM feats)
        SELECT lang, tier, COUNT(*) AS n_candidates,
               SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               SUM(CASE WHEN kept THEN n_chars ELSE 0 END)::BIGINT AS chars_kept,
               SUM(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS kept_frac
        FROM tiered
        GROUP BY lang, tier
        ORDER BY lang, tier
      """.trim),
    ),

    // cu11: duplicate-weighted token accounting. Dedupe keeps one
    // representative per content hash, but mixture weighting needs to see
    // how much raw text each (lang, source) cell contributed BEFORE
    // dedupe — the dup_inflation ratio is the standard diagnostic for
    // which sources are mostly boilerplate. Attribution goes to the
    // keeper (min doc_id) row's lang/source, the same deterministic
    // representative cu6/d1 keep. Two shuffles, both on aggregated keys;
    // the text only ever enters the plan as its md5.
    Q(
      "cu11_dup_weights",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val base = docs.select(
          col("doc_id"), col("lang"), col("source"),
          md5(col("text").cast("binary")).as("h"),
          size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        base.groupBy("h")
          .agg(
            count(lit(1)).as("mult"),
            min_by(
              struct(col("lang"), col("source"), col("n_tokens")),
              col("doc_id")).as("k"))
          .groupBy(col("k.lang").as("lang"), col("k.source").as("source"))
          .agg(
            count(lit(1)).as("uniq_docs"),
            sum(col("mult")).as("raw_docs"),
            sum(col("k.n_tokens")).as("uniq_tokens"),
            sum(col("mult") * col("k.n_tokens")).as("raw_tokens"))
          .withColumn("dup_inflation",
            col("raw_tokens").cast("double") / col("uniq_tokens"))
          .orderBy("lang", "source")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang, source, md5(text) AS h,
                 len(${TokensSql})::BIGINT AS n_tokens
          FROM documents),
        g AS (
          SELECT h, COUNT(*) AS mult,
                 min_by(lang, doc_id) AS lang,
                 min_by(source, doc_id) AS source,
                 min_by(n_tokens, doc_id) AS n_tokens
          FROM base GROUP BY h)
        SELECT lang, source, COUNT(*) AS uniq_docs,
               SUM(mult)::BIGINT AS raw_docs,
               SUM(n_tokens)::BIGINT AS uniq_tokens,
               SUM(mult * n_tokens)::BIGINT AS raw_tokens,
               SUM(mult * n_tokens)::DOUBLE / SUM(n_tokens) AS dup_inflation
        FROM g
        GROUP BY lang, source
        ORDER BY lang, source
      """.trim),
    ),
    // cu12: deterministic epoch shuffle — every training epoch is a fresh
    // global permutation (key = md5(epoch:doc_id)) packed into fixed-size
    // shards. The global position is NOT a global window (that single-
    // partitions the corpus): ordering by the md5 key means the 256
    // two-hex-prefix buckets are contiguous ranges of the global order, so
    // rank = per-bucket row_number (parallel) + the bucket's size prefix
    // sum (a 256-row broadcast). Same prefix-sum packing shape as lg3's
    // segment assembly, applied to the training-shard problem.
    Q(
      "cu12_epoch_shuffle",
      (s, dir) => {
        val k = Registry.table(s, dir, "documents")
          .select(col("doc_id"),
            md5(concat(lit("e3:"), col("doc_id").cast("string"))).as("sk"))
          .withColumn("b", substring(col("sk"), 1, 2))
        // 256-row prefix sum; the single-partition window is over bucket
        // SIZES, never over data rows — safe at any corpus size
        val offs = k.groupBy(col("b")).agg(count(lit(1)).as("n"))
          .withColumn("off",
            coalesce(sum(col("n")).over(
              Window.orderBy(col("b"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("b"), col("off"))
        k.withColumn("r",
            row_number().over(
              Window.partitionBy(col("b")).orderBy(col("sk"), col("doc_id"))))
          .join(broadcast(offs), "b")
          .withColumn("pos", col("r").cast("long") - 1 + col("off"))
          .select(
            expr("pos div 64").as("shard"),
            expr("pos % 64").as("pos_in_shard"),
            col("doc_id"), col("sk"))
          .orderBy("shard", "pos_in_shard")
      },
      Some("""
        WITH k AS (
          SELECT doc_id, md5('e3:' || CAST(doc_id AS VARCHAR)) AS sk
          FROM documents
        ), o AS (
          SELECT doc_id, sk,
                 ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS pos
          FROM k
        )
        SELECT CAST(pos // 64 AS BIGINT) AS shard,
               CAST(pos % 64 AS BIGINT) AS pos_in_shard, doc_id, sk
        FROM o ORDER BY shard, pos_in_shard
      """.trim),
    ),
    // cu13: temperature-scaled mixture resampling — the data-mix
    // primitive of the Gopher/LLaMA recipes: source weights ∝
    // share^(1/T) flatten the natural distribution (T=2 here, so the
    // exponent is a SQRT — correctly rounded per IEEE, hence bit-equal
    // in any engine; no pow in a branch). Floats touch only the 10
    // per-source weights (rounded once to integer micro-units); every
    // per-document decision is integer: budget*wgt//wsum targets, and
    // each source contributes its md5-first `target` docs — the same
    // deterministic-order selection as cu10/PageRank sampling.
    Q(
      "cu13_temperature_mix",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val tot = per.agg(sum("n_docs").as("total"))
        val w = per.crossJoin(broadcast(tot)) // one-row scalar
          .withColumn("wgt",
            round(sqrt(col("n_docs").cast("double") / col("total").cast("double")) * 1e6, 0)
              .cast("long"))
        val ws = w.agg(sum("wgt").as("wsum"))
        val tgt = w.crossJoin(broadcast(ws)) // one-row scalar
          .withColumn("target", expr("(total div 4) * wgt div wsum"))
          .select("source", "n_docs", "wgt", "target")
        // two-phase per-source rank (cu12's bucket-prefix-sum shape):
        // the md5 sort key's leading two hex chars split every source
        // into 256 contiguous ranges of its per-source order, so
        // rank = row_number within (source, bucket) + the bucket's
        // per-source size prefix sum (a ≤256-rows-per-source broadcast).
        // The naive Window.partitionBy("source") this replaces shuffles
        // a whole source to ONE task and sorts it there — at 100 TB a
        // dominant source is a single-task sort; here no task ever
        // holds more than ~1/256 of one source.
        val keyed = docs
          .withColumn("sk",
            md5(concat(lit("mix:"), col("doc_id").cast("string"))))
          .withColumn("b", substring(col("sk"), 1, 2))
        // prefix sum over bucket SIZES (≤256 rows per source), never data
        val offs = keyed.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("off",
            coalesce(sum(col("bn")).over(
              Window.partitionBy("source").orderBy("b")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("b"), col("off"))
        val ranked = keyed
          .withColumn("r", row_number().over(
            Window.partitionBy(col("source"), col("b"))
              .orderBy(col("sk"), col("doc_id"))))
          .join(broadcast(offs), Seq("source", "b"))
          .withColumn("rk", col("r").cast("long") + col("off"))
        val picked = ranked
          .join(broadcast(tgt.select("source", "target")), "source")
          .filter(col("rk") <= col("target"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_picked"), sum("doc_id").as("picked_id_sum"))
        tgt.join(picked, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("wgt"), col("target"),
            coalesce(col("n_picked"), lit(0L)).as("n_picked"),
            coalesce(col("picked_id_sum"), lit(0L)).as("picked_id_sum"))
          .orderBy("source")
      },
      Some("""
        WITH per AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per),
        w AS (SELECT source, n_docs,
                     CAST(round(sqrt(n_docs::DOUBLE / total::DOUBLE) * 1e6) AS BIGINT) AS wgt
              FROM per, tot),
        ws AS (SELECT CAST(SUM(wgt) AS BIGINT) AS wsum FROM w),
        tgt AS (SELECT source, n_docs, wgt,
                       (total // 4) * wgt // wsum AS target
                FROM w, ws, tot),
        rk AS (SELECT source, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
               FROM documents),
        picked AS (
          SELECT rk.source, COUNT(*) AS n_picked,
                 CAST(SUM(doc_id) AS BIGINT) AS picked_id_sum
          FROM rk JOIN tgt ON rk.source = tgt.source
          WHERE rk.rk <= tgt.target GROUP BY rk.source)
        SELECT t.source, t.n_docs, t.wgt, CAST(t.target AS BIGINT) AS target,
               COALESCE(p.n_picked, 0) AS n_picked,
               COALESCE(p.picked_id_sum, 0) AS picked_id_sum
        FROM tgt t LEFT JOIN picked p ON t.source = p.source
        ORDER BY t.source
      """.trim),
    ),

    // cu14: deterministic WEIGHTED Bernoulli subsampling — inclusion
    // probability ∝ document length (the duplication-weight / quality-
    // weight shape), zero coordination: the keep decision reads one row,
    // so the operator is embarrassingly parallel, reproducible under
    // re-partitioning and appends, and the sample of a union is the
    // union of samples. Integer-exact thresholds (ops/Sampling split-
    // division) make the oracle an exact hash match, not statistical.
    Q(
      "cu14_weighted_sample",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val den = docs.agg((max(col("n_chars")) * 2).as("denom"))
        graft.ops.Sampling.weightedKeep(
            docs.crossJoin(broadcast(den)),
            "cu14", "doc_id", "n_chars", "denom", "kept")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_total"),
            count(when(col("kept"), 1)).as("n_kept"),
            coalesce(sum(when(col("kept"), col("n_chars"))), lit(0L)).as("chars_kept"))
          .orderBy(col("source"))
      },
      Some("""
        WITH den AS (SELECT 2*MAX(n_chars) AS d FROM documents),
        s AS (
          SELECT doc_id, source, n_chars,
            lpad(substr(md5('cu14:' || CAST(doc_id AS VARCHAR)), 1, 15), 16, '0') AS u16,
            lpad(lower(to_hex(least(
              (1152921504606846976 // d) * n_chars
                + ((1152921504606846976 % d) * n_chars) // d,
              1152921504606846976))), 16, '0') AS thr
          FROM documents, den
        )
        SELECT source,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE u16 < thr) AS n_kept,
               CAST(COALESCE(SUM(n_chars) FILTER (WHERE u16 < thr), 0) AS BIGINT) AS chars_kept
        FROM s GROUP BY source ORDER BY source
      """.trim),
    ),

    // cu15: TOKEN-BUDGET epoch allocation — the other half of the data-mix
    // recipe (cu13 selects docs for ONE epoch; real pretraining runs
    // OVERSAMPLE: each source is repeated `full_epochs` times plus a
    // deterministic partial epoch that tops the source up to its exact
    // token target). Targets are temperature-weighted (T=2 → sqrt share,
    // correctly-rounded IEEE, the one float touch on 10 source rows);
    // everything per-document is integer. The partial epoch is "docs in
    // md5 order until the cumulative token count reaches the remainder" —
    // a per-source ordered CUMSUM, computed with cu13's two-phase
    // bucket-prefix shape generalized from counts to weights: the md5
    // key's leading two hex chars split each source into 256 contiguous
    // ranges; in-bucket windows cumsum ≤1/256 of a source per task, and
    // cross-bucket offsets are a ≤256-rows-per-source broadcast prefix
    // sum. No task ever sorts a whole source — the dominant-language
    // single-task sort this shape exists to avoid at 100 TB.
    Q(
      "cu15_token_budget",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val per = docs.groupBy("source")
          .agg(sum("n_chars").as("cell_chars"), count(lit(1)).as("n_docs"))
        val tot = per.agg(sum("cell_chars").as("total"))
        val w = per.crossJoin(broadcast(tot)) // one-row scalar
          .withColumn("wgt",
            round(sqrt(col("cell_chars").cast("double") / col("total").cast("double")) * 1e6, 0)
              .cast("long"))
        val ws = w.agg(sum("wgt").as("wsum"))
        // budget = 3× the corpus (oversampling regime); integer splits
        val plan = w.crossJoin(broadcast(ws)) // one-row scalar
          .withColumn("target_tokens", expr("(total * 3) * wgt div wsum"))
          .withColumn("full_epochs", expr("target_tokens div cell_chars"))
          .withColumn("rem_tokens", expr("target_tokens % cell_chars"))
          .select("source", "cell_chars", "wgt", "target_tokens",
            "full_epochs", "rem_tokens")
        val keyed = docs
          .withColumn("sk",
            md5(concat(lit("budget:"), col("doc_id").cast("string"))))
          .withColumn("b", substring(col("sk"), 1, 2))
        // prefix sum over bucket CHAR TOTALS (≤256 rows/source), not data
        val offs = keyed.groupBy(col("source"), col("b"))
          .agg(sum("n_chars").as("bs"))
          .withColumn("off",
            coalesce(sum(col("bs")).over(
              Window.partitionBy("source").orderBy("b")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("b"), col("off"))
        val cum = keyed
          .withColumn("lc", sum("n_chars").over(
            Window.partitionBy(col("source"), col("b"))
              .orderBy(col("sk"), col("doc_id"))))
          .join(broadcast(offs), Seq("source", "b"))
          .withColumn("cum", col("lc") + col("off"))
        val partial = cum
          .join(broadcast(plan.select("source", "rem_tokens")), "source")
          .filter(col("cum") <= col("rem_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_partial_docs"),
            sum("n_chars").as("partial_chars"))
        plan.join(partial, Seq("source"), "left")
          .select(col("source"), col("cell_chars"), col("wgt"),
            col("target_tokens"), col("full_epochs"), col("rem_tokens"),
            coalesce(col("n_partial_docs"), lit(0L)).as("n_partial_docs"),
            coalesce(col("partial_chars"), lit(0L)).as("partial_chars"))
          .orderBy("source")
      },
      Some("""
        WITH per AS (
          SELECT source, CAST(SUM(n_chars) AS BIGINT) AS cell_chars
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(cell_chars) AS BIGINT) AS total FROM per),
        w AS (SELECT source, cell_chars,
                     CAST(round(sqrt(cell_chars::DOUBLE / total::DOUBLE) * 1e6) AS BIGINT) AS wgt
              FROM per, tot),
        ws AS (SELECT CAST(SUM(wgt) AS BIGINT) AS wsum FROM w),
        plan AS (
          SELECT source, cell_chars, wgt,
                 (total * 3) * wgt // wsum AS target_tokens,
                 ((total * 3) * wgt // wsum) // cell_chars AS full_epochs,
                 ((total * 3) * wgt // wsum) % cell_chars AS rem_tokens
          FROM w, ws, tot),
        cum AS (
          SELECT source, doc_id, n_chars,
                 SUM(n_chars) OVER (PARTITION BY source
                   ORDER BY md5('budget:' || CAST(doc_id AS VARCHAR)), doc_id) AS cum
          FROM documents),
        partial AS (
          SELECT c.source, COUNT(*) AS n_partial_docs,
                 CAST(SUM(c.n_chars) AS BIGINT) AS partial_chars
          FROM cum c JOIN plan p ON c.source = p.source
          WHERE c.cum <= p.rem_tokens GROUP BY c.source)
        SELECT p.source, p.cell_chars, p.wgt,
               CAST(p.target_tokens AS BIGINT) AS target_tokens,
               CAST(p.full_epochs AS BIGINT) AS full_epochs,
               CAST(p.rem_tokens AS BIGINT) AS rem_tokens,
               COALESCE(pa.n_partial_docs, 0) AS n_partial_docs,
               COALESCE(pa.partial_chars, 0) AS partial_chars
        FROM plan p LEFT JOIN partial pa ON p.source = pa.source
        ORDER BY p.source
      """.trim),
    ),

    // cu16: hashed n-gram importance weights — the DSIR-style (Xie et
    // al. 2023, "Data Selection for Language Models via Importance
    // Resampling") target-vs-raw reweighting: hash every token into a
    // 256-bucket feature space (first two hex chars of md5 — no vocab,
    // no training), estimate the target distribution from the
    // target-domain slice (lang = 'en' here; a quality reference corpus
    // in production) and the raw distribution from the whole corpus,
    // then score each document by the sum of its tokens' integer
    // likelihood ratios (ppm fixed point: n_target·10⁶ div n_raw —
    // exact in both engines, no float log drift). Scale shape: the
    // weight table is 256 rows — model-sized, broadcast — so the corpus
    // side is one explode + map-side hash join + partially-aggregated
    // groupBy(doc_id): linear, skew-free (doc_id is unique), and the
    // only wide op is the uniform final agg. At 100 TB the feature
    // space widens to 2⁴ hex chars; the plan is unchanged.
    Q(
      "cu16_importance_weights",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // materialized ONCE: the exploded feature relation feeds both the
        // weight estimation and the scoring join — without it the corpus
        // text is scanned+exploded+hashed twice (r17 verdict item; the
        // relation is 3 narrow columns, far smaller than a second pass)
        val toks = docs
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
          .where(col("tok") =!= "")
          .select(col("doc_id"), col("lang"),
            substring(md5(col("tok")), 1, 2).as("f"))
          .transform(graft.ops.Iterative.materialize)
        val weights = toks
          .groupBy("f")
          .agg(
            count(lit(1)).as("n_raw"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
          .select(col("f"), expr("n_tgt * 1000000 div n_raw").as("w"))
        toks
          .join(broadcast(weights), "f")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(col("w")).as("score"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, lang,
                 unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                    t -> t <> '')) AS tok
          FROM documents),
        f AS (SELECT doc_id, lang, substr(md5(tok), 1, 2) AS f FROM tok),
        wt AS (
          SELECT f, COUNT(*) AS n_raw,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
          FROM f GROUP BY f)
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_tokens,
               CAST(SUM(n_tgt * 1000000 // n_raw) AS BIGINT) AS score
        FROM f JOIN wt USING (f)
        GROUP BY doc_id
        ORDER BY doc_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu17: leakage-guarded train/heldout split — the split key is the
    // NEAR-DUP CLUSTER, not the document. cu1's per-doc hash split
    // leaks: two near-duplicates landing in different splits put
    // (nearly) the training text into held-out eval — the contamination
    // mode cu8 screens third-party benchmarks for, here caused by the
    // split itself. Composition: d5's banded-MinHash pairs →
    // distributed min-label components → every doc keyed by its cluster
    // representative (singletons = themselves) → cu1's deterministic
    // md5 bucket computed on the CLUSTER id, so no cluster straddles
    // the boundary by construction. Scale shape: the clustering is
    // d5's (banding-bounded candidates, one shuffle per band key,
    // log-round label propagation); the split itself is a per-row hash
    // with zero added coordination — re-runs and re-partitions of the
    // SAME corpus reproduce it exactly. Caveat for incremental regimes:
    // the representative is the cluster's min doc_id, so a later batch
    // that bridges two clusters can change it (and flip the split of
    // the absorbed side) — a production pipeline freezes assignments of
    // already-split docs and hashes only never-seen clusters, exactly
    // the d7/d9 batch-vs-corpus discipline.
    Q(
      "cu17_leakage_split",
      (s, dir) => {
        // the full-corpus labels come from the build shared with
        // cu21/cu24/d5/d11/i20 (DedupeQueries.sharedNearDup): identical
        // banding + clustering, computed once per JVM
        DedupeQueries.sharedNearDup(s, dir)._2
          .withColumn("split",
            when(md5Bucket("lsplit", col("cluster_id")) < lit("cc"),
              lit("train")).otherwise(lit("heldout")))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE ${DedupeQueries.clusterCtes},
        asg AS (
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id)
        SELECT doc_id, cluster_id,
               CASE WHEN ${md5BucketSql("lsplit", "cluster_id")} < 'cc'
                    THEN 'train' ELSE 'heldout' END AS split
        FROM asg ORDER BY doc_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu19: provenance/audit manifest — the per-source summary two
    // sides of a data handoff diff to prove they hold the SAME corpus
    // without moving it (replica audit, post-migration check, "did the
    // retry double-write?"). The content checksum is the SUM of 40-bit
    // md5 prefixes — COMMUTATIVE, so it is invariant under partitioning,
    // task order, and row order (an ordered hash chain would pin a sort;
    // this aggregates map-side like any sum) and reorder-insensitive
    // collisions are bounded by the 40-bit space times source size.
    // One partial-agg'd groupBy; output is O(sources). The per-doc hash
    // is 28 bits (7 hex chars), NOT the 40-bit fingerprint width: the
    // sum of per-doc hashes must stay inside int64 at any source size
    // (2⁶³/2²⁸ ≈ 3.4×10¹⁰ docs of headroom per source; a 40-bit term
    // would overflow — an ANSI-mode runtime error — at ~8×10⁶ docs).
    Q(
      "cu19_audit_manifest",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        docs.groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"),
            sum(conv(substring(md5(col("text")), 1, 7), 16, 10)
              .cast("long")).as("content_sum"))
          .orderBy("source")
      },
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
               CAST(SUM(('0x' || substr(md5(text), 1, 7))::BIGINT) AS BIGINT)
                 AS content_sum
        FROM documents GROUP BY source ORDER BY source
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu20: budgeted threshold sweep — "keep the highest-quality slice
    // that still fills the token budget": the DataComp/FineWeb curation
    // decision of WHERE to cut a quality score so the surviving corpus
    // hits a target size. The sweep table gives the kept mass at every
    // candidate threshold; the first bucket (scanning from the top)
    // whose cumulative mass meets the budget (here: half the corpus) is
    // the cut. Score = n_chars as the pluggable quality proxy, bucketed
    // to width 16. Scale shape: the corpus-sized pass is one partial-
    // agg'd groupBy to buckets; the cumsum window runs over the bucket
    // table, whose size is MODEL-bounded (score range ÷ 16 — the t8
    // length gates cap doc length, so this is O(10³) rows at any corpus
    // size), and the budget scalar broadcasts.
    Q(
      "cu20_budget_threshold",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // integer div, not float-divide-then-floor: a double round-trip
        // is exact only below 2^53 — the corpus-total sum would cross
        // that around a petabyte of text
        val buckets = docs
          .groupBy((expr("n_chars div 16") * 16).as("bucket_lo"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
        val budget = broadcast(
          docs.agg(expr("sum(n_chars) div 2").as("budget")))
        val w = Window.orderBy(col("bucket_lo").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        buckets.crossJoin(budget)
          .withColumn("cum_chars", sum(col("n_chars")).over(w))
          .withColumn("meets", col("cum_chars") >= col("budget"))
          .select("bucket_lo", "n_docs", "n_chars", "cum_chars", "meets")
          .orderBy(col("bucket_lo").desc)
      },
      Some("""
        WITH b AS (
          SELECT (n_chars // 16) * 16 AS bucket_lo,
                 COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars
          FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_chars) // 2 AS BIGINT) AS budget FROM documents)
        SELECT bucket_lo, n_docs, n_chars,
               CAST(SUM(n_chars) OVER (ORDER BY bucket_lo DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_chars,
               CAST(SUM(n_chars) OVER (ORDER BY bucket_lo DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 >= budget AS meets
        FROM b, t ORDER BY bucket_lo DESC
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu21: the governed corpus — round-11's operators COMPOSED into
    // the artifact a training run actually consumes: documents pass the
    // t15 boilerplate gate, split leakage-safe by near-dup cluster
    // (cu17), and the surviving corpus is summarized as the cu19 audit
    // manifest per (source, split) — counts, char mass, commutative
    // content checksum. Re-running the pipeline anywhere, any
    // partitioning, must reproduce this manifest bit-for-bit; two
    // sites diff it to prove they trained on the same bytes. One
    // oracle gates the whole composition (boilerplate CTEs + the
    // recursive cluster walk + split hash + rollup).
    Q(
      "cu21_governed_corpus",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // t15's gate, inline (same constants)
        val toks = docs.select(col("doc_id"), col("source"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        val grams = toks
          .select(col("doc_id"), col("source"),
            explode(when(size(col("ts")) < 2,
              expr("CAST(array() AS array<string>)"))
              .otherwise(expr(
                """transform(slice(ts, 1, size(ts) - 1),
                  |  (t, i) -> concat(t, ' ', element_at(ts, i + 2)))"""
                  .stripMargin))).as("gram"))
          .distinct()
        val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs_src"))
        val boiler = grams.groupBy("source", "gram")
          .agg(count(lit(1)).as("df"))
          .join(broadcast(nd), "source")
          .filter(col("df") * 5 >= col("n_docs_src") && col("df") >= 3)
          .select(col("source"), col("gram"), lit(1).as("is_b"))
        val keep = grams.join(boiler, Seq("source", "gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"), count(col("is_b")).as("n_boiler"))
          .filter(col("n_boiler") * 5 <= col("n_grams"))
          .select(col("doc_id"))
        // cu17's split, over the shared full-corpus labels
        val splitDf = DedupeQueries.sharedNearDup(s, dir)._2
          .withColumn("split",
            when(md5Bucket("lsplit", col("cluster_id")) < lit("cc"),
              lit("train")).otherwise(lit("heldout")))
          .select("doc_id", "split")
        // cu19's manifest of the survivors
        docs.join(keep, "doc_id").join(splitDf, "doc_id")
          .groupBy("source", "split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            sum(conv(substring(md5(col("text")), 1, 7), 16, 10)
              .cast("long")).as("content_sum"))
          .orderBy("source", "split")
      },
      Some(s"""
        WITH RECURSIVE ${DedupeQueries.clusterCtes},
        ts AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id, source, ts[i] || ' ' || ts[i+1] AS gram
          FROM ts, UNNEST(range(1, len(ts))) u(i)),
        nd AS (SELECT source, COUNT(*) AS n_docs_src FROM documents GROUP BY source),
        bl AS (
          SELECT source, gram FROM (
            SELECT source, gram, COUNT(*) AS df FROM g GROUP BY 1, 2)
          JOIN nd USING (source)
          WHERE df * 5 >= n_docs_src AND df >= 3),
        keep AS (
          SELECT g.doc_id
          FROM g LEFT JOIN bl ON g.source = bl.source AND g.gram = bl.gram
          GROUP BY g.doc_id
          HAVING COUNT(*) FILTER (bl.gram IS NOT NULL) * 5 <= COUNT(*)),
        sp AS (
          SELECT d.doc_id,
                 CASE WHEN ${md5BucketSql("lsplit",
                   "COALESCE(c.cluster_id, d.doc_id)")} < 'cc'
                      THEN 'train' ELSE 'heldout' END AS split
          FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id)
        SELECT d.source, sp.split,
               COUNT(*) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(('0x' || substr(md5(d.text), 1, 7))::BIGINT) AS BIGINT)
                 AS content_sum
        FROM documents d
        JOIN keep k ON d.doc_id = k.doc_id
        JOIN sp ON d.doc_id = sp.doc_id
        GROUP BY d.source, sp.split
        ORDER BY d.source, sp.split
      """.trim),
    ),

    // CU22: k-anonymity / l-diversity re-identification audit — the
    // release-governance check run before publishing a derived table:
    // every quasi-identifier cell (nation × coarse balance bucket)
    // must hold ≥ k records (k-anonymity, k=5), and the sensitive
    // attribute (market segment) within the cell must take ≥ l
    // distinct values (l-diversity, l=3) or the cell leaks by
    // homogeneity even when k holds. Output = the per-cell audit with
    // both flags; safe cells AND both risk classes are non-empty at
    // the gate SFs (the bucket is coarse in the bulk, sparse at the
    // balance-distribution tails). Shape:
    // ONE partial-agg'd groupBy onto QI-cell cardinality — count and
    // count_distinct both map-side combine; nothing corpus-sized
    // survives the fold. Scale-invariant semantics: k and l are
    // absolute floors by DEFINITION (privacy law, not tuning).
    Q(
      "cu22_kanonymity",
      (s, dir) => {
        val k = 5
        val l = 3
        Registry.table(s, dir, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            floor(col("c_acctbal") / 2000.0).cast("long").as("bal_bucket"),
            col("c_mktsegment"))
          .groupBy("nation", "bal_bucket")
          .agg(count(lit(1)).as("n"),
            count_distinct(col("c_mktsegment")).as("n_sensitive"))
          .select(col("nation"), col("bal_bucket"), col("n"),
            col("n_sensitive"),
            (col("n") < k).as("k_risk"),
            (col("n_sensitive") < l).as("l_risk"))
          .orderBy("nation", "bal_bucket")
      },
      Some("""
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
               COUNT(*) AS n,
               COUNT(DISTINCT c_mktsegment) AS n_sensitive,
               COUNT(*) < 5 AS k_risk,
               COUNT(DISTINCT c_mktsegment) < 3 AS l_risk
        FROM customer
        GROUP BY 1, 2
        ORDER BY nation, bal_bucket
      """.trim),
    ),

    // cu23: distribution-drift audit between corpus snapshots — the ML
    // monitoring gate behind "did this crawl's language mix shift?": a
    // chi-square-style contingency comparison of the (lang × snapshot)
    // table, all in exact integer rationals (the st11 multiply-through
    // discipline — no float chi² ever enters the hash). Snapshot halves
    // come from doc parity (the c6 snapshot convention); per cell the
    // audit reports observed count O, the independence expectation
    // E = R·C div N, and the signed relative deviation
    // dev_ppm = (O·N − R·C)·10⁶ div (R·C) — the drift signal a corpus
    // monitor thresholds on. Width bound documented: O·N ≤ N² needs
    // N ≤ 3×10⁹ docs in int64; past that the fold runs per-shard and
    // rescales (the cu19 checksum-width discipline). Scale shape: ONE
    // partial-agg'd groupBy onto O(langs × 2) cells; margins and the
    // total join back as broadcast model-sized relations.
    Q(
      "cu23_drift_audit",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val cells = docs
          .select(col("lang"), (col("doc_id") % 2).cast("int").as("snap"))
          .groupBy("lang", "snap").agg(count(lit(1)).as("o"))
        val rowM = cells.groupBy("lang").agg(sum(col("o")).as("r"))
        val colM = cells.groupBy("snap").agg(sum(col("o")).as("c"))
        val tot = cells.agg(sum(col("o")).as("n"))
        cells
          .join(broadcast(rowM), "lang")
          .join(broadcast(colM), "snap")
          .crossJoin(broadcast(tot))
          .withColumn("e", expr("r * c div n"))
          // negative deviations divide as sign·(|d|·10⁶ div rc): Spark's
          // `div` truncates toward zero while DuckDB's `//` floors, so
          // the quotient must only ever see a non-negative numerator
          .withColumn("dev_ppm", expr(
            """CASE WHEN o * n >= r * c
               THEN (o * n - r * c) * 1000000L div (r * c)
               ELSE -((r * c - o * n) * 1000000L div (r * c)) END"""))
          .select("lang", "snap", "o", "e", "dev_ppm")
          .orderBy("lang", "snap")
      },
      Some("""
        WITH cells AS (
          SELECT lang, CAST(doc_id % 2 AS INT) AS snap, COUNT(*) AS o
          FROM documents GROUP BY 1, 2),
        rm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        cm AS (SELECT snap, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
        SELECT lang, snap, o,
               CAST(r * c // n AS BIGINT) AS e,
               CAST(CASE WHEN o * n >= r * c
                    THEN (o * n - r * c) * 1000000 // (r * c)
                    ELSE -((r * c - o * n) * 1000000 // (r * c)) END
                 AS BIGINT) AS dev_ppm
        FROM cells
        JOIN rm USING (lang) JOIN cm USING (snap) CROSS JOIN t
        ORDER BY lang, snap
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu24: FROZEN incremental leakage split — the production fix for
    // cu17's documented caveat: a later batch that bridges or re-roots
    // a near-dup cluster must NOT flip the split of docs already used
    // for training/eval (an eval doc silently moving into train after
    // the fact is contamination you can't undo). Round 1 splits the
    // initial corpus with cu17's cluster-keyed hash and PERSISTS the
    // (doc_id → split) assignment as a doc_id-bucketed table (the d9
    // artifact discipline — corpus-sized, so the probe join's index
    // side never re-shuffles). Round 2's new batch probes it: a new
    // doc whose full-corpus cluster touches ANY already-split doc
    // inherits that anchor's frozen split (anchor = the cluster's
    // smallest assigned doc_id — deterministic); only clusters the
    // index has never seen get hashed. Output also carries what a
    // naive full re-split WOULD assign (`flipped` marks frozen
    // assignments the re-split would have changed — the leak the
    // freeze prevents). Scale shape: two d5-shaped clusterings (banded
    // candidates, log-round components), one groupBy for anchors, one
    // bucketed probe join; no windows, no corpus² anywhere.
    Q(
      "cu24_frozen_split",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val batch1 = docs.filter(col("source") =!= "src0")
        def bucketOf(rep: org.apache.spark.sql.Column) =
          when(md5Bucket("lsplit", rep) < lit("cc"), lit("train"))
            .otherwise(lit("heldout"))
        // the expensive leg (shingle → band → verify) runs ONCE over the
        // grown corpus — via the i20-shared build (DedupeQueries
        // .sharedNearDup), which also hands back the full-corpus label
        // table round 2 needs; round 1's pair set is exactly the full
        // pair set restricted to batch-1 endpoints (banding candidates
        // between two batch-1 docs don't depend on other rows being in
        // the table)
        val (pairsAll, labelsAll) = DedupeQueries.sharedNearDup(s, dir)
        val b1Ids = batch1.select(col("doc_id"))
        // ROUND 1: cu17 verbatim over the initial corpus only, persisted
        val pairs1 = pairsAll
          .join(b1Ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .join(b1Ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        val clus1 = graft.ops.Components.starContract(pairs1, "doc_a", "doc_b")
          .select(col("node").as("doc_id"), col("component").as("cluster_id"))
        val assigned = b1Ids
          .join(clus1, Seq("doc_id"), "left")
          .select(col("doc_id"),
            bucketOf(coalesce(col("cluster_id"), col("doc_id"))).as("split"))
        graft.sources.Sinks.writeBucketedAt(assigned, "cu24_frozen",
          "doc_id", 8, s"$cu24StagePath/frozen")
        val frozen = s.table("cu24_frozen")
        // ROUND 2: the grown corpus's clustering is the shared label
        // table (already persisted, already singleton-completed) — probe
        // the frozen index with it
        val withRep = docs.select(col("doc_id"),
            (col("source") === "src0").as("is_new"))
          .join(labelsAll, Seq("doc_id"))
          .select(col("doc_id"), col("is_new"),
            col("cluster_id").as("rep"))
        val anchors = withRep.filter(!col("is_new"))
          .groupBy("rep").agg(min(col("doc_id")).as("anchor_id"))
          .join(frozen, col("anchor_id") === frozen("doc_id"))
          .select(col("rep"), col("split").as("anchor_split"))
        withRep
          .join(frozen.withColumnRenamed("split", "own_split"),
            Seq("doc_id"), "left")
          .join(anchors, Seq("rep"), "left")
          .withColumn("split", when(!col("is_new"), col("own_split"))
            .otherwise(coalesce(col("anchor_split"), bucketOf(col("rep")))))
          .withColumn("frozen", !col("is_new"))
          .withColumn("flipped", col("split") =!= bucketOf(col("rep")))
          .select(col("doc_id"), col("split"), col("frozen"), col("flipped"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE ${DedupeQueries.clusterCtes},
        b1 AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
        edges1 AS (
          SELECT e.src, e.dst FROM edges e
          JOIN b1 x ON e.src = x.doc_id JOIN b1 y ON e.dst = y.doc_id),
        walk1(id, label) AS (
          SELECT src, src FROM edges1
          UNION
          SELECT e.src, w.label FROM edges1 e JOIN walk1 w ON e.dst = w.id
          WHERE w.label < e.src),
        clus1 AS (SELECT id AS doc_id, MIN(label) AS cluster_id
                  FROM walk1 GROUP BY id),
        frozen AS (
          SELECT d.doc_id,
                 CASE WHEN ${md5BucketSql("lsplit",
            "COALESCE(c.cluster_id, d.doc_id)")} < 'cc'
                      THEN 'train' ELSE 'heldout' END AS split
          FROM b1 d LEFT JOIN clus1 c ON d.doc_id = c.doc_id),
        full_rep AS (
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep,
                 d.source = 'src0' AS is_new
          FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
        anchors AS (
          SELECT a.rep, fr.split AS anchor_split
          FROM (SELECT rep, MIN(doc_id) AS anchor_id
                FROM full_rep WHERE NOT is_new GROUP BY rep) a
          JOIN frozen fr ON a.anchor_id = fr.doc_id),
        outp AS (
          SELECT r.doc_id, r.is_new, r.rep,
                 CASE WHEN NOT r.is_new THEN fr.split
                      WHEN an.anchor_split IS NOT NULL THEN an.anchor_split
                      ELSE CASE WHEN ${md5BucketSql("lsplit", "r.rep")} < 'cc'
                           THEN 'train' ELSE 'heldout' END END AS split
          FROM full_rep r
          LEFT JOIN frozen fr ON r.doc_id = fr.doc_id
          LEFT JOIN anchors an ON r.rep = an.rep)
        SELECT doc_id, split, NOT is_new AS frozen,
               split <> (CASE WHEN ${md5BucketSql("lsplit", "rep")} < 'cc'
                         THEN 'train' ELSE 'heldout' END) AS flipped
        FROM outp ORDER BY doc_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // cu25: classifier threshold-sweep evaluation — the report every
    // curation loop runs before trusting a quality score as a keep
    // gate: exact TP/FP/FN/TN and precision/recall at EVERY candidate
    // threshold at once. Score = integer word-density (tokens per 10k
    // chars — a t2-style fixed-point quality proxy); reference label =
    // an independent content signal (contains a bounded ' the ' token —
    // crude, deterministic, and uncorrelated enough that the sweep has
    // real confusion mass on both sides). Mechanics: ONE corpus pass
    // folds docs to score BUCKETS (width 16 — the cu20 sweep
    // discipline); the descending cumulative TP/FP runs over the
    // MODEL-sized bucket table (score range ÷ 16, O(10³) rows at any
    // corpus size), and precision/recall are exact ppm integers (div).
    // Choosing the operating threshold is then one lookup on this
    // report.
    Q(
      "cu25_classifier_eval",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
          .where(col("n_chars") > 0)
        // `div`, not float-divide-then-cast: a correctly-rounded double
        // quotient can land ε ABOVE an integer the exact rational sits
        // just below, and truncation then disagrees with the oracle's
        // floor — integer division is exact in both engines. Tokenizer =
        // the t2 tokenizer (TextAnalysis.tokens, TokensSql's mirror), not
        // a third inline restatement.
        val scored = docs.select(
          size(graft.ops.TextAnalysis.tokens(col("text")))
            .cast("long").as("wc"),
          col("n_chars"),
          when(concat(lit(" "), lower(col("text")), lit(" "))
            .contains(" the "), 1L).otherwise(0L).as("pos"))
          .select(expr("(wc * 10000) div n_chars").as("score"), col("pos"))
        val buckets = scored
          .groupBy(expr("score div 16").as("bucket"))
          .agg(sum(col("pos")).as("n_pos"),
            sum(lit(1L) - col("pos")).as("n_neg"))
        val w = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = buckets.agg(sum(col("n_pos")).as("tot_pos"),
          sum(col("n_neg")).as("tot_neg"))
        buckets
          .withColumn("tp", sum(col("n_pos")).over(w))
          .withColumn("fp", sum(col("n_neg")).over(w))
          .crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_pos"), col("n_neg"),
            col("tp"), col("fp"),
            (col("tot_pos") - col("tp")).as("fn"),
            (col("tot_neg") - col("fp")).as("tn"),
            expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
            // an all-negative corpus has tot_pos = 0: recall is 0 by
            // convention, never a div-by-zero (NULL in Spark, a runtime
            // ERROR in DuckDB — the engines would diverge)
            expr("CASE WHEN tot_pos = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE tp * 1000000 div tot_pos END").as("recall_ppm"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH scored AS (
          SELECT CAST(len($TokensSql) * 10000 // n_chars AS BIGINT) AS score,
                 CASE WHEN contains(' ' || lower(text) || ' ', ' the ')
                      THEN 1 ELSE 0 END AS pos
          FROM documents WHERE n_chars > 0),
        b AS (
          SELECT score // 16 AS bucket,
                 CAST(SUM(pos) AS BIGINT) AS n_pos,
                 CAST(SUM(1 - pos) AS BIGINT) AS n_neg
          FROM scored GROUP BY 1),
        c AS (
          SELECT bucket, n_pos, n_neg,
                 CAST(SUM(n_pos) OVER wd AS BIGINT) AS tp,
                 CAST(SUM(n_neg) OVER wd AS BIGINT) AS fp
          FROM b
          WINDOW wd AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)),
        t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
                     CAST(SUM(n_neg) AS BIGINT) AS tot_neg FROM b)
        SELECT bucket, n_pos, n_neg, tp, fp,
               tot_pos - tp AS fn, tot_neg - fp AS tn,
               CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN tot_pos = 0 THEN 0
                    ELSE tp * 1000000 // tot_pos END AS BIGINT) AS recall_ppm
        FROM c CROSS JOIN t
        ORDER BY bucket
      """.trim),
    ),

    // cu26: DATASET DATASHEET — the per-language descriptive rollup a
    // "datasheets for datasets" release ships next to the corpus (and
    // the first table any consumer reads): document and source counts,
    // token totals, integer-exact mean length, the short-doc share a
    // quality gate would cut, and the exact-duplicate rate (hash
    // distinct) — all in ONE corpus pass / one shuffle on the language
    // key, output bounded by |langs|. Complements cu21 (which GATES
    // and SPLITS); this DESCRIBES. Every field integer-exact via div,
    // oracle-mirrored.
    Q(
      "cu26_datasheet",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        docs.select(col("lang"), col("source"), col("n_chars"),
            when(length(trim(col("text"))) === 0, 0)
              .otherwise(size(split(trim(col("text")), "\\s+")))
              .cast("long").as("toks"),
            md5(col("text").cast("binary")).as("h"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            sum(col("toks")).as("total_tokens"),
            expr("sum(n_chars) div count(1)").as("avg_chars"),
            expr("sum(case when n_chars < 200 then 1 else 0 end) " +
              "* 1000000 div count(1)").as("short_ppm"),
            expr("(count(1) - count(distinct h)) * 1000000 div count(1)")
              .as("dup_ppm"))
          .orderBy("lang")
      },
      Some("""
        WITH d AS (
          SELECT lang, source, n_chars,
                 CASE WHEN strlen(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS toks,
                 md5(text) AS h
          FROM documents)
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               COUNT(DISTINCT source)::BIGINT AS n_sources,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               (SUM(n_chars) // COUNT(*))::BIGINT AS avg_chars,
               (SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*))::BIGINT AS short_ppm,
               ((COUNT(*) - COUNT(DISTINCT h)) * 1000000 // COUNT(*))::BIGINT
                 AS dup_ppm
        FROM d
        GROUP BY lang
        ORDER BY lang
      """.trim),
    ),

    // cu27: SPAN-level benchmark decontamination — the surgical form of
    // cu8's doc-level screen, and what GPT-3's appendix C actually
    // specifies: remove the 13-gram-overlap WINDOW around each benchmark
    // collision, not the whole document. Benchmark set = the src0 slice
    // (cu8's convention); every corpus position whose 13-gram appears
    // anywhere in the benchmark marks its covered window; maximal
    // covered-token runs are the spans a cleaning pass deletes.
    // Composition of the d18 span kernel (gram enumerate → covered
    // positions → interval union) with the cu8 bench semi-join — the
    // benchmark gram set aggregates once and broadcasts; no per-
    // occurrence fan-out. Oracle replays enumerate/join/union in SQL.
    // The fixture PLANTS contamination so the gate itself (not just the
    // kernel spec) discriminates interval-union edges: a 20-token
    // benchmark snippet is appended (doc_id%17==3), prepended
    // (doc_id%17==8), or split into TWO spans around a unique separator
    // token (doc_id%17==12) — tens of spans across many docs at sf0.01,
    // on top of whatever natural 13-gram overlap the corpus carries.
    Q(
      "cu27_span_decontam",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val bench = docs.filter(col("source") === "src0")
        // snippet donor: the lowest-id benchmark doc with >= 40 tokens
        val bt = bench
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 40)
          .orderBy("doc_id").limit(1)
          .select(col("t").as("bt"))
        val m = col("doc_id") % 17
        val corpus = docs.filter(col("source") =!= "src0")
          .crossJoin(broadcast(bt))
          .select(col("doc_id"),
            when(m === 3, concat(col("text"), lit(" "),
                array_join(slice(col("bt"), 1, 20), " ")))
              .when(m === 8, concat(
                array_join(slice(col("bt"), 10, 20), " "),
                lit(" "), col("text")))
              .when(m === 12, concat(col("text"), lit(" "),
                array_join(slice(col("bt"), 1, 15), " "),
                lit(" zzqq"), col("doc_id").cast("string"), lit(" "),
                array_join(slice(col("bt"), 20, 15), " ")))
              .otherwise(col("text")).as("text"))
        graft.ops.Dedupe.contaminationSpans(
            corpus = corpus,
            benchmark = bench,
            id = "doc_id", text = "text",
            gram = 13, minSpanTokens = 13)
          .orderBy("doc_id", "span_start")
      },
      Some(raw"""
        WITH bt AS (
          SELECT string_split_regex(trim(text), '\s+') AS bt
          FROM documents
          WHERE source = 'src0'
            AND len(string_split_regex(trim(text), '\s+')) >= 40
          ORDER BY doc_id LIMIT 1),
        aug AS (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 17 = 3
                        THEN d.text || ' ' || array_to_string(bt[1:20], ' ')
                      WHEN d.doc_id % 17 = 8
                        THEN array_to_string(bt[10:29], ' ') || ' ' || d.text
                      WHEN d.doc_id % 17 = 12
                        THEN d.text || ' ' || array_to_string(bt[1:15], ' ')
                          || ' zzqq' || d.doc_id || ' '
                          || array_to_string(bt[20:34], ' ')
                      ELSE d.text END AS text
          FROM documents d, bt
          WHERE d.source <> 'src0'),
        ctoks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM aug),
        btoks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE source = 'src0'),
        bench AS (
          SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS g
          FROM btoks, unnest(range(1, len(t) - 11)) r(i)
          WHERE len(t) >= 13),
        tr AS (
          SELECT doc_id, len(t) AS n_tokens, i AS pos,
                 array_to_string(t[i:i+12], ' ') AS g
          FROM ctoks, unnest(range(1, len(t) - 11)) r(i)
          WHERE len(t) >= 13),
        hit AS (SELECT doc_id, n_tokens, pos FROM tr SEMI JOIN bench USING (g)),
        cov AS (
          SELECT DISTINCT doc_id, n_tokens, tok
          FROM hit, unnest(range(pos, pos + 13)) u(tok)),
        runs AS (
          SELECT doc_id, n_tokens, tok,
                 tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
          FROM cov)
        SELECT doc_id, MIN(tok) AS span_start, COUNT(*) AS span_tokens,
               MAX(n_tokens) AS n_tokens
        FROM runs GROUP BY doc_id, grp
        HAVING COUNT(*) >= 13
        ORDER BY doc_id, span_start
      """.trim),
    ),

    // cu28: EMBEDDING-CENTROID quality gate — the classifier-free form
    // of FineWeb-Edu-style model-based filtering: a labeled "good" seed
    // set (vec_id % 10 == 0 here; a curated reference slice in
    // production) defines a quality CENTROID (per-dimension rounded
    // integer mean over int8-quantized vectors — ss6's exact centroid
    // arithmetic), and every corpus embedding is scored by quantized
    // cosine against it; the keep bit is the pretraining gate. All
    // arithmetic integer-valued-double exact (the ss5/ss6 discipline),
    // so centroid, scores AND the gate replay bit-identically in SQL.
    // Scale shape: the centroid is one partial-agg'd reduce to 64
    // numbers (model-sized, broadcast); scoring is one map-side join —
    // no shuffle of the corpus side, no window.
    Q(
      "cu28_embed_quality_gate",
      (s, dir) => {
        val vecs = graft.ops.Similarity.vectors(
          Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        val q = vecs.select(col("vec_id"),
          graft.ops.Similarity.quantize(col("v")).as("qv"))
        val cent = q.filter(col("vec_id") % 10 === 0)
          .select(posexplode(col("qv")).as(Seq("i", "x")))
          .groupBy("i").agg(floor(sum(col("x")) / count(lit(1)) + 0.5).as("c"))
          .agg(expr("array_sort(collect_list(struct(i, c)))").as("p"))
          .select(expr("transform(p, e -> double(e.c))").as("cv"),
            lit(1).as("one"))
        q.withColumn("one", lit(1))
          .join(broadcast(cent), "one")
          .select(col("vec_id"),
            // zero-norm guard: an all-zero embedding (possible in scaled
            // soak corpora) scores 0.0 instead of tripping ANSI ÷0
            when(graft.ops.Similarity.norm(col("qv")) === 0.0 ||
                graft.ops.Similarity.norm(col("cv")) === 0.0, lit(0.0))
              .otherwise(graft.ops.Similarity.cosine(col("qv"), col("cv")))
              .as("qcos"))
          .select(col("vec_id"), col("qcos"),
            (col("qcos") >= 0.1).cast("long").as("kept"))
          .orderBy("vec_id")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (
          SELECT vec_id,
                 [CASE WHEN m = 0 THEN 0.0
                       ELSE floor(x / m * 127.0 + 0.5) END for x in v] AS qv
          FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM e)),
        good AS (SELECT qv FROM q WHERE vec_id % 10 = 0),
        cent AS (
          SELECT idx, floor(SUM(qv[idx]) / COUNT(*) + 0.5) AS c
          FROM good, range(1, 65) t(idx)
          GROUP BY idx),
        cv AS (SELECT list(c ORDER BY idx) AS cv FROM cent),
        scored AS (
          SELECT vec_id,
                 CASE WHEN list_sum([q.qv[i] * q.qv[i] for i in range(1, 65)]) = 0
                        OR list_sum([cv.cv[i] * cv.cv[i] for i in range(1, 65)]) = 0
                      THEN 0.0
                      ELSE
                 list_sum([q.qv[i] * cv.cv[i] for i in range(1, 65)]) /
                 (sqrt(list_sum([q.qv[i] * q.qv[i] for i in range(1, 65)])) *
                  sqrt(list_sum([cv.cv[i] * cv.cv[i] for i in range(1, 65)])))
                 END AS qcos
          FROM q, cv)
        SELECT vec_id, qcos,
               (CASE WHEN qcos >= 0.1 THEN 1 ELSE 0 END)::BIGINT AS kept
        FROM scored
        ORDER BY vec_id
      """.trim),
    ),

    // cu29: END-TO-END CORPUS BUILD — the whole pretraining-data
    // pipeline as ONE gated query, the composition a user of this
    // engine actually runs: documents → WARC archive (real graft-warc
    // write + read back, HTTP envelope split) → x9 HTML text extraction
    // (entity round-trip included) → gopher-style quality gate (token
    // count + integer cross-multiplied mean-token-length bounds, no
    // division) → lead-fingerprint dedup (md5 of the first 15 tokens —
    // the lead-paragraph fingerprint that catches retitled/suffixed
    // copies exact full-text hashing misses) with a min-url keeper (a
    // group spanning sources counts in the KEEPER's source only) → per-source
    // accounting (pages in, gated, kept, kept tokens). The oracle
    // replays extraction/gate/dedup/rollup from the raw table — the
    // WARC round trip must be payload-exact for the hashes to agree.
    Q(
      "cu29_corpus_build",
      (s, dir) => {
        val out = Staging.dir("cu29")
        val docs = Registry.table(s, dir, "documents")
        val httpHead =
          "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"
        val esc = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val html = concat(lit("<html><body><p>"), esc,
          lit("</p></body></html>"))
        docs.select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("response").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            concat(lit(httpHead).cast("binary"), html.cast("binary"))
              .as("content"))
          .write.format("graft-warc").mode("append").save(out)
        val feats = s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "response")
          .select(col("url"),
            graft.functions.GraftFunctions
              .htmlToText(col("payload").cast("string")).as("txt"))
          // tokenize ONCE; both the gate (count) and the dedupe
          // fingerprint (lead-15 slice) read the same array column
          .select(col("url"),
            regexp_extract(col("url"), "http://([^/]+)/", 1).as("source"),
            graft.ops.TextAnalysis.tokens(col("txt")).as("toks"),
            length(col("txt")).cast("long").as("n_chars"))
          .select(col("url"), col("source"), col("toks"),
            size(col("toks")).cast("long").as("n_toks"), col("n_chars"))
        // decide with small rows (guide §8): the WARC read-back +
        // htmlToText + tokenize pipeline feeds THREE separate exchanges
        // (keeper groupBy, keeper join-back, per-source rollup), so the
        // unmaterialized form ran the whole extraction once per branch —
        // the executed plan showed 3 BatchScans of the staged archive.
        // Materialize the per-doc DECISION columns once (url, source,
        // token count, gate bit, lead-15 fingerprint — never the token
        // array or text), and all three branches re-read the narrow
        // checkpoint: 3 extraction passes → 1 (measured 5.67 → 1.63 s
        // warm min at sf0.1; at corpus scale the win is two fewer
        // full-archive parses). Computing `h` before the gate filter is
        // row-identical
        // (the fingerprint is deterministic per row; non-pass rows are
        // dropped by the same filter afterwards).
        val gated = graft.ops.Iterative.materialize(
          feats.withColumn("pass",
            (col("n_toks") >= 30 && col("n_toks") <= 5000 &&
              (col("n_chars") - (col("n_toks") - 1)) >= col("n_toks") * 2 &&
              (col("n_chars") - (col("n_toks") - 1)) <= col("n_toks") * 12)
              .cast("long"))
            .withColumn("h", md5(array_join(
              slice(col("toks"), 1, 15), " ").cast("binary")))
            .select(col("url"), col("source"), col("n_toks"),
              col("pass"), col("h")))
        val hashed = gated.filter(col("pass") === 1)
        val keepers = hashed.groupBy("h")
          .agg(min(col("url")).as("url")).withColumn("keep", lit(1L))
        val perSrcKept = hashed
          .join(keepers, Seq("h", "url"), "left")
          .filter(col("keep").isNotNull)
          .groupBy("source")
          .agg(count(lit(1)).as("nk"), sum(col("n_toks")).as("kt"))
        gated.groupBy("source")
          .agg(count(lit(1)).as("n_pages"), sum(col("pass")).as("n_gated"))
          .join(perSrcKept, Seq("source"), "left")
          .select(col("source"), col("n_pages"), col("n_gated"),
            coalesce(col("nk"), lit(0L)).as("n_kept"),
            coalesce(col("kt"), lit(0L)).as("kept_tokens"))
          .orderBy("source")
      },
      Some(raw"""
        WITH d AS (
          SELECT doc_id, source,
                 'http://' || source || '/doc/' || doc_id AS url,
                 trim(regexp_replace(text, '\s+', ' ', 'g')) AS txt
          FROM documents),
        f AS (
          SELECT *, len(string_split(txt, ' '))::BIGINT AS n_toks,
                 length(txt)::BIGINT AS n_chars
          FROM d),
        g AS (
          SELECT *, md5(array_to_string(
                   string_split(txt, ' ')[1:15], ' ')) AS h,
                 CASE WHEN n_toks BETWEEN 30 AND 5000
                          AND (n_chars - (n_toks - 1)) >= n_toks * 2
                          AND (n_chars - (n_toks - 1)) <= n_toks * 12
                     THEN 1 ELSE 0 END AS pass
          FROM f),
        k AS (
          SELECT h, MIN(url) AS url
          FROM g WHERE pass = 1 GROUP BY 1),
        kept AS (
          SELECT g.source, g.n_toks
          FROM g JOIN k ON g.h = k.h AND g.url = k.url),
        agg AS (
          SELECT source, COUNT(*)::BIGINT AS n_pages,
                 SUM(pass)::BIGINT AS n_gated
          FROM g GROUP BY source),
        ka AS (
          SELECT source, COUNT(*)::BIGINT AS n_kept,
                 SUM(n_toks)::BIGINT AS kept_tokens
          FROM kept GROUP BY source)
        SELECT agg.source, n_pages, n_gated,
               COALESCE(n_kept, 0)::BIGINT AS n_kept,
               COALESCE(kept_tokens, 0)::BIGINT AS kept_tokens
        FROM agg LEFT JOIN ka USING (source)
        ORDER BY source
      """.trim),
    ),

    // cu30: CCNet HEAD/MIDDLE/TAIL perplexity buckets (Wenzek et al.
    // 2020) — the most-cited quality stratification in public pipelines
    // (CCNet, LLaMA data): per language, documents sort by LM score and
    // split into terciles; "head" (most fluent) trains first-class,
    // "tail" is usually dropped. The LM score composes t10's corpus-own
    // pruned bigram LM, kept pure-integer (avg LM hit count per bigram,
    // integer div) so the oracle replays exactly — higher = more fluent
    // = CCNet's LOW-perplexity head. Tercile cuts are SCORE-VALUE
    // thresholds found on the (lang, score) HISTOGRAM — the cu20 cumsum
    // discipline: the corpus-sized passes are partial-agg'd groupBys;
    // the descending cumsum window runs over the model-bounded
    // histogram (distinct integer avg-counts per language, never the
    // corpus — at petabyte scale widen the score bucket like cu20's
    // div-16); the two threshold rows per language broadcast back. Ties
    // at a boundary all land in the same bucket — deterministic, no
    // arbitrary rank split.
    Q(
      "cu30_perplexity_buckets",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val perDoc = docs.select(col("doc_id"), col("lang"),
          size(filter(graft.ops.TextAnalysis.tokens(lower(col("text"))),
            t => t =!= "")).cast("long").as("n_toks"))
        // the t10 kernel, shared: bigramLmScores carries the PRODUCTION
        // xxhash64 keying (the LM df gate and join-back shuffle 8-byte
        // longs, never token text — see t10_lm_score and
        // TextLmHashKeySpec for the identity + collision-direction pins)
        val scored = graft.ops.TextAnalysis.bigramLmScores(
            docs, "doc_id", "text", 5, g => xxhash64(g))
          .join(perDoc, "doc_id")
          .withColumn("score", expr("hit_mass div n_bigrams"))
        val hist = scored.groupBy("lang", "score")
          .agg(count(lit(1)).as("c"))
        val tot = hist.groupBy("lang").agg(sum(col("c")).as("n"))
        val wCum = Window.partitionBy("lang").orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = hist.join(broadcast(tot), "lang")
          .withColumn("cum", sum(col("c")).over(wCum))
        val s1 = cum
          .filter(col("cum") >= expr("(n + 2) div 3") &&
            col("cum") - col("c") < expr("(n + 2) div 3"))
          .select(col("lang"), col("score").as("sc1"))
        val s2 = cum
          .filter(col("cum") >= expr("(2 * n + 2) div 3") &&
            col("cum") - col("c") < expr("(2 * n + 2) div 3"))
          .select(col("lang"), col("score").as("sc2"))
        scored.join(broadcast(s1), "lang").join(broadcast(s2), "lang")
          .withColumn("bucket",
            when(col("score") >= col("sc1"), lit("head"))
              .when(col("score") >= col("sc2"), lit("middle"))
              .otherwise(lit("tail")))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
          .orderBy("lang", "bucket")
      },
      Some(raw"""
        WITH toks AS (
          SELECT doc_id, lang, list_filter(
                   string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                   t -> t <> '') AS ts
          FROM documents),
        pd AS (SELECT doc_id, lang, len(ts)::BIGINT AS n_toks FROM toks),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ts)),
                   i -> ts[i] || ' ' || ts[i + 1])) AS gram
          FROM toks WHERE len(ts) >= 2),
        lm AS (SELECT gram, COUNT(*) AS cnt FROM bi
               GROUP BY gram HAVING COUNT(*) >= 5),
        sc AS (
          SELECT bi.doc_id, COUNT(*) AS n_bigrams,
                 SUM(COALESCE(lm.cnt, 0)) AS hit_mass
          FROM bi LEFT JOIN lm USING (gram) GROUP BY bi.doc_id),
        scored AS (
          SELECT s.doc_id, p.lang, p.n_toks,
                 (s.hit_mass // s.n_bigrams)::BIGINT AS score
          FROM sc s JOIN pd p USING (doc_id)),
        hist AS (SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY 1, 2),
        tot AS (SELECT lang, SUM(c)::BIGINT AS n FROM hist GROUP BY 1),
        cum AS (
          SELECT h.lang, h.score, h.c, t.n,
                 SUM(h.c) OVER (PARTITION BY h.lang ORDER BY h.score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM hist h JOIN tot t USING (lang)),
        th1 AS (SELECT lang, score AS sc1 FROM cum
                WHERE cum >= (n + 2) // 3 AND cum - c < (n + 2) // 3),
        th2 AS (SELECT lang, score AS sc2 FROM cum
                WHERE cum >= (2 * n + 2) // 3 AND cum - c < (2 * n + 2) // 3)
        SELECT d.lang,
               CASE WHEN d.score >= th1.sc1 THEN 'head'
                    WHEN d.score >= th2.sc2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               COUNT(*)::BIGINT AS n_docs,
               SUM(d.n_toks)::BIGINT AS n_tokens,
               MIN(d.score)::BIGINT AS min_score,
               MAX(d.score)::BIGINT AS max_score
        FROM scored d JOIN th1 USING (lang) JOIN th2 USING (lang)
        GROUP BY 1, 2
        ORDER BY lang, bucket
      """.trim),
    ),

    // cu31: SPAN-APPLY rewrite — closes the report→apply gap cu27/d18
    // leave open: the reported contamination spans are SUBTRACTED from
    // each doc (token-range removal + in-order reassembly of the
    // surviving tokens), which is the operator a decontamination pass
    // actually ships (Lee et al. 2022 remove the duplicated spans;
    // GPT-3 appendix C removes the overlap windows — neither stops at a
    // report). Fixture = cu27's planted-contamination corpus; spans
    // come from the PRODUCTION hashed kernel (xxhash64 gram keys —
    // identical output to the string form at gate scale, d19
    // discipline); the apply is one doc_id equi-join + a codegen
    // filter-by-index projection (see ops/Dedupe.applySpans for the
    // 100 TB shape). cleaned_md5 gates WHICH tokens survived in WHAT
    // order — the oracle replays enumerate/join/union/subtraction/
    // reassembly in SQL, so a one-token-off span boundary flips the
    // hash.
    Q(
      "cu31_span_apply",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val bench = docs.filter(col("source") === "src0")
        val bt = bench
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 40)
          .orderBy("doc_id").limit(1)
          .select(col("t").as("bt"))
        val m = col("doc_id") % 17
        val corpus = docs.filter(col("source") =!= "src0")
          .crossJoin(broadcast(bt))
          .select(col("doc_id"),
            when(m === 3, concat(col("text"), lit(" "),
                array_join(slice(col("bt"), 1, 20), " ")))
              .when(m === 8, concat(
                array_join(slice(col("bt"), 10, 20), " "),
                lit(" "), col("text")))
              .when(m === 12, concat(col("text"), lit(" "),
                array_join(slice(col("bt"), 1, 15), " "),
                lit(" zzqq"), col("doc_id").cast("string"), lit(" "),
                array_join(slice(col("bt"), 20, 15), " ")))
              .otherwise(col("text")).as("text"))
          .transform(graft.ops.Iterative.materialize) // feeds spans + apply
        val spans = graft.ops.Dedupe.contaminationSpansHashed(
          corpus = corpus, benchmark = bench,
          id = "doc_id", text = "text", gram = 13, minSpanTokens = 13)
        graft.ops.Dedupe.applySpans(corpus, spans, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(raw"""
        WITH bt AS (
          SELECT string_split_regex(trim(text), '\s+') AS bt
          FROM documents
          WHERE source = 'src0'
            AND len(string_split_regex(trim(text), '\s+')) >= 40
          ORDER BY doc_id LIMIT 1),
        aug AS (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 17 = 3
                        THEN d.text || ' ' || array_to_string(bt[1:20], ' ')
                      WHEN d.doc_id % 17 = 8
                        THEN array_to_string(bt[10:29], ' ') || ' ' || d.text
                      WHEN d.doc_id % 17 = 12
                        THEN d.text || ' ' || array_to_string(bt[1:15], ' ')
                          || ' zzqq' || d.doc_id || ' '
                          || array_to_string(bt[20:34], ' ')
                      ELSE d.text END AS text
          FROM documents d, bt
          WHERE d.source <> 'src0'),
        ctoks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM aug),
        btoks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE source = 'src0'),
        bench AS (
          SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS g
          FROM btoks, unnest(range(1, len(t) - 11)) r(i)
          WHERE len(t) >= 13),
        tr AS (
          SELECT doc_id, len(t) AS n_tokens, i AS pos,
                 array_to_string(t[i:i+12], ' ') AS g
          FROM ctoks, unnest(range(1, len(t) - 11)) r(i)
          WHERE len(t) >= 13),
        hit AS (SELECT doc_id, n_tokens, pos FROM tr SEMI JOIN bench USING (g)),
        cov AS (
          SELECT DISTINCT doc_id, n_tokens, tok
          FROM hit, unnest(range(pos, pos + 13)) u(tok)),
        runs AS (
          SELECT doc_id, n_tokens, tok,
                 tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
          FROM cov),
        spans AS (
          SELECT doc_id, MIN(tok) AS span_start, COUNT(*) AS span_tokens
          FROM runs GROUP BY doc_id, grp
          HAVING COUNT(*) >= 13),
        covtok AS (
          SELECT DISTINCT doc_id, u.tok
          FROM spans, unnest(range(span_start, span_start + span_tokens)) u(tok)),
        idx AS (
          SELECT doc_id, i, t[i] AS tok
          FROM ctoks, unnest(range(1, len(t) + 1)) r(i)),
        keep AS (
          SELECT i.doc_id, i.i, i.tok
          FROM idx i ANTI JOIN covtok c
            ON i.doc_id = c.doc_id AND i.i = c.tok),
        ka AS (
          SELECT doc_id, COUNT(*)::BIGINT AS kept_tokens,
                 md5(array_to_string(list(tok ORDER BY i), ' ')) AS cleaned_md5
          FROM keep GROUP BY doc_id),
        rm AS (
          SELECT doc_id, SUM(span_tokens)::BIGINT AS removed_tokens
          FROM spans GROUP BY doc_id),
        nt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM ctoks)
        SELECT nt.doc_id, nt.n_tokens,
               COALESCE(rm.removed_tokens, 0)::BIGINT AS removed_tokens,
               COALESCE(ka.kept_tokens, 0)::BIGINT AS kept_tokens,
               COALESCE(ka.cleaned_md5, md5('')) AS cleaned_md5
        FROM nt LEFT JOIN rm USING (doc_id) LEFT JOIN ka USING (doc_id)
        ORDER BY doc_id
      """.trim),
    ),
  )
}
