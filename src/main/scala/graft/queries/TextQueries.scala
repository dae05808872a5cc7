package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Text-analysis query surface over `documents` (LLM-pipeline extension):
  * language ID, quality scoring, token stats, document fingerprints.
  * All oracle-matched — see TextAnalysis for the portability rules.
  */
object TextQueries {

  /** Oracle fragment: normalized whitespace tokens. */
  private val Toks =
    raw"string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')"

  // t9 pruning knobs: drop the long tail before ranking, keep the head
  private val NgramMinCount = 5
  private val NgramTop = 100

  private def cntSql(w: String) =
    s"len(list_filter($Toks, t -> t = '$w'))"

  def defs: Seq[Q] = Seq(
    // t11: language-tagged WET export — the t1 language-ID feeding the
    // corpus's WARC-Identified-Content-Language header (the WET metadata
    // field downstream corpus curation filters on), through the
    // graft-warc writer's extra_headers path and back via warc_headers.
    // The oracle recomputes the full marker-count language CASE per doc
    // and the per-language rollup, so the langid, the header write, the
    // header read AND the aggregation are one gate.
    Q(
      "t11_lang_tagged_wet",
      (s, dir) => {
        val out = Staging.dir("t11")
        val docs = Registry.table(s, dir, "documents")
        val (_, pred) = TextAnalysis.langIdFromCounts(col("cnt"))
        docs
          .select(col("doc_id"), col("source"), col("text"),
            TextAnalysis.langMarkerCounts(TextAnalysis.tokens(col("text"))).as("cnt"))
          .select(
            concat(lit("http://"), col("source"), lit("/doc/"),
              col("doc_id").cast("string")).as("url"),
            lit("conversion").as("warc_type"),
            lit("2026-01-02T03:04:05Z").as("warc_date"),
            lit("text/plain").as("content_type"),
            col("text").cast("binary").as("content"),
            map(lit("WARC-Identified-Content-Language"), pred).as("extra_headers"))
          .write.format("graft-warc").mode("append").save(out)
        s.read.format("graft-warc").load(out)
          .filter(col("warc_type") === "conversion")
          .groupBy(col("warc_headers")("warc-identified-content-language").as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("length")).as("sum_bytes"))
          .orderBy("lang")
      }, {
        val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, words) =>
          words.map(cntSql).mkString(" + ") + s" AS score_$lang"
        }
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"GREATEST(${langs.map("score_" + _).mkString(", ")})"
        val caseArms = langs
          .map(l => s"WHEN score_$l = $best AND score_$l > 0 THEN '$l'")
          .mkString(" ")
        Some(s"""
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes
          FROM (SELECT CASE $caseArms ELSE 'und' END AS lang, text
                FROM (SELECT doc_id, text, ${scoreExprs.mkString(", ")}
                      FROM documents))
          GROUP BY lang ORDER BY lang
        """.trim)
      },
    ),
    Q(
      "t1_langid",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val (scores, pred) = TextAnalysis.langIdFromCounts(col("cnt"))
        docs
          // tokenize once, then ONE native pass computes all 25 marker
          // counts (hash probe per token); the materialized counts column
          // makes every score an element_at lookup
          .select(col("doc_id"),
            TextAnalysis.langMarkerCounts(TextAnalysis.tokens(col("text"))).as("cnt"))
          .select(
            Seq(col("doc_id")) ++
              scores.map { case (l, c) => c.cast("long").as(s"score_$l") } :+
              pred.as("pred_lang"): _*)
          .orderBy("doc_id")
      }, {
        val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, words) =>
          words.map(cntSql).mkString(" + ") + s" AS score_$lang"
        }
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"GREATEST(${langs.map("score_" + _).mkString(", ")})"
        val caseArms = langs
          .map(l => s"WHEN score_$l = $best AND score_$l > 0 THEN '$l'")
          .mkString(" ")
        Some(s"""
          SELECT doc_id, ${langs.map("score_" + _).mkString(", ")},
                 CASE $caseArms ELSE 'und' END AS pred_lang
          FROM (SELECT doc_id, ${scoreExprs.mkString(", ")} FROM documents)
          ORDER BY doc_id
        """.trim)
      },
    ),
    Q(
      "t2_quality",
      (s, dir) =>
        TextAnalysis.qualityFeatures(Registry.table(s, dir, "documents"), "text")
          .select("doc_id", "n_tokens", "n_types", "len_chars",
            "mean_token_len", "type_token_ratio", "quality_score")
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id, n_tokens, n_types, len_chars,
               (len_chars - (n_tokens - 1))::DOUBLE / n_tokens AS mean_token_len,
               n_types::DOUBLE / n_tokens AS type_token_ratio,
               LEAST(n_tokens::DOUBLE / 64.0, 1.0) * 0.5
                 + LEAST((n_types::DOUBLE / n_tokens) * 2.0, 1.0) * 0.5 AS quality_score
        FROM (
          SELECT doc_id,
                 len($Toks)::BIGINT AS n_tokens,
                 len(list_distinct($Toks))::BIGINT AS n_types,
                 length(text)::BIGINT AS len_chars
          FROM documents)
        ORDER BY doc_id
      """.trim),
    ),
    // corpus-level token stats per source — groupBy rollup of text features
    Q(
      "t3_token_stats",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        docs
          .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
          .select(
            col("source"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_types"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            min(col("n_tokens")).as("min_tokens"),
            max(col("n_tokens")).as("max_tokens"),
            sum(col("n_types")).as("total_types"))
          .withColumn(
            "avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
          .orderBy("source")
      },
      Some(s"""
        SELECT source, COUNT(*) AS n_docs,
               SUM(n_tokens)::BIGINT AS total_tokens,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens,
               SUM(n_types)::BIGINT AS total_types,
               SUM(n_tokens)::DOUBLE / COUNT(*) AS avg_tokens
        FROM (
          SELECT source,
                 len($Toks)::BIGINT AS n_tokens,
                 len(list_distinct($Toks))::BIGINT AS n_types
          FROM documents)
        GROUP BY source ORDER BY source
      """.trim),
    ),
    // winnowing-style fingerprint (k smallest shingle digests hashed together)
    Q(
      "t4_fingerprint",
      (s, dir) =>
        Registry.table(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.docFingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               md5(array_to_string(
                 list_sort([md5(s) for s in
                   list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)])])[1:4],
                 '')) AS fingerprint
        FROM documents ORDER BY doc_id
      """.trim),
    ),
    // BPE-ish subword tokenizer: letter runs / digit runs / single
    // punctuation (the pre-tokenization split every BPE vocabulary
    // starts from), counted per language. Same unicode classes in
    // Java regex (Spark) and RE2 (DuckDB).
    Q(
      "t5_subword_tokens",
      (s, dir) => {
        val pat = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"
        Registry.table(s, dir, "documents")
          .select(col("lang"),
            regexp_extract_all(col("text"), lit(pat), lit(0)).as("toks"))
          .select(col("lang"),
            size(col("toks")).cast("long").as("n_sub"),
            size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_sub")).as("total_subtokens"),
            max(col("n_sub")).as("max_subtokens"),
            sum(col("n_uniq")).as("total_uniq"))
          .withColumn("avg_subtokens",
            col("total_subtokens").cast("double") / col("n_docs"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               SUM(n_sub)::BIGINT AS total_subtokens,
               MAX(n_sub) AS max_subtokens,
               SUM(n_uniq)::BIGINT AS total_uniq,
               SUM(n_sub)::DOUBLE / COUNT(*) AS avg_subtokens
        FROM (
          SELECT lang,
                 len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]'))::BIGINT AS n_sub,
                 len(list_distinct(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')))::BIGINT AS n_uniq
          FROM documents)
        GROUP BY lang ORDER BY lang
      """.stripMargin.trim),
    ),
    // Gopher-style repetition rules (Rae et al. 2021 §A1.1): per-doc
    // duplicated-n-gram and top-n-gram occupancy fractions, the published
    // quality gates every large-scale text pipeline applies. Distributed
    // explode→count→fold (see TextAnalysis.repetitionMetrics); the
    // fractions are single IEEE divisions of exact integer counts, so the
    // hash matches bit-for-bit.
    Q(
      "t6_repetition",
      (s, dir) =>
        graft.ops.TextAnalysis.repetitionMetrics(
            Registry.table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, $Toks AS t FROM documents),
        g2 AS (
          SELECT doc_id, 2 AS n, t[i] || ' ' || t[i+1] AS gram
          FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        g3 AS (
          SELECT doc_id, 3 AS n, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
        counts AS (
          SELECT doc_id, n, gram, COUNT(*) AS c
          FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
          GROUP BY 1, 2, 3),
        byn AS (
          SELECT doc_id, n, SUM(c)::BIGINT AS total,
                 SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup,
                 MAX(c)::BIGINT AS top
          FROM counts GROUP BY 1, 2)
        SELECT doc_id,
               SUM(CASE WHEN n = 2 THEN total END)::BIGINT AS total_2grams,
               SUM(CASE WHEN n = 2 THEN dup END)::DOUBLE
                 / SUM(CASE WHEN n = 2 THEN total END) AS dup_2gram_frac,
               SUM(CASE WHEN n = 2 THEN top END)::DOUBLE
                 / SUM(CASE WHEN n = 2 THEN total END) AS top_2gram_frac,
               SUM(CASE WHEN n = 3 THEN total END)::BIGINT AS total_3grams,
               SUM(CASE WHEN n = 3 THEN dup END)::DOUBLE
                 / SUM(CASE WHEN n = 3 THEN total END) AS dup_3gram_frac,
               SUM(CASE WHEN n = 3 THEN top END)::DOUBLE
                 / SUM(CASE WHEN n = 3 THEN total END) AS top_3gram_frac
        FROM byn GROUP BY doc_id ORDER BY doc_id
      """.trim),
    ),
    // PII / identifier scrubbing (training-data pipeline extension): the
    // rule-driven redaction pass over every name-bearing column, with per
    // rule audit counts. The testdata's embedded numeric identifiers
    // (Customer#000000042, Brand#17) are the PII stand-in; every row is a
    // real hit, so the hash verifies the redaction itself, not a no-op.
    Q(
      "t7_pii_scrub",
      (s, dir) => {
        import graft.ops.TextAnalysis
        val c = Registry.table(s, dir, "customer")
          .select(lit("customer").as("src"), col("c_custkey").as("id"),
            col("c_name").as("txt"))
        val sup = Registry.table(s, dir, "supplier")
          .select(lit("supplier").as("src"), col("s_suppkey").as("id"),
            col("s_name").as("txt"))
        val p = Registry.table(s, dir, "part")
          .select(lit("part").as("src"), col("p_partkey").as("id"),
            col("p_brand").as("txt"))
        TextAnalysis.piiScrub(c.unionByName(sup).unionByName(p), "txt")
          .select("src", "id", "n_longid", "n_num", "redacted")
          .orderBy("src", "id")
      },
      Some(raw"""
        WITH scrubbed AS (
          SELECT src, id,
                 len(regexp_extract_all(txt, '\d{4,}'))::BIGINT AS n_longid,
                 regexp_replace(txt, '\d{4,}', '[ID]', 'g') AS r1
          FROM (
            SELECT 'customer' AS src, c_custkey AS id, c_name AS txt FROM customer
            UNION ALL
            SELECT 'supplier', s_suppkey, s_name FROM supplier
            UNION ALL
            SELECT 'part', p_partkey, p_brand FROM part)
        )
        SELECT src, id, n_longid,
               len(regexp_extract_all(r1, '\d+'))::BIGINT AS n_num,
               regexp_replace(r1, '\d+', '#', 'g') AS redacted
        FROM scrubbed ORDER BY src, id
      """.trim),
    ),
    // Gopher document gates (Rae et al. 2021 §A1.1): the boolean keep/drop
    // filter rules applied before training — word-count bounds, mean word
    // length bounds, alphabetic-word fraction, stopword presence. The
    // thresholds split this testdata non-trivially, so the hash verifies
    // real discrimination, not all-true flags.
    Q(
      "t8_gopher_gates",
      (s, dir) =>
        graft.ops.TextAnalysis.gopherGates(
            Registry.table(s, dir, "documents"), "text")
          .select("doc_id", "n_words", "mean_word_len", "alpha_frac",
            "n_stopwords", "gate_words", "gate_word_len", "gate_alpha",
            "gate_stop", "pass")
          .orderBy("doc_id"),
      Some(s"""
        WITH feats AS (
          SELECT doc_id,
                 len($Toks)::BIGINT AS n_words,
                 list_sum(list_transform($Toks, w -> length(w)))::DOUBLE / len($Toks) AS mean_word_len,
                 len(list_filter($Toks, w -> regexp_matches(w, '\\p{L}')))::DOUBLE
                   / len($Toks) AS alpha_frac,
                 len(list_filter(
                   ['the','be','to','of','and','that','have','with'],
                   w -> list_contains($Toks, w)))::BIGINT AS n_stopwords
          FROM documents)
        SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
               n_words BETWEEN 50 AND 100000 AS gate_words,
               mean_word_len BETWEEN 3.0 AND 10.0 AS gate_word_len,
               alpha_frac >= 0.8 AS gate_alpha,
               n_stopwords >= 2 AS gate_stop,
               (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
                 AND alpha_frac >= 0.8 AND n_stopwords >= 2 AS pass
        FROM feats ORDER BY doc_id
      """.trim),
    ),
    // t9: n-gram language-model counts with pruning — the classic
    // 100 TB corpus statistic (contamination screens, LM smoothing
    // tables, quality priors all start from pruned n-gram counts; the
    // Brants et al. "large LM" recipe is exactly count → threshold).
    // One explode per n and ONE shuffle for the count (map-side partial
    // agg); the min-count filter prunes the long tail before the
    // (tiny) per-n top-k window. Bigrams pair consecutive tokens via
    // zip_with over two slices — no self-join, no positional explode.
    Q(
      "t9_ngram_counts",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toks = docs.select(
          filter(TextAnalysis.tokens(lower(col("text"))), t => t =!= "").as("ts"))
        val uni = toks
          .select(explode(col("ts")).as("gram")).withColumn("n", lit(1L))
        val bi = toks
          .filter(size(col("ts")) >= 2)
          .select(explode(zip_with(
            slice(col("ts"), lit(1), size(col("ts")) - 1),
            slice(col("ts"), lit(2), size(col("ts")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("gram"))
          .withColumn("n", lit(2L))
        // per-n head via the bounded-heap aggregator, not a window: a
        // Window.partitionBy(n) would sort EVERY pruned gram of an n on
        // one task (10^7-10^8 survivors at corpus scale); the heap ships
        // ≤ NgramTop rows per n per mapper and posexplode recovers the
        // rank from the buffer's order
        uni.unionByName(bi)
          .groupBy(col("n"), col("gram"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= NgramMinCount)
          .groupBy(col("n"))
          .agg(graft.ops.TopK.topScoredStrings(NgramTop)(
            col("cnt"), col("gram")).as("top"))
          .select(col("n"), posexplode(col("top")))
          .select(col("n"), (col("pos") + 1).cast("long").as("pos"),
            col("col.key").as("gram"), col("col.score").as("cnt"))
          .orderBy("n", "pos")
      },
      Some(s"""
        WITH toks AS (
          SELECT list_filter(
                   string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                   t -> t <> '') AS ts
          FROM documents),
        uni AS (SELECT 1::BIGINT AS n, unnest(ts) AS gram FROM toks),
        bi AS (
          SELECT 2::BIGINT AS n,
                 unnest(list_transform(range(1, len(ts)),
                   i -> ts[i] || ' ' || ts[i + 1])) AS gram
          FROM toks WHERE len(ts) >= 2),
        g AS (
          SELECT n, gram, COUNT(*) AS cnt
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
          GROUP BY n, gram HAVING COUNT(*) >= $NgramMinCount),
        r AS (
          SELECT n, CAST(ROW_NUMBER() OVER (
                   PARTITION BY n ORDER BY cnt DESC, gram) AS BIGINT) AS pos,
                 gram, cnt
          FROM g)
        SELECT n, pos, gram, cnt FROM r WHERE pos <= $NgramTop
        ORDER BY n, pos
      """.trim),
    ),
    // ---------------------------------------------------------------
    // t10: LM-score quality filtering — each document scored against the
    // corpus's own min-count-pruned bigram LM (the shape of the
    // KenLM-perplexity filters real training pipelines run; t9 builds
    // the LM, this applies it). Scores stay pure int64 — bigram count,
    // out-of-vocabulary count under the pruned LM, and total hit mass
    // (sum of LM counts of in-vocabulary bigrams) — so the oracle
    // compares exactly with no IEEE-log drift; a downstream gate turns
    // them into a keep/drop ratio. Scale shape: the bigram table is
    // materialized ONCE (checkpoint policy) and feeds both the LM
    // aggregate and the probe side — the LM join and both groupBys are
    // plain key/doc_id-keyed shuffles with partial aggregation, and at
    // corpus scale the pruned LM is the small side (min-count kills the
    // unique-bigram long tail, the same prune t9 applies before its
    // top-k head). PRODUCTION KEYING (the d19 lever one tier down): no
    // output column carries gram text, so the df gate and the LM
    // join-back both key on xxhash64(gram) — 8 key bytes per occurrence
    // through the two wide exchanges instead of the joined token text
    // (measured at x100 in the forced non-broadcast LM regime: 721.3 →
    // 542.8 MB compressed shuffle, 12.28 → 7.36 s; SCALING.md
    // round-20). The hash is computed
    // inside the enumeration projection, so the string never outlives
    // the map side. Collision direction: a collision MERGES two grams'
    // counts — a rare gram can inherit a common gram's mass (hit_mass
    // up, n_oov down, never the reverse); at 64 bits the first expected
    // collision sits near 2^32 distinct bigrams, far beyond any corpus
    // LM's vocabulary, and TextLmHashKeySpec pins both the fixture
    // identity to the string replay and the one-sided direction under a
    // deliberately lossy key.
    Q(
      "t10_lm_score",
      (s, dir) =>
        TextAnalysis.bigramLmScores(
            Registry.table(s, dir, "documents"), "doc_id", "text",
            NgramMinCount, g => xxhash64(g))
          .orderBy("doc_id"),
      Some(s"""
        WITH toks AS (
          SELECT doc_id, list_filter(
                   string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                   t -> t <> '') AS ts
          FROM documents),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ts)),
                   i -> ts[i] || ' ' || ts[i + 1])) AS gram
          FROM toks WHERE len(ts) >= 2),
        lm AS (
          SELECT gram, COUNT(*) AS cnt
          FROM bi GROUP BY gram HAVING COUNT(*) >= $NgramMinCount)
        SELECT bi.doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(CASE WHEN lm.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(SUM(COALESCE(lm.cnt, 0)) AS BIGINT) AS hit_mass
        FROM bi LEFT JOIN lm USING (gram)
        GROUP BY bi.doc_id
        ORDER BY bi.doc_id
      """.trim),
    ),
    // t26: the PRODUCTION two-pass form of t9 — the heavy-hitter shape
    // (Misra-Gries/space-saving family, made exact by a second pass)
    // every large-corpus n-gram head actually ships: t9's single-pass
    // count shuffles every distinct gram AS TEXT through the exchange;
    // at 100 TB distinct n-grams run to the trillions and that exchange
    // is the job. Pass 1 counts xxhash64(gram) buckets (8-byte keys,
    // map-side combined) and keeps the top 3×k buckets per n (bounded
    // heap, no window); pass 2 re-enumerates, semi-joins the broadcast
    // candidate set, and EXACT-counts only candidate occurrences — the
    // only text that ever shuffles is the ~3×k candidate grams' own
    // rows. Containment: a bucket's merged count ≥ every member gram's
    // count, so a true top-k gram's bucket can only rank at-or-above
    // the gram itself and the min-count prune can only keep more; at
    // 64-bit width buckets ≈ grams (first expected collision ~2^32
    // distinct grams) and the 3× overfetch absorbs tie margins — and
    // under a DELIBERATELY lossy 4-bit key the overfetch exceeds the
    // whole bucket space, so the exact pass degrades to t9 itself
    // (identity under maximal collisions, spec-pinned). Same oracle as
    // t9: the two-pass output is the exact head.
    Q(
      "t26_ngram_counts_hashed",
      (s, dir) =>
        TextAnalysis.ngramHeadTwoPass(
            Registry.table(s, dir, "documents"), "text",
            NgramMinCount, NgramTop, 3 * NgramTop, g => xxhash64(g))
          .orderBy("n", "pos"),
      Some(s"""
        WITH toks AS (
          SELECT list_filter(
                   string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
                   t -> t <> '') AS ts
          FROM documents),
        uni AS (SELECT 1::BIGINT AS n, unnest(ts) AS gram FROM toks),
        bi AS (
          SELECT 2::BIGINT AS n,
                 unnest(list_transform(range(1, len(ts)),
                   i -> ts[i] || ' ' || ts[i + 1])) AS gram
          FROM toks WHERE len(ts) >= 2),
        g AS (
          SELECT n, gram, COUNT(*) AS cnt
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
          GROUP BY n, gram HAVING COUNT(*) >= $NgramMinCount),
        r AS (
          SELECT n, CAST(ROW_NUMBER() OVER (
                   PARTITION BY n ORDER BY cnt DESC, gram) AS BIGINT) AS pos,
                 gram, cnt
          FROM g)
        SELECT n, pos, gram, cnt FROM r WHERE pos <= $NgramTop
        ORDER BY n, pos
      """.trim),
    ),

    // t12: model-based quality filtering — hashed-feature linear
    // classifier INFERENCE (the fastText shape, Joulin et al. 2016):
    // unigram + word-bigram features hash into B buckets, the trained
    // weight vector is a broadcast dim table, score = integer weight
    // sum over features, label = sign. The weights here are a
    // deterministic md5 stand-in (no trained artifact ships in this
    // container); the inference plumbing is the production shape — at
    // 100 TB the corpus explodes linearly, the weight table stays a
    // broadcast (a 2^20-bucket int table is ~8 MB), the per-feature
    // lookup is a BroadcastHashJoin, and the per-doc sum is one shuffle
    // on doc_id with map-side partial aggregation. Integer weights keep
    // the score exact, so the oracle hash cannot drift on float order.
    Q(
      "t12_linear_classifier",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val B = 4096
        val weights = s.range(B).select(
          col("id").as("bucket"),
          (conv(substring(md5(concat(lit("w:"), col("id").cast("string"))
            .cast("binary")), 1, 6), 16, 10).cast("long") % 2001 - 1000)
            .as("weight"))
        // tokenize ONCE behind a projection boundary: the bigram lambda
        // touches the token array 2x per gram, and inlining the split()
        // there would re-run the regex per element_at (measured 2x on
        // t12); the multi-use reference survives CollapseProject
        val feats = docs
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
          .select(col("doc_id"),
            explode(concat(col("ts"), TextAnalysis.wordNgrams(col("ts"), 2))).as("feat"))
        val hashed = feats.select(col("doc_id"),
          (conv(substring(md5(col("feat").cast("binary")), 1, 6), 16, 10)
            .cast("long") % B).as("bucket"))
        hashed.join(broadcast(weights), "bucket")
          .groupBy("doc_id")
          .agg(sum(col("weight")).as("score"),
            count(lit(1)).as("n_feats"))
          .select(col("doc_id"), col("score"), col("n_feats"),
            when(col("score") > 0, "keep").otherwise("drop").as("label"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH w AS (
          SELECT b AS bucket,
                 ('0x' || substr(md5('w:' || CAST(b AS VARCHAR)), 1, 6))::BIGINT
                   % 2001 - 1000 AS weight
          FROM range(4096) t(b)),
        toks AS (
          SELECT doc_id,
                 string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ts
          FROM documents),
        feats AS (
          SELECT doc_id, unnest(ts) AS feat FROM toks
          UNION ALL
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ts)),
                   i -> ts[i] || ' ' || ts[i + 1])) AS feat
          FROM toks WHERE len(ts) >= 2),
        h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(feat), 1, 6))::BIGINT % 4096 AS bucket
          FROM feats)
        SELECT h.doc_id, CAST(SUM(w.weight) AS BIGINT) AS score,
               COUNT(*) AS n_feats,
               CASE WHEN SUM(w.weight) > 0 THEN 'keep' ELSE 'drop' END AS label
        FROM h JOIN w USING (bucket)
        GROUP BY h.doc_id
        ORDER BY h.doc_id
      """.trim),
    ),
    // t13: distributed BPE merge learning (ops.Bpe) — the subword
    // tokenizer trained before any pretraining run. The corpus collapses
    // to its word-frequency table once; five merge rounds then run over
    // the vocabulary only. The oracle replays the ENTIRE training loop
    // level-by-level in SQL (pair count → deterministic argmax →
    // left-to-right non-overlapping rewrite via a list_reduce lambda), so
    // the learned merge table — not a summary of it — is hash-checked.
    Q(
      "t13_bpe_merges",
      (s, dir) =>
        graft.ops.Bpe.learnMerges(
          Registry.table(s, dir, "documents"), "text", k = 5)
          .orderBy("step"),
      Some(bpeOracle(5)),
    ),

    // t14: BPE ENCODING — the inference half of t13. The corpus is
    // tokenized with the learned merge table and tokens are accounted per
    // document (the unit every mixture/budget decision is denominated
    // in). Scale design: encoding is a function of the word alone, so
    // the corpus collapses to its distinct-word table and each surface
    // form is encoded exactly once — vocabulary work, not corpus work
    // (see ops.Bpe.tokenCounts). The oracle replays merge LEARNING level
    // by level (as t13), then applies the final vocabulary back onto the
    // per-document word multiset — so the learned merges, the per-word
    // encoding AND the per-doc accounting are one hash gate.
    Q(
      "t14_bpe_encode",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        // O(k) merge rows: driver-collect is the broadcast pattern, not a
        // data collect — the merge table is the MODEL, not the data.
        val merges = graft.ops.Bpe
          .learnMerges(docs, "text", k = 5)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.ops.Bpe.tokenCounts(docs, "doc_id", "text", merges)
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracle(5)),
    ),
    // ---------------------------------------------------------------
    // t15: boilerplate detection by per-source shingle doc-frequency —
    // the jusText/trafilatura signal distributed: a text fragment that
    // recurs across many pages of the SAME source is template chrome
    // (nav bars, footers, cookie banners), not content, and a doc made
    // mostly of such fragments is dropped before training. The fragment
    // unit here is the token bigram (the fixture has no line structure;
    // line-hash or sentence units drop into the same plan). Rule: a
    // (source, gram) is boilerplate when it appears in ≥20% of the
    // source's docs AND ≥3 docs — RELATIVE threshold, so the gate keeps
    // meaning at any corpus size. Scale shape: three hash-keyed
    // partial-agg groupBys (doc-distinct grams, per-(source,gram) df,
    // per-doc rollup) + one broadcast of per-source doc counts; df is
    // bounded by the source's doc count, never corpus-global, so no
    // stop-gram skew key exists by construction.
    Q(
      "t15_boilerplate",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
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
        val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val boiler = grams
          .groupBy("source", "gram")
          .agg(count(lit(1)).as("df"))
          .join(broadcast(nd), "source")
          .filter(col("df") * 5 >= col("n_docs") && col("df") >= 3)
          .select(col("source"), col("gram"), lit(1).as("is_b"))
        val per = grams
          .join(boiler, Seq("source", "gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"), count(col("is_b")).as("n_boiler"))
        docs.select(col("doc_id"))
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
          .withColumn("keep", col("n_boiler") * 5 <= col("n_grams"))
          .orderBy("doc_id")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id, source,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id, source, ts[i] || ' ' || ts[i+1] AS gram
          FROM ts, UNNEST(range(1, len(ts))) u(i)),
        nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        bl AS (
          SELECT source, gram FROM (
            SELECT source, gram, COUNT(*) AS df FROM g GROUP BY 1, 2)
          JOIN nd USING (source)
          WHERE df * 5 >= n_docs AND df >= 3),
        per AS (
          SELECT g.doc_id,
                 COUNT(*) AS n_grams,
                 COUNT(*) FILTER (bl.gram IS NOT NULL) AS n_boiler
          FROM g LEFT JOIN bl ON g.source = bl.source AND g.gram = bl.gram
          GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(n_grams, 0)::BIGINT AS n_grams,
               COALESCE(n_boiler, 0)::BIGINT AS n_boiler,
               COALESCE(n_boiler, 0) * 5 <= COALESCE(n_grams, 0) AS keep
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        ORDER BY d.doc_id
      """.trim),
    ),
    // ---------------------------------------------------------------
    // t16: term co-occurrence mining ("related terms") — for each
    // token, its top-3 same-document partners by co-occurrence count:
    // the association signal behind query suggestion, lexicon
    // induction, and skip-gram-style pair generation. Pair generation
    // is a doc_id-keyed self-join over the doc's DISTINCT ≥5-char
    // tokens — per-doc quadratic but bounded by the doc's own
    // vocabulary (the length gates cap it; the same rationale as g11's
    // capped fanout), never corpus-quadratic. Counts partial-aggregate
    // on the pair key; the min-count prune kills the long tail before
    // the per-token head ships ≤3 rows per mapper through the heap
    // (a per-token window would sort a hub token's whole partner list).
    Q(
      "t16_cooccurrence",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
            explode(array_distinct(
              filter(split(lower(col("text")), "[^a-z]+"),
                t => length(t) >= 5))).as("tok"))
        val pairs = toks.as("a")
          .join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("x"), col("b.tok").as("y"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 3)
        pairs.select(col("x").as("tok"), col("y").as("partner"), col("cnt"))
          .unionByName(pairs.select(col("y").as("tok"), col("x").as("partner"),
            col("cnt")))
          .groupBy("tok")
          .agg(graft.ops.TopK.topScoredStrings(3)(col("cnt"), col("partner"))
            .as("top"))
          .select(col("tok"), posexplode(col("top")))
          .select(col("tok"), (col("pos") + 1).cast("long").as("pos"),
            col("col.key").as("partner"), col("col.score").as("cnt"))
          .orderBy("tok", "pos")
      },
      Some("""
        WITH toks AS (
          SELECT DISTINCT doc_id, t AS tok
          FROM (SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> length(t) >= 5)) AS t
                FROM documents)),
        p AS (
          SELECT a.tok AS x, b.tok AS y, COUNT(*) AS cnt
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        sym AS (
          SELECT x AS tok, y AS partner, cnt FROM p
          UNION ALL SELECT y, x, cnt FROM p),
        r AS (
          SELECT tok, partner, cnt,
                 CAST(ROW_NUMBER() OVER (PARTITION BY tok
                   ORDER BY cnt DESC, partner) AS BIGINT) AS pos
          FROM sym)
        SELECT tok, pos, partner, cnt FROM r WHERE pos <= 3
        ORDER BY tok, pos
      """.trim),
    ),
    // ---------------------------------------------------------------
    // t17: collocation detection — the corpus's top-50 ADJACENT bigrams
    // ranked by pointwise association (lift), the classic MWE/phrase
    // induction signal ("new york" scores high, "of the" low, even
    // though the latter has the higher raw count that t16/i11 rank by).
    // PMI's log is monotone, so ranking by the rational lift core
    // cnt_xy·10⁶ div (cnt_x·cnt_y) is ranking by PMI — exact integer in
    // both engines where a float log would hash-drift (i12's idf rule).
    // The corpus-size factor N is a constant across one ranking and is
    // omitted, which also buys int64 headroom: cnt_x·cnt_y stays under
    // 2⁶³ past 10⁹-token sources. Scale shape: unigram and bigram
    // counts are partial-agg'd groupBys; the two unigram joins hash on
    // the word (bounded vocabulary, no corpus-keyed shuffle); the ≥5
    // support prune kills the hapax tail BEFORE the joins; the global
    // top-50 is TakeOrderedAndProject — per-partition heads, never a
    // full sort.
    Q(
      "t17_collocations",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val toksArr = docs.select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        val uni = toksArr.select(explode(col("ts")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val bg = toksArr
          .select(explode(when(size(col("ts")) < 2,
            expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
            .otherwise(expr(
              """transform(slice(ts, 1, size(ts) - 1),
                |  (t, i) -> named_struct('w1', t, 'w2', element_at(ts, i + 2)))"""
                .stripMargin))).as("b"))
          .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5)
        bg.join(uni.select(col("w").as("w1"), col("c").as("cx")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("c").as("cy")), Seq("w2"))
          .select(col("w1"), col("w2"), col("cxy"),
            expr("cxy * 1000000 div (cx * cy)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
          .limit(50)
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        uni AS (
          SELECT t AS w, COUNT(*) AS c
          FROM (SELECT unnest(ts) AS t FROM ts) GROUP BY 1),
        bg AS (
          SELECT ts[i] AS w1, ts[i+1] AS w2, COUNT(*) AS cxy
          FROM ts, UNNEST(range(1, len(ts))) AS u(i)
          GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy,
               CAST(cxy * 1000000 // (ux.c * uy.c) AS BIGINT) AS lift_ppm
        FROM bg JOIN uni ux ON bg.w1 = ux.w JOIN uni uy ON bg.w2 = uy.w
        ORDER BY lift_ppm DESC, w1, w2 LIMIT 50
      """.trim),
    ),
    // ---------------------------------------------------------------
    // t18: readability scoring — the Flesch–Kincaid grade estimate a
    // curriculum/quality tier gates on, in pure integers: syllables are
    // estimated as vowel-letter GROUPS ([aeiouy]+ runs, the standard
    // regex estimator) counted via the replace-to-marker length trick
    // (one codegen'd regexp pass, no explode); sentences as [.!?]+
    // runs, floored at 1. The grade is the exact ×100 fixed-point
    // rational: fk_x100 = 39·words div sentences + 1180·syllables div
    // words − 1559 (0.39·w/s + 11.8·sy/w − 15.59, multiplied through) —
    // identical integer division order in both engines, no float
    // anywhere. Shape: a single projection pass over the scan, fully
    // whole-stage-codegen; per-doc output ordered by id.
    Q(
      "t18_readability",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val low = lower(col("text"))
        val words = size(filter(split(low, "[^a-z]+"), t => t =!= ""))
          .cast("long")
        val syll = (length(regexp_replace(low, "[aeiouy]+", "V")) -
          length(regexp_replace(low, "[aeiouy]+", ""))).cast("long")
        val sents = greatest(lit(1L),
          (length(regexp_replace(col("text"), "[.!?]+", "S")) -
            length(regexp_replace(col("text"), "[.!?]+", ""))).cast("long"))
        docs.select(col("doc_id"),
            words.as("n_words"), sents.as("n_sentences"), syll.as("n_syllables"))
          .withColumn("wg", greatest(lit(1L), col("n_words")))
          .select(col("doc_id"), col("n_words"), col("n_sentences"),
            col("n_syllables"),
            expr("39 * n_words div n_sentences" +
              " + 1180 * n_syllables div wg - 1559").as("fk_x100"))
          .orderBy("doc_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id,
                 CAST(len(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   t -> t <> '')) AS BIGINT) AS n_words,
                 GREATEST(1, CAST(
                   length(regexp_replace(text, '[.!?]+', 'S', 'g')) -
                   length(regexp_replace(text, '[.!?]+', '', 'g')) AS BIGINT))
                   AS n_sentences,
                 CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g')) -
                   length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
                   AS BIGINT) AS n_syllables
          FROM documents)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST(39 * n_words // n_sentences
                 + 1180 * n_syllables // GREATEST(1, n_words) - 1559
                 AS BIGINT) AS fk_x100
        FROM m ORDER BY doc_id
      """.trim),
    ),

    // ---------------------------------------------------------------
    // t19: TextRank keyphrase extraction (Mihalcea & Tarau, EMNLP 2004)
    // — PageRank over the word co-occurrence graph; the corpus-level
    // "what is this crawl about" signal the reference's analyses stop
    // short of (its ranker walks the LINK graph only). Graph substrate
    // is exactly t16's: doc-distinct tokens ≥5 chars, pair support ≥3 —
    // the support prune kills the hapax tail so the graph is
    // vocabulary-sized, never corpus-sized. The damped update runs in
    // g5's integer fixed-point (rank DIV deg fold, 0.85 applied as an
    // exact rational split), 6 rounds, so the oracle can replay it
    // bit-for-bit with unrolled CTEs. Scale shape: the O(edges) table is
    // shuffled ONCE onto src and persisted; each round moves only the
    // O(vocab) rank state; per-round state is checkpoint-materialized
    // (Iterative.materializer) so lineage stays flat; final top-50 is
    // TakeOrderedAndProject.
    Q(
      "t19_textrank",
      (s, dir) => {
        val iters = 6
        val docs = Registry.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(array_distinct(
            filter(split(lower(col("text")), "[^a-z]+"),
              t => length(t) >= 5))).as("tok"))
        val mat = graft.ops.Iterative.materializer(s)
        // the pair table feeds four consumers in the setup (both union
        // sides of `sym`, each appearing again under `deg`): checkpoint
        // the corpus-scale co-occurrence aggregation ONCE so the doc-
        // level token self-join runs a single time and the vocab-sized
        // pair set fans out from the materialized state (guide §2.4)
        val pairs = mat(toks.as("a")
          .join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("x"), col("b.tok").as("y"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 3))
        val sym = pairs.select(col("x").as("src"), col("y").as("dst"))
          .unionByName(pairs.select(col("y").as("src"), col("x").as("dst")))
        val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        val e = graft.ops.Iterative.pinned(sym.join(deg, "src"), "src")
        var r = e.select(col("src").as("word")).distinct()
          .select(col("word"), lit(1000000000L).as("rank_u"))
        for (_ <- 1 to iters) {
          val acc = e.join(r, col("src") === col("word"))
            .groupBy(col("dst"))
            .agg(sum(expr("rank_u DIV deg")).as("acc"))
          // the update's left side is the node list = distinct srcs —
          // exactly the word set the PREVIOUS round's checkpointed state
          // carries (r0 = distinct srcs; every round left-joins onto the
          // same set). Reading it from `r` instead of `deg` keeps the
          // rows identical but swaps deg's full lineage (the corpus-wide
          // token self-join + pair aggregation, re-derived in every
          // round's job because deg is not persisted) for one scan of
          // the previous checkpoint: with the pairs checkpoint above,
          // measured 5.05 → 2.70 s warm at sf0.1 (the two fixes
          // together), and at corpus scale it removes an O(tokens²/doc)
          // pipeline from every round (guide §2.4: don't recompute what
          // a cached state already holds).
          r = mat(r.select(col("word"))
            .join(acc, col("word") === col("dst"), "left")
            .select(col("word"), expr(
              """CAST(150000000 + (COALESCE(acc, 0) DIV 1000) * 850
                |  + ((COALESCE(acc, 0) % 1000) * 850) DIV 1000 AS BIGINT)"""
                .stripMargin).as("rank_u")))
        }
        val out = r.orderBy(col("rank_u").desc, col("word")).limit(50)
        e.unpersist()
        out
      },
      Some {
        val iterCtes = (1 to 6).map { i =>
          s"""l$i AS (
             |  SELECT e.dst, CAST(SUM(r.rank_u // e.deg) AS BIGINT) AS acc
             |  FROM e JOIN r${i - 1} r ON e.src = r.word GROUP BY 1),
             |r$i AS (
             |  SELECT d.src AS word,
             |         CAST(150000000 + (COALESCE(a.acc, 0) // 1000) * 850
             |           + ((COALESCE(a.acc, 0) % 1000) * 850) // 1000 AS BIGINT) AS rank_u
             |  FROM deg d LEFT JOIN l$i a ON d.src = a.dst)""".stripMargin
        }.mkString(",\n")
        s"""
        WITH toks AS (
          SELECT DISTINCT doc_id, t AS tok
          FROM (SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> length(t) >= 5)) AS t
                FROM documents)),
        p AS (
          SELECT a.tok AS x, b.tok AS y, COUNT(*) AS cnt
          FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        sym AS (SELECT x AS src, y AS dst FROM p UNION ALL SELECT y, x FROM p),
        deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
        e AS (SELECT sym.src, sym.dst, deg.deg FROM sym JOIN deg USING (src)),
        r0 AS (SELECT src AS word, CAST(1000000000 AS BIGINT) AS rank_u FROM deg),
        $iterCtes
        SELECT word, rank_u FROM r6 ORDER BY rank_u DESC, word LIMIT 50
        """.trim
      },
    ),

    // t20: MARKDOWN CENSUS + TEXT — markdown is the lingua franca of
    // the code/docs corpus slice (READMEs, wikis, issue bodies), and a
    // text pipeline needs both the structure census (headings, fenced
    // code, links, bullets — the quality/formatting signals) and the
    // prose with markup stripped IN THE RIGHT ORDER (fenced blocks
    // vanish wholesale BEFORE code-span/link passes, so backticks and
    // brackets inside code can't corrupt the strip — the x9 script-
    // first discipline applied to markdown). Fixture and extraction
    // are both 100% declarative built-ins (whole-stage codegen, zero
    // UDFs); the oracle reconstructs every count and the md5 of the
    // stripped text.
    Q(
      "t20_markdown_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val sections = array_join(
          transform(sequence(lit(0), k % 5), i =>
            concat(lit("## Sec "), i, lit("\nBody "), i, lit(" of "),
              col("doc_id"), lit(" sees [ref "), i, lit("](https://r"), i,
              lit(".example/) ok.\n"))), "")
        val bullets = when(k % 4 > 0, array_join(
          transform(sequence(lit(0), k % 4 - 1), j =>
            concat(lit("- item "), j, lit(" "), col("lang"), lit("\n"))), ""))
          .otherwise("")
        val fenced = when(k % 3 === 0,
          concat(lit("```python\ncode "), col("doc_id"),
            lit("\nx = ["), k, lit("]\n```\n"))).otherwise("")
        val md = concat(
          lit("# Doc "), col("doc_id"), lit("\n"),
          lit("Intro "), col("lang"), lit(" with [a link](http://ex"),
          k % 9, lit(".example/p"), col("doc_id"), lit(") and `span "),
          k, lit("`.\n"),
          fenced, sections, bullets)
        val noFence = regexp_replace(md, "(?s)```.*?```", " ")
        val text = trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(noFence, "`([^`]*)`", "$1"),
                "\\[([^\\]]*)\\]\\([^)]*\\)", "$1"),
              "(?m)^#{1,6}\\s*", ""),
            "(?m)^-\\s*", ""),
          "\\s+", " "))
        docs.select(col("doc_id"), md.as("md"), noFence.as("nf"), text.as("text"))
          .select(
            col("doc_id"),
            regexp_count(col("md"), lit("(?m)^#{1,6} ")).cast("long")
              .as("n_headings"),
            regexp_count(col("md"), lit("(?m)^## ")).cast("long").as("n_h2"),
            regexp_count(col("nf"), lit("\\[[^\\]]*\\]\\([^)]*\\)"))
              .cast("long").as("n_links"),
            regexp_count(col("nf"), lit("\\]\\(https://")).cast("long")
              .as("n_https_links"),
            regexp_count(col("nf"), lit("`[^`\\n]+`")).cast("long")
              .as("n_code_spans"),
            regexp_count(col("md"), lit("(?s)```.*?```")).cast("long")
              .as("n_fenced"),
            regexp_count(col("md"), lit("(?m)^- ")).cast("long").as("n_bullets"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang, doc_id % 251 AS k FROM documents),
        d AS (
          SELECT doc_id, k,
                 'Doc ' || doc_id || ' Intro ' || lang
                   || ' with a link and span ' || k || '.'
                   || COALESCE(array_to_string(
                        list_transform(range(0, k % 5 + 1), i ->
                          ' Sec ' || i || ' Body ' || i || ' of ' || doc_id
                            || ' sees ref ' || i || ' ok.'), ''), '')
                   || COALESCE(array_to_string(
                        list_transform(range(0, k % 4), j ->
                          ' item ' || j || ' ' || lang), ''), '') AS text
          FROM base)
        SELECT doc_id,
               (1 + k % 5 + 1)::BIGINT AS n_headings,
               (k % 5 + 1)::BIGINT AS n_h2,
               (1 + k % 5 + 1)::BIGINT AS n_links,
               (k % 5 + 1)::BIGINT AS n_https_links,
               1::BIGINT AS n_code_spans,
               (CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_fenced,
               (k % 4)::BIGINT AS n_bullets,
               strlen(text)::BIGINT AS n_chars,
               md5(text) AS text_md5
        FROM d
        ORDER BY doc_id
      """.trim),
    ),

    // t21: unigram-LM tokenizer training (Kudo 2018 / SentencePiece EM)
    // in integer fixed-point — the tokenizer family's third member next
    // to BPE learn/encode (t13/t14). Seed substring vocabulary (capped
    // head + always-alive single chars), then EM rounds of deterministic
    // integer Viterbi segmentation (fewest pieces, then highest total
    // piece count, ties to the smallest split point) → usage
    // re-estimation → prune-by-loss. The oracle replays the WHOLE
    // training loop level-by-level (an unrolled DP CTE per word
    // position per round — the t13 replay discipline), so the learned
    // piece table itself is hash-gated. Scale: corpus collapses to its
    // word-frequency table once; every round is vocabulary work and the
    // piece table is model-sized (capped, broadcast).
    Q(
      "t21_unigram_train",
      (s, dir) =>
        graft.ops.UnigramLm.train(
          Registry.table(s, dir, "documents"), "text", rounds = 2)
          .orderBy("pos"),
      Some(unigramOracle(2)),
    ),

    // t22: UNIGRAM ENCODING — the inference half of t21 (the t13→t14
    // pattern): the corpus is segmented with the trained piece table
    // and tokens accounted per document. Segmentation is a function of
    // the word alone, so the corpus collapses to its distinct-word
    // table and each surface form is Viterbi-segmented exactly once
    // under the broadcast model (vocabulary work, not corpus work).
    // The oracle replays training end-to-end AND one more DP pass under
    // the final vocabulary, then the per-doc rollup — learned pieces,
    // per-word segmentation and per-doc accounting are one hash gate.
    // t23: SENTENCE SEGMENTATION census — the unit under sentence-level
    // dedup and seq-packing decisions: prose is rebuilt from the token
    // stream into terminal-punctuated sentences (./!/? cycled, an
    // "e.g." abbreviation planted mid-sentence every 7th chunk), then
    // PARSED back: abbreviation-protected boundary count (RE2 has no
    // lookbehind, so protection is replace-then-split — portable to
    // both engines), per-type terminal counts, longest sentence and
    // integer-ppm mean length. The oracle rebuilds the same prose and
    // re-parses with its own list ops (the lg8/m45 replay discipline).
    Q(
      "t23_sentence_census",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val sz = k % 4 + 3
        val prose = expr(
          """array_join(transform(
            |  sequence(0, (size(t) + sz - 1) div sz - 1),
            |  c -> concat(
            |    array_join(slice(t, int(c * sz + 1), int(sz)), ' '),
            |    CASE WHEN c % 7 = 2 THEN ' e.g. extra' ELSE '' END,
            |    CASE WHEN c % 3 = 0 THEN '. '
            |         WHEN c % 3 = 1 THEN '! ' ELSE '? ' END)), '')"""
            .stripMargin)
        val prot = replace(col("prose"), lit("e.g."), lit("e_g_"))
        val lens = transform(
          filter(split(prot, "[.!?]\\s+"), x => x =!= ""),
          x => size(split(trim(x), " ")).cast("long"))
        docs
          .select(col("doc_id"),
            graft.ops.TextAnalysis.tokens(col("text")).as("t"),
            sz.as("sz"))
          .select(col("doc_id"), prose.as("prose"))
          .select(
            col("doc_id"),
            regexp_count(prot, lit("[.!?] ")).cast("long")
              .as("n_sentences"),
            regexp_count(col("prose"), lit("! ")).cast("long")
              .as("n_exclaim"),
            regexp_count(col("prose"), lit("\\? ")).cast("long")
              .as("n_quest"),
            array_max(lens).as("longest_tokens"),
            aggregate(lens, lit(0L), (a, x) => a + x).as("total_tokens"))
          .withColumn("mean_tokens_ppm",
            expr("total_tokens * 1000000 div n_sentences"))
          .orderBy("doc_id")
      },
      Some(raw"""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k,
                 string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')
                   AS t,
                 doc_id % 251 % 4 + 3 AS sz
          FROM documents),
        p AS (
          SELECT doc_id,
                 array_to_string(list_transform(
                   range(0, (len(t) + sz - 1) // sz),
                   c -> array_to_string(
                          t[CAST(c * sz + 1 AS INT):CAST(c * sz + sz AS INT)],
                          ' ') ||
                        (CASE WHEN c % 7 = 2 THEN ' e.g. extra' ELSE '' END) ||
                        (CASE WHEN c % 3 = 0 THEN '. '
                              WHEN c % 3 = 1 THEN '! ' ELSE '? ' END)), '')
                   AS prose
          FROM base),
        q AS (
          SELECT doc_id, prose,
                 replace(prose, 'e.g.', 'e_g_') AS prot
          FROM p),
        r AS (
          SELECT doc_id, prose, prot,
                 list_transform(
                   list_filter(string_split_regex(prot, '[.!?]\s+'),
                     x -> x <> ''),
                   x -> len(string_split(trim(x), ' '))::BIGINT) AS lens
          FROM q)
        SELECT doc_id,
               len(regexp_extract_all(prot, '[.!?] '))::BIGINT AS n_sentences,
               len(regexp_extract_all(prose, '! '))::BIGINT AS n_exclaim,
               len(regexp_extract_all(prose, '\? '))::BIGINT AS n_quest,
               list_max(lens)::BIGINT AS longest_tokens,
               list_sum(lens)::BIGINT AS total_tokens,
               (list_sum(lens) * 1000000 //
                 len(regexp_extract_all(prot, '[.!?] ')))::BIGINT
                 AS mean_tokens_ppm
        FROM r
        ORDER BY doc_id
      """.trim),
    ),

    Q(
      "t22_unigram_encode",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val pieces = graft.ops.UnigramLm.trainPieces(docs, "text", rounds = 2)
        graft.ops.UnigramLm.tokenCounts(docs, "doc_id", "text", pieces)
          .orderBy("doc_id")
      },
      Some(unigramEncodeOracle(2)),
    ),

    // t24: TRAINABLE multinomial Naive Bayes — TRAIN. The pipelines
    // train their lang-ID/quality classifiers (CCNet's fastText
    // lang-ID; fastText's NB baseline is this exact decision rule);
    // t12 stops at fixed-weight inference, this LEARNS the weights
    // from the labeled corpus (label = lang). All integer: the learned
    // log-likelihoods use the fixed-point base-2 log in 1/64 units
    // (ops/NaiveBayes.ilog — length(bin(x)) bitlen + the public
    // 64-entry mantissa LUT, evaluated identically by Spark and
    // DuckDB), so the MODEL TABLE itself is hash-gated, not just
    // counts. Scale shape: one corpus collapse to (label, token, cnt)
    // — map-side combined; vocab cap 2000 keeps every later pass
    // model-sized and broadcast.
    Q(
      "t24_nb_train",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        graft.ops.NaiveBayes.train(docs, "doc_id", "lang", "text", 2000)
          ._1.orderBy("label", "w")
      },
      Some(nbOracle(
        """SELECT label, w, cnt, weight FROM model ORDER BY label, w""")),
    ),

    // t25: Naive Bayes INFERENCE — every doc scored against every
    // label with the t24 model (self-classification here: the corpus
    // is its own inference set; in production the model applies to
    // unlabeled batches), deterministic argmax (highest score, ties to
    // the smallest label). Unseen-in-class and out-of-vocab tokens
    // collapse to the same Laplace-smoothed OOV weight, so inference
    // is one explode + broadcast joins + a per-doc partial-agg'd
    // argmax — no corpus-wide shuffle beyond the doc_id groupBy. Docs
    // with zero tokens have no score rows and are absent, matching the
    // replay.
    Q(
      "t25_nb_classify",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val (model, stats) =
          graft.ops.NaiveBayes.train(docs, "doc_id", "lang", "text", 2000)
        graft.ops.NaiveBayes.classify(docs, "doc_id", "text", model, stats)
          .orderBy("doc_id")
      },
      Some(nbOracle("""
        , dt AS (SELECT doc_id, w FROM toks)
        , sc AS (
          SELECT dt.doc_id, s.label,
                 MAX(s.prior_weight) + SUM(COALESCE(m.weight, s.oov_weight))
                   AS score
          FROM dt CROSS JOIN stats s
          LEFT JOIN model m ON m.label = s.label AND m.w = dt.w
          GROUP BY 1, 2)
        , r AS (
          SELECT doc_id, label, score, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, label) AS rn
          FROM sc)
        SELECT doc_id, label AS pred_label, score::BIGINT AS score
        FROM r WHERE rn = 1 ORDER BY doc_id""")),
    ),
  )

  /** Shared NB oracle prelude: tokenize, vocab cap, counts, the
    * fixed-point log model and per-label stats — the SQL replay of
    * ops/NaiveBayes.train (L(x) inlined with the same public LUT). */
  private def nbOracle(tail: String): String = {
    val lut = graft.ops.NaiveBayes.Lut.mkString("[", ",", "]")
    def L(x: String) =
      s"(64*(length(bin($x))-1) + $lut[((($x)*64) >> (length(bin($x))-1)) - 63])"
    raw"""
      WITH toks AS (
        SELECT doc_id, lang, unnest(list_filter(
                 string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
                 t -> t <> '')) AS w
        FROM documents),
      vocab AS (
        SELECT w FROM (
          SELECT w, COUNT(*) AS gc FROM toks GROUP BY w
          ORDER BY gc DESC, w LIMIT 2000)),
      cnts AS (
        SELECT lang AS label, w, COUNT(*)::BIGINT AS cnt
        FROM toks SEMI JOIN vocab USING (w)
        GROUP BY 1, 2),
      tot AS (SELECT label, SUM(cnt)::BIGINT AS t_mass FROM cnts GROUP BY 1),
      model AS (
        SELECT label, w, cnt,
               (${L("cnt + 1")} - ${L("t_mass + 2001")})::BIGINT AS weight
        FROM cnts JOIN tot USING (label)),
      pri AS (SELECT lang AS label, COUNT(*)::BIGINT AS ndocs
              FROM documents GROUP BY 1),
      stats AS (
        SELECT p.label, COALESCE(t.t_mass, 0) AS t_mass,
               (-${L("COALESCE(t.t_mass, 0) + 2001")})::BIGINT AS oov_weight,
               ${L("p.ndocs")}::BIGINT AS prior_weight
        FROM pri p LEFT JOIN tot t USING (label))
      $tail
    """.trim
  }

  /** Shared BPE oracle machinery: k unrolled merge levels over the word
    * vocabulary. Level i computes pair counts over s(i-1), picks the
    * (cnt DESC, l, r) argmax, and rewrites the vocabulary with DuckDB's
    * list_reduce (acc slicing is end-INCLUSIVE: acc[:len(acc)-1] drops
    * the merged-away last element). `s$k` carries (w, freq, syms), so
    * both the merge-table output (t13) and the encoded-vocabulary output
    * (t14) read off the same chain. */
  private def bpeLevelCtes(k: Int): String = {
    val levels = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT syms[j] AS l, syms[j+1] AS r, SUM(freq)::BIGINT AS cnt
         |  FROM s${i - 1}, unnest(range(1, len(syms))) AS u(j)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT w, freq,
         |         list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
         |           CASE WHEN len(acc) > 0 AND acc[-1] = b$i.l AND x[1] = b$i.r
         |                THEN list_append(acc[:len(acc)-1], b$i.l || b$i.r)
         |                ELSE list_concat(acc, x) END) AS syms
         |  FROM s${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT w, COUNT(*)::BIGINT AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |s0 AS (
       |  SELECT w, freq,
       |         list_append([substr(w, i, 1) for i in range(1, length(w)+1)],
       |                     '</w>') AS syms
       |  FROM v0),
       |$levels""".stripMargin
  }

  private def bpeOracle(k: Int): String = {
    val out = (1 to k)
      .map(i => s"SELECT $i AS step, l AS lhs, r AS rhs, cnt AS weight FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeLevelCtes(k)}
       |$out
       |ORDER BY step""".stripMargin
  }

  /** t14 oracle: final vocabulary after k merges → per-word token count →
    * joined back onto the per-document word multiset. */
  private def bpeEncodeOracle(k: Int): String =
    s"""WITH ${bpeLevelCtes(k)},
       |wt AS (SELECT w, len(syms)::BIGINT AS nt FROM s$k),
       |dwf AS (
       |  SELECT doc_id, w, COUNT(*)::BIGINT AS c
       |  FROM (SELECT doc_id,
       |               unnest(string_split_regex(text, '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY doc_id, w)
       |SELECT doc_id,
       |       CAST(SUM(c) AS BIGINT) AS n_words,
       |       CAST(SUM(c * nt) AS BIGINT) AS n_tokens
       |FROM dwf JOIN wt USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** t21 oracle: replay the ENTIRE integer-EM unigram training loop
    * (ops.UnigramLm) level-by-level in SQL — seed substring counts with
    * the char floor + capped multi-piece head, then per round an
    * unrolled Viterbi DP (one CTE per word position, ties broken by
    * score DESC then split point ASC — the same rule as the Scala DP),
    * usage re-estimation, and the prune-with-char-floor M-step. The
    * unroll covers words up to `maxLen` chars; a longer word would
    * produce NO segmentation row and fail the compare loudly. */
  /** One unrolled Viterbi DP pass in SQL: dp{tag}_0..maxLen over the
    * word table under vocabulary CTE `vocab`, plus seg{tag} = the path
    * at j == length(w). Shared by the t21 training replay (one pass per
    * EM round) and the t22 encode replay (one pass under the final
    * vocabulary). */
  private def dpBlock(tag: String, vocab: String, maxPiece: Int,
      maxLen: Int): String = {
    val dp0 =
      s"""dp${tag}_0 AS MATERIALIZED (
         |  SELECT w, freq, 0 AS j, 0::BIGINT AS score,
         |         CAST([] AS VARCHAR[]) AS path FROM words)""".stripMargin
    val levels = (1 to maxLen).map { j =>
      val srcs = (math.max(0, j - maxPiece) until j)
        .map(i => s"SELECT * FROM dp${tag}_$i").mkString(" UNION ALL ")
      s"""dp${tag}_$j AS MATERIALIZED (
         |  SELECT w, freq, j, score, path FROM (
         |    SELECT d.w, d.freq, $j AS j,
         |           d.score + v.c - 1000000000000 AS score,
         |           list_append(d.path, v.p) AS path,
         |           row_number() OVER (PARTITION BY d.w
         |             ORDER BY d.score + v.c DESC, d.j ASC) AS rn
         |    FROM ($srcs) d
         |    JOIN $vocab v ON v.p = substr(d.w, CAST(d.j + 1 AS INT),
         |                              CAST($j - d.j AS INT))
         |    WHERE length(d.w) >= $j)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to maxLen).map(j => s"SELECT * FROM dp${tag}_$j")
      .mkString(" UNION ALL ")
    s"""$dp0,
       |$levels,
       |seg$tag AS MATERIALIZED (
       |  SELECT w, freq, path FROM ($all) WHERE length(w) = j)""".stripMargin
  }

  /** The shared t21/t22 CTE chain: normalized word-frequency table,
    * seed substring counts with the char floor + capped head, then per
    * EM round one DP pass + usage re-estimation + prune (ops.UnigramLm
    * replayed level-by-level). Ends at vocabulary CTE v{rounds}. */
  private def unigramCtes(rounds: Int, maxPiece: Int = 4,
      maxLen: Int = 16): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""${dpBlock(r.toString, s"v${r - 1}", maxPiece, maxLen)},
         |u$r AS MATERIALIZED (
         |  SELECT p, SUM(freq)::BIGINT AS u
         |  FROM seg$r, unnest(path) t(p) GROUP BY p),
         |v$r AS MATERIALIZED (
         |  SELECT p, u AS c FROM u$r WHERE length(p) >= 2 AND u >= 2
         |  UNION ALL
         |  SELECT c0.p, COALESCE(u.u, 0)::BIGINT AS c
         |  FROM chars0 c0 LEFT JOIN u$r u USING (p))""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT w, COUNT(*)::BIGINT AS freq FROM (
       |    SELECT unnest(list_filter(
       |      string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
       |      t -> t <> '')) AS w
       |    FROM documents) GROUP BY w),
       |sub AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS p,
       |         SUM(freq)::BIGINT AS c
       |  FROM words, unnest(range(1, length(w) + 1)) r(i),
       |       unnest(range(1, ${maxPiece + 1})) q(l)
       |  WHERE i + l <= length(w) + 1
       |  GROUP BY 1),
       |chars0 AS MATERIALIZED (SELECT p, c FROM sub WHERE length(p) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT p, c FROM chars0
       |  UNION ALL
       |  SELECT p, c FROM (
       |    SELECT p, c FROM sub WHERE length(p) >= 2 AND c >= 2
       |    ORDER BY c DESC, p LIMIT 10000)),
       |$roundCtes""".stripMargin
  }

  private def unigramOracle(rounds: Int): String =
    s"""WITH ${unigramCtes(rounds)}
       |SELECT pos, piece, usage FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY c DESC, p) AS BIGINT) AS pos,
       |         p AS piece, c AS usage
       |  FROM v$rounds)
       |WHERE pos <= 50
       |ORDER BY pos""".stripMargin

  /** t22 oracle: the training chain, then ONE more DP pass under the
    * final vocabulary (the encode), then the per-document rollup over
    * the raw (doc, word) multiset. */
  private def unigramEncodeOracle(rounds: Int): String =
    s"""WITH ${unigramCtes(rounds)},
       |${dpBlock("E", s"v$rounds", 4, 16)},
       |wt AS (SELECT w, len(path)::BIGINT AS nt FROM segE),
       |dwf AS (
       |  SELECT doc_id, w, COUNT(*)::BIGINT AS c
       |  FROM (SELECT doc_id,
       |               unnest(list_filter(
       |                 string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
       |                 t -> t <> '')) AS w
       |        FROM documents)
       |  GROUP BY doc_id, w)
       |SELECT doc_id,
       |       CAST(SUM(c) AS BIGINT) AS n_words,
       |       CAST(SUM(c * nt) AS BIGINT) AS n_tokens
       |FROM dwf JOIN wt USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
