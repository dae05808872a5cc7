package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication operators (SURVEY.md §2.9 D1-D4 + the LLM-pipeline dedupe
  * family): exact hash dedupe, MinHash+LSH, SimHash banding, exact n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Everything except the SimHash path is built from codegen'd built-ins
  * (md5 / transform / array_*), so the same pipeline is expressible in the
  * DuckDB oracle and the plans stay inside WholeStageCodegen.
  *
  * Scale notes (100 TB): the LSH paths shuffle once on the band key, whose
  * cardinality ~ #docs × bands; candidate verification touches only
  * bucket-mates. The exact O(n²) variants exist as small-data oracles and
  * are blocked (by lang) to bound the quadratic term.
  */
object Dedupe {

  /** Distinct character 3-gram shingles of a text column
    * (reference Shingle.java:32-47, CHAR_GRAM_LENGTH=3) — a native
    * codegen expression; one flat call per row instead of hundreds of
    * interpreted higher-order-function lambdas. */
  def shingles3(text: Column): Column =
    graft.functions.NativeExpressions.shingles3(text)

  /** Built-in-functions formulation of [[shingles3]] (kept as the
    * cross-check for the native expression; identical semantics). */
  def shingles3Builtin(text: Column): Column =
    // NB: Spark's sequence(1, n) is DESCENDING for n<1, so guard short texts
    when(
      length(text) >= 3,
      array_distinct(
        transform(
          sequence(lit(1), length(text) - lit(2)),
          i => substring(text, i, lit(3)),
        )),
    ).otherwise(array().cast("array<string>"))

  /** Let-binding for expression trees: evaluates `value` exactly ONCE per
    * row and exposes it to `f` as a lambda variable. Without this,
    * CollapseProject inlines a projection's expression into every
    * downstream reference — a signature referenced by 12 band keys would
    * recompute its full md5 pipeline 12× per row (and higher-order
    * functions are CodegenFallback, so the waste runs interpreted).
    * Implemented as element_at(transform(array(value), f), 1): no rule
    * rewrites through a lambda body, so the binding is collapse-proof. */
  def bindOnce(value: Column)(f: Column => Column): Column =
    element_at(transform(array(value), f), 1)

  /** Per-shingle 40-bit base hash: the first 10 hex chars of
    * md5(tag‖':'‖shingle), parsed as a long. Two of these (tag "1","2")
    * seed the double-hashing family below — exactly TWO md5 calls per
    * shingle regardless of k, and reproducible in any engine with md5 and
    * hex parsing. Runs as a one-pass native codegen expression;
    * [[shingleHash40Builtin]] is the identical built-in-functions
    * formulation kept as the cross-check. */
  def shingleHash40(shingles: Column, tag: String): Column =
    graft.functions.NativeExpressions.shingleHash40(shingles, tag)

  def shingleHash40Builtin(shingles: Column, tag: String): Column =
    transform(shingles, s =>
      conv(substring(md5(concat(lit(s"$tag:"), s).cast("binary")), 1, 10), 16, 10)
        .cast("long"))

  /** Modulus of the double-hashing family: the prime 2^40 − 87. The mod
    * is load-bearing — without it hash_j = h1 + j·h2 is dominated by h2
    * for large j and the k functions stop being independent. */
  val MinhashPrime = 1099511627689L

  /** MinHash signature via Kirsch-Mitzenmacher double hashing:
    * hash_j(s) = (h1(s) + j·h2(s)) mod p; element j of the signature is
    * the min over shingles. Pure integer arithmetic — no per-window
    * string ops — and overflow-free by construction (40-bit bases,
    * j < 2^7 ⇒ pre-mod values < 2^48), which matters because DuckDB
    * raises on BIGINT overflow while the JVM wraps. Runs as a native
    * codegen expression; [[minhashSignatureBuiltin]] is the identical
    * built-in-functions formulation kept as the cross-check. */
  def minhashSignature(h1s: Column, h2s: Column, k: Int): Column =
    graft.functions.NativeExpressions.minhashSig(h1s, h2s, k, MinhashPrime)

  def minhashSignatureBuiltin(h1s: Column, h2s: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      j => array_min(zip_with(h1s, h2s, (a, b) => (a + j * b) % MinhashPrime)),
    )

  // ---------------------------------------------------------------------
  // Portable SimHash (D1/D2 with engine-reproducible hashing)
  // ---------------------------------------------------------------------

  /** Bits of the portable simhash (6 chunks × 10 bits; the reference's
    * 64-bit simhash uses 6 chunks of 10/11 bits — DeduperUtils.java:199). */
  val PortableSimhashBits = 60

  /** Per-shingle 60-bit hash: the first 15 hex chars of md5, parsed as an
    * integer — reproducible in any engine with md5 and hex parsing. Runs
    * as a one-pass native expression; the builtin form below is the
    * cross-check. */
  def shingleHashes60(shingles: Column): Column =
    graft.functions.NativeExpressions.shingleHashes60(shingles)

  def shingleHashes60Builtin(shingles: Column): Column =
    transform(shingles, s =>
      conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long"))

  /** The C(6,3)=20 combination band keys of a 60-bit simhash: chunks of
    * 10 bits, every 3-chunk combination packed into one 30-bit key.
    * Hamming ≤ 3 leaves ≥ 3 chunks untouched, so some combination matches
    * exactly — the reference's banding guarantee (DeduperUtils.java:201,
    * BINOMIAL_COFF=20) with a 2^30 key space that keeps buckets tiny at
    * warehouse scale. */
  def combinationBandKeys(sim: Column): Column = {
    def chunk(i: Int): Column = shiftright(sim, 10 * i).bitwiseAND(lit(1023L))
    val combos = for {
      i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6
    } yield (i, j, k)
    array(combos.zipWithIndex.map { case ((i, j, k), idx) =>
      struct(
        lit(idx).as("bi"),
        (chunk(i) * lit(1L << 20) + chunk(j) * lit(1L << 10) + chunk(k)).as("key"))
    }: _*)
  }

  /** D1+D2, portable: near-dup pairs with hamming(simhash) ≤ maxHamming,
    * candidates via the 20 combination bands (one shuffle on the band
    * key), verified by bit_count(xor). No UDFs anywhere — the whole plan
    * is built-ins, and the DuckDB oracle replays it bit-for-bit. */
  def portableSimhashPairs(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3): DataFrame = {
    // the majority vote runs as a distributed HashAggregate over exploded
    // shingle hashes (codegen, map-side partial agg) rather than 60
    // interpreted array-aggregate lambdas per row
    val voteSums = (0 until PortableSimhashBits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val sims = docShingles(docs, id, text)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(shingleHashes60(col("sh"))).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), voteSums: _*)
      .select(col("doc_id"),
        (0 until PortableSimhashBits).map(b =>
          when(col(s"s$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
    val banded = sims
      .select(col("doc_id"), col("sim"),
        explode(bindOnce(col("sim"))(s => combinationBandKeys(s))).as("b"))
      .select(col("doc_id"), col("sim"), col("b.bi").as("bi"), col("b.key").as("key"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.bi") === col("b.bi") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** LSH band keys: the signature split into `bands` groups of `rowsPerBand`,
    * each group concatenated into one key string. */
  def bandKeysOf(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        concat_ws(
          "|",
          (0 until rowsPerBand)
            .map(r => element_at(sig, b * rowsPerBand + r + 1).cast("string")): _*),
    )

  /** Docs → (id, shingles) with empty-shingle docs retained. */
  def docShingles(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"), shingles3(col(text)).as("sh"))

  /** MinHash-LSH candidate pairs (doc_a < doc_b), deduped across bands.
    * One shuffle on (band_idx, band_key).
    *
    * Parameter discipline: with b bands of r rows, a pair of similarity j
    * becomes a candidate with probability 1-(1-j^r)^b. r MUST be sized to
    * the corpus's BACKGROUND similarity, not just the threshold — if
    * random pairs sit at j≈0.5-0.6 (templated/boilerplate corpora, and
    * this testdata), r=3 fires on ~20% of all pairs and the band join goes
    * quadratic. The defaults (k=72: r=12, b=6) put the noise fire rate at
    * j=0.6 below 1% while keeping ≥99% recall at j≥0.95 (0.86 at j=0.9);
    * hashing more minhash functions is nearly free (digests are chained
    * md5 windows), so candidate volume, not hash count, is what matters
    * at scale. */
  def minhashCandidates(
      docs: DataFrame, id: String, text: String,
      k: Int = 72, bands: Int = 6): DataFrame =
    minhashCandidatesFrom(docShingles(docs, id, text), k, bands)

  /** The banded-signature stage of the MinHash pipeline: a (doc_id, sh)
    * shingle table → one row per (doc_id, band_idx, band_key). This is the
    * LSH *index* relation — at scale it is what a production pipeline
    * materializes once per corpus (bucketed by the band key) so that
    * incremental batches can probe it without re-hashing the corpus. */
  def bandedSignatures(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sh
      // bindOnce at each fan-out point: the base-hash arrays and the
      // signature each evaluate exactly once per row, however the
      // optimizer rearranges the projections
      .select(col("doc_id"),
        posexplode(
          bindOnce(col("sh")) { sh0 =>
            bindOnce(shingleHash40(sh0, "1")) { h1 =>
              bindOnce(shingleHash40(sh0, "2")) { h2 =>
                bindOnce(minhashSignature(h1, h2, k)) { sig =>
                  bandKeysOf(sig, bands, rowsPerBand)
                }
              }
            }
          }))
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** [[minhashCandidates]] over a prepared (doc_id, sh) shingle table —
    * callers that also verify pairs checkpoint the shingle table once and
    * pass it here so the shingling never recomputes. */
  def minhashCandidatesFrom(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val banded = bandedSignatures(sh, k, bands)
      // materialize once: the self-join would otherwise run the whole
      // shingle→hash→band pipeline twice (once per side)
      .transform(Iterative.materialize)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(
        b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact 3-gram Jaccard of two shingle-array columns, as a double. */
  def jaccardOf(shA: Column, shB: Column): Column =
    graft.functions.NativeExpressions.jaccard3(shA, shB)

  /** Built-in-functions formulation of [[jaccardOf]] (cross-check). */
  def jaccardOfBuiltin(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB))
    inter.cast("double") / (size(shA) + size(shB) - inter)
  }

  /** MinHash-LSH near-dup pairs verified by exact Jaccard ≥ threshold. */
  def minhashNearDupPairs(
      docs: DataFrame, id: String, text: String,
      threshold: Double, k: Int = 72, bands: Int = 6): DataFrame = {
    // one materialization feeds banding AND both verify sides — the
    // shingling (the most expensive per-row stage) runs exactly once
    val sh = docShingles(docs, id, text).transform(Iterative.materialize)
    minhashCandidatesFrom(sh, k, bands)
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), "doc_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), "doc_b")
      .withColumn("jaccard", jaccardOf(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Incremental dedupe: near-dup pairs between a NEW batch and an existing
    * corpus (the recurring production shape — each crawl/ingest batch is
    * deduped against everything already accepted, reference
    * CrawlDBMergeJob.java:290-295's new-segments-vs-previous-merged pattern
    * applied to content near-dups).
    *
    * Unlike the self-join in [[minhashNearDupPairs]], the band join here is
    * batch × corpus only: batch-internal and corpus-internal pairs never
    * form, so candidate volume scales with |batch|, not |corpus|². At 100 TB
    * the corpus side of this join is a materialized banded-signature index
    * ([[bandedSignatures]], bucketed by (band_idx, band_key)); the batch —
    * typically orders of magnitude smaller — is hashed fresh and shuffled
    * to it, and nothing about the corpus is recomputed per batch.
    *
    * Returns (new_id, corpus_id, jaccard) for every batch doc whose exact
    * 3-gram Jaccard against a corpus doc clears `threshold`. */
  def incrementalNearDupPairs(
      corpus: DataFrame, batch: DataFrame, id: String, text: String,
      threshold: Double, k: Int = 72, bands: Int = 6): DataFrame = {
    // each side's shingle table materializes once and feeds both its
    // banding and its verify join
    val shC = docShingles(corpus, id, text).transform(Iterative.materialize)
    val shB = docShingles(batch, id, text).transform(Iterative.materialize)
    val cand = bandedSignatures(shB, k, bands).as("n")
      .join(bandedSignatures(shC, k, bands).as("c"),
        col("n.band_idx") === col("c.band_idx") &&
          col("n.band_key") === col("c.band_key"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(shB.withColumnsRenamed(Map("doc_id" -> "new_id", "sh" -> "sh_n")), "new_id")
      .join(shC.withColumnsRenamed(Map("doc_id" -> "corpus_id", "sh" -> "sh_c")), "corpus_id")
      .withColumn("jaccard", jaccardOf(col("sh_n"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Approximate exact-substring dedupe — the "any shared run of ≥ L
    * chars" operator of modern training-data pipelines (the suffix-array
    * dedupe stage of the RefinedWeb/Gopher recipes) re-expressed as a
    * postings join over deterministically sampled anchor grams:
    *
    *   1. per doc, distinct char `gram`-grams; keep the ~1/16 whose
    *      md5 ends in `sampleHex` (content-defined selection — both docs
    *      of a shared run select the SAME anchors, no alignment needed);
    *   2. drop anchors appearing in > `stopDocFreq` docs (boilerplate
    *      stop-grams would fan out quadratically — same guard as the
    *      banded-LSH curve) and in < 2 docs (can't form a pair);
    *   3. docs sharing ≥ `minShared` anchors → (doc_a, doc_b, shared).
    *
    * Scale shape: everything is one explode + one groupBy + one
    * postings self-join whose per-key fan-out is capped at
    * C(stopDocFreq, 2); no quadratic term in corpus size. At 100 TB the
    * anchor selection moves into the native winnowing expression
    * (t4's kernel) so the gram table is never materialized as strings. */
  def sharedSubstringPairs(docs: DataFrame, id: String, text: String,
      gram: Int = 12, sampleHex: String = "0", stopDocFreq: Int = 32,
      minShared: Int = 2): DataFrame = {
    // anchor selection is ONE native pass per doc (reused digest, no
    // intermediate gram array; 15/16 unselected grams never become rows)
    // — bit-identical to the declarative form, which NativeFnsSpec fuzzes
    val nibble = Integer.parseInt(sampleHex, 16)
    val anchors = docs
      .select(col(id).as("doc_id"),
        explode(graft.functions.NativeExpressions.anchorGrams(
          col(text), gram, nibble)).as("g"))
      .transform(Iterative.materialize) // feeds the doc-freq gate and both join sides
    val ok = anchors.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= stopDocFreq)
      .select(col("g"))
    val sel = anchors.join(ok, "g")
    sel.select(col("g"), col("doc_id").as("doc_a"))
      .join(sel.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact duplicated-SPAN extraction — the ExactSubstr stage of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): maximal token spans of length ≥ `minSpanTokens` made of
    * material duplicated verbatim across documents. Their suffix-array
    * formulation becomes three declarative passes:
    *
    *   1. enumerate every token `gram`-gram position (the suffix-array
    *      enumeration as a columnar explode — linear in corpus tokens);
    *   2. a gram is DUPLICATED when it occurs in ≥ 2 distinct docs
    *      (one groupBy — never a pairwise join: this is why the operator
    *      has no quadratic term, unlike candidate-pair LSH);
    *   3. union the covered token windows [pos, pos+gram-1] and take
    *      maximal runs per doc (gaps-and-islands over a PER-DOC window,
    *      bounded by document length, so the sort never spans docs).
    *
    * A span here is the union of cross-doc duplicated coverage — the
    * removal semantics a training pipeline applies (every token inside
    * is part of SOME ≥gram-token verbatim cross-doc match; adjacent
    * matches may have different partner docs). Returns one row per
    * qualifying span: (doc_id, span_start [1-based token index],
    * span_tokens, n_tokens) — sum(span_tokens) per doc is the
    * removed-token accounting.
    *
    * Scale shape (100 TB): gram rows = corpus tokens (one explode); the
    * df-aggregation partial-aggregates map-side; the only wide exchanges
    * key on the gram value and doc_id. Boilerplate mega-df grams cost
    * nothing extra — df is an aggregate, not a fan-out. For petabyte
    * corpora use [[duplicatedSpansHashed]] (gated as d19): the gram
    * shuffles as an xxhash64 and collisions only over-mark coverage;
    * d18 keeps the string so the oracle replays it exactly. */
  /** Every token `gram`-gram position of every doc (1-based), with the
    * doc's token count — the shared enumeration of [[duplicatedSpans]]
    * and [[contaminationSpans]]. One explode, linear in corpus tokens. */
  private def gramPositions(docs: DataFrame, id: String, text: String,
      gram: Int): DataFrame =
    docs
      .select(col(id).as("doc_id"), TextAnalysis.tokens(col(text)).as("t"))
      .filter(size(col("t")) >= gram)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        posexplode(expr(
          s"transform(sequence(1, size(t) - ${gram - 1}), " +
            s"i -> array_join(slice(t, i, $gram), ' '))")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("g"))

  def duplicatedSpans(docs: DataFrame, id: String, text: String,
      gram: Int = 8, minSpanTokens: Int = 50): DataFrame =
    duplicatedSpansKeyed(docs, id, text, gram, minSpanTokens, identity)

  /** d19: the PRODUCTION form of [[duplicatedSpans]] — keys the df gate
    * and the join-back on `xxhash64(gram)` so each gram position ships
    * 8 key bytes through the two wide exchanges instead of the joined
    * 8-token string: ~10× narrower UNCOMPRESSED key (8 of ~88
    * bytes/row), which lands as a measured 3.05× compressed-shuffle cut
    * (3135.9 → 1029.5 MB at x100 — the token text compresses ~3:1 in
    * shuffle; SCALING.md, round-19 d19 note) on the kernel's
    * heaviest stage — the difference that makes ExactSubstr runnable at
    * 100 TB. Collision direction is
    * SAFE for removal semantics: a hash collision can only make two
    * DIFFERENT grams look duplicated, so coverage is only ever
    * OVER-marked — every true span is still found at its full extent
    * (span starts/lengths of true spans are unchanged; collisions can
    * add or extend spans, never shrink or drop one). At 64-bit width the
    * birthday bound puts the first expected collision near 2^32 distinct
    * grams per corpus — and a collision must ALSO land in the same doc's
    * window to change output. DedupeSpec pins hash-identity to the
    * string form on the gate fixture and the ⊇-coverage direction under
    * a deliberately lossy key. */
  def duplicatedSpansHashed(docs: DataFrame, id: String, text: String,
      gram: Int = 8, minSpanTokens: Int = 50): DataFrame =
    duplicatedSpansKeyed(docs, id, text, gram, minSpanTokens, g => xxhash64(g))

  /** Shared core: `keyOf` maps the gram string to the shuffle key inside
    * the enumeration projection (whole-stage codegen — the string never
    * outlives the map side when the key is a hash). */
  private[graft] def duplicatedSpansKeyed(docs: DataFrame, id: String,
      text: String, gram: Int, minSpanTokens: Int,
      keyOf: Column => Column): DataFrame = {
    val grams = gramPositions(docs, id, text, gram)
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        keyOf(col("g")).as("g"))
      .transform(Iterative.materialize) // feeds the df gate AND the join back
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("g"))
    spansFromPositions(grams.join(dup, "g"), gram, minSpanTokens)
  }

  /** cu27: SPAN-level benchmark decontamination — the surgical form of
    * cu8's doc-level screen, and what GPT-3's appendix C actually
    * specifies (remove the 13-gram-overlap WINDOW, not the document):
    * every corpus position whose token `gram`-gram appears ANYWHERE in
    * the benchmark set is contaminated; maximal covered-token runs are
    * the spans a cleaning pass deletes. Returns one row per span:
    * (doc_id, span_start, span_tokens, n_tokens) — sum(span_tokens)/
    * n_tokens is the per-doc removal share, and docs absent from the
    * output are clean. Scale shape: corpus side is one linear gram
    * enumerate; the benchmark gram set is distinct-aggregated once
    * (eval suites are ~10^6 grams — broadcastable; AQE picks that up)
    * and the semi-join never fans out per benchmark occurrence. */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String,
      gram: Int = 13, minSpanTokens: Int = 13): DataFrame =
    contaminationSpansKeyed(corpus, benchmark, id, text, gram,
      minSpanTokens, identity)

  /** Production twin of [[contaminationSpans]] keyed on xxhash64(gram)
    * — same shuffle-byte argument and safe over-mark collision direction
    * as [[duplicatedSpansHashed]] (a collision can only mark a CLEAN
    * window contaminated, never unmark a true hit — the conservative
    * direction for decontamination). */
  def contaminationSpansHashed(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String,
      gram: Int = 13, minSpanTokens: Int = 13): DataFrame =
    contaminationSpansKeyed(corpus, benchmark, id, text, gram,
      minSpanTokens, g => xxhash64(g))

  private[graft] def contaminationSpansKeyed(corpus: DataFrame,
      benchmark: DataFrame, id: String, text: String,
      gram: Int, minSpanTokens: Int, keyOf: Column => Column): DataFrame = {
    val corpusGrams = gramPositions(corpus, id, text, gram)
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        keyOf(col("g")).as("g"))
    val benchGrams = gramPositions(benchmark, id, text, gram)
      .select(keyOf(col("g")).as("g")).distinct()
    spansFromPositions(corpusGrams.join(benchGrams, Seq("g"), "left_semi"),
      gram, minSpanTokens)
  }

  /** d20: Dolma-style PARAGRAPH-level exact dedup (Soldaini et al. 2024)
    * — the granularity between d10's fixed-width chunks and d18's token
    * spans, and what the newest open pipelines ship: documents split on
    * blank-line paragraphs; a paragraph whose exact text occurs in
    * ≥ `minDf` DISTINCT docs is a duplicate; the FIRST occurrence
    * (lexicographic min (doc, paragraph index)) is kept, every other
    * occurrence is dropped; the surviving paragraphs reassemble
    * in-order. Returns one row per doc: (doc_id, n_paras, n_dropped,
    * dropped_tokens, kept_md5) — kept_md5 fingerprints the reassembled
    * text so WHICH paragraphs survived, in WHAT order, is gated, not
    * just counts.
    *
    * Scale shape (100 TB): the split+explode is linear in corpus bytes;
    * the df gate groups on md5(paragraph) — a fixed 32-char key, never
    * the paragraph text — and partial-aggregates map-side (a hot
    * boilerplate footer combines before the shuffle); keep-decisions
    * join back on the same hash; reassembly state is bounded by each
    * doc's own paragraph count. */
  def paragraphDedupe(docs: DataFrame, id: String, text: String,
      minDf: Int = 2): DataFrame =
    paragraphDedupeKeyed(docs, id, text, minDf,
      p => md5(p.cast("binary")))

  /** Production keying for [[paragraphDedupe]]: the df gate and
    * join-back shuffle xxhash64(paragraph) (8 bytes) instead of the
    * 32-char md5 hex — the d19 argument one tier up. Collision
    * direction: a collision can only DROP a unique paragraph as a
    * duplicate (over-removal — the conservative direction Dolma's bloom
    * filter already accepts at far higher false-positive rates);
    * 64 bits puts the first expected collision near 2^32 distinct
    * paragraphs. DedupeSpec pins output identity to the md5 form. */
  def paragraphDedupeHashed(docs: DataFrame, id: String, text: String,
      minDf: Int = 2): DataFrame =
    paragraphDedupeKeyed(docs, id, text, minDf, p => xxhash64(p))

  private[graft] def paragraphDedupeKeyed(docs: DataFrame, id: String,
      text: String, minDf: Int, keyOf: Column => Column): DataFrame = {
    val paras = docs
      .select(col(id).as("doc_id"),
        posexplode(filter(
          // a blank line is two+ newline sequences, CRLF included
          transform(split(col(text), "(?:\\r?\\n){2,}"), p => trim(p)),
          p => p =!= "")))
      .select(col("doc_id"), col("pos").cast("long").as("para_idx"),
        col("col").as("para"))
      .withColumn("h", keyOf(col("para")))
      .transform(Iterative.materialize) // feeds the gate AND the join back
    val gate = paras
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"),
        min(struct(col("doc_id").as("kd"), col("para_idx").as("ki")))
          .as("keeper"))
    paras.join(gate, "h")
      .withColumn("keep",
        col("df") < minDf ||
          (col("keeper.kd") === col("doc_id") &&
            col("keeper.ki") === col("para_idx")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("keep"),
          size(TextAnalysis.tokens(col("para"))).cast("long"))
          .otherwise(0L)).as("dropped_tokens"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("para_idx"), col("para"))))),
            x => x.getField("para")),
          "\n\n").cast("binary")).as("kept_md5"))
      .select(col("doc_id"), col("n_paras"), col("n_dropped"),
        col("dropped_tokens"), col("kept_md5"))
  }

  /** d21: ExactSubstr KEEP-FIRST coverage — the deployment form of Lee
    * et al. 2022 (they keep one copy of each duplicated substring and
    * remove the rest; [[duplicatedSpans]] marks EVERY occurrence, the
    * right semantics for coverage accounting but not for the rewrite).
    * A gram position is covered iff its gram occurs ≥ 2 times in the
    * corpus (within-doc repetition counts — boilerplate repeats inside
    * a page too) AND this occurrence is NOT the globally first (min
    * (doc_id, pos)); the first occurrence survives, so exactly one copy
    * of each duplicated region remains after [[applySpans]]. Covered
    * positions union into maximal spans as in d18.
    *
    * Gram-granular keep-first is the standard approximation of the
    * suffix-array rewrite: a kept first occurrence can still lose
    * tokens to OTHER grams' non-first occurrences overlapping it —
    * deterministic, and what the public reimplementations ship.
    *
    * `keyOf` is the d19 keying seam: with xxhash64 a collision merges
    * two grams' occurrence sets, so a true first occurrence can lose
    * its keeper status — OVER-removal, the conservative direction for
    * dedup (never under-removal: a gram with n ≥ 2 stays gated). The
    * gated query runs the hashed production form against the
    * string-replay oracle (identical at gate scale, the d19 pin). */
  private[graft] def keepFirstCoverageKeyed(docs: DataFrame, id: String,
      text: String, gram: Int, minSpanTokens: Int,
      keyOf: Column => Column): DataFrame = {
    val grams = gramPositions(docs, id, text, gram)
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        keyOf(col("g")).as("g"))
      .transform(Iterative.materialize) // feeds the gate AND the join back
    val gate = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id").as("kd"), col("pos").as("kp"))).as("k"))
      .filter(col("n") >= 2)
      .select(col("g"), col("k"))
    val cov = grams.join(gate, "g")
      .filter(!(col("doc_id") === col("k.kd") && col("pos") === col("k.kp")))
    spansFromPositions(cov, gram, minSpanTokens)
  }

  /** The end-to-end ExactSubstr dedup REWRITE (production keying):
    * keep-first coverage → maximal spans → [[applySpans]] subtraction +
    * in-order reassembly. One row per doc: (doc_id, n_tokens,
    * removed_tokens, kept_tokens, cleaned_md5). */
  def exactSubstrRewrite(docs: DataFrame, id: String, text: String,
      gram: Int = 8, minSpanTokens: Int = 50): DataFrame =
    applySpans(docs,
      keepFirstCoverageKeyed(docs, id, text, gram, minSpanTokens,
        g => xxhash64(g)),
      id, text)

  /** cu31: APPLY reported spans — the step d18/d19/cu27 stop short of
    * and the one a decontamination pass actually ships (Lee et al. 2022
    * remove the duplicated spans; GPT-3 appendix C removes the
    * contaminated windows): subtract each doc's reported token ranges
    * and reassemble the surviving tokens IN ORDER as the cleaned text.
    *
    * `spans` rows are (doc_id, span_start [1-based token index],
    * span_tokens) as produced by [[duplicatedSpans]] /
    * [[contaminationSpans]] and their hashed twins. Returns one row per
    * input doc (clean docs included): (doc_id, n_tokens,
    * removed_tokens, kept_tokens, cleaned_md5) — cleaned_md5
    * fingerprints the space-joined surviving tokens, so WHICH tokens
    * survived, in WHAT order, is gated, not just counts.
    *
    * Scale shape (100 TB): span reports are rare relative to corpus
    * rows, so the per-doc span list aggregates map-side and the
    * docs↔spans join is a plain doc_id equi-join (AQE broadcasts the
    * span side when it is small). The subtraction runs inside one
    * codegen projection: per-token membership test against the doc's
    * OWN span list — O(tokens × spans-in-doc), and spans-in-doc is
    * bounded by n_tokens / minSpanTokens. Nothing here shuffles token
    * text except the final per-doc digest projection. */
  def applySpans(docs: DataFrame, spans: DataFrame,
      id: String, text: String): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        (col("span_start") + col("span_tokens") - 1).as("e"))).as("sp"),
        sum(col("span_tokens")).as("rm"))
    docs
      .select(col(id).as("doc_id"), TextAnalysis.tokens(col(text)).as("t"))
      .join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"), col("sp"),
        coalesce(col("rm"), lit(0L)).as("removed_tokens"))
      // 1-based token index i+1 survives iff no reported range covers it
      // (a doc with no reported spans — sp NULL — keeps every token)
      .withColumn("kept", expr(
        "filter(t, (x, i) -> sp IS NULL OR " +
          "NOT exists(sp, r -> i + 1 >= r.s AND i + 1 <= r.e))"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        col("removed_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        md5(array_join(col("kept"), " ").cast("binary")).as("cleaned_md5"))
  }

  /** Maximal covered-token runs from covered gram POSITIONS: a position
    * run [p1,p2] covers tokens [p1, p2+gram-1]; intervals whose position
    * gap is < gram are contiguous in token space and merge. Two per-doc
    * gaps-and-islands windows — never a K-fold token explode. */
  private def spansFromPositions(covPos0: DataFrame, gram: Int,
      minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val covPos = covPos0.select(col("doc_id"), col("n_tokens"), col("pos"))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val intervals = covPos
      .withColumn("grp", col("pos") - row_number().over(wp))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + (gram - 1)).as("e"),
        max(col("n_tokens")).as("n_tokens"))
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val wsPrev = ws.rowsBetween(Window.unboundedPreceding, -1)
    intervals
      .withColumn("prevMax", max(col("e")).over(wsPrev))
      .withColumn("isStart",
        (col("prevMax").isNull || col("s") > col("prevMax") + 1).cast("int"))
      .withColumn("grp2", sum(col("isStart")).over(ws))
      .groupBy(col("doc_id"), col("grp2"))
      .agg(min(col("s")).as("span_start"),
        (max(col("e")) - min(col("s")) + 1).as("span_tokens"),
        max(col("n_tokens")).as("n_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_id"), col("span_start"), col("span_tokens"),
        col("n_tokens"))
  }

  /** Materialize the corpus side of the incremental-dedupe pipeline as a
    * PERSISTENT LSH index: two bucketed+sorted tables — the banded
    * signature relation (bucketed by `band_key`, what batch bands probe)
    * and the shingle relation (bucketed by `doc_id`, what the verify join
    * reads). Written ONCE per corpus (the role the reference's
    * previous-merge outputs play as inputs to the next merge,
    * CrawlDBMergeJob.java:290-295); every later batch probes it with no
    * recomputation of the corpus and no shuffle of the corpus side: the
    * bucketed scan's HashPartitioning already satisfies the probe join's
    * clustering, so only the (small) batch side moves. */
  def writeBandedIndex(corpus: DataFrame, id: String, text: String,
      table: String, path: String,
      k: Int = 72, bands: Int = 6, buckets: Int = 16): Unit = {
    // shingle once; both artifacts derive from the checkpointed table.
    // Bands are bucketed by BOTH probe-join keys — Spark's default
    // co-partition rule rejects a partitioning on a strict subset of the
    // join keys, so bucketing by band_key alone would re-shuffle the
    // whole index on every sort-merge probe
    val sh = docShingles(corpus, id, text).transform(Iterative.materialize)
    graft.sources.Sinks.writeBucketedAt(bandedSignatures(sh, k, bands),
      s"${table}_bands", Seq("band_idx", "band_key"), buckets, s"$path/bands")
    graft.sources.Sinks.writeBucketedAt(sh,
      s"${table}_shingles", "doc_id", buckets, s"$path/shingles")
    // stamp the signature parameters: append/probe validate against them
    graft.sources.Sinks.setTableParams(corpus.sparkSession, s"${table}_bands",
      Map("k" -> k.toString, "bands" -> bands.toString,
        "buckets" -> buckets.toString))
  }

  /** Fold an ACCEPTED batch into an existing [[writeBandedIndex]] index —
    * the production ingest loop: probe batch → drop near-dups → append
    * the survivors' bands and shingles so the NEXT batch dedupes against
    * them too. Appends land per bucket (spec validated against the
    * table's), so probe joins keep their shuffle-free corpus side;
    * `k`/`bands`/`buckets` must match the index's creation values. */
  def appendToBandedIndex(accepted: DataFrame, id: String, text: String,
      table: String, k: Int = 72, bands: Int = 6, buckets: Int = 16): Unit = {
    graft.sources.Sinks.requireTableParams(accepted.sparkSession,
      s"${table}_bands", Map("k" -> k.toString, "bands" -> bands.toString,
        "buckets" -> buckets.toString))
    val sh = docShingles(accepted, id, text).transform(Iterative.materialize)
    graft.sources.Sinks.appendBucketed(bandedSignatures(sh, k, bands),
      s"${table}_bands", Seq("band_idx", "band_key"), buckets)
    graft.sources.Sinks.appendBucketed(
      sh, s"${table}_shingles", "doc_id", buckets)
  }

  /** Probe a [[writeBandedIndex]] corpus index with a new batch — same
    * result as [[incrementalNearDupPairs]] (DedupeSpec proves equality at
    * sf0.001) with the corpus only ever READ: banded keys from the bands
    * table, verify shingles from the shingles table. `k`/`bands` must
    * match the values the index was written with. */
  def probeBandedIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, id: String, text: String,
      threshold: Double, k: Int = 72, bands: Int = 6): DataFrame = {
    graft.sources.Sinks.requireTableParams(spark, s"${table}_bands",
      Map("k" -> k.toString, "bands" -> bands.toString))
    // appends may come from ANOTHER session (foreachBatch hands the sink
    // a session clone, and saveAsTable-append only invalidates the
    // writer's own table-relation cache) — refresh drops this session's
    // cached file listing so the probe sees the latest appended buckets.
    // Cost is a re-list, not a data read; without it a probe silently
    // misses every near-dup of a previously-admitted document.
    spark.catalog.refreshTable(s"${table}_bands")
    spark.catalog.refreshTable(s"${table}_shingles")
    val shB = docShingles(batch, id, text).transform(Iterative.materialize)
    val cand = bandedSignatures(shB, k, bands).as("n")
      .join(spark.table(s"${table}_bands").as("c"),
        col("n.band_idx") === col("c.band_idx") &&
          col("n.band_key") === col("c.band_key"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(shB.withColumnsRenamed(Map("doc_id" -> "new_id", "sh" -> "sh_n")), "new_id")
      .join(spark.table(s"${table}_shingles")
        .withColumnsRenamed(Map("doc_id" -> "corpus_id", "sh" -> "sh_c")), "corpus_id")
      .withColumn("jaccard", jaccardOf(col("sh_n"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs, blocked by a grouping column.
    * TESTS-ONLY ground truth: the block join is quadratic within blocks, so
    * this must never appear in a production plan — the scale path is
    * [[minhashNearDupPairs]]; DedupeSpec proves their equality at sf0.001. */
  def exactJaccardPairs(
      docs: DataFrame, id: String, text: String, blockBy: String,
      threshold: Double): DataFrame = {
    val sh = docs.select(
      col(id).as("doc_id"), col(blockBy).as("blk"), shingles3(col(text)).as("sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("jaccard", jaccardOf(col("a.sh"), col("b.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jaccard"))
  }

  /** Exact duplicate groups by content hash (md5 of the text bytes). */
  def exactDupGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .groupBy(md5(col(text).cast("binary")).as("content_hash"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** SimHash LSH near-dup pairs (reference D1+D2: Stage1Mapper banding +
    * SimhashMatcher hamming ≤ 3 verify). Band fan-out = 20 keys/doc. */
  def simhashNearDupPairs(
      docs: DataFrame, id: String, text: String,
      maxHamming: Int = graft.core.Hashing.DefaultHammingThreshold): DataFrame = {
    val hashed = docs.select(
      col(id).as("doc_id"),
      GraftFunctions.simhash64(col(text)).as("simhash"))
    val banded = hashed
      .select(col("doc_id"), col("simhash"), explode(GraftFunctions.bandKeys(col("simhash"))).as("band_key"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(
        b,
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Banded-hamming candidate pairs over a 64-bit key split into two
    * non-negative 32-bit halves (`hi`, `lo` — the engine-portable
    * GROUP-BY form the image dHash uses): 8 bands of 8 bits, band-key
    * equi-join, xor+bit_count verify at ≤ maxHamming. The
    * [[simhashNearDupPairs]] invariant — k flipped bits can break at
    * most k of the 8 bands, so recall is guaranteed (not
    * probabilistic) whenever maxHamming < 8 — in one place for every
    * split-key caller. Input must carry a unique `node` column (the
    * pair order/dedup key); emits (doc_a, doc_b) = node pairs. */
  def bandedHammingPairs(
      nodes: DataFrame, maxHamming: Int): DataFrame = {
    val bands = nodes.select(col("node"), col("h_hi"), col("h_lo"),
      explode(array((0 until 8).map { j =>
        val half = if (j < 4) col("h_hi") else col("h_lo")
        struct(lit(j).as("bi"),
          shiftright(half, 8 * (j % 4)).bitwiseAND(lit(255L)).as("bv"))
      }: _*)).as("b"))
      .select(col("node"), col("h_hi"), col("h_lo"),
        col("b.bi").as("bi"), col("b.bv").as("bv"))
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.node") < col("b.node"))
      .select(col("a.node").as("doc_a"), col("b.node").as("doc_b"),
        (bit_count(col("a.h_hi").bitwiseXOR(col("b.h_hi"))) +
          bit_count(col("a.h_lo").bitwiseXOR(col("b.h_lo")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b")
      .distinct()
  }
}
