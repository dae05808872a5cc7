package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword/n-gram scoring), quality scoring, token counting, document
  * fingerprinting. All built from codegen'd built-ins — deliberately
  * engine-portable so each query has an exact DuckDB oracle, and
  * deliberately free of transcendental functions (libm results are not
  * bit-portable across engines; +,-,*,/,sqrt are IEEE-defined).
  */
object TextAnalysis {

  /** t10/cu30 kernel: per-doc scores against the corpus's OWN
    * min-count-pruned bigram LM (the KenLM-perplexity-filter shape) —
    * (doc_id, n_bigrams, n_oov, hit_mass), all pure int64. `keyOf` maps
    * the bigram string to its shuffle key INSIDE the enumeration lambda
    * (whole-stage codegen): with the production `xxhash64` keying the
    * joined token text never becomes a row — the df gate and the LM
    * join-back shuffle 8-byte longs (the d19 lever one tier down; see
    * t10_lm_score for the collision-direction argument, and
    * TextLmHashKeySpec for the pins). */
  def bigramLmScores(docs: DataFrame, id: String, text: String,
      minCount: Int, keyOf: Column => Column): DataFrame = {
    val bigrams = docs
      .select(col(id).as("doc_id"),
        filter(tokens(lower(col(text))), t => t =!= "").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => keyOf(concat(a, lit(" "), b)))).as("gram"))
      .transform(Iterative.materialize) // feeds the LM gate AND the probe
    val lm = bigrams.groupBy("gram")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    bigrams.join(lm, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L))).as("hit_mass"))
  }

  /** t26 kernel: EXACT top-`k` 1/2-gram head via the two-pass
    * heavy-hitter shape (hash-count buckets → top `overfetch` candidate
    * buckets per n → exact re-count of candidate occurrences only). The
    * only text that shuffles is the candidate grams' own rows; pass-1
    * exchanges carry (n, keyOf(gram)) — 8-byte longs under the
    * production xxhash64 keying. Containment argument and the
    * lossy-key degradation (overfetch ≥ bucket space → identical to
    * the single-pass head) are documented at the t26 query;
    * NgramHeadSpec pins both. */
  def ngramHeadTwoPass(docs: DataFrame, text: String, minCount: Int,
      k: Int, overfetch: Int, keyOf: Column => Column): DataFrame = {
    def gramsDf = {
      val toks = docs.select(
        filter(tokens(lower(col(text))), t => t =!= "").as("ts"))
      val uni = toks
        .select(explode(col("ts")).as("gram")).withColumn("n", lit(1L))
      val bi = toks
        .filter(size(col("ts")) >= 2)
        .select(explode(zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
        .withColumn("n", lit(2L))
      uni.unionByName(bi)
    }
    val candBuckets = gramsDf
      .select(col("n"), keyOf(col("gram")).as("gh"))
      .groupBy(col("n"), col("gh"))
      .agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") >= minCount) // bucket cnt >= member cnt: safe
      .groupBy(col("n"))
      .agg(TopK.topScored(overfetch)(
        col("bcnt").cast("double"), col("gh")).as("top"))
      .select(col("n"), explode(col("top")).as("c"))
      .select(col("n"), col("c.key").as("gh"))
    gramsDf
      .withColumn("gh", keyOf(col("gram")))
      .join(broadcast(candBuckets), Seq("n", "gh"), "left_semi")
      .groupBy(col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .groupBy(col("n"))
      .agg(TopK.topScoredStrings(k)(col("cnt"), col("gram")).as("top"))
      .select(col("n"), posexplode(col("top")))
      .select(col("n"), (col("pos") + 1).cast("long").as("pos"),
        col("col.key").as("gram"), col("col.score").as("cnt"))
  }

  /** Whitespace tokens of a text column (normalized single-space split). */
  def tokens(text: Column): Column =
    split(regexp_replace(trim(text), "\\s+", " "), " ")

  /** Exact count of token w in a pre-tokenized array column. */
  def tokenCountIn(toks: Column, w: String): Column =
    size(filter(toks, t => t === lit(w)))

  /** Per-language marker tokens for the n-gram/stopword language heuristic.
    * (The reference has no langid — this is the LLM-pipeline extension;
    * marker sets are the classic top-stopwords per language.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "de", "la", "que", "los"),
    "zh" -> Seq("的", "是", "了", "在", "我"),
  )

  /** Language scores + argmax prediction (ties broken by marker order),
    * over a PRE-TOKENIZED array column — the tokenizer runs once per row,
    * not once per marker word. */
  def langIdFromTokens(toks: Column): (Seq[(String, Column)], Column) = {
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> words.map(w => tokenCountIn(toks, w)).reduce(_ + _)
    }
    (scores, langPrediction(scores))
  }

  /** The argmax-with-tie-order rule shared by both langid formulations. */
  private def langPrediction(scores: Seq[(String, Column)]): Column = {
    val best = scores.tail.foldLeft(greatest(scores.head._2, scores.head._2)) {
      case (acc, (_, s)) => greatest(acc, s)
    }
    scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
  }

  /** The marker-group spec for the native one-pass counter: languages in
    * [[LangMarkers]] order, words comma-joined, groups pipe-joined. */
  val LangMarkerSpec: String =
    LangMarkers.map(_._2.mkString(",")).mkString("|")

  /** Per-language marker counts as ONE array column computed in a single
    * pass over the tokens (native expression; one hash probe per token
    * instead of 25 interpreted filter lambdas). Element i = total marker
    * occurrences for LangMarkers(i). */
  def langMarkerCounts(toks: Column): Column =
    graft.functions.NativeExpressions.markerCounts(toks, LangMarkerSpec)

  /** Language scores + prediction from a MATERIALIZED counts column (the
    * output of [[langMarkerCounts]] bound to an attribute): per-language
    * scores are element_at lookups, so nothing recomputes per reference.
    * Identical semantics to [[langIdFromTokens]]. */
  def langIdFromCounts(counts: Column): (Seq[(String, Column)], Column) = {
    val scores = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(counts, i + 1)
    }
    (scores, langPrediction(scores))
  }

  /** Quality features + a deterministic [0,1] score: length in range,
    * mean token length sane, low repetition (type/token ratio). */
  def qualityFeatures(df: DataFrame, text: String): DataFrame = {
    val t = tokens(col(text))
    df.withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_types", size(array_distinct(t)).cast("long"))
      .withColumn("len_chars", length(col(text)).cast("long"))
      .withColumn(
        "mean_token_len",
        (col("len_chars") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"))
      .withColumn("type_token_ratio", col("n_types").cast("double") / col("n_tokens"))
      .withColumn(
        "quality_score",
        least(col("n_tokens").cast("double") / lit(64.0), lit(1.0)) * lit(0.5)
          + least(col("type_token_ratio") * lit(2.0), lit(1.0)) * lit(0.5))
  }

  /** Winnowing-style document fingerprint: the k lexicographically smallest
    * md5(3-gram shingle) digests, hashed together. Robust to local edits
    * (a single edit disturbs at most 3 of the k mins). Runs as a one-pass
    * native codegen expression; [[docFingerprintBuiltin]] is the identical
    * built-in-functions formulation kept as the cross-check. */
  def docFingerprint(text: Column, k: Int = 4): Column =
    graft.functions.NativeExpressions.docFp(text, k)

  def docFingerprintBuiltin(text: Column, k: Int = 4): Column =
    md5(concat_ws("", slice(array_sort(transform(Dedupe.shingles3(text), s => md5(s.cast("binary")))), 1, k)).cast("binary"))

  /** Word n-grams (space-joined) of a pre-tokenized array column; empty
    * array when the doc has fewer than n tokens (sequence would otherwise
    * COUNT DOWN from 1 to a non-positive stop and fabricate grams). */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= lit(n),
      transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition metrics per document (Rae et al. 2021 §A1.1,
    * the published quality rules every large-scale text pipeline applies):
    * for each n-gram size, the fraction of n-gram OCCURRENCES that belong
    * to a duplicated n-gram, and the fraction claimed by the single most
    * frequent n-gram. Computed distributed — explode to (doc, n, gram),
    * count, then conditional aggregation back to one row per doc; partial
    * (map-side) aggregation shrinks the shuffle to the per-doc distinct
    * gram count, and no per-doc data structure ever exceeds one gram.
    */
  def repetitionMetrics(df: DataFrame, docId: String, text: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    // bindOnce: wordNgrams references its tokens argument once per gram
    // position (element_at inside the transform lambda) plus twice in the
    // size guard — without the let-binding the full tokenization re-runs
    // at every reference (measured 10.2 s → 3.1 s at sf0.1)
    val tagged = ns.map(n =>
      df.select(col(docId), lit(n).as("n"),
        explode(Dedupe.bindOnce(tokens(col(text)))(t => wordNgrams(t, n)))
          .as("gram")))
      .reduce(_ unionByName _)
    val counts = tagged.groupBy(col(docId), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val byN = counts.groupBy(col(docId), col("n"))
      .agg(
        sum(col("c")).as("total"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0))).as("dup"),
        max(col("c")).as("top"))
    val pivots = ns.flatMap { n =>
      Seq(
        sum(when(col("n") === n, col("total"))).as(s"total_${n}grams"),
        sum(when(col("n") === n, col("dup"))).as(s"_dup$n"),
        sum(when(col("n") === n, col("top"))).as(s"_top$n"))
    }
    byN.groupBy(col(docId))
      .agg(pivots.head, pivots.tail: _*)
      .select(
        col(docId) +: ns.flatMap(n =>
          Seq(
            col(s"total_${n}grams"),
            (col(s"_dup$n").cast("double") / col(s"total_${n}grams"))
              .as(s"dup_${n}gram_frac"),
            (col(s"_top$n").cast("double") / col(s"total_${n}grams"))
              .as(s"top_${n}gram_frac"))): _*)
  }

  /** Stopword list for the Gopher presence gate (Rae et al. 2021 §A1.1
    * uses exactly this set). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document gates (Rae et al. 2021 §A1.1): the boolean
    * keep/drop rules every large-scale text pipeline applies before
    * training. Per doc: word count in [minWords, maxWords], mean word
    * length in [minMeanLen, maxMeanLen], ≥ minAlphaFrac of words contain
    * an alphabetic character, ≥ minStopwords distinct stopwords present.
    * Adds the measured features, one boolean per gate, and `pass`.
    * Pure codegen'd built-ins over one tokenization — a linear scan; the
    * fractions are single IEEE divisions so the oracle hash is exact. */
  def gopherGates(df: DataFrame, text: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopwords: Int = 2): DataFrame = {
    val stops = array(GopherStopwords.map(lit): _*)
    df.withColumn("toks", tokens(col(text)))
      .withColumn("n_words", size(col("toks")).cast("long"))
      // direct sum of word lengths — unlike the chars-minus-spaces form
      // (t2), correct even when the raw text has irregular whitespace
      .withColumn("mean_word_len",
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).cast("double")
          / col("n_words"))
      .withColumn("alpha_frac",
        size(filter(col("toks"), w => w.rlike("\\p{L}"))).cast("double")
          / col("n_words"))
      .withColumn("n_stopwords",
        size(filter(stops, w => array_contains(col("toks"), w))).cast("long"))
      .withColumn("gate_words",
        col("n_words").between(minWords, maxWords))
      .withColumn("gate_word_len",
        col("mean_word_len").between(minMeanLen, maxMeanLen))
      .withColumn("gate_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("gate_stop", col("n_stopwords") >= minStopwords)
      .withColumn("pass",
        col("gate_words") && col("gate_word_len") &&
          col("gate_alpha") && col("gate_stop"))
      .drop("toks")
  }

  /** One scrub rule: (name, Java/RE2-common regex, replacement). Patterns
    * must avoid constructs RE2 lacks (backreferences, lookaround) so the
    * same rule runs identically in Spark and the SQL oracle. */
  type ScrubRule = (String, String, String)

  /** Default identifier-scrubbing rules, applied in order: long digit
    * runs are the identifier shape (account/customer numbers), remaining
    * digits are bucketed. */
  val DefaultScrubRules: Seq[ScrubRule] = Seq(
    ("longid", "\\d{4,}", "[ID]"),
    ("num", "\\d+", "#"),
  )

  /** Rule-driven text scrubbing (the PII-redaction pass of a training-data
    * pipeline): applies each rule's regexp_replace IN ORDER, logging per
    * rule the match count on the text as it stood when the rule ran (what
    * a scrubber audit-logs). Adds `n_<rule>` counts and `redacted`.
    * Entirely codegen'd built-ins — one projection, no UDF, linear scan.
    */
  def piiScrub(df: DataFrame, text: String,
      rules: Seq[ScrubRule] = DefaultScrubRules): DataFrame = {
    val (out, counts) =
      rules.foldLeft((col(text), Seq.empty[(String, Column)])) {
        case ((cur, acc), (name, pat, repl)) =>
          val n = size(regexp_extract_all(cur, lit(pat), lit(0)))
          (regexp_replace(cur, pat, repl), acc :+ (name, n))
      }
    counts.foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(s"n_$name", c.cast("long"))
    }.withColumn("redacted", out)
  }
}
