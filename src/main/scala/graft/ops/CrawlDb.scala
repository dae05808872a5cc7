package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CrawlDB typed-union merge join + merged-record fold (SURVEY §2.3 J4,
  * §2.4 A1) — the reference's center of gravity: per URL key, fold a
  * heterogeneous stream of CRAWL_STATUS and LINK records into one merged
  * summary record.
  *
  * Reference semantics (CrawlDBMergingReducer.java:215-318):
  *   - records of different types arrive under one key (the composite
  *     CrawlDBKey) and are folded into a summary with per-type treatment;
  *   - counts (attempt_count, int/ext source counts), min/max dates
  *     (safeSetMinLongValue), latest-record-by-timestamp selection,
  *     bounded deduped sample lists (MAX_TYPE_SAMPLES=5,
  *     MAX_EXTERNALLY_REFERENCED_URLS=100, Bloom-deduped);
  *   - the reducer doubles as combiner, so the fold MUST be commutative /
  *     order-insensitive (JobBuilder.java:165-172).
  *
  * Spark-first design: instead of a sorted-reduce over a composite key, the
  * two typed streams are tag-unioned into one row shape and folded by a
  * single `groupBy(key)` of conditional aggregates — `count(when)`,
  * `min/max`, `max_by` (latest-by-timestamp), and
  * `slice(array_sort(collect_set))` for the bounded deduped samples. One
  * shuffle total, map-side partial aggregation for free, whole-stage
  * codegen throughout; no custom Aggregator object churn on the hot path.
  * Order-insensitivity is structural (every aggregate is commutative) and
  * proven by CrawlDbSpec with shuffled inputs, mirroring the reference's
  * model-based tests (CrawlDBMergingReducerTests.java:181-655).
  */
object CrawlDb {

  /** Max distinct type/rel samples kept per merged record
    * (reference MAX_TYPE_SAMPLES, CrawlDBMergingReducer.java:88). */
  val MaxTypeSamples = 5

  /** Max externally-referencing source samples kept per merged record
    * (reference MAX_EXTERNALLY_REFERENCED_URLS=100,
    * CrawlDBMergingReducer.java:95 — configurable here so the cap is
    * exercisable on small test data). */
  val MaxSrcSamples = 100

  /** Bias added to `unix_millis(link_date)` before zero-padding the
    * latest-link ordinal, so negative (pre-1970) millis don't break the
    * lexicographic order of the padded string. */
  val OrdMillisBias = 500000000000000L

  /** Tag-union the status stream and the link stream into one row shape.
    *
    * `status` columns: key, status, priority, attempt_ts.
    * `links` columns: key, link_type, link_rel, link_date, link_src,
    * internal (same-root link?), qty.
    */
  def taggedUnion(status: DataFrame, links: DataFrame): DataFrame = {
    val nullS = lit(null).cast("string")
    val nullTs = lit(null).cast("timestamp")
    val nullL = lit(null).cast("long")
    val nullB = lit(null).cast("boolean")
    val nullD = lit(null).cast("double")
    val s = status.select(
      col("key"), lit("status").as("tag"),
      col("status"), col("priority"), col("attempt_ts"),
      nullS.as("link_type"), nullS.as("link_rel"), nullTs.as("link_date"),
      nullL.as("link_src"), nullB.as("internal"), nullD.as("qty"))
    val l = links.select(
      col("key"), lit("link").as("tag"),
      nullS.as("status"), nullS.as("priority"), nullTs.as("attempt_ts"),
      col("link_type"), col("link_rel"), col("link_date"),
      col("link_src"), col("internal"), col("qty"))
    s.unionByName(l)
  }

  /** The merged-record fold.
    *
    * Latest-by-timestamp selection uses `max_by` over a CONTENT-DERIVED
    * ordinal string (zero-padded millis ‖ type/rel ‖ source) — input rows
    * are not uniquely numbered, so any residual tie in the ordinal implies
    * the selected value is identical too, making the result deterministic
    * under any input order. Sample lists are deduped, sorted, and capped,
    * with an explicit truncation flag (reference logs truncation at
    * DatabaseIndexV2.java:811-814).
    *
    * Shape (r21): the link stream is dense_rank'd per key (one window
    * exchange, two in-partition sorts — rank by type/rel and rank by
    * src) BEFORE the tagged union, and then ONE whole-stage-codegen
    * groupBy folds the scalar aggregates and pivots the capped sample
    * lists out of the rank columns (slot i = max(when(rank = i, v)),
    * nulls compacted away). The r5–r20 form computed the samples as
    * slice(array_sort(collect_set)) inside the fold, which forced the
    * WHOLE aggregate through ObjectHashAggregate — no codegen, and
    * every c1/c2 merge task fell back to sort-based aggregation
    * (numTasksFallBacked=32). Measured warm at sf0.1 (OPTIMIZATION_r21.md V4):
    * collect_set fold 2.65 s, scalar fold alone 1.03 s (the floor),
    * rank-join-back 1.99 s, this fused form 1.24 s. At scale the trade
    * is one extra exchange of the link stream against codegen
    * throughout and SPILLABLE window sorts where collect_set kept an
    * unbounded per-key distinct set in the aggregation buffer (a hot
    * URL with millions of distinct referrers OOMs the old buffer; the
    * sort spills). dense_rank semantics carrying the parity: duplicates
    * share a rank (the lists are DISTINCT samples), nulls rank last so
    * they can never displace a real value into a slot or count toward
    * truncation, and rank maxSrcSamples+1 witnesses the truncation flag
    * exactly. Row-for-row parity with the collect_set form — on every
    * null/negative/cap edge — is pinned by CrawlDbSpec's
    * "window-ranked sample lists" test.
    */
  def merge(status: DataFrame, links: DataFrame,
      maxTypeSamples: Int = MaxTypeSamples,
      maxSrcSamples: Int = MaxSrcSamples): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ranking runs over the WHOLE tagged union: status rows carry null
    // link fields, and nulls rank LAST, so they behave exactly like
    // null-valued link rows (never occupy a slot, never count toward
    // truncation) — and the groupBy below then rides the window's
    // hashpartitioning(key) with NO exchange of its own. One shuffle
    // for the whole merge, exactly like the r5–r20 form, but the
    // aggregate is codegen-compatible.
    val wK = Window.partitionBy("key")
    val u = taggedUnion(status, links)
      .withColumn("tv", concat(col("link_type"), lit("/"), col("link_rel")))
      .withColumn("rkt",
        dense_rank().over(wK.orderBy(col("tv").asc_nulls_last)))
      .withColumn("rks",
        dense_rank().over(wK.orderBy(col("link_src").asc_nulls_last)))
    val isS = col("tag") === "status"
    val isL = col("tag") === "link"
    // deterministic latest-link ordinal: equal ordinals ⇒ equal values.
    // Stored on the merged record (latest_link_ord) so a later
    // incremental re-merge can continue the max exactly. Millis are
    // biased by +5e14 before zero-padding so pre-1970 (negative) dates
    // still sort correctly as strings; the bias keeps every timestamp in
    // [-13800 BCE, 15000 CE] a positive 15-digit number.
    val ord = coalesce(
      concat(
        lpad((unix_millis(col("link_date")) + CrawlDb.OrdMillisBias)
          .cast("string"), 15, "0"),
        lit("|"), col("tv"),
        lit("|"), lpad(col("link_src").cast("string"), 12, "0")),
      lit(""))
    u.groupBy(col("key").as("url_key"))
      .agg(
        sum(when(isS, 1L).otherwise(0L)).as("attempt_count"),
        max(when(isS, col("status"))).as("status"),
        max(when(isS, col("priority"))).as("priority"),
        min(when(isS, col("attempt_ts"))).as("first_attempt"),
        max(when(isS, col("attempt_ts"))).as("latest_attempt"),
        sum(when(isL, 1L).otherwise(0L)).as("link_count"),
        sum(when(isL && col("internal"), 1L).otherwise(0L)).as("int_src_count"),
        sum(when(isL && !col("internal"), 1L).otherwise(0L)).as("ext_src_count"),
        min(when(isL, col("link_date"))).as("earliest_link_date"),
        max(when(isL, col("link_date"))).as("latest_link_date"),
        max(ord).as("latest_link_ord"),
        array_compact(array((1 to maxTypeSamples).map(i =>
          max(when(col("rkt") === i, col("tv")))): _*)).as("type_and_rels"),
        array_compact(array((1 to maxSrcSamples).map(i =>
          max(when(col("rks") === i, col("link_src")))): _*)).as("src_samples"),
        // distinct non-null src count exceeds the cap ⟺ some row carries
        // a non-null src ranked past it (nulls-last ranking makes
        // non-null ranks exactly 1..D); null when the key has no
        // non-null src at all — coalesced to the collect_set form's
        // `false`
        coalesce(max(when(col("link_src").isNotNull, col("rks"))) > maxSrcSamples,
          lit(false)).as("src_truncated"),
        sum(when(isL, col("qty")).otherwise(0.0)).as("sum_qty"),
      )
      .select( // canonical merged-record column order (combineMerged's)
        col("url_key"), col("attempt_count"), col("status"), col("priority"),
        col("first_attempt"), col("latest_attempt"), col("link_count"),
        col("int_src_count"), col("ext_src_count"), col("earliest_link_date"),
        col("latest_link_date"), col("latest_link_ord"), col("type_and_rels"),
        col("src_samples"), col("src_truncated"), col("sum_qty"))
  }

  /** Human-readable latest link (type/rel of the max ordinal). */
  def withLatestLink(merged: DataFrame): DataFrame =
    merged.withColumn("latest_link",
      when(col("latest_link_ord") =!= "",
        split(col("latest_link_ord"), "\\|").getItem(1)))

  /** Incremental re-merge: combine two MERGED records per key — the
    * reference's processMergedRecord path (previous crawldb output is fed
    * back as input each merge, CrawlDBMergeJob.java:290-295).
    *
    * The combine is an exact semigroup: counts add, dates min/max, the
    * latest-link ordinal maxes, and capped sample lists stay exact
    * because a sorted capped list is the min-K of its set and
    * min-K(A ∪ B) = min-K(min-K(A) ∪ min-K(B)). Therefore ANY split of
    * the raw streams, merged per part and combined, equals the one-shot
    * merge — which is exactly what the c2 oracle checks (incremental
    * Spark plan vs one-shot DuckDB SQL). */
  def combineMerged(a0: DataFrame, b0: DataFrame,
      maxTypeSamples: Int = MaxTypeSamples,
      maxSrcSamples: Int = MaxSrcSamples): DataFrame = {
    val j = a0.as("a").join(b0.as("b"),
      col("a.url_key") === col("b.url_key"), "full_outer")
    def a(c: String) = col(s"a.$c")
    def b(c: String) = col(s"b.$c")
    def nullMin(x: Column, y: Column) =
      when(x.isNull, y).when(y.isNull, x).otherwise(least(x, y))
    def nullMax(x: Column, y: Column) =
      when(x.isNull, y).when(y.isNull, x).otherwise(greatest(x, y))
    def addL(c: String) = (coalesce(a(c), lit(0L)) + coalesce(b(c), lit(0L))).as(c)
    def unionCapped(c: String, cap: Int, tpe: String) =
      slice(array_sort(array_union(
        coalesce(a(c), array().cast(s"array<$tpe>")),
        coalesce(b(c), array().cast(s"array<$tpe>")))), 1, cap)
    j.select(
      coalesce(a("url_key"), b("url_key")).as("url_key"),
      addL("attempt_count"),
      nullMax(a("status"), b("status")).as("status"),
      nullMax(a("priority"), b("priority")).as("priority"),
      nullMin(a("first_attempt"), b("first_attempt")).as("first_attempt"),
      nullMax(a("latest_attempt"), b("latest_attempt")).as("latest_attempt"),
      addL("link_count"),
      addL("int_src_count"),
      addL("ext_src_count"),
      nullMin(a("earliest_link_date"), b("earliest_link_date")).as("earliest_link_date"),
      nullMax(a("latest_link_date"), b("latest_link_date")).as("latest_link_date"),
      nullMax(a("latest_link_ord"), b("latest_link_ord")).as("latest_link_ord"),
      unionCapped("type_and_rels", maxTypeSamples, "string").as("type_and_rels"),
      unionCapped("src_samples", maxSrcSamples, "bigint").as("src_samples"),
      (coalesce(a("src_truncated"), lit(false)) ||
        coalesce(b("src_truncated"), lit(false)) ||
        size(array_union(
          coalesce(a("src_samples"), array().cast("array<bigint>")),
          coalesce(b("src_samples"), array().cast("array<bigint>")))) > maxSrcSamples)
        .as("src_truncated"),
      (coalesce(a("sum_qty"), lit(0.0)) + coalesce(b("sum_qty"), lit(0.0))).as("sum_qty"),
    )
  }
}
