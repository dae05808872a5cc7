package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Dedupe

/** Dedupe query surface over the `documents` table (SURVEY.md §2.9 +
  * LLM-pipeline dedupe). The md5-based MinHash pipeline is intentionally
  * engine-portable, so the DuckDB oracle runs the SAME algorithm — candidate
  * generation included — and must agree exactly, not just on verified pairs.
  *
  * Hashing discipline: each shingle gets TWO 40-bit md5-derived base
  * hashes (Dedupe.shingleHash40, tags "1"/"2") and the k minhash functions are
  * Kirsch-Mitzenmacher double hashes `(h1 + j·h2) mod (2^40 - 87)` — two
  * md5 calls per shingle total, so raising k (which is what kills false
  * candidates on high-background-similarity corpora) costs almost
  * nothing; the prime modulus is load-bearing for independence. The LSH
  * curve is sized to the corpus: 6 bands × 12 rows keeps the noise fire
  * rate at j≈0.6 under 1%.
  */
object DedupeQueries {

  /** Shared oracle fragment: doc_id → distinct 3-gram shingle list. */
  private val ShinglesCte =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)]) AS sh
      |  FROM documents
      |)""".stripMargin

  /** Oracle fragments replicating the Spark MinHash pipeline: two 40-bit
    * md5-derived base hashes per shingle, k minhash values via double
    * hashing h1 + j·h2 (pure integer arithmetic, overflow-free), `bands`
    * band keys of k/bands mins joined with '|'. Emits CTEs
    * sig(doc_id, sig, sh) and banded(doc_id, band_idx, band_key). */
  /** The shared prefix — sh / dg / sig / banded — without a candidate CTE,
    * so self-join (d2–d6) and batch-vs-corpus (d7) shapes can each bolt on
    * their own `cand`. */
  private def minhashBandedCtes(k: Int, bands: Int): String = {
    val rows = k / bands
    val keyExpr = (0 until rows).map(r => s"sig[$rows*b+${r + 1}]::VARCHAR").mkString(" || '|' || ")
    s"""$ShinglesCte,
       |dg AS (
       |  SELECT doc_id,
       |         [('0x' || substr(md5('1:' || s), 1, 10))::BIGINT for s in sh] AS h1,
       |         [('0x' || substr(md5('2:' || s), 1, 10))::BIGINT for s in sh] AS h2,
       |         sh
       |  FROM sh
       |),
       |sig AS (
       |  SELECT doc_id,
       |         [list_min([(h1[i] + j * h2[i]) % ${Dedupe.MinhashPrime} for i in range(1, len(h1)+1)]) for j in range(0, $k)] AS sig,
       |         sh
       |  FROM dg
       |),
       |banded AS (
       |  SELECT doc_id, b AS band_idx, $keyExpr AS band_key
       |  FROM sig, (SELECT unnest(range(0, $bands)) AS b)
       |)""".stripMargin
  }

  private def minhashCtes(k: Int, bands: Int): String =
    s"""${minhashBandedCtes(k, bands)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id
       |)""".stripMargin

  private val JaccardSql =
    """len(list_intersect(x.sh, y.sh))::DOUBLE
      |                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))""".stripMargin

  /** Shared oracle block: d5's full pipeline through cluster labels —
    * minhash CTEs, verified pairs at jaccard ≥ 0.8, undirected edges,
    * min-label walk — ending in clus(doc_id, cluster_id). Docs with no
    * near-dup edge are ABSENT (callers COALESCE to doc_id). Must run
    * under WITH RECURSIVE. Used by d5 and cu17. */
  private[queries] def clusterCtes: String =
    s"""${minhashCtes(k = 72, bands = 6)},
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN sh x ON cand.doc_a = x.doc_id
       |            JOIN sh y ON cand.doc_b = y.doc_id
       |  WHERE $JaccardSql >= 0.8
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |),
       |walk(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.label
       |  FROM edges e JOIN walk w ON e.dst = w.id
       |  WHERE w.label < e.src
       |),
       |clus AS (
       |  SELECT id AS doc_id, MIN(label) AS cluster_id
       |  FROM walk GROUP BY id
       |)""".stripMargin

  /** One index staging dir per (JVM, stageDir base) — see the d9 comment. */
  private val d9Stage = new Staging.Memo("d9")
  private def d9StagePath: String = d9Stage.path

  private val d5SharedStage = new Staging.Memo("d5shared")
  private val d5SharedLock = new Object
  private val d5SharedBuilt =
    scala.collection.mutable.Set.empty[(String, String)]

  /** Build-once full-corpus near-dup artifacts shared by every query on
    * the standard banding (threshold 0.8, k=72, bands=6 over
    * `documents`): d2/d3 (pairs; d3 refilters the exact jaccard at 0.9),
    * d5/d11 (labels), d6/d12 (pairs), cu17/cu21/cu24 (labels or both),
    * i20 (labels) — the c7 incremental-view discipline; each was paying
    * for the SAME banding + clustering independently, their dominant
    * cost. One build per (stage base, sf dir) persists the verified
    * pair set as parquet, the complete (doc_id → cluster_id) label
    * table — singletons labeled by their own id — as a doc_id-bucketed
    * table, and the same labels as a (cluster_id → member_id) table
    * bucketed by cluster_id ([[membersTable]]), so both of
    * i20's probe hops join shuffle-free and cu24's round-2 clustering is
    * a read. Returns (pairs, labels). Correct in any run order: the
    * first caller builds, later callers (and later RUNS in the same JVM)
    * reuse; a dir or stage-base change rebuilds. Every table is written
    * here, under one lock, so concurrent readers never race a rewrite. */
  def sharedNearDup(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = d5SharedLock.synchronized {
    val base = d5SharedStage.path
    // Artifact paths (and the labels table name) are namespaced by a
    // digest of the sf dir: each dir gets its own immutable location,
    // so a lazy DataFrame handed out before a dir switch still reads
    // ITS dir's artifacts, and alternating dirs reuses both builds
    // instead of rebuilding per call (see Staging.dirKey).
    val dig = Staging.dirKey(dir)
    val labelsTable = s"d5_labels_$dig"
    if (!d5SharedBuilt((base, dir))) {
      val docs = Registry.table(s, dir, "documents")
      Dedupe.minhashNearDupPairs(docs, "doc_id", "text",
          threshold = 0.8, k = 72, bands = 6)
        .write.mode("overwrite").parquet(s"$base/pairs-$dig")
      val clus = graft.ops.Components
        .starContract(s.read.parquet(s"$base/pairs-$dig"), "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      val labels = docs.select(col("doc_id"))
        .join(clus, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      graft.sources.Sinks.writeBucketedAt(labels, labelsTable,
        "doc_id", 8, s"$base/labels-$dig")
      graft.sources.Sinks.writeBucketedAt(
        s.table(labelsTable)
          .select(col("cluster_id"), col("doc_id").as("member_id")),
        membersTable(dir), "cluster_id", 8, s"$base/members-$dig")
      d5SharedBuilt += ((base, dir))
    }
    (s.read.parquet(s"$base/pairs-$dig"), s.table(labelsTable))
  }

  /** Name of the shared (cluster_id → member_id) table for `dir`,
    * bucketed by cluster_id; [[sharedNearDup]] builds it. */
  private[graft] def membersTable(dir: String): String =
    s"d5_members_${Staging.dirKey(dir)}"

  /** d12 ground truth: probe(P) × corpus broadcast loop with the whole
    * pair test IN the join condition — length band first
    * (5·min(|A|,|B|) ≥ 4·max, exact per r20's SizeFilter derivation:
    * inter ≤ min so J ≥ 0.8 forces the band), then the exact Jaccard on
    * the pre-sorted shingle sets via the allocation-free merge-walk
    * kernel (NativeFns.jaccard3Sorted; arrays sorted ONCE per doc, not
    * per pair). Zero shuffles and zero exploded-gram volume: r19's
    * gram-join truth emitted 44.8M rows, r20's length filter cut it to
    * 23.4M, and an r21 prefix-filter restructure (the d17 kernel) got
    * candidates to 210k but measured SLOWER (6.2 s vs 4.3 s warm) —
    * char-3-gram posting lists are so dense (377 distinct grams across
    * 5000 docs at sf0.1) that every probe shares prefix grams with
    * ~40% of the corpus, so candidate generation machinery (df pass +
    * per-doc rank window) cost more than it pruned; evidence in
    * plans/r21/d12_lsh_recall_prefix_rejected_metrics.txt. The O(P·N)
    * loop shape is this audit query's documented scale contract
    * (linear per probe, the ss1 pattern) and the per-pair test is
    * ~0.3 µs after the length gate. D12TruthSpec pins row identity
    * against the unfiltered gram-join replay. A text under 3 codepoints
    * has no shingles, and the kernel's Jaccard of two empty sets is NaN,
    * which Spark orders above 0.8: the `size > 0` guard keeps such pairs
    * out, as the oracle's 0/0 = NULL does. */
  private[graft] def d12TruthPairs(sh: org.apache.spark.sql.DataFrame,
      P: Int): org.apache.spark.sql.DataFrame = {
    val c = sh.select(col("doc_id"), array_sort(col("sh")).as("csh"))
    val p = sh.where(col("doc_id") < P)
      .select(col("doc_id").as("probe_id"), array_sort(col("sh")).as("psh"))
    c.join(broadcast(p),
        col("doc_id") =!= col("probe_id") && size(col("psh")) > 0 &&
          size(col("csh")) * 5 >= size(col("psh")) * 4 &&
          size(col("psh")) * 5 >= size(col("csh")) * 4 &&
          graft.functions.NativeExpressions
            .jaccard3Sorted(col("csh"), col("psh")) >= 0.8)
      .select(col("probe_id"), col("doc_id").as("other_id"))
  }

  /** Shared by d7 (recompute-per-run) and d9 (persistent-index probe):
    * the two plans implement the same semantics, so one oracle gates both. */
  private def incrementalOracle: String = s"""
        WITH ${minhashBandedCtes(k = 72, bands = 6)},
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
          FROM banded n
          JOIN documents dn ON n.doc_id = dn.doc_id AND dn.source = 'src0'
          JOIN banded c ON n.band_idx = c.band_idx AND n.band_key = c.band_key
          JOIN documents dc ON c.doc_id = dc.doc_id AND dc.source <> 'src0'
        )
        SELECT new_id, corpus_id,
               len(list_intersect(x.sh, y.sh))::DOUBLE
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS jaccard
        FROM cand JOIN sh x ON cand.new_id = x.doc_id
                  JOIN sh y ON cand.corpus_id = y.doc_id
        WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
                / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8
        ORDER BY new_id, corpus_id
      """.trim

  def defs: Seq[Q] = Seq(
    // D-exact: content-hash dedupe groups.
    Q(
      "d1_exact_dedup",
      (s, dir) =>
        Dedupe.exactDupGroups(Registry.table(s, dir, "documents"), "doc_id", "text")
          .orderBy("content_hash"),
      Some("""
        SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY content_hash
      """.trim),
    ),

    // D-minhash: MinHash(k=72, 6 bands × 12 rows) LSH candidates verified
    // by exact Jaccard ≥ 0.8. Oracle replicates the full LSH pipeline.
    Q(
      "d2_minhash_lsh",
      (s, dir) =>
        sharedNearDup(s, dir)._1.orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH ${minhashCtes(k = 72, bands = 6)}
        SELECT doc_a, doc_b, $JaccardSql AS jaccard
        FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                  JOIN sh y ON cand.doc_b = y.doc_id
        WHERE $JaccardSql >= 0.8
        ORDER BY doc_a, doc_b
      """.trim),
    ),

    // D-exact-jaccard, strict variant: same LSH blocking, verified at the
    // near-exact threshold 0.9. Scale shape: one shuffle on the band key;
    // no O(n²) block join. The exhaustive ground-truth variant lives in
    // tests only (DedupeSpec compares LSH vs brute force at sf0.001).
    Q(
      "d3_ngram_jaccard",
      // the threshold is minhashNearDupPairs's FINAL filter on the exact
      // jaccard column, so the 0.9 pair set is precisely the shared 0.8
      // set refiltered — no second banding pass
      (s, dir) =>
        sharedNearDup(s, dir)._1.filter(col("jaccard") >= 0.9)
          .orderBy("doc_a", "doc_b"),
      Some(s"""
        WITH ${minhashCtes(k = 72, bands = 6)}
        SELECT doc_a, doc_b, $JaccardSql AS jaccard
        FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                  JOIN sh y ON cand.doc_b = y.doc_id
        WHERE $JaccardSql >= 0.9
        ORDER BY doc_a, doc_b
      """.trim),
    ),

    // D1+D2 reference pipeline: SimHash 6-chunk banding (20 keys/doc),
    // hamming ≤ 3 verify. Not SQL-expressible (custom hash) → rows-only
    // driver check; exact-equivalence vs brute force is covered in
    // DedupeSpec at sf0.001.
    Q(
      "d4_simhash_lsh",
      (s, dir) =>
        Dedupe.portableSimhashPairs(
            Registry.table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_a", "doc_b"),
      Some {
        // replicate the portable-simhash pipeline: 60-bit md5-derived
        // simhash, C(6,3)=20 combination bands, hamming ≤ 3 verify
        val simExpr = (0 until Dedupe.PortableSimhashBits).map { bit =>
          s"(CASE WHEN 2 * list_sum([(h >> $bit) & 1 for h in hs]) >= n THEN (1::BIGINT << $bit) ELSE 0 END)"
        }.mkString(" + ")
        val combos = for {
          i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6
        } yield (i, j, k)
        val bandSelects = combos.zipWithIndex.map { case ((i, j, k), idx) =>
          s"SELECT doc_id, sim, $idx AS bi, c$i * 1048576 + c$j * 1024 + c$k AS key FROM chunks"
        }.mkString("\n          UNION ALL\n          ")
        s"""
        WITH $ShinglesCte,
        hs AS (
          SELECT doc_id,
                 [('0x' || substr(md5(s), 1, 15))::BIGINT for s in sh] AS hs,
                 len(sh) AS n
          FROM sh
          WHERE len(sh) > 0
        ),
        sim AS (SELECT doc_id, $simExpr AS sim FROM hs),
        chunks AS (
          SELECT doc_id, sim,
                 ${(0 until 6).map(c => s"(sim >> ${10 * c}) & 1023 AS c$c").mkString(", ")}
          FROM sim
        ),
        bands AS (
          $bandSelects
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sim AS sim_a, b.sim AS sim_b
          FROM bands a JOIN bands b
            ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= 3
        ORDER BY doc_a, doc_b
        """.trim
      },
    ),

    // D3/G4: dedupe clusters = connected components over verified near-dup
    // pairs. Oracle: the same pairs (from the deterministic md5-minhash
    // pipeline) clustered via recursive CTE min-label propagation.
    Q(
      "d5_dedupe_clusters",
      (s, dir) => {
        // components over the shared pair set = the shared label table
        // restricted to pair endpoints (singleton self-labels excluded)
        val (pairs, labels) = sharedNearDup(s, dir)
        val members = pairs.select(col("doc_a").as("doc_id"))
          .unionByName(pairs.select(col("doc_b").as("doc_id")))
          .distinct()
        labels.join(members, "doc_id").orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $clusterCtes
        SELECT doc_id, cluster_id FROM clus ORDER BY doc_id
      """.trim),
    ),

    // D4: fuzzy cross-domain dedupe — near-dup pairs whose docs come from
    // DIFFERENT sources ("domains"), aggregated per source pair; the
    // reference derives bad-host/IP blacklists from exactly this signal
    // (pipelineV3/domainmeta/fuzzydedupe/CrossDomainDupes.java).
    Q(
      "d6_fuzzy_cross_source",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val pairs = sharedNearDup(s, dir)._1
        val da = docs.select(col("doc_id").as("doc_a"), col("source").as("source_a"))
        val db = docs.select(col("doc_id").as("doc_b"), col("source").as("source_b"))
        pairs.join(da, "doc_a").join(db, "doc_b")
          .filter(col("source_a") =!= col("source_b"))
          .groupBy(
            least(col("source_a"), col("source_b")).as("source_x"),
            greatest(col("source_a"), col("source_b")).as("source_y"))
          .agg(count(lit(1)).as("n_cross_dupes"))
          .orderBy(col("source_x"), col("source_y"))
      },
      Some(s"""
        WITH ${minhashCtes(k = 72, bands = 6)},
        pairs AS (
          SELECT doc_a, doc_b
          FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                    JOIN sh y ON cand.doc_b = y.doc_id
          WHERE $JaccardSql >= 0.8
        )
        SELECT least(a.source, b.source) AS source_x,
               greatest(a.source, b.source) AS source_y,
               COUNT(*) AS n_cross_dupes
        FROM pairs
        JOIN documents a ON pairs.doc_a = a.doc_id
        JOIN documents b ON pairs.doc_b = b.doc_id
        WHERE a.source <> b.source
        GROUP BY 1, 2
        ORDER BY source_x, source_y
      """.trim),
    ),

    // Incremental dedupe: the recurring production shape — each new ingest
    // batch (here: source 'src0') deduped against the already-accepted
    // corpus (every other source). The band join is batch × corpus only,
    // so candidate volume scales with the batch; at 100 TB the corpus side
    // is a materialized banded-signature index probed per batch
    // (Dedupe.bandedSignatures). Oracle replays candidate generation via
    // the same banded CTE restricted to cross-membership pairs.
    Q(
      "d7_incremental_dedupe",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        Dedupe.incrementalNearDupPairs(
            corpus = docs.filter(col("source") =!= "src0"),
            batch = docs.filter(col("source") === "src0"),
            id = "doc_id", text = "text",
            threshold = 0.8, k = 72, bands = 6)
          .orderBy("new_id", "corpus_id")
      },
      Some(incrementalOracle),
    ),
    // D9: the SAME incremental semantics served from the PERSISTENT
    // banded-signature index (Dedupe.writeBandedIndex / probeBandedIndex):
    // the corpus is hashed once into two bucketed tables and the batch
    // probes them — d7 recomputes the corpus per run, d9 is the artifact
    // lifecycle a production pipeline actually runs at 100 TB. Oracle is
    // d7's verbatim: both plans must land on the identical pair set.
    Q(
      "d9_indexed_incremental",
      (s, dir) => {
        // ONE staging dir per process: saveAsTable(overwrite) to the same
        // external location replaces the data in place, so reruns don't
        // accumulate index copies under /tmp
        val docs = Registry.table(s, dir, "documents")
        Dedupe.writeBandedIndex(docs.filter(col("source") =!= "src0"),
          "doc_id", "text", "d9_idx", d9StagePath)
        Dedupe.probeBandedIndex(s, "d9_idx",
            docs.filter(col("source") === "src0"), "doc_id", "text", 0.8)
          .orderBy("new_id", "corpus_id")
      },
      Some(incrementalOracle),
    ),
    // D8: approximate exact-substring dedupe (suffix-array-style "shared
    // run of >= 12 chars") via content-defined anchor grams — see
    // Dedupe.sharedSubstringPairs. The oracle replays anchor selection,
    // the stop-gram gate, and the postings join verbatim, so the whole
    // candidate pipeline is hash-checked, not just the pair list.
    Q(
      "d8_substring_dupes",
      (s, dir) =>
        graft.ops.Dedupe.sharedSubstringPairs(
          Registry.table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_a", "doc_b"),
      Some("""
        WITH g0 AS (
          SELECT doc_id,
                 unnest(list_distinct(
                   CASE WHEN length(text) < 12 THEN []::VARCHAR[]
                        ELSE [substr(text, i, 12) for i in range(1, length(text) - 10)]
                   END)) AS g
          FROM documents
        ), sel AS (
          SELECT doc_id, g FROM g0 WHERE substr(md5(g), 32, 1) = '0'
        ), ok AS (
          SELECT g FROM sel GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 32
        ), p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
          FROM sel a JOIN ok USING (g) JOIN sel b USING (g)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, shared FROM p WHERE shared >= 2
        ORDER BY doc_a, doc_b
      """.trim),
    ),
    // D11: the dedup KEEP DECISION — d5 finds the clusters; this picks
    // which copy survives (best quality = longest, ties to the smallest
    // id) and accounts what the drop saves, the form a curation run
    // actually materializes. Singletons are their own winners, so the
    // output IS the full keep-set decision. One extra groupBy over the
    // labeled corpus: winner via max_by (partial-agg'd — a giant cluster
    // folds to scalars per partition, never a window sort).
    Q(
      "d11_cluster_winners",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents").select("doc_id", "n_chars")
        // the shared label table IS the coalesced (doc → cluster) map
        docs.join(sharedNearDup(s, dir)._2, Seq("doc_id"))
          .select(col("doc_id"), col("cluster_id"), col("n_chars"))
          .groupBy("cluster_id")
          .agg(
            max_by(col("doc_id"), struct(col("n_chars"), (-col("doc_id")).as("nd")))
              .as("winner_id"),
            count(lit(1)).as("n_docs"),
            (sum(col("n_chars")) - max(col("n_chars"))).as("removed_chars"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE ${minhashCtes(k = 72, bands = 6)},
        pairs AS (
          SELECT doc_a, doc_b
          FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                    JOIN sh y ON cand.doc_b = y.doc_id
          WHERE $JaccardSql >= 0.8
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        walk(id, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, w.label
          FROM edges e JOIN walk w ON e.dst = w.id
          WHERE w.label < e.src
        ),
        cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
        labeled AS (
          SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
          FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
        agg AS (
          SELECT cluster_id, MAX(n_chars) AS mx, COUNT(*)::BIGINT AS n_docs,
                 CAST(SUM(n_chars) - MAX(n_chars) AS BIGINT) AS removed_chars
          FROM labeled GROUP BY cluster_id)
        -- winner = smallest id among the longest docs: the tie-free
        -- equivalent of Spark's max_by over (n_chars, -doc_id)
        SELECT a.cluster_id, MIN(l.doc_id) AS winner_id,
               a.n_docs, a.removed_chars
        FROM agg a JOIN labeled l
          ON l.cluster_id = a.cluster_id AND l.n_chars = a.mx
        GROUP BY a.cluster_id, a.n_docs, a.removed_chars
        ORDER BY a.cluster_id
      """.trim),
    ),
    // D12: LSH recall evaluation — the d2 analog of ss11: measures the
    // banding curve (6 bands × 12 rows at j≥0.8) against exhaustive
    // Jaccard ground truth on a probe sample. Without this measurement
    // the bands/rows trade (recall vs candidate volume) is blind. The
    // truth side is probe-sample × corpus (linear per probe, the ss1
    // pattern — NEVER all-pairs on the full corpus); the found side is
    // the production d2 path restricted to probe pairs. Both directions
    // of a probe-probe pair count separately, mirrored in the oracle.
    Q(
      "d12_lsh_recall",
      (s, dir) => {
        val P = 100
        val docs = Registry.table(s, dir, "documents")
        // materialized: the shingling feeds both sides of the truth loop
        val sh = graft.ops.Iterative.materialize(
          docs.select(col("doc_id"), Dedupe.shingles3(col("text")).as("sh")))
        // exhaustive ground truth (r21): broadcast probe loop with the
        // length band + exact sorted-merge Jaccard in the join condition
        // — see d12TruthPairs for the full history (r19 gram join 44.8M
        // rows → r20 length filter 23.4M → r21 zero exploded rows) and
        // the measured rejection of the prefix-filter restructure.
        // Row identity vs the unfiltered replay is pinned by
        // D12TruthSpec.
        val truth = d12TruthPairs(sh, P)
        // materialized: the pair table is referenced by BOTH probe-side
        // branches below — without the cut, the banding + verify
        // pipeline (the expensive half of this audit) runs twice
        val found = sharedNearDup(s, dir)._1 // persisted parquet: stable, reread cheaply
        val foundNorm = found.filter(col("doc_a") < P)
          .select(col("doc_a").as("probe_id"), col("doc_b").as("other_id"))
          .unionByName(found.filter(col("doc_b") < P)
            .select(col("doc_b").as("probe_id"), col("doc_a").as("other_id")))
          .distinct()
          .withColumn("hit", lit(1L))
        truth.join(foundNorm, Seq("probe_id", "other_id"), "left")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
          .withColumn("recall", col("n_found").cast("double") / col("n_true"))
          .orderBy("probe_id")
      },
      Some(s"""
        WITH ${minhashCtes(k = 72, bands = 6)},
        truth AS (
          SELECT p.doc_id AS probe_id, c.doc_id AS other_id
          FROM sh p JOIN sh c ON c.doc_id != p.doc_id
          WHERE p.doc_id < 100
            AND len(list_intersect(p.sh, c.sh))::DOUBLE
                  / (len(p.sh) + len(c.sh) - len(list_intersect(p.sh, c.sh))) >= 0.8),
        found AS (
          SELECT doc_a, doc_b
          FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                    JOIN sh y ON cand.doc_b = y.doc_id
          WHERE $JaccardSql >= 0.8),
        fn AS (
          SELECT doc_a AS probe_id, doc_b AS other_id FROM found WHERE doc_a < 100
          UNION
          SELECT doc_b, doc_a FROM found WHERE doc_b < 100)
        SELECT t.probe_id,
               COUNT(*)::BIGINT AS n_true,
               COUNT(f.other_id)::BIGINT AS n_found,
               COUNT(f.other_id)::DOUBLE / COUNT(*) AS recall
        FROM truth t LEFT JOIN fn f
          ON t.probe_id = f.probe_id AND t.other_id = f.other_id
        GROUP BY t.probe_id
        ORDER BY t.probe_id
      """.trim),
    ),
    // D10: chunk-level boilerplate removal — the CCNet/RefinedWeb line-dedup
    // shape (dedupe at sub-document granularity: nav bars, cookie banners,
    // repeated footers). Documents split into 5-word chunks; a chunk seen
    // >= 3 times corpus-wide is boilerplate and is dropped; the cleaned
    // text is reassembled in chunk order. All three stages are
    // partial-agg'd groupBys (chunk counts never sit on one task — a hot
    // boilerplate chunk is map-side combined before the shuffle), and the
    // reassembly state is bounded by the document's own length. The oracle
    // replays chunking, counting, and reassembly, so WHICH chunks were
    // dropped — not just how many — is hash-checked.
    Q(
      "d10_chunk_dedupe",
      (s, dir) => {
        val W = 5
        val T = 3
        val docs = Registry.table(s, dir, "documents")
        val words = split(col("text"), " ")
        val nChunks = ceil(size(words).cast("double") / W).cast("int")
        val chunks = docs.select(
          col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks - 1),
            k => array_join(slice(words, k * W + 1, lit(W)), " "))))
          .withColumnRenamed("pos", "chunk_idx")
          .withColumnRenamed("col", "chunk")
        val counts = chunks.groupBy("chunk").agg(count(lit(1)).as("n"))
        chunks.join(counts, "chunk")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("n") >= T, 1L).otherwise(0L)).as("n_boilerplate"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("n") < T, struct(col("chunk_idx"), col("chunk"))))),
                x => x.getField("chunk")),
              " ").as("kept_text"))
          .orderBy("doc_id")
      },
      Some("""
        WITH nw AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ), chunks AS (
          SELECT doc_id, u.k AS chunk_idx,
                 array_to_string(list_slice(words, u.k*5+1, u.k*5+5), ' ') AS chunk
          FROM nw, unnest(range(0, CAST(ceil(len(words)/5.0) AS BIGINT))) AS u(k)
        ), counts AS (SELECT chunk, COUNT(*) AS n FROM chunks GROUP BY 1)
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate,
               coalesce(array_to_string(
                 list(chunk ORDER BY chunk_idx) FILTER (WHERE n < 3), ' '), '') AS kept_text
        FROM chunks JOIN counts USING (chunk)
        GROUP BY doc_id
        ORDER BY doc_id
      """.trim),
    ),

    // d13: image near-dup with HAMMING tolerance — the path m14's exact
    // hash grouping cannot take: a re-encode that changes a detail
    // flips a few dHash bits, so equality misses it. The pipeline is
    // d4's SimHash-banding discipline applied to the REAL image decode:
    // (1) exact-hash supernodes first (the dedup-before-dedup step —
    // identical images collapse to one node, so the candidate space is
    // bounded by DISTINCT hashes, which the fixture bounds at
    // ~73/scene however large the corpus grows); (2) 8×8-bit bands over
    // the supernodes — ≤2 flipped bits leave ≥6 of 8 bands intact, so
    // recall is guaranteed, never probabilistic; (3) hamming ≤ 2
    // verification (xor + bit_count on the two 32-bit halves);
    // (4) min-label connected components over the tiny supernode graph
    // (perturbed variants link to their base transitively). Fixture
    // dims keep the sample lattice injective (w ≥ 9, h ≥ 8) so the
    // single-cell perturbation flips ≤2 comparisons; measured margins:
    // within-scene ≤2 bits, cross-scene ≥11 — the oracle can therefore
    // assert GROUND-TRUTH scene clusters and the banding pipeline must
    // recover them exactly.
    Q(
      "d13_image_hamming_clusters",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val scene = col("doc_id") % 53
        val w = (scene % 8 + 9).cast("int")
        val h = (scene % 5 + 8).cast("int")
        val cell = when(col("doc_id") % 5 === 4, (col("doc_id") % 72).cast("int"))
          .otherwise(lit(-1))
        val packed = docs.select(col("doc_id"),
          graft.ops.Multimodal.packBmp24Perturbed(
            scene, col("doc_id"), w, h, cell).as("media"))
        // NOTE (r20 measurement): the hash-node aggregate below feeds both
        // the components build and the final label join, so the per-doc
        // decode runs twice — but a checkpoint of the aggregate was
        // MEASURED SLOWER (2.39 → 3.17 s warm at sf0.1, c1-calibrated):
        // the decode passes are cheap relative to the added barrier, so
        // the duplicated lineage stays.
        val nodes = graft.ops.Multimodal
          .decodeBmpDHashes(packed, "doc_id", "media")
          .groupBy("h_hi", "h_lo")
          .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_doc"),
            sum(col("id")).as("docid_sum"))
          .withColumn("node", shiftleft(col("h_hi"), 32).bitwiseOR(col("h_lo")))
        val edges = Dedupe.bandedHammingPairs(nodes, maxHamming = 2)
        val labels = graft.ops.Components.starContract(edges, "doc_a", "doc_b")
          .withColumnRenamed("node", "id")
        nodes.join(labels, nodes("node") === labels("id"), "left")
          .select(col("min_doc"), col("n_docs"), col("docid_sum"),
            coalesce(col("component"), col("node")).as("cl"))
          .groupBy("cl")
          .agg(min(col("min_doc")).as("canonical_doc"),
            sum(col("n_docs")).as("n_docs"),
            count(lit(1)).as("n_hashes"),
            sum(col("docid_sum")).as("docid_sum"))
          .select("canonical_doc", "n_docs", "n_hashes", "docid_sum")
          .orderBy("canonical_doc")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, doc_id % 53 AS scene,
                 (doc_id % 53) % 8 + 9 AS w, (doc_id % 53) % 5 + 8 AS h,
                 CASE WHEN doc_id % 5 = 4 THEN CAST(doc_id % 72 AS INT)
                      ELSE -1 END AS cell
          FROM documents),
        co AS (
          SELECT doc_id, scene, cell,
                 list_transform(range(0, 72), i ->
                   {'sx': (i%9)*(w-1)//8, 'sy': (i//9)*(h-1)//7,
                    'p': CASE WHEN i = cell THEN 64 ELSE 0 END}) AS cs
          FROM g),
        gr AS (
          SELECT doc_id, scene,
                 list_transform(cs, c ->
                   ( (c.sx*c.sx*7 + c.sy*c.sy*11 + scene*(c.sx+1)*(c.sy+2) + c.p) % 256
                   + 2*((c.sx*c.sx*3 + c.sy*c.sy*5 + scene*(c.sx+2)*(c.sy+1) + c.p) % 256)
                   + (c.sx*c.sx*13 + c.sy*c.sy*2 + scene*(c.sx+3)*(c.sy+3) + c.p) % 256
                   ) // 4) AS gray
          FROM co),
        bits AS (
          SELECT doc_id, scene,
                 list_transform(range(0, 64), i ->
                   CASE WHEN gray[(i//8)*9 + (i%8) + 2] > gray[(i//8)*9 + (i%8) + 1]
                        THEN 1 ELSE 0 END) AS b
          FROM gr),
        hh AS (
          SELECT doc_id, scene,
                 CAST(list_sum(list_transform(range(0, 32),
                   i -> b[i+1] * (1::BIGINT << i))) AS BIGINT) AS h_hi,
                 CAST(list_sum(list_transform(range(32, 64),
                   i -> b[i+1] * (1::BIGINT << (i-32)))) AS BIGINT) AS h_lo
          FROM bits)
        SELECT MIN(doc_id) AS canonical_doc,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT CAST(h_hi AS VARCHAR) || ':' || CAST(h_lo AS VARCHAR)) AS n_hashes,
               CAST(SUM(doc_id) AS BIGINT) AS docid_sum
        FROM hh
        GROUP BY scene
        ORDER BY canonical_doc
      """.trim),
    ),

    // D17: EXACT-recall set-similarity join by prefix filtering (the
    // AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.):
    // the deterministic complement to the MinHash banding tier, whose
    // recall d12 MEASURES at < 1. Canonical-order theorem: order every
    // doc's shingles by global rarity (df asc, gram asc); if
    // J(x,y) ≥ t then the first |x|−⌈t·|x|⌉+1 shingles of x and of y
    // must share a gram — so joining PREFIX tokens only is complete by
    // construction, and candidate volume tracks rare-gram posting
    // lists (median df = 1 here), not all pairs (spec-pinned ≪ 1% of
    // n²/2). Candidates then pass the size-ratio prune and the exact
    // integer Jaccard test (inter·5 ≥ union·4 — the d12 idiom). The
    // per-doc prefix selection is a window PARTITIONED BY doc_id —
    // bounded by one document's shingle count, never by the corpus
    // (the st7 bounded-partition discipline). The oracle asserts the
    // GROUND TRUTH via the all-pairs gram join: prefix completeness
    // means the two sets are equal by construction.
    Q(
      "d17_prefix_filter_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Registry.table(s, dir, "documents")
        val toksArr = docs.select(col("doc_id"),
          filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("ts"))
        // r21 shape: the shingle SETS are materialized as sorted arrays
        // (one per doc) — the exploded gram table, the per-doc size, and
        // the verify inputs all derive from this one checkpoint, where
        // the r20 shape kept the exploded table and re-aggregated it for
        // sizes (two extra aggregates + broadcasts in the executed plan)
        val arr = graft.ops.Iterative.materialize(
          toksArr.select(col("doc_id"),
            array_sort(array_distinct(when(size(col("ts")) < 3,
              expr("CAST(array() AS array<string>)"))
              .otherwise(expr(
                """transform(slice(ts, 1, size(ts) - 2),
                  |  (t, i) -> concat(t, ' ', element_at(ts, i + 2),
                  |                   ' ', element_at(ts, i + 3)))"""
                  .stripMargin)))).as("sha")))
        val sh = arr.select(col("doc_id"), size(col("sha")).as("n"),
          explode(col("sha")).as("g"))
        val dfreq = sh.groupBy("g").agg(count(lit(1)).as("df"))
        // NOT materialized: the candidate self-join evaluates the rank
        // window once per side, but both sides share the exchange
        // (ReusedExchange) and the duplicated Sort+Window pipelines
        // inside one job measured CHEAPER than a checkpoint barrier
        // here (an r21 pref materialization read +1.5 s cold / +0.6 s
        // warm against the ~0.7 s duplicated sort it saved — reverted)
        val pref = sh.join(dfreq, "g")
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
          .where(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
          .select(col("doc_id"), col("n"), col("g"))
        val cand = pref.select(col("doc_id").as("a"), col("n").as("na"), col("g"))
          .join(pref.select(col("doc_id").as("b"), col("n").as("nb"), col("g")), "g")
          .where(col("a") < col("b") &&
            col("na") * 4 <= col("nb") * 5 && col("nb") * 4 <= col("na") * 5)
          .select("a", "b", "na", "nb").distinct()
        // exact verify per candidate: integer sorted-merge intersection
        // over the checkpointed arrays (the d12 kernel) — replaces the
        // r20 exploded gram join (6.4M rows at sf0.1 into a 2.6 s
        // aggregate) with one ~µs merge walk per candidate pair
        cand
          .join(arr.select(col("doc_id").as("a"), col("sha").as("sha_a")), "a")
          .join(arr.select(col("doc_id").as("b"), col("sha").as("sha_b")), "b")
          .withColumn("inter", graft.functions.NativeExpressions
            .interSorted(col("sha_a"), col("sha_b")).cast("long"))
          .where(col("inter") * 5 >= (col("na") + col("nb") - col("inter")) * 4)
          .select(col("a").as("doc_a"), col("b").as("doc_b"),
            col("inter").as("inter_grams"),
            (col("na") + col("nb") - col("inter")).as("union_grams"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH ts AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> t <> '') AS ts
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
          FROM ts, UNNEST(range(1, len(ts) - 1)) AS u(i)),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT a AS doc_a, b AS doc_b, CAST(i AS BIGINT) AS inter_grams,
               CAST(sa.n + sb.n - i AS BIGINT) AS union_grams
        FROM inter
        JOIN sz sa ON sa.doc_id = a
        JOIN sz sb ON sb.doc_id = b
        WHERE i * 5 >= (sa.n + sb.n - i) * 4
        ORDER BY doc_a, doc_b
      """.trim),
    ),

    // D16: probabilistic record linkage (the Fellegi–Sunter 1969 shape
    // every entity-resolution system implements): two record sources,
    // blocking to bound candidate pairs, per-field agreement WEIGHTS
    // summed to a match score, a decision threshold. Source B is a
    // synthesized "import" of the customer file with realistic damage —
    // a third with a one-digit name typo, a third re-keyed entirely
    // (never blocks), a third with a drifted balance — so every scoring
    // channel (exact name 24 / near name 16 / balance 8 / segment 5,
    // threshold 22) and the blocking miss-path are all exercised. Name
    // collisions across records (a typo'd name landing exactly on a
    // NEIGHBOR's name) match too — correct linkage behavior, not a test
    // artifact. Money routes through DECIMAL(18,2)→cents so agreement
    // is integer-exact in both engines. Scale shape: candidates are
    // per-(nation, name-prefix) block joins — O(Σ|A_b|·|B_b|), never
    // |A|·|B|; scoring is one codegen'd projection; NO global sort on
    // the corpus-sized match report (the gate sorts rows itself).
    Q(
      "d16_record_linkage",
      (s, dir) => {
        val cust = Registry.table(s, dir, "customer")
        val cents = (col("c_acctbal").cast("decimal(18,2)") * 100)
          .cast("long")
        val a = cust.select(col("c_custkey").as("id_a"),
          col("c_name").as("name_a"), col("c_nationkey").as("nation"),
          col("c_mktsegment").as("seg_a"), cents.as("cents_a"))
        val bump = pmod(substring(col("c_name"), 18, 1).cast("int") + 1, lit(10))
          .cast("string")
        val nameB = when(col("c_custkey") % 3 === 0,
            concat(substring(col("c_name"), 1, 17), bump))
          .when(col("c_custkey") % 3 === 1,
            concat(lit("Unknown#"), col("c_custkey").cast("string")))
          .otherwise(col("c_name"))
        val centsB = when(col("c_custkey") % 3 === 2, cents + 100)
          .otherwise(cents)
        val b = cust.select(col("c_custkey").as("id_b"), nameB.as("name_b"),
          col("c_nationkey").as("nation"), col("c_mktsegment").as("seg_b"),
          centsB.as("cents_b"))
        a.as("ra").join(b.as("rb"),
            col("ra.nation") === col("rb.nation") &&
              substring(col("name_a"), 1, 17) === substring(col("name_b"), 1, 17))
          .select(col("id_a"), col("id_b"),
            (when(col("name_a") === col("name_b"), 24)
              .when(levenshtein(col("name_a"), col("name_b")) <= 1, 16)
              .otherwise(0) +
              when(col("cents_a") === col("cents_b"), 8).otherwise(0) +
              when(col("seg_a") === col("seg_b"), 5).otherwise(0))
              .cast("long").as("score"))
          .where(col("score") >= 22L)
      },
      Some("""
        WITH a AS (
          SELECT c_custkey AS id_a, c_name AS name_a,
                 c_nationkey AS nation, c_mktsegment AS seg_a,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents_a
          FROM customer),
        b AS (
          SELECT c_custkey AS id_b,
                 CASE c_custkey % 3
                   WHEN 0 THEN substr(c_name, 1, 17) ||
                               CAST((CAST(substr(c_name, 18, 1) AS INT) + 1) % 10 AS VARCHAR)
                   WHEN 1 THEN 'Unknown#' || c_custkey
                   ELSE c_name END AS name_b,
                 c_nationkey AS nation, c_mktsegment AS seg_b,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   + CASE WHEN c_custkey % 3 = 2 THEN 100 ELSE 0 END AS cents_b
          FROM customer)
        SELECT id_a, id_b,
               CAST(CASE WHEN name_a = name_b THEN 24
                         WHEN levenshtein(name_a, name_b) <= 1 THEN 16
                         ELSE 0 END
                    + CASE WHEN cents_a = cents_b THEN 8 ELSE 0 END
                    + CASE WHEN seg_a = seg_b THEN 5 ELSE 0 END AS BIGINT) AS score
        FROM a JOIN b ON a.nation = b.nation
                     AND substr(name_a, 1, 17) = substr(name_b, 1, 17)
        WHERE CASE WHEN name_a = name_b THEN 24
                   WHEN levenshtein(name_a, name_b) <= 1 THEN 16
                   ELSE 0 END
              + CASE WHEN cents_a = cents_b THEN 8 ELSE 0 END
              + CASE WHEN seg_a = seg_b THEN 5 ELSE 0 END >= 22
      """.trim),
    ),

    // D18: exact substring-SPAN dedup (Lee et al. 2022 ExactSubstr) —
    // maximal ≥50-token spans of verbatim cross-doc duplicated material,
    // with per-span removed-token accounting. d8 stops at candidate
    // PAIRS from sampled anchors; this resolves WHERE the duplication
    // sits: every 8-token-gram position (linear enumerate — the
    // suffix-array pass as an explode), df≥2-distinct-docs gate (an
    // aggregate, never a pairwise join), covered-window union, and
    // per-doc gaps-and-islands to maximal runs. The oracle replays the
    // identical passes in SQL, so span starts/lengths are hash-gated,
    // not just counts.
    Q(
      "d18_substring_spans",
      (s, dir) =>
        graft.ops.Dedupe.duplicatedSpans(
          Registry.table(s, dir, "documents"), "doc_id", "text",
          gram = 8, minSpanTokens = 50)
          .orderBy("doc_id", "span_start"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, len(t) AS n_tokens, i AS pos,
                 array_to_string(t[i:i+7], ' ') AS g
          FROM toks, unnest(range(1, len(t) - 6)) r(i)
          WHERE len(t) >= 8
        ), dup AS (
          SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ), cov AS (
          SELECT DISTINCT doc_id, n_tokens, tok
          FROM grams JOIN dup USING (g), unnest(range(pos, pos + 8)) u(tok)
        ), runs AS (
          SELECT doc_id, n_tokens, tok,
                 tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
          FROM cov
        )
        SELECT doc_id, MIN(tok) AS span_start, COUNT(*) AS span_tokens,
               MAX(n_tokens) AS n_tokens
        FROM runs GROUP BY doc_id, grp
        HAVING COUNT(*) >= 50
        ORDER BY doc_id, span_start
      """.trim),
    ),

    // D19: the PRODUCTION form of d18 — identical ExactSubstr semantics,
    // but the df gate and join-back shuffle xxhash64(gram) (8 key bytes
    // per position) instead of the joined 8-token string: a ~10×
    // narrower uncompressed key (8 of ~88 bytes/row), measured as a
    // 3.05× compressed-shuffle cut (3135.9 → 1029.5 MB at x100 — token
    // text compresses ~3:1 in shuffle; SCALING.md) that makes the span
    // pass runnable at 100 TB.
    // Collisions can only OVER-mark coverage (two different grams
    // reading as equal — safe for removal; see ops/Dedupe.scala), and at
    // 64 bits the first expected collision sits near 2^32 distinct
    // grams, so on any gate-scale corpus the output is IDENTICAL to
    // d18's — which is exactly what the oracle checks: the same
    // string-replay SQL as d18, hash-compared against the hashed plan's
    // spans. DedupeSpec additionally pins the ⊇-coverage direction under
    // a deliberately lossy key.
    Q(
      "d19_substring_spans_hashed",
      (s, dir) =>
        graft.ops.Dedupe.duplicatedSpansHashed(
          Registry.table(s, dir, "documents"), "doc_id", "text",
          gram = 8, minSpanTokens = 50)
          .orderBy("doc_id", "span_start"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, len(t) AS n_tokens, i AS pos,
                 array_to_string(t[i:i+7], ' ') AS g
          FROM toks, unnest(range(1, len(t) - 6)) r(i)
          WHERE len(t) >= 8
        ), dup AS (
          SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ), cov AS (
          SELECT DISTINCT doc_id, n_tokens, tok
          FROM grams JOIN dup USING (g), unnest(range(pos, pos + 8)) u(tok)
        ), runs AS (
          SELECT doc_id, n_tokens, tok,
                 tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
          FROM cov
        )
        SELECT doc_id, MIN(tok) AS span_start, COUNT(*) AS span_tokens,
               MAX(n_tokens) AS n_tokens
        FROM runs GROUP BY doc_id, grp
        HAVING COUNT(*) >= 50
        ORDER BY doc_id, span_start
      """.trim),
    ),

    // D20: Dolma-style PARAGRAPH-level exact dedup (Soldaini et al.
    // 2024) — blank-line paragraph split, corpus-wide paragraph-hash df
    // gate (≥2 distinct docs), keep-FIRST (min doc, min index), drop +
    // in-order reassembly with removed-paragraph accounting. The
    // fixture builds the paragraph structure a web corpus actually has:
    // body text chunked into 40-token paragraphs plus a shared
    // navigation header (4 variants over 1/3 of docs) and a shared
    // copyright footer (7 variants over 1/2) — the boilerplate a
    // paragraph pass exists to strip — on top of the corpus's intrinsic
    // whole-doc duplicates. The oracle replays split/gate/keeper/
    // reassembly in SQL and gates the reassembled text's md5, so which
    // paragraphs survived, in what order, is checked — not just counts.
    Q(
      "d20_paragraph_dedupe",
      (s, dir) => {
        val docs = Registry.table(s, dir, "documents")
        val k = col("doc_id") % 251
        val t = graft.ops.TextAnalysis.tokens(col("text"))
        val hdr = concat(
          lit("site navigation home products contact variant "),
          (k % 4).cast("string"))
        val ftr = concat(
          lit("copyright example corp all rights reserved variant "),
          (k % 7).cast("string"))
        val nCh = ceil(size(t).cast("double") / 40).cast("int")
        val body = array_join(
          transform(sequence(lit(0), nCh - 1),
            i => array_join(slice(t, i * 40 + 1, lit(40)), " ")),
          "\n\n")
        val built = concat(
          when(k % 3 === 0, concat(hdr, lit("\n\n"))).otherwise(lit("")),
          body,
          when(k % 2 === 0, concat(lit("\n\n"), ftr)).otherwise(lit("")))
        graft.ops.Dedupe.paragraphDedupe(
            docs.select(col("doc_id"), built.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(raw"""
        WITH base AS (
          SELECT doc_id, doc_id % 251 AS k,
                 string_split_regex(trim(text), '\s+') AS t
          FROM documents),
        built AS (
          SELECT doc_id,
            (CASE WHEN k % 3 = 0
               THEN 'site navigation home products contact variant '
                    || (k % 4) || e'\n\n' ELSE '' END)
            || array_to_string(
                 list_transform(
                   range(0, CAST(ceil(len(t) / 40.0) AS BIGINT)),
                   i -> array_to_string(t[i*40+1 : i*40+40], ' ')),
                 e'\n\n')
            || (CASE WHEN k % 2 = 0
                  THEN e'\n\n'
                       || 'copyright example corp all rights reserved variant '
                       || (k % 7) ELSE '' END) AS text
          FROM base),
        pl AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(string_split_regex(text, '(?:\r?\n){2,}'),
                     p -> trim(p)),
                   p -> p <> '') AS ps
          FROM built),
        paras AS (
          SELECT doc_id, i AS para_idx, ps[i] AS para
          FROM pl, unnest(range(1, len(ps) + 1)) r(i)),
        gate AS (
          SELECT para, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS kd
          FROM paras GROUP BY para),
        gate2 AS (
          SELECT g.para, g.df, g.kd, MIN(p.para_idx) AS ki
          FROM gate g JOIN paras p
            ON p.para = g.para AND p.doc_id = g.kd
          GROUP BY g.para, g.df, g.kd),
        dec AS (
          SELECT p.doc_id, p.para_idx, p.para,
                 (g.df < 2 OR (p.doc_id = g.kd AND p.para_idx = g.ki))
                   AS keep
          FROM paras p JOIN gate2 g ON p.para = g.para)
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_paras,
               SUM(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
               SUM(CASE WHEN keep THEN 0
                        ELSE len(string_split_regex(para, '\s+')) END)::BIGINT
                 AS dropped_tokens,
               md5(coalesce(array_to_string(
                 list(para ORDER BY para_idx) FILTER (WHERE keep),
                 e'\n\n'), '')) AS kept_md5
        FROM dec
        GROUP BY doc_id
        ORDER BY doc_id
      """.trim),
    ),

    // D21: the end-to-end ExactSubstr dedup REWRITE — what Lee et al.
    // 2022 actually deploy: d18/d19 REPORT every duplicated occurrence;
    // the rewrite keeps ONE copy (the globally first, min (doc_id,
    // pos)) and removes the rest, then reassembles the cleaned text
    // (cu31's applySpans). A gram position is covered iff its gram
    // occurs ≥ 2 times corpus-wide (within-doc repetition counts) and
    // it is not the keeper. Production keying throughout: the gate and
    // join-back shuffle xxhash64(gram) — a collision can only demote a
    // true first occurrence (over-removal, the conservative dedup
    // direction; never under-removal), and at gate scale the output is
    // identical to the string replay the oracle runs. cleaned_md5
    // gates which tokens survive in what order, per doc.
    Q(
      "d21_exactsubstr_rewrite",
      (s, dir) =>
        graft.ops.Dedupe.exactSubstrRewrite(
          Registry.table(s, dir, "documents"), "doc_id", "text",
          gram = 8, minSpanTokens = 50)
          .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id, len(t) AS n_tokens, i AS pos,
                 array_to_string(t[i:i+7], ' ') AS g
          FROM toks, unnest(range(1, len(t) - 6)) r(i)
          WHERE len(t) >= 8
        ), marked AS (
          SELECT doc_id, n_tokens, pos,
                 COUNT(*) OVER (PARTITION BY g) AS cnt,
                 row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
          FROM grams
        ), cov AS (
          SELECT DISTINCT doc_id, n_tokens, tok
          FROM marked, unnest(range(pos, pos + 8)) u(tok)
          WHERE cnt >= 2 AND rn > 1
        ), runs AS (
          SELECT doc_id, n_tokens, tok,
                 tok - row_number() OVER (PARTITION BY doc_id ORDER BY tok) AS grp
          FROM cov
        ), spans AS (
          SELECT doc_id, MIN(tok) AS span_start, COUNT(*) AS span_tokens
          FROM runs GROUP BY doc_id, grp
          HAVING COUNT(*) >= 50
        ), covtok AS (
          SELECT DISTINCT doc_id, u.tok
          FROM spans, unnest(range(span_start, span_start + span_tokens)) u(tok)
        ), idx AS (
          SELECT doc_id, i, t[i] AS tok
          FROM toks, unnest(range(1, len(t) + 1)) r(i)
        ), keep AS (
          SELECT i.doc_id, i.i, i.tok
          FROM idx i ANTI JOIN covtok c
            ON i.doc_id = c.doc_id AND i.i = c.tok
        ), ka AS (
          SELECT doc_id, COUNT(*)::BIGINT AS kept_tokens,
                 md5(array_to_string(list(tok ORDER BY i), ' ')) AS cleaned_md5
          FROM keep GROUP BY doc_id
        ), rm AS (
          SELECT doc_id, SUM(span_tokens)::BIGINT AS removed_tokens
          FROM spans GROUP BY doc_id
        ), nt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks)
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
