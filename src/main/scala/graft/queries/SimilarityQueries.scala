package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Similarity-search query surface over `embeddings` (vec_id,
  * embedding: array<float>, label) — LLM-pipeline extension. Exact oracles:
  * all float arithmetic is sequential double accumulation in both engines.
  */
object SimilarityQueries {

  private val Dims = 64
  private val LshBits = 8 // per-band width for the BANDED queries (ss3)
  private val NdBands = 4 // ss3 banded-LSH bands
  private val TopK = 5
  private val ProbeMax = 10 // probe set = vec_id < 10
  // ss12 two-stage knobs: 8-of-64 coarse prefix, 20-candidate shortlist
  private val PrefixDims = 8
  private val Shortlist = 20
  private val IvfProbeCells = 2 // ss4 nprobe
  private val PqM = 4 // ss10 subspaces (subDim = Dims/PqM)
  private val PqKsub = 16 // ss10 codewords per subspace
  // d14 semantic-dup threshold: aligned with ss3's near-dup notion (the
  // fixture's planted near-pairs sit just above it; unrelated
  // within-cell pairs stay well below)
  private val SemThreshold = 0.45

  /** ss2 signature width cap (the oracle embeds hyperplane literals up to
    * this many bits and gates each on the dynamic width). */
  private val MaxLshBits = 16

  /** ss2 signature width: ≈log₂(corpus), floor 8, cap [[MaxLshBits]].
    * With 2^bits ≈ n buckets the expected bucket occupancy is O(1), so the
    * per-bucket self-join stays O(n) total however big n gets — the fixed
    * 8-bit version had an O(n²/256) ceiling. Multi-probe (bits+1 probes)
    * keeps recall decoupled from the resulting bucket sparsity. The 1e-9
    * guard makes ceil agree across engines when log2(n) lands on an
    * integer up to float error. */
  def lshBitsFor(n: Long): Int =
    math.min(MaxLshBits,
      math.max(8, math.ceil(math.log(n.toDouble) / math.log(2.0) - 1e-9).toInt))

  /** ss4 codebook size: ⌊√n⌋ — cells O(√n) vectors each, the standard IVF
    * balance between codebook scan and cell scan. Same 1e-9 guard.
    * Capped at 99999: the argbest ordinal (Similarity.cosOrd/qOrd) packs
    * the seed-id tiebreak into a base-100000 digit, so a larger codebook
    * would collide adjacent cosine buckets; past ~1e10 vectors raise the
    * base and the cap together. */
  def ivfSeedsFor(n: Long): Int =
    math.min(99999, math.max(2, math.floor(math.sqrt(n.toDouble) + 1e-9).toInt))

  /** DuckDB twin of the sizing formulas, as a one-row params CTE. */
  private val ParamsCte =
    s"""params AS (
       |  SELECT LEAST($MaxLshBits, GREATEST(8,
       |           CAST(ceil(log2(count(*)) - 1e-9) AS INT))) AS bits,
       |         LEAST(99999, GREATEST(2, CAST(floor(sqrt(count(*)) + 1e-9) AS BIGINT))) AS n_seeds
       |  FROM embeddings
       |)""".stripMargin

  /** DuckDB fragment: cosine between a.v and b.v (sequential double sums). */
  private def cosSql(a: String, b: String): String = {
    def dotS(x: String, y: String) =
      s"list_sum([$x.v[i] * $y.v[i] for i in range(1, ${Dims + 1})])"
    s"${dotS(a, b)} / (sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}))"
  }

  /** Same, over the quantized `qv` columns (integer-exact dots). */
  private def qcosSql(a: String, b: String): String = {
    def dotS(x: String, y: String) =
      s"list_sum([$x.qv[i] * $y.qv[i] for i in range(1, ${Dims + 1})])"
    s"${dotS(a, b)} / (sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}))"
  }

  /** DuckDB CTE: the ss5/ss6 quantized-vectors table. */
  private val QuantCte =
    """q AS (
      |  SELECT vec_id,
      |         [CASE WHEN m = 0 THEN 0.0
      |               ELSE floor(x / m * 127.0 + 0.5) END for x in v] AS qv
      |  FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m
      |        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))
      |)""".stripMargin

  /** DuckDB fragment: hyperplane LSH signature bits
    * [8*band, 8*band+8) of the global family, same plan-time sign
    * constants as the Spark plan (used by the banded ss3 query). */
  private def sigSql(band: Int = 0): String = {
    val h = Similarity.hyperplanes(Dims, LshBits * (band + 1))
    (0 until LshBits).map { i =>
      val lits = h(band * LshBits + i).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum([v[i] * ($lits)[i] for i in range(1, ${Dims + 1})]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** DuckDB fragment: corpus-sized signature over column `vcol` of `dims`
    * components — hyperplane literals for all [[MaxLshBits]] bits, each
    * term gated on the dynamic `bits` from the params CTE, so the SQL
    * stays static while the width tracks the corpus exactly like the
    * Spark plan. */
  private def sigSqlDynOver(vcol: String, dims: Int): String = {
    val h = Similarity.hyperplanes(dims, MaxLshBits)
    (0 until MaxLshBits).map { i =>
      val lits = h(i).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN $i < bits AND list_sum([$vcol[i] * ($lits)[i] for i in range(1, ${dims + 1})]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def sigSqlDyn: String = sigSqlDynOver("v", Dims)

  /** One index staging dir per (JVM, stageDir base) — see [[Staging.Memo]]. */
  private val ss9Stage = new Staging.Memo("ss9")
  private def ss9StagePath: String = ss9Stage.path

  /** Shared by ss4 (in-memory IVF) and ss9 (persistent-index probe):
    * identical semantics, one oracle gates both plans; ss11 reuses the
    * CTE block to score IVF candidates against the brute-force truth. */
  private def ivfOracle: String = s"""
        WITH $ivfCtes
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim

  private def ivfCtes: String = s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $ParamsCte,
        seeds AS (SELECT vec_id AS seed_id, v FROM e, params WHERE vec_id < n_seeds),
        vs AS (
          SELECT a.vec_id, s.seed_id, ${cosSql("a", "s")} AS cos
          FROM e a, seeds s
        ),
        assigned AS (
          SELECT vec_id,
                 max_by(seed_id, CAST(floor(cos * 1e12) AS BIGINT) * 100000 - seed_id) AS cell
          FROM vs GROUP BY vec_id
        ),
        pc AS (
          SELECT vec_id AS probe_id, seed_id AS cell FROM (
            SELECT vec_id, seed_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS cr
            FROM vs WHERE vec_id < $ProbeMax)
          WHERE cr <= $IvfProbeCells
        ),
        cand AS (
          SELECT pc.probe_id, na.vec_id AS neighbor_id, ${cosSql("pa", "na")} AS cos
          FROM pc
          JOIN e pa ON pa.vec_id = pc.probe_id
          JOIN assigned t ON t.cell = pc.cell
          JOIN e na ON na.vec_id = t.vec_id
          WHERE na.vec_id != pc.probe_id
        )""".stripMargin

  def defs: Seq[Q] = Seq(
    // exact brute-force cosine top-k for a probe set (the ANN ground truth)
    Q(
      "ss1_cosine_topk",
      (s, dir) => {
        val vecs = Similarity.vectors(Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < ProbeMax), TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cand AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 ${cosSql("p", "c")} AS cos
          FROM e p JOIN e c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax
        )
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),
    // ANN: random-hyperplane LSH buckets, exact cosine within bucket.
    // Signature width is sized to the corpus (lshBitsFor) so bucket
    // occupancy stays O(1) at any scale; the oracle computes the same
    // width from count(*) in its params CTE.
    Q(
      "ss2_lsh_ann",
      (s, dir) => {
        val n = Registry.table(s, dir, "embeddings").count()
        Similarity.multiProbeTopK(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", Dims, lshBitsFor(n), TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $ParamsCte,
        sig AS (SELECT vec_id, v, $sigSqlDyn AS sig FROM e, params),
        probes AS (
          SELECT vec_id AS probe_id, v,
                 CASE WHEN f = 0 THEN sig
                      ELSE xor(sig, (1::BIGINT << (f - 1))) END AS psig
          FROM sig, params, (SELECT unnest(range(0, ${MaxLshBits + 1})) AS f)
          WHERE f <= bits
        ),
        cand AS (
          SELECT a.probe_id, b.vec_id AS neighbor_id,
                 ${cosSql("a", "b")} AS cos
          FROM probes a JOIN sig b ON a.psig = b.sig AND b.vec_id != a.probe_id
        )
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),
    // embedding near-dup pairs above a cosine threshold, found via banded
    // hyperplane LSH (4 bands × 8 bits) + exact-cosine verification — one
    // shuffle per band key instead of the O(n²) cross join. The oracle
    // replicates the banding, so candidate generation itself is checked.
    Q(
      "ss3_embedding_neardup",
      (s, dir) =>
        Similarity.lshNearDupPairs(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", Dims,
            bands = NdBands, bitsPerBand = LshBits, threshold = 0.45)
          .orderBy("vec_a", "vec_b"),
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ${(0 until NdBands).map(b => s"${sigSql(b)} AS s$b").mkString(", ")} FROM e),
        cand AS (
          ${(0 until NdBands).map(b =>
            s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM sig a JOIN sig b ON a.s$b = b.s$b AND a.vec_id < b.vec_id")
            .mkString("\n          UNION\n          ")}
        )
        SELECT vec_a, vec_b, ${cosSql("a", "b")} AS cos
        FROM cand JOIN e a ON cand.vec_a = a.vec_id JOIN e b ON cand.vec_b = b.vec_id
        WHERE ${cosSql("a", "b")} >= 0.45
        ORDER BY vec_a, vec_b
      """.trim),
    ),

    // IVF-style ANN: sampled codebook of ⌊√n⌋ seed vectors (ivfSeedsFor),
    // each vector indexed to its nearest seed cell, probes scan their
    // nprobe=2 nearest cells with exact-cosine ranking. The oracle replays
    // indexing, probe planning, and search with the same √n codebook.
    Q(
      "ss4_ivf_ann",
      (s, dir) => {
        val n = Registry.table(s, dir, "embeddings").count()
        Similarity.ivfTopK(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding",
            nSeeds = ivfSeedsFor(n), nProbeCells = IvfProbeCells,
            probeMax = ProbeMax, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(ivfOracle),
    ),
    // ss9: the SAME IVF search served from a PERSISTENT index
    // (Similarity.writeIvfIndex / probeIvfIndex): seed codebook + cell-
    // assigned vectors land as tables (cells bucketed by cell id), probes
    // only read them — the vector-index twin of d9's banded-index
    // lifecycle. Oracle is ss4's verbatim: both plans must produce the
    // identical neighbor ranking.
    Q(
      "ss9_ivf_indexed",
      (s, dir) => {
        val emb = Registry.table(s, dir, "embeddings")
        val n = emb.count()
        // one staging dir per JVM — overwrite replaces in place, reruns
        // don't accumulate index copies
        Similarity.writeIvfIndex(emb, "vec_id", "embedding",
          "ss9_idx", ss9StagePath, nSeeds = ivfSeedsFor(n))
        Similarity.probeIvfIndex(s, "ss9_idx",
            Similarity.vectors(emb, "vec_id", "embedding")
              .filter(col("vec_id") < ProbeMax),
            nProbeCells = IvfProbeCells, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(ivfOracle),
    ),

    // int8-quantized cosine top-k: per-vector symmetric quantization
    // q_i = floor(v_i/max|v|·127 + 0.5), cosine on the quantized values
    // (the scale cancels). Quantized values and their dot products are
    // exact in doubles, so parity needs no float-summation discipline —
    // the arithmetic is integer-exact in both engines. The 100 TB story:
    // int8 corpus vectors cut scan bandwidth 4× vs float32 (8× vs the
    // double form) at ~0.4%-of-range rounding error.
    Q(
      "ss5_quantized_cosine",
      (s, dir) => {
        val vecs = Similarity.vectors(Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        Similarity.quantizedTopK(vecs, vecs.filter(col("vec_id") < ProbeMax), TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (
          SELECT vec_id,
                 [CASE WHEN m = 0 THEN 0.0
                       ELSE floor(x / m * 127.0 + 0.5) END for x in v] AS qv
          FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM e)
        ),
        cand AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 list_sum([p.qv[i] * c.qv[i] for i in range(1, ${Dims + 1})]) /
                 (sqrt(list_sum([p.qv[i] * p.qv[i] for i in range(1, ${Dims + 1})])) *
                  sqrt(list_sum([c.qv[i] * c.qv[i] for i in range(1, ${Dims + 1})]))) AS qcos
          FROM q p JOIN q c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax
        )
        SELECT probe_id, neighbor_id, qcos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),

    // IVF ANN with a k-means-REFINED codebook, entirely in the quantized
    // integer domain: seed with the first √n vectors, one Lloyd step
    // (assign by quantized cosine, recompute centroids as per-dimension
    // rounded integer means), re-assign, probe nprobe refined cells.
    // Because every quantity is integer-exact (or one portable float op),
    // the oracle replays the codebook LEARNING itself, not just the
    // search — the same discipline d2/d4 apply to candidate generation.
    Q(
      "ss6_ivf_kmeans",
      (s, dir) => {
        val n = Registry.table(s, dir, "embeddings").count()
        Similarity.ivfKmeansTopK(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding",
            nSeeds = ivfSeedsFor(n), nProbeCells = IvfProbeCells,
            probeMax = ProbeMax, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $ParamsCte,
        $QuantCte,
        seeds AS (SELECT vec_id AS seed_id, qv FROM q, params WHERE vec_id < n_seeds),
        a0 AS (
          SELECT vec_id,
                 max_by(seed_id, CAST(floor(qcos * 1e12) AS BIGINT) * 100000 - seed_id) AS cell
          FROM (SELECT a.vec_id, s.seed_id, ${qcosSql("a", "s")} AS qcos
                FROM q a, (SELECT seed_id, qv FROM seeds) s)
          GROUP BY vec_id
        ),
        cent AS (
          SELECT a0.cell, idx,
                 floor(SUM(q.qv[idx]) / COUNT(*) + 0.5) AS c
          FROM a0 JOIN q USING (vec_id), range(1, ${Dims + 1}) t(idx)
          GROUP BY a0.cell, idx
        ),
        refined AS (SELECT cell AS seed_id, list(c ORDER BY idx) AS qv FROM cent GROUP BY cell),
        a1 AS (
          SELECT vec_id,
                 max_by(seed_id, CAST(floor(qcos * 1e12) AS BIGINT) * 100000 - seed_id) AS cell
          FROM (SELECT a.vec_id, r.seed_id, ${qcosSql("a", "r")} AS qcos
                FROM q a, refined r)
          GROUP BY vec_id
        ),
        pc AS (
          SELECT vec_id AS probe_id, seed_id AS cell FROM (
            SELECT a.vec_id, r.seed_id,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY ${qcosSql("a", "r")} DESC, r.seed_id) AS cr
            FROM q a, refined r WHERE a.vec_id < $ProbeMax)
          WHERE cr <= $IvfProbeCells
        ),
        cand AS (
          SELECT pc.probe_id, t.vec_id AS neighbor_id, ${qcosSql("pq", "nq")} AS qcos
          FROM pc
          JOIN q pq ON pq.vec_id = pc.probe_id
          JOIN a1 t ON t.cell = pc.cell
          JOIN q nq ON nq.vec_id = t.vec_id
          WHERE t.vec_id != pc.probe_id
        )
        SELECT probe_id, neighbor_id, qcos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY qcos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),

    // ss7: near-dup CLUSTERS over embeddings — ss3's banded-LSH pair
    // generation chained into the distributed union-find (the same
    // composition d5 runs for text MinHash pairs): dedupe by embedding
    // similarity ends in clusters, not pairs, because downstream keeps
    // one representative per cluster. The oracle replays the banding,
    // the cosine verify, AND the label propagation (recursive CTE).
    Q(
      "ss7_neardup_clusters",
      (s, dir) => {
        val pairs = Similarity.lshNearDupPairs(
            Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", Dims,
            bands = NdBands, bitsPerBand = LshBits, threshold = 0.45)
          .select(col("vec_a"), col("vec_b"))
        graft.ops.Components.starContract(pairs, "vec_a", "vec_b")
          .select(col("node").as("vec_id"), col("component").as("cluster_id"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ${(0 until NdBands).map(b => s"${sigSql(b)} AS s$b").mkString(", ")} FROM e),
        cand AS (
          ${(0 until NdBands).map(b =>
            s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM sig a JOIN sig b ON a.s$b = b.s$b AND a.vec_id < b.vec_id")
            .mkString("\n          UNION\n          ")}
        ),
        pairs AS (
          SELECT vec_a, vec_b
          FROM cand JOIN e a ON cand.vec_a = a.vec_id JOIN e b ON cand.vec_b = b.vec_id
          WHERE ${cosSql("a", "b")} >= 0.45
        ),
        edges AS (
          SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs
        ),
        walk(id, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e2.src, w.label
          FROM edges e2 JOIN walk w ON e2.dst = w.id
          WHERE w.label < e2.src
        )
        SELECT id AS vec_id, MIN(label) AS cluster_id
        FROM walk GROUP BY id ORDER BY vec_id
      """.trim),
    ),

    // ss8: max-inner-product top-k (the retrieval scoring of recommender /
    // embedding-lookup workloads, where un-normalized magnitude matters)
    // via the published norm-augmentation MIPS→cosine reduction: corpus
    // vectors augmented to [v, sqrt(M²−‖v‖²)], probes to [q, 0], then the
    // same corpus-sized multi-probe hyperplane bucketing as ss2 over the
    // dims+1 space, ranked by the raw inner product. The oracle replays
    // the augmentation and the bucketing, so candidate generation itself
    // is hash-checked.
    Q(
      "ss8_mips_topk",
      (s, dir) => {
        val n = Registry.table(s, dir, "embeddings").count()
        Similarity.mipsMultiProbeTopK(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", Dims, lshBitsFor(n),
            probeMax = ProbeMax, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $ParamsCte,
        n AS (SELECT vec_id, v,
                     list_sum([v[i] * v[i] for i in range(1, ${Dims + 1})]) AS nsq
              FROM e),
        mm AS (SELECT max(nsq) AS m2 FROM n),
        aug AS (SELECT vec_id, v, list_append(v, sqrt(m2 - nsq)) AS av FROM n, mm),
        sig AS (SELECT vec_id, v, ${sigSqlDynOver("av", Dims + 1)} AS sig
                FROM aug, params),
        p0 AS (SELECT vec_id, v, list_append(v, 0.0) AS av
               FROM n WHERE vec_id < $ProbeMax),
        psig AS (SELECT vec_id, v, ${sigSqlDynOver("av", Dims + 1)} AS sig
                 FROM p0, params),
        probes AS (
          SELECT vec_id AS probe_id, v,
                 CASE WHEN f = 0 THEN sig
                      ELSE xor(sig, (1::BIGINT << (f - 1))) END AS psig
          FROM psig, params, (SELECT unnest(range(0, ${MaxLshBits + 1})) AS f)
          WHERE f <= bits
        ),
        cand AS (
          SELECT a.probe_id, b.vec_id AS neighbor_id,
                 list_sum([a.v[i] * b.v[i] for i in range(1, ${Dims + 1})]) AS ip
          FROM probes a JOIN sig b ON a.psig = b.sig AND b.vec_id != a.probe_id
        )
        SELECT probe_id, neighbor_id, ip, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY ip DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),
    // ss10: product quantization with asymmetric-distance scoring
    // (PQ-ADC, Jégou/Douze/Schmid 2011) — the memory-compression scale
    // path the IVF family doesn't cover: the corpus is stored as m small
    // codes per vector (here 4 × one-of-16 over 16-dim subspaces), the
    // probe stays exact, and scoring is m LUT lookups + a sum. Codebook
    // learning (seed + one Lloyd step), coding and scoring all run in
    // the integer-valued-double domain, so the oracle replays the ENTIRE
    // pipeline — a drifted centroid, code or LUT entry breaks the hash.
    Q(
      "ss10_pq_adc",
      (s, dir) =>
        Similarity.pqAdcTopK(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", dims = Dims, m = PqM, ksub = PqKsub,
            probeMax = ProbeMax, k = TopK)
          .orderBy("probe_id", "rank"),
      Some {
        val sd = Dims / PqM
        def l2 = s"CAST(list_sum(list_transform(range(1, ${sd + 1})," +
          s" i -> (sub[i] - cv[i]) * (sub[i] - cv[i]))) * 100000 + code AS BIGINT)"
        s"""
        WITH $QuantCte,
        subs AS (
          SELECT vec_id, s, list_slice(qv, s * $sd + 1, s * $sd + $sd) AS sub
          FROM q, range(0, $PqM) t(s)),
        seeds AS (SELECT s, vec_id AS code, sub AS cv FROM subs WHERE vec_id < $PqKsub),
        a0 AS (
          SELECT subs.vec_id, subs.s, min_by(code, $l2) AS code
          FROM subs JOIN seeds USING (s)
          GROUP BY subs.vec_id, subs.s),
        cent AS (
          SELECT a0.s, a0.code, idx, floor(SUM(sub[idx]) / COUNT(*) + 0.5) AS c
          FROM a0 JOIN subs ON subs.vec_id = a0.vec_id AND subs.s = a0.s,
               range(1, ${sd + 1}) t(idx)
          GROUP BY a0.s, a0.code, idx),
        refined AS (SELECT s, code, list(c ORDER BY idx) AS cv FROM cent GROUP BY s, code),
        codes AS (
          SELECT subs.vec_id, subs.s, min_by(code, $l2) AS code
          FROM subs JOIN refined USING (s)
          GROUP BY subs.vec_id, subs.s),
        lut AS (
          SELECT p.vec_id AS probe_id, r.s, r.code,
                 list_sum(list_transform(range(1, ${sd + 1}),
                   i -> p.sub[i] * r.cv[i])) AS pdot
          FROM subs p JOIN refined r USING (s)
          WHERE p.vec_id < $ProbeMax),
        adc AS (
          SELECT l.probe_id, c.vec_id AS neighbor_id,
                 CAST(SUM(l.pdot) AS BIGINT) AS adc_dot
          FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
          WHERE c.vec_id != l.probe_id
          GROUP BY 1, 2)
        SELECT probe_id, neighbor_id, adc_dot, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                      ORDER BY adc_dot DESC, neighbor_id) AS rank
          FROM adc)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
        """.trim
      },
    ),
    // ss11: ANN recall evaluation — the metric an ANN deployment tunes
    // against (nprobe/bits trade recall for cost; without a measured
    // recall@k the trade is blind). Per probe: |IVF top-k ∩ exact top-k|
    // over k, IVF (ss4 semantics) scored against the brute-force ground
    // truth (ss1 semantics). Both sides carry their existing oracle
    // machinery, so the evaluation itself — the intersection and the
    // ratio — is hash-checked too. Scale: the truth side is the probe
    // set × corpus scan (probe sets are small by construction); the IVF
    // side is the production path being measured.
    Q(
      "ss11_ann_recall",
      (s, dir) => {
        val emb = Registry.table(s, dir, "embeddings")
        val n = emb.count()
        val vecs = Similarity.vectors(emb, "vec_id", "embedding")
        val truth = Similarity.bruteForceTopK(
            vecs, vecs.filter(col("vec_id") < ProbeMax), TopK)
          .select(col("probe_id"), col("neighbor_id"))
        val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
            nSeeds = ivfSeedsFor(n), nProbeCells = IvfProbeCells,
            probeMax = ProbeMax, k = TopK)
          .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
        truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
          .groupBy("probe_id")
          .agg(count(col("hit")).as("n_hits"))
          .select(col("probe_id"), col("n_hits"),
            (col("n_hits").cast("double") / TopK).as("recall"))
          .orderBy("probe_id")
      },
      Some(s"""
        WITH $ivfCtes,
        ivfk AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, neighbor_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM cand)
          WHERE rank <= $TopK),
        bf AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id) AS rank
            FROM e p JOIN e c ON c.vec_id != p.vec_id
            WHERE p.vec_id < $ProbeMax)
          WHERE rank <= $TopK)
        SELECT bf.probe_id, COUNT(i.neighbor_id)::BIGINT AS n_hits,
               COUNT(i.neighbor_id)::DOUBLE / $TopK AS recall
        FROM bf LEFT JOIN ivfk i
          ON bf.probe_id = i.probe_id AND bf.neighbor_id = i.neighbor_id
        GROUP BY bf.probe_id
        ORDER BY bf.probe_id
      """.trim),
    ),

    // ss12: TRUNCATED-DIMENSION two-stage retrieval (the matryoshka
    // pattern): a coarse pass scores only the first 8 of 64 dimensions —
    // at a billion vectors that is the memory-bandwidth lever, an 8×
    // scan-traffic cut — shortlists 20 candidates per probe through the
    // bounded TopK heap (≤20 rows per probe per mapper into the shuffle,
    // no corpus-wide window sort), and an exact-cosine rerank over the
    // shortlist returns the top 5. The oracle replays both stages, so
    // the prefix-dot arithmetic, the shortlist cut, AND the rerank are
    // one hash gate.
    Q(
      "ss12_truncated_rerank",
      (s, dir) => {
        val vecs = Similarity.vectors(
          Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        Similarity.truncatedRerankTopK(
            vecs, vecs.filter(col("vec_id") < ProbeMax),
            prefixDims = PrefixDims, shortlist = Shortlist, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        coarse AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 list_sum([p.v[i] * c.v[i] for i in range(1, ${PrefixDims + 1})]) AS coarse
          FROM e p JOIN e c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, neighbor_id,
                   row_number() OVER (PARTITION BY probe_id
                     ORDER BY coarse DESC, neighbor_id) AS rr
            FROM coarse)
          WHERE rr <= $Shortlist),
        cand AS (
          SELECT s.probe_id, s.neighbor_id, ${cosSql("p", "c")} AS cos
          FROM short s
          JOIN e p ON p.vec_id = s.probe_id
          JOIN e c ON c.vec_id = s.neighbor_id)
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),

    // ss13: ss12's bandwidth claim made PHYSICAL — a column-split
    // vector layout (vec_id, head[8], tail[56]) so the coarse pass
    // reads 8 of 64 dims off disk, not just out of a loaded array:
    // with vectors stored column-split, truncated-dimension scoring is
    // a parquet column-pruning win (the scan's ReadSchema carries
    // `head` but NOT `tail` — pinned in PlanSpec), which at a billion
    // vectors is 8× less scan I/O for the stage that touches the WHOLE
    // corpus. The rerank then fetches head+tail only for the
    // O(probes × shortlist) survivors. Semantics are ss12's exactly
    // (same knobs, same probes, same fixed-point-free sequential
    // double arithmetic — concat(head, tail) restores the original
    // accumulation order), so the ss12 oracle gates this layout
    // unchanged.
    Q(
      "ss13_columnar_coarse",
      (s, dir) => {
        val split = Staging.dir("ss13")
        Similarity.vectors(
            Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
          .select(col("vec_id"),
            slice(col("v"), 1, PrefixDims).as("head"),
            slice(col("v"), PrefixDims + 1, Dims - PrefixDims).as("tail"))
          .write.mode("overwrite").parquet(split)
        val full = s.read.parquet(split)
        val probes = full.filter(col("vec_id") < ProbeMax)
          .select(col("vec_id"), col("head"),
            concat(col("head"), col("tail")).as("v"))
        // coarse: a second scan that references ONLY (vec_id, head) —
        // Catalyst prunes `tail` out of the parquet read
        val coarse = s.read.parquet(split).select("vec_id", "head").as("c")
          .join(broadcast(probes
              .select(col("vec_id").as("probe_id"), col("head").as("ph"))),
            col("probe_id") =!= col("c.vec_id"))
          .select(col("probe_id"), col("c.vec_id").as("neighbor_id"),
            Similarity.dot(col("ph"), col("c.head")).as("coarse"))
        Similarity.shortlistRerank(
            coarse,
            probes.select(col("vec_id"), col("v")),
            full.select(col("vec_id"),
              concat(col("head"), col("tail")).as("v")),
            shortlist = Shortlist, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        coarse AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 list_sum([p.v[i] * c.v[i] for i in range(1, ${PrefixDims + 1})]) AS coarse
          FROM e p JOIN e c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, neighbor_id,
                   row_number() OVER (PARTITION BY probe_id
                     ORDER BY coarse DESC, neighbor_id) AS rr
            FROM coarse)
          WHERE rr <= $Shortlist),
        cand AS (
          SELECT s.probe_id, s.neighbor_id, ${cosSql("p", "c")} AS cos
          FROM short s
          JOIN e p ON p.vec_id = s.probe_id
          JOIN e c ON c.vec_id = s.neighbor_id)
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),
    // d14: SemDeDup semantic dedupe (Abbas et al. 2023) — the dedupe
    // tier ABOVE d2/d4: paraphrases and re-writes share no shingles, so
    // MinHash never pairs them; embedding cosine within k-means-style
    // cells does, with the codebook bounding the pairwise work (the
    // paper's lever: cells are O(n/k), so the quadratic term never sees
    // the corpus). Quantized integer domain end to end — the oracle
    // replays assignment AND verdicts exactly. Keeps the lowest vec_id
    // of every dominance chain; (vec_id, cell, kept) per vector.
    Q(
      "d14_semantic_dedupe",
      (s, dir) => {
        val n = Registry.table(s, dir, "embeddings").count()
        Similarity.semanticDedupe(Registry.table(s, dir, "embeddings"),
            "vec_id", "embedding", nSeeds = ivfSeedsFor(n),
            threshold = SemThreshold)
          .orderBy("vec_id")
      },
      Some(s"""
        WITH $ParamsCte,
        $QuantCte,
        seeds AS (SELECT vec_id AS seed_id, qv FROM q, params
                  WHERE vec_id < n_seeds),
        a0 AS (
          SELECT vec_id,
                 max_by(seed_id, CAST(floor(qcos * 1e12) AS BIGINT) * 100000 - seed_id) AS cell
          FROM (SELECT a.vec_id, s.seed_id, ${qcosSql("a", "s")} AS qcos
                FROM q a, seeds s)
          GROUP BY vec_id
        ),
        drp AS (
          SELECT DISTINCT a.vec_id
          FROM a0 a JOIN a0 b ON a.cell = b.cell AND b.vec_id < a.vec_id
          JOIN q qa ON qa.vec_id = a.vec_id
          JOIN q qb ON qb.vec_id = b.vec_id
          WHERE ${qcosSql("qa", "qb")} >= $SemThreshold
        )
        SELECT a0.vec_id, a0.cell AS cell, drp.vec_id IS NULL AS kept
        FROM a0 LEFT JOIN drp ON a0.vec_id = drp.vec_id
        ORDER BY a0.vec_id
      """.trim),
    ),
    // d15: SemDeDup recall audit — completes the evaluation triple
    // (d12 audits the MinHash banding curve, ss11 audits IVF recall,
    // this audits the CELL-LOCALITY assumption d14 rests on): of the
    // over-threshold pairs a probe sample's brute-force scan finds,
    // what fraction lands in one cell (and is therefore visible to
    // d14's within-cell compare)? Probe-sample truth keeps the audit
    // linear per probe (the d12 discipline — never corpus all-pairs);
    // cells come from the SAME assignment the production path uses.
    // The number this reports (~⅓ on the fixture's mid-similarity
    // pairs) is the tuning signal for the codebook-size/nprobe trade —
    // low cell-recall at a site's threshold means fewer, larger cells
    // or multi-cell probing.
    Q(
      "d15_semdedup_recall",
      (s, dir) => {
        val emb = Registry.table(s, dir, "embeddings")
        val n = emb.count()
        val qv = Similarity.vectors(emb, "vec_id", "embedding")
          .select(col("vec_id"), Similarity.quantize(col("v")).as("qv"))
        val qvm = graft.ops.Iterative.materialize(qv)
        val probes = qvm.filter(col("vec_id") < ProbeMax * 10)
          .select(col("vec_id").as("probe_id"), col("qv").as("pqv"))
        val truth = qvm.join(broadcast(probes),
            col("vec_id") =!= col("probe_id"))
          .where(Similarity.cosine(col("pqv"), col("qv")) >= SemThreshold)
          .select(col("probe_id"), col("vec_id").as("other_id"))
        val cells = Similarity.assignCells(emb, "vec_id", "embedding",
            nSeeds = ivfSeedsFor(n)).select(col("vec_id"), col("cell"))
        truth
          .join(cells.withColumnsRenamed(
            Map("vec_id" -> "probe_id", "cell" -> "cell_p")), "probe_id")
          .join(cells.withColumnsRenamed(
            Map("vec_id" -> "other_id", "cell" -> "cell_o")), "other_id")
          .groupBy("probe_id")
          .agg(count(lit(1)).as("n_true"),
            sum(when(col("cell_p") === col("cell_o"), 1L).otherwise(0L))
              .as("n_cocell"))
          .withColumn("recall", col("n_cocell").cast("double") / col("n_true"))
          .orderBy("probe_id")
      },
      Some(s"""
        WITH $ParamsCte,
        $QuantCte,
        seeds AS (SELECT vec_id AS seed_id, qv FROM q, params
                  WHERE vec_id < n_seeds),
        a0 AS (
          SELECT vec_id,
                 max_by(seed_id, CAST(floor(qcos * 1e12) AS BIGINT) * 100000 - seed_id) AS cell
          FROM (SELECT a.vec_id, s.seed_id, ${qcosSql("a", "s")} AS qcos
                FROM q a, seeds s)
          GROUP BY vec_id
        ),
        truth AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS other_id
          FROM q p JOIN q c ON c.vec_id != p.vec_id
          WHERE p.vec_id < ${ProbeMax * 10}
            AND ${qcosSql("p", "c")} >= $SemThreshold)
        SELECT t.probe_id,
               COUNT(*)::BIGINT AS n_true,
               CAST(SUM(CASE WHEN ap.cell = ao.cell THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_cocell,
               SUM(CASE WHEN ap.cell = ao.cell THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) AS recall
        FROM truth t
        JOIN a0 ap ON t.probe_id = ap.vec_id
        JOIN a0 ao ON t.other_id = ao.vec_id
        GROUP BY t.probe_id
        ORDER BY t.probe_id
      """.trim),
    ),

    // SS14: multi-vector late-interaction retrieval (ColBERT MaxSim,
    // Khattab & Zaharia 2020) — documents and queries are BAGS of token
    // vectors (5 per doc here); score(q, d) = Σ over query tokens of
    // max over doc tokens of the token-pair similarity. The whole
    // pipeline stays integer-exact: int8-quantized token vectors (the
    // ss5 discipline), integer MIPS dots (≤127²·64 ≈ 10⁶ per pair,
    // Σ over 5 query tokens ≪ 2⁵³ — exact in double), so max/sum
    // reassociate freely across partitions and the oracle replays
    // scoring bit-for-bit. Scale shape: the QUERY token bag broadcasts
    // (the late-interaction design point — queries are model-sized);
    // the corpus token table is scanned once; the two reductions
    // (max per query-token×doc, sum per query×doc) are partial-agg'd
    // groupBys; the final per-query top-5 is the bounded heap, never a
    // corpus-wide window.
    Q(
      "ss14_maxsim",
      (s, dir) => {
        val toksPerDoc = 5
        val probeDocs = 4
        val emb = Similarity.vectors(
          Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        val tok = emb.select(col("vec_id"),
          (col("vec_id") / toksPerDoc).cast("long").as("doc"),
          Similarity.quantize(col("v")).as("qv"))
        val probes = tok.filter(col("doc") < probeDocs)
          .select(col("doc").as("probe_doc"), col("vec_id").as("ptok"),
            col("qv").as("pv"))
        val dots = tok.join(broadcast(probes), col("doc") =!= col("probe_doc"))
          .select(col("probe_doc"), col("ptok"), col("doc").as("corpus_doc"),
            aggregate(zip_with(col("qv"), col("pv"), (x, y) => x * y),
              lit(0.0), (acc, x) => acc + x).as("dot"))
        dots.groupBy("probe_doc", "ptok", "corpus_doc")
          .agg(max(col("dot")).as("m"))
          .groupBy("probe_doc", "corpus_doc")
          .agg(sum(col("m")).as("score"))
          .groupBy("probe_doc")
          .agg(graft.ops.TopK.topScored(TopK)(col("score"), col("corpus_doc"))
            .as("top"))
          .select(col("probe_doc"), posexplode(col("top")))
          .select(col("probe_doc"), (col("pos") + 1).cast("long").as("rank"),
            col("col.key").as("corpus_doc"),
            col("col.score").cast("long").as("score"))
          .orderBy("probe_doc", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (
          SELECT vec_id, vec_id // 5 AS doc,
                 [CASE WHEN m = 0 THEN 0.0
                       ELSE floor(x / m * 127.0 + 0.5) END for x in v] AS qv
          FROM (SELECT vec_id, v, list_max([abs(x) for x in v]) AS m FROM e)),
        p AS (SELECT doc AS probe_doc, vec_id AS ptok, qv AS pv
              FROM q WHERE doc < 4),
        dots AS (
          SELECT p.probe_doc, p.ptok, c.doc AS corpus_doc,
                 list_sum([c.qv[i] * p.pv[i] for i in range(1, ${Dims + 1})]) AS dot
          FROM q c JOIN p ON c.doc != p.probe_doc),
        mx AS (
          SELECT probe_doc, ptok, corpus_doc, MAX(dot) AS m
          FROM dots GROUP BY 1, 2, 3),
        sc AS (
          SELECT probe_doc, corpus_doc, SUM(m) AS score
          FROM mx GROUP BY 1, 2)
        SELECT probe_doc, rank, corpus_doc, score FROM (
          SELECT probe_doc, corpus_doc, CAST(score AS BIGINT) AS score,
                 CAST(row_number() OVER (
                   PARTITION BY probe_doc
                   ORDER BY score DESC, corpus_doc) AS BIGINT) AS rank
          FROM sc)
        WHERE rank <= $TopK
        ORDER BY probe_doc, rank
      """.trim),
    ),

    // ss15: 1-BIT BINARY-QUANTIZATION ANN — the extreme end of ss5's
    // bandwidth ladder: each vector collapses to its 64 sign bits (two
    // packed 32-bit halves), candidates shortlist by Hamming distance
    // (XOR + popcount — integer-exact in both engines, no float
    // discipline) through the bounded heap, exact-cosine rerank of the
    // survivors (the ss12/ss13 shared tail, identical rank semantics).
    // 1 bit/dim = 32× less scan traffic than float32, and the coarse
    // pass is pure XOR+POPCNT; the oracle recomputes the Hamming
    // shortlist directly from sign concordance (no packing — the
    // packing is implementation, the distance is the contract).
    Q(
      "ss15_binary_rerank",
      (s, dir) => {
        val vecs = Similarity.vectors(
          Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        Similarity.binarySignTopK(
            vecs, vecs.filter(col("vec_id") < ProbeMax),
            shortlist = Shortlist, k = TopK)
          .orderBy("probe_id", "rank")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        coarse AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 -len(list_filter(range(1, ${Dims + 1}),
                   i -> (p.v[i] >= 0) <> (c.v[i] >= 0))) AS coarse
          FROM e p JOIN e c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, neighbor_id,
                   row_number() OVER (PARTITION BY probe_id
                     ORDER BY coarse DESC, neighbor_id) AS rr
            FROM coarse)
          WHERE rr <= $Shortlist),
        cand AS (
          SELECT s.probe_id, s.neighbor_id, ${cosSql("p", "c")} AS cos
          FROM short s
          JOIN e p ON p.vec_id = s.probe_id
          JOIN e c ON c.vec_id = s.neighbor_id)
        SELECT probe_id, neighbor_id, cos, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        WHERE rank <= $TopK
        ORDER BY probe_id, rank
      """.trim),
    ),

    // ss16: BINARY-ANN RECALL EVAL — the ss11 discipline applied to the
    // ss15 path: per-probe recall of the 1-bit Hamming-shortlist +
    // exact-rerank top-k against the exact brute-force top-k. The
    // measurement a 100 TB operator runs before trusting the 32×
    // bandwidth cut — both sides computed in one query, the oracle
    // replays the shortlist, the rerank, the exact truth, AND the
    // recall join, so the eval itself is hash-gated (a recall
    // calculator that flatters the index breaks the hash).
    Q(
      "ss16_binary_recall",
      (s, dir) => {
        val vecs = Similarity.vectors(
          Registry.table(s, dir, "embeddings"), "vec_id", "embedding")
        val probes = vecs.filter(col("vec_id") < ProbeMax)
        val truth = Similarity.bruteForceTopK(vecs, probes, TopK)
          .select(col("probe_id"), col("neighbor_id"))
        val approx = Similarity.binarySignTopK(vecs, probes,
            shortlist = Shortlist, k = TopK)
          .select(col("probe_id"), col("neighbor_id"), lit(1L).as("hit"))
        truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
          .groupBy("probe_id")
          .agg(count(col("hit")).as("n_hits"))
          .select(col("probe_id"), col("n_hits"),
            (col("n_hits").cast("double") / TopK).as("recall"))
          .orderBy("probe_id")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        coarse AS (
          SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 -len(list_filter(range(1, ${Dims + 1}),
                   i -> (p.v[i] >= 0) <> (c.v[i] >= 0))) AS coarse
          FROM e p JOIN e c ON c.vec_id != p.vec_id
          WHERE p.vec_id < $ProbeMax),
        short AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, neighbor_id,
                   row_number() OVER (PARTITION BY probe_id
                     ORDER BY coarse DESC, neighbor_id) AS rr
            FROM coarse)
          WHERE rr <= $Shortlist),
        bink AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT s.probe_id, s.neighbor_id,
                   row_number() OVER (PARTITION BY s.probe_id
                     ORDER BY ${cosSql("p", "c")} DESC, s.neighbor_id) AS rank
            FROM short s
            JOIN e p ON p.vec_id = s.probe_id
            JOIN e c ON c.vec_id = s.neighbor_id)
          WHERE rank <= $TopK),
        bf AS (
          SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${cosSql("p", "c")} DESC, c.vec_id) AS rank
            FROM e p JOIN e c ON c.vec_id != p.vec_id
            WHERE p.vec_id < $ProbeMax)
          WHERE rank <= $TopK)
        SELECT bf.probe_id, COUNT(i.neighbor_id)::BIGINT AS n_hits,
               COUNT(i.neighbor_id)::DOUBLE / $TopK AS recall
        FROM bf LEFT JOIN bink i
          ON bf.probe_id = i.probe_id AND bf.neighbor_id = i.neighbor_id
        GROUP BY bf.probe_id
        ORDER BY bf.probe_id
      """.trim),
    ),
  )
}
