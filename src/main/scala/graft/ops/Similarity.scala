package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`) — LLM-pipeline extension.
  *
  * Baseline: brute-force cosine top-k (exact, one shuffle for the
  * partitioned cross join). Scale path: LSH bucketing by random-hyperplane
  * signs (SimHash over the embedding) so candidate sets shrink by ~2^bits;
  * at 100 TB the probe side broadcasts and the corpus is scanned once per
  * probe batch, bucket-pruned.
  *
  * Float discipline: all arithmetic is sequential double accumulation
  * (aggregate over zip_with), which is bit-identical to the DuckDB oracle's
  * list comprehension + list_sum.
  */
object Similarity {

  /** Sequential-order dot product of two double-array columns — a native
    * codegen expression whose left-to-right fold is bit-identical to the
    * aggregate(zip_with) formulation below (and to the oracle's
    * list_sum). */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.dotSeq(a, b)

  /** Built-in-functions formulation of [[dot]] (cross-check). */
  def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm (sqrt is correctly rounded per IEEE — portable). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Vectors table normalized to (vec_id, v: array<double>). */
  def vectors(df: DataFrame, id: String, emb: String): DataFrame =
    df.select(col(id).as("vec_id"), col(emb).cast("array<double>").as("v"))

  /** Exact brute-force cosine top-k neighbors for each probe vector.
    * Probes are expected to be few → broadcast them; the corpus is
    * scanned once, and the per-probe top-k is a bounded window. */
  def bruteForceTopK(
      corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val joined = corpus.as("c")
      .join(broadcast(probes.as("p")), col("p.vec_id") =!= col("c.vec_id"))
      .select(
        col("p.vec_id").as("probe_id"),
        col("c.vec_id").as("neighbor_id"),
        cosine(col("p.v"), col("c.v")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Two-stage retrieval: COARSE scoring on the first `prefixDims`
    * dimensions shortlists `shortlist` candidates per probe, then an
    * exact-cosine RERANK over the shortlist returns the top `k` — the
    * truncated-dimension (matryoshka) search pattern. At a billion
    * vectors this is the memory-bandwidth lever: the coarse pass touches
    * prefixDims/dims of every vector's bytes (an 8-of-64 prefix is an 8×
    * scan-traffic cut — and with a column-split vector layout, 8× less
    * I/O), while full vectors are read only for the O(probes × shortlist)
    * survivors. The shortlist is selected by [[TopK]]'s bounded heap —
    * each mapper ships ≤shortlist rows per probe into the shuffle, no
    * per-probe window sort of the whole corpus — and the rerank's window
    * runs over ≤shortlist rows per probe by construction. */
  def truncatedRerankTopK(corpus: DataFrame, probes: DataFrame,
      prefixDims: Int, shortlist: Int, k: Int): DataFrame = {
    val coarse = corpus.as("c")
      .join(broadcast(probes.as("p")), col("p.vec_id") =!= col("c.vec_id"))
      .select(
        col("p.vec_id").as("probe_id"),
        col("c.vec_id").as("neighbor_id"),
        dot(slice(col("p.v"), 1, prefixDims), slice(col("c.v"), 1, prefixDims))
          .as("coarse"))
    shortlistRerank(coarse, probes, corpus, shortlist, k)
  }

  /** The two-stage tail shared by every coarse-scoring layout (ss12's
    * in-memory prefix slice, ss13's column-split scan): shortlist by
    * coarse score through the bounded heap (≤`shortlist` rows per probe
    * per mapper — never a corpus-wide per-probe window), then
    * exact-cosine rerank of the survivors with the (cos desc,
    * neighbor_id) tie-break the shared DuckDB oracle replays. Keeping
    * the rank semantics in ONE place is what keeps ss12 and ss13
    * hash-identical under the same oracle.
    *
    * `coarse` = (probe_id, neighbor_id, coarse); `probes`/`corpus` =
    * (vec_id, v) with v the FULL vector. */
  def shortlistRerank(coarse: DataFrame, probes: DataFrame, corpus: DataFrame,
      shortlist: Int, k: Int): DataFrame = {
    val short = coarse.groupBy(col("probe_id"))
      .agg(TopK.topScored(shortlist)(col("coarse"), col("neighbor_id")).as("ss"))
      .select(col("probe_id"), explode(col("ss")).as("s"))
      .select(col("probe_id"), col("s.key").as("neighbor_id"))
    val cand = short
      .join(broadcast(probes.select(col("vec_id").as("probe_id"), col("v").as("pv"))),
        "probe_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        cosine(col("pv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic argbest ordinal: monotone in (cos, -tiebreak) as a
    * single BIGINT, so max_by has identical semantics in any engine
    * (struct-ordering max_by support varies). floor of double is exact
    * and portable; tiebreak must be < 100000. */
  private def cosOrd(cos: Column, tiebreak: Column): Column =
    floor(cos * 1e12).cast("long") * 100000L - tiebreak

  /** IVF-style ANN with a sampled codebook: the cells are the Voronoi
    * regions of `nSeeds` FIXED existing vectors (ids < nSeeds) — a
    * deterministic stand-in for k-means centroids that keeps every step
    * exactly reproducible (centroid averaging would make float summation
    * order observable). Index: each vector is assigned to its nearest
    * seed (one broadcast join + argbest). Search: each probe scans only
    * its `nProbeCells` nearest cells (the standard IVF nprobe knob) and
    * ranks candidates by exact cosine. At scale: codebook ~ √n keeps
    * cells O(√n); the seed table broadcasts; one shuffle on cell id. */
  def ivfTopK(df: DataFrame, id: String, emb: String,
      nSeeds: Int, nProbeCells: Int, probeMax: Long, k: Int): DataFrame = {
    val v = vectors(df, id, emb).transform(Iterative.materialize)
    val seeds = broadcast(
      v.filter(col("vec_id") < nSeeds)
        .select(col("vec_id").as("seed_id"), col("v").as("sv")))
    ivfSearch(
      ivfProbeCells(v.filter(col("vec_id") < probeMax), seeds, nProbeCells),
      ivfAssign(v, seeds), k)
  }

  /** The IVF index relation: (vec_id, cell, v) — every vector's
    * nearest-seed cell with the vector as payload. Grouped by vec_id
    * ALONE — the raw 64-dim vector must not be part of the shuffle key
    * (hashing and comparing 512-byte keys); it rides inside the max_by
    * struct instead. Shared by the in-memory and persistent paths so
    * both index identically. */
  private def ivfAssign(v: DataFrame, seeds: DataFrame): DataFrame =
    v.join(seeds)
      .select(col("vec_id"), col("v"),
        col("seed_id"), cosOrd(cosine(col("v"), col("sv")), col("seed_id")).as("ord"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("seed_id").as("cell"), col("v")), col("ord")).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("best.v").as("v"))

  /** Probe plan: the `nProbeCells` nearest cells per probe vector. */
  private def ivfProbeCells(probes: DataFrame, seeds: DataFrame,
      nProbeCells: Int): DataFrame =
    probes.join(seeds)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("seed_id"), cosine(col("v"), col("sv")).as("scos"))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("scos").desc, col("seed_id"))))
      .filter(col("cell_rank") <= nProbeCells)
      .select(col("probe_id"), col("pv"), col("seed_id").as("cell"))

  /** Search: exact cosine within the probed cells, per-probe top-k. */
  private def ivfSearch(probeCells: DataFrame, assigned: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probeCells.join(assigned, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Persist the IVF index: the seed codebook as a plain table (tiny —
    * readers broadcast it) and the cell-assigned vectors bucketed by
    * `cell`, so probe searches join the corpus side with no shuffle —
    * the vector-index twin of Dedupe.writeBandedIndex. Built once per
    * corpus; probes never recompute assignments. */
  def writeIvfIndex(df: DataFrame, id: String, emb: String,
      table: String, path: String, nSeeds: Int, buckets: Int = 16): Unit = {
    val v = vectors(df, id, emb).transform(Iterative.materialize)
    val seeds = v.filter(col("vec_id") < nSeeds)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    seeds.write.mode("overwrite").option("path", s"$path/seeds")
      .format("parquet").saveAsTable(s"${table}_seeds")
    graft.sources.Sinks.writeBucketedAt(ivfAssign(v, broadcast(seeds)),
      s"${table}_cells", "cell", buckets, s"$path/cells")
    // stamp the signature parameters: the append path validates against
    // them (the codebook itself travels in the _seeds table)
    graft.sources.Sinks.setTableParams(df.sparkSession, s"${table}_cells",
      Map("nSeeds" -> nSeeds.toString, "buckets" -> buckets.toString))
  }

  /** Fold new vectors into an existing [[writeIvfIndex]] index — the
    * ingest path: assign each new vector to its nearest cell of the
    * EXISTING codebook (centroids stay fixed between rebuilds, the
    * standard IVF maintenance contract) and append per bucket, so probe
    * joins keep their shuffle-free corpus side. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, batch: DataFrame, id: String, emb: String,
      buckets: Int = 16): Unit = {
    graft.sources.Sinks.requireTableParams(spark, s"${table}_cells",
      Map("buckets" -> buckets.toString))
    val seeds = broadcast(spark.table(s"${table}_seeds"))
    graft.sources.Sinks.appendBucketed(
      ivfAssign(vectors(batch, id, emb).transform(Iterative.materialize), seeds),
      s"${table}_cells", "cell", buckets)
  }

  /** ANN search against a [[writeIvfIndex]] index: same results as
    * [[ivfTopK]] with the same parameters (SimilaritySpec proves it);
    * the index is only ever read. `probes` = (vec_id, v) rows. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      probes: DataFrame, nProbeCells: Int, k: Int): DataFrame = {
    // appends may come from another session (e.g. a foreachBatch clone;
    // saveAsTable-append only invalidates the writer's own relation
    // cache) — refresh the cells listing so probes see appended vectors
    spark.catalog.refreshTable(s"${table}_cells")
    val seeds = broadcast(spark.table(s"${table}_seeds"))
    ivfSearch(ivfProbeCells(probes, seeds, nProbeCells),
      spark.table(s"${table}_cells"), k)
  }

  /** Symmetric per-vector int8 quantization: q_i = floor(v_i/m·127 + 0.5)
    * with m = max|v_i| (all-zero vectors quantize to zeros). Quantized
    * values are integral and ≤ 127 in magnitude, so they (and their
    * ≤ 127²·dims dot products) are EXACT in doubles — quantized cosine is
    * bit-identical in any engine, no float-summation discipline needed.
    * The per-vector scale cancels in the cosine ratio, so it isn't kept.
    *
    * This is the 100 TB bandwidth play: int8 vectors are 4× smaller than
    * float32 (8× smaller than the double form), so a corpus scan moves ¼
    * the bytes and SIMD int8 dot products quadruple per-core throughput;
    * recall loss is bounded by the ~0.4%-of-range rounding error. */
  def quantize(v: Column): Column =
    Dedupe.bindOnce(array_max(transform(v, x => abs(x)))) { m =>
      transform(v, x =>
        when(m === 0.0, 0.0).otherwise(floor(x / m * 127.0 + 0.5)))
    }

  /** Brute-force top-k by QUANTIZED cosine: same shape as
    * [[bruteForceTopK]] but both sides project through [[quantize]] once
    * before the join, so the candidate scan runs on int8-ranged values. */
  def quantizedTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    def q(df: DataFrame) = df.select(col("vec_id"), quantize(col("v")).as("qv"))
    val joined = q(corpus).as("c")
      .join(broadcast(q(probes).as("p")), col("p.vec_id") =!= col("c.vec_id"))
      .select(
        col("p.vec_id").as("probe_id"),
        col("c.vec_id").as("neighbor_id"),
        cosine(col("p.qv"), col("c.qv")).as("qcos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    joined
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** 1-BIT (sign) binary quantization ANN: every corpus vector collapses
    * to its 64 SIGN BITS packed as two 32-bit halves in BIGINTs; the
    * coarse pass ranks candidates by Hamming distance (XOR + popcount —
    * integer-exact, no float discipline) through the bounded-heap
    * shortlist, then [[shortlistRerank]]'s exact-cosine rerank scores
    * the survivors. The 100 TB story is the extreme end of ss5's
    * bandwidth play: 1 bit/dim is a 32× scan-traffic cut vs float32
    * (sign-concordance Hamming approximates angle for zero-centered
    * embeddings), and XOR+POPCNT runs at memory speed — full vectors
    * are touched only for the O(probes × shortlist) survivors. */
  def binarySignTopK(corpus: DataFrame, probes: DataFrame,
      shortlist: Int, k: Int): DataFrame = {
    def half(from: Int): String =
      s"aggregate(zip_with(slice(v, ${from + 1}, 32), sequence(0, 31), " +
        "(x, i) -> IF(x >= 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a | b)"
    def packed(df: DataFrame) = df.select(col("vec_id"),
      expr(half(0)).as("b_lo"), expr(half(32)).as("b_hi"))
    val coarse = packed(corpus).as("c")
      .join(broadcast(packed(probes).as("p")),
        col("p.vec_id") =!= col("c.vec_id"))
      .select(
        col("p.vec_id").as("probe_id"),
        col("c.vec_id").as("neighbor_id"),
        // negative hamming: topScored ranks score DESC ⇒ hamming ASC
        (-(bit_count(col("p.b_lo").bitwiseXOR(col("c.b_lo"))) +
          bit_count(col("p.b_hi").bitwiseXOR(col("c.b_hi"))))
          .cast("double")).as("coarse"))
    shortlistRerank(coarse, probes, corpus, shortlist, k)
  }

  /** Deterministic argbest ordinal over a QUANTIZED cosine (see
    * [[ivfTopK]]'s cosOrd): exact input ⇒ exact floor ⇒ portable max_by. */
  private def qOrd(qcos: Column, tiebreak: Column): Column =
    floor(qcos * lit(1e12)).cast("long") * 100000L - tiebreak

  /** IVF ANN with a K-MEANS-REFINED codebook, everything in the quantized
    * integer domain so even the codebook LEARNING is exactly replayable in
    * any engine:
    *
    *  1. quantize all vectors ([[quantize]] — integral doubles);
    *  2. seed centroids = the first `nSeeds` quantized vectors (as
    *     [[ivfTopK]]);
    *  3. one Lloyd step: assign each vector to its nearest seed by
    *     quantized cosine, then recompute each cell's centroid as the
    *     per-dimension rounded mean floor(sum/count + 0.5) — sums of
    *     int8-ranged values are exact in doubles, the rounded mean is one
    *     portable float op, so the refined codebook is bit-identical
    *     everywhere (true k-means' running float means would make
    *     summation order observable);
    *  4. re-assign vectors to the refined centroids, probe the
    *     `nProbeCells` nearest refined cells per probe, rank candidates by
    *     quantized cosine.
    *
    * Scale shape: both assignment passes shuffle on `vec_id` alone (the
    * vector rides inside max_by); the Lloyd step is one posexplode (×dims)
    * + two aggregations over (cell, dim) — cheap, since the output is the
    * codebook, O(√n·dims); the codebook broadcasts in both ranking joins. */
  def ivfKmeansTopK(df: DataFrame, id: String, emb: String,
      nSeeds: Int, nProbeCells: Int, probeMax: Long, k: Int): DataFrame = {
    val q = vectors(df, id, emb)
      .select(col("vec_id"), quantize(col("v")).as("qv"))
      .transform(Iterative.materialize)
    val seeds = broadcast(
      q.filter(col("vec_id") < nSeeds)
        .select(col("vec_id").as("seed_id"), col("qv").as("sv")))

    def assignTo(centroids: DataFrame): DataFrame = q.join(centroids)
      .select(col("vec_id"), col("qv"), col("seed_id"),
        qOrd(cosine(col("qv"), col("sv")), col("seed_id")).as("ord"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("seed_id").as("cell"), col("qv")), col("ord")).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("best.qv").as("qv"))

    // one Lloyd step: rounded integer mean per (cell, dimension)
    val refined = broadcast(assignTo(seeds)
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg((floor(sum(col("x")) / count(lit(1)) + 0.5)).cast("double").as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("sv"))
      .select(col("cell").as("seed_id"), col("sv")))

    val assigned = assignTo(refined)
    val probeCells = q.filter(col("vec_id") < probeMax).join(refined)
      .select(col("vec_id").as("probe_id"), col("qv").as("pqv"),
        col("seed_id"), cosine(col("qv"), col("sv")).as("scos"))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("scos").desc, col("seed_id"))))
      .filter(col("cell_rank") <= nProbeCells)
      .select(col("probe_id"), col("pqv"), col("seed_id").as("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    probeCells.join(assigned, "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pqv"), col("qv")).as("qcos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** SemDeDup-style semantic dedupe (Abbas et al. 2023,
    * arXiv:2303.09540): duplicates that share no bytes but say the same
    * thing are found by embedding similarity, with a codebook bounding
    * the candidate space — assign every vector to its nearest-seed cell,
    * then compare pairs ONLY within a cell; a vector is dropped when a
    * lower-id cellmate sits above the cosine threshold (so the lowest id
    * of every dominance chain survives — deterministic, no float
    * argmin-over-centroid-distance tie ambiguity). Everything runs in
    * the quantized integer domain ([[quantize]]), so cell assignment AND
    * the pairwise verdicts are exactly replayable in any engine.
    * Returns one row per vector: (vec_id, cell, kept).
    *
    * Scale shape: assignment shuffles on vec_id alone (the vector rides
    * inside max_by; the seed codebook broadcasts); the pairwise stage is
    * ONE shuffle on the cell id, and cells hold O(n/nSeeds) vectors —
    * the codebook size is the paper's own lever for keeping the
    * quadratic term bounded (√n here; ~10⁵ cells at corpus scale), so
    * no task ever sees more than a cell. */
  /** Quantized nearest-seed cell assignment (the d14/ss6 `a0` step):
    * codebook = the first `nSeeds` vectors' quantized forms (broadcast),
    * each vector shuffles on vec_id alone with the vector riding inside
    * max_by. Returns (vec_id, cell, qv). */
  def assignCells(df: DataFrame, id: String, emb: String,
      nSeeds: Int): DataFrame = {
    val q = vectors(df, id, emb)
      .select(col("vec_id"), quantize(col("v")).as("qv"))
      .transform(Iterative.materialize)
    val seeds = broadcast(
      q.filter(col("vec_id") < nSeeds)
        .select(col("vec_id").as("seed_id"), col("qv").as("sv")))
    q.join(seeds)
      .select(col("vec_id"), col("qv"), col("seed_id"),
        qOrd(cosine(col("qv"), col("sv")), col("seed_id")).as("ord"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("seed_id").as("cell"), col("qv")), col("ord"))
        .as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("best.qv").as("qv"))
  }

  def semanticDedupe(df: DataFrame, id: String, emb: String,
      nSeeds: Int, threshold: Double): DataFrame = {
    val assigned = assignCells(df, id, emb, nSeeds)
      .transform(Iterative.materialize)
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .where(cosine(col("a.qv"), col("b.qv")) >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("hit").isNull.as("kept"))
  }

  /** Product-quantization ANN with ASYMMETRIC distance scoring (PQ-ADC,
    * Jégou/Douze/Schmid TPAMI 2011 — the codebook layout behind every
    * billion-scale vector index): split each quantized vector into `m`
    * subvectors, learn a per-subspace codebook (seeds = the first `ksub`
    * vectors' subvectors, one Lloyd step), store each vector as just its
    * m codes, and score probe→vector as Σ_s dot(probe_sub_s,
    * centroid[code_s]) — the probe side stays exact (asymmetric), the
    * corpus side is compressed ~dims·4/m bytes → m bytes.
    *
    * Exactness discipline (the ss6 playbook, simplified further): all
    * arithmetic stays in the integer-valued-double domain — codebook
    * assignment by exact integral squared-L2 with the code id packed
    * into the ordinal (base 100000), centroid refresh by the rounded
    * integer mean, ADC scores as exact integral dot sums — so codebook
    * LEARNING, coding and scoring all replay bit-identically in any
    * engine; no floor-of-float-ratio buckets needed anywhere.
    *
    * Scale shape: `subs` shuffles once on (vec_id, s); both assignment
    * passes broadcast the codebook (m·ksub·subDim integers) and reduce
    * by min_by, never shuffling subvectors as keys; the codes table —
    * the thing that exists at corpus scale — carries m SMALL INTEGER
    * codes per vector; the probe LUT (probes × m × ksub dot entries) is
    * the classic ADC lookup table and broadcasts into the scoring join,
    * whose per-row work is one lookup + partial-aggregated sum. */
  def pqAdcTopK(df: DataFrame, id: String, emb: String, dims: Int,
      m: Int, ksub: Int, probeMax: Long, k: Int): DataFrame = {
    val subDim = dims / m
    require(subDim * m == dims, s"dims $dims must split into $m subspaces")
    val q = vectors(df, id, emb)
      .select(col("vec_id"), quantize(col("v")).as("qv"))
    val sliceArr = array((0 until m).map(s =>
      slice(col("qv"), s * subDim + 1, subDim)): _*)
    val subs = q
      .select(col("vec_id"), posexplode(sliceArr).as(Seq("s", "sub")))
      .transform(Iterative.materialize)
    val seeds = broadcast(subs.filter(col("vec_id") < ksub)
      .select(col("s"), col("vec_id").as("code"), col("sub").as("cv")))

    // exact integral squared-L2 — portable (sums of ≤254² terms)
    def l2sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def assignTo(cb: DataFrame): DataFrame = subs.join(cb, "s")
      .select(col("vec_id"), col("s"), col("code"),
        (l2sq(col("sub"), col("cv")) * 100000 + col("code")).cast("long").as("ord"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("code"), col("ord")).as("code"))

    // one Lloyd step: rounded integer mean per (subspace, code, dim)
    val refined = broadcast(assignTo(seeds)
      .join(subs, Seq("vec_id", "s"))
      .select(col("s"), col("code"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy(col("s"), col("code"), col("pos"))
      .agg(floor(sum(col("x")) / count(lit(1)) + 0.5).cast("double").as("c"))
      .groupBy(col("s"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cv")))

    val codes = assignTo(refined) // the compressed corpus: m codes/vector
    val lut = broadcast(subs.filter(col("vec_id") < probeMax).join(refined, "s")
      .select(col("vec_id").as("probe_id"), col("s"), col("code"),
        dot(col("sub"), col("cv")).as("pdot")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dot").desc, col("neighbor_id"))
    codes.join(lut, Seq("s", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pdot")).cast("long").as("adc_dot"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("adc_dot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Max-inner-product top-k via norm augmentation (the published
    * MIPS→cosine reduction of Bachrach et al. 2014 / Shrivastava-Li
    * asymmetric LSH): with M = max‖v‖ over the corpus, augmenting corpus
    * vectors to [v, sqrt(M²−‖v‖²)] (every augmented vector then has norm
    * exactly M) and probes to [q, 0] makes augmented-cosine order equal
    * inner-product order — so the cosine LSH machinery above applies to
    * MIPS unchanged. Candidates come from multi-probe hyperplane buckets
    * over the AUGMENTED dims+1 space; ranking is by the raw inner product
    * of the original vectors.
    *
    * Scale shape: identical to [[multiProbeTopK]] — the max-norm scalar is
    * one tiny aggregate broadcast into the plan, signatures are one linear
    * scan, and the bucket join shuffles (bits+1)·n probe rows. Every float
    * step (sequential dot, one subtraction, IEEE sqrt) is bit-portable, so
    * the oracle replays bucketing exactly. */
  def mipsMultiProbeTopK(df: DataFrame, id: String, emb: String, dims: Int,
      bits: Int, probeMax: Long, k: Int): DataFrame = {
    val base = vectors(df, id, emb)
      .withColumn("nsq", dot(col("v"), col("v")))
    val m2 = broadcast(base.agg(max(col("nsq")).as("m2")))
    val corpus = base.crossJoin(m2)
      .withColumn("av", concat(col("v"), array(sqrt(col("m2") - col("nsq")))))
      .withColumn("sig", hyperplaneSignature(col("av"), dims + 1, bits))
      .select(col("vec_id"), col("v"), col("sig"))
    val probeSigs = array(
      (col("sig") +:
        (0 until bits).map(f => col("sig").bitwiseXOR(lit(1L << f)))): _*)
    val probes = base.filter(col("vec_id") < probeMax)
      .withColumn("av", concat(col("v"), array(lit(0.0))))
      .withColumn("sig", hyperplaneSignature(col("av"), dims + 1, bits))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        explode(probeSigs).as("psig"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    probes
      .join(corpus, col("psig") === col("sig") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        dot(col("pv"), col("v")).as("ip"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Random-hyperplane LSH signature: bit i = sign(dot(v, h_i)) where h_i is
    * a deterministic ±1 hyperplane derived from md5(i ‖ dim) parity — no RNG
    * at plan time, reproducible anywhere (oracle included). */
  /** The deterministic ±1 hyperplane components: h(i)(d) = +1 iff the first
    * hex digit of md5("i:d") is even. Plan-time constants (also embedded as
    * literals in the oracle SQL). */
  def hyperplanes(dims: Int, bits: Int): Array[Array[Double]] =
    Array.tabulate(bits, dims) { (i, d) =>
      val c = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$i:$d").charAt(0)
      if ("02468ace".indexOf(c) >= 0) 1.0 else -1.0
    }

  def hyperplaneSignature(v: Column, dims: Int, bits: Int): Column =
    hyperplaneSignature(v, dims, bits, bitOffset = 0)

  /** Signature bits [bitOffset, bitOffset+bits) of the global hyperplane
    * family. The hyperplane matrix rides along as ONE array literal
    * (typedlit), not bits×dims expression nodes — keeps task binaries small
    * and the projection inside codegen. Projection is a sequential left
    * fold (zip_with + aggregate), bit-matching the oracle's list_sum. */
  def hyperplaneSignature(v: Column, dims: Int, bits: Int, bitOffset: Int): Column = {
    val h = hyperplanes(dims, bits + bitOffset).map(_.toSeq).toSeq
    val hLit = typedlit(h)
    val bitCols = (0 until bits).map { i =>
      val proj = aggregate(
        zip_with(v, element_at(hLit, bitOffset + i + 1), (x, y) => x * y),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Near-duplicate pairs above a cosine threshold via banded hyperplane
    * LSH: `bands` independent signatures of `bitsPerBand` bits each; any
    * shared band makes a candidate pair, verified by exact cosine. Scales
    * as one shuffle per band key instead of the O(n²) cross join; recall
    * is 1-(1-s^b)^bands per the standard LSH curve. */
  def lshNearDupPairs(
      df: DataFrame, id: String, emb: String, dims: Int,
      bands: Int, bitsPerBand: Int, threshold: Double): DataFrame = {
    val v = vectors(df, id, emb)
    val sigs = (0 until bands).map(b =>
      hyperplaneSignature(col("v"), dims, bitsPerBand, bitOffset = b * bitsPerBand))
    val banded = v
      .select(col("vec_id"), col("v"), posexplode(array(sigs: _*)))
      .toDF("vec_id", "v", "band_idx", "sig")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .dropDuplicates("vec_a", "vec_b")
    cand
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Multi-probe ANN: each vector probes its own bucket plus every
    * 1-bit-flip neighbor bucket (bits+1 probes). Multi-probe decouples
    * recall from bucket sparsity, so `bits` can grow with log2(corpus) to
    * keep buckets O(1) — at cos 0.9 with 8 bits, radius-1 probing lifts
    * expected recall from ~0.30 to ~0.69 while candidate volume stays
    * n·(bits+1)·load. One shuffle on the probe signature; a neighbor's
    * fixed signature matches at most one probe, so no pair dedupe is
    * needed. */
  def multiProbeTopK(df: DataFrame, id: String, emb: String, dims: Int,
      bits: Int, k: Int): DataFrame = {
    val v = vectors(df, id, emb)
      .withColumn("sig", hyperplaneSignature(col("v"), dims, bits))
      .transform(Iterative.materialize) // probes and corpus share one materialization
    val probeSigs = array(
      (col("sig") +:
        (0 until bits).map(f => col("sig").bitwiseXOR(lit(1L << f)))): _*)
    val probes = v
      .select(col("vec_id").as("probe_id"), col("v"), explode(probeSigs).as("psig"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.as("a")
      .join(v.as("b"),
        col("psig") === col("b.sig") && col("b.vec_id") =!= col("probe_id"))
      .select(
        col("probe_id"),
        col("b.vec_id").as("neighbor_id"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
