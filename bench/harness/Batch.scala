package benchharness

import org.apache.spark.BenchBus

import graft.queries.Registry

/** The two batch workloads: one client runs a fixed list of registry
  * queries ("stages") once each, in order, in a fresh process. Each stage
  * is built (`Registry.queries(name)(spark, dir)`), planned
  * (`queryExecution.executedPlan`) and run to completion; every output row
  * is folded into an order-insensitive digest, which the launcher checks
  * against the digest pinned for that stage. Nothing is released between
  * stages, so the lifecycle counters show what each stage leaves behind. */
object Batch {
  /** Crawl-DB merge, link graph, rank, near-dup clusters, list generation
    * and stats: the operator layer (shuffles, window merges, iterative
    * loops) does nearly all the work. */
  val CrawlCycle = Seq("c1_crawldb_merge", "c2_crawldb_incremental",
    "c3_merged_linkgraph", "g4_domain_rank", "g5_pagerank",
    "d5_dedupe_clusters", "lg2_bundles", "st1_hourly_stats")

  /** Archive writers/readers (WARC, ARC, zstd) and the byte-level parsers. */
  val Ingest = Seq("s10_warc_roundtrip", "s2_arc_roundtrip",
    "s29_warc_zstd_roundtrip", "s32_content_encoding",
    "s13_http_header_stats", "s15_cdx_index", "x10_link_extract",
    "g7_raw_html_linkgraph", "m39_doc_text", "m38_webp_container",
    "m11_jpeg_pixels")

  def run(ctx: Ctx, stages: Seq[String]): Result = {
    val setupS = ctx.sinceLaunch
    val t0 = System.nanoTime()
    val results = stages.map(stage(ctx, _))
    val windowS = Main.ms(t0, System.nanoTime()) / 1e3
    val memory = Memory.now()
    val ops = results.map(_._1)
    val perStage = results.collect { case (op, Some(l)) => op.name -> l }.toMap
    val layers = ctx.trace.map { tr =>
      val all = Layers.of(tr, stages.flatMap(s => Seq(s, s"build:$s")),
        ops.map(_.ms).sum, ctx.cores)
      def total(k: String) = perStage.values.map(_(k)).sum
      val last = perStage(stages.last)
      all ++= Seq(
        "build_ms" -> total("build_ms"),
        "build_jobs" -> total("build_jobs"),
        "plan_ms" -> total("plan_ms"),
        "codegen_ms" -> total("codegen_ms"),
        "codegen_compiles" -> total("codegen_compiles"),
        "exec_ms" -> total("exec_ms"),
        "persisted_rdds_after" -> last("persisted_rdds_after"),
        "cache_entries_after" -> last("cache_entries_after"),
        "staging_dirs_created" -> total("staging_dirs_created"))
      all ++= ops.map(o => s"stage_ms.${o.name}" -> o.ms)
      all.toMap
    }.getOrElse(Map.empty)
    Result(setupS, windowS, memory, ops, layers, Map("stage_layers" -> perStage))
  }

  private def stagingDirs(): Int =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .map(_.count(_.startsWith("graft-"))).getOrElse(0)

  private def stage(ctx: Ctx, name: String): (Op, Option[Map[String, Double]]) = {
    val spark = ctx.spark
    val staged0 = stagingDirs()
    val codegen0 = Trace.codegen()
    var buildMs, planMs = 0.0
    val t0 = System.nanoTime()
    val res = Main.attempt {
      val df = Trace.inScope(ctx.sc, s"build:$name") {
        Registry.queries(name)(spark, ctx.sf)
      }
      val t1 = System.nanoTime()
      buildMs = Main.ms(t0, t1)
      Trace.inScope(ctx.sc, name) {
        val plan = df.queryExecution.executedPlan
        planMs = Main.ms(t1, System.nanoTime())
        RowHash.run(plan, df.schema)
      }
    }
    val wallMs = Main.ms(t0, System.nanoTime())
    val op = res match {
      case Right(d) => Op("stage", name, wallMs, ok = true, d.rows, d.hex)
      case Left(err) => Op("stage", name, wallMs, ok = false, error = err)
    }
    val layers = ctx.trace.map { tr =>
      BenchBus.drain(ctx.sc)
      val (compiles, codegenMs) = Trace.codegenSince(codegen0)
      val l = Layers.of(tr, Seq(name, s"build:$name"), wallMs, ctx.cores)
      l ++= Seq(
        "wall_ms" -> wallMs,
        "build_ms" -> buildMs,
        "build_jobs" -> tr.stats(s"build:$name").jobs.toDouble,
        "plan_ms" -> planMs,
        "codegen_ms" -> codegenMs,
        "codegen_compiles" -> compiles,
        "exec_ms" -> (wallMs - buildMs - planMs),
        "persisted_rdds_after" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
        "cache_entries_after" -> org.apache.spark.sql.BenchCache.entries(spark).toDouble,
        "staging_dirs_created" -> (stagingDirs() - staged0).toDouble)
      l.toMap
    }
    (op, layers)
  }
}
