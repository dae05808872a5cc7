package graft.tools

/** Batch plan dumper for the optimization-round evidence files: writes
  * `<outDir>/<query>_<suffix>.txt` with the formatted physical plan of
  * each named registry query, one JVM for the whole batch.
  *
  * {{{ sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> q1,q2,..." }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4 && !args.take(4).exists(_.startsWith("--")),
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...> [--exec]")
    val Array(sfDir, outDir, suffix, nameCsv) = args.take(4)
    val names = nameCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    // --exec: let the builder run its materialization points (staging
    // writes, checkpoints) and dump the REAL final-frame plan — the
    // right evidence when the optimization is a materialization cut
    // (plan-only mode no-ops materialize(), so it would keep showing
    // the full unmaterialized lineage on both sides of the change).
    // Default (plan-only) mode shows the FULL unmaterialized lineage;
    // note that builders' eager actions (staging writes, counts) still
    // execute, and they run WITHOUT their checkpoints in that mode —
    // fine at the small benched SFs this tool targets, unbounded at
    // soak scale (Iterative.planOnly's contract): use --exec there.
    val exec = args.contains("--exec")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.queries.Registry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          // plan-only: skip the eager checkpoint/staging work inside
          // builders — the dump wants the plan, not a timed run
          def fmt = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val plan =
            try { if (exec) fmt else graft.ops.Iterative.planOnly(fmt) }
            catch { case e: Throwable => s"[plandump] $name failed: $e" }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
