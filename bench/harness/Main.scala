package benchharness

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation as the launcher sees it. `ok` is false when the
  * operation failed or its output was wrong, and `wrong` marks the latter.
  * Pages are checked here, against a direct QueryServer read; stage
  * digests are checked by the launcher against their pins. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean,
    rows: Long = -1L, hash: String = "", error: String = "",
    wrong: Boolean = false)

final class Ctx(val spark: SparkSession, val sf: String, val work: String,
    val cores: Int, val seed: Long, val seconds: Double,
    val trace: Option[Trace], val launchedMs: Long) {
  def sc = spark.sparkContext
  /** Seconds from process launch to now: the set-up time when called
    * just before the first timed operation. */
  def sinceLaunch: Double = (System.currentTimeMillis - launchedMs) / 1e3
}

/** `memory` is read when the timed operations end, before any check. */
final case class Result(setupS: Double, windowS: Double, memory: Memory,
    ops: Seq[Op], layers: Map[String, Double], detail: Map[String, Any])

/** `rssMb`: the JVM's peak resident set (VmHWM), which follows the
  * collector's heap sizing. `retainedHeapMb`: the heap still in use after
  * a full collection, i.e. what the program keeps (persisted blocks,
  * caches, memoized artifacts), whatever the collector's sizing. */
final case class Memory(rssMb: Double, retainedHeapMb: Double)

object Memory {
  def now(): Memory = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val rss = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
    // twice: Spark's ContextCleaner frees the broadcast and shuffle blocks
    // of the jobs the first collection found unreachable, in between
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    Memory(rss, heap / 1048576.0)
  }
}

/** Benchmark process for one run of one workload. Drives the engine only
  * through its public entry points (GraftSession, Registry.queries,
  * QueryServer, QueryServerHttp, ResultCache) and writes its raw
  * measurements as one JSON object to `--out`.
  *
  * {{{ java -cp <harness>:<engine classes>:<spark jars> benchharness.Main
  *       --workload crawl_cycle --seed 1 --seconds 20 --trace 0
  *       --sf <tables dir> --work <work dir> --cores 4
  *       --launched-ms <epoch ms> --out result.json }}} */
object Main {
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val work = a("work")
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (a("trace") == "1") {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, a("sf"), work, cores, a("seed").toLong,
      a("seconds").toDouble, trace, a("launched-ms").toLong)
    val sessionS = ctx.sinceLaunch
    val res = workload match {
      case "crawl_cycle" => Batch.run(ctx, Batch.CrawlCycle)
      case "ingest" => Batch.run(ctx, Batch.Ingest)
      case "serve_read" => Serve.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> res.setupS,
      "window_s" -> res.windowS,
      "peak_rss_mb" -> res.memory.rssMb,
      "retained_heap_mb" -> res.memory.retainedHeapMb,
      "ops" -> res.ops.map(o => Map[String, Any]("kind" -> o.kind,
        "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows,
        "hash" -> o.hash, "error" -> o.error, "wrong" -> o.wrong)),
      "layers" -> res.layers,
      "detail" -> res.detail,
      "meta" -> Map[String, Any](
        "spark_version" -> spark.version,
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "session_s" -> sessionS,
        "trace_callback_ms" -> trace.map(_.callbackMs).getOrElse(0.0)))
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json(out).getBytes("UTF-8"))
    spark.stop()
    // QueryServerHttp.stop() leaves the HttpServer's handler pool running
    // on non-daemon threads, which would keep this JVM alive after Spark
    // has stopped; end the process explicitly.
    System.exit(0)
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def errorOf(e: Throwable): String = {
    val m = String.valueOf(e)
    if (m.length > 300) m.take(300) else m
  }

  /** Run `f`, turning a non-fatal failure into Left(message). */
  def attempt[A](f: => A): Either[String, A] =
    try Right(f) catch { case NonFatal(e) => Left(errorOf(e)) }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Layer counters summed over a set of listener scopes. */
object Layers {
  /** `submittedIn` limits the scheduling waits to jobs submitted in that
    * span of epoch ms. */
  def of(trace: Trace, scopes: Seq[String], wallMs: Double, cores: Int,
      submittedIn: (Long, Long) = (Long.MinValue, Long.MaxValue))
      : mutable.LinkedHashMap[String, Double] = {
    val st = scopes.map(trace.stats)
    val tasks = st.flatMap(s => s.synchronized(s.taskMs.toList)).map(_.toDouble)
    val waits = st.flatMap(s => s.synchronized(s.schedWaitMs.toList)).collect {
      case (at, w) if at >= submittedIn._1 && at <= submittedIn._2 => w.toDouble
    }
    def sum(f: ScopeStats => Long): Double = st.map(s => s.synchronized(f(s))).sum.toDouble
    mutable.LinkedHashMap(
      "jobs" -> sum(_.jobs),
      "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks),
      "shuffle_read_bytes" -> sum(_.shuffleRead),
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill),
      "gc_ms" -> sum(_.gcMs),
      "task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.max),
      "task_ms_median" -> Main.median(tasks),
      "core_util" -> (if (wallMs <= 0) 0.0 else sum(_.runMs) / (wallMs * cores)),
      "sched_wait_ms" -> Main.median(waits),
      "sched_wait_max_ms" -> (if (waits.isEmpty) 0.0 else waits.max),
      "input_bytes" -> sum(_.inputBytes),
      "input_records" -> sum(_.inputRecords),
      "output_bytes" -> sum(_.outputBytes),
      "output_records" -> sum(_.outputRecords),
      "bytes_per_record" ->
        (if (sum(_.inputRecords) > 0) sum(_.inputBytes) / sum(_.inputRecords) else 0.0))
  }
}
