package benchharness

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-scope execution counters, filled from Spark's listener bus.
  *
  * A scope is one timed operation (a stage of a batch workload, or one
  * replayed page request). The operation's thread sets the local property
  * [[Trace.ScopeKey]] before calling into the engine; Spark copies local
  * properties into every job the thread submits, so each job, its stages
  * and its tasks land in the right scope even when several clients run at
  * once. Jobs without the property land in "server": the HTTP handler
  * threads serving pages, and the serving set-up's index builds. */
final class ScopeStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var runMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  /** (job submit time in epoch ms, its wait for the first task in ms) */
  val schedWaitMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

final class Trace extends SparkListener {
  private val scopes = new ConcurrentHashMap[String, ScopeStats]()
  private val jobScope = new ConcurrentHashMap[Integer, String]()
  private val jobSubmit = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val callbackNs = new AtomicLong

  /** Wall time spent inside this listener's callbacks — the direct cost
    * of tracing on the listener-bus thread. */
  def callbackMs: Double = callbackNs.get / 1e6

  def stats(scope: String): ScopeStats =
    scopes.computeIfAbsent(scope, _ => new ScopeStats)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.ScopeKey)))
      .getOrElse("server")
    jobScope.put(e.jobId, scope)
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val s = stats(scope)
    s.synchronized { s.jobs += 1; s.stages += e.stageIds.size }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
    val job = stageJob.get(e.stageId)
    if (job != null) {
      // the first task launch of a job ends its scheduling wait
      val submitted = jobSubmit.remove(job)
      if (submitted != null) {
        val s = stats(jobScope.getOrDefault(job, "server"))
        s.synchronized {
          s.schedWaitMs += ((submitted, math.max(0L, e.taskInfo.launchTime - submitted)))
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val job = stageJob.get(e.stageId)
    val scope =
      if (job == null) "server"
      else jobScope.getOrDefault(job, "server")
    val m = e.taskMetrics
    val s = stats(scope)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.outputRecords += m.outputMetrics.recordsWritten
        s.runMs += m.executorRunTime
        s.taskMs += m.executorRunTime
      }
    }
  }
}

object Trace {
  val ScopeKey = "bench.scope"

  /** Run `f` with this thread's jobs attributed to `scope`. */
  def inScope[A](sc: SparkContext, scope: String)(f: => A): A = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try f finally sc.setLocalProperty(ScopeKey, prev)
  }

  /** Codegen compile count and mean compile time so far, from Spark's
    * CodegenMetrics histogram. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Compiles since `from`, and their approximate total time in ms (the
    * count is exact; the time is the count times the histogram's mean). */
  def codegenSince(from: (Long, Double)): (Double, Double) = {
    val (n, mean) = codegen()
    val d = (n - from._1).toDouble
    (d, d * mean)
  }
}
