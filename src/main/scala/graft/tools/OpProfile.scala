package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.PersistBridge

/** Scratch profiler (r20 optimization round; not part of the library
  * surface): run registry queries through the noop sink and report
  *   - wall seconds per run (two runs; min is the noise-floor estimate),
  *     split into build (the registry builder call, eager staging and
  *     checkpoints included) and plan (analysis, optimization and
  *     physical planning of the final frame); the rest is execution,
  *   - total shuffle read/write bytes from task metrics,
  *   - a per-JOB wall breakdown (eager builder work — staging writes,
  *     checkpoint rounds — shows up as its own jobs, invisible in any
  *     single plan),
  *   - the executed (post-AQE) plan tree annotated with each operator's
  *     non-zero SQL metric values (rows, bytes, build/sort/fetch times).
  *
  * {{{ SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.OpProfile <sfDir> q1,q2 [--plan]" }}}
  */
object OpProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val showPlan = args.contains("--plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, desc) =>
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec >= 0.05)
            jobRows.add(f"      job ${j.jobId}%4d ${sec}%7.2f s  $desc")
        }
      }
    })

    // warmup: table footers + codegen infra, mirrors Bench
    Seq("documents", "orders", "lineitem").foreach { t =>
      graft.queries.Registry.table(spark, sfDir, t).count()
    }

    def metricsOf(p: SparkPlan): String =
      p.metrics.toSeq
        .map { case (k, m) => (k, m.value) }
        .filter { case (_, v) => v > 0 }
        .sortBy(-_._2)
        .take(6)
        .map { case (k, v) => s"$k=$v" }
        .mkString(", ")

    def walk(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
      sb.append("  " * depth).append(p.nodeName)
      val m = metricsOf(p)
      if (m.nonEmpty) sb.append("  [").append(m).append("]")
      sb.append('\n')
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, sb)
        case q: QueryStageExec => walk(q.plan, depth + 1, sb)
        case r: ReusedExchangeExec => walk(r.child, depth + 1, sb)
        case _ => p.children.foreach(walk(_, depth + 1, sb))
      }
    }

    names.foreach { name =>
      graft.queries.Registry.queries.get(name) match {
        case None => println(s"[opprofile] unknown query: $name")
        case Some(fn) =>
          val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
          (1 to reps).foreach { i =>
            PersistBridge.releaseAll(spark.sparkContext)
            jobRows.clear()
            shuffleWrite.set(0); shuffleRead.set(0)
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan // force planning
            val t2 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            Thread.sleep(1500) // listener bus drain
            println(f"[opprofile] $name%-28s run$i ${sec}%7.2f s " +
              f"(build ${(t1 - t0) / 1e9}%5.2f plan ${(t2 - t1) / 1e9}%5.2f) " +
              f"shufW=${shuffleWrite.get / 1e6}%8.1fMB shufR=${shuffleRead.get / 1e6}%8.1fMB")
            val rows = jobRows.toArray(Array.empty[String])
            if (rows.length > 1 && i == reps) rows.foreach(println)
          }
          if (showPlan) {
            // the noop write above runs its own QueryExecution, so the
            // captured df plan never executed and its metrics are zero;
            // run the captured plan itself once and read ITS metrics
            PersistBridge.releaseAll(spark.sparkContext)
            val df = fn(spark, sfDir)
            val ep = df.queryExecution.executedPlan
            val t0 = System.nanoTime()
            ep.execute().foreachPartition(
              (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
                it.foreach(_ => ()))
            println(f"[opprofile] $name metrics pass ${(System.nanoTime() - t0) / 1e9}%7.2f s")
            Thread.sleep(1500)
            val sb = new StringBuilder
            walk(ep, 1, sb)
            println(s"[opprofile] $name executed plan + metrics:")
            println(sb.result())
          }
      }
    }
    spark.stop()
  }
}
