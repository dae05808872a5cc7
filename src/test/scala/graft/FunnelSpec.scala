package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SeamCalls, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Seam
import graft.queries.Registry

/** The per-document stages on every core: under the engine's SQL
  * settings on 4 cores, each query's one exchange is the [[Seam.spread]]
  * of its `documents` read, so the final sort on doc_id reuses it and
  * the stage that runs the per-row work has one task per core. */
class FunnelSpec extends AnyFunSuite with SparkSuite {

  private object AQE extends AdaptiveSparkPlanHelper

  private lazy val engine: SparkSession = {
    val s = spark.newSession()
    GraftSession.sqlConf(4).foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Collects `df`; returns its row count and the task count of each
    * stage that read a shuffle. */
  private def postShuffleTasks(df: DataFrame): (Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.parentIds.nonEmpty) tasks.add(e.stageInfo.numTasks)
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val rows = try { val n = df.collect().length; ListenerDrain(sc); n }
      finally sc.removeSparkListener(listener)
    (rows, tasks.toArray.toSeq.map(_.asInstanceOf[Int]))
  }

  for (name <- Seq("m38_webp_container", "m39_doc_text", "m11_jpeg_pixels",
      "x10_link_extract")) test(s"$name: one range exchange on doc_id, 4 decode tasks") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val calls = spark.sparkContext.longAccumulator
    val df = SeamCalls.counted(Registry.queries(name)(engine, sfDir), Seam.UdfName, calls)
    val (rows, tasks) = postShuffleTasks(df)
    assert(tasks == Seq(4))
    val exchanges = AQE.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, df.queryExecution.executedPlan)
    val e = exchanges.head
    assert(e.shuffleOrigin == REPARTITION_BY_NUM)
    e.outputPartitioning match {
      case RangePartitioning(Seq(o), 4) =>
        assert(o.child.asInstanceOf[Attribute].name == "doc_id")
      case p => fail(s"not a 4-way range on doc_id: $p")
    }
    // each decoder ran once per document (x10 has no decoder)
    val docs = Registry.table(spark, sfDir, "documents").count()
    assert(calls.value == (if (name.startsWith("m")) docs else 0L))
    assert(rows > 0)
  }
}
