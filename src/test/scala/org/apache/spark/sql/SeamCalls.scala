package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.util.LongAccumulator

/** The decoder behind a `graft.ops.Seam.rows` frame, reached through its
  * analyzed plan: the Scala UDFs named `name`. */
object SeamCalls {
  private def udfs(df: DataFrame, name: String): Seq[ScalaUDF] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF if u.udfName.contains(name) => u
    }))

  /** The one decoder function of `df`. */
  def function(df: DataFrame, name: String): Any => Any = {
    val fs = udfs(df, name)
    require(fs.size == 1, s"expected one $name call, found ${fs.size}")
    fs.head.function.asInstanceOf[Any => Any]
  }

  /** `df` re-planned from its analyzed plan with each decoder adding one
    * to `calls` per call, so the optimizer sees the same plan shape. */
  def counted(df: DataFrame, name: String, calls: LongAccumulator): DataFrame = {
    val plan = df.queryExecution.analyzed.transformAllExpressions {
      case u: ScalaUDF if u.udfName.contains(name) =>
        val f = u.function.asInstanceOf[Any => Any]
        u.copy(function = (x: Any) => { calls.add(1); f(x) })
    }
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
  }
}
