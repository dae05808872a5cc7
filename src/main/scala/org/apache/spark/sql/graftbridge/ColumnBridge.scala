package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these converters
  * `private[sql]`, so extension libraries reach them from inside the
  * `org.apache.spark.sql` package namespace — the standard pattern for
  * Catalyst extension code. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Strict analysis-time input-type check for the graft native
  * expressions. `AbstractDataType`/`sameType` are `private[sql]` in
  * Spark 4, so the check lives here; semantics match `ExpectsInputTypes`
  * with concrete expected types (nullability ignored, no implicit cast —
  * a wrong-typed call fails at analysis, not with a codegen
  * ClassCastException mid-job). */
object TypeCheckBridge {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.DataType

  def check(prettyName: String, expected: Seq[DataType],
      actual: Seq[DataType]): TypeCheckResult = {
    val bad = expected.zip(actual).zipWithIndex.collectFirst {
      case ((want, got), i) if !want.sameType(got) => (i, want, got)
    }
    bad match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some((i, want, got)) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName argument ${i + 1} requires ${want.simpleString}, " +
          s"got ${got.simpleString}")
    }
  }
}

/** The per-query release of cached blocks. `RDD.unpersist` warns that a
  * locally checkpointed RDD "was locally checkpointed, its lineage has
  * been truncated" before it frees the blocks; the engine releases such
  * RDDs only once their query is done, so for them this frees the same
  * blocks through the context (`private[spark]`) without the warning. */
object PersistBridge {
  import org.apache.spark.SparkContext

  /** Frees the blocks of every persisted RDD, without blocking. A
    * materialized checkpoint with no checkpoint file is a local one. */
  def releaseAll(sc: SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach { rdd =>
      if (rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
        sc.unpersistRDD(rdd.id, blocking = false)
      else rdd.unpersist(blocking = false)
    }
}

/** A Scala function over one column, returning a struct. The typed `udf`
  * builders cannot return a `Row`, and the untyped one is disabled in
  * Spark 4, so the expression is built here. */
object UdfBridge {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.expressions.ScalaUDF
  import org.apache.spark.sql.types.StructType

  /** `f(input)` as a non-null struct of `schema`. Nondeterministic, so no
    * optimizer rule copies the call: CollapseProject does not inline it
    * into each field read, and no filter is pushed below it. */
  def struct[A](name: String, schema: StructType, input: Column)(f: A => Row): Column =
    ColumnBridge.column(ScalaUDF(f, schema, Seq(ColumnBridge.expression(input)),
      udfName = Some(name), nullable = false, udfDeterministic = false))
}

/** A copy of a session (`private[sql]`): it starts with the caller's
  * conf, views and UDFs, and a conf set on it stays on it. */
object SessionBridge {
  import org.apache.spark.sql.SparkSession

  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
