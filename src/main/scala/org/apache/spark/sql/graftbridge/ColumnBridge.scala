package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so third-party native expressions need this one-hop shim in
  * the `org.apache.spark.sql` namespace (the conventional extension
  * pattern) to wrap a Catalyst `Expression` into a user-facing
  * `Column`. The one other internal it touches is [[freeRdd]]. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression builder on an ALREADY-BUILT session
    * (`sessionState` is private[sql]). New sessions should prefer
    * `spark.sql.extensions=graft.GraftExtensions`, which needs no
    * internals; this hook exists for sessions the caller didn't build. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Drop a stored RDD's blocks without waiting: the call RDD's own
    * unpersist makes (`unpersistRDD` is `private[spark]`), minus the WARN
    * it logs on every call for a locally checkpointed RDD. */
  def freeRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
