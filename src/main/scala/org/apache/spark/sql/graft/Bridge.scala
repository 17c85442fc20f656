/*
 * Bridge into Spark's private[sql] Column internals, placed inside the
 * org.apache.spark.sql package — the standard technique for Spark
 * extension libraries that define custom Catalyst Expressions and need
 * Expression <-> Column conversion under Spark 4's ColumnNode API. It is
 * also the one home for the engine's other Spark-private access.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

object Bridge {
  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Extract the Catalyst Expression backing a Column. */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Register a 1-arg expression builder in the session's
    * FunctionRegistry so SQL text can call it by name.
    */
  def registerUnary(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Expression => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => builder(exprs.head), "built-in")
  }

  /** Block until every event posted to the context's listener bus so far
    * has been delivered, so a listener's counts are complete when read.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
