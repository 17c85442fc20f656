/*
 * Bridge into Spark's private[sql] Column internals, placed inside the
 * org.apache.spark.sql package — the standard technique for Spark
 * extension libraries that define custom Catalyst Expressions and need
 * Expression <-> Column conversion under Spark 4's ColumnNode API. It is
 * also the one home for the engine's other Spark-private access.
 */
package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

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

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  // The Spark-private calls of graft.sources.Lines.

  /** A fresh Hadoop configuration with the session's settings. */
  def hadoopConf(spark: SparkSession): Configuration =
    classic(spark).sessionState.newHadoopConf()

  def maxPartitionBytes(spark: SparkSession): Long =
    classic(spark).sessionState.conf.filesMaxPartitionBytes

  def commitProtocolClass(spark: SparkSession): String =
    classic(spark).sessionState.conf.fileCommitProtocolClass

  def createDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rows, schema)

  /** Run `body` over `df`'s physical rows as one SQL execution, seen by
    * SQL and query-execution listeners as a built-in action named `name`.
    */
  def withNewExecution[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  def pathNotFound(path: String): Throwable = QueryCompilationErrors.dataPathNotExistError(path)

  /** Whether the file sources skip a listed file of this name. */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  def addInputMetrics(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    ctx.taskMetrics().inputMetrics.incBytesRead(bytes)
    ctx.taskMetrics().inputMetrics.incRecordsRead(records)
  }

  def setOutputMetrics(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    ctx.taskMetrics().outputMetrics.setBytesWritten(bytes)
    ctx.taskMetrics().outputMetrics.setRecordsWritten(records)
  }
}
