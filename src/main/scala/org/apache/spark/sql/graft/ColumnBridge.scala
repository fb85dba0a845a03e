package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 detached the public Column API from Catalyst Expressions
  * (Spark Connect refactor); the classic bridges (`ExpressionUtils`,
  * `Dataset.ofRows`) are `private[sql]`. This shim — placed inside the
  * sql package tree, the established pattern for Catalyst-level
  * extension libraries — is the one place graft touches non-public
  * API, kept to four forwarders.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (custom operator entry). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame over an RDD of InternalRows with NO external-Row
    * conversion (the public `createDataFrame(RDD[Row], schema)` pays a
    * Row→InternalRow encoder pass on EVERY downstream consumption —
    * ruinous for iterative operators that re-read a checkpointed round
    * frame several times per round). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
