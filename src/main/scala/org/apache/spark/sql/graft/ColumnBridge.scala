package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 hides the classic converters
  * behind `private[sql]`, so library code constructing custom Catalyst
  * expressions directly (graft.plans.*) goes through this in-package
  * shim — the same technique every Spark-native extension library uses.
  * No Spark internals are modified; this only re-exports two converters
  * and wraps Catalyst rows in a frame.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over Catalyst rows an operator produced outside a plan. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
