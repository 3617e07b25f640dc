package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Minimal accessor for Spark's private[sql] Column <-> Expression bridge
  * (Spark 4.x moved Column onto ColumnNode; ExpressionUtils is the sanctioned
  * internal converter), plus the two other private[sql] entries the engine
  * uses. Keeping this one file inside the org.apache.spark.sql namespace
  * confines the private-API surface to a single place. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an already-built logical plan (e.g. a `LocalRelation`
    * of rows read on the driver). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The `FAILED_READ_FILE.FILE_NOT_EXIST` error a file-source scan raises
    * for a file that vanished after planning. */
  def fileNotExist(path: String, cause: Exception): Throwable =
    QueryExecutionErrors.fileNotExistError(path, cause)
}
