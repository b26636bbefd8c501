package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard shim any external Spark extension library needs to expose
  * a native Catalyst expression as a user-facing [[Column]] — into
  * Spark's shutdown-deleted temp directories, and from Catalyst rows
  * back to a DataFrame.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A new `<prefix>-<uuid>` directory in the JVM temp dir, which
    * Spark deletes with everything under it at JVM shutdown. */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** Materialize an optimized logical subtree as a DataFrame — the
    * PlanSpec bounded-window tripwire counts a Window's CHILD rows
    * through this (there is no public API from LogicalPlan back to
    * Dataset). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of Catalyst rows of `schema`, with no
    * `Row` conversion on either side. The rows may be reused objects:
    * the scan projects each one to an `UnsafeRow` as it reads it. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
