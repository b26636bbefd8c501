package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard shim any external Spark extension library needs to expose
  * a native Catalyst expression as a user-facing [[Column]] — and into
  * Spark's shutdown-deleted temp directories.
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
}
