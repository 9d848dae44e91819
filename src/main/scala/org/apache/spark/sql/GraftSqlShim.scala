package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` plan-to-Dataset constructor, the standard
  * pattern libraries use to materialize a custom [[LogicalPlan]] node as a
  * DataFrame (cf. the `package object sql` type-alias shim Spark itself
  * ships). Kept to this single call so the internal surface we touch stays
  * one line wide.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of internal rows: `createDataFrame` without
    * the external-Row decode and re-encode (graft.Ranks.scan). */
  def ofInternalRows(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Column ↔ Catalyst Expression bridge (`classic.ExpressionUtils` is
    * `private[sql]`): lets a library expression like graft's DotFExpr wrap
    * directly into a Column with no session-registry round-trip, so
    * construction needs no active session and the plan resolves under
    * whichever session analyzes it. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The RDD backing a `localCheckpoint`ed DataFrame (its analyzed plan is
    * a [[execution.LogicalRDD]] leaf). Lets graft.ops.Lineage release the
    * checkpoint's storage blocks EXPLICITLY (one-slot pool semantics)
    * instead of waiting for the ContextCleaner's GC-driven sweep —
    * `Dataset.unpersist` only talks to the CacheManager and is a no-op on
    * checkpoint blocks. */
  def underlyingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => Some(l.rdd)
      case _                       => None
    }
}
