package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions._

/** Minimal bridge into `private[sql]` surface for graft's custom plan
  * nodes — the same technique every Spark extension library uses to
  * construct DataFrames from custom LogicalPlans. Kept to the few
  * functions the library needs.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(castToImpl(spark), plan)

  def analyzed(df: DataFrame): LogicalPlan =
    castToImpl(df).queryExecution.analyzed

  /** Column from a raw Catalyst Expression — lets pure Column helpers
    * use graft's native kernels without needing a session to register
    * the SQL function name first.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Spark's own schema merge, failing on a conflicting type with the
    * same `CANNOT_MERGE_SCHEMAS` error as a `mergeSchema` read.
    */
  def mergeSchemas(a: types.StructType, b: types.StructType, caseSensitive: Boolean): types.StructType =
    try a.merge(b, caseSensitive)
    catch { case e: org.apache.spark.SparkException => throw errors.QueryExecutionErrors.failedMergingSchemaError(a, b, e) }

  /** `schema` with every field nullable, nested ones too — as a file read types it. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
