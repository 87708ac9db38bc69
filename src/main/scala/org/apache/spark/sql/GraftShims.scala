package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal private[sql] bridge so graft's custom Catalyst expressions can
  * be exposed as user-facing Columns (the same technique Spark extension
  * libraries use: a tiny accessor compiled into the org.apache.spark.sql
  * package). Only pure conversions live here.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's Bloom filter kernel, which has no public function: the
    * serialized `BloomFilter.create(expectedItems, numBits)` over a long,
    * integral or string `item` (null if none is non-null), and its probe
    * of a long `item`, whose `filter` is a literal or an uncorrelated
    * scalar subquery. */
  def bloomFilterAgg(item: Column, expectedItems: Long, numBits: Long): Column =
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(item), catalyst.expressions.Literal(expectedItems),
      catalyst.expressions.Literal(numBits)).toAggregateExpression())
  def mightContain(filter: Column, item: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      expression(filter), expression(item)))

  /** A V2 literal expression (`LiteralValue`'s companion is
    * private[sql]) — the morton distribution's baked domain bounds. */
  def v2LongLiteral(v: Long): connector.expressions.Expression =
    connector.expressions.LiteralValue(java.lang.Long.valueOf(v),
      org.apache.spark.sql.types.LongType)

  /** A DataFrame over a logical plan — the V1-write-bridge peel needs
    * to re-wrap a child plan after removing the engine-prepared
    * exchange it is about to redo itself (`Dataset.ofRows` is
    * private[sql]; same one-function-bridge rationale as the rest of
    * this file). */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** V2 `Column[]` → `StructType` with Spark's own conversion
    * (`CatalogV2Util` is private[sql]) — the catalog's Column-based
    * createTable route needs the default-value metadata this carries. */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols.toIndexedSeq)

  /** The `RowLevelOperation` inside Spark's private[sql]
    * `RowLevelOperationTable` wrapper, if `t` is one — the handle
    * graft's merge-carryover patch needs to recognize its own
    * group-CoW rewrites. */
  def rowLevelOperationOf(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.write.RowLevelOperation] =
    t match {
      case rt: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
        Some(rt.operation)
      case _ => None
    }

  /** The ORIGINAL table inside Spark's private[sql]
    * `RowLevelOperationTable` wrapper, if `t` is one — the identity
    * update guard needs the target's own metadata channels. */
  def rowLevelInnerTable(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.catalog.Table] =
    t match {
      case rt: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
        Some(rt.table)
      case _ => None
    }
}
