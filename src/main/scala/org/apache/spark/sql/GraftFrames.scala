package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** DataFrames and Columns over Catalyst values graft builds itself.
  * Spark keeps every entry point here package-private: a DataSourceV2
  * table read without going through `spark.read.format(...)` options
  * (so an internal scan shape never becomes a user-visible option),
  * driver-side rows taken as-is, with no external-Row encoder in
  * between, and a Column over a graft kernel expression (and back).
  */
object GraftFrames {
  def ofTable(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** A local relation: its size is known, so joins against it plan as
    * broadcasts like any literal Dataset's.
    */
  def ofLocalRows(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A Column over a Catalyst expression: the typed kernel helpers. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression of a Column (unresolved until analysis). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
