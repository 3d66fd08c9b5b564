package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OverwriteByExpression}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataFrames and Columns over Catalyst values graft builds itself.
  * Spark keeps every entry point here package-private: a DataSourceV2
  * table read or written without going through `format(...)` options
  * (so an internal scan shape or write target never becomes a
  * user-visible option), driver-side rows taken as-is, with no
  * external-Row encoder in between, and a Column over a graft kernel
  * expression (and back).
  */
object GraftFrames {
  def ofTable(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** Overwrites `table` with `df`: the DataSourceV2 write that
    * `df.write.options(options).mode("overwrite").save()` plans for a
    * table supporting truncation, `options` as its write options.
    */
  def overwrite(df: DataFrame, table: Table, options: Map[String, String]): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val relation = DataSourceV2Relation.create(table, None, None,
      new CaseInsensitiveStringMap(options.asJava))
    session.sessionState.executePlan(OverwriteByExpression.byName(
      relation, df.queryExecution.analyzed, Literal(true), options))
      .assertCommandExecuted()
  }

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
