package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** DataFrames over Catalyst rows graft builds itself. Spark keeps both
  * entry points package-private: a DataSourceV2 table read without
  * going through `spark.read.format(...)` options (so an internal scan
  * shape never becomes a user-visible option), and driver-side rows
  * taken as-is, with no external-Row encoder in between.
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
}
