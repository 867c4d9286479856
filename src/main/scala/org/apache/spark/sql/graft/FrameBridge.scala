package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** DataFrames over rows the driver already holds. `Dataset.ofRows` is
  * private[sql], so the endgames that build their result as Catalyst
  * rows hop through this package-located shim, like [[ColumnBridge]]. */
object FrameBridge {
  /** A `LocalRelation` of `rows` under `schema`: no encoder pass, and
    * the frame plans as a `LocalTableScan`, so collecting it runs no
    * job. Each row's values must be Catalyst values of the schema's
    * types. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
