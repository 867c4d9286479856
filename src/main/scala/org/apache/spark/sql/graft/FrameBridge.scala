package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** `dt` with every field, element and value nullable, nested ones
    * included: the type values gathered from several frames may all
    * take, whatever nullability each frame's expressions claimed. */
  def nullable[T <: DataType](dt: T): T = dt.asNullable.asInstanceOf[T]

  /** `pinned` (a checkpointed frame, whose plan is a `LogicalRDD`) with
    * the size estimate of `rows` rows of its schema's default size. A
    * pin otherwise keeps the estimate of the plan it pinned, and a join's
    * estimate is the product of its sides', so a label rewritten by
    * joins against batches derived from itself multiplies its estimate
    * on every rewrite. */
  def withRowCount(pinned: DataFrame, rows: Long): DataFrame = pinned.queryExecution.logical match {
    case r: LogicalRDD =>
      val stats = Statistics(
        sizeInBytes = BigInt(rows) * math.max(1, pinned.schema.defaultSize), rowCount = Some(BigInt(rows)))
      val spark = pinned.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(spark, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
        r.outputOrdering, r.isStreaming, r.stream)(spark, Some(stats)))
    case _ => pinned
  }
}

/** A `LocalTableScan` under a broadcast exchange, built into the
  * broadcast relation on the driver: `BroadcastExchangeExec` collects its
  * child through `executeCollectIterator`, which a plain
  * `LocalTableScanExec` answers with a Spark job over its rows although
  * it holds them already. Planned by graft.plans.DriverBroadcast. */
case class DriverRowsExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeCollect(): Array[InternalRow] = child.executeCollect()
  override def executeTake(n: Int): Array[InternalRow] = child.executeTake(n)
  override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = child.executeCollect()
    (rows.length.toLong, rows.iterator)
  }
  override protected def withNewChildInternal(c: SparkPlan): DriverRowsExec = copy(child = c)
}
