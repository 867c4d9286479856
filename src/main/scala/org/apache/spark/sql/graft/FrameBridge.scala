package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
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

  /** A clone of `spark`: its own SQL conf over the shared context,
    * catalog and cache, so settings made on the clone stay there. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`, which then plans and
    * runs it under its own conf. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** A `LogicalRDD` frame over `rdd`, which must hold the rows of `df`'s
    * executed plan, partition for partition (the shape
    * `Dataset.checkpoint` builds). The leaf keeps a static plan's hash
    * partitioning and ordering, which let the next join or aggregate on
    * those keys skip its exchange and sort, where the claim holds for
    * `rdd` (a bucketed scan's claim over another partition count does
    * not). An adaptive plan's leaf claims nothing, as a frame built by
    * `createDataFrame` does not, so the next round's exchanges stay
    * AQE's to coalesce, broadcast and split for skew — unless
    * `partitioned`: a frame hash-partitioned on purpose and joined on
    * that key every round keeps the final plan's claim (measured at
    * sf0.1: forced-distributed kcore took 16-17 s with its edge frame's
    * claim kept, 9 s without; lpa 15-16 s without its edge frame's
    * claim, 12 s at the parent, whose cached frame kept it). Call it
    * after the plan ran, so an adaptive plan reports its final shape.
    * The leaf's attributes are fresh, and it carries no size estimate. */
  def leaf(df: DataFrame, rdd: RDD[InternalRow], partitioned: Boolean = false): DataFrame = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if partitioned => a.executedPlan
      case p => p
    }
    val output = df.queryExecution.analyzed.output
    val known = AttributeSet(output)
    val fresh = output.map(_.newInstance())
    val renamed = AttributeMap(output.zip(fresh))
    def rename[T <: Expression](e: T): T =
      e.transform { case a: Attribute => renamed.getOrElse(a, a) }.asInstanceOf[T]
    def first(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => first(c.partitionings.head)
      case p => p
    }
    val partitioning = first(plan.outputPartitioning) match {
      case h: HashPartitioning if h.numPartitions == rdd.getNumPartitions &&
        h.references.subsetOf(known) => rename(h)
      case SinglePartition if rdd.getNumPartitions == 1 => SinglePartition
      case _ => UnknownPartitioning(0)
    }
    val ordering = plan.outputOrdering.takeWhile(_.references.subsetOf(known)).map(rename(_))
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(spark, LogicalRDD(fresh, rdd, partitioning, ordering)(spark))
  }

  /** `dt` with every field, element and value nullable, nested ones
    * included: the type values gathered from several frames may all
    * take, whatever nullability each frame's expressions claimed. */
  def nullable[T <: DataType](dt: T): T = dt.asNullable.asInstanceOf[T]

  /** `e` with its floats normalized as the physical planner normalizes
    * grouping keys: -0.0 as 0.0 and every NaN as one NaN, nested ones
    * included. */
  def normalizedKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

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
