package graft.graph

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.types.LongType

object DfUtils {

  /** Skew-resistant inner equi-join: replicate each `right` row
    * `saltBuckets` times and scatter `left` rows uniformly across the
    * replicas, so one hot key spreads over `saltBuckets` tasks instead
    * of stalling a single reducer. Complements AQE's runtime skew-join
    * split (which needs the skew visible in shuffle statistics): salting
    * is the static answer when the hot key is known or AQE is off. Use
    * for large-×-small-but-not-broadcastable joins; the right side's
    * replication factor is its cost. */
  def saltedJoin(
      left: DataFrame, right: DataFrame, leftKey: Column, rightKey: Column,
      saltBuckets: Int): DataFrame = {
    val saltedL = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id(), spark_partition_id()),
        lit(saltBuckets)).cast("int"))
    val saltedR = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedL.join(saltedR,
      leftKey === rightKey && saltedL("__salt") === saltedR("__salt"))
      .drop("__salt")
  }

  /** `f` of each partition of `df` (index i of the result is partition
    * i), in one job that adds no shuffle. */
  def summarize[A: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => A): Array[A] =
    df.queryExecution.toRdd.mapPartitions(it => Iterator.single(f(it))).collect()

  /** Pin `df` and [[summarize]] it in ONE job: a lazy local checkpoint
    * marks the rows for pinning, and the summary job is the first to
    * compute them, so the same tasks store the pinned blocks and return
    * the summaries. An eager checkpoint would spend a job of its own
    * before the summary could run. Shuffle stages under `df` still run as
    * their own jobs when the checkpoint is planned. The same job counts
    * the rows, and the pinned frame's size estimate is that count times
    * the schema's default row size ([[FrameBridge.withRowCount]]). */
  def pinAndSummarize[A: ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => A): (DataFrame, Array[A]) = {
    val pinned = df.localCheckpoint(eager = false)
    val parts = summarize(pinned) { it =>
      var n = 0L
      val counted = it.map { r => n += 1; r }
      val a = f(counted)
      while (counted.hasNext) counted.next()
      (n, a)
    }
    (FrameBridge.withRowCount(pinned, parts.map(_._1).sum), parts.map(_._2))
  }

  /** Pin `df` in one job, with a measured size estimate
    * ([[pinAndSummarize]]). */
  def pin(df: DataFrame): DataFrame = pinAndSummarize(df)(_ => ())._1

  /** The relation the driver already holds for `df`: its optimized plan
    * when that is a `LocalRelation`, read with no job. Besides frames
    * built over driver rows, that covers a small projection, filter,
    * aggregate, sort or limit of one, which the optimizer evaluates on
    * the driver (graft.plans.SinglePartitionLocal). None for any other
    * frame. */
  def driverHeld(df: DataFrame): Option[LocalRelation] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation => Some(l)
    case _ => None
  }

  /** `df` as a frame over driver-held rows (a `LocalRelation`) when its
    * rows fit `maxBytes` at the schema's default row size; None when they
    * do not, or when `maxBytes` ≤ 0. A [[driverHeld]] frame is read off
    * the plan with no job; any other is collected in one job, in which a
    * partition ships its rows only while they fit, so the driver holds at
    * most one budget per partition. A pinned frame whose measured row
    * count is over budget runs no job. Rows keep their partition order. */
  def local(df: DataFrame, maxBytes: Long): Option[DataFrame] = {
    val maxRows = if (maxBytes <= 0) -1L else maxBytes / math.max(1, df.schema.defaultSize)
    driverHeld(df) match {
      case Some(l) =>
        if (l.data.size > maxRows) None
        else Some(FrameBridge.localFrame(df.sparkSession, DataTypeUtils.fromAttributes(l.output), l.data))
      case None if maxRows < 0 => None
      case None => df.queryExecution.optimizedPlan match {
        case r: LogicalRDD if r.stats.rowCount.exists(_ > maxRows) => None
        case _ =>
          val parts = summarize(df) { it =>
            val b = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (it.hasNext && b.size <= maxRows) b += it.next().copy()
            if (b.size > maxRows) None else Some(b.toArray)
          }
          if (parts.exists(_.isEmpty) || parts.map(_.get.length.toLong).sum > maxRows) None
          else Some(FrameBridge.localFrame(df.sparkSession, df.schema,
            ArraySeq.unsafeWrapArray(parts.flatMap(_.get))))
      }
    }
  }

  /** The rows of `df`: a [[driverHeld]] frame's with no job, any other
    * frame's collected. */
  def localRows(df: DataFrame): Seq[InternalRow] =
    driverHeld(df).fold[Seq[InternalRow]](
      ArraySeq.unsafeWrapArray(df.queryExecution.executedPlan.executeCollect()))(_.data)

  /** Append a dense 1-based row number and return it with the row count.
    * When the input fits `maxBytes` ([[local]]; the default 0 never
    * does, for bulk loads that need no probe) its rows are numbered on
    * the driver in collect order, which is partition order, and the
    * result is a frame over those rows: one job, or none for an input
    * the optimizer folds to a `LocalRelation`. A larger input is pinned
    * while its per-partition counts are collected ([[pinAndSummarize]]);
    * a row's number is its partition's offset (the sum of the counts
    * before it) plus its index within the partition (the low 33 bits of
    * `monotonically_increasing_id`, whose high bits are the partition
    * index) plus one. Either way the numbers are fixed: every query over
    * the returned frame, the caller's scope and the store alike, sees the
    * same number per row. Expressions that must agree with the numbers
    * (nondeterministic property values included) belong in `df0`. */
  def withRowNumCount(df0: DataFrame, out: String,
      maxBytes: Long = 0L): (DataFrame, Long) =
    local(df0, maxBytes) match {
      case Some(l) =>
        val schema = l.schema
        val rows = localRows(l).zipWithIndex.map { case (r, i) =>
          new GenericInternalRow((r.toSeq(schema) :+ (i + 1L)).toArray): InternalRow
        }
        (FrameBridge.localFrame(l.sparkSession, schema.add(out, LongType, nullable = false), rows),
          rows.size.toLong)
      case None =>
        val (pinned, counts) = pinAndSummarize(df0)(_.size.toLong)
        val offsets = counts.scanLeft(0L)(_ + _)
        val mid = monotonically_increasing_id()
        val rowNum = element_at(typedLit(offsets.init), shiftright(mid, 33).cast("int") + 1) +
          mid.bitwiseAND(lit((1L << 33) - 1)) + 1L
        (pinned.withColumn(out, rowNum), offsets.last)
    }
}
