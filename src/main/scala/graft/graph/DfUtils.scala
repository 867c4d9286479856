package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

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
    * their own jobs when the checkpoint is planned. */
  def pinAndSummarize[A: ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => A): (DataFrame, Array[A]) = {
    val pinned = df.localCheckpoint(eager = false)
    (pinned, summarize(pinned)(f))
  }

  /** Append a dense 1-based row number and return it with the row count:
    * one pin plus one job, no window and no shuffle. The input is pinned
    * while its per-partition counts are collected ([[pinAndSummarize]]);
    * a row's number is its partition's offset (the sum of the counts
    * before it) plus its index within the partition (the low 33 bits of
    * `monotonically_increasing_id`, whose high bits are the partition
    * index) plus one. The numbers are deterministic because the pinned
    * partitions never change: every query over the returned frame, the
    * caller's scope and the store alike, sees the same number per row.
    * Expressions that must agree with the numbers (nondeterministic
    * property values included) belong in `df0`, before the pin. */
  def withRowNumCount(df0: DataFrame, out: String): (DataFrame, Long) = {
    val (pinned, counts) = pinAndSummarize(df0)(_.size.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val mid = monotonically_increasing_id()
    val rowNum = element_at(typedLit(offsets.init), shiftright(mid, 33).cast("int") + 1) +
      mid.bitwiseAND(lit((1L << 33) - 1)) + 1L
    (pinned.withColumn(out, rowNum), offsets.last)
  }
}
