package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.storage.StorageLevel

/** Per-call ledger of pinned frames: the one way graft holds an
  * intermediate frame across jobs. [[pin]] computes a frame once into a
  * persisted RDD behind a `LogicalRDD` leaf ([[FrameBridge.leaf]]) and
  * counts it in the same job; [[release]] drops a pin the moment its
  * last reader is done (betweenness's backward sweep reads each BFS
  * level exactly once). The call then ends in one of two ways:
  *   - [[finish]] materializes the call's result, then drops every pin;
  *   - [[handOff]] gives the pins to a result that reads them lazily
  *     (VLE paths, BFS hits), which costs no job: they are dropped once
  *     the result's analyzed plan — which every frame derived from it
  *     holds — is garbage-collected, or earlier by
  *     [[Pins.releaseResult]] from a consumer that has finished with it.
  * So a call's peak footprint is its live working set, and nothing but
  * the result outlives the call: no cached block, no CacheManager entry,
  * no checkpoint file.
  *
  * The leaf keeps the LOGICAL plan O(1) per round, but the RDD lineage
  * still nests one level per pin, and a few hundred levels overflowed
  * task (de)serialization; so every 16th pin also writes a
  * reliable checkpoint — the standard periodic barrier of iterative
  * Spark algorithms, and their fault-recovery point — from the cached
  * blocks, without recomputing the lineage. Reliable-checkpoint files
  * are deleted with their pin: Spark's own cleanup
  * (spark.cleaner.referenceTracking.cleanCheckpoints) applies only at
  * RDD GC, defaults OFF, and must be set before context start — a
  * long-lived session would accumulate every call's files (~10 GB per
  * betweenness call at 100×/S=8) until shutdown (r11 ADVICE). */
private[graft] final class Pins(spark: SparkSession) {
  private val live = scala.collection.mutable.LinkedHashSet.empty[RDD[InternalRow]]
  private var n = 0

  /** `df` pinned, and its rows — or its rows true in the boolean column
    * `flag` — counted in the pin's own job. `partitioned` marks a frame
    * hash-partitioned on purpose ([[FrameBridge.leaf]]); `filesOnly`
    * pins write a reliable checkpoint and drop their blocks once it is
    * written. */
  def pin(df: DataFrame, flag: String = "",
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      partitioned: Boolean = false, filesOnly: Boolean = false): (DataFrame, Long) = {
    val (leaf, rows, flagged) = pinCounts(df, flag, level, partitioned, filesOnly)
    (leaf, if (flag.isEmpty) rows else flagged)
  }

  /** [[pin]] with both counts of its job: all rows, and the rows true in
    * `flag` (0 without one). */
  def pinCounts(df: DataFrame, flag: String = "",
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      partitioned: Boolean = false, filesOnly: Boolean = false): (DataFrame, Long, Long) = {
    n += 1
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(level)
    if (filesOnly || n % 16 == 0) { Pins.ensureCheckpointDir(spark); rdd.checkpoint() }
    live += rdd
    val (rows, flagged) =
      Pins.countRows(rdd, if (flag.isEmpty) -1 else df.schema.fieldIndex(flag))
    if (filesOnly) rdd.unpersist(false)
    (FrameBridge.leaf(df, rdd, partitioned), rows, flagged)
  }

  /** Drops the pin behind `leaf`, a frame [[pin]] returned. */
  def release(leaf: DataFrame): Unit = leaf.queryExecution.analyzed match {
    case r: LogicalRDD if synchronized(live.remove(r.rdd)) => drop(r.rdd)
    case _ => ()
  }

  /** Drops every pin; the cleaner of a [[handOff]] result calls it from
    * its own thread. */
  def releaseAll(): Unit = synchronized { live.foreach(drop); live.clear() }

  /** `result` computed once into a locally checkpointed leaf, which
    * reads no pin, and then every pin dropped. */
  def finish(result: DataFrame): DataFrame = {
    val rdd = result.queryExecution.toRdd.map(_.copy()).localCheckpoint()
    Pins.countRows(rdd, -1)
    releaseAll()
    FrameBridge.leaf(result, rdd)
  }

  /** `result`, which reads the pins left in this ledger lazily, as their
    * owner: every pin is dropped when the result's analyzed plan is
    * garbage-collected or at [[Pins.releaseResult]]. */
  def handOff(result: DataFrame): DataFrame = {
    val plan = result.queryExecution.analyzed
    plan.setTagValue(Pins.Held, Pins.cleaner.register(plan, () => releaseAll()))
    result
  }

  private def drop(rdd: RDD[InternalRow]): Unit = {
    rdd.unpersist(false)
    rdd.getCheckpointFile.foreach(Pins.deleteCheckpointFile(spark, _))
  }
}

private[graft] object Pins {
  private val Held = TreeNodeTag[java.lang.ref.Cleaner.Cleanable]("graft.pins")
  private lazy val cleaner = java.lang.ref.Cleaner.create()

  /** Drops the pins `result` holds, if a ledger handed them to it
    * ([[Pins.handOff]]): for a consumer that has finished with it. */
  def releaseResult(result: DataFrame): Unit =
    result.queryExecution.analyzed.getTagValue(Held).foreach(_.clean())

  /** Rows of `rdd`, and with `flag` ≥ 0 its rows true in that boolean
    * column, in one job with no shuffle. */
  private def countRows(rdd: RDD[InternalRow], flag: Int): (Long, Long) =
    rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var (rows, flagged) = (0L, 0L)
      while (it.hasNext) {
        val r = it.next(); rows += 1
        if (flag >= 0 && r.getBoolean(flag)) flagged += 1
      }
      (rows, flagged)
    }).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Reliable checkpoints need storage EVERY executor can read back.
    * In local mode a driver temp dir (cleaned on JVM exit) is that; on
    * a cluster an executor-local /tmp is NOT — there the default
    * derives from the warehouse dir, which sits on the shared
    * filesystem (HDFS/S3) in any real deployment. A caller with a
    * better location just sets the dir up front. */
  private def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      if (sc.isLocal) {
        val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmp).iterator().asScala.toSeq
              .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
          } catch { case _: Exception => () }))
        sc.setCheckpointDir(tmp.toString)
      } else {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        sc.setCheckpointDir(s"$wh/_graft_checkpoints")
      }
    }
  }

  private def deleteCheckpointFile(spark: SparkSession, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: java.io.IOException => () } // best-effort: an
      // undeletable file degrades to the pre-cleanup behavior (session-
      // lifetime footprint), never to a wrong answer
}
