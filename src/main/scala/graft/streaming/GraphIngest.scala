package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.graph.{DfUtils, MutableGraph, PropName}
import graft.types.GraphId

/** Per-micro-batch observability snapshot (the streaming analogue of
  * EXPLAIN ANALYZE's operator row counts): how many rows arrived, how
  * many distinct merge keys they carried, how many entities were
  * created vs updated, and the probe mode selected for the batch size
  * (`broadcastProbe` = the joins were hinted broadcast; false = the
  * surge fallback shuffled. On the empty-label fast path no probe join
  * runs at all — the field still records the mode the batch size
  * selected). `graph` attributes the batch to its MutableGraph so
  * rings shared across graphs filter cleanly. */
final case class IngestBatchMetrics(
    graph: String,
    kind: String, // "vertex" | "edge"
    label: String,
    rowsIn: Long,
    distinctKeys: Long,
    created: Long,
    updated: Long,
    broadcastProbe: Boolean)

/** Continuous graph construction: upsert a stream of entity rows into a
  * [[MutableGraph]], one micro-batch at a time, via `foreachBatch`.
  *
  * The per-batch merge is the set-oriented form of Cypher's
  * `MERGE (v:L {key: row.key}) SET v.p = row.p`:
  *   1. dedup WITHIN the batch on the merge key (highest `seqCol` wins
  *      when one is given — last-writer-wins replay semantics);
  *   2. an anti-join of batch keys against the existing label finds the
  *      rows to CREATE — an O(batch) probe of one label scan, never a
  *      full-label re-aggregation (same scale contract as the unique-
  *      constraint batch probe, MutableGraph.checkUniqueBatch);
  *   3. new entries get ids partition-parallel (DfUtils.withRowNumCount —
  *      per-partition offsets plus in-partition indexes, no window);
  *   4. keys that already exist get property overwrites through
  *      MutableGraph.setVertexProperties (one patch of the label's
  *      driver-held delta, or one copy-on-write column swap for a batch
  *      the driver cannot hold).
  *
  * Property columns are stored under [[PropName]]-encoded names, the
  * same frame-level convention as the Cypher CREATE path — so a batch
  * may carry properties literally named `id`/`label`/`start_id` (they
  * escape to `id@p` etc.) or containing dots/backticks without
  * colliding with the fixed entity columns.
  *
  * Everything is DataFrame plans — no driver-side row loops — so a
  * micro-batch of any size distributes. Replaying a batch (streaming
  * at-least-once delivery) converges: creates are suppressed by the
  * anti-join, updates are idempotent overwrites. Probe joins broadcast
  * the batch-sized side only while the batch is plausibly small
  * (`spark.graft.ingest.broadcastRowLimit`, default 2^20 rows); a
  * surge micro-batch (backfill replay, checkpoint recovery) degrades
  * to a shuffled join instead of OOMing the driver — the same
  * fallback as MutableGraph's constraint probe.
  *
  * Reference analogue: AGE has no streaming surface; this is the
  * beyond-parity path for keeping a 100 TB graph continuously up to
  * date from event streams rather than bulk reloads.
  */
object GraphIngest {

  /** Default for `spark.graft.ingest.broadcastRowLimit`: above this
    * many (pre-dedup) batch rows the merge probes stop hinting
    * broadcast and let the planner shuffle. Mirrors
    * MutableGraph.BroadcastKeyLimit. */
  val DefaultBroadcastRowLimit: Long = 1L << 20

  private def broadcastRowLimit(df: DataFrame): Long =
    df.sparkSession.conf
      .getOption("spark.graft.ingest.broadcastRowLimit")
      .map(_.toLong).getOrElse(DefaultBroadcastRowLimit)

  /** Column reference by exact name (keys may contain dots/backticks). */
  private def qc(name: String): Column = PropName.qcol(name)

  /** Rename every batch column to its frame-level encoded name
    * (reserved names escape — PropertyGraph.PropName); exact-name
    * rename, so dotted/backticked keys pass through unharmed. */
  private def encodeCols(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      val e = PropName.enc(c)
      if (e != c) d.withColumnRenamed(c, e) else d
    }

  /** Test/diagnostic hook: physical plan of the most recent vertex-merge
    * create probe against a non-empty label (the anti-join that decides
    * which batch rows create). */
  @volatile private[streaming] var lastMergeProbePlan: String = ""

  // ---- metrics (EXPLAIN ANALYZE analogue for the streaming path) ----

  private val metricsBuf = scala.collection.mutable.ArrayBuffer.empty[IngestBatchMetrics]
  private val MetricsCap = 256

  private def record(m: IngestBatchMetrics): Unit = metricsBuf.synchronized {
    metricsBuf += m
    if (metricsBuf.length > MetricsCap) metricsBuf.remove(0, metricsBuf.length - MetricsCap)
  }

  /** Snapshot of the most recent micro-batch merges (newest last,
    * bounded ring of [[MetricsCap]]). */
  def recentMetrics: Seq[IngestBatchMetrics] = metricsBuf.synchronized(metricsBuf.toSeq)

  /** Most recent merge for a label, if any. */
  def lastMetrics(label: String): Option[IngestBatchMetrics] =
    metricsBuf.synchronized(metricsBuf.reverseIterator.find(_.label == label))

  def resetMetrics(): Unit = metricsBuf.synchronized(metricsBuf.clear())

  /** Distributed upsert of one micro-batch of vertex rows.
    *
    * @param batch   one column per property; must contain `keyProp`.
    * @param seqCol  optional ordering column: within a batch the row
    *                with the highest value per key wins (ties broken
    *                arbitrarily); without it an arbitrary row per key
    *                is kept.
    */
  def mergeVertexBatch(
      store: MutableGraph,
      label: String,
      keyProp: String,
      batch: DataFrame,
      seqCol: Option[String] = None): Unit = store.synchronized {
    store.createVertexLabel(label)
    val key = PropName.enc(keyProp)
    val enc = encodeCols(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rowsIn = enc.count()
      val doBroadcast = rowsIn <= broadcastRowLimit(batch)
      def hinted(df: DataFrame): DataFrame = if (doBroadcast) broadcast(df) else df
      val deduped = (seqCol match {
        case Some(sc) =>
          val w = Window.partitionBy(qc(key)).orderBy(qc(PropName.enc(sc)).desc)
          enc.withColumn("__rk", row_number().over(w))
            .filter(col("__rk") === 1).drop("__rk")
        case None => enc.dropDuplicates(Seq(key))
      }).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nKeys = deduped.count()
        // deduped is materialized — release the pre-dedup batch now so a
        // near-limit micro-batch never holds two cached copies at once
        enc.unpersist()
        val existing = store.snapshot.vertexLabel(label).df
        val props = deduped.columns.toSeq // encoded names
        if (!existing.columns.contains(key)) {
          // empty label (or first batch carrying this key): everything
          // creates — deduped is already pinned and counted (nKeys), so
          // the id-allocation pass reuses both instead of re-caching and
          // re-counting the same frame (r14 verdict #3: fold the
          // per-batch id-allocation pins into the jobs already paid)
          val created = appendWithIds(store, label, deduped, props,
            knownCount = nKeys)
          record(IngestBatchMetrics(
            store.name, "vertex", label, rowsIn, nKeys, created, 0L, doBroadcast))
        } else {
          // scale shape: the label is STREAMED exactly once and never
          // shuffled — `batch ANTI existing` directly would broadcast the
          // label or sort-merge-shuffle it; instead a (batch-side
          // broadcast) semi-join extracts the set of keys already
          // present, and both the create anti-join and the update join
          // see batch-sized right sides
          val present = existing
            .join(hinted(deduped.select(qc(key))), Seq(key), "left_semi")
            .select(col("id"), qc(key))
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val fresh =
              deduped.join(hinted(present.select(qc(key))), Seq(key), "left_anti")
            val created = appendWithIds(store, label, fresh, props)
            lastMergeProbePlan = fresh.queryExecution.executedPlan.toString
            // last-writer-wins overwrite for keys that already existed
            val upd = deduped
              .join(hinted(present), Seq(key))
              .persist(StorageLevel.MEMORY_AND_DISK)
            try {
              val updKeys = props.filterNot(_ == key)
              val nUpd = if (updKeys.isEmpty) 0L else upd.count()
              if (nUpd > 0)
                // one join + one label pin for ALL changed properties;
                // value columns ride positionally under synthetic names.
                // setVertexProperties takes RAW key names (it re-encodes)
                store.setVertexProperties(updKeys.map(PropName.dec),
                  upd.select(col("id") +: updKeys.zipWithIndex.map {
                    case (k, i) => qc(k).as(s"__v$i")
                  }: _*))
              record(IngestBatchMetrics(
                store.name, "vertex", label, rowsIn, nKeys, created, nUpd, doBroadcast))
            } finally upd.unpersist()
          } finally present.unpersist()
        }
      } finally deduped.unpersist()
    } finally enc.unpersist()
  }

  /** Append `rows` (encoded prop columns) with freshly-allocated ids;
    * returns how many were appended. `knownCount >= 0` promises the
    * caller already materialized `rows` (pinned) and counted it — the
    * extra cache + count job here would be pure duplication. */
  private def appendWithIds(
      store: MutableGraph, label: String, rows: DataFrame, props: Seq[String],
      knownCount: Long = -1L): Long = {
    val cached =
      if (knownCount >= 0L) rows
      else rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = if (knownCount >= 0L) knownCount else cached.count()
      if (n > 0) {
        val labelId = store.vertexLabelId(label)
        val maxE = store.vertexMaxEntry(label)
        // the numbered frame is pinned: a later recompute of the lazy
        // union appendVertices builds never renumbers
        val withIds = DfUtils.withRowNumCount(cached, "__rn")._1
          .withColumn("id",
            (lit(labelId.toLong << GraphId.EntryIdBits) + lit(maxE) + col("__rn"))
              .cast("long"))
          .select((col("id") +: props.map(p => qc(p).as(p))): _*)
        store.appendVertices(label, withIds, maxE + n)
      }
      n
    } finally if (knownCount < 0L) cached.unpersist()
  }

  /** Distributed merge of one micro-batch of edge rows. Endpoints are
    * resolved by key against their vertex labels (rows whose endpoints
    * don't exist yet are dropped — ingest vertices first, e.g. from the
    * same stream via [[mergeVertexBatch]]); an existing (start, end)
    * pair of this label is NOT duplicated (MERGE, not CREATE).
    *
    * @param batch      must contain `srcKeyCol` and `dstKeyCol`; all
    *                   other columns become edge properties.
    * @param src / dst  (vertexLabel, keyProp) of each endpoint.
    */
  def mergeEdgeBatch(
      store: MutableGraph,
      edgeLabel: String,
      src: (String, String),
      dst: (String, String),
      batch: DataFrame,
      srcKeyCol: String,
      dstKeyCol: String): Unit = store.synchronized {
    store.createEdgeLabel(edgeLabel)
    val (srcLabel, srcKey) = src
    val (dstLabel, dstKey) = dst
    val g = store.snapshot
    val sv = g.vertexLabel(srcLabel).df
    val dv = g.vertexLabel(dstLabel).df
    val sKey = PropName.enc(srcKey)
    val dKey = PropName.enc(dstKey)
    if (!sv.columns.contains(sKey) || !dv.columns.contains(dKey)) {
      // misconfigured / out-of-order startup (vertex label doesn't carry
      // the endpoint key yet): the whole batch drops — record it so the
      // metrics surface shows the drop instead of silence
      record(IngestBatchMetrics(
        store.name, "edge", edgeLabel, batch.count(), 0L, 0L, 0L,
        broadcastProbe = true))
      return
    }
    require(!batch.columns.contains("__srck") && !batch.columns.contains("__dstk"),
      "batch property names __srck/__dstk are reserved by mergeEdgeBatch")
    // the endpoint key columns copy to synthetic names (they join against
    // vertex labels and are dropped, never stored — copying rather than
    // renaming also supports srcKeyCol == dstKeyCol self-loop batches)
    // and the rest encode to frame-level property names, so a batch may
    // carry properties named start_id/end_id/id without colliding with
    // entity columns
    val enc = encodeCols(
      batch.withColumn("__srck", qc(srcKeyCol)).withColumn("__dstk", qc(dstKeyCol))
        .drop(srcKeyCol).drop(dstKeyCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rowsIn = enc.count()
      val doBroadcast = rowsIn <= broadcastRowLimit(batch)
      def hinted(df: DataFrame): DataFrame = if (doBroadcast) broadcast(df) else df
      val props = enc.columns.toSeq.filterNot(c => c == "__srck" || c == "__dstk")
      // endpoint resolution and the existing-pair probe both stream the
      // big side (vertex label / edge label) against a batch-sized side —
      // broadcast while the batch is small, shuffled past the limit;
      // no label is ever broadcast
      val withSrc = sv.select(col("id").as("start_id"), qc(sKey).as("__srck"))
        .join(hinted(enc), Seq("__srck"))
      // resolved feeds BOTH probe joins below — persist so the vertex
      // resolution runs once
      val resolved = dv.select(col("id").as("end_id"), qc(dKey).as("__dstk"))
        .join(hinted(withSrc), Seq("__dstk"))
        .dropDuplicates(Seq("start_id", "end_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nPairs = resolved.count()
        // resolved is materialized — both probe joins below read only it
        enc.unpersist()
        val existing = store.snapshot.edgeLabel(edgeLabel).df
        val presentPairs = existing.select(col("start_id"), col("end_id"))
          .join(hinted(resolved.select(col("start_id"), col("end_id"))),
            Seq("start_id", "end_id"), "left_semi")
        val fresh = resolved.join(hinted(presentPairs),
          Seq("start_id", "end_id"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = fresh.count()
          if (n > 0) {
            val labelId = store.edgeLabelId(edgeLabel)
            val maxE = store.edgeMaxEntry(edgeLabel)
            val withIds = DfUtils.withRowNumCount(fresh, "__rn")._1
              .withColumn("id",
                (lit(labelId.toLong << GraphId.EntryIdBits) + lit(maxE) + col("__rn"))
                  .cast("long"))
              .select((Seq(col("id"), col("start_id"), col("end_id")) ++
                props.map(p => qc(p).as(p))): _*)
            store.appendEdges(edgeLabel, withIds, maxE + n)
          }
          // "updated" for edges = resolved pairs that already existed
          // (MERGE matched instead of creating)
          record(IngestBatchMetrics(
            store.name, "edge", edgeLabel, rowsIn, nPairs, n, nPairs - n, doBroadcast))
        } finally fresh.unpersist()
      } finally resolved.unpersist()
    } finally enc.unpersist()
  }

  /** Continuous vertex ingestion: `stream` rows upsert into `store`
    * per micro-batch. Returns the running [[StreamingQuery]]. */
  def startVertexIngest(
      stream: DataFrame,
      store: MutableGraph,
      label: String,
      keyProp: String,
      seqCol: Option[String] = None,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpointDir.fold(w0)(d => w0.option("checkpointLocation", d))
    w.foreachBatch { (b: DataFrame, _: Long) =>
      mergeVertexBatch(store, label, keyProp, b, seqCol)
    }.start()
  }

  /** Continuous edge ingestion — see [[mergeEdgeBatch]]. */
  def startEdgeIngest(
      stream: DataFrame,
      store: MutableGraph,
      edgeLabel: String,
      src: (String, String),
      dst: (String, String),
      srcKeyCol: String,
      dstKeyCol: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpointDir.fold(w0)(d => w0.option("checkpointLocation", d))
    w.foreachBatch { (b: DataFrame, _: Long) =>
      mergeEdgeBatch(store, edgeLabel, src, dst, b, srcKeyCol, dstKeyCol)
    }.start()
  }
}
