package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{AgVariant, GraphId}

/** Updatable property graph: label → DataFrame with copy-on-write swaps.
  *
  * The Spark analogue of AGE's heap-table writes (reference: executors in
  * src/backend/executor/cypher_create.c / cypher_set.c / cypher_delete.c /
  * cypher_merge.c): each mutating clause produces a NEW label frame
  * (union / anti-join / column overwrite) and swaps it in. Materialization
  * uses localCheckpoint to pin allocated ids and cut lineage — on a
  * cluster this would be a Delta/Iceberg transactional write instead, with
  * the same copy-on-write semantics.
  *
  * Like the reference's executors, which touch only the tuples a clause
  * changes, a write rewrites (and marks dirty for the next commit) only
  * the labels its ids hit: ids carry their label (graphid.h:59-60), so
  * the job that pins a write's id set also names them, and every other
  * label keeps its frame object.
  *
  * Id allocation mirrors the per-label sequences
  * (label_commands.c:361-366): 16-bit label id | 48-bit entry counter.
  */
final class MutableGraph(initialName: String, val spark: SparkSession) {

  private var _name: String = initialName
  def name: String = synchronized(_name)

  /** Rename the graph (reference: alter_graph(name, 'RENAME', new_name)
    * renames the backing schema, graph_commands.c:336/349-380, and
    * validates the new name at :358). The next GraphStore.commit writes
    * the new name into the manifest. */
  def rename(newName: String): Unit = synchronized {
    _name = NameValidation.requireGraphName(newName, "new graph name")
  }

  private case class LabelState(labelId: Int, df: DataFrame, maxEntry: Long)

  private var vLabels = scala.collection.immutable.ListMap.empty[String, LabelState]
  private var eLabels = scala.collection.immutable.ListMap.empty[String, LabelState]
  private var nextLabelId = 1

  // labels whose frame changed since the last GraphStore.commit /
  // markClean — a commit persists only these (the others' immutable data
  // directories are reused by the new manifest)
  private var dirtyV = Set.empty[String]
  private var dirtyE = Set.empty[String]
  def dirtyVertexLabels: Set[String] = synchronized(dirtyV)
  def dirtyEdgeLabels: Set[String] = synchronized(dirtyE)
  def markClean(): Unit = synchronized { dirtyV = Set.empty; dirtyE = Set.empty }

  private val vertexSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
  private val edgeSchemaBase = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("start_id", LongType, nullable = false),
    StructField("end_id", LongType, nullable = false)))

  def allocLabelId(): Int = synchronized { val id = nextLabelId; nextLabelId += 1; id }

  /** Register a label with a fixed id (when importing an existing graph). */
  def registerVertexLabel(label: String, labelId: Int): Unit = synchronized {
    require(!vLabels.contains(label))
    val df = spark.createDataFrame(new java.util.ArrayList[Row](), vertexSchema)
    vLabels += label -> LabelState(labelId, df, 0L)
    nextLabelId = math.max(nextLabelId, labelId + 1)
  }

  def registerEdgeLabel(label: String, labelId: Int): Unit = synchronized {
    require(!eLabels.contains(label))
    val df = spark.createDataFrame(new java.util.ArrayList[Row](), edgeSchemaBase)
    eLabels += label -> LabelState(labelId, df, 0L)
    nextLabelId = math.max(nextLabelId, labelId + 1)
  }

  def createVertexLabel(label: String): Unit = synchronized {
    if (!vLabels.contains(label)) {
      NameValidation.requireLabelName(label) // reference: create_vlabel validates
      val df = spark.createDataFrame(new java.util.ArrayList[Row](), vertexSchema)
      vLabels += label -> LabelState(allocLabelId(), df, 0L)
      dirtyV += label
    }
  }

  def createEdgeLabel(label: String): Unit = synchronized {
    if (!eLabels.contains(label)) {
      NameValidation.requireLabelName(label)
      val df = spark.createDataFrame(new java.util.ArrayList[Row](), edgeSchemaBase)
      eLabels += label -> LabelState(allocLabelId(), df, 0L)
      dirtyE += label
    }
  }

  def vertexLabelId(label: String): Int = { createVertexLabel(label); vLabels(label).labelId }
  def edgeLabelId(label: String): Int = { createEdgeLabel(label); eLabels(label).labelId }
  def vertexMaxEntry(label: String): Long = { createVertexLabel(label); vLabels(label).maxEntry }
  def edgeMaxEntry(label: String): Long = { createEdgeLabel(label); eLabels(label).maxEntry }

  // ---- unique property constraints (reference: regress/sql/index.sql:
  // 30-80 — a unique index on a label enforced transactionally; here a
  // write-time join-check, the distributed analogue of PG's index
  // uniqueness probe) ----

  /** label → (constraint name, property names). */
  private var uniqueV = Map.empty[String, Seq[(String, Seq[String])]]
  private var uniqueE = Map.empty[String, Seq[(String, Seq[String])]]

  def uniqueVertexConstraints: Map[String, Seq[(String, Seq[String])]] =
    synchronized(uniqueV)

  /** Declare a unique constraint over a vertex label's property tuple
    * (the analogue of CREATE UNIQUE INDEX ... ON graph.label(properties),
    * index.sql:33). Existing rows must already satisfy it — PG errors at
    * index build time otherwise. Rows where any constrained property IS
    * NULL are exempt (PG unique indexes treat NULLs as distinct). */
  def addUniqueVertexConstraint(cname: String, label: String, props: Seq[String]): Unit =
    synchronized {
      createVertexLabel(label)
      checkUniqueFull(vLabels(label).df, props, cname)
      uniqueV += label -> (uniqueV.getOrElse(label, Nil) :+ (cname, props))
    }

  def addUniqueEdgeConstraint(cname: String, label: String, props: Seq[String]): Unit =
    synchronized {
      createEdgeLabel(label)
      checkUniqueFull(eLabels(label).df, props, cname)
      uniqueE += label -> (uniqueE.getOrElse(label, Nil) :+ (cname, props))
    }

  /** Constraint-BUILD-time check (addUnique*Constraint only): one
    * aggregation over the whole label, grouping non-null key tuples by
    * their value-equality keys (variant columns group by AgOrderKey, so
    * 2 and 2.0 collide like agtype btree equality). O(label) once, like
    * PG's full scan at CREATE UNIQUE INDEX time (index.sql:33). Writes
    * do NOT pay this — see checkUniqueBatch. */
  private def checkUniqueFull(df: DataFrame, props: Seq[String], cname: String): Unit = {
    val cols = props.map(PropName.enc)
    if (cols.forall(df.schema.fieldNames.contains)) {
      val dup = df.filter(cols.map(PropName.qcol(_).isNotNull).reduce(_ && _))
        .groupBy(orderKeys(df, cols): _*).count().filter(col("count") > 1).limit(1).count()
      if (dup > 0) failUnique(cname)
    }
  }

  private def orderKeys(df: DataFrame, cols: Seq[String]): Seq[Column] =
    cols.map { c =>
      val dt = df.schema(c).dataType
      if (AgVariant.isVariant(dt)) graft.functions.AgOrderKey.key(PropName.qcol(c)).as(c)
      else PropName.qcol(c).as(c)
    }

  private def failUnique(cname: String): Nothing =
    throw new IllegalStateException(
      s"""duplicate key value violates unique constraint "$cname"""")

  /** Above this many distinct batch keys the existing-rows probe falls
    * back from a broadcast semi-join to a plain (shuffling) semi-join —
    * a batch that large is itself label-scale and the shuffle is the
    * right plan for it. */
  private val BroadcastKeyLimit = 1L << 20

  /** Test/diagnostic hook: physical plan of the most recent
    * existing-rows uniqueness probe (empty until a constrained write
    * with a non-empty existing side runs). */
  @volatile private[graph] var lastUniqueProbePlan: String = ""

  /** WRITE-time uniqueness: O(batch) instead of O(label). PG pays
    * per-row index probes on insert (index.sql:30-80); the distributed
    * analogue is (a) an in-batch duplicate check — a groupBy of the
    * batch alone — plus (b) a semi-join of the batch's (small,
    * broadcast) key tuples against existing rows: one scan of the
    * label with NO Exchange on it, never a full-label re-aggregation.
    * One job computes both the batch's distinct-key count and its max
    * multiplicity; a second runs the probe only when the batch has
    * keys and existing rows exist. */
  private def checkUniqueBatch(existing: Option[DataFrame], batch: DataFrame,
      props: Seq[String], cname: String): Unit = {
    val cols = props.map(PropName.enc)
    if (!cols.forall(batch.schema.fieldNames.contains)) return
    val nonNull = cols.map(PropName.qcol(_).isNotNull).reduce(_ && _)
    val batchKeys = batch.filter(nonNull).select(orderKeys(batch, cols): _*)
    val stats = batchKeys.groupBy(cols.map(PropName.qcol): _*).agg(count(lit(1)).as("__c"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("nkeys"),
        coalesce(max(col("__c")), lit(0L)).as("maxc"))
      .collect()(0)
    val nkeys = stats.getLong(0)
    if (stats.getLong(1) > 1) failUnique(cname) // duplicate WITHIN the batch
    if (nkeys == 0) return
    existing.filter(ex => cols.forall(ex.schema.fieldNames.contains)).foreach { ex =>
      // maxc == 1 ⇒ batchKeys is already distinct — broadcast it as-is
      val probeSide =
        if (nkeys <= BroadcastKeyLimit) broadcast(batchKeys) else batchKeys
      val probe = ex.filter(cols.map(PropName.qcol(_).isNotNull).reduce(_ && _))
        .select(orderKeys(ex, cols): _*)
        .join(probeSide, cols, "left_semi")
      val hit = probe.limit(1).count()
      lastUniqueProbePlan = probe.queryExecution.executedPlan.toString
      if (hit > 0) failUnique(cname)
    }
  }

  private def enforceVertexConstraints(label: String, existing: Option[DataFrame],
      batch: DataFrame): Unit =
    uniqueV.getOrElse(label, Nil)
      .foreach { case (n, ps) => checkUniqueBatch(existing, batch, ps, n) }

  private def enforceEdgeConstraints(label: String, existing: Option[DataFrame],
      batch: DataFrame): Unit =
    uniqueE.getOrElse(label, Nil)
      .foreach { case (n, ps) => checkUniqueBatch(existing, batch, ps, n) }

  /** SET-path uniqueness: split the post-update frame into the touched
    * rows (semi-join on the update ids) and the untouched rest
    * (anti-join) and batch-probe touched-vs-rest. Untouched-vs-untouched
    * needs no check — it was valid before the statement and is
    * unchanged. Only constraints whose tuple contains the SET key are
    * checked (index.sql Test 3). */
  private def enforceConstraintsOnSet(cs: Seq[(String, Seq[String])], df: DataFrame,
      ids: DataFrame, touchedKey: String): Unit = {
    val relevant = cs.filter(_._2.contains(touchedKey))
    if (relevant.nonEmpty) {
      val touched = df.join(ids, Seq("id"), "left_semi")
      val rest = df.join(ids, Seq("id"), "left_anti")
      relevant.foreach { case (n, ps) => checkUniqueBatch(Some(rest), touched, ps, n) }
    }
  }

  /** Current read snapshot (the analogue of AGE's global-graph snapshot,
    * reference: src/backend/utils/adt/age_global_graph.c:715-817). */
  def snapshot: PropertyGraph = synchronized {
    new PropertyGraph(
      name,
      vLabels.map { case (n, s) => VertexLabel(n, s.labelId, s.df) }.toSeq,
      eLabels.map { case (n, s) => EdgeLabel(n, s.labelId, s.df) }.toSeq)
  }

  /** Align `df` to the union of its columns and `extra`'s columns, adding
    * nulls for missing props (schema evolution on property-add) and
    * widening conflicting column types (long+double → double, else
    * string — the schemaless-agtype fallback; a VariantType encoding is
    * the round-2 upgrade). */
  private def widen(x: DataType, y: DataType): DataType = (x, y) match {
    case _ if x == y => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType // lossless
    case (NullType, t) => t
    case (t, NullType) => t
    // [] / {} literals carry no element type — unify with any container
    // of the same kind (an empty agtype array equals [] whatever the
    // column's element type)
    case (ArrayType(NullType, _), t: ArrayType) => t
    case (t: ArrayType, ArrayType(NullType, _)) => t
    case (ArrayType(IntegerType, _), ArrayType(LongType, _)) |
        (ArrayType(LongType, _), ArrayType(IntegerType, _)) =>
      ArrayType(LongType)
    case (MapType(StringType, NullType, _), t: MapType) => t
    case (t: MapType, MapType(StringType, NullType, _)) => t
    // every other scalar conflict — including int-vs-float — keeps
    // per-value typing via the tagged-union variant encoding: widening
    // longs to double would print 2 as 2.0 and lose exactness past
    // 2^53 (agtype keeps AGTV_INTEGER / AGTV_FLOAT distinct per value)
    case _ if AgVariant.scalar(x) && AgVariant.scalar(y) => AgVariant.schema
    // container/entity conflicts (array vs scalar, map vs array, …)
    // carry through the variant's container slot too (round 5):
    // AGTV_ARRAY/OBJECT recursion, no string degradation
    case _ if AgVariant.encodable(x) && AgVariant.encodable(y) => AgVariant.schema
    case _ => dontWiden(x, y)
  }

  private def dontWiden(x: DataType, y: DataType): DataType = {
    // Not agtype-encodable (binary, interval, …): widen to string and
    // warn — comparisons on this property become lexicographic.
    System.err.println(
      s"[graft] WARN: property type conflict ($x vs $y) widened to string; " +
        "comparisons and aggregations on this property become string-typed")
    StringType
  }

  private def conv(c: Column, from: DataType, to: DataType): Column =
    if (from == to) c
    else if (AgVariant.isVariant(to)) AgVariant.encode(c, from)
    else c.cast(to)

  /** Pad both frames to the union of their columns with widened types
    * (see widen). Returned separately so constraint checks can probe
    * the new batch against the old rows without re-aggregating their
    * union. */
  private def alignPair(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val aCols = a.schema.fieldNames.toSeq
    val bCols = b.schema.fieldNames.toSeq
    val all = (aCols ++ bCols).distinct
    def target(c: String): DataType = (aCols.contains(c), bCols.contains(c)) match {
      case (true, true) => widen(a.schema(c).dataType, b.schema(c).dataType)
      case (true, false) => a.schema(c).dataType
      case _ => b.schema(c).dataType
    }
    def pad(df: DataFrame, have: Seq[String]) = df.select(all.map { c =>
      // exact-name reference: encoded property names may contain dots
      if (have.contains(c)) conv(PropName.qcol(c), df.schema(c).dataType, target(c)).as(c)
      else lit(null).cast(target(c)).as(c)
    }: _*)
    (pad(a, aCols), pad(b, bCols))
  }

  /** The empty frame a label is registered with: the first append takes
    * the batch as the label's frame. Read off the plan, so testing it runs
    * no job, unlike `isEmpty`. */
  private def isPlaceholder(df: DataFrame): Boolean = df.queryExecution.logical match {
    case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
    case _ => false
  }

  /** Append vertex rows (id + prop columns) to a label. Rows must already
    * carry allocated ids. */
  def appendVertices(label: String, rows: DataFrame, newMaxEntry: Long): Unit = synchronized {
    createVertexLabel(label)
    val s = vLabels(label)
    // transactional uniqueness: a duplicate WITHIN the batch and a
    // conflict against existing rows both fail before the swap
    // (index.sql Tests 1-2), but via an O(batch) probe — the existing
    // label is scanned once, never re-aggregated (see checkUniqueBatch)
    val merged =
      if (isPlaceholder(s.df)) {
        enforceVertexConstraints(label, existing = None, batch = rows)
        rows
      } else {
        val (oldP, newP) = alignPair(s.df, rows)
        enforceVertexConstraints(label, existing = Some(oldP), batch = newP)
        oldP.unionByName(newP)
      }
    vLabels += label -> s.copy(df = merged, maxEntry = math.max(s.maxEntry, newMaxEntry))
    dirtyV += label
  }

  def appendEdges(label: String, rows: DataFrame, newMaxEntry: Long): Unit = synchronized {
    createEdgeLabel(label)
    val s = eLabels(label)
    val merged =
      if (isPlaceholder(s.df)) {
        enforceEdgeConstraints(label, existing = None, batch = rows)
        rows
      } else {
        val (oldP, newP) = alignPair(s.df, rows)
        enforceEdgeConstraints(label, existing = Some(oldP), batch = newP)
        oldP.unionByName(newP)
      }
    eLabels += label -> s.copy(df = merged, maxEntry = math.max(s.maxEntry, newMaxEntry))
    dirtyE += label
  }

  /** Overwrite a property column for the given (id, value) updates on
    * whichever labels the ids belong to (label recoverable from the id —
    * graphid.h:59-60). `updates`: (id, __newval). */
  def setVertexProperty(key: String, updates: DataFrame): Unit = synchronized {
    val changed = applyProp(vLabels, key, updates)
    // SET can violate a unique constraint whose tuple includes the key
    // (index.sql Test 3) — check every touched frame BEFORE any swap so
    // the statement fails atomically; touched-vs-rest batch probe, not
    // a full-label re-aggregation
    val ids = updates.select(col("id")).distinct()
    changed.foreach { case (l, st) =>
      enforceConstraintsOnSet(uniqueV.getOrElse(l, Nil), st.df, ids, key)
    }
    changed.foreach { case (l, st) =>
      vLabels += l -> st; dirtyV += l
    }
  }

  /** Overwrite SEVERAL property columns in one pass: a single left join
    * and a single frame pin per touched label regardless of how many
    * properties change. The streaming-upsert path (GraphIngest) updates
    * every non-key property of a micro-batch at once — through the
    * per-key [[setVertexProperty]] that costs one label
    * materialization PER PROPERTY; here it is one total.
    * `updates`: (id, <one column per raw property name in keys>). */
  def setVertexProperties(keys: Seq[String], updates: DataFrame): Unit = synchronized {
    val changed = applyProps(vLabels, keys, updates)
    val ids = updates.select(col("id")).distinct()
    changed.foreach { case (l, st) =>
      val relevant = uniqueV.getOrElse(l, Nil)
        .filter { case (_, ps) => ps.exists(keys.contains) }
      if (relevant.nonEmpty) {
        val touched = st.df.join(ids, Seq("id"), "left_semi")
        val rest = st.df.join(ids, Seq("id"), "left_anti")
        relevant.foreach { case (n, ps) => checkUniqueBatch(Some(rest), touched, ps, n) }
      }
    }
    changed.foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
  }

  /** Edge twin of [[setVertexProperties]]. */
  def setEdgeProperties(keys: Seq[String], updates: DataFrame): Unit = synchronized {
    val changed = applyProps(eLabels, keys, updates)
    val ids = updates.select(col("id")).distinct()
    changed.foreach { case (l, st) =>
      val relevant = uniqueE.getOrElse(l, Nil)
        .filter { case (_, ps) => ps.exists(keys.contains) }
      if (relevant.nonEmpty) {
        val touched = st.df.join(ids, Seq("id"), "left_semi")
        val rest = st.df.join(ids, Seq("id"), "left_anti")
        relevant.foreach { case (n, ps) => checkUniqueBatch(Some(rest), touched, ps, n) }
      }
    }
    changed.foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
  }

  private def applyProps(
      labels: scala.collection.immutable.ListMap[String, LabelState],
      keys0: Seq[String], updates0: DataFrame): Seq[(String, LabelState)] = {
    // positional rename to synthetic names: value columns must arrive in
    // `keys0` order after `id`, but their NAMES are never resolved —
    // property keys may contain dots/backticks that col() would
    // misparse (the same reason the single-key path uses "__newval")
    require(updates0.columns.head == "id" && updates0.columns.length == keys0.length + 1,
      s"applyProps: updates must be (id, <${keys0.size} value cols>), got ${updates0.columns.toSeq}")
    val nv = keys0.indices.map(i => s"__nv#$i")
    val (updates, hitIds) = pinWithLabels(updates0.toDF("id" +: nv: _*))
    labels.toSeq.flatMap { case (l, s) =>
      val lo = GraphId.make(s.labelId, 0)
      val hi = GraphId.make(s.labelId, GraphId.EntryIdMax)
      if (!hitIds(s.labelId)) None
      else {
        val u = updates.filter(col("id").between(lo, hi))
          .withColumn("__hit", lit(true))
        var df = s.df.join(u, Seq("id"), "left_outer")
        for ((k0, i) <- keys0.zipWithIndex) {
          val key = PropName.enc(k0)
          val c = col(nv(i))
          val newDt = u.schema(nv(i)).dataType
          df =
            if (s.df.schema.fieldNames.contains(key)) {
              val curDt = s.df.schema(key).dataType
              val to = widen(curDt, newDt)
              df.withColumn(key,
                when(col("__hit"), conv(c, newDt, to))
                  .otherwise(conv(PropName.qcol(key), curDt, to)))
            } else df.withColumn(key, when(col("__hit"), c))
        }
        df = df.drop("__hit" +: nv: _*)
        Some(l -> s.copy(df = df.localCheckpoint(true)))
      }
    }
  }

  def setEdgeProperty(key: String, updates: DataFrame): Unit = synchronized {
    val changed = applyProp(eLabels, key, updates)
    val ids = updates.select(col("id")).distinct()
    changed.foreach { case (l, st) =>
      enforceConstraintsOnSet(uniqueE.getOrElse(l, Nil), st.df, ids, key)
    }
    changed.foreach { case (l, st) =>
      eLabels += l -> st; dirtyE += l
    }
  }

  private def applyProp(
      labels: scala.collection.immutable.ListMap[String, LabelState],
      key0: String, updates0: DataFrame): Seq[(String, LabelState)] = {
    val key = PropName.enc(key0) // reserved names escape at frame level
    val (updates, hitIds) = pinWithLabels(updates0)
    labels.toSeq.flatMap { case (l, s) =>
      // label-id pruning: only touch frames whose id range is hit
      val lo = GraphId.make(s.labelId, 0)
      val hi = GraphId.make(s.labelId, GraphId.EntryIdMax)
      // __hit marks membership in the update set: a row can be updated
      // TO null (SET n.k = null / SET n += {k: null} remove the key,
      // reference: cypher_set.out "+= {role:NULL}" drops role), which a
      // bare null-check after the left join can't tell from a join miss
      val u = updates.filter(col("id").between(lo, hi))
        .select(col("id"), col("__newval"), lit(true).as("__hit"))
      if (!hitIds(s.labelId)) None
      else {
        val joined = s.df.join(u, Seq("id"), "left_outer")
        val newDf =
          if (s.df.schema.fieldNames.contains(key)) {
            // the new value's type may conflict with the column: widen
            // both sides like an append would (variant on scalar mixes)
            val curDt = s.df.schema(key).dataType
            val newDt = u.schema("__newval").dataType
            val to = widen(curDt, newDt)
            joined.withColumn(key,
              when(col("__hit"), conv(col("__newval"), newDt, to))
                .otherwise(conv(PropName.qcol(key), curDt, to)))
              .drop("__newval", "__hit")
          } else joined.withColumnRenamed("__newval", key).drop("__hit")
        // pin the touched frame: without this every SET layers another
        // join onto the label's lineage and planning cost grows
        // superlinearly over a mutation session (the mutation-path twin
        // of round 4's pinned iterative frontiers). Store-backed graphs
        // swap these pins for durable parquet via commitAndRebind.
        Some(l -> s.copy(df = newDf.localCheckpoint(true)))
      }
    }
  }

  /** Remove a property (set to null) for the given ids. */
  def removeVertexProperty(key: String, ids: DataFrame): Unit = synchronized {
    removeProp(vLabels, key, ids).foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
  }

  def removeEdgeProperty(key: String, ids: DataFrame): Unit = synchronized {
    removeProp(eLabels, key, ids).foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
  }

  /** The rewritten frames of the labels `ids` hit that carry the key. */
  private def removeProp(
      labels: scala.collection.immutable.ListMap[String, LabelState],
      key0: String, ids: DataFrame): Seq[(String, LabelState)] = {
    val key = PropName.enc(key0)
    val carrying = labels.toSeq.filter(_._2.df.schema.fieldNames.contains(key))
    if (carrying.isEmpty) return Nil
    val (idDf, hit) = pinWithLabels(ids.select(col("id")))
    carrying.collect { case (l, s) if hit(s.labelId) =>
      val newDf = s.df.join(idDf.select(col("id"), lit(true).as("__rm")), Seq("id"), "left_outer")
        .withColumn(key, when(col("__rm"), lit(null).cast(s.df.schema(key).dataType)).otherwise(PropName.qcol(key)))
        .drop("__rm")
      l -> s.copy(df = newDf.localCheckpoint(true)) // see applyProp
    }
  }

  /** Delete vertices by id. Unless detach, error if any incident edge
    * remains (reference: cypher_delete.c:70-196 semantics). Only the
    * vertex labels the ids hit and the edge labels holding an incident
    * edge are rewritten. */
  def deleteVertices(ids: DataFrame, detach: Boolean): Unit = synchronized {
    val (idDf, hitV) = pinWithLabels(ids.select(col("id")))
    val incident = incidentEdgeLabels(idDf)
    if (detach) {
      eLabels.toSeq.foreach { case (l, s) =>
        if (incident(s.labelId)) {
          val newDf = s.df
            .join(idDf.select(col("id").as("__del_s")), col("start_id") === col("__del_s"), "left_anti")
            .join(idDf.select(col("id").as("__del_e")), col("end_id") === col("__del_e"), "left_anti")
          eLabels += l -> s.copy(df = newDf.localCheckpoint(true)) // see applyProp
          dirtyE += l
        }
      }
    } else if (incident.nonEmpty)
      throw new IllegalStateException(
        "Cannot delete a vertex that still has edges; use DETACH DELETE")
    antiJoinHit(vLabels, idDf, hitV).foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
  }

  def deleteEdges(ids: DataFrame): Unit = synchronized {
    val (idDf, hit) = pinWithLabels(ids.select(col("id")))
    antiJoinHit(eLabels, idDf, hit).foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
  }

  /** Pin a write's id-keyed input (update rows or a delete's ids) and
    * name the labels its ids hit, in one job that adds no shuffle (ids
    * carry their label — graphid.h:59-60); the label rewrites then read
    * the pinned rows instead of recomputing the statement's plan. No
    * distinct(): a delete's anti-joins ignore duplicate ids. */
  private def pinWithLabels(df: DataFrame): (DataFrame, Set[Int]) = {
    val (pinned, parts) = DfUtils.pinAndSummarize(
      df.select(MutableGraph.labelOf(col("id")).as("__lid"), col("*")))(MutableGraph.partitionStats)
    val stats = MutableGraph.mergeStats(parts)
    // a pinned frame carries no size estimate, so the joins against it
    // would shuffle the label; Spark's broadcast threshold decides on the
    // measured row count instead
    val out = pinned.drop("__lid")
    val bytes = stats.values.map(_._1).sum * out.schema.defaultSize
    (if (bytes <= SQLConf.get.autoBroadcastJoinThreshold) broadcast(out) else out, stats.keySet)
  }

  /** Label ids of the edge labels holding an edge incident to `idDf`'s
    * vertices: one probe over the union of the edge frames, as one equi
    * semi-join of each edge's two endpoints (exploded to rows) against the
    * ids — an OR of the two endpoint conditions would plan a nested-loop
    * join. Only the endpoint columns are read, so the scan skips whatever
    * computes a label's edge ids. */
  private def incidentEdgeLabels(idDf: DataFrame): Set[Int] =
    eLabels.values.map { s =>
      s.df.select(lit(s.labelId).as("__lid"),
        explode(array(col("start_id"), col("end_id"))).as("__end"))
    }.reduceOption(_ unionByName _).fold(Set.empty[Int]) { ends =>
      val touching = ends
        .join(idDf.select(col("id").as("__del")), col("__end") === col("__del"), "left_semi")
      lastIncidentProbePlan = touching.queryExecution.executedPlan.toString
      MutableGraph.statsPerKey(touching).keySet
    }

  /** Test/diagnostic hook: physical plan of the most recent incident-edge
    * probe of a vertex delete. */
  @volatile private[graph] var lastIncidentProbePlan: String = ""

  /** The rewritten frames of the labels `hit`, without `idDf`'s ids. */
  private def antiJoinHit(
      labels: scala.collection.immutable.ListMap[String, LabelState], idDf: DataFrame,
      hit: Set[Int]): Seq[(String, LabelState)] =
    labels.toSeq.collect { case (l, s) if hit(s.labelId) =>
      l -> s.copy(df = s.df.join(idDf, Seq("id"), "left_anti").localCheckpoint(true))
    }

  /** Drop a label and all its data (reference: drop_label,
    * label_commands.c:881-970 — errors when the label does not exist;
    * the data goes with the relation and edges referencing dropped
    * vertices are NOT checked, matching the reference). The next
    * GraphStore.commit's manifest simply omits the label, so the drop is
    * transactional like every other mutation. */
  def dropVertexLabel(label: String): Unit = synchronized {
    if (!vLabels.contains(label))
      throw new IllegalArgumentException(s"label \"$label\" does not exist")
    vLabels -= label
    dirtyV -= label
  }

  def dropEdgeLabel(label: String): Unit = synchronized {
    if (!eLabels.contains(label))
      throw new IllegalArgumentException(s"label \"$label\" does not exist")
    eLabels -= label
    dirtyE -= label
  }

  /** Pin current frames (cut lineage after a batch of mutations). */
  def checkpoint(): Unit = synchronized {
    vLabels.toSeq.foreach { case (l, s) => vLabels += l -> s.copy(df = s.df.localCheckpoint(true)) }
    eLabels.toSeq.foreach { case (l, s) => eLabels += l -> s.copy(df = s.df.localCheckpoint(true)) }
  }

  /** Swap a label's frame for an equivalent one (GraphStore rebinds
    * committed labels to their durable parquet so lineage roots at the
    * store, not at executor-memory checkpoint blocks). Does not mark the
    * label dirty — the content is unchanged by contract. */
  private[graph] def rebindVertexLabel(label: String, df: DataFrame): Unit =
    synchronized { vLabels += label -> vLabels(label).copy(df = df) }

  private[graph] def rebindEdgeLabel(label: String, df: DataFrame): Unit =
    synchronized { eLabels += label -> eLabels(label).copy(df = df) }
}

object MutableGraph {
  /** Validated user-facing creation (reference: create_graph validates
    * the name before creating the schema, graph_commands.c:84; names
    * longer than 63 chars truncate first like PG identifiers). The bare
    * constructor stays available for engine-internal scratch graphs. */
  def create(name: String, spark: SparkSession): MutableGraph =
    new MutableGraph(NameValidation.requireGraphName(name), spark)

  /** Start from an existing immutable graph (e.g. loaded from parquet). */
  def from(g: PropertyGraph, spark: SparkSession): MutableGraph = {
    val m = new MutableGraph(g.name, spark)
    val (vMax, eMax) = maxEntries(g)
    g.vertexLabels.foreach { vl =>
      m.registerVertexLabel(vl.name, vl.labelId)
      m.appendVertices(vl.name, vl.df, vMax(vl.name))
    }
    g.edgeLabels.foreach { el =>
      m.registerEdgeLabel(el.name, el.labelId)
      m.appendEdges(el.name, el.df, eMax(el.name))
    }
    m
  }

  /** Every label's max entry id (0 for an empty label) — the sequence
    * state a mutable store resumes from — in ONE job over the union of
    * the label id columns, each tagged with its label's position; the job
    * adds no shuffle. Returns (vertex label → max, edge label → max). */
  private def maxEntries(g: PropertyGraph): (Map[String, Long], Map[String, Long]) = {
    val frames = g.vertexLabels.map(_.df) ++ g.edgeLabels.map(_.df)
    val stats = frames.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("__k"), col("id")) }
      .reduceOption(_ unionByName _).fold(Map.empty: KeyStats)(statsPerKey)
    val (v, e) = frames.indices.map(i => stats.get(i).fold(0L)(_._2)).splitAt(g.vertexLabels.size)
    (g.vertexLabels.map(_.name).zip(v).toMap, g.edgeLabels.map(_.name).zip(e).toMap)
  }

  /** The label id packed into a graph id column (graphid.h:59-60). */
  private def labelOf(id: Column): Column =
    shiftrightunsigned(id, GraphId.EntryIdBits).bitwiseAND(lit(0xffffL)).cast("int")

  /** Per key: (rows, highest entry id). */
  private type KeyStats = Map[Int, (Long, Long)]

  /** [[KeyStats]] of a (key: int, id: long) frame in one job that adds
    * no shuffle: a per-partition map, merged by the caller. */
  private def statsPerKey(keyed: DataFrame): KeyStats =
    mergeStats(DfUtils.summarize(keyed)(partitionStats))

  /** One partition's (key: int, id: long) rows → [[KeyStats]]; rows with
    * a null key or id count for no key. */
  private def partitionStats(rows: Iterator[InternalRow]): KeyStats = {
    val m = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = m.getOrElseUpdate(r.getInt(0), Array(0L, 0L))
        a(0) += 1
        a(1) = math.max(a(1), GraphId.entryId(r.getLong(1)))
      }
    }
    m.iterator.map { case (k, a) => k -> ((a(0), a(1))) }.toMap
  }

  private def mergeStats(parts: Array[KeyStats]): KeyStats =
    parts.foldLeft(Map.empty: KeyStats) { (acc, p) =>
      p.foldLeft(acc) { case (a, (k, (n, e))) =>
        a.updated(k, a.get(k).fold((n, e)) { case (n0, e0) => (n0 + n, math.max(e0, e)) })
      }
    }
}
