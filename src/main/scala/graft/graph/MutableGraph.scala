package graft.graph

import scala.collection.immutable.{ListMap, VectorMap}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.FrameBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{AgVariant, GraphId}

/** Updatable property graph: per label, a base frame plus a bounded,
  * driver-held delta.
  *
  * The Spark analogue of AGE's heap-table writes (reference: executors in
  * src/backend/executor/cypher_create.c / cypher_set.c / cypher_delete.c /
  * cypher_merge.c), whose cost is the rows a clause writes. A small write
  * batch is collected once (no job when the optimizer already folded it
  * to a LocalRelation) and applied on the driver to the delta of each
  * label its ids hit: appended rows, hidden base ids (base edges of
  * deleted vertices hidden by endpoint), and per-id property patches.
  * Readers see each label through one view, rebuilt only when that
  * label's delta changes: the base anti-joined with the hidden ids,
  * unioned with the appended rows, left-joined with the patches. Those parts are LocalRelations joined by id, broadcast from
  * the driver (graft.plans.DriverBroadcast), so the view's plan does not
  * grow with the number of writes. A delta that outgrows Spark's
  * broadcast threshold folds: its view is pinned as the label's new base.
  *
  * A batch the driver cannot hold (over the threshold, or any batch when
  * the threshold is ≤ 0) takes the copy-on-write arm: the label's view
  * is rewritten (union / anti-join / column overwrite), pinned with a
  * measured size estimate and swapped in as the new base — on a cluster
  * a Delta/Iceberg transactional write with the same semantics.
  *
  * Either arm touches, and marks dirty for the next commit, only the
  * labels a write's ids hit: ids carry their label (graphid.h:59-60), and
  * every other label keeps its frame object.
  *
  * Id allocation mirrors the per-label sequences
  * (label_commands.c:361-366): 16-bit label id | 48-bit entry counter.
  */
final class MutableGraph(initialName: String, val spark: SparkSession) {
  import MutableGraph.{Delta, idSchema, noDelta}

  private var _name: String = initialName
  def name: String = synchronized(_name)

  /** Rename the graph (reference: alter_graph(name, 'RENAME', new_name)
    * renames the backing schema, graph_commands.c:336/349-380, and
    * validates the new name at :358). The next GraphStore.commit writes
    * the new name into the manifest. */
  def rename(newName: String): Unit = synchronized {
    _name = NameValidation.requireGraphName(newName, "new graph name")
  }

  /** `df` is the label's view, the frame every reader sees: `base` while
    * the delta is empty. */
  private case class LabelState(labelId: Int, base: DataFrame, maxEntry: Long, delta: Delta,
      df: DataFrame)

  /** A label with no delta. */
  private def state(labelId: Int, base: DataFrame, maxEntry: Long): LabelState =
    LabelState(labelId, base, maxEntry, noDelta, base)

  private var vLabels = ListMap.empty[String, LabelState]
  private var eLabels = ListMap.empty[String, LabelState]
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
    vLabels += label -> state(labelId, df, 0L)
    nextLabelId = math.max(nextLabelId, labelId + 1)
  }

  def registerEdgeLabel(label: String, labelId: Int): Unit = synchronized {
    require(!eLabels.contains(label))
    val df = spark.createDataFrame(new java.util.ArrayList[Row](), edgeSchemaBase)
    eLabels += label -> state(labelId, df, 0L)
    nextLabelId = math.max(nextLabelId, labelId + 1)
  }

  def createVertexLabel(label: String): Unit = synchronized {
    if (!vLabels.contains(label)) {
      NameValidation.requireLabelName(label) // reference: create_vlabel validates
      val df = spark.createDataFrame(new java.util.ArrayList[Row](), vertexSchema)
      vLabels += label -> state(allocLabelId(), df, 0L)
      dirtyV += label
    }
  }

  def createEdgeLabel(label: String): Unit = synchronized {
    if (!eLabels.contains(label)) {
      NameValidation.requireLabelName(label)
      val df = spark.createDataFrame(new java.util.ArrayList[Row](), edgeSchemaBase)
      eLabels += label -> state(allocLabelId(), df, 0L)
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

  /** Checks `batch` against `existing` for each of `cs` (see
    * checkUniqueBatch). */
  private def enforce(cs: Seq[(String, Seq[String])], existing: Option[DataFrame],
      batch: DataFrame): Unit =
    cs.foreach { case (n, ps) => checkUniqueBatch(existing, batch, ps, n) }

  /** SET-path uniqueness: split each changed label's new view into the
    * touched rows (semi-join on the update ids) and the untouched rest
    * (anti-join) and batch-probe touched-vs-rest. Untouched-vs-untouched
    * needs no check — it was valid before the statement and is
    * unchanged. Only constraints whose tuple contains a set key are
    * checked (index.sql Test 3). */
  private def enforceOnSet(constraints: Map[String, Seq[(String, Seq[String])]],
      changed: Seq[(String, LabelState)], keys: Seq[String], ids: DataFrame): Unit =
    changed.foreach { case (l, st) =>
      val relevant = constraints.getOrElse(l, Nil).filter { case (_, ps) => ps.exists(keys.contains) }
      if (relevant.nonEmpty)
        enforce(relevant, Some(st.df.join(ids, Seq("id"), "left_anti")),
          st.df.join(ids, Seq("id"), "left_semi"))
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
  private def widen(x: DataType, y: DataType): DataType =
    // a widened type is nullable throughout: values of either side cast
    // to it, whatever nullability their containers claimed
    if (x == y) x else FrameBridge.nullable(widened(x, y))

  private def widened(x: DataType, y: DataType): DataType = (x, y) match {
    // types that differ only in nullability (a map literal's values, an
    // array's elements) are one type
    case _ if DataTypeUtils.equalsIgnoreNullability(x, y) => x
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

  // ---- the delta arm ----------------------------------------------------

  /** Bytes a write batch, and a label's delta, may hold on the driver:
    * Spark's broadcast threshold, the size up to which a join ships a
    * relation whole. Set only by tests, to force the copy-on-write arm
    * (≤ 0) or an early fold; None reads the session's threshold. */
  @volatile private[graft] var deltaThreshold: Option[Long] = None

  private[graft] def batchThreshold: Long =
    deltaThreshold.getOrElse(SQLConf.get.autoBroadcastJoinThreshold)

  /** A write batch as a frame over driver-held rows, when it fits
    * [[batchThreshold]]: one job, or none for a batch the optimizer
    * folds to a LocalRelation (DfUtils.local). */
  private[graft] def localBatch(df: DataFrame): Option[DataFrame] =
    DfUtils.local(df, batchThreshold)

  /** Folds so far: deltas that outgrew the threshold and were pinned. */
  @volatile private[graph] var folds = 0

  private def localFrame(schema: StructType, rows: Seq[InternalRow]): DataFrame =
    FrameBridge.localFrame(spark, schema, rows)

  /** `s` under delta `d`: the view rebuilt, and folded into a new pinned
    * base once `d` outgrows the threshold. */
  private def withDelta(s: LabelState, d: Delta): LabelState = {
    val next = s.copy(delta = d, df = viewOf(s.base, d))
    if (d.bytes <= batchThreshold) next
    else { folds += 1; state(s.labelId, DfUtils.pin(next.df), s.maxEntry) }
  }

  /** base ⊎ delta: hidden ids and edges of detached vertices anti-joined,
    * appended rows unioned (types
    * widened as an append widens them), patches left-joined (as a SET
    * widens them), columns in copy-on-write order. */
  private def viewOf(base: DataFrame, d: Delta): DataFrame =
    if (d.isEmpty) base
    else {
      var v = base
      if (d.hidden.nonEmpty)
        v = v.join(localFrame(idSchema, d.hidden.toSeq.map(InternalRow(_))), Seq("id"), "left_anti")
      if (d.detached.nonEmpty) {
        val gone = localFrame(idSchema, d.detached.toSeq.map(InternalRow(_)))
        v = v.join(gone.select(col("id").as("__del_s")), col("start_id") === col("__del_s"), "left_anti")
          .join(gone.select(col("id").as("__del_e")), col("end_id") === col("__del_e"), "left_anti")
      }
      if (d.rowSchema.nonEmpty) {
        // one partition: a handful of rows split across the cores would
        // add as many tasks to every read and files to every commit
        val (a, b) = alignPair(v, localFrame(d.rowSchema, d.rows).coalesce(1))
        v = a.unionByName(b)
      }
      if (d.patchKeys.nonEmpty) {
        val keyed = v.join(localFrame(d.patchSchema, d.patches.values.toSeq), Seq("id"), "left_outer")
        v = d.patchKeys.zipWithIndex.foldLeft(keyed) { case (df, (key, i)) =>
          // __h#i marks a patch of this key: a row can be set TO null,
          // which the patched value alone can't tell from a join miss
          val (hit, c) = (col(s"__h#$i"), col(s"__p#$i"))
          val newDt = d.patchSchema(s"__p#$i").dataType
          if (v.schema.fieldNames.contains(key)) {
            val curDt = v.schema(key).dataType
            val to = widen(curDt, newDt)
            df.withColumn(key, when(hit, conv(c, newDt, to)).otherwise(conv(PropName.qcol(key), curDt, to)))
          } else df.withColumn(key, when(hit, c))
        }.drop(d.patchSchema.fieldNames.filterNot(_ == "id").toSeq: _*)
      }
      v.select(d.cols.map(PropName.qcol): _*)
    }

  /** `s`'s delta with the rows of `batch` (a local frame) appended. */
  private def appendedDelta(s: LabelState, batch: DataFrame): Delta = {
    val d = s.delta
    val cols = (s.df.columns.toSeq ++ batch.columns).distinct
    if (d.rowSchema.isEmpty)
      d.copy(rowSchema = FrameBridge.nullable(batch.schema), rows = DfUtils.localRows(batch).toVector,
        cols = cols)
    else {
      val (a, b) = alignPair(localFrame(d.rowSchema, d.rows), batch)
      d.copy(rowSchema = FrameBridge.nullable(a.schema),
        rows = (DfUtils.localRows(a) ++ DfUtils.localRows(b)).toVector, cols = cols)
    }
  }

  /** `s`'s delta without the entities `ids`: appended rows are dropped,
    * base rows hidden, patches forgotten. */
  private def deletedDelta(s: LabelState, ids: Set[Long]): Delta = {
    val d = s.delta
    val (gone, kept) =
      if (d.rows.isEmpty) (Vector.empty[InternalRow], d.rows)
      else {
        val at = d.rowSchema.fieldIndex("id")
        d.rows.partition(r => ids(r.getLong(at)))
      }
    val appended = gone.map(_.getLong(d.rowSchema.fieldIndex("id"))).toSet
    d.copy(rows = kept, hidden = d.hidden ++ (ids -- appended), patches = d.patches -- ids,
      cols = s.df.columns.toSeq)
  }

  /** Edge label `s`'s delta without the edges incident to the deleted
    * vertices `vids`: appended edges are dropped, base edges hidden by
    * their endpoints, which a probe reads without computing edge ids. */
  private def detachedDelta(s: LabelState, vids: Set[Long]): Delta = {
    val d = s.delta
    val (gone, kept) =
      if (d.rows.isEmpty) (Vector.empty[InternalRow], d.rows)
      else {
        val (st, en) = (d.rowSchema.fieldIndex("start_id"), d.rowSchema.fieldIndex("end_id"))
        d.rows.partition(r => vids(r.getLong(st)) || vids(r.getLong(en)))
      }
    val at = if (gone.isEmpty) 0 else d.rowSchema.fieldIndex("id")
    d.copy(rows = kept, detached = d.detached ++ vids, patches = d.patches -- gone.map(_.getLong(at)),
      cols = s.df.columns.toSeq)
  }

  /** `s`'s delta with the updates `upd` patched in: (id, one value column
    * per key of `keys`, encoded names), a local frame. A key's patch
    * values share one type, widened like a column; the first row of an
    * id wins within `upd`, later statements override earlier ones key by
    * key. */
  private def patchedDelta(s: LabelState, keys: Seq[String], upd: DataFrame): Delta = {
    val d = s.delta
    val all = d.patchKeys ++ keys.filterNot(d.patchKeys.contains)
    def oldType(j: Int) = d.patchSchema(s"__p#$j").dataType
    def newType(j: Int) = upd.schema(j + 1).dataType
    val types = all.map { k =>
      (Option(d.patchKeys.indexOf(k)).filter(_ >= 0).map(oldType) ++
        Option(keys.indexOf(k)).filter(_ >= 0).map(newType)).reduce(widen)
    }
    // both sides re-typed to `types` by projections the optimizer folds
    // on the driver (a Project over a LocalRelation runs no job)
    def slots(index: String => Int, hit: Int => Column, value: Int => Column, from: Int => DataType) =
      all.indices.flatMap { i =>
        index(all(i)) match {
          case -1 => Seq(lit(false).as(s"__h#$i"), lit(null).cast(types(i)).as(s"__p#$i"))
          case j => Seq(hit(j).as(s"__h#$i"), conv(value(j), from(j), types(i)).as(s"__p#$i"))
        }
      }
    val old = localFrame(d.patchSchema, d.patches.values.toSeq).select(col("id") +:
      slots(d.patchKeys.indexOf, j => col(s"__h#$j"), j => col(s"__p#$j"), oldType): _*)
    val fresh = upd.select(col(upd.columns.head).as("id") +:
      slots(keys.indexOf, _ => lit(true), j => col(upd.columns(j + 1)), newType): _*)
    val schema = FrameBridge.nullable(fresh.schema)
    var patches = VectorMap.from(DfUtils.localRows(old).map(r => r.getLong(0) -> r))
    val seen = scala.collection.mutable.HashSet.empty[Long]
    for (r <- DfUtils.localRows(fresh) if seen.add(r.getLong(0))) {
      val id = r.getLong(0)
      patches = patches.updated(id, patches.get(id).fold(r) { o =>
        new GenericInternalRow((id +: all.indices.flatMap { i =>
          val src = if (r.getBoolean(2 * i + 1)) r else o
          Seq(src.getBoolean(2 * i + 1), src.get(2 * i + 2, types(i)))
        }).toArray[Any])
      })
    }
    d.copy(patchSchema = schema, patchKeys = all.toVector, patches = patches,
      cols = s.df.columns.toSeq ++ keys.filterNot(s.df.columns.contains))
  }

  /** A local batch's rows with a non-null id in column 0, grouped by the
    * label their id carries. */
  private def byLabel(batch: DataFrame): Map[Int, Seq[InternalRow]] =
    DfUtils.localRows(batch).filterNot(_.isNullAt(0)).groupBy(r => GraphId.labelId(r.getLong(0)))

  private def idsByLabel(batch: DataFrame): Map[Int, Set[Long]] =
    byLabel(batch).map { case (l, rs) => l -> rs.map(_.getLong(0)).toSet }

  // ---- writes -------------------------------------------------------------

  /** Append vertex rows (id + prop columns) to a label. Rows must already
    * carry allocated ids. */
  def appendVertices(label: String, rows: DataFrame, newMaxEntry: Long): Unit = synchronized {
    createVertexLabel(label)
    vLabels += label -> appended(vLabels(label), rows, newMaxEntry, uniqueV.getOrElse(label, Nil))
    dirtyV += label
  }

  def appendEdges(label: String, rows: DataFrame, newMaxEntry: Long): Unit = synchronized {
    createEdgeLabel(label)
    eLabels += label -> appended(eLabels(label), rows, newMaxEntry, uniqueE.getOrElse(label, Nil))
    dirtyE += label
  }

  /** `s` with `rows` appended. Transactional uniqueness: a duplicate
    * WITHIN the batch and a conflict against existing rows both fail
    * before the swap (index.sql Tests 1-2), via an O(batch) probe — the
    * existing label is scanned once, never re-aggregated (see
    * checkUniqueBatch). */
  private def appended(s: LabelState, rows: DataFrame, newMaxEntry: Long,
      cs: Seq[(String, Seq[String])]): LabelState = {
    val maxEntry = math.max(s.maxEntry, newMaxEntry)
    if (isPlaceholder(s.base) && s.delta.isEmpty) {
      enforce(cs, existing = None, batch = rows)
      state(s.labelId, rows, maxEntry)
    } else localBatch(rows) match {
      case Some(batch) =>
        if (cs.nonEmpty) {
          val (oldP, newP) = alignPair(s.df, batch)
          enforce(cs, Some(oldP), newP)
        }
        withDelta(s.copy(maxEntry = maxEntry), appendedDelta(s, batch))
      case None =>
        val (oldP, newP) = alignPair(s.df, rows)
        enforce(cs, Some(oldP), newP)
        state(s.labelId, oldP.unionByName(newP), maxEntry)
    }
  }

  /** Overwrite a property column for the given (id, value) updates on
    * whichever labels the ids belong to (label recoverable from the id —
    * graphid.h:59-60). `updates`: (id, value). */
  def setVertexProperty(key: String, updates: DataFrame): Unit =
    setVertexProperties(Seq(key), updates)

  def setEdgeProperty(key: String, updates: DataFrame): Unit =
    setEdgeProperties(Seq(key), updates)

  /** Overwrite SEVERAL property columns in one pass: one patch (or one
    * left join and pin) per touched label however many properties
    * change. A SET can violate a unique constraint whose tuple includes
    * a key (index.sql Test 3): every touched label is checked BEFORE any
    * swap, so the statement fails atomically. `updates`: (id, <one
    * column per raw property name in keys>); an id updated twice keeps
    * one of its rows. */
  def setVertexProperties(keys: Seq[String], updates: DataFrame): Unit = synchronized {
    val (changed, ids) = setProps(vLabels, keys, updates)
    enforceOnSet(uniqueV, changed, keys, ids)
    changed.foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
  }

  /** Edge twin of [[setVertexProperties]]. */
  def setEdgeProperties(keys: Seq[String], updates: DataFrame): Unit = synchronized {
    val (changed, ids) = setProps(eLabels, keys, updates)
    enforceOnSet(uniqueE, changed, keys, ids)
    changed.foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
  }

  /** The changed labels and the updated ids. */
  private def setProps(labels: ListMap[String, LabelState], keys0: Seq[String],
      updates0: DataFrame): (Seq[(String, LabelState)], DataFrame) = {
    // positional rename to synthetic names: value columns must arrive in
    // `keys0` order after `id`, but their NAMES are never resolved —
    // property keys may contain dots/backticks that col() would
    // misparse, and a key named "id" must not collide
    require(updates0.columns.length == keys0.length + 1,
      s"setProps: updates must be (id, <${keys0.size} value cols>), got ${updates0.columns.toSeq}")
    val keys = keys0.map(PropName.enc) // reserved names escape at frame level
    val nv = keys.indices.map(i => s"__nv#$i")
    val renamed = updates0.toDF("id" +: nv: _*)
    localBatch(renamed) match {
      case Some(batch) =>
        val hit = byLabel(batch)
        val changed = labels.toSeq.collect { case (l, s) if hit.contains(s.labelId) =>
          l -> withDelta(s, patchedDelta(s, keys, localFrame(batch.schema, hit(s.labelId))))
        }
        (changed, batch.select(col("id")))
      case None =>
        val (updates, hitIds) = pinWithLabels(renamed.dropDuplicates("id"))
        val changed = labels.toSeq.collect { case (l, s) if hitIds(s.labelId) =>
          val lo = GraphId.make(s.labelId, 0)
          val hi = GraphId.make(s.labelId, GraphId.EntryIdMax)
          val u = updates.filter(col("id").between(lo, hi)).withColumn("__hit", lit(true))
          var df = s.df.join(u, Seq("id"), "left_outer")
          for ((key, i) <- keys.zipWithIndex) {
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
          // pin the rewritten label: without it every SET layers another
          // join onto its lineage and planning cost grows superlinearly
          // over a mutation session
          l -> state(s.labelId, DfUtils.pin(df.drop("__hit" +: nv: _*)), s.maxEntry)
        }
        (changed, updates.select(col("id")))
    }
  }

  /** Remove a property (set to null) for the given ids. */
  def removeVertexProperty(key: String, ids: DataFrame): Unit = synchronized {
    removeProp(vLabels, key, ids).foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
  }

  def removeEdgeProperty(key: String, ids: DataFrame): Unit = synchronized {
    removeProp(eLabels, key, ids).foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
  }

  /** The changed states of the labels `ids` hit that carry the key. */
  private def removeProp(labels: ListMap[String, LabelState], key0: String,
      ids: DataFrame): Seq[(String, LabelState)] = {
    val key = PropName.enc(key0)
    val carrying = labels.toSeq.filter(_._2.df.schema.fieldNames.contains(key))
    if (carrying.isEmpty) return Nil
    localBatch(ids.select(col("id"))) match {
      case Some(batch) =>
        val hit = byLabel(batch)
        carrying.collect { case (l, s) if hit.contains(s.labelId) =>
          val nulls = localFrame(batch.schema, hit(s.labelId)).select(col("id"), lit(null).as("__nv#0"))
          l -> withDelta(s, patchedDelta(s, Seq(key), nulls))
        }
      case None =>
        val (idDf, hit) = pinWithLabels(ids.select(col("id")))
        carrying.collect { case (l, s) if hit(s.labelId) =>
          val newDf = s.df.join(idDf.select(col("id"), lit(true).as("__rm")), Seq("id"), "left_outer")
            .withColumn(key, when(col("__rm"), lit(null).cast(s.df.schema(key).dataType))
              .otherwise(PropName.qcol(key)))
            .drop("__rm")
          l -> state(s.labelId, DfUtils.pin(newDf), s.maxEntry) // see setProps
        }
    }
  }

  /** Delete vertices by id. Unless detach, error if any incident edge
    * remains (reference: cypher_delete.c:70-196 semantics). Only the
    * vertex labels the ids hit and the edge labels holding an incident
    * edge change. */
  def deleteVertices(ids: DataFrame, detach: Boolean): Unit = synchronized {
    val batch = localBatch(ids.select(col("id")))
    val (idDf, hitV) = batch match {
      case Some(b) => (b, idsByLabel(b))
      case None =>
        val (pinned, hit) = pinWithLabels(ids.select(col("id")))
        (pinned, hit.map(_ -> Set.empty[Long]).toMap)
    }
    val incident = MutableGraph.statsPerKey(incidentEdges(idDf)).keySet
    if (!detach && incident.nonEmpty)
      throw new IllegalStateException(
        "Cannot delete a vertex that still has edges; use DETACH DELETE")
    if (batch.isDefined) {
      val vids = hitV.values.flatten.toSet
      eLabels.toSeq.foreach { case (l, s) =>
        if (incident(s.labelId)) { eLabels += l -> withDelta(s, detachedDelta(s, vids)); dirtyE += l }
      }
      vLabels.toSeq.foreach { case (l, s) =>
        hitV.get(s.labelId).foreach { vs => vLabels += l -> withDelta(s, deletedDelta(s, vs)); dirtyV += l }
      }
    } else {
      eLabels.toSeq.foreach { case (l, s) =>
        if (incident(s.labelId)) {
          val newDf = s.df
            .join(idDf.select(col("id").as("__del_s")), col("start_id") === col("__del_s"), "left_anti")
            .join(idDf.select(col("id").as("__del_e")), col("end_id") === col("__del_e"), "left_anti")
          eLabels += l -> state(s.labelId, DfUtils.pin(newDf), s.maxEntry) // see setProps
          dirtyE += l
        }
      }
      antiJoinHit(vLabels, idDf, hitV.keySet).foreach { case (l, st) => vLabels += l -> st; dirtyV += l }
    }
  }

  def deleteEdges(ids: DataFrame): Unit = synchronized {
    localBatch(ids.select(col("id"))) match {
      case Some(batch) =>
        val hit = idsByLabel(batch)
        eLabels.toSeq.foreach { case (l, s) =>
          hit.get(s.labelId).foreach { es => eLabels += l -> withDelta(s, deletedDelta(s, es)); dirtyE += l }
        }
      case None =>
        val (idDf, hit) = pinWithLabels(ids.select(col("id")))
        antiJoinHit(eLabels, idDf, hit).foreach { case (l, st) => eLabels += l -> st; dirtyE += l }
    }
  }

  /** Pin a copy-on-write input (update rows or a delete's ids) and name
    * the labels its ids hit, in one job that adds no shuffle (ids carry
    * their label — graphid.h:59-60); the label rewrites then read the
    * pinned rows, sized by their measured count, instead of recomputing
    * the statement's plan. No distinct(): a delete's anti-joins ignore
    * duplicate ids. */
  private def pinWithLabels(df: DataFrame): (DataFrame, Set[Int]) = {
    val (pinned, parts) = DfUtils.pinAndSummarize(
      df.select(MutableGraph.labelOf(col("id")).as("__lid"), col("*")))(MutableGraph.partitionStats)
    (pinned.drop("__lid"), MutableGraph.mergeStats(parts).keySet)
  }

  /** (label id `__lid`, endpoint `__end`) of every edge incident to
    * `idDf`'s vertices: one probe over the union of the edge views, as
    * one equi semi-join of each edge's two endpoints (exploded to rows)
    * against the ids — an OR of the two endpoint conditions would plan a
    * nested-loop join. Only the endpoint columns are read, so the scan
    * skips whatever computes a label's edge ids. */
  private def incidentEdges(idDf: DataFrame): DataFrame =
    eLabels.values.map { s =>
      s.df.select(lit(s.labelId).as("__lid"), explode(array(col("start_id"), col("end_id"))).as("__end"))
    }.reduceOption(_ unionByName _).fold(
      localFrame(StructType(Seq(StructField("__lid", IntegerType), StructField("__end", LongType))), Nil)) {
      ends =>
        val touching = ends
          .join(idDf.select(col("id").as("__del")), col("__end") === col("__del"), "left_semi")
        lastIncidentProbePlan = touching.queryExecution.executedPlan.toString
        touching
    }

  /** Test/diagnostic hook: physical plan of the most recent incident-edge
    * probe of a vertex delete. */
  @volatile private[graph] var lastIncidentProbePlan: String = ""

  /** The rewritten, pinned frames of the labels `hit`, without `idDf`'s
    * ids. */
  private def antiJoinHit(labels: ListMap[String, LabelState], idDf: DataFrame,
      hit: Set[Int]): Seq[(String, LabelState)] =
    labels.toSeq.collect { case (l, s) if hit(s.labelId) =>
      l -> state(s.labelId, DfUtils.pin(s.df.join(idDf, Seq("id"), "left_anti")), s.maxEntry)
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

  /** Pin every label's view as its base (cut lineage after a batch of
    * mutations; folds every delta). */
  def checkpoint(): Unit = synchronized {
    vLabels = vLabels.map { case (l, s) => l -> state(s.labelId, DfUtils.pin(s.df), s.maxEntry) }
    eLabels = eLabels.map { case (l, s) => l -> state(s.labelId, DfUtils.pin(s.df), s.maxEntry) }
  }

  /** Swap a label's frame for an equivalent one (GraphStore rebinds
    * committed labels to their durable parquet so lineage roots at the
    * store, not at executor-memory checkpoint blocks). Clears the delta,
    * which the frame holds; does not mark the label dirty — the content
    * is unchanged by contract. */
  private[graph] def rebindVertexLabel(label: String, df: DataFrame): Unit =
    synchronized { vLabels += label -> state(vLabels(label).labelId, df, vLabels(label).maxEntry) }

  private[graph] def rebindEdgeLabel(label: String, df: DataFrame): Unit =
    synchronized { eLabels += label -> state(eLabels(label).labelId, df, eLabels(label).maxEntry) }
}

object MutableGraph {
  /** A label's writes held on the driver since its base frame: appended
    * rows under their own schema, hidden base ids, deleted vertices whose
    * base edges are hidden (`detached`, edge labels only), and property
    * patches — per id, for each patched key `patchKeys(i)` (an encoded
    * name), a hit flag `__h#i` and a value `__p#i`. `cols` is the view's column order:
    * the order the copy-on-write arm would have left. The schemas outlive
    * their rows: a column an append or a SET widened stays widened after
    * those rows are deleted, as it does under copy-on-write. */
  private final case class Delta(
      rowSchema: StructType, rows: Vector[InternalRow], hidden: Set[Long], detached: Set[Long],
      patchSchema: StructType, patchKeys: Vector[String], patches: VectorMap[Long, InternalRow],
      cols: Seq[String]) {
    def isEmpty: Boolean =
      rowSchema.isEmpty && hidden.isEmpty && detached.isEmpty && patchKeys.isEmpty
    /** Size at the schemas' default row sizes. */
    def bytes: Long = rows.size.toLong * rowSchema.defaultSize +
      (hidden.size + detached.size) * 8L + patches.size.toLong * patchSchema.defaultSize
  }

  private val idSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
  private val noDelta =
    Delta(new StructType(), Vector.empty, Set.empty, Set.empty, idSchema, Vector.empty,
      VectorMap.empty, Nil)

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
