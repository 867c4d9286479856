package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{AgVariant, GraphId}

/** One label = one typed dataset (the analogue of AGE's one-heap-table-
  * per-label layout, reference: src/backend/commands/label_commands.c:
  * 361-420). Vertex frames carry `id: long` + native typed property
  * columns; edge frames add `start_id`/`end_id`.
  *
  * Design note (100 TB): properties are kept as NATIVE typed columns per
  * label — not a serialized document — so parquet column pruning and
  * predicate pushdown apply to every property access. A label-less scan
  * (`MATCH (n)`) is a union of the per-label frames with schemas aligned
  * by name; Catalyst's constant folding + empty-relation propagation
  * prunes branches when a label filter is later applied, mirroring AGE's
  * label-table inheritance scan + `_extract_label_id(id) = N` filtering
  * (reference: src/backend/parser/cypher_clause.c:4795-4811).
  */
final case class VertexLabel(name: String, labelId: Int, df: DataFrame) {
  def propColumns: Seq[StructField] = df.schema.fields.toSeq.filterNot(_.name == "id")
}

final case class EdgeLabel(name: String, labelId: Int, df: DataFrame) {
  def propColumns: Seq[StructField] =
    df.schema.fields.toSeq.filterNot(f => Set("id", "start_id", "end_id")(f.name))
}

final class PropertyGraph(
    val name: String,
    val vertexLabels: Seq[VertexLabel],
    val edgeLabels: Seq[EdgeLabel]
) {
  private val vByName = vertexLabels.map(l => l.name -> l).toMap
  private val eByName = edgeLabels.map(l => l.name -> l).toMap

  def vertexLabel(name: String): VertexLabel =
    vByName.getOrElse(name, throw new IllegalArgumentException(s"unknown vertex label $name"))
  def edgeLabel(name: String): EdgeLabel =
    eByName.getOrElse(name, throw new IllegalArgumentException(s"unknown edge label $name"))
  def hasVertexLabel(name: String): Boolean = vByName.contains(name)
  def hasEdgeLabel(name: String): Boolean = eByName.contains(name)

  /** Union prop schema across labels, aligned by name. Conflicting types
    * for a shared prop name are widened (long+double→double, else string).
    */
  private def unionSchema(fieldsPerLabel: Seq[Seq[StructField]]): Seq[StructField] = {
    val order = scala.collection.mutable.LinkedHashMap[String, DataType]()
    for (fields <- fieldsPerLabel; f <- fields) {
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) if t == f.dataType => ()
        case Some(t) => order(f.name) = widen(t, f.dataType)
      }
    }
    order.map { case (n, t) => StructField(n, t) }.toSeq
  }

  private def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType // lossless
    // int-vs-float and every other scalar conflict keeps per-value typing
    // (tagged-union variant): widening a long column to double would turn
    // 2 into 2.0 in output and lose exactness past 2^53 — agtype keeps
    // AGTV_INTEGER and AGTV_FLOAT distinct per value
    case _ if AgVariant.scalar(a) && AgVariant.scalar(b) => AgVariant.schema
    // container/entity conflicts carry through the variant's container
    // slot (round 5) — same per-value typing, no string degradation
    case _ if AgVariant.encodable(a) && AgVariant.encodable(b) => AgVariant.schema
    case _ => StringType
  }

  private def aligned(df: DataFrame, label: String, target: Seq[StructField], fixed: Seq[String]): DataFrame = {
    val present = df.schema.fieldNames.toSet
    val cols = fixed.map(col) ++ Seq(lit(label).as("label")) ++ target.map { f =>
      if (!present(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (df.schema(f.name).dataType == f.dataType)
        PropName.qcol(f.name).as(f.name)
      else if (AgVariant.isVariant(f.dataType))
        AgVariant.encode(PropName.qcol(f.name), df.schema(f.name).dataType).as(f.name)
      else PropName.qcol(f.name).cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }

  /** The session the label frames live in, read off one frame:
    * `allVertices.sparkSession` builds and analyzes the whole label
    * union just to reach it. The active session for a graph with no
    * labels. */
  def spark: SparkSession =
    (vertexLabels.iterator.map(_.df) ++ edgeLabels.iterator.map(_.df)).nextOption()
      .fold(SparkSession.active)(_.sparkSession)

  /** All vertices with aligned schema: (id, label, props...). */
  def allVertices: DataFrame = {
    val target = unionSchema(vertexLabels.map(_.propColumns))
    vertexLabels.map(l => aligned(l.df, l.name, target, Seq("id"))).reduce(_ unionByName _)
  }

  /** All edges with aligned schema: (id, start_id, end_id, label, props...). */
  def allEdges: DataFrame = {
    val target = unionSchema(edgeLabels.map(_.propColumns))
    edgeLabels
      .map(l => aligned(l.df, l.name, target, Seq("id", "start_id", "end_id")))
      .reduce(_ unionByName _)
  }

  private def emptyFrame(fixed: Seq[String]): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val schema = StructType(fixed.map(StructField(_, LongType)) :+
      StructField("label", StringType))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** Edges restricted to any of `types` (empty = all), schema-aligned.
    * Unknown labels match nothing (MATCH on a never-created label is an
    * empty result, not an error). */
  def edgesOf(types: Seq[String]): DataFrame = {
    val labels = if (types.isEmpty) edgeLabels else types.flatMap(eByName.get)
    if (labels.isEmpty) return emptyFrame(Seq("id", "start_id", "end_id"))
    val target = unionSchema(labels.map(_.propColumns))
    labels
      .map(l => aligned(l.df, l.name, target, Seq("id", "start_id", "end_id")))
      .reduce(_ unionByName _)
  }

  /** Vertices restricted to any of `labels` (empty = all), schema-aligned. */
  def verticesOf(names: Seq[String]): DataFrame = {
    val labels = if (names.isEmpty) vertexLabels else names.flatMap(vByName.get)
    if (labels.isEmpty) return emptyFrame(Seq("id"))
    val target = unionSchema(labels.map(_.propColumns))
    labels.map(l => aligned(l.df, l.name, target, Seq("id"))).reduce(_ unionByName _)
  }

  /** Degree statistics — analogue of age_graph_stats / age_vertex_stats
    * (reference: src/backend/utils/adt/age_global_graph.c:1541-1659). */
  def degrees: DataFrame = {
    val out = allEdges.groupBy(col("start_id").as("id")).agg(count("*").as("out_degree"))
    val in = allEdges.groupBy(col("end_id").as("id")).agg(count("*").as("in_degree"))
    allVertices
      .select("id", "label")
      .join(out, Seq("id"), "left_outer")
      .join(in, Seq("id"), "left_outer")
      .na.fill(0L, Seq("out_degree", "in_degree"))
  }
}

/** Frame-level names for user properties that collide with the fixed
  * entity columns (id, start_id, end_id, label). The reference stores
  * properties inside one agtype column so `{id: "x"}` never clashes;
  * our per-property typed columns need an escape: reserved names store
  * as `<name>@p` (and any user name already ending `@p` double-escapes
  * so decode is unambiguous). Encode at frame writes, decode at scans.
  */
object PropName {
  private val reserved = Set("id", "start_id", "end_id", "label")
  def enc(name: String): String =
    if (reserved(name) || name.endsWith("@p")) name + "@p" else name
  def dec(name: String): String =
    if (name.endsWith("@p")) name.dropRight(2) else name

  /** Column reference by EXACT name: property keys may contain dots or
    * backticks that a bare col() would parse as nested-field access. */
  def qcol(name: String): Column =
    if (name.exists(c => c == '.' || c == '`'))
      col(s"`${name.replace("`", "``")}`")
    else col(name)
}

/** In-memory graph registry — the analogue of the `ag_graph` / `ag_label`
  * catalogs (reference: sql/age_main.sql:54-86,
  * src/backend/catalog/ag_graph.c). */
final class GraphCatalog {
  private val graphs = scala.collection.concurrent.TrieMap[String, PropertyGraph]()

  def register(g: PropertyGraph): PropertyGraph = { graphs.put(g.name, g); g }
  def graph(name: String): PropertyGraph =
    graphs.getOrElse(name, throw new IllegalArgumentException(s"unknown graph $name"))
  def drop(name: String): Unit = graphs.remove(name)
  def exists(name: String): Boolean = graphs.contains(name)
}

object GraphCatalog {
  val global = new GraphCatalog
}
