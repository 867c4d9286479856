package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.types.GraphId

/** CSV bulk loaders — the analogue of load_labels_from_file /
  * load_edges_from_file (reference: src/backend/utils/load/age_load.c:
  * 565/653, ag_load_labels.c, ag_load_edges.c).
  *
  * Vertex CSV: optional leading `id` column (`idFieldExists`); remaining
  * columns become properties (strings by default, parsed types with
  * `loadAsAgtype` — mirroring the `load_as_agtype` flag). Edge CSV
  * references endpoints by (source id, source vertex label):
  * start_id,start_vertex_type,end_id,end_vertex_type[,props...].
  */
object CsvLoader {

  def loadVertexLabel(
      store: MutableGraph, label: String, path: String,
      idFieldExists: Boolean = true, delimiter: String = ",",
      loadAsAgtype: Boolean = false): Long = {
    val spark = store.spark
    val raw = spark.read
      .option("header", "true").option("sep", delimiter)
      .option("inferSchema", loadAsAgtype.toString)
      .csv(path)
    val labelId = store.vertexLabelId(label)
    val base = store.vertexMaxEntry(label)
    def withId(withEntry: DataFrame): DataFrame = withEntry.select(
      (lit(labelId.toLong * (1L << GraphId.EntryIdBits)) + col("__entry")).as("id") +:
        withEntry.columns.filterNot(_ == "__entry").toSeq.map(col): _*)
    if (idFieldExists && raw.columns.contains("id")) {
      val rows = withId(raw.withColumn("__entry", col("id").cast(LongType)).drop("id"))
        .localCheckpoint(true)
      val n = rows.count()
      val maxEntry = rows.agg(max(col("id"))).collect().head.getLong(0)
      store.appendVertices(label, rows, GraphId.entryId(maxEntry))
      n
    } else {
      val (numbered, n) = DfUtils.withRowNumCount(raw, "__rn")
      store.appendVertices(label,
        withId(numbered.withColumn("__entry", lit(base) + col("__rn")).drop("__rn")), base + n)
      n
    }
  }

  def loadEdgeLabel(
      store: MutableGraph, label: String, path: String,
      delimiter: String = ",", loadAsAgtype: Boolean = false): Long = {
    val spark = store.spark
    val raw = spark.read
      .option("header", "true").option("sep", delimiter)
      .option("inferSchema", loadAsAgtype.toString)
      .csv(path)
    val required = Seq("start_id", "start_vertex_type", "end_id", "end_vertex_type")
    require(required.forall(raw.columns.contains),
      s"edge CSV must have columns $required (got ${raw.columns.toSeq})")
    val labelId = store.edgeLabelId(label)
    val base = store.edgeMaxEntry(label)
    // endpoint graphids from (entry id, vertex label) — label ids resolved
    // on the driver, id packing in the executor
    val vLabelIds = raw.select(col("start_vertex_type").as("t")).distinct()
      .unionByName(raw.select(col("end_vertex_type").as("t")).distinct())
      .collect().map(_.getString(0)).distinct
      .map(l => l -> store.vertexLabelId(l)).toMap
    val labelIdCol = vLabelIds.foldLeft(lit(null).cast(LongType)) {
      case (acc, (l, id)) => when(col("start_vertex_type") === l, lit(id.toLong)).otherwise(acc)
    }
    val labelIdColEnd = vLabelIds.foldLeft(lit(null).cast(LongType)) {
      case (acc, (l, id)) => when(col("end_vertex_type") === l, lit(id.toLong)).otherwise(acc)
    }
    val props = raw.columns.filterNot(required.contains).toSeq
    val (numbered, n) = DfUtils.withRowNumCount(raw, "__rn")
    val rows = numbered
      .withColumn("__entry", lit(base) + col("__rn")).drop("__rn")
      .select(Seq(
        (lit(labelId.toLong * (1L << GraphId.EntryIdBits)) + col("__entry")).as("id"),
        (labelIdCol * (1L << GraphId.EntryIdBits) + col("start_id").cast(LongType)).as("start_id"),
        (labelIdColEnd * (1L << GraphId.EntryIdBits) + col("end_id").cast(LongType)).as("end_id")) ++
        props.map(col): _*)
    store.appendEdges(label, rows, base + n)
    n
  }
}
