package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.types.GraphId

/** Synthetic graph generators — the analogue of
  * create_complete_graph / age_create_barbell_graph
  * (reference: src/backend/utils/graph_generation.c:47/206).
  * Pure spark.range pipelines: no driver-side loops, scale-free.
  */
object Generators {

  /** `df` on one partition when its closed-form size, `rows` rows of
    * `longs` long columns (8 bytes each plus 8 of row overhead, Spark's
    * per-row estimate), fits `spark.sql.adaptive.advisoryPartitionSizeInBytes`:
    * such a frame is one task of work, and its range/crossJoin fan made
    * every downstream pass pay per-task setup for it. Larger frames keep
    * their partitions. */
  private def fit[T](spark: SparkSession, df: Dataset[T], rows: Long, longs: Int): Dataset[T] =
    if (rows <= spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) /
        (8L * (longs + 1))) df.coalesce(1)
    else df

  /** K_n: vertices 1..n, one directed edge i→j for every i<j
    * (reference loop at graph_generation.c:184-201). */
  def completeGraph(
      spark: SparkSession, n: Long,
      vertexLabelId: Int = 1, edgeLabelId: Int = 2): PropertyGraph = {
    val v = fit(spark, spark.range(1, n + 1), n, 1)
      .select((lit(vertexLabelId.toLong * (1L << GraphId.EntryIdBits)) + col("id")).as("id"))
    val iIdx = spark.range(1, n + 1).select(col("id").as("i"))
    val jIdx = spark.range(1, n + 1).select(col("id").as("j"))
    val e = fit(spark, iIdx.crossJoin(jIdx), n * (n - 1) / 2, 3).filter(col("i") < col("j"))
      // eid = position in the (i, j) enumeration, i-major. `/` is DOUBLE
      // division in Spark; the cast back to long is exact (i(i-1) is
      // even) and keeps the edge id column bigint like every other
      // generated graph's
      .withColumn("eid",
        ((col("i") - 1) * n - (col("i") * (col("i") - 1)) / 2 +
          (col("j") - col("i"))).cast("long"))
      .select(
        (lit(edgeLabelId.toLong * (1L << GraphId.EntryIdBits)) + col("eid")).as("id"),
        (lit(vertexLabelId.toLong * (1L << GraphId.EntryIdBits)) + col("i")).as("start_id"),
        (lit(vertexLabelId.toLong * (1L << GraphId.EntryIdBits)) + col("j")).as("end_id"))
    new PropertyGraph(s"complete_$n",
      Seq(VertexLabel("node", vertexLabelId, v)),
      Seq(EdgeLabel("edge", edgeLabelId, e)))
  }

  /** Barbell: two K_n connected by an m-vertex path
    * (reference: age_create_barbell_graph, graph_generation.c:206). */
  def barbellGraph(spark: SparkSession, n: Long, m: Long): PropertyGraph = {
    val vertexLabelId = 1; val edgeLabelId = 2
    def gid(entry: org.apache.spark.sql.Column) =
      lit(vertexLabelId.toLong * (1L << GraphId.EntryIdBits)) + entry
    def eid(entry: org.apache.spark.sql.Column) =
      lit(edgeLabelId.toLong * (1L << GraphId.EntryIdBits)) + entry

    val total = 2 * n + m
    val v = fit(spark, spark.range(1, total + 1), total, 1).select(gid(col("id")).as("id"))

    // edge ids are the (s, t)-order rank, CLOSED FORM instead of the
    // former global row_number window: the three blocks' s-ranges are
    // disjoint and ordered (bell 1: s ≤ n−1 < path: n ≤ s ≤ n+m <
    // bell 2: s ≥ n+m+1), so the global rank is the within-block
    // i-major rank plus the block offset — bit-identical ids, but every
    // consumer of the edge frame (the whole-graph procedures re-scan it
    // per pass) no longer replays a single-partition Window over a
    // 96-partition crossJoin fan ([[fit]] then makes a small one a
    // single task).
    def kn(offset: Long, rankOffset: Long): DataFrame = {
      val i = spark.range(1, n + 1).select(col("id").as("i"))
      val j = spark.range(1, n + 1).select(col("id").as("j"))
      i.crossJoin(j).filter(col("i") < col("j"))
        .select((col("i") + offset).as("s"), (col("j") + offset).as("t"),
          // i-major rank of (i, j) within K_n, exact integer arithmetic
          // (i(i−1) is even; `/` is double division so cast back)
          (lit(rankOffset) + (col("i") - 1) * n -
            ((col("i") * (col("i") - 1)) / 2).cast("long") +
            (col("j") - col("i"))).as("__rn"))
    }
    // bridge path: node n, n+1 .. n+m+1 chain connecting the two bells
    val bellRanks = n * (n - 1) / 2
    val path = spark.range(0, m + 1)
      .select((col("id") + n).as("s"), (col("id") + n + 1).as("t"),
        (lit(bellRanks) + col("id") + 1).as("__rn"))
    val allE = fit(spark, kn(0, 0).unionByName(path)
      .unionByName(kn(n + m, bellRanks + m + 1)), 2 * bellRanks + m + 1, 3)
      .select(eid(col("__rn")).as("id"), gid(col("s")).as("start_id"), gid(col("t")).as("end_id"))
    new PropertyGraph(s"barbell_${n}_$m",
      Seq(VertexLabel("node", vertexLabelId, v)),
      Seq(EdgeLabel("edge", edgeLabelId, allE)))
  }
}
