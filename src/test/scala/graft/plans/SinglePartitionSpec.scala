package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkJobs, SparkTestBase}
import graft.cypher.Cypher
import graft.graph.TpchGraph
import graft.pipeline.Dedup

/** [[SinglePartitionLocal]] under the shared session, which installs
  * [[GraftExtensions]]: small driver-held relations feeding an
  * aggregate, a global sort or a window plan as one exchange-free job,
  * and everything else keeps its plan. */
class SinglePartitionSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val small: DataFrame =
    (1L to 200L).map(i => (i, i % 7, i * 0.5)).toDF("id", "k", "x")

  private def pinned(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }

  /** The executed plan's exchanges, AQE stages included (after collect). */
  private def exchanges(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }
  }

  private def jobs(df: DataFrame): Int = SparkJobs.count(spark)(df.collect())

  test("an aggregate, a global sort and a window over a small relation run as one job") {
    val shapes = Seq(
      "aggregate" -> small.filter($"x" > 3.0).groupBy($"k").agg(count(lit(1)), sum($"x")),
      "global aggregate" -> small.select($"x").agg(max($"x")),
      "sort" -> small.select($"id", ($"x" * 2).as("y")).orderBy($"y".desc),
      "window" -> small.withColumn("r", row_number().over(Window.partitionBy($"k")
        .orderBy($"id"))),
      "aggregate + sort" -> small.groupBy($"k").count().orderBy($"k"))
    for ((name, df) <- shapes) {
      val p = pinned(df)
      assert(p.size === 1, name)
      assert(p.head === Repartition(1, shuffle = false, p.head.children.head), name)
      assert(p.head.children.head.isInstanceOf[LocalRelation], name)
      assert(exchanges(df).isEmpty, s"$name: ${df.queryExecution.executedPlan}")
      assert(jobs(df) === 1, name)
    }
  }

  test("the rule is idempotent") {
    val plan = small.groupBy($"k").count().orderBy($"k").queryExecution.optimizedPlan
    assert(SinglePartitionLocal(plan) eq plan)
    val analyzed = small.groupBy($"k").count().queryExecution.analyzed
    val once = SinglePartitionLocal(analyzed)
    assert(!(once eq analyzed))
    assert(SinglePartitionLocal(once) eq once)
  }

  test("plain collects, limits, joins and empty relations are left alone") {
    val big = spark.range(0, 2000000L).toDF("id")
    val untouched = Seq(
      "projection" -> small.select($"id", $"x" + 1),
      "filter" -> small.filter($"k" === 3L),
      "limit" -> small.limit(5),
      "join" -> small.join(big, Seq("id")).groupBy($"k").count(),
      "empty" -> Seq.empty[(Long, Long)].toDF("a", "b").groupBy($"a").count(),
      "empty global" -> Seq.empty[(Long, Long)].toDF("a", "b").agg(count(lit(1))))
    for ((name, df) <- untouched) assert(pinned(df).isEmpty, name)
    assert(jobs(small.select($"id", $"x" + 1)) === 0)
    assert(jobs(small.limit(5)) === 0)
    assert(jobs(small.orderBy($"x".desc).limit(5)) === 1)
  }

  test("a relation above the advisory partition size keeps its partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    def rel(n: Long) = s.createDataFrame((1L to n).map(i => (i, i % 3))).toDF("a", "b")
      .groupBy("b").count()
    // 24 bytes a row: 40 rows fit 1,024 bytes, 100 do not
    assert(pinned(rel(40)).size === 1)
    assert(pinned(rel(100)).isEmpty)
    assert(rel(100).collect().map(_.getLong(1)).sum === 100L)
  }

  /** The graph_analytics benchmark's CALL shapes over the sf0.001 graph. */
  private lazy val tpch = TpchGraph(spark, "/root/testdata/sf0.001")

  private def firstId(label: String): Long =
    Cypher.query(spark, tpch, s"MATCH (v:$label) RETURN id(v) AS id ORDER BY id LIMIT 1")
      .collect().head.getLong(0)

  test("each CALL shape of the analytics benchmark runs one job at collect") {
    val (region, customer) = (firstId("Region"), firstId("Customer"))
    val shapes = Seq(
      "pagerank" -> ("CALL pagerank() YIELD id, rank " +
        "WITH id / 281474976710656 AS label_id, rank " +
        "RETURN label_id, count(*) AS n, round(sum(rank), 4) AS total, " +
        "round(max(rank), 6) AS top ORDER BY label_id"),
      "connected_components" -> ("CALL connected_components() YIELD id, component " +
        "WITH component, count(*) AS sz " +
        "RETURN count(*) AS n_components, max(sz) AS largest"),
      "sssp" -> s"CALL sssp($region) YIELD id, dist RETURN dist, count(*) AS n",
      "hits" -> ("CALL hits(4) YIELD id, hub, auth RETURN id, round(auth, 6) AS auth, " +
        "round(hub, 8) AS hub ORDER BY auth DESC, id LIMIT 5"),
      "ppr" -> (s"CALL ppr($customer, 0.15, 4) YIELD id, rank " +
        "RETURN id, round(rank, 8) AS rank ORDER BY rank DESC, id LIMIT 5"),
      "lpa" -> ("CALL label_propagation(3) YIELD id, community " +
        "WITH community, count(*) AS sz RETURN sz, count(*) AS n_communities " +
        "ORDER BY sz DESC LIMIT 10"),
      "jaccard_t" -> ("CALL jaccard_similarity(64, 0.5) YIELD id_a, id_b, common, jaccard " +
        "RETURN count(*) AS n_pairs, sum(common) AS sum_common, " +
        "round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j"),
      "walks" -> ("CALL random_walks(4) YIELD walker, dest " +
        "WITH dest / 281474976710656 AS label_id " +
        "RETURN label_id, count(*) AS n ORDER BY label_id"))
    for ((name, q) <- shapes) {
      val df = Cypher.query(spark, tpch, q)
      assert(jobs(df) === 1, s"$name: ${df.queryExecution.executedPlan}")
    }
    assert(jobs(Cypher.query(spark, tpch, "CALL pagerank() YIELD id, rank RETURN id, rank")) === 0)
  }

  test("dupClusters over the pairs of a driver endgame runs no job") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog!"),
      (3L, "an entirely different sentence about graphs"),
      (4L, "an entirely different sentence about graphs too")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
    assert(pairs.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    var out: Array[org.apache.spark.sql.Row] = null
    assert(SparkJobs.count(spark) { out = Dedup.dupClusters(pairs).collect() } === 0)
    def clusters(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out.nonEmpty)
    assert(clusters(out) === clusters(Dedup.dupClustersArms(pairs).distributed().collect()))
  }
}
