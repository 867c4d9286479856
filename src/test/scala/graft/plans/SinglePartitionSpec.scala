package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Repartition}
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
  * aggregate, a global sort or a limit are evaluated on the driver and
  * collect with no job; a window plans as one exchange-free job; and
  * everything else keeps its plan. */
class SinglePartitionSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val small: DataFrame =
    (1L to 200L).map(i => (i, i % 7, i * 0.5)).toDF("id", "k", "x")

  private def pinned(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The executed plan's exchanges, AQE stages included (after collect). */
  private def exchanges(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }
  }

  private def jobs(df: DataFrame): Int = SparkJobs.count(spark)(df.collect())

  test("small aggregates and sorts fold to driver rows") {
    val shapes = Seq(
      "aggregate" -> small.filter($"x" > 3.0).groupBy($"k").agg(count(lit(1)), sum($"x")),
      "global aggregate" -> small.select($"x").agg(max($"x")),
      "sort" -> small.select($"id", ($"x" * 2).as("y")).orderBy($"y".desc),
      "aggregate + sort" -> small.groupBy($"k").count().orderBy($"k"),
      "sort + limit" -> small.orderBy($"x".desc).limit(5))
    for ((name, df) <- shapes) {
      assert(folded(df), s"$name: ${df.queryExecution.optimizedPlan}")
      assert(jobs(df) === 0, name)
    }
    assert(small.groupBy($"k").count().orderBy($"k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === (0L to 6L).map(k => k -> (1L to 200L).count(_ % 7 == k).toLong))
  }

  test("a window over a small relation runs as one exchange-free job") {
    val df = small.withColumn("r", row_number().over(Window.partitionBy($"k").orderBy($"id")))
    val p = pinned(df)
    assert(p.size === 1)
    assert(p.head === Repartition(1, shuffle = false, p.head.children.head))
    assert(p.head.children.head.isInstanceOf[LocalRelation])
    assert(exchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(jobs(df) === 1)
  }

  test("nondeterministic, distinct and failing aggregates keep the one-partition pin") {
    // the optimizer folds a nondeterministic Project or Filter over a
    // LocalRelation itself, so the rule sees one only above a fold
    val nondeterministic = SinglePartitionLocal(
      small.filter(rand(3) > 0.5).groupBy($"k").count().queryExecution.analyzed)
    assert(nondeterministic.isInstanceOf[Aggregate])
    assert(nondeterministic.collect { case r: Repartition => r }.size === 1)
    val kept = Seq(
      "distinct" -> small.groupBy($"k").agg(countDistinct($"x")),
      "ANSI overflow" -> Seq(Long.MaxValue, Long.MaxValue).toDF("l").agg(sum($"l")))
    for ((name, df) <- kept) {
      assert(!folded(df), name)
      assert(pinned(df).size === 1, name)
    }
    val overflow = kept.last._2
    overflow.explain("extended")
    val e = intercept[Exception](overflow.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("ARITHMETIC_OVERFLOW")), e.toString)
  }

  test("streaming relations are not folded") {
    val streaming = small.groupBy($"k").count().orderBy($"k").queryExecution.analyzed
      .transform { case l: LocalRelation => l.copy(isStreaming = true) }
    assert(SinglePartitionLocal(streaming) eq streaming)
  }

  test("the rule is idempotent") {
    val plan = small.groupBy($"k").count().orderBy($"k").queryExecution.optimizedPlan
    assert(SinglePartitionLocal(plan) eq plan)
    val window = small.withColumn("r", row_number().over(Window.partitionBy($"k").orderBy($"id")))
      .queryExecution.optimizedPlan
    assert(SinglePartitionLocal(window) eq window)
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
  }

  test("a relation above the advisory partition size keeps its partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    def rel(n: Long) = s.createDataFrame((1L to n).map(i => (i, i % 3))).toDF("a", "b")
    def agg(n: Long) = rel(n).groupBy("b").count()
    def win(n: Long) = rel(n).withColumn("r", row_number().over(Window.partitionBy($"b").orderBy($"a")))
    // 24 bytes a row: 40 rows fit 1,024 bytes, 100 do not
    assert(folded(agg(40)))
    assert(pinned(win(40)).size === 1)
    assert(!folded(agg(100)) && pinned(agg(100)).isEmpty)
    assert(pinned(win(100)).isEmpty)
    assert(agg(100).collect().map(_.getLong(1)).sum === 100L)
  }

  /** The graph_analytics benchmark's CALL shapes over the sf0.001 graph. */
  private lazy val tpch = TpchGraph(spark, "/root/testdata/sf0.001")

  private def firstId(label: String): Long =
    Cypher.query(spark, tpch, s"MATCH (v:$label) RETURN id(v) AS id ORDER BY id LIMIT 1")
      .collect().head.getLong(0)

  test("each benchmark CALL shape folds to driver rows and runs no job") {
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
      assert(folded(df), s"$name: ${df.queryExecution.optimizedPlan}")
      assert(jobs(df) === 0, s"$name: ${df.queryExecution.executedPlan}")
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
