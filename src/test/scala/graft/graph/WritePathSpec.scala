package graft.graph

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.cypher.Cypher

/** The copy-on-write write path: row numbering, label-local rewrites,
  * manifests that carry label schemas, and the number of Spark jobs each
  * write spends. */
class WritePathSpec extends SparkTestBase {

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("withRowNumCount: dense 1..n, the same on every evaluation, empty partitions included") {
    // shuffled into 6 partitions by parity: 4 stay empty, and the row
    // order within the other two differs from run to run
    val in = spark.range(0, 40, 1, 8).toDF().filter(col("id") < 10 || col("id") >= 30)
      .withColumn("r", rand())
      .repartition(6, col("id") % 2)
    val (numbered, n) = DfUtils.withRowNumCount(in, "rn")
    assert(n === 20L)
    assert(numbered.rdd.mapPartitions(it => Iterator.single(it.size)).collect().sorted.toSeq ===
      Seq(0, 0, 0, 0, 10, 10))
    val first = numbered.select("id", "r", "rn").collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(first.values.map(_._2).toSeq.sorted === (1L to 20L))
    val second = numbered.select("id", "r", "rn").collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(second === first)
    // a filtered consumer sees the same numbers as the full frame
    val some = numbered.filter(col("id") >= 30).select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(some === first.collect { case (i, (_, rn)) if i >= 30 => i -> rn })
  }

  test("withRowNumCount on an empty input counts zero") {
    val (numbered, n) = DfUtils.withRowNumCount(spark.range(0, 10, 1, 3).toDF().filter(col("id") < 0), "rn")
    assert(n === 0L)
    assert(numbered.count() === 0L)
  }

  test("CREATE computes property values before the pin: RETURN and the store agree on rand()") {
    val m = new MutableGraph("wp_rand", spark)
    def byI(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val returned = byI(Cypher.execute(spark, m,
      "UNWIND range(1, 20) AS i CREATE (n:R {i: i, x: rand()})-[:E {y: rand()}]->(:S) " +
        "RETURN n.i AS i, n.x AS x, id(n) AS id"))
    assert(returned.size === 20)
    assert(byI(Cypher.query(spark, m.snapshot, "MATCH (n:R) RETURN n.i AS i, n.x AS x, id(n) AS id")) ===
      returned)
  }

  /** Three vertex labels and three edge labels in a ring: A-[:R]->B-[:S]->C-[:T]->A. */
  private def ring(name: String): MutableGraph = {
    val m = new MutableGraph(name, spark)
    Cypher.execute(spark, m, "UNWIND range(1, 6) AS i CREATE (:A {i: i})-[:R {w: i % 2}]->(:B {i: i})")
    Cypher.execute(spark, m, "MATCH (b:B) CREATE (b)-[:S {w: b.i % 2}]->(:C {i: b.i})")
    Cypher.execute(spark, m, "MATCH (c:C), (a:A) WHERE c.i = a.i CREATE (c)-[:T]->(a)")
    Cypher.execute(spark, m, "CREATE (:Lone {i: 1})")
    m.markClean()
    m
  }

  /** Every label's rows after deleting `vIds` (with their incident edges)
    * and `eIds`, computed by rewriting every label. */
  private def fullRewrite(g: PropertyGraph, vIds: Set[Long], eIds: Set[Long]): Map[String, Seq[String]] = {
    val v = g.vertexLabels.map(l => l.name -> rowsOf(l.df.filter(!col("id").isin(vIds.toSeq: _*))))
    val e = g.edgeLabels.map(l => l.name -> rowsOf(l.df.filter(
      !col("id").isin(eIds.toSeq: _*) && !col("start_id").isin(vIds.toSeq: _*) &&
        !col("end_id").isin(vIds.toSeq: _*))))
    (v ++ e).toMap
  }

  private def labelRows(g: PropertyGraph): Map[String, Seq[String]] =
    (g.vertexLabels.map(l => l.name -> rowsOf(l.df)) ++
      g.edgeLabels.map(l => l.name -> rowsOf(l.df))).toMap

  private def ids(m: MutableGraph, q: String): Set[Long] =
    Cypher.query(spark, m.snapshot, q).collect().map(_.getLong(0)).toSet

  test("DETACH DELETE and DELETE rewrite only the labels they hit, with the rows a full rewrite leaves") {
    val m = ring("wp_delete")
    val before = m.snapshot
    val vIds = ids(m, "MATCH (b:B) WHERE b.i <= 2 RETURN id(b)")
    m.checkpoint() // frames pinned once: identity below is the rewrite test
    val pinned = m.snapshot
    Cypher.execute(spark, m, "MATCH (b:B) WHERE b.i <= 2 DETACH DELETE b")
    val after = m.snapshot
    assert(labelRows(after) === fullRewrite(before, vIds, Set.empty))
    // B and its incident R and S edges changed; A, C, Lone and T did not
    assert(m.dirtyVertexLabels === Set("B"))
    assert(m.dirtyEdgeLabels === Set("R", "S"))
    for (l <- Seq("A", "C", "Lone"))
      assert(after.vertexLabel(l).df eq pinned.vertexLabel(l).df, l)
    assert(after.edgeLabel("T").df eq pinned.edgeLabel("T").df)

    // an edge DELETE touches its own label only
    m.markClean()
    val eIds = ids(m, "MATCH ()-[s:S]->() WHERE s.w = 1 RETURN id(s)")
    val mid = m.snapshot
    Cypher.execute(spark, m, "MATCH ()-[s:S]->() WHERE s.w = 1 DELETE s")
    assert(labelRows(m.snapshot) === fullRewrite(mid, Set.empty, eIds))
    assert(m.dirtyEdgeLabels === Set("S") && m.dirtyVertexLabels.isEmpty)
    assert(m.snapshot.edgeLabel("R").df eq mid.edgeLabel("R").df)

    // a plain DELETE of a vertex with edges still refuses, touching nothing
    m.markClean()
    val e = intercept[IllegalStateException](
      Cypher.execute(spark, m, "MATCH (a:A {i: 6}) DELETE a"))
    assert(e.getMessage.contains("DETACH DELETE"))
    assert(m.dirtyVertexLabels.isEmpty && m.dirtyEdgeLabels.isEmpty)
    // ... and deletes an isolated one
    val lone = m.snapshot
    Cypher.execute(spark, m, "MATCH (l:Lone) DELETE l")
    assert(m.snapshot.vertexLabel("Lone").df.count() === 0L)
    assert(m.dirtyVertexLabels === Set("Lone"))
    assert(m.snapshot.vertexLabel("A").df eq lone.vertexLabel("A").df)
  }

  test("DETACH DELETE's incident-edge probe plans equi joins, never a nested-loop join") {
    val m = ring("wp_probe")
    Cypher.execute(spark, m, "MATCH (c:C {i: 3}) DETACH DELETE c")
    assert(m.lastIncidentProbePlan.nonEmpty)
    assert(!m.lastIncidentProbePlan.contains("NestedLoopJoin"), m.lastIncidentProbePlan)
    assert(m.dirtyEdgeLabels === Set("S", "T"))
  }

  test("REMOVE and SET rewrite only the hit label") {
    val m = ring("wp_set")
    Cypher.execute(spark, m, "MATCH (x:A), (y:C) WHERE x.i = 1 AND y.i = 1 SET x.k = 1, y.k = 1")
    m.markClean()
    val before = m.snapshot
    Cypher.execute(spark, m, "MATCH (x:A {i: 1}) REMOVE x.k")
    assert(m.dirtyVertexLabels === Set("A"))
    assert(m.snapshot.vertexLabel("C").df eq before.vertexLabel("C").df)
    assert(Cypher.query(spark, m.snapshot, "MATCH (n) WHERE n.k = 1 RETURN n.i")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("commit writes only the dirty labels' directories") {
    val dir = Files.createTempDirectory("graft-wp-commit").toString
    val m = ring("wp_commit")
    assert(GraphStore.commit(m, dir) === 0L)
    Cypher.execute(spark, m, "MATCH (b:B {i: 4}) DETACH DELETE b")
    assert(GraphStore.commit(m, dir) === 1L)
    val v1 = new java.io.File(s"$dir/data").list().filter(_.endsWith("@1")).toSet
    assert(v1 === Set("v_B@1", "e_R@1", "e_S@1"))
    assert(labelRows(GraphStore.loadVersion(spark, dir)) === labelRows(m.snapshot))
  }

  test("manifests record label schemas; a manifest without them still loads") {
    val dir = Files.createTempDirectory("graft-wp-manifest").toString
    val m = ring("wp_manifest")
    Cypher.execute(spark, m, "MATCH (a:A {i: 2}) SET a.tags = ['x', 'y'], a.score = 2.5")
    assert(GraphStore.commit(m, dir) === 0L)
    val v0 = s"$dir/_log/v0"
    val schemas = spark.read.json(v0).select("label", "schema").collect()
    assert(schemas.length === 7 && schemas.forall(_.getString(1) != null))
    // the recorded schema reads each label exactly as inference would
    val g = GraphStore.loadVersion(spark, dir)
    for ((kind, name, df) <- g.vertexLabels.map(l => ("v", l.name, l.df)) ++
        g.edgeLabels.map(l => ("e", l.name, l.df)))
      assert(df.schema === spark.read.parquet(s"$dir/data/${kind}_$name@0").schema, name)
    val expected = labelRows(g)

    // rewrite v0 in the format that predates the schema column
    val old = spark.read.json(v0).drop("schema").collect().toList
    val oldSchema = spark.read.json(v0).drop("schema").schema
    spark.createDataFrame(java.util.Arrays.asList(old: _*), oldSchema)
      .coalesce(1).write.mode(SaveMode.Overwrite).json(v0)
    assert(!spark.read.json(v0).columns.contains("schema"))

    assert(labelRows(GraphStore.loadVersion(spark, dir)) === expected)
    val resumed = GraphStore.loadMutableVersion(spark, dir)
    assert(labelRows(resumed.snapshot) === expected)
    Cypher.execute(spark, resumed, "CREATE (:A {i: 7})")
    assert(GraphStore.commitAndRebind(resumed, dir) === 1L)
    val v1 = spark.read.json(s"$dir/_log/v1").select("schema").collect()
    assert(v1.length === 7 && v1.forall(_.getString(0) != null))
    assert(Cypher.query(spark, GraphStore.loadVersion(spark, dir), "MATCH (a:A) RETURN max(a.i)")
      .collect().head.getLong(0) === 7L)
  }

  // ---- job budget ------------------------------------------------------

  private val BudgetKey = "graft.test.jobBudget"
  private val budgetTag = new java.util.concurrent.atomic.AtomicLong()
  private val jobsByTag = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private val markers = new java.util.concurrent.ConcurrentHashMap[String, CountDownLatch]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(BudgetKey))).foreach { t =>
          Option(markers.get(t)).fold(
            jobsByTag.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet(): Unit)(
            _.countDown())
        }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Spark jobs `f` launches from this thread (AQE stages and broadcasts
    * inherit the tag). A marker job posted after `f` flushes the listener
    * queue, which delivers events in order. */
  private def jobs(f: => Unit): Int = {
    listener
    val sc = spark.sparkContext
    val tag = s"budget-${budgetTag.incrementAndGet()}"
    val marker = s"$tag-marker"
    markers.put(marker, new CountDownLatch(1))
    sc.setLocalProperty(BudgetKey, tag)
    try f finally sc.setLocalProperty(BudgetKey, null)
    sc.setLocalProperty(BudgetKey, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(BudgetKey, null)
    assert(markers.get(marker).await(60, TimeUnit.SECONDS), "listener queue did not drain")
    Option(jobsByTag.get(tag)).fold(0)(_.get)
  }

  test("job budget of the write path: CREATE, MERGE create arm, DETACH DELETE, commit, loadVersion") {
    val dir = Files.createTempDirectory("graft-wp-budget").toString
    val m = new MutableGraph("wp_budget", spark)
    Cypher.execute(spark, m, "UNWIND range(1, 25) AS i CREATE (:Nation {name: 'N' + toString(i)})")
    Cypher.execute(spark, m,
      "MATCH (n:Nation) UNWIND range(1, 4) AS j CREATE (:Customer {name: n.name + '-' + toString(j), acctbal: j * 1.0})-[:FROM_NATION]->(n)")
    m.checkpoint()
    GraphStore.commit(m, dir)

    def run(q: String): Unit = Cypher.execute(spark, m, q).collect()
    val create = jobs(run(
      "MATCH (n:Nation {name: 'N3'}) CREATE (c:Customer {name: 'new', acctbal: 1.5})-[:FROM_NATION]->(n)"))
    val mergeCreate = jobs(run("MERGE (c:Customer {name: 'fresh'}) ON CREATE SET c.acctbal = 2.5"))
    val detach = jobs(run("MATCH (c:Customer {name: 'new'}) DETACH DELETE c"))
    val commit = jobs(GraphStore.commit(m, dir))
    val load = jobs(GraphStore.loadVersion(spark, dir).vertexLabels.size)
    info(s"jobs: create=$create merge_create=$mergeCreate detach=$detach commit=$commit load=$load")
    // the counts this write path reaches; one more eager job fails here
    assert(create <= 2, "CREATE node + edge: one numbering job each")
    assert(mergeCreate <= 7)
    assert(detach <= 7)
    assert(commit <= 4, "manifest read, two dirty labels, manifest write")
    assert(load <= 1, "the manifest read; label schemas come from the manifest")
    assert(!m.lastIncidentProbePlan.contains("NestedLoopJoin"))
  }
}
