package graft.graph

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

import graft.SparkTestBase
import graft.cypher.Procedures
import graft.pipeline.Dedup
import graft.types.GraphId

/** The differential spec of the endgame contract: for every member of
  * [[GraphAlgos.run]], the local arm equals the distributed arm on
  * graphs with self-loops, multi-edges, reversed duplicates and
  * dangling endpoints, and the runner records the path it took. One
  * test per member, so a failure names the procedure. */
class EndgameSpec extends SparkTestBase {
  import spark.implicits._

  private val VL = 1; private val EL = 2
  private def v(i: Long) = GraphId.make(VL, i)

  /** A graph and the landmarks of the sssp sweep: a real vertex, a
    * dangling endpoint with in-edges, and an absent id. `sweep` graphs
    * also take the jaccard and betweenness parameter sweeps. */
  private case class Shape(name: String, g: PropertyGraph,
      real: Long, dangling: Long, absent: Long, sweep: Boolean)

  private def graph(name: String, vs: Seq[Long], vParts: Int,
      es: Seq[(Long, Long)], weights: Option[Seq[Double]]): PropertyGraph = {
    val rows = es.zipWithIndex.map { case ((s, t), j) => (GraphId.make(EL, j + 1L), s, t) }
    val edf = weights match {
      case Some(ws) => rows.zip(ws).map { case ((id, s, t), w) => (id, s, t, w) }
          .toDF("id", "start_id", "end_id", "w")
      case None => rows.toDF("id", "start_id", "end_id")
    }
    new PropertyGraph(name,
      Seq(VertexLabel("node", VL, vs.map(Tuple1(_)).toDF("id").repartition(vParts))),
      Seq(EdgeLabel("edge", EL, edf.repartition(3))))
  }

  /** Two seeded random graphs with a self-loop, a multi-edge, a reversed
    * duplicate and dangling endpoints on top, weighted by an edge
    * property `w`; and an 8-vertex graph whose dangling edges chain
    * through absent ids, with no `w` property (weights default to 1). */
  private lazy val shapes: Seq[Shape] = Seq(51L, 52L).map { seed =>
    val rnd = new scala.util.Random(seed)
    val n = 40
    val random = Seq.fill(130)((v(rnd.nextInt(n) + 1L), v(rnd.nextInt(n + 6) + 1L)))
    val odd = Seq((v(1), v(1)), (v(2), v(3)), (v(2), v(3)), (v(3), v(2)),
      (v(n + 10L), v(4)), (v(n + 10L), v(n + 11L)), (v(5), v(n + 11L)))
    val es = random ++ odd
    val ws = Seq.fill(es.size)(rnd.nextInt(9) + 1.0)
    Shape(s"seeded_$seed", graph(s"jac_diff_$seed", (1L to n).map(v), 2, es, Some(ws)),
      v(1), v(n + 11L), v(500), sweep = true)
  } :+ {
    val real = Seq((v(1), v(2)), (v(2), v(3)), (v(3), v(1)), (v(3), v(4)),
      (v(4), v(5)), (v(5), v(6)), (v(6), v(4)), (v(7), v(7)), (v(1), v(2)))
    val dangling = Seq((v(1), v(91)), (v(91), v(2)), (v(92), v(93)), (v(6), v(92)))
    Shape("dangling", graph("dangling", (1L to 8L).map(v), 3, real ++ dangling, None),
      v(2), v(91), v(500), sweep = false)
  }

  /** How a member's doubles compare across the arms. */
  private sealed trait Tol
  private case object Exact extends Tol
  private case class Abs(eps: Double) extends Tol
  private case class Rel(eps: Double) extends Tol
  private case class Round(scale: Double) extends Tol

  private def same(a: Any, b: Any, tol: Tol): Boolean = (a, b, tol) match {
    case (x: Double, y: Double, Abs(e)) => math.abs(x - y) < e
    case (x: Double, y: Double, Rel(e)) =>
      math.abs(x - y) <= e * math.max(math.abs(x), math.abs(y))
    case (x: Double, y: Double, Round(s)) => math.rint(x * s) == math.rint(y * s)
    case _ => a == b
  }

  /** One parameter point of a member: its arms, its tolerance, and any
    * extra check on the agreed rows. */
  private case class Point(label: String, arms: GraphAlgos.Endgame[_],
      tol: Tol = Exact, expect: Seq[Row] => Unit = _ => ())

  private val members: Seq[(String, Shape => Seq[Point])] = Seq(
    "pagerank" -> (s => Seq(Point("", GraphAlgos.pageRankArms(s.g, 0.0001, 0.15), Rel(1e-9)))),
    "connected_components" -> (s => Seq(Point("", GraphAlgos.connectedComponentsArms(s.g)))),
    "triangle_count" -> (s => Seq(Point("", GraphAlgos.triangleCountArms(s.g)))),
    "sssp" -> (s => Seq("real" -> s.real, "dangling" -> s.dangling, "absent" -> s.absent)
      .map { case (kind, lm) =>
        Point(s"landmark=$kind", GraphAlgos.ssspArms(s.g, lm),
          expect = rows => if (kind == "absent") assert(rows.isEmpty))
      }),
    "label_propagation" -> (s => Seq(Point("", GraphAlgos.labelPropagationArms(s.g, 4)))),
    "wsssp" -> (s => Seq(Point("", GraphAlgos.weightedSsspArms(s.g, s.real, "w", 5)))),
    "hits" -> (s => Seq(Point("", GraphAlgos.hitsArms(s.g, 4), Abs(1e-9)))),
    // the caps × thresholds sweep runs on the seeded graphs
    "jaccard_similarity" -> (s =>
      for (cap <- if (s.sweep) Seq(1, 2, 4, 64) else Seq(64);
           t <- if (s.sweep) Seq(0.0, 0.2, 1.0 / 3, 0.5, 1.0) else Seq(0.0))
        yield Point(s"cap=$cap t=$t", GraphAlgos.jaccardArms(s.g, cap, t),
          expect = rows => if (cap == 64 && t == 0.0) assert(rows.nonEmpty))),
    "ppr" -> (s => Seq(Point("", GraphAlgos.pprArms(s.g, s.real, 0.15, 4), Abs(1e-9)))),
    "kcore" -> (s => Seq(Point("", GraphAlgos.kCoreArms(s.g, 2, 1000)))),
    // 16 sampled sources cover all 8 DANGLING vertices, the exact run
    "betweenness" -> (s => (if (s.sweep) Seq(0, 16) else Seq(0)).map(n =>
      Point(s"nSources=$n", GraphAlgos.betweennessArms(s.g, n, 64),
        if (s.sweep) Round(1e6) else Round(1e9)))),
    "random_walks" -> (s => Seq(Point("", GraphAlgos.randomWalksArms(s.g, 3, "walk")))),
    "dup_clusters" -> (s => Seq(Point("", Dedup.dupClustersArms(
      s.g.allEdges.select(col("start_id").as("id_a"), col("end_id").as("id_b")))))))

  /** Registry procedures with no local arm: scc gates its Tarjan finish
    * on the residual of its own passes, clustering_coefficient composes
    * triangle_count, and the rest are statistics and catalog listings. */
  private val distributedOnly = Set("clustering_coefficient", "scc", "graph_stats",
    "degrees", "vertex_stats", "labels", "relationship_types", "ingest_stats",
    "get_cypher_keywords")

  /** Members that are pipeline operators, not CALL procedures. */
  private val pipelineMembers = Set("dup_clusters", "minhash_lsh")

  /** Rows sorted by their leading long columns (the result key). */
  private def sorted(rows: Array[Row]): Seq[Seq[Any]] = {
    import scala.math.Ordering.Implicits._
    rows.toSeq.map(_.toSeq)
      .sortBy(_.takeWhile(_.isInstanceOf[Long]).map(_.asInstanceOf[Long]))
  }

  /** Runs `check` on every shape at once: the distributed arms of these
    * tiny graphs are bound by job-scheduling latency, not by cores. */
  private def onEachShape(check: Shape => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(shapes)(s => Future(check(s))),
      scala.concurrent.duration.Duration.Inf)
  }

  for ((name, points) <- members) test(s"endgame arms agree: $name") {
    onEachShape { shape => for (p <- points(shape)) {
      val at = s"$name ${p.label} on ${shape.name}"
      val e = p.arms
      GraphAlgos.clearPathDecisions(spark)
      val viaRun = GraphAlgos.run(e)
      val decisions = GraphAlgos.recentPathDecisions(spark)
      val line = s"${e.op}: driver endgame (rows=${e.rows} vs collect budget="
      val tail = if (e.detail.isEmpty) ")" else s", ${e.detail})"
      assert(decisions.exists(d => d.startsWith(line) && d.endsWith(tail)),
        s"$at: $decisions")
      val dist = e.distributed()
      assert(viaRun.columns.toSeq === dist.columns.toSeq, at)
      val (l, d) = (sorted(viaRun.collect()), sorted(dist.collect()))
      assert(l.length === d.length, at)
      for ((a, b) <- l.zip(d))
        assert(a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y, p.tol) },
          s"$at: local $a vs distributed $b")
      p.expect(viaRun.collect().toSeq)
    } }
  }

  test("tuple members encode their local rows as the tuple encoder did") {
    val s = shapes.head
    def parity[T <: Product : TypeTag](e: GraphAlgos.Endgame[T]): String = {
      val rows = e.local()
      val frame = e.encode(rows)
      val legacy = spark.createDataset(rows.toSeq)(Encoders.product[T]).toDF(e.columns: _*)
      assert(frame.schema === legacy.schema, e.op)
      assert(frame.schema.forall(!_.nullable), e.op)
      assert(frame.collect().toSeq === legacy.collect().toSeq, e.op)
      assert(frame.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], e.op)
      e.op
    }
    val checked = Seq(
      parity(GraphAlgos.pageRankArms(s.g, 0.0001, 0.15)),
      parity(GraphAlgos.connectedComponentsArms(s.g)),
      parity(GraphAlgos.triangleCountArms(s.g)),
      parity(GraphAlgos.ssspArms(s.g, s.real)),
      parity(GraphAlgos.labelPropagationArms(s.g, 4)),
      parity(GraphAlgos.weightedSsspArms(s.g, s.real, "w", 5)),
      parity(GraphAlgos.hitsArms(s.g, 4)),
      parity(GraphAlgos.jaccardArms(s.g, 64, 0.0)),
      parity(GraphAlgos.pprArms(s.g, s.real, 0.15, 4)),
      parity(GraphAlgos.kCoreArms(s.g, 2, 1000)),
      parity(GraphAlgos.betweennessArms(s.g, 0, 64)),
      parity(GraphAlgos.randomWalksArms(s.g, 3, "walk")),
      parity(Dedup.dupClustersArms(
        s.g.allEdges.select(col("start_id").as("id_a"), col("end_id").as("id_b")))))
    // every member of the differential sweep is a tuple member
    assert(checked.distinct.size === members.size)
  }

  /** A minhash_lsh corpus: documents (id, text) and the LSH parameters
    * the sweep runs it with. */
  private case class Corpus(name: String, docs: Seq[(Option[Long], String)],
      shingleK: Int, bands: Int, rowsPerBand: Int, maxBucketSize: Int)

  private def words(prefix: String, n: Int): Seq[String] = (1 to n).map(i => s"$prefix$i")

  /** Edge cases: duplicate and null ids, null/empty/whitespace-only
    * text, documents shorter than shingleK, six copies of one text (a
    * bucket above maxBucketSize), and near-duplicates that collide in
    * several bands. */
  private val edgeCorpus = {
    val base = words("w", 14).mkString(" ")
    val near = (words("w", 13) :+ "other").mkString(" ")
    val copy = "the same six times over and over again"
    Corpus("edges", Seq(
      Some(1L) -> base, Some(2L) -> near, Some(3L) -> base,
      Some(7L) -> near, Some(7L) -> "a wholly unrelated document about nothing much",
      None -> base, None -> near,
      Some(10L) -> null, Some(11L) -> "", Some(12L) -> "   ", Some(13L) -> " \t ",
      Some(14L) -> "a b", Some(15L) -> "a b", Some(16L) -> "b a", Some(17L) -> "x") ++
      (20L to 25L).map(i => Some(i) -> copy), shingleK = 3, bands = 8, rowsPerBand = 4,
      maxBucketSize = 4)
  }

  /** Rounding at the threshold: 602 shared of 2,007 shingles is
    * 0.29995…, which rounds half-up to exactly 0.3; 10 of 20 is exactly
    * 0.5. One-row bands make both pairs candidates. */
  private val boundaryCorpus = {
    val shared = words("s", 604)
    val half = words("h", 12)
    Corpus("boundary", Seq(
      Some(1L) -> (shared ++ words("a", 700)).mkString(" "),
      Some(2L) -> (shared ++ words("b", 705)).mkString(" "),
      Some(3L) -> (half ++ words("c", 5)).mkString(" "),
      Some(4L) -> (half ++ words("d", 5)).mkString(" ")),
      shingleK = 3, bands = 32, rowsPerBand = 1, maxBucketSize = 200)
  }

  private def corpusFrame(c: Corpus, idType: String) =
    c.docs.map { case (id, t) => (id.map(java.lang.Long.valueOf).orNull, t) }
      .toDF("id", "text").repartition(3).select(col("id").cast(idType).as("id"), col("text"))

  private def lshArms(c: Corpus, df: org.apache.spark.sql.DataFrame, t: Double) =
    Dedup.minhashLshArms(df, "text", "id", c.shingleK, c.bands, c.rowsPerBand, t,
      c.maxBucketSize)

  test("endgame arms agree: minhash_lsh") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val points = for (c <- Seq(edgeCorpus, boundaryCorpus); idType <- Seq("long", "int");
                      t <- Seq(0.0, 0.3, 0.5, 1.0)) yield (c, idType, t)
    val results = Await.result(Future.traverse(points) { case (c, idType, t) => Future {
      val at = s"minhash_lsh ${c.name} $idType t=$t"
      val e = lshArms(c, corpusFrame(c, idType), t)
      GraphAlgos.clearPathDecisions(spark)
      val viaRun = GraphAlgos.run(e)
      val decisions = GraphAlgos.recentPathDecisions(spark)
      val docs = c.docs.count(_._2 != null)
      assert(decisions.exists(d => d.startsWith(
        s"minhash_lsh: driver endgame (rows=${e.rows} vs collect budget=") &&
        d.endsWith(s", docs=$docs)")), s"$at: $decisions")
      val dist = e.distributed()
      assert(viaRun.schema === dist.schema, at)
      def exact(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      val rows = exact(viaRun)
      assert(rows === exact(dist), at)
      Pins.releaseResult(dist)
      (c.name, idType, t) -> rows.map(r => (r(0).toString.toLong, r(1).toString.toLong,
        r(2).asInstanceOf[Double]))
    } }, scala.concurrent.duration.Duration.Inf).toMap
    // the sweep reaches every edge it is meant to cover
    for (idType <- Seq("long", "int")) {
      val edges0 = results(("edges", idType, 0.0))
      assert(edges0.count(r => r._1 == 2L && r._2 == 7L) === 2, "a duplicate id fans out")
      // trim() strips spaces only, so the tab-only text is not blank
      assert(edges0.exists(r => (r._1, r._2) == (11L, 12L)), "blank texts pair")
      assert(edges0.exists(r => (r._1, r._2) == (14L, 15L)), "short documents pair")
      assert(!edges0.exists(r => r._1 >= 20L), "an over-full bucket is dropped")
      assert(results(("edges", idType, 1.0)).map(r => (r._1, r._2)) ===
        Seq((1L, 3L), (11L, 12L), (14L, 15L), (2L, 7L)))
      assert(results(("boundary", idType, 0.3)).contains((1L, 2L, 0.3)),
        "0.29995 rounds up onto the threshold")
      assert(results(("boundary", idType, 0.5)) === Seq((3L, 4L, 0.5)))
    }
  }

  test("minhash_lsh: an id type with no local encoding runs distributed") {
    val c = boundaryCorpus
    val e = lshArms(c, corpusFrame(c, "string"), 0.5)
    GraphAlgos.clearPathDecisions(spark)
    val out = GraphAlgos.run(e)
    assert(GraphAlgos.recentPathDecisions(spark).last.startsWith(
      s"minhash_lsh: distributed path (rows=${Long.MaxValue} vs collect budget="))
    assert(GraphAlgos.recentPathDecisions(spark).last.endsWith(
      ", id type string has no local encoding)"))
    assert(out.collect().map(_.toSeq) === Array(Seq("3", "4", 0.5)))
    Pins.releaseResult(out)
  }

  test("run gates on rows before measuring work, then on work") {
    def decision(rows: Long, work: () => Long): (Seq[(Long, Long)], String) = {
      GraphAlgos.clearPathDecisions(spark)
      val out = GraphAlgos.run(GraphAlgos.Endgame(spark, "probe", Seq("a", "b"), rows,
        work, "k=1", () => Array((1L, 2L)), () => Seq((3L, 4L)).toDF("a", "b")))
      (out.as[(Long, Long)].collect().toSeq, GraphAlgos.recentPathDecisions(spark).last)
    }
    val budget = GraphAlgos.collectBudget(spark)
    val w = GraphAlgos.LocalIterWork
    assert(decision(budget + 1, () => fail("work measured over the row budget")) ===
      ((Seq((3L, 4L)), s"probe: distributed path (rows=${budget + 1} vs collect " +
        s"budget=$budget, steps=not measured vs work budget=$w, k=1)")))
    assert(decision(budget, () => w + 1)._1 === Seq((3L, 4L)))
    assert(decision(budget, () => -1L) ===
      ((Seq((3L, 4L)), s"probe: distributed path (rows=$budget vs collect " +
        s"budget=$budget, steps=unbounded vs work budget=$w, k=1)")))
    assert(decision(budget, () => w) ===
      ((Seq((1L, 2L)), s"probe: driver endgame (rows=$budget vs collect " +
        s"budget=$budget, steps=$w vs work budget=$w, k=1)")))
  }

  test("every registry procedure is a member or distributed-only") {
    val names = members.map(_._1).toSet + "minhash_lsh"
    val registry = Procedures.registry.keySet
    assert((registry -- names -- distributedOnly).isEmpty,
      "procedures with no differential coverage")
    assert((names -- pipelineMembers).subsetOf(registry))
    assert((names & distributedOnly).isEmpty)
  }

  test("scc: Tarjan endgame equals its distributed passes") {
    val g = shapes.last.g
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(longs(GraphAlgos.scc(g)) === longs(GraphAlgos.scc(g, localRowBudget = 0L)))
  }

  /** A 40-vertex chain whose tail runs on through five dangling ids,
    * closed into a triangle at its head: every min fixpoint on it takes
    * more than 32 rounds, so a distributed arm crosses the lineage
    * barrier (a reliable checkpoint every 16 pins) twice. */
  private lazy val chain = graph("chain", (1L to 40L).map(v), 2,
    (1L to 44L).map(i => (v(i), v(i + 1))) :+ ((v(3), v(1))), None)

  test("distributed arms past the lineage barrier agree on a 40-vertex chain and " +
      "leave no checkpoint files") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("endgame-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def files = java.nio.file.Files.walk(dir).iterator().asScala.map(_.toString).toSet
    val before = files
    val pairs = chain.allEdges.select(col("start_id").as("id_a"), col("end_id").as("id_b"))
    // kcore peels the chain's tail one vertex a round and keeps the head
    val agreed = (for (e <- Seq[GraphAlgos.Endgame[_]](
        GraphAlgos.connectedComponentsArms(chain), GraphAlgos.ssspArms(chain, v(45)),
        GraphAlgos.weightedSsspArms(chain, v(1), "w", 40), Dedup.dupClustersArms(pairs),
        GraphAlgos.kCoreArms(chain, 2, 1000)))
      yield {
        val out = e.distributed()
        assert(files === before, e.op)
        val rows = sorted(e.localFrame().collect())
        assert(rows === sorted(out.collect()), e.op)
        e.op -> rows
      }).toMap
    // the fixpoints are as deep as the chain
    assert(agreed("connected_components").map(_(1)).toSet === Set(v(1)))
    assert(agreed("dup_clusters").length === 45)
    assert(agreed("sssp").map(_(1).asInstanceOf[Long]).max === 44L)
    assert(agreed("wsssp").map(_(1).asInstanceOf[Double]).max === 40.0)
    assert(agreed("kcore") === Seq(Seq(v(1), 2L), Seq(v(2), 2L), Seq(v(3), 2L)))
  }

  test("forced-distributed kcore peels the chain in at most 2 jobs a round") {
    val e = GraphAlgos.kCoreArms(chain, 2, 1000)
    var rows = Array.empty[Row]
    val jobs = graft.SparkJobs.count(spark) { rows = e.distributed().collect() }
    assert(sorted(rows) === sorted(e.localFrame().collect()))
    // one vertex of the 45-vertex closure peels a round, down to the
    // 3-vertex head, and one more round finds the fixpoint
    val rounds = 45 - 3 + 1
    assert(jobs <= 2 * rounds, s"$jobs jobs for $rounds peel rounds")
    info(s"$jobs jobs for $rounds peel rounds")
  }

  test("forced-distributed calls leave no cached frame or persisted RDD behind") {
    val s = shapes.head
    val g = s.g
    val pairs = g.allEdges.select(col("start_id").as("id_a"), col("end_id").as("id_b"))
    val arms: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connected_components" -> (() => GraphAlgos.connectedComponentsArms(g).distributed()),
      "sssp" -> (() => GraphAlgos.ssspArms(g, s.real).distributed()),
      "wsssp" -> (() => GraphAlgos.weightedSsspArms(g, s.real, "w", 5).distributed()),
      "pagerank" -> (() => GraphAlgos.pageRankArms(g, 0.0001, 0.15).distributed()),
      "hits" -> (() => GraphAlgos.hitsArms(g, 4).distributed()),
      "ppr" -> (() => GraphAlgos.pprArms(g, s.real, 0.15, 4).distributed()),
      "lpa" -> (() => GraphAlgos.labelPropagationArms(g, 4).distributed()),
      "kcore" -> (() => GraphAlgos.kCoreArms(g, 2, 1000).distributed()),
      "random_walks" -> (() => GraphAlgos.randomWalksArms(g, 3, "walk").distributed()),
      "betweenness" -> (() => GraphAlgos.betweennessArms(g, 16, 64).distributed()),
      "jaccard" -> (() => GraphAlgos.jaccardArms(g, 64, 0.0).distributed()),
      "scc" -> (() => GraphAlgos.scc(g, localRowBudget = 0L)),
      "triangles" -> (() => GraphAlgos.triangleCountArms(g).distributed()),
      "dup_clusters" -> (() => Dedup.dupClustersArms(pairs).distributed()))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // persisted RDDs of earlier suites may be cleaned meanwhile, so the
    // RDD check is that nothing was added; a dropped result's own RDD
    // leaves the weakly held registry once it is collected
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- rdds
    for ((name, call) <- arms) {
      for (_ <- 1 to 3) assert(call().collect().nonEmpty, name)
      assert(cache.isEmpty, s"$name cached a frame")
      var tries = 0
      while (added.nonEmpty && tries < 50) { System.gc(); Thread.sleep(100); tries += 1 }
      assert(added.isEmpty, s"$name left ${added.size} persisted RDDs")
    }
  }

  test("forced-distributed hits and ppr agree with their local arms on a store-backed graph") {
    // bucketed scans claim a hash partitioning over their bucket count;
    // a pinned leaf must not carry that claim over its own partitions
    val s = shapes.head
    GraphStore.saveBucketed(new PropertyGraph("endgame_store", s.g.vertexLabels,
      s.g.edgeLabels), spark, buckets = 5)
    val g = GraphStore.loadBucketed(spark, "endgame_store")
    for ((e, tol) <- Seq[(GraphAlgos.Endgame[_], Double)](
        GraphAlgos.hitsArms(g, 4) -> 1e-9, GraphAlgos.pprArms(g, s.real, 0.15, 4) -> 1e-9)) {
      val (l, d) = (sorted(e.localFrame().collect()), sorted(e.distributed().collect()))
      assert(l.length === d.length && l.nonEmpty, e.op)
      for ((a, b) <- l.zip(d))
        assert(a.zip(b).forall { case (x, y) => same(x, y, Abs(tol)) },
          s"${e.op}: local $a vs distributed $b")
    }
  }

  test("scc: distributed passes equal Tarjan on a 40-vertex ring") {
    val ring = graph("ring", (1L to 40L).map(v), 2,
      (1L to 40L).map(i => (v(i), v(i % 40 + 1))), None)
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val distributed = longs(GraphAlgos.scc(ring, localRowBudget = 0L))
    assert(distributed.map(_._2).toSet === Set(v(1)))
    assert(distributed === longs(GraphAlgos.scc(ring)))
  }
}
