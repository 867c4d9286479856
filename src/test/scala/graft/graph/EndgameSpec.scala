package graft.graph

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

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
  private case class Point(label: String, arms: GraphAlgos.Endgame[_ <: Product],
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
    val names = members.map(_._1).toSet
    val registry = Procedures.registry.keySet
    assert((registry -- names -- distributedOnly).isEmpty,
      "procedures with no differential coverage")
    assert((names - "dup_clusters").subsetOf(registry))
    assert((names & distributedOnly).isEmpty)
  }

  test("scc: Tarjan endgame equals its distributed passes") {
    val g = shapes.last.g
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(longs(GraphAlgos.scc(g)) === longs(GraphAlgos.scc(g, localRowBudget = 0L)))
  }
}
