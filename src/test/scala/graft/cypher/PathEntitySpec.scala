package graft.cypher

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.graph.{MutableGraph, PropName}

/** The differential spec of the path-entity materializer. On seeded
  * random small graphs, every entity that nodes()/relationships(), a bare
  * variable-length binding in HOF position, UNWIND or startNode/endNode
  * materializes must equal a driver-side lookup of that row's ids in the
  * collected vertex and edge frames: ids, labels, endpoints, properties
  * and order. The materializing query must also return the same rows,
  * with the same multiplicity, as the query that returns the id arrays
  * alone. */
class PathEntitySpec extends SparkTestBase {

  /** A materialized entity: id, label, endpoints (edges only) and
    * properties by name. */
  private case class Ent(id: Long, label: String, start: Option[Long], end: Option[Long],
      props: Map[String, Any])

  private def entOf(r: Row): Ent = {
    val fields = r.schema.fieldNames.toSet
    def opt(f: String) = if (fields(f)) Some(r.getAs[Long](f)) else None
    val p = r.getAs[Row]("properties")
    Ent(r.getAs[Long]("id"), r.getAs[String]("label"), opt("start_id"), opt("end_id"),
      p.schema.fieldNames.zip(p.toSeq).filterNot(_._1 == "__empty").toMap)
  }

  private def ents(x: Any): Any = x match {
    case null => null
    case s: scala.collection.Seq[_] => s.map(e => entOf(e.asInstanceOf[Row])).toList
  }

  /** A vertex or edge frame, collected and keyed by id. */
  private def lookup(rows: Array[Row], fixed: Set[String]): Map[Long, Ent] = rows.map { r =>
    val names = r.schema.fieldNames
    def opt(f: String) = if (names.contains(f)) Some(r.getAs[Long](f)) else None
    val props = names.zip(r.toSeq).filterNot(f => fixed(f._1))
      .map { case (n, v) => PropName.dec(n) -> v }.toMap
    r.getAs[Long]("id") -> Ent(r.getAs[Long]("id"), r.getAs[String]("label"),
      opt("start_id"), opt("end_id"), props)
  }.toMap

  /** One CREATE of a random graph: A and B vertices with different
    * property sets (A's `s` is sometimes absent), and R and S edges
    * (self-loops and parallel edges included). */
  private val genGraph: Gen[String] = for {
    na <- Gen.choose(2, 4)
    nb <- Gen.choose(1, 3)
    as <- Gen.listOfN(na, Gen.zip(Gen.choose(0, 4), Gen.option(Gen.alphaLowerChar)))
    bs <- Gen.listOfN(nb, Gen.zip(Gen.choose(0, 4), Gen.alphaLowerChar))
    ne <- Gen.choose(3, 8)
    es <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, na + nb - 1), Gen.choose(0, na + nb - 1),
      Gen.oneOf("R", "S"), Gen.choose(0, 4)))
  } yield {
    val vs = as.zipWithIndex.map { case ((k, s), i) =>
      s"(v$i:A {k: $k${s.fold("")(c => s", s: '$c'")}})"
    } ++ bs.zipWithIndex.map { case ((k, t), j) => s"(v${na + j}:B {k: $k, t: '$t'})" }
    val edges = es.map {
      case (a, b, "R", w) => s"(v$a)-[:R {w: $w}]->(v$b)"
      case (a, b, _, w) => s"(v$a)-[:S {w: $w, z: 'z$w'}]->(v$b)"
    }
    "CREATE " + (vs ++ edges).mkString(", ")
  }

  /** A requested column and its expected value, from the row's bound
    * id arrays. */
  private case class Req(cypher: String, expected: Map[String, Any] => Any, norm: Any => Any)

  /** A query shape: `body` binds `vars`; `tail` (a WHERE or WITH … WHERE)
    * filters the materializing query as `keep` filters the plain one. */
  private case class Shape(name: String, body: String, vars: Seq[String], reqs: Seq[Req],
      tail: String, keep: Map[String, Any] => Boolean)

  private def check(g: MutableGraph, seed: Long): Unit = {
    val snap = g.snapshot
    val verts = lookup(snap.allVertices.collect(), Set("id", "label"))
    val edges = lookup(snap.allEdges.collect(), Set("id", "label", "start_id", "end_id"))
    // an unmatched OPTIONAL path is null
    def bound(x: Any): Option[Any] = Option(x).filterNot { case r: Row => r.isNullAt(0); case _ => false }
    def nodeIds(x: Any): Seq[Long] = x.asInstanceOf[Row].getSeq[Long](0)
    def relIds(x: Any): Seq[Long] = x match {
      case r: Row => r.getSeq[Long](1)
      case s: scala.collection.Seq[_] => s.toSeq.asInstanceOf[Seq[Long]]
    }
    def nodes(p: String) = Req(s"nodes($p)", m => bound(m(p)).map(nodeIds(_).map(verts).toList).orNull, ents)
    def rels(p: String) = Req(s"relationships($p)", m => bound(m(p)).map(relIds(_).map(edges).toList).orNull, ents)
    def w(id: Long): Long = edges(id).props("w").asInstanceOf[Long]
    val comp = Req("[x IN r | x]", m => relIds(m("r")).map(edges).toList, ents)
    val allW = Req("all(x IN r WHERE x.w >= 2)", m => relIds(m("r")).forall(w(_) >= 2), identity)
    val sumW = Req("reduce(acc = 0, x IN r | acc + x.w)", m => relIds(m("r")).map(w).sum,
      x => x.asInstanceOf[Number].longValue)
    val all: Map[String, Any] => Boolean = _ => true
    val shapes = Seq(
      Shape("fixed typed", "MATCH p = (a:A)-[:R]->(b)", Seq("p"), Seq(nodes("p"), rels("p")), "", all),
      Shape("fixed untyped, nodes only", "MATCH p = (a)-[]->()-[]->(c)", Seq("p"), Seq(nodes("p")), "", all),
      Shape("relationships only", "MATCH p = (a)-[:R|S]->(b)", Seq("p"), Seq(rels("p")), "", all),
      Shape("vle path", "MATCH p = (a:A)-[*1..3]->(b)", Seq("p"), Seq(nodes("p"), rels("p")), "", all),
      Shape("zero-length typed vle path", "MATCH p = (a)-[:S*0..2]->(b)", Seq("p"),
        Seq(rels("p"), nodes("p")), "", all),
      Shape("shortestpath", "MATCH p = shortestpath((a:A)-[*..3]->(b:B))", Seq("p"),
        Seq(nodes("p"), rels("p")), "", all),
      Shape("two path bindings", "MATCH p = (a:A)-[:R]->(b), q = (b)-[]->(c)", Seq("p", "q"),
        Seq(nodes("p"), rels("p"), nodes("q")), "", all),
      Shape("duplicate outer rows", "MATCH p = (a)-[]->(b) UNWIND [1, 1] AS d", Seq("p"),
        Seq(rels("p"), nodes("p")), "", all),
      Shape("optional null path next to a matched one",
        "MATCH q = (a:A)-[*0..1]->(x) OPTIONAL MATCH p = (x)-[:S]->(y)", Seq("q", "p"),
        Seq(nodes("p"), rels("p"), nodes("q"), rels("q")), "", all),
      Shape("bare vle var in HOFs", "MATCH (a)-[r*1..2]->(b)", Seq("r"),
        Seq(rels("r"), comp, allW, sumW), "", all),
      Shape("nodes() in WHERE", "MATCH p = (a)-[*1..2]->(b)", Seq("p"), Seq(rels("p")),
        "WHERE all(n IN nodes(p) WHERE n.k >= 2)",
        m => nodeIds(m("p")).forall(verts(_).props("k").asInstanceOf[Long] >= 2)),
      Shape("bare vle var in WITH … WHERE", "MATCH (a)-[r*1..2]->(b)", Seq("r"), Seq(comp),
        "WITH r WHERE any(x IN r WHERE x.w < 2)", m => relIds(m("r")).exists(w(_) < 2)))

    def key(x: Any): Any = x match {
      case r: Row => bound(r).map(_ => (nodeIds(r).toList, relIds(r).toList)).orNull
      case s: scala.collection.Seq[_] => s.toList
      case other => other
    }
    def counts(xs: Seq[Seq[Any]]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    for (s <- shapes) {
      val ctx = s"seed $seed, ${s.name}"
      val vs = s.vars.mkString(", ")
      val plain = Cypher.query(spark, snap, s"${s.body} RETURN $vs").collect().toSeq
        .filter(r => s.keep(s.vars.zip(r.toSeq).toMap))
      val cols = s.reqs.zipWithIndex.map { case (q, i) => s"${q.cypher} AS c$i" }
      val got = Cypher.query(spark, snap, s"${s.body} ${s.tail} RETURN $vs, ${cols.mkString(", ")}")
        .collect().toSeq
      // every shape has rows, and the OPTIONAL shape both null and matched paths
      val nulls = got.count(r => s.vars.indices.exists(i => key(r.get(i)) == null))
      assert(got.nonEmpty && (!s.body.contains("OPTIONAL") || nulls > 0 && nulls < got.size), ctx)
      assert(counts(got.map(r => s.vars.indices.map(i => key(r.get(i))))) ===
        counts(plain.map(r => s.vars.indices.map(i => key(r.get(i))))), ctx)
      for (r <- got) {
        val m = s.vars.zip(r.toSeq).toMap
        for ((q, i) <- s.reqs.zipWithIndex)
          assert(q.norm(r.get(s.vars.size + i)) === q.expected(m), s"$ctx: ${q.cypher} of $m")
      }
    }

    // UNWIND binds each id's entity; startNode/endNode bind the endpoint's
    val unwound = Cypher.query(spark, snap,
      "MATCH p = (a)-[*0..2]->(b) UNWIND nodes(p) AS n UNWIND relationships(p) AS e " +
        "RETURN p, n, e").collect().toSeq
    val paths = Cypher.query(spark, snap, "MATCH p = (a)-[*0..2]->(b) RETURN p").collect().toSeq
    assert(counts(unwound.map(r => Seq(key(r.get(0)), entOf(r.getAs[Row](1)), entOf(r.getAs[Row](2))))) ===
      counts(paths.flatMap { r =>
        for (n <- nodeIds(r.get(0)); e <- relIds(r.get(0))) yield Seq(key(r.get(0)), verts(n), edges(e))
      }), s"seed $seed, UNWIND")
    val ends = Cypher.query(spark, snap, "MATCH ()-[e]->() RETURN e, startNode(e) AS s, endNode(e) AS t")
      .collect()
    assert(ends.length === edges.size, s"seed $seed, endpoints")
    for (r <- ends) {
      val e = entOf(r.getAs[Row](0))
      assert(e === edges(e.id) && entOf(r.getAs[Row](1)) === verts(e.start.get) &&
        entOf(r.getAs[Row](2)) === verts(e.end.get), s"seed $seed, endpoints of $e")
    }
  }

  test("materialized path entities equal a driver-side lookup of their ids") {
    for (seed <- Seq(3L, 11L)) {
      val g = new MutableGraph(s"pe$seed", spark)
      Cypher.execute(spark, g, genGraph.pureApply(Gen.Parameters.default, Seed(seed)))
      check(g, seed)
    }
  }

  test("an unmatched OPTIONAL path returns null") {
    val g = new MutableGraph("pe_null", spark)
    Cypher.execute(spark, g, "CREATE (:A {k: 1})-[:R {w: 1}]->(:B {k: 2})")
    val r = Cypher.execute(spark, g,
      "MATCH (a:A) OPTIONAL MATCH p = (a)-[:S]->(b) RETURN p").collect()
    assert(r.length === 1 && r(0).isNullAt(0))
  }

  test("UNWIND and startNode keep reserved and dotted property names") {
    val g = new MutableGraph("pe_names", spark)
    Cypher.execute(spark, g, "CREATE (:A {id: 7, `a.b`: 1})-[:R {id: 8}]->(:B {k: 2})")
    def one(q: String): Seq[Any] = Cypher.execute(spark, g, q).collect().toSeq.map(_.toSeq).head
    assert(one("MATCH p = (:A)-[:R]->() UNWIND nodes(p) AS n WITH n WHERE n.k IS NULL " +
      "RETURN n.id AS i, n.`a.b` AS ab") === Seq(7L, 1L))
    assert(one("MATCH p = (:A)-[:R]->() UNWIND relationships(p) AS e RETURN e.id AS i") === Seq(8L))
    assert(one("MATCH ()-[e:R]->() RETURN startNode(e).id AS i, startNode(e).`a.b` AS ab") ===
      Seq(7L, 1L))
    assert(one("MATCH p = (:A)-[:R]->() RETURN nodes(p)[0].id AS i, relationships(p)[0].id AS j") ===
      Seq(7L, 8L))
  }
}
