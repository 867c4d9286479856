package graft.cypher

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase
import graft.graph.MutableGraph
import graft.types.GraphId

/** Regress-style mutation tests (shapes from reference
  * regress/sql/cypher_create.sql, cypher_set.sql, cypher_delete.sql,
  * cypher_merge.sql). */
class MutationSpec extends SparkTestBase {

  def freshGraph(): MutableGraph = new MutableGraph("m", spark)

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("CREATE standalone node with properties, RETURN it") {
    val g = freshGraph()
    val r = Cypher.execute(spark, g,
      "CREATE (n:Person {name: 'Ann', age: 31}) RETURN n.name AS name, n.age AS age")
    assert(rows(r) === Seq(Seq("Ann", 31L)))
    // persisted:
    assert(rows(Cypher.execute(spark, g, "MATCH (n:Person) RETURN n.name AS name")) ===
      Seq(Seq("Ann")))
  }

  test("CREATE path creates nodes and edges with direction") {
    val g = freshGraph()
    Cypher.execute(spark, g,
      "CREATE (a:P {name: 'x'})-[:KNOWS {w: 1}]->(b:P {name: 'y'})")
    val r = Cypher.execute(spark, g,
      "MATCH (a:P)-[e:KNOWS]->(b:P) RETURN a.name AS a, b.name AS b, e.w AS w")
    assert(rows(r) === Seq(Seq("x", "y", 1L)))
  }

  test("clause-chain visibility: CREATE then MATCH in the same query") {
    val g = freshGraph()
    val r = Cypher.execute(spark, g,
      "CREATE (a:V {i: 1}) WITH a MATCH (n:V) RETURN n.i AS i")
    assert(rows(r) === Seq(Seq(1L)))
  }

  test("MATCH ... CREATE creates one entity per input row") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:Src {i: 1})")
    Cypher.execute(spark, g, "CREATE (:Src {i: 2})")
    Cypher.execute(spark, g, "MATCH (s:Src) CREATE (:Dst {j: s.i})")
    assert(rows(Cypher.execute(spark, g, "MATCH (d:Dst) RETURN d.j AS j ORDER BY j")) ===
      Seq(Seq(1L), Seq(2L)))
  }

  test("ids pack the allocated label id and dense entries") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:A {i: 1})")
    Cypher.execute(spark, g, "CREATE (:A {i: 2})")
    val ids = Cypher.execute(spark, g, "MATCH (n:A) RETURN id(n) AS id ORDER BY id")
      .collect().map(_.getLong(0))
    assert(ids.map(GraphId.entryId).toSeq === Seq(1L, 2L))
    assert(ids.map(GraphId.labelId).distinct.length === 1)
  }

  test("SET updates, adds, and REMOVE clears properties") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:V {i: 1})")
    Cypher.execute(spark, g, "MATCH (n:V) SET n.i = 10, n.s = 'hi'")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:V) RETURN n.i AS i, n.s AS s")) ===
      Seq(Seq(10L, "hi")))
    Cypher.execute(spark, g, "MATCH (n:V) REMOVE n.s")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:V) RETURN n.s AS s")) ===
      Seq(Seq(null)))
  }

  test("SET += map updates multiple keys") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:V {i: 1})")
    Cypher.execute(spark, g, "MATCH (n:V) SET n += {i: 2, j: 3}")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:V) RETURN n.i AS i, n.j AS j")) ===
      Seq(Seq(2L, 3L)))
  }

  test("mixed-type property values keep per-value typing across appends") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:V {k: 1})")
    Cypher.execute(spark, g, "CREATE (:V {k: 'x'})") // long + string -> variant
    // per-value typing survives: the int row still compares numerically,
    // the string row as a string (VariantSpec covers the full semantics)
    assert(rows(Cypher.execute(spark, g,
      "MATCH (n:V) WHERE n.k = 1 RETURN count(*) AS n")) === Seq(Seq(1L)))
    assert(rows(Cypher.execute(spark, g,
      "MATCH (n:V) WHERE n.k = 'x' RETURN count(*) AS n")) === Seq(Seq(1L)))
    Cypher.execute(spark, g, "CREATE (:W {f: 1})")
    // long + double ALSO goes variant (agtype keeps AGTV_INTEGER /
    // AGTV_FLOAT distinct per value — the int must not print as 1.0)
    Cypher.execute(spark, g, "CREATE (:W {f: 2.5})")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:W) RETURN n.f AS f ORDER BY f")) ===
      Seq(Seq("1"), Seq("2.5")))
  }

  test("SET n = {map} replaces all properties (clears untouched keys)") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:U {a: 1, b: 2})")
    Cypher.execute(spark, g, "MATCH (u:U) SET u = {b: 9, c: 3}")
    val r = Cypher.execute(spark, g,
      "MATCH (u:U) RETURN u.a AS a, u.b AS b, u.c AS c").collect()(0)
    assert(r.isNullAt(0)); assert(r.getLong(1) === 9L); assert(r.getLong(2) === 3L)
  }

  test("DELETE refuses vertices with edges; DETACH DELETE removes both") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (a:V {i: 1})-[:E]->(b:V {i: 2})")
    val e = intercept[Exception] {
      Cypher.execute(spark, g, "MATCH (n:V {i: 1}) DELETE n")
    }
    assert(e.getMessage.toLowerCase.contains("detach"))
    Cypher.execute(spark, g, "MATCH (n:V {i: 1}) DETACH DELETE n")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:V) RETURN n.i AS i")) === Seq(Seq(2L)))
    assert(Cypher.execute(spark, g, "MATCH ()-[e:E]->() RETURN e").count() === 0)
  }

  test("MERGE matches existing, creates missing, distinct-key dedup") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:U {k: 1})")
    // k=1 matches, k=2 created once even though two source rows ask for it
    Cypher.execute(spark, g, "UNWIND [1, 2, 2] AS x MERGE (u:U {k: x})")
    assert(rows(Cypher.execute(spark, g, "MATCH (u:U) RETURN u.k AS k ORDER BY k")) ===
      Seq(Seq(1L), Seq(2L)))
  }

  test("MERGE ON CREATE / ON MATCH SET") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:U {k: 1})")
    Cypher.execute(spark, g,
      """UNWIND [1, 2] AS x MERGE (u:U {k: x})
        |ON CREATE SET u.status = 'new' ON MATCH SET u.status = 'seen'""".stripMargin)
    assert(rows(Cypher.execute(spark, g,
      "MATCH (u:U) RETURN u.k AS k, u.status AS s ORDER BY k")) ===
      Seq(Seq(1L, "seen"), Seq(2L, "new")))
  }

  test("MERGE edge between bound endpoints is idempotent") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:N {i: 1})")
    Cypher.execute(spark, g, "CREATE (:N {i: 2})")
    val q = """MATCH (a:N {i: 1}) MATCH (b:N {i: 2}) MERGE (a)-[r:L]->(b)"""
    Cypher.execute(spark, g, q)
    Cypher.execute(spark, g, q) // second run must not duplicate
    assert(Cypher.execute(spark, g, "MATCH ()-[r:L]->() RETURN r").count() === 1)
  }

  test("MERGE RETURN binds matched-or-created entity") {
    val g = freshGraph()
    val r = Cypher.execute(spark, g,
      "MERGE (u:U {k: 5}) RETURN u.k AS k")
    assert(rows(r) === Seq(Seq(5L)))
  }

  test("MERGE full path with unbound endpoints creates the whole pattern") {
    val g = freshGraph()
    val q = "MERGE (a:City {name: 'SEA'})-[:IN]->(c:Country {name: 'US'})"
    Cypher.execute(spark, g, q)
    Cypher.execute(spark, g, q) // idempotent
    assert(Cypher.execute(spark, g, "MATCH (:City)-[r:IN]->(:Country) RETURN r").count() === 1)
    assert(Cypher.execute(spark, g, "MATCH (c:Country) RETURN c").count() === 1)
  }

  test("MERGE whole-pattern semantics: existing node alone does not match") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:Country {name: 'US'})")
    // pattern (City)-[:IN]->(Country {US}) has no match => creates BOTH
    // a new City and a NEW Country node (Cypher merges the pattern as a unit)
    Cypher.execute(spark, g,
      "MERGE (a:City {name: 'SEA'})-[:IN]->(c:Country {name: 'US'})")
    assert(Cypher.execute(spark, g, "MATCH (c:Country) RETURN c").count() === 2)
    assert(Cypher.execute(spark, g, "MATCH (:City)-[r:IN]->(:Country) RETURN r").count() === 1)
  }

  test("MERGE path with one bound endpoint") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:Person {name: 'Ann'})")
    Cypher.execute(spark, g, "CREATE (:Person {name: 'Bob'})")
    val q = """MATCH (p:Person) MERGE (p)-[:LIVES]->(h:Home {city: p.name})"""
    Cypher.execute(spark, g, q)
    Cypher.execute(spark, g, q) // second run matches, creates nothing
    assert(Cypher.execute(spark, g, "MATCH (h:Home) RETURN h").count() === 2)
    assert(Cypher.execute(spark, g,
      "MATCH (:Person)-[r:LIVES]->(:Home) RETURN r").count() === 2)
  }

  test("MERGE path distinct-key dedup across input rows") {
    val g = freshGraph()
    Cypher.execute(spark, g,
      "UNWIND [1, 2, 2] AS x MERGE (s:S {k: x})-[:R]->(t:T {k: x})")
    assert(Cypher.execute(spark, g, "MATCH (s:S) RETURN s").count() === 2)
    assert(Cypher.execute(spark, g, "MATCH (t:T) RETURN t").count() === 2)
    assert(Cypher.execute(spark, g, "MATCH (:S)-[r:R]->(:T) RETURN r").count() === 2)
  }

  test("MERGE multi-hop path creates the whole chain once") {
    val g = freshGraph()
    val q = """MERGE (a:P {k: 1})-[:R1]->(b:Q {k: 2})-[:R2]->(c:P {k: 3})"""
    Cypher.execute(spark, g, q)
    Cypher.execute(spark, g, q) // idempotent
    assert(Cypher.execute(spark, g, "MATCH (n:P) RETURN n").count() === 2)
    assert(Cypher.execute(spark, g, "MATCH (n:Q) RETURN n").count() === 1)
    assert(Cypher.execute(spark, g,
      "MATCH (:P)-[:R1]->(:Q)-[:R2]->(:P) RETURN 1").count() === 1)
    // same shared label P allocated disjoint ids for a and c
    val ids = Cypher.execute(spark, g, "MATCH (n:P) RETURN id(n) AS i")
      .collect().map(_.getLong(0))
    assert(ids.distinct.length === 2)
  }

  test("MERGE multi-hop with bound middle endpoint") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:Hub {name: 'h'})")
    Cypher.execute(spark, g,
      """MATCH (h:Hub) MERGE (a:In {k: 1})-[:TO]->(h2:Mid {k: 9})-[:FROM]->(c:Out {k: 2})""")
    assert(Cypher.execute(spark, g,
      "MATCH (:In)-[:TO]->(:Mid)-[:FROM]->(:Out) RETURN 1").count() === 1)
  }

  test("MERGE path ON CREATE / ON MATCH on multiple variables") {
    val g = freshGraph()
    Cypher.execute(spark, g,
      """MERGE (a:X {k: 1})-[r:E]->(b:Y {k: 2})
        |ON CREATE SET a.st = 'new', b.st = 'new'""".stripMargin)
    Cypher.execute(spark, g,
      """MERGE (a:X {k: 1})-[r:E]->(b:Y {k: 2})
        |ON MATCH SET a.st = 'seen'""".stripMargin)
    assert(rows(Cypher.execute(spark, g,
      "MATCH (a:X)-[:E]->(b:Y) RETURN a.st AS a_st, b.st AS b_st")) ===
      Seq(Seq("seen", "new")))
  }

  test("SET to null removes the key; += {k: null} drops k, others kept (cypher_set.out += {role:NULL})") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:R {k: 1, a: 10}), (:R {k: 2, a: 20, b: 'x'})")
    Cypher.execute(spark, g, "MATCH (r:R {k: 2}) SET r += {a: null, c: 7}")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (r:R) RETURN r.k AS k, r.a AS a, r.b AS b, r.c AS c ORDER BY k")) ===
      Seq(Seq(1L, 10L, null, null), Seq(2L, null, "x", 7L)))
    Cypher.execute(spark, g, "MATCH (r:R {k: 1}) SET r.a = null")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (r:R {k: 1}) RETURN keys(r) AS ks")) === Seq(Seq(Seq("k"))))
  }

  test("named paths bind in CREATE and MERGE (cypher_merge.out: MERGE p=()-[:e]-() RETURN p)") {
    val g = freshGraph()
    assert(rows(Cypher.execute(spark, g,
      "CREATE p = (:A {k: 1})-[:B]->(:C {k: 2}) RETURN length(p) AS len, size(nodes(p)) AS nn")) ===
      Seq(Seq(1L, 2)))
    assert(rows(Cypher.execute(spark, g,
      "MERGE p = (:MA {k: 1})-[:MB]-(:MC {k: 2}) RETURN length(p) AS len")) ===
      Seq(Seq(1L)))
    assert(rows(Cypher.execute(spark, g,
      "MERGE p = (:MD {k: 1}) RETURN length(p) AS len")) === Seq(Seq(0L)))
    val labels = Cypher.execute(spark, g,
      "CREATE p = (:X {k: 1})-[:Y]->(:Z {k: 2}) UNWIND nodes(p) AS v RETURN label(v) AS l ORDER BY l")
      .collect().map(_.getString(0)).toSeq
    assert(labels === Seq("X", "Z"))
  }

  test("undirected MERGE matches either orientation, creates left-to-right (cypher_merge.out test 23)") {
    val g = freshGraph()
    Cypher.execute(spark, g, "MERGE (m:M {k: 1})-[:R]-(n:M {k: 2})")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (m:M)-[:R]->(n:M) RETURN m.k AS sk, n.k AS ek")) === Seq(Seq(1L, 2L)))
    Cypher.execute(spark, g, "MERGE (m:M {k: 1})-[:R]-(n:M {k: 2})") // idempotent
    assert(rows(Cypher.execute(spark, g,
      "MATCH (:M)-[r:R]->(:M) RETURN count(*) AS n")) === Seq(Seq(1L)))
    // bound endpoints: a reversed existing edge satisfies the merge
    Cypher.execute(spark, g, "CREATE (:N {k: 8}), (:N {k: 9})")
    Cypher.execute(spark, g, "MATCH (x:N {k: 9}), (y:N {k: 8}) CREATE (x)-[:S]->(y)")
    Cypher.execute(spark, g, "MATCH (x:N {k: 8}), (y:N {k: 9}) MERGE (x)-[:S]-(y)")
    assert(rows(Cypher.execute(spark, g,
      "MATCH ()-[s:S]->() RETURN count(*) AS n")) === Seq(Seq(1L)))
  }

  test("empty-list literal unifies with a typed list column (list_comprehension.sql fixture)") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:U {list: [0, 2, 4, 6]})")
    Cypher.execute(spark, g, "CREATE (:U {list: []})")
    val r = rows(Cypher.execute(spark, g,
      "MATCH (u:U) RETURN size([i IN u.list WHERE i % 3 = 0 | i / 3]) AS n ORDER BY n"))
    assert(r === Seq(Seq(0), Seq(2)))
    assert(rows(Cypher.execute(spark, g,
      "MATCH (u:U) WHERE u.list = [] RETURN count(*) AS n")) === Seq(Seq(1L)))
  }

  test("SET n = {map} replaces all properties (cypher_set.sql:281-288)") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:S {k: 1, a: 10, b: 'x'})")
    Cypher.execute(spark, g, "MATCH (s:S {k: 1}) SET s = {k: 1, z: 99}")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (s:S) RETURN s.k AS k, s.a AS a, s.b AS b, s.z AS z")) ===
      Seq(Seq(1L, null, null, 99L)))
  }

  test("multi-item SET/REMOVE handles dotted and id-named property keys") {
    val g = freshGraph()
    Cypher.execute(spark, g, "CREATE (:W {k: 1})")
    // keys that would break naive col() resolution or collide with "id"
    Cypher.execute(spark, g,
      "MATCH (w:W) SET w.`a.b` = 7, w.`id` = 'x', w.k = 2")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (w:W) RETURN w.`a.b` AS ab, w.`id` AS wid, w.k AS k")) ===
      Seq(Seq(7L, "x", 2L)))
    Cypher.execute(spark, g, "MATCH (w:W) REMOVE w.`a.b`, w.k")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (w:W) RETURN w.`a.b` AS ab, w.`id` AS wid, w.k AS k")) ===
      Seq(Seq(null, "x", null)))
  }

  test("subqueries after a cross-variable SET correlate on the rewritten row") {
    // one n, two m rows: SET leaves n's id on both rows with a different
    // n.x each, so the EXISTS/COUNT correlation must not key by id alone
    val g = freshGraph()
    Cypher.execute(spark, g,
      "CREATE (:P {x: 1})-[:R]->(:T {x: 10}), (:Q {v: 10}), (:Q {v: 20})")
    assert(rows(Cypher.execute(spark, g,
      "MATCH (n:P),(m:Q) SET n.x = m.v " +
        "RETURN n.x AS nx, EXISTS { (n)-[:R]->(t:T) WHERE t.x = n.x } AS e " +
        "ORDER BY nx")) === Seq(Seq(10L, true), Seq(20L, false)))
    // the rewrite survives a WITH alias and feeds COUNT { } the same way
    assert(rows(Cypher.execute(spark, g,
      "MATCH (n:P),(m:Q) SET n.x = m.v WITH n AS k " +
        "RETURN k.x AS nx, COUNT { (k)-[:R]->(t:T) WHERE t.x = k.x } AS c " +
        "ORDER BY nx")) === Seq(Seq(10L, 1L), Seq(20L, 0L)))
    // MERGE's ON MATCH SET rewrites the matched entity per input row
    assert(rows(Cypher.execute(spark, g,
      "MATCH (m:Q) MERGE (n:P) ON MATCH SET n.y = m.v " +
        "RETURN n.y AS ny, EXISTS { (n)-[:R]->(t:T) WHERE t.x = n.y } AS e " +
        "ORDER BY ny")) === Seq(Seq(10L, true), Seq(20L, false)))
  }

  test("a computed property-map value matches a variant-typed property like its literal") {
    val g = freshGraph()
    // a double, a long and a string value make A.k variant-typed
    Cypher.execute(spark, g, "CREATE (:A {k: 2.0, v: 1})")
    Cypher.execute(spark, g, "CREATE (:A {k: 1, v: 2})")
    Cypher.execute(spark, g, "CREATE (:A {k: 'x', v: 3})")
    def matched(k: String) = rows(Cypher.execute(spark, g,
      s"MATCH (n:A {k: $k}) RETURN n.v AS v ORDER BY v"))
    assert(matched("2.0") === Seq(Seq(1L)))
    assert(matched("1.0 + 1.0") === matched("2.0"))
    assert(matched("0 + 1") === matched("1"))
    Cypher.execute(spark, g, "MATCH (n:A {k: 1.0 + 1.0}) REMOVE n.v")
    assert(rows(Cypher.execute(spark, g, "MATCH (n:A) RETURN n.v AS v ORDER BY v")) ===
      Seq(Seq(2L), Seq(3L), Seq(null)))
  }

  test("runtime-map key probe is cardinality-capped") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wide = spark.range(5).select(
      map_from_arrays(
        transform(sequence(lit(0), lit(9)),
          i => concat(lit("k"), (col("id") * 10 + i).cast("string"))),
        transform(sequence(lit(0), lit(9)), i => i)).as("m"))
    // 50 distinct keys: fine under a 64-key cap, rejected under a 10-key cap
    assert(Planner.runtimeMapKeys(wide, map_keys($"m"), cap = 64).size === 50)
    val e = intercept[IllegalArgumentException] {
      Planner.runtimeMapKeys(wide, map_keys($"m"), cap = 10)
    }
    assert(e.getMessage.contains("more than 10 distinct keys"))
  }
}
