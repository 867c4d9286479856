package graft.cypher

import graft.SparkTestBase
import graft.graph.{GraphAlgos, MutableGraph}

/** The reference's VLE regression graph with its exact golden path
  * counts (reference: regress/sql/cypher_vle.sql:32-121 and
  * regress/expected/cypher_vle.out) — 11 edges wired so that
  * unbounded directed / reverse / undirected traversal with edge
  * isomorphism yields 400 / 2 / 7092 paths begin→end and 2922 total.
  */
class VleGoldenSpec extends SparkTestBase {

  lazy val g: MutableGraph = {
    val m = new MutableGraph("vle", spark)
    Cypher.execute(spark, m,
      """CREATE (b:begin)-[:edge {name: 'main edge', number: 1}]->(u1:middle)
        |-[:edge {name: 'main edge', number: 2, packages: [2,4,6]}]->(u2:middle)
        |-[:edge {name: 'main edge', number: 3}]->(u3:middle)
        |-[:edge {name: 'main edge', number: 4}]->(e:end),
        |(u1)-[:self_loop {name: 'self loop', number: 1}]->(u1),
        |(e)-[:self_loop {name: 'self loop', number: 2}]->(e),
        |(b)-[:alternate_edge {name: 'alternate edge', number: 1, packages: [2,4,6]}]->(u1),
        |(u2)-[:alternate_edge {name: 'alternate edge', number: 2, packages: [2,4,6]}]->(u3),
        |(u3)-[:alternate_edge {name: 'alternate edge', number: 3, packages: [2,4,6]}]->(e),
        |(u2)-[:bypass_edge {name: 'bypass edge', number: 1, packages: [1,3,5,7]}]->(e),
        |(e)-[:alternate_edge {name: 'backup edge', number: 1, packages: [1,3,5,7]}]->(u3),
        |(u3)-[:alternate_edge {name: 'backup edge', number: 2, packages: [1,3,5,7]}]->(u2),
        |(u2)-[:bypass_edge {name: 'bypass edge', number: 2, packages: [1,3,5,7]}]->(b)
        |""".stripMargin.replaceAll("\n", " "))
    m
  }

  def count(q: String): Long =
    Cypher.execute(spark, g, q).collect()(0).getLong(0)

  /** The edge-push lines the planner journaled since the last clear. */
  private def pushes(): Seq[String] =
    GraphAlgos.recentPathDecisions(spark).filter(_.startsWith("edge push: "))

  test("unbounded directed begin->end finds 400 paths (cypher_vle.sql:78-82)") {
    assert(count("MATCH (u:begin)-[*]->(v:end) RETURN count(*) AS n") === 400L)
    assert(count("MATCH (u:begin)-[*1..]->(v:end) RETURN count(*) AS n") === 400L)
    assert(count("MATCH (u:begin)-[*1..200]->(v:end) RETURN count(*) AS n") === 400L)
    assert(count("MATCH (u:begin)-[*0..]->(v:end) RETURN count(*) AS n") === 400L)
  }

  test("unbounded reverse begin<-end finds 2 paths (cypher_vle.sql:84-88)") {
    assert(count("MATCH (u:begin)<-[*]-(v:end) RETURN count(*) AS n") === 2L)
    assert(count("MATCH (u:begin)<-[*1..]-(v:end) RETURN count(*) AS n") === 2L)
  }

  test("unbounded undirected begin-end finds 7092 paths (cypher_vle.sql:90-94)") {
    assert(count("MATCH (u:begin)-[*]-(v:end) RETURN count(*) AS n") === 7092L)
  }

  test("label and property constrained VLE (cypher_vle.sql:96-102)") {
    assert(count("MATCH (u:begin)-[:edge*]-(v:end) RETURN count(*) AS n") === 1L)
    assert(count(
      "MATCH (u:begin)-[:edge* {name: 'main edge'}]-(v:end) RETURN count(*) AS n") === 1L)
    assert(count(
      "MATCH (u:begin)-[* {name: 'main edge'}]-(v:end) RETURN count(*) AS n") === 1L)
    assert(count(
      "MATCH ()<-[*4..4 {name: 'main edge'}]-() RETURN count(*) AS n") === 1L)
  }

  test("whole-graph unbounded VLE finds 2922 paths (cypher_vle.sql:104-106)") {
    assert(count("MATCH ()-[*]->() RETURN count(*) AS n") === 2922L)
  }

  test("fixed-length bounds (cypher_vle.sql:49-57,114-116)") {
    assert(count("MATCH p=(u:begin)-[*3..3]->(v:end) RETURN count(*) AS n") === 2L)
    assert(count("MATCH p=(u:begin)-[*3..3]-(v:end) RETURN count(*) AS n") === 12L)
  }

  test("seed pushdown keeps WHERE semantics: single-var predicates on " +
      "traversal endpoints, 3VL nulls, and scope-bound vars") {
    // a pushed-then-reapplied source predicate must not change results
    // vs the same constraint expressed in the pattern
    assert(count(
      "MATCH (u)-[*]->(v:end) WHERE 'begin' IN labels(u) RETURN count(*) AS n") === 400L)
    // null-prop predicate (3VL): begin/end nodes have no `name` prop —
    // the push filters them at the scan exactly like the post-filter
    assert(count(
      "MATCH (u)-[*]->(v:end) WHERE u.name IS NULL AND 'begin' IN labels(u) " +
        "RETURN count(*) AS n") === 400L)
    // two-variable conjuncts are NOT pushable and still work
    assert(count(
      "MATCH (u:begin)-[*]->(v) WHERE id(u) <> id(v) AND 'end' IN labels(v) " +
        "RETURN count(*) AS n") === 400L)
    // a variable bound by an earlier scope (WITH) is excluded from the
    // push and still filters correctly
    assert(count(
      "MATCH (u:begin) WITH u MATCH (u)-[*]->(v:end) WHERE id(u) >= 0 " +
        "RETURN count(*) AS n") === 400L)
    // predicate selecting NO sources yields an empty, not an error
    assert(count(
      "MATCH (u:begin)-[*]->(v:end) WHERE id(u) < 0 RETURN count(*) AS n") === 0L)
    // shortestpath with a source-only predicate (the seeded BFS path)
    assert(count(
      "MATCH p = shortestpath((u:begin)-[*..5]->(v:end)) WHERE id(u) >= 0 " +
        "RETURN count(*) AS n") === 1L)
  }

  test("a bare VLE binding is the traversed edge list: HOFs, UNWIND, " +
      "reduce over r materialize edge entities") {
    // [x IN r | x.name] over the single all-main-edge chain
    val names = Cypher.execute(spark, g,
      "MATCH (u:begin)-[r:edge*4..4]->(v:end) RETURN [x IN r | x.name] AS ns")
      .collect()
    assert(names.length === 1)
    assert(names(0).getSeq[String](0) === Seq.fill(4)("main edge"))
    // reduce over r sums the traversed edge numbers (1+2+3+4)
    assert(count(
      "MATCH (u:begin)-[r:edge*4..4]->(v:end) " +
        "RETURN reduce(s = 0, x IN r | s + x.number) AS n") === 10L)
    // UNWIND r yields one edge entity per traversed edge
    assert(count(
      "MATCH (u:begin)-[r:edge*4..4]->(v:end) UNWIND r AS x " +
        "RETURN count(x.name) AS n") === 4L)
  }

  test("named paths over VLE hops materialize INTERIOR vertices: " +
      "nodes(p) is the full visited sequence, zero-length is one node") {
    // the all-main-edge chain visits begin, u1, u2, u3, end
    val r = Cypher.execute(spark, g,
      "MATCH p = (u:begin)-[:edge*4..4 {name: 'main edge'}]->(v:end) " +
        "RETURN size(nodes(p)) AS n, [x IN nodes(p) | labels(x)[0]] AS ls")
      .collect()
    assert(r.length === 1)
    assert(r(0).getAs[Number](0).longValue === 5L)
    assert(r(0).getSeq[String](1) ===
      Seq("begin", "middle", "middle", "middle", "end"))
    // unbounded iterative expansion carries interiors too
    val u = Cypher.execute(spark, g,
      "MATCH p = (u:begin)-[:edge* {name: 'main edge'}]->(v:end) " +
        "RETURN size(nodes(p)) AS n").collect()
    assert(u.map(_.getAs[Number](0).longValue).toSeq === Seq(5L))
    // nodes = hops + 1 on every directed path of the golden graph
    assert(count(
      "MATCH p = (u:begin)-[*]->(v:end) " +
        "WHERE size(nodes(p)) = length(p) + 1 RETURN count(*) AS n") === 400L)
    // a zero-length path has ONE node, not a doubled endpoint
    assert(count(
      "MATCH p = (u:begin)-[*0..0]->(v) WHERE size(nodes(p)) = 1 " +
        "RETURN count(*) AS n") === 1L)
    // undirected traversal records the visited sequence through
    // reversed edges as well
    assert(count(
      "MATCH p = (u:begin)-[*2..2]-(v) " +
        "WHERE size(nodes(p)) = 3 RETURN count(*) AS n") ===
      count("MATCH p = (u:begin)-[*2..2]-(v) RETURN count(*) AS n"))
  }

  test("edge predicate pushdown: all(x IN r WHERE ...) filters the " +
      "traversal's edge frame and matches the unpushed form exactly") {
    // all(name = 'main edge') == the literal prop-map constraint the
    // reference applies per traversed edge (cypher_vle.sql:96-102)
    assert(count(
      "MATCH (u:begin)-[r*]-(v:end) WHERE all(x IN r WHERE x.name = 'main edge') " +
        "RETURN count(*) AS n") === 1L)
    // pushed form vs an equivalent UNPUSHABLE form (the OR references
    // the source variable, blocking the push): identical counts
    val pushed = count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.number <= 2) " +
        "RETURN count(*) AS n")
    val blocked = count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE all(x IN r WHERE x.number <= 2 OR id(u) < -900000000) " +
        "RETURN count(*) AS n")
    assert(pushed === blocked)
    // 3VL: edges without `packages` yield null bodies and drop the path
    // at the scan exactly like the post-filter's all()
    val pushedNull = count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.packages[0] = 2) " +
        "RETURN count(*) AS n")
    val blockedNull = count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE all(x IN r WHERE x.packages[0] = 2 OR id(u) < -900000000) " +
        "RETURN count(*) AS n")
    assert(pushedNull === blockedNull)
    // zero-length paths carry no edges: all() over [] is true, so the
    // k=0 arm survives any pushed predicate
    assert(count(
      "MATCH (u:begin)-[r*0..1]->(v) WHERE all(x IN r WHERE x.name = 'no such') " +
        "RETURN count(*) AS n") === 1L)
    // named-path form pushes into every edge scan of the pattern
    // (single-hop AND var-length legs)
    assert(count(
      "MATCH p = (u:begin)-[:edge]->(m)-[*1..3]->(v:end) " +
        "WHERE all(x IN relationships(p) WHERE x.name = 'main edge') " +
        "RETURN count(*) AS n") === 1L)
    // any() is NOT pushed (not edge-local: one good edge saves a path)
    // and still evaluates correctly via entity materialization
    assert(count(
      "MATCH (u:begin)-[r*2..2]->(v) WHERE any(x IN r WHERE x.name = 'self loop') " +
        "RETURN count(*) AS n") > 0L)
    // none() pushes symmetrically: survivors have the body IS FALSE on
    // every edge; equals its blocked two-variable form, and the
    // negated-body all() (no golden edge has a null name)
    val nonePushed = count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE none(x IN r WHERE x.name <> 'main edge') " +
        "RETURN count(*) AS n")
    val noneBlocked = count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE none(x IN r WHERE x.name <> 'main edge' AND id(u) > -900000000) " +
        "RETURN count(*) AS n")
    assert(nonePushed === noneBlocked)
    assert(nonePushed === count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.name = 'main edge') " +
        "RETURN count(*) AS n"))
    assert(nonePushed === 1L)
    // OPTIONAL MATCH: pattern-side edge predicate pushes; outer rows
    // whose paths all fail keep their nulls
    val r = Cypher.execute(spark, g,
      "MATCH (u:begin) OPTIONAL MATCH (u)-[r*]->(v:end) " +
        "WITH u, r WHERE r IS NULL OR all(x IN r WHERE x.name = 'main edge') " +
        "RETURN count(*) AS n").collect()(0)
    assert(r.getLong(0) >= 1L)
  }

  test("mixed all()/none() bodies push their pushable subset: partial " +
      "push applied at the edge scan, full body re-applied, values equal") {
    // all(p AND q) with q referencing the source var: p pushes alone
    // (an edge failing p fails the conjunction — row-reduction only),
    // q stays in the post-join re-application of the full body
    GraphAlgos.clearPathDecisions(spark)
    val mixed = count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE all(x IN r WHERE x.number <= 2 AND id(u) > -900000000) " +
        "RETURN count(*) AS n")
    val mixedPushes = pushes()
    assert(mixedPushes.exists(_.contains("number")),
      s"expected the pushable conjunct at the edge scan, saw: $mixedPushes")
    assert(!mixedPushes.exists(_.contains("Var(u)")),
      s"unpushable conjunct must not reach the scan: $mixedPushes")
    // values identical to the fully-pushable form of the same constraint
    assert(mixed === count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.number <= 2) " +
        "RETURN count(*) AS n"))
    // a fully-unpushable body applies nothing at the scan
    GraphAlgos.clearPathDecisions(spark)
    count("MATCH (u:begin)-[r*]->(v:end) " +
      "WHERE all(x IN r WHERE x.number <= 2 OR id(u) < -900000000) " +
      "RETURN count(*) AS n")
    assert(pushes().isEmpty)
    // none(p OR q) with q scope-bound: p IS FALSE pushes alone (a
    // surviving path needs the whole disjunction false on every edge)
    GraphAlgos.clearPathDecisions(spark)
    val noneMixed = count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE none(x IN r WHERE x.name <> 'main edge' OR id(u) < -900000000) " +
        "RETURN count(*) AS n")
    assert(pushes().exists(_.contains("name")))
    assert(noneMixed === count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE none(x IN r WHERE x.name <> 'main edge') " +
        "RETURN count(*) AS n"))
    assert(noneMixed === 1L)
  }

  test("EXPLAIN lists the edge-scan pushes with the path decisions") {
    val lines = Cypher.execute(spark, g,
      "EXPLAIN MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.number <= 2) " +
        "RETURN count(*) AS n").collect().map(_.getString(0))
    assert(lines.exists(_.contains("== Procedure Path Decisions ==")), lines.mkString("\n"))
    assert(lines.exists(l => l.startsWith("- edge push: ") && l.contains("number")),
      lines.mkString("\n"))
  }

  test("a WHOLLY-pushed all()/none() body elides the post-join re-apply; " +
      "partial pushes and shortestpath patterns keep it") {
    // fully pushable body: pushed at the scan AND the redundant
    // re-application (edge-entity materialization of the whole path
    // frame) is skipped — value equality with the blocked form is
    // pinned by the pushdown tests above
    GraphAlgos.clearPathDecisions(spark)
    val full = count(
      "MATCH (u:begin)-[r*]->(v:end) WHERE all(x IN r WHERE x.number <= 2) " +
        "RETURN count(*) AS n")
    assert(pushes().exists(_.contains("elided")),
      s"expected the elide note, saw: ${pushes()}")
    assert(full === count(
      "MATCH (u:begin)-[r*]->(v:end) " +
        "WHERE all(x IN r WHERE x.number <= 2 OR id(u) < -900000000) " +
        "RETURN count(*) AS n"))
    // mixed body: only the pushable subset reaches the scan, so the
    // full body MUST still re-apply post-join
    GraphAlgos.clearPathDecisions(spark)
    count("MATCH (u:begin)-[r*]->(v:end) " +
      "WHERE all(x IN r WHERE x.number <= 2 AND id(u) > -900000000) " +
      "RETURN count(*) AS n")
    assert(!pushes().exists(_.contains("elided")))
    // shortestpath never applies edge predicates at the scan
    // (pre-filtering would change which path is shortest), so nothing
    // elides and the post-filter still runs
    GraphAlgos.clearPathDecisions(spark)
    count("MATCH p = shortestpath((u:begin)-[r*..5]->(v:end)) " +
      "WHERE all(x IN r WHERE x.number <= 2) RETURN count(*) AS n")
    assert(!pushes().exists(_.contains("elided")))
  }

  test("strict predicates follow the scan-eval contract: quals may raise " +
      "on non-matching scan rows; try-style conversions never raise") {
    // The junk lives on a row the pattern ELIMINATES: the isolated :S
    // node has an unparseable code. The engine keeps the reference's
    // qual-pushdown contract (quals evaluate at the scan, so a strict
    // cast may raise on a row the join would discard): Catalyst pushes
    // the post-join conjunct below a plain inner join by itself, and
    // seed pushdown gives traversal patterns the SAME contract (r12
    // verdict watch #4, adjudicated — not an engine-added surface).
    val m = new MutableGraph("seedraise", spark)
    Cypher.execute(spark, m,
      "CREATE (:S {code: '7', k: 2})-[:E]->(:T), (:S {code: 'junk', k: 0})")
    def n(q: String): Long = Cypher.execute(spark, m, q).collect()(0).getLong(0)
    def raises(q: String): Boolean = {
      def chain(t: Throwable): Iterator[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      try { n(q); false }
      catch { case t: Throwable =>
        chain(t).exists(c => Option(c.getMessage).exists(ms =>
          ms.contains("CAST_INVALID_INPUT") || ms.contains("DIVIDE_BY_ZERO")))
      }
    }
    // plain join: Catalyst pushes the strict cast below the join — the
    // junk scan row raises even though it matches no pattern
    assert(raises("MATCH (u:S)-[:E]->(v:T) WHERE u.code::int = 7 " +
      "RETURN count(*) AS n"))
    // traversal: seed pushdown yields the identical contract
    assert(raises("MATCH (u:S)-[:E*1..2]->(v:T) WHERE u.code::int = 7 " +
      "RETURN count(*) AS n"))
    // the junk-tolerant form is the try-style conversion — null-safe,
    // pushable, and correct on both shapes
    assert(n("MATCH (u:S)-[:E]->(v:T) WHERE toInteger(u.code) = 7 " +
      "RETURN count(*) AS n") === 1L)
    assert(n("MATCH (u:S)-[:E*1..2]->(v:T) WHERE toInteger(u.code) = 7 " +
      "RETURN count(*) AS n") === 1L)
    // divide/mod by a nonzero literal cannot raise anywhere (the
    // measured seed shape, PLANS §56/§66)
    assert(n("MATCH (u:S)-[:E]->(v:T) WHERE id(u) % 1021 >= 0 " +
      "RETURN count(*) AS n") === 1L)
  }

  test("OPTIONAL MATCH seed pushdown: pattern-var predicates push, " +
      "outer rows with no match keep their nulls") {
    def two(q: String): (Long, Long) = {
      val r = Cypher.execute(spark, g, q).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // a predicate no candidate passes: every outer row survives with
    // nulls (count(*) = #begin = 1), none with a match (count(v) = 0)
    assert(two(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[*]->(v:end) WHERE id(v) < 0 " +
        "RETURN count(*) AS n, count(v) AS m") === ((1L, 0L)))
    // pushed form vs an equivalent UNPUSHABLE form (the OR references
    // both variables in one conjunct, so vs.size == 2 blocks the push):
    // both must see the 400 begin→end paths, same multiset
    val pushed = two(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[*]->(v) WHERE 'end' IN labels(v) " +
        "RETURN count(*) AS n, count(v) AS m")
    val unpushed = two(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[*]->(v) " +
        "WHERE 'end' IN labels(v) OR id(u) < -900000000 " +
        "RETURN count(*) AS n, count(v) AS m")
    assert(pushed === unpushed)
    assert(pushed === ((400L, 400L)))
    // 3VL: a null-valued predicate on the pattern var drops candidates
    // at the scan exactly like the post-filter; outer row keeps nulls
    assert(two(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[*]->(v:end) WHERE v.name > 'zzz' " +
        "RETURN count(*) AS n, count(v) AS m") === ((1L, 0L)))
    // a predicate on the SCOPE variable stays un-pushed (its failure
    // nulls the match, never drops the outer row)
    assert(two(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[*]->(v:end) WHERE id(u) < 0 " +
        "RETURN count(*) AS n, count(u) AS m") === ((1L, 1L)))
  }

  test("WITH...WHERE path accessors keep the kept binding's own columns: " +
      "size(nodes(p)) fast-path must not drop p@nids") {
    // the size() fast-path registers p's own nids column as a temp; the
    // post-filter column cleanup must not drop a column a KEPT binding
    // owns (round-13 ADVICE: FIELD_NOT_FOUND p@nids)
    val rows = Cypher.execute(spark, g,
      "MATCH p = (u:begin)-[:edge*1..1]->(v) WITH p WHERE size(nodes(p)) = 2 " +
        "RETURN nodes(p)[0] AS n0").collect()
    assert(rows.length === 1)
    assert(!rows(0).isNullAt(0))
    // same shape through MATCH...WHERE (applyFilters shares the cleanup)
    assert(count(
      "MATCH p = (u:begin)-[:edge*1..1]->(v) WHERE size(nodes(p)) = 2 " +
        "RETURN count(*) AS n") === 1L)
  }

  test("null VLE/path bindings stay null through entity materialization " +
      "(3VL: all(x IN null WHERE ...) is null, not true over [])") {
    // begin has no outgoing self_loop: OPTIONAL MATCH leaves r null.
    // all() over a NULL list is null => the WITH...WHERE drops the row
    // (reference regress predicate_functions.out), not all-over-[] = true
    assert(count(
      "MATCH (u:begin) OPTIONAL MATCH (u)-[r:self_loop*1..1]->(v) " +
        "WITH u, r WHERE all(x IN r WHERE x.number = 1) " +
        "RETURN count(*) AS n") === 0L)
    // size(nodes(p)) over a null path is null, so the filter drops too
    assert(count(
      "MATCH (u:begin) OPTIONAL MATCH p = (u)-[:self_loop*1..1]->(v) " +
        "WITH u, p WHERE size(nodes(p)) = 2 RETURN count(*) AS n") === 0L)
    // projection position: nodes(p) of a null path is null, not []
    val r = Cypher.execute(spark, g,
      "MATCH (u:begin) OPTIONAL MATCH p = (u)-[:self_loop*1..1]->(v) " +
        "RETURN nodes(p) AS ns").collect()
    assert(r.length === 1 && r(0).isNullAt(0))
    // control: a MATCHED zero-length traversal still materializes []
    // semantics (all() over the empty edge list is true, row kept)
    assert(count(
      "MATCH (u:begin)-[r:edge*0..0]->(v) " +
        "WITH u, r WHERE all(x IN r WHERE x.number = 99) " +
        "RETURN count(*) AS n") === 1L)
  }

  test("named shortestpath/allshortestpaths bind REAL paths: nodes(), " +
      "relationships(), RETURN p, UNWIND (age_shortest_path.sql)") {
    // shortest begin→end is 3 hops (begin→u1→u2 -bypass_edge-> end);
    // begin→u1 has two parallel edges, so allshortestpaths finds 2
    assert(count(
      "MATCH p = shortestpath((u:begin)-[*..5]->(v:end)) " +
        "RETURN count(*) AS n") === 1L)
    assert(count(
      "MATCH p = allshortestpaths((u:begin)-[*..5]->(v:end)) " +
        "RETURN count(*) AS n") === 2L)
    // the path materializes every visited vertex, in order
    val labels = Cypher.execute(spark, g,
      "MATCH p = shortestpath((u:begin)-[*..5]->(v:end)) " +
        "UNWIND nodes(p) AS x RETURN label(x) AS l").collect().map(_.getString(0))
    assert(labels.toSeq === Seq("begin", "middle", "middle", "end"))
    // every allshortest path agrees: 4 nodes, 3 relationships, and the
    // relationship list's types chain through the bypass edge
    val rows = Cypher.execute(spark, g,
      "MATCH p = allshortestpaths((u:begin)-[*..5]->(v:end)) " +
        "RETURN size(nodes(p)) AS nn, size(relationships(p)) AS ne, " +
        "type(relationships(p)[2]) AS t2, length(p) AS hops").collect()
    assert(rows.length === 2)
    for (r <- rows) {
      assert(r.getInt(0) === 4 && r.getInt(1) === 3)
      assert(r.getString(2) === "bypass_edge")
      assert(r.getAs[Number](3).longValue === 3L)
    }
    // RETURN p round-trips (path struct, non-null), and WITH...WHERE
    // over the path's accessors filters without dropping its columns
    val p = Cypher.execute(spark, g,
      "MATCH p = shortestpath((u:begin)-[*..5]->(v:end)) RETURN p").collect()
    assert(p.length === 1 && !p(0).isNullAt(0))
    assert(count(
      "MATCH p = allshortestpaths((u:begin)-[*..5]->(v:end)) " +
        "WITH p WHERE size(nodes(p)) = 4 RETURN count(*) AS n") === 2L)
    // a relationship variable alongside the named path binds the edge
    // list view of the same traversal
    assert(count(
      "MATCH p = shortestpath((u:begin)-[e*..5]->(v:end)) " +
        "WHERE size(e) = length(p) RETURN count(*) AS n") === 1L)
  }

  test("zero-length shortest paths: start == end answers ONE 0-hop path " +
      "(age_shortest_path.out; implicit min-hop is 0)") {
    val r = Cypher.execute(spark, g,
      "MATCH p = shortestpath((u:begin)-[*]->(v:begin)) " +
        "RETURN length(p) AS hops, size(nodes(p)) AS nn").collect()
    assert(r.length === 1)
    assert(r(0).getAs[Number](0).longValue === 0L && r(0).getInt(1) === 1)
    // an unknown relationship type matches no edges, leaving JUST the
    // zero-length path (reference: age_vle.c:3131-3138)
    assert(count(
      "MATCH p = shortestpath((u:begin)-[:no_such*]->(v:begin)) " +
        "RETURN count(*) AS n") === 1L)
    // an explicit lower bound still filters it out
    assert(count(
      "MATCH p = shortestpath((u:begin)-[*1..]->(v:begin)) " +
        "RETURN count(*) AS n") === 0L)
    // allshortestpaths: the zero-length path IS the minimal answer for
    // an identical endpoint pair (self-loops never shorten a path to a
    // different vertex, age_vle.c:3169-3174) — `end` HAS a self loop,
    // and it must not displace or join the 0-hop answer
    val e = Cypher.execute(spark, g,
      "MATCH p = allshortestpaths((u:end)-[*]->(v:end)) " +
        "RETURN length(p) AS hops, count(*) AS n").collect()
    assert(e.length === 1)
    assert(e(0).getAs[Number](0).longValue === 0L && e(0).getLong(1) === 1L)
  }
}
