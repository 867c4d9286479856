package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cypher.Cypher
import graft.graph.{Generators, Subgraph, TpchGraph}
import graft.pipeline.{Dedup, MediaCodecs, Multimodal, RobustStats, Sampling, Similarity, TextOps, TimeSeries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Naming: `cy_*` run through the Cypher engine (parser → planner →
  * DataFrame) against the TPC-H overlay graph; `q_*` are direct
  * DataFrame pipelines for the relational operator surface; `p_*` are
  * the LLM-training-data pipeline operators (dedup / text analysis /
  * similarity). Every aggregate over doubles goes through
  * round-to-integer-cents so Spark and the DuckDB oracle agree bit-for-bit
  * (double summation order is engine-dependent; int sums are exact).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Generator-version-adaptive events reader — see
    * [[graft.streaming.EventStreams.readEventsBatch]] (nanos-as-long
    * legacy layout converts ns→us; the micros layout reads natively). */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.readEventsBatch(s, dir)

  /** round(x*100) as exact integer cents. */
  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** Directed cyclic graph over REAL rows for `cy_call_scc`: customers
    * (custkey ≤ 500) and suppliers (suppkey ≤ 100) as vertices (the
    * TpchGraph id strides), an edge c→s when a quantity>42 'R'
    * lineitem links them through the order, s→c for 'A'. Mutual trade
    * pairs close directed cycles, so the SCC structure is data-driven
    * (one giant trade loop + peripheral singletons at sf0.01). */
  private def sccGraph(s: SparkSession, dir: String): graft.graph.PropertyGraph = {
    import graft.graph.{EdgeLabel, PropertyGraph, VertexLabel}
    val stride = 1L << graft.types.GraphId.EntryIdBits
    def gid(labelId: Int, entry: Column): Column =
      lit(labelId.toLong * stride) + entry.cast(LongType)
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") <= 500 && col("l_suppkey") <= 100 &&
        col("l_quantity") > 42)
    val cGid = gid(TpchGraph.CustomerL, col("o_custkey"))
    val sGid = gid(TpchGraph.SupplierL, col("l_suppkey"))
    val ed = li.filter(col("l_returnflag") === "R")
      .select(cGid.as("s"), sGid.as("t"))
      .unionByName(li.filter(col("l_returnflag") === "A")
        .select(sGid.as("s"), cGid.as("t")))
      .distinct()
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("s", "t")))
      .select(gid(20, col("__rn")).as("id"),
        col("s").as("start_id"), col("t").as("end_id"))
    val cv = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(gid(TpchGraph.CustomerL, col("c_custkey")).as("id"))
    val sv = t(s, dir, "supplier").filter(col("s_suppkey") <= 100)
      .select(gid(TpchGraph.SupplierL, col("s_suppkey")).as("id"))
    new PropertyGraph("scc_trade",
      Seq(VertexLabel("Customer", TpchGraph.CustomerL, cv),
        VertexLabel("Supplier", TpchGraph.SupplierL, sv)),
      Seq(EdgeLabel("TRADES", 20, ed)))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Cypher.query(spark, TpchGraph(spark, "/root/testdata/sf0.001"),
      """MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)-[:PLACED]->(o:Order)
        |RETURN n.name AS nation, count(o) AS orders
        |ORDER BY orders DESC, nation LIMIT 10""".stripMargin)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Cypher engine: clause surface (SURVEY §2.1/2.2) ----
    "cy_filter_project" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) WHERE c.acctbal > 5000 AND c.mktsegment = 'BUILDING'
          |RETURN c.name AS name, c.acctbal AS acctbal ORDER BY name""".stripMargin)),

    "cy_expand_count" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
          |RETURN n.name AS nation, count(c) AS n_customers ORDER BY nation""".stripMargin)),

    // graded traversal queries (cy_2hop_sum, cy_vle, cy_multi_pattern,
    // cy_shortestpath) run STORE-BACKED: the graph is reloaded from
    // co-bucketed catalog tables so the measured plans are the 100 TB
    // cold-start read path — single-hop pattern joins shuffle-free on
    // the bucketed sides (PLANS.md §13, GraphStore.saveBucketed)
    "cy_2hop_sum" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (o:Order)-[l:CONTAINS]->(p:Part)
          |RETURN p.brand AS brand, sum(toInteger(round(l.quantity))) AS sum_qty,
          |  count(l) AS n ORDER BY brand""".stripMargin)),

    "cy_optional_count" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
          |RETURN c.name AS name, count(o) AS n_orders ORDER BY name""".stripMargin)),

    "cy_order_skip_limit" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (p:Part) RETURN p.name AS name, p.retailprice AS price
          |ORDER BY price DESC, name SKIP 5 LIMIT 10""".stripMargin)),

    "cy_unwind" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        "UNWIND [1, 2, 3, 4, 5] AS x RETURN x, x * x AS sq ORDER BY x")),

    "cy_vle" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[e:FROM_NATION|IN_REGION*1..2]->(x)
          |RETURN size(e) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),

    // a named path over a VLE hop materializes INTERIOR vertices
    // (PLANS §74) — nodes(p)[1] is the Nation between Customer and
    // Region, observed as a full entity
    "cy_vle_path_nodes" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH p = (c:Customer)-[:FROM_NATION|IN_REGION*2..2]->(r:Region)
          |WITH nodes(p)[1] AS nat, r
          |RETURN label(nat) AS lbl, nat.name AS nation, r.name AS region,
          |  count(*) AS n ORDER BY nation""".stripMargin)),

    // a NAMED shortestpath binds a REAL vertex+edge path (reference:
    // sp_run_bfs age_vle.c:2983-3266 + materializers :3877): nodes(p)[1]
    // is the interior Nation, relationships(p)[1] the IN_REGION hop
    "cy_sp_path_nodes" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH p = shortestpath((c:Customer)-[:FROM_NATION|IN_REGION*..3]->(r:Region))
          |WITH nodes(p)[1] AS nat, relationships(p)[1] AS e2, r, length(p) AS hops
          |RETURN label(nat) AS lbl, nat.name AS nation, type(e2) AS t2,
          |  r.name AS region, hops, count(*) AS n ORDER BY nation""".stripMargin)),

    // per-edge all() predicate over a VLE binding — pushed into the
    // traversal's edge frame before expansion (PLANS §73); the bare `r`
    // in HOF list position materializes as the traversed edge entities
    "cy_vle_edgepred" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[r:PLACED|CONTAINS*2..2]->(p:Part)
          |WHERE all(x IN r WHERE type(x) = 'PLACED'
          |                    OR x.returnflag = 'N' AND x.quantity > 25)
          |RETURN p.brand AS brand, count(*) AS n ORDER BY brand""".stripMargin)),

    "cy_where_string_preds" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (p:Part) WHERE p.type STARTS WITH 'STANDARD' AND p.size > 30
          |RETURN p.brand AS brand, count(*) AS n ORDER BY brand""".stripMargin)),

    // chained comparison: 'a < x <= b' is (a < x) AND (x <= b)
    // (reference: cypher_gram.y chained cypher_comparison_aexpr)
    "cy_chained_cmp" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) WHERE 1000.0 < c.acctbal <= 5000.0
          |RETURN count(*) AS n""".stripMargin)),

    // scan-eval contract, graded end-to-end (PLANS §72): a single-var
    // WHERE conjunct with a null-safe toInteger is SEED-PUSHED to the
    // Customer scan, where it evaluates over junk substrings ('Cu',
    // 'r#', '#0' — id(c)%16 walks the name) without raising; the
    // reference returns null for unparseable strings and so do we
    "cy_scan_tryconv" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |WHERE toInteger(substring(c.name, id(c) % 16, 2)) IS NOT NULL
          |RETURN toInteger(substring(c.name, id(c) % 16, 2)) AS d,
          |  count(*) AS n ORDER BY d""".stripMargin)),

    // ordered-set aggregates (reference: percentileCont/percentileDisc,
    // sql/age_aggregate.sql:151-192)
    "cy_percentile" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |RETURN round(percentileDisc(c.acctbal, 0.5), 2) AS p50_disc,
          |       round(percentileCont(c.acctbal, 0.9), 2) AS p90_cont,
          |       round(percentileDisc(c.acctbal, 0.95), 2) AS p95_disc""".stripMargin)),

    // list comprehension + reduce over a collected group (HOF surface,
    // incl. shadowed comprehension variable inside the fold)
    "cy_hof_reduce" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
          |WITH n.name AS nation, collect(toInteger(round(c.acctbal * 100))) AS bals
          |RETURN nation,
          |  toInteger(size([b IN bals WHERE b > 500000])) AS n_rich,
          |  reduce(s = 0, b IN [b IN bals WHERE b > 500000] | s + b) AS rich_sum
          |ORDER BY nation""".stripMargin)),

    // every equal-length shortest path, not one per endpoint pair
    // (reference: age_all_shortest_paths, age_vle.c:3892) — each
    // lineitem of a size-1 part is its own 2-hop Order->Part path
    "cy_allshortest" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH p = allshortestpaths((c:Customer)-[:PLACED|CONTAINS*..2]->(pt:Part {size: 1}))
          |RETURN length(p) AS hops, count(*) AS n_paths""".stripMargin)),

    // multi-pattern MATCH: two patterns joined on the shared node plus a
    // cross-pattern value filter
    "cy_multi_pattern" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (su:Supplier)-[:SUPP_NATION]->(n:Nation), (c:Customer)-[:FROM_NATION]->(n)
          |WHERE su.acctbal > c.acctbal
          |RETURN n.name AS nation, count(*) AS n_pairs ORDER BY nation""".stripMargin)),

    // unbounded * exercises the seeded-frontier iterative expansion
    // (customer-2-hop + nation-1-hop paths into each region)
    "cy_vle_unbounded" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (x)-[:FROM_NATION|IN_REGION*]->(r:Region)
          |RETURN r.name AS region, count(*) AS n ORDER BY region""".stripMargin)),

    // mutation pipeline on a scratch graph: CREATE, MERGE (match + create
    // paths), SET, DETACH DELETE, then read the survivors
    "cy_mutate" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph(s"scratch", s)
      Cypher.execute(s, g,
        "CREATE (:Acc {k: 1, bal: 10}), (:Acc {k: 2, bal: 20}), (:Acc {k: 3, bal: 30})")
      // MERGE hits the existing k=2 (ON MATCH bumps) and creates k=4
      Cypher.execute(s, g, "MERGE (a:Acc {k: 2}) ON MATCH SET a.bal = 99")
      Cypher.execute(s, g,
        "MERGE (a:Acc {k: 4}) ON CREATE SET a.bal = 40")
      Cypher.execute(s, g, "MATCH (a:Acc {k: 1}) DETACH DELETE a")
      Cypher.query(s, g.snapshot,
        """MATCH (a:Acc) RETURN count(*) AS n_accounts,
          |sum(a.bal) AS total_bal""".stripMargin)
    }),

    // UNION dedups across full-query branches (reference:
    // transform_cypher_union, cypher_clause.c:665)
    "cy_union" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[:FROM_NATION]->(n) RETURN n.name AS name
          |UNION MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN n.name AS name""".stripMargin)),

    "cy_case" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |RETURN CASE WHEN c.acctbal < 0 THEN 'neg'
          |  WHEN c.acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket,
          |  count(*) AS n ORDER BY bucket""".stripMargin)),

    // map projection builds a map the later clause field-accesses
    // (reference: cypher_map_projection, cypher_expr.c:902-1016)
    "cy_map_proj" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) WHERE c.acctbal > 9000
          |WITH c {.name, .mktsegment} AS m
          |RETURN m.name AS name, m.mktsegment AS seg ORDER BY name""".stripMargin)),

    "cy_string_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (p:Part)
          |RETURN toUpper(substring(p.name, 0, 4)) AS pre,
          |  min(toLower(p.type)) AS min_type,
          |  min(replace(p.name, ' ', '_')) AS min_rep, count(*) AS n
          |ORDER BY pre""".stripMargin)),

    "cy_regex" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (p:Part) WHERE p.name =~ '(cold|blue) .*'
          |RETURN p.brand AS brand, count(*) AS n ORDER BY brand""".stripMargin)),

    // containment + existence over typed property structs — the
    // properties(v) @> {k: val} idiom (reference: agtype_ops.c:1472/1651)
    "cy_containment" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |WHERE properties(c) @> {mktsegment: 'BUILDING'}
          |  AND properties(c) ?& ['name', 'acctbal']
          |RETURN count(*) AS n""".stripMargin)),

    // jsonb-style -> / ->> accessors as Cypher operators (the reference
    // keeps them SQL-side; agtype.c:4329-4467 semantics)
    "cy_arrow_ops" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) WHERE c.acctbal > 9900
          |RETURN c.name AS name, {bal: c.acctbal} -> 'bal' AS bal,
          |  ['x', c.mktsegment] ->> 1 AS seg ORDER BY name""".stripMargin)),

    // named-path materialization + nodes()/relationships()
    "cy_path_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH p = (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
          |WHERE r.name = 'ASIA'
          |RETURN size(nodes(p)) AS n_nodes, size(relationships(p)) AS n_rels,
          |  count(*) AS n""".stripMargin)),

    // startNode/endNode planner joins + type()/label() accessors
    "cy_edge_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n)-[e:IN_REGION]->(r)
          |RETURN type(e) AS t, label(startNode(e)) AS sl,
          |  label(endNode(e)) AS el, count(*) AS n""".stripMargin)),

    // WITH + aggregate + WHERE = the Cypher HAVING shape
    "cy_with_having" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
          |WITH c, count(o) AS n WHERE n >= 15
          |RETURN c.name AS name, n ORDER BY name""".stripMargin)),

    "cy_listcomp" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation) WITH collect(n.name) AS names
          |RETURN size([x IN names WHERE x CONTAINS '1']) AS n_match,
          |  size(names) AS n_all""".stripMargin)),

    // data-dependent MERGE: one :Seg vertex per distinct segment value
    // survives the per-row match-or-create (reference: cypher_merge.c)
    "cy_merge" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph("mergescratch", s)
      val segs = t(s, dir, "customer").select("c_mktsegment")
        .collect().map(r => graft.types.AgString(r.getString(0))).toVector
      Cypher.execute(s, g, "UNWIND $segs AS x MERGE (m:Seg {name: x})",
        Map("segs" -> graft.types.AgArray(segs)))
      Cypher.query(s, g.snapshot, "MATCH (m:Seg) RETURN count(*) AS n_segs")
    }),

    // the canonical BULK-merge idiom: no driver-side collect anywhere —
    // the source rows load distributed (GraphIngest.mergeVertexBatch)
    // and the per-segment match-or-create is data-driven through
    // MATCH … WITH DISTINCT … MERGE. cy_merge above stays as the
    // array-parameter stress case; this is the shape users should copy
    // at 100 TB.
    "cy_merge_datadriven" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph("mergescratch2", s)
      graft.streaming.GraphIngest.mergeVertexBatch(g, "Cust", "custkey",
        t(s, dir, "customer").select(col("c_custkey").as("custkey"),
          col("c_mktsegment").as("mktsegment")))
      Cypher.execute(s, g,
        "MATCH (c:Cust) WITH DISTINCT c.mktsegment AS seg MERGE (m:Seg {name: seg})")
      // replay: MERGE is idempotent, still one :Seg per segment
      Cypher.execute(s, g,
        "MATCH (c:Cust) WITH DISTINCT c.mktsegment AS seg MERGE (m:Seg {name: seg})")
      Cypher.query(s, g.snapshot, "MATCH (m:Seg) RETURN m.name AS name ORDER BY name")
    }),

    // math scalar surface (reference: agtype.c:9849-10924, sql/age_trig.sql);
    // log is the natural log, round/floor/ceil always yield float
    "cy_math_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer) WHERE c.acctbal > 1.0
          |RETURN count(*) AS n,
          |  sum(toInteger(round(sqrt(c.acctbal) * 100))) AS s_sqrt,
          |  sum(toInteger(round(log(c.acctbal) * 100))) AS s_log,
          |  sum(toInteger(floor(c.acctbal))) AS s_floor,
          |  sum(toInteger(ceil(c.acctbal))) AS s_ceil,
          |  sum(sign(c.acctbal - 5000.0)) AS s_sign,
          |  toInteger(round(degrees(pi()))) AS deg""".stripMargin)),

    // all/any/none/single over a collected group (reference:
    // cypher_nodes.h:233-248, transform_cypher_clause:1991)
    "cy_pred_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
          |WITH n.name AS nation, collect(c.acctbal) AS bals
          |RETURN nation,
          |  all(b IN bals WHERE b > -1000.0) AS all_ok,
          |  any(b IN bals WHERE b > 9900.0) AS has_rich,
          |  none(b IN bals WHERE b < -999.0) AS none_vpoor,
          |  single(b IN bals WHERE b > 9950.0) AS one_top
          |ORDER BY nation""".stripMargin)),

    // to* conversions: null on malformed, truncation toward zero on
    // fractional strings (reference: agtype.c:6741-8234)
    "cy_conversions" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """UNWIND ['1', '2.9', '-3.2', 'x', '7', ''] AS v
          |RETURN v, toInteger(v) AS i, toFloat(v) AS f, toBoolean('true') AS b,
          |  2.5::numeric AS nm,
          |  (0.1::numeric + 0.2::numeric) = 0.3::numeric AS exact_dec,
          |  (0.1 + 0.2) = 0.3 AS float_dec
          |ORDER BY v""".stripMargin)),

    // entity typecasts: an object with the entity's shape becomes the
    // entity and round-trips through accessors (reference:
    // agtype_typecast_vertex/edge/path agtype.c:5694/5774/5867,
    // regress/sql/agtype_typecast.sql)
    "cy_entity_cast" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[e:FROM_NATION]->(n:Nation)
          |WITH c, e, n,
          |  {id: id(n), label: label(n), properties: properties(n)}::vertex AS vn
          |WITH vn, [c, e, n]::path AS p
          |RETURN DISTINCT label(vn) AS lbl, vn.name AS nation,
          |  size(p.nodes) AS nn, size(p.relationships) AS nr
          |ORDER BY nation""".stripMargin)),

    // #> / #>> jsonb-style path extraction (reference: agtype_ops.c
    // extract-path operators; sql/agtype_operators.sql)
    "cy_path_extract" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)
          |WITH toInteger(substring(n.name, 7)) AS k, n.name AS nm
          |WHERE k < 10
          |RETURN k,
          |  {info: {name: nm, alias: toUpper(nm)}} #>> ['info', 'alias'] AS alias,
          |  [[k, k + 1], [k * 2, k * 3]] #> [1, 0] AS ext
          |ORDER BY k""".stripMargin)),

    // recursive heterogeneous containers: scalars, lists and maps mix
    // freely per-row and inside literals (reference: AGTV_ARRAY/OBJECT
    // recursion agtype.h:307-324; regress expr.sql + agtype.sql)
    "cy_hetero_containers" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)
          |WITH toInteger(substring(n.name, 7)) AS k, n.name AS nm
          |WHERE k < 5
          |RETURN k,
          |  CASE WHEN k % 3 = 0 THEN nm
          |       WHEN k % 3 = 1 THEN [k, nm, [k * 2]]
          |       ELSE {key: k, name: nm} END AS v,
          |  [1, [2], {a: 3}] AS lit3
          |ORDER BY k""".stripMargin)),

    // index / negative index / slice / range / head / last / IN
    // (reference: agtype_access_operator agtype.c:4482, slice :4766)
    "cy_list_ops" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """WITH range(1, 20) AS l
          |RETURN size(l) AS n, l[2] AS third, l[-2] AS penult,
          |  reduce(s = 0, x IN l[0..5] | s + x) AS head_sum,
          |  head(l) AS h, last(l) AS lst, l[99] AS oob,
          |  21 IN l AS has21, 7 IN l AS has7""".stripMargin)),

    // $params bound at plan time (reference: cypher() 3rd arg,
    // sql/age_query.sql:49-54; age_session_info.c:145)
    "cy_params" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation {name: $nation})
          |WHERE c.acctbal >= $minbal
          |RETURN count(*) AS n_cust,
          |  sum(toInteger(round(c.acctbal * 100))) AS bal_c""".stripMargin,
        Map("nation" -> graft.types.AgString("NATION_7"),
          "minbal" -> graft.types.AgFloat(1000.0)))),

    // DISTINCT inside an aggregate (grammar cypher_gram.y:1905,1943)
    "cy_distinct_agg" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
          |RETURN o.orderpriority AS pri, count(DISTINCT c.mktsegment) AS n_segs,
          |  count(*) AS n ORDER BY pri""".stripMargin)),

    // SET += map-merge and REMOVE key (reference: cypher_set.c:59-922,
    // alter_property_value)
    "cy_set_remove" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph("setscratch", s)
      Cypher.execute(s, g, "CREATE (:Cfg {k: 1, a: 10, b: 20})")
      Cypher.execute(s, g, "MATCH (c:Cfg {k: 1}) SET c += {b: 25, c: 30}")
      Cypher.execute(s, g, "MATCH (c:Cfg {k: 1}) REMOVE c.a")
      Cypher.query(s, g.snapshot,
        """MATCH (c:Cfg)
          |RETURN size(keys(c)) AS n_keys, c.b + c.c AS bc,
          |  exists(c.a) AS has_a""".stripMargin)
    }),

    // bare pattern expressions as WHERE predicates, incl. negation
    // (reference: pattern_expression.sql; transform_cypher_sub_pattern)
    "cy_pattern_pred" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)
          |WHERE (n)<-[:FROM_NATION]-(:Customer)
          |  AND NOT (n)<-[:SUPP_NATION]-(:Supplier)
          |RETURN count(*) AS n""".stripMargin)),

    // entity accessor surface over a known row: id bit-packing, single
    // label, property-key count (reference: agtype.c:5943-12937)
    "cy_entity_fns" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation {name: 'NATION_1'})
          |RETURN id(n) AS gid, labels(n)[0] AS lbl, size(keys(n)) AS nk,
          |  exists(n.name) AS has_name""".stripMargin)),

    // heterogeneous (variant-encoded) property column end-to-end:
    // cross-type <>/= follow the reference total order (agtype_ops.c:
    // 1054/1117), min/max rank by sort priority (string < bool <
    // numeric < null), the final RETURN decodes scalars like agtype_out
    "cy_variant_props" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph("varscratch", s)
      Cypher.execute(s, g,
        """CREATE (:V {k: 1, v: 1}), (:V {k: 2, v: 'x'}), (:V {k: 3, v: 2.5}),
          |(:V {k: 4, v: true}), (:V {k: 5})""".stripMargin)
      Cypher.query(s, g.snapshot,
        """MATCH (n:V)
          |RETURN count(*) AS n_rows, count(n.v) AS n_set,
          |  toInteger(sum(CASE WHEN n.v <> 'x' THEN 1 ELSE 0 END)) AS n_ne,
          |  min(n.v) AS mn, max(n.v) AS mx""".stripMargin)
    }),

    // the SQL-callable entry point (SparkSessionExtensions table
    // function — parity with SELECT * FROM cypher('g', $$...$$),
    // reference: sql/age_query.sql:49-54); SQL composes over the
    // returned subtree (outer WHERE + ORDER BY here)
    "cy_sql_entry" -> ((s, dir) => {
      graft.plans.GraphRegistry.register("sqlg", TpchGraph.storeBacked(s, dir))
      s.sql(
        """SELECT nation, n_cust FROM cypher('sqlg',
          |  'MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
          |   RETURN n.name AS nation, count(c) AS n_cust')
          |WHERE n_cust >= 2 ORDER BY nation""".stripMargin)
    }),

    // ---- relational operator surface (direct DataFrame) ----
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
        .agg(
          sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_c"),
          count(lit(1)).as("count_order"))
        .orderBy("returnflag", "linestatus")),

    "q3_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey").as("orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("orderkey"))
        .limit(10)
    }),

    "q_semi_join" -> ((s, dir) => {
      val withOrders = t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
      withOrders.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n")).orderBy("segment")
    }),

    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "part")
        .join(t(s, dir, "lineitem").select(col("l_partkey")),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .agg(count(lit(1)).as("n_never_ordered"))),

    // lag / moving-window analytics (the sessionized-feature shape):
    // per-user event gap via lag() and a 3-row trailing mean — ONE
    // hash shuffle on user_id feeds both window frames; total
    // (ts, event_id) order makes every value engine-deterministic
    "q_window_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).filter(col("user_id") < 20)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wm = w.rowsBetween(-2, 0)
      val tsUs = TimeSeries.epochLong(ev, "ts")
      ev.select(col("user_id"), col("event_id"),
          coalesce(tsUs - lag(tsUs, 1).over(w), lit(-1L)).as("gap_us"),
          round(avg(col("value")).over(wm), 6).as("mov3"))
        .orderBy("user_id", "event_id")
    }),

    // manual salted skew join — lineitem⋈orders rewritten as
    // probe+salt ⋈ build×k (SkewJoin.salted): a hot orderkey's rows
    // spread over k shuffle partitions instead of one straggler; the
    // result multiset is exactly the plain join's, which is what the
    // plain-SQL oracle checks. Salt source varies WITHIN the key
    // (linenumber), not just across keys.
    "q_skew_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.pipeline.SkewJoin.salted(li, ord, Seq("l_orderkey"), 8,
          col("l_orderkey"), col("l_linenumber"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("rev_c"))
        .orderBy("priority")
    }),

    "q_topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("o_orderpriority").as("priority"),
          col("o_orderkey").as("orderkey"), col("o_totalprice").as("totalprice"))
        .orderBy("priority")
    }),

    "q_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
        .distinct()
        .orderBy("status", "priority")),

    "q_union" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey")))
        .distinct()
        .orderBy("nationkey")),

    "q_groupby_having" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .filter(col("n_customers") > 20)
        .orderBy("nationkey")),

    // hierarchical subtotal aggregation (ROLLUP): partial-agg friendly,
    // one shuffle — grouping-set expansion happens map-side
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
        .agg(sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("returnflag"), asc_nulls_first("linestatus"))),

    "q_events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
        .orderBy("hour", "event_type")),

    "q_events_json" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast(LongType)).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // streaming-ingestion merge graded end-to-end: the whole events
    // table upserts into a fresh graph as ONE micro-batch (the same
    // set-oriented MERGE foreachBatch runs per interval: in-batch
    // last-writer-wins on event_id, anti-join create probe, parallel id
    // allocation), then Cypher reads the result back; the oracle is the
    // equivalent SQL window-dedup
    "q_graph_ingest" -> ((s, dir) => {
      val g = new graft.graph.MutableGraph("ingest_graded", s)
      graft.streaming.GraphIngest.mergeVertexBatch(g, "User", "uid",
        events(s, dir).select(col("user_id").as("uid"), col("value"), col("event_id")),
        seqCol = Some("event_id"))
      Cypher.execute(s, g,
        """MATCH (u:User)
          |RETURN count(*) AS n_users,
          |       sum(toInteger(round(u.value * 100))) AS value_c""".stripMargin)
    }),

    // ---- LLM-pipeline operators (SURVEY beyond-parity goals) ----
    "p_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text"))).as("n_distinct"))
        .orderBy("source")),

    "p_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(count_distinct(TextOps.fingerprint(col("text"))).as("n_distinct"),
          count(lit(1)).as("n_total"))),

    // deterministic hash-mod sampling: reproducible 10% corpus subset
    // keyed on doc_id through the portable hash — the standard way to
    // carve stable train/eval splits at 100 TB (no rand(), no seed state;
    // the predicate pushes to the scan and partitions filter in parallel)
    "p_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(pmod(TextOps.portableHash64(
          concat(lit("smp:"), col("doc_id").cast(StringType))), lit(10)) === 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(TextOps.tokenCount(col("text")).cast(LongType)).as("sample_tokens"))
        .orderBy("source")),

    // deterministic corpus shuffle into training shards: shard by a
    // seeded portable hash of the doc id, order within a shard by the
    // same hash — the reproducible global shuffle a training run needs
    // (no rand(), no seed state to ship; at 100 TB this is
    // repartition(shard) + sortWithinPartitions(hash), one shuffle).
    // Graded output: per-shard stats incl. the first doc in shard order,
    // so the ORDERING is value-checked, not just the partition counts.
    "p_shuffle_shards" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("__h", TextOps.portableHash64(
          concat(lit("shf:"), col("doc_id").cast(StringType))))
        .withColumn("shard", pmod(col("__h"), lit(8)).cast(LongType))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast(LongType)).as("n_tokens"),
          min_by(col("doc_id"), col("__h")).as("first_doc"))
        .orderBy("shard")),

    // source balancing: cap each source at K docs chosen deterministically
    // (smallest seeded hash first) — the standard way to stop one giant
    // crawl from dominating a mixture. The top-K-per-source is a window
    // rank partitioned by source: parallel across sources, no global
    // sort; a skew-heavy source at 100 TB pre-filters by an approximate
    // hash-quantile threshold before the exact rank.
    "p_cap_per_source" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("__h"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__h", TextOps.portableHash64(
          concat(lit("cap:"), col("doc_id").cast(StringType))))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(TextOps.tokenCount(col("text")).cast(LongType)).as("kept_tokens"),
          min_by(col("doc_id"), col("__h")).as("first_doc"))
        .orderBy("source")
    }),

    "p_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          TextOps.typeTokenRatio(col("text")).as("ttr"))
        .orderBy("doc_id")),

    // sequence packing: bin documents into fixed token-budget context
    // windows by running prefix sum, per source shard — the window
    // partitions on the shard key so packing is shard-parallel (a global
    // ORDER BY window would serialize on one partition at 100 TB)
    "p_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast(LongType).as("tok"))
      toks.withColumn("bin",
          floor((sum(col("tok")).over(w) - col("tok")) / 512))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("fill"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bins"), max("fill").as("max_fill"),
          sum("fill").cast(LongType).as("total_tokens"))
        .orderBy("source")
    }),

    "p_lang_id" -> ((s, dir) =>
      // project the when-chain BEFORE grouping: grouping on an attribute
      // keeps the HashAggregate codegen small (the inlined expression
      // form JIT-compiles ~10× slower on first run)
      t(s, dir, "documents")
        .select(TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),

    "p_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(sum(TextOps.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
          count(lit(1)).as("n_docs"))),

    // GPT-2-style regex PRE-tokenization count beside the whitespace
    // count: letter runs / digit runs / punctuation runs, each with an
    // optional leading space (the lookahead-free core of the BPE
    // pretokenizer — identical semantics in Java regex and RE2, so the
    // oracle replicates it byte-for-byte). Pure per-row expression.
    "p_token_bpe" -> ((s, dir) => {
      val pre = regexp_extract_all(col("text"),
        lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"), lit(0))
      t(s, dir, "documents")
        .select(col("source"), size(pre).cast(LongType).as("n"),
          TextOps.tokenCount(col("text")).cast(LongType).as("w"))
        .groupBy("source")
        .agg(sum("n").as("bpe_tokens"), sum("w").as("ws_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // inverted-index corpus statistic: document frequency per token
    "p_doc_freq" -> ((s, dir) =>
      TextOps.docFrequency(t(s, dir, "documents"), "text")
        .orderBy(col("df").desc, col("token")).limit(20)),

    // PII scrubbing pass: how many docs changed + distinct outputs
    "p_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(
          count(when(col("text") =!= TextOps.redact(col("text")), 1)).as("n_redacted"),
          count_distinct(md5(TextOps.redact(col("text")))).as("n_distinct"))),

    // benchmark decontamination: flag training docs sharing any word
    // 4-gram with the held-out eval subset (doc_id % 100 == 7 stands in
    // for the benchmark suite). Scale shape: the eval side is tiny by
    // construction (benchmarks are MBs, the corpus is TBs) so its
    // distinct-gram set BROADCASTs; the corpus side is one shingle scan
    // + broadcast semi-join — no shuffle of the 100 TB side, no n².
    "p_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 100 === 7
      val atLeast4 = size(TextOps.tokens(col("text"))) >= 4
      // split BEFORE shingling: the eval pass tokenizes only the tiny
      // benchmark subset, the corpus is shingled exactly once — and both
      // sides shingle through the fused 60-bit-hash kernel
      // (TextOps.shingleHashRows, the p_containment discipline): the
      // probe joins 8-byte longs instead of gram strings, same flags
      // barring a disclosed 2^-60 md5-prefix collision
      val evalGrams = TextOps.shingleHashRows(
          docs.filter(isEval && atLeast4), "text", "doc_id", 4)
        .select(col("__sh")).distinct()
      val flagged = TextOps.shingleHashRows(
          docs.filter(!isEval && atLeast4), "text", "doc_id", 4)
        .join(broadcast(evalGrams), Seq("__sh"), "left_semi")
        .select(col("__id").as("doc_id")).distinct()
      flagged.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("source")
    }),

    // Gopher-style repetition filters: top-word fraction and duplicate
    // 2-gram fraction per document, aggregated to corpus counts. Both
    // signals are single codegen'd array passes (sorted-run-length HOF +
    // array_distinct) — no token explode, no shuffle before the final
    // single-row aggregate.
    "p_repetition" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .filter(size(TextOps.tokens(txt)) >= 2)
        .select(
          (TextOps.topTokenCount(txt).cast(DoubleType) /
            TextOps.tokenCount(txt).cast(DoubleType)).as("topf"),
          TextOps.dupBigramFraction(txt).as("dupf"))
        .agg(
          count(when(col("topf") > 0.10, 1)).as("n_top_word_heavy"),
          count(when(col("dupf") > 0.05, 1)).as("n_dup_bigram_heavy"),
          round(avg(col("dupf")), 4).as("avg_dup_bigram_frac"))
    }),

    // temperature-scaled sampling mixture (alpha = 0.5): per-source
    // weight sqrt(tokens_s) / sum_t sqrt(tokens_t) — the standard
    // multi-source rebalancing used to up-sample small domains. One
    // groupBy over the corpus; the 20-row per-source table then
    // broadcast-crossjoins the scalar denominator (source counts are
    // O(dozens) at any corpus size, so the second stage never shuffles
    // data).
    "p_mixture" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(TextOps.tokenCount(col("text")).cast(LongType)).as("toks"))
      val tot = st.agg(sum(sqrt(col("toks"))).as("tot"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("toks"),
          round(sqrt(col("toks")) / col("tot"), 6).as("weight"))
        .orderBy("source")
    }),

    // stratified mixture sampling: REALIZE the p_mixture temperature
    // weights as an actual sample — per-source target counts
    // round(weight * 200), members chosen deterministically by seeded
    // hash rank within each source (parallel across sources, same
    // discipline as p_cap_per_source). This is the "apply the mixture"
    // step between weight computation and training-shard writes.
    "p_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("__h"), col("doc_id"))
      val docs = t(s, dir, "documents")
      val st = docs.groupBy("source")
        .agg(sum(TextOps.tokenCount(col("text")).cast(LongType)).as("toks"))
      val tot = st.agg(sum(sqrt(col("toks"))).as("tot"))
      // weight is rounded to 6 decimals BEFORE the count cutoff (the
      // same rounded weight p_mixture grades): a last-ulp difference in
      // the float sum between engines then flips n_target only if the
      // weight sits within 5e-7 of a boundary AND weight*200 lands on
      // .5 — two independent coincidences instead of one
      val targets = st.crossJoin(broadcast(tot))
        .select(col("source"),
          round(round(sqrt(col("toks")) / col("tot"), 6) * 200, 0)
            .cast(LongType).as("n_target"))
      docs
        .withColumn("__h", TextOps.portableHash64(
          concat(lit("strat:"), col("doc_id").cast(StringType))))
        .withColumn("__rk", row_number().over(w))
        .join(broadcast(targets), Seq("source"))
        .filter(col("__rk") <= col("n_target"))
        .groupBy(col("source"))
        .agg(max(col("n_target")).as("n_target"),
          count(lit(1)).as("n_sampled"),
          sum(TextOps.tokenCount(col("text")).cast(LongType)).as("sample_tokens"))
        .orderBy("source")
    }),

    // sequence chunking: context windows of 128 tokens with stride 96
    // (sliding-window overlap) — chunk counts are pure per-row
    // arithmetic on the token count, so the whole operator is a scan +
    // one per-source aggregate.
    "p_chunk" -> ((s, dir) => {
      val tok = TextOps.tokenCount(col("text")).cast(LongType)
      t(s, dir, "documents")
        .select(col("source"), tok.as("tok"),
          when(tok <= 128, lit(1L))
            .otherwise(ceil((tok - lit(128)).cast(DoubleType) / lit(96.0)) + 1)
            .as("n_chunks"))
        .groupBy("source")
        .agg(sum("n_chunks").cast(LongType).as("total_chunks"),
          max("n_chunks").cast(LongType).as("max_chunks"),
          sum("tok").cast(LongType).as("total_tokens"))
        .orderBy("source")
    }),

    "p_embed_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast(ArrayType(DoubleType)).as("q_vec"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding").cast(ArrayType(DoubleType)),
            col("q_vec")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }),

    // int8 scalar-quantized ANN: the corpus (query row included)
    // round-trips through per-dimension byte codes against corpus-global
    // min/max bounds (ONE dim-row stats job), and exact cosine runs on
    // the dequantized values — the 4×-compressed storage path. The
    // oracle replays the identical quantizer formula relationally.
    "p_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e, Similarity.sq8Bounds(e), queryId = 0L, k = 10)
    }),

    "cy_exists_subquery" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |WHERE EXISTS { (c)-[:PLACED]->(:Order {orderstatus: 'F'}) }
          |RETURN c.mktsegment AS segment, count(*) AS n ORDER BY segment""".stripMargin)),

    "cy_count_subquery" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (c:Customer)
          |WITH COUNT { (c)-[:PLACED]->() } AS k
          |RETURN k, count(*) AS n ORDER BY k""".stripMargin)),

    "cy_call_subquery" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH (n:Nation)
          |CALL { WITH n MATCH (n)<-[:FROM_NATION]-(c:Customer)
          |       RETURN max(toInteger(round(c.acctbal * 100))) AS top_c }
          |RETURN n.name AS nation, top_c ORDER BY nation""".stripMargin)),

    "cy_shortestpath" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """MATCH p = shortestpath((c:Customer)-[:FROM_NATION|IN_REGION*..3]->(r:Region))
          |RETURN length(p) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),

    // BFS hop distances from one landmark over the whole graph: region
    // AMERICA is gid 2^48 + 1, its nations
    // are 1 hop away, their customers/suppliers 2 — along edge direction
    "cy_call_sssp" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL sssp(281474976710657) YIELD id, dist
          |RETURN dist, count(*) AS n ORDER BY dist""".stripMargin)),

    "cy_call_pagerank" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL pagerank() YIELD id, rank
          |RETURN count(*) AS n_ranked, count(rank > 0) AS n_positive""".stripMargin)),

    "cy_call_cc" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL connected_components() YIELD id, component
          |WITH component, count(*) AS sz
          |RETURN count(*) AS n_components, max(sz) AS largest""".stripMargin)),

    "cy_call_stats" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL graph_stats() YIELD kind, label, n WHERE kind = 'vertex'
          |RETURN label, n ORDER BY label""".stripMargin)),

    // triangle counting (canonical-edge triangleCount) graded on
    // a graph with a closed-form answer: barbell(50,10) has two K50
    // bells -> 2 * C(50,3) = 39200 triangles, C(49,2) = 1176 per bell
    // vertex, and the 10 bridge vertices sit in none
    "cy_call_triangles" -> ((s, dir) => {
      val g = Generators.barbellGraph(s, 50, 10)
      Cypher.query(s, g,
        """CALL triangle_count() YIELD id, triangles
          |RETURN sum(triangles)/3 AS total_triangles,
          |       max(triangles) AS max_per_vertex,
          |       count(CASE WHEN triangles > 0 THEN 1 END) AS n_in_triangles""".stripMargin)
    }),

    // deterministic label propagation (3 synchronous rounds, distinct-
    // neighbor majority vote, min-id tie-break) over the full TPC-H
    // graph; the answer is the community-size census — id-free in shape
    // but structure-exact, so any tie-break or round-count drift flips
    // the hash. The oracle replays the identical rounds as chained CTEs
    // on the raw tables (gid = labelId*2^48 + key).
    "cy_call_lpa" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL label_propagation(3) YIELD id, community
          |WITH community, count(*) AS sz
          |RETURN sz, count(*) AS n_communities ORDER BY sz DESC LIMIT 10""".stripMargin)),

    // weighted shortest distances from customer 1 (gid 3*2^48+1):
    // 6 Bellman-Ford rounds with CONTAINS edges costing their lineitem
    // quantity and every other edge 1.0 — reaches the customer's
    // nation/region, its orders, their suppliers (and the suppliers'
    // nations/regions at hop cost), and parts at 1 + min quantity; the
    // oracle replays the identical rounds as chained CTEs
    "cy_call_wsssp" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL wsssp(844424930131969, 'quantity', 6) YIELD id, dist
          |RETURN count(*) AS n_reached, round(sum(dist), 4) AS total_dist,
          |       round(max(dist), 4) AS max_dist""".stripMargin)),

    // per-label degree statistics over the full TPC-H graph, graded
    // against the relational degree census (every edge type contributes
    // to both endpoints' label rows)
    "cy_call_vertex_stats" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL vertex_stats() YIELD label, n, in_edges, out_edges, max_degree
          |RETURN label, n, in_edges, out_edges, max_degree ORDER BY label""".stripMargin)),

    // global clustering coefficient graded on the barbell closed form:
    // 3*39200 triangles over 98*C(49,2) + 2*C(50,2) + 10*C(2,2) wedges
    "cy_call_clustering" -> ((s, dir) => {
      val g = Generators.barbellGraph(s, 50, 10)
      Cypher.query(s, g,
        """CALL clustering_coefficient() YIELD n_triangles, n_wedges, coefficient
          |RETURN n_triangles, n_wedges, coefficient""".stripMargin)
    }),

    // k-core decomposition graded on a closed form: barbell(50,10)'s
    // 3-core peels the ten degree-2 bridge vertices (cascade along the
    // path), leaving exactly the two K50 bells — 100 vertices whose
    // within-core degree is 49 (the attachment vertices lose their
    // bridge edge). Same known-answer idiom as cy_call_triangles.
    "cy_call_kcore" -> ((s, dir) => {
      val g = Generators.barbellGraph(s, 50, 10)
      Cypher.query(s, g,
        """CALL kcore(3) YIELD id, degree
          |RETURN count(*) AS n_core, min(degree) AS min_deg,
          |       max(degree) AS max_deg""".stripMargin)
    }),

    // deterministic hash-driven uniform random walks (the node2vec /
    // DeepWalk sampling primitive) from every vertex of the TPC-H
    // graph, graded as the label census of walk endpoints after 4
    // hops — a DuckDB replay with the identical portable hash, neighbor
    // index, and modulus reproduces every single walk, so the census
    // is trajectory-exact
    "cy_call_walks" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL random_walks(4) YIELD walker, dest
          |WITH dest / 281474976710656 AS label_id
          |RETURN label_id, count(*) AS n ORDER BY label_id""".stripMargin)),

    // Brandes betweenness centrality, exact (every vertex a source),
    // graded on the barbell closed form: only bridge-crossing pairs
    // have interior vertices (bells are cliques, σ = 1 everywhere), so
    // bc(articulation) = 49·60 = 2940, bc(path_i) = (49+i)(60−i) —
    // max at i ∈ {5,6} = 54·55 = 2970 — and the total is
    // 2·2940 + Σ_{i=1..10}(49+i)(60−i) = 35500.
    "cy_call_betweenness" -> ((s, dir) => {
      val g = Generators.barbellGraph(s, 50, 10)
      Cypher.query(s, g,
        """CALL betweenness() YIELD id, centrality
          |RETURN count(*) AS n, round(max(centrality), 4) AS max_c,
          |       round(sum(centrality), 4) AS total_c""".stripMargin)
    }),

    // strongly connected components on a REAL-data directed graph with
    // cycles: customers and suppliers, c→s when a high-quantity 'R'
    // lineitem links them, s→c for 'A' — mutual trade loops form the
    // SCCs. Graded as the component-size census against a DuckDB
    // recursive-CTE transitive-closure oracle (structure-exact: any
    // mis-certified vertex flips the census).
    "cy_call_scc" -> ((s, dir) => {
      val g = sccGraph(s, dir)
      Cypher.query(s, g,
        """CALL scc() YIELD id, scc
          |WITH scc, count(*) AS sz
          |RETURN sz, count(*) AS n_components ORDER BY sz DESC""".stripMargin)
    }),

    "gen_complete_graph" -> ((s, dir) => {
      val g = Generators.completeGraph(s, 100)
      g.allVertices.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(g.allEdges.agg(count(lit(1)).as("n_edges")))
    }),

    // barbell generator (reference: age_create_barbell_graph,
    // graph_generation.c:206): two K_50 bells + a 10-vertex bridge path
    "gen_barbell" -> ((s, dir) => {
      val g = Generators.barbellGraph(s, 50, 10)
      g.allVertices.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(g.allEdges.agg(count(lit(1)).as("n_edges")))
    }),

    // CSV bulk-load surface (reference: load_labels_from_file /
    // load_edges_from_file, age_load.c:565/653): round-trip the nation/
    // region tables through CSV into a fresh graph, then query it
    "q_csv_load" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      t(s, dir, "nation")
        .select(col("n_nationkey").as("id"), col("n_name").as("name"))
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/nation")
      t(s, dir, "region")
        .select(col("r_regionkey").as("id"), col("r_name").as("name"))
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/region")
      t(s, dir, "nation")
        .select(col("n_nationkey").as("start_id"),
          lit("Nation").as("start_vertex_type"),
          col("n_regionkey").as("end_id"),
          lit("Region").as("end_vertex_type"))
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/in_region")
      val g = new graft.graph.MutableGraph("csvload", s)
      graft.graph.CsvLoader.loadVertexLabel(g, "Nation", s"$tmp/nation")
      graft.graph.CsvLoader.loadVertexLabel(g, "Region", s"$tmp/region")
      graft.graph.CsvLoader.loadEdgeLabel(g, "IN_REGION", s"$tmp/in_region")
      Cypher.execute(s, g,
        """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
          |RETURN r.name AS region, count(*) AS n ORDER BY region""".stripMargin)
    }),

    "q_subgraph_extract" -> ((s, dir) => {
      val sub = Subgraph.extract(TpchGraph.storeBacked(s, dir), "returned",
        edgePred = Some("returnflag = 'R'"))
      sub.allEdges.groupBy(col("label")).agg(count(lit(1)).as("n")).orderBy("label")
    }),

    "q_events_sessions" -> ((s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy("user_id")),

    // exact n-gram Jaccard, pair-driven: candidates here are the
    // deterministic (i, i+1) and (i, i+7) neighbor pairs — at scale
    // they come from LSH band buckets. Two id equi-joins, no all-pairs
    // product anywhere in the plan.
    "p_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 60)
      val ids = docs.select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .union(ids.select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b")))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
      Dedup.ngramJaccard(docs, "text", "doc_id", pairs, shingleK = 3)
        .orderBy("id_a", "id_b")
    }),

    // asymmetric containment near-dups: inverted-index shingle join
    // with a doc-frequency cap — catches small-doc-inside-big-doc
    // duplication that symmetric Jaccard misses
    "p_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 5, maxShingleDf = 64, threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // hash-dependent operators: the hashing is the portable md5 scheme
    // (TextOps.portableHash64) so each pipeline below is replicated
    // bit-for-bit by a generated DuckDB oracle
    "p_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
        .orderBy("id_a", "id_b")),

    // streaming near-dup: the corpus arrives as two micro-batches (a
    // deterministic id-parity split); each batch emits pairs within
    // itself AND against the accumulated signature state, which at 100 TB
    // is how a crawl increment dedups without re-shingling the corpus.
    // The union of the per-batch emissions must equal the batch
    // operator's result — same oracle SQL as p_minhash_lsh.
    "p_stream_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sd = new graft.streaming.StreamingDedup(s,
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
      val p0 = sd.processBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id")
      val p1 = sd.processBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id")
      p0.unionByName(p1).orderBy("id_a", "id_b")
    }),

    // streaming decontamination: the train split arrives as two
    // micro-batches; each is shingled once and probed against the
    // broadcast (fixed, pinned) eval gram set. The union of per-batch
    // flags must equal the batch operator — same oracle as
    // p_decontaminate.
    "q_stream_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = col("doc_id") % 100 === 7
      val train = docs.filter(!isEval)
      val sd = new graft.streaming.StreamingDecontaminate(
        s, docs.filter(isEval), "text", "doc_id", gramK = 4)
      val f0 = sd.processBatch(train.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id")
      val f1 = sd.processBatch(train.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id")
      f0.unionByName(f1)
        .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("source")
    }),

    // end-to-end ONLINE corpus curation: the corpus arrives as two
    // micro-batches; each is filtered, exact-deduped and near-deduped
    // against the accumulated state, survivors emitted. The oracle
    // encodes the greedy online drop rule exactly (arrival key =
    // (batch, id)); same filter/LSH parameters as p_curation.
    "q_stream_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sc = new graft.streaming.StreamingCuration(s, lang = "en",
        minTokens = 10, shingleK = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.3, maxBucketSize = 200)
      val k0 = sc.processBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id")
      val k1 = sc.processBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id")
      k0.unionByName(k1)
        .agg(count(lit(1)).as("n_kept"),
          sum(TextOps.tokenCount(col("text")).cast(LongType)).as("total_tokens"))
    }),

    // pipeline -> graph integration: the LSH near-dup pairs are ingested
    // as a property graph (GraphIngest's set-oriented merge — the same
    // path the streaming ingest uses), and the dedup clustering question
    // is answered from the OTHER half of the engine: Cypher graph
    // analytics over the ingested pair graph.
    "q_dedup_graph" -> ((s, dir) => {
      // pinned: both ingest batches read the pairs; the result holds the
      // pin until it is dropped
      val pins = new graft.graph.Pins(s)
      val pairs = pins.pin(Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3))._1
      // no distinct: mergeVertexBatch dedups on the merge key itself,
      // so the pre-shuffle here was one redundant exchange of the
      // pair-endpoint frame
      val ids = pairs.select(col("id_a").as("doc_id"))
        .unionByName(pairs.select(col("id_b").as("doc_id")))
      val g = new graft.graph.MutableGraph("dedupg", s)
      graft.streaming.GraphIngest.mergeVertexBatch(g, "Doc", "doc_id", ids)
      graft.streaming.GraphIngest.mergeEdgeBatch(g, "NEAR_DUP",
        ("Doc", "doc_id"), ("Doc", "doc_id"),
        pairs.select("id_a", "id_b"), "id_a", "id_b")
      pins.handOff(Cypher.execute(s, g,
        """CALL connected_components() YIELD id, component
          |WITH component, count(*) AS sz
          |RETURN count(*) AS n_components, max(sz) AS largest,
          |       sum(sz) AS n_docs""".stripMargin))
    }),

    "p_simhash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
        .orderBy("doc_id")),

    // transitive dedup decision: connected components over the LSH
    // near-dup pairs — one representative per duplicate cluster
    "p_dedup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(
        Dedup.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
          shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3))
        .orderBy("id")),

    // end-to-end corpus curation: language filter -> min-length filter ->
    // exact dedup (keep smallest id) -> drop near-dup cluster members
    // (keep the representative) -> corpus stats of the survivors
    "p_curation" -> ((s, dir) => {
      val filtered = t(s, dir, "documents")
        .filter(TextOps.langId(col("text")) === "en")
        .filter(TextOps.tokenCount(col("text")) >= 10)
      // pinned: the filtered+deduped corpus feeds the LSH pipeline, the
      // final anti-join AND the survivor stats — without the pin each
      // consumer re-runs the scan + language/length filters + the md5
      // dedup shuffle; the result holds the pin until it is dropped
      val pins = new graft.graph.Pins(s)
      val exact = pins.pin(Dedup.dedupExact(filtered, "text", "doc_id"))._1
      val pairs = Dedup.minhashLsh(exact, "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
      val dropIds = Dedup.dupClusters(pairs)
        .filter(col("id") =!= col("rep")).select(col("id").as("doc_id"))
      val kept = exact.join(dropIds, Seq("doc_id"), "left_anti")
      pins.handOff(kept.agg(count(lit(1)).as("n_kept"),
        sum(TextOps.tokenCount(col("text")).cast(LongType)).as("total_tokens")))
    }),

    // scalar projection of the decoded features: the driver's compare
    // hashes row values with pandas, which cannot sort/hash array cells
    "p_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodePipeline(Multimodal.syntheticAssets(s, 256), featureDim = 8)
        .select(col("asset_id"),
          size(col("features")).as("n_features"),
          round(aggregate(col("features"), lit(0.0d), _ + _), 6).as("feature_sum"))
        .orderBy("asset_id")),

    "p_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      // plant near-duplicates (one nudged coordinate) and recover them:
      // the synthetic corpus has no natural near-dups (max cosine ~0.51)
      val dup = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("embedding"))
      Dedup.embeddingNearDup(e.unionByName(dup), "vec_id", "embedding",
        dim = 64, threshold = 0.99, bits = 8)
        .orderBy("id_a", "id_b")
    }),

    "p_lsh_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 8), e, k = 5, bits = 8, dim = 64)
        .orderBy("q_id", "sim")
    }),

    // IVF-style ANN: deterministic coarse codebook (vec_id % 50), 2-cell
    // probe, exact rerank inside the probed inverted lists
    "p_ivf_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // explicit bounded codebook: every 50th vector, hard cap 64
      // centroids (id < 50*64) — the broadcastable quantizer stays
      // fixed-size at any corpus scale
      Similarity.ivfTopK(e.filter(col("vec_id") < 8), e,
        k = 5, nProbe = 2,
        codebook = Similarity.ivfCodebook(e, sampleMod = 50, maxCentroids = 64),
        maxCentroids = 64)
        .orderBy("q_id", "sim")
    }),

    // SemDeDup-style semantic dedup: coarse-cluster, then drop items with
    // a near-identical lower-id member of the SAME cluster. Near-dups are
    // planted like p_embed_neardup (the synthetic corpus has none); the
    // quantizer confines the pairwise stage to cluster-local candidates.
    // DSIR-style importance-weighted data selection: score every doc by
    // its mean token affinity to the English target slice, in exact
    // integer arithmetic; graded as the top-25 selection — any drift in
    // a single vocabulary count reorders the cut
    "p_dsir" -> ((s, dir) =>
      TextOps.importanceScores(t(s, dir, "documents"), "text", "doc_id",
        col("lang") === "en")
        .orderBy(col("score").desc, col("doc_id")).limit(25)),

    // first-merge BPE statistics (Sennrich et al. 2016): corpus-weighted
    // adjacent character-pair counts within words — graded as the
    // top-20 merge candidates. Word-frequency compression first: the
    // pair stage sees the distinct vocabulary, not the corpus.
    "p_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("pair")).limit(20)),

    // deterministic k-means (the SemDeDup/IVF clustering stage as a
    // graded operator): exact integer-quantized Lloyd iterations —
    // every centroid, distance, and tie is bit-reproducible and the
    // oracle replays the identical arithmetic relationally. Graded as
    // the final per-cluster census + exact integer distortion.
    "p_kmeans" -> ((s, dir) =>
      graft.pipeline.Clustering.kmeans(t(s, dir, "embeddings"), k = 8, iters = 3)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("sum_dist"))
        .orderBy(col("cluster"))),

    "p_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
      val dup = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("embedding"))
      Similarity.semanticDedup(e.unionByName(dup), threshold = 0.99,
        codebook = Similarity.ivfCodebook(e, sampleMod = 50, maxCentroids = 16),
        maxCentroids = 16)
        .orderBy("dropped")
    }),

    // top-3 TF-IDF terms per document (idf = N/df, the deterministic
    // linear inverse-document-frequency — no transcendental whose last
    // ulp differs across engines): term counts and document frequencies
    // are each ONE map-side-combined groupBy; N is a broadcast scalar;
    // the final per-doc rank windows on the document key.
    "p_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = TextOps.termFrequencies(docs.filter(col("doc_id") < 10), "text", "doc_id")
      val dfreq = TextOps.docFrequency(docs, "text").withColumnRenamed("df", "dfq")
      val n = docs.agg(count(lit(1)).as("n_corpus"))
      val score = col("tf").cast(DoubleType) / col("n").cast(DoubleType) /
        col("dfq").cast(DoubleType) * col("n_corpus").cast(DoubleType)
      val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("token"))
      tf.join(dfreq, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 3)
        .select(col("doc_id"), col("token").as("term"),
          round(score, 6).as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    // corpus-level PMI collocation mining: adjacent-pair counts vs
    // independence — two map-side-combined groupBys over the corpus,
    // then a vocab-against-vocab join (the corpus itself is never
    // joined). Relative count floor (0.1% of all bigrams) so the query
    // is scale-invariant; ordering on the ROUNDED score so float noise
    // can't flip the cross-engine rank.
    "p_pmi" -> ((s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"), "text", minFrac = 0.001)
        .select(col("x"), col("y"), col("cnt"), round(col("pmi"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y"))
        .limit(15)),

    // information-density quality signal: Shannon entropy of each
    // document's token distribution — a pure per-row HOF pass, zero
    // shuffle (the fold visits distinct tokens in first-appearance
    // order, so the float sum is deterministic)
    "p_word_entropy" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"),
          TextOps.wordEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")),

    // KenLM-style perplexity proxy: mean log2 probability of each
    // document under an add-one-smoothed bigram LM trained on the whole
    // corpus — the model is two count tables, scoring is two
    // vocab-sized joins + one per-doc aggregate
    "p_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLmScores(t(s, dir, "documents"), "text", "doc_id")
        .filter(col("doc_id") < 20).orderBy("doc_id")),

    // REAL image decode, graded: PNG assets are synthesized DISTRIBUTED
    // from closed-form 16x16 classes, decoded with javax.imageio in the
    // mapPartitions kernel slot (MediaCodecs), and the oracle re-derives
    // every decoded feature analytically — a hash match proves the
    // decoder read the actual pixels
    "p_image_decode" -> ((s, dir) =>
      MediaCodecs.withImageFeatures(MediaCodecs.syntheticPngs(s, 48), "content")
        .select(col("asset_id"),
          col("img.width").as("width"), col("img.height").as("height"),
          round(col("img.mean_luma"), 2).as("mean_luma"),
          bit_count(col("img.ahash")).as("ahash_bits"))
        .orderBy("asset_id")),

    // perceptual near-dup over REAL decoded images: aHash equivalence
    // classes of the closed-form assets are exactly predictable (all
    // solids hash to 0; splits and gradients share the columns>=4
    // pattern), so the banded-join + bit_count pipeline is graded
    // value-for-value against the analytic pair set
    "p_image_neardup" -> ((s, dir) => {
      val feats = MediaCodecs.withImageFeatures(
        MediaCodecs.syntheticPngs(s, 48), "content")
        .select(col("asset_id"), col("img.ahash").as("ahash"))
      MediaCodecs.imageNearDups(feats, "asset_id", "ahash", maxHamming = 0)
        .orderBy("id_a", "id_b")
    }),

    // REAL WAV decode, graded the same way: javax.sound.sampled parses
    // the PCM container; square-wave assets make duration and RMS exact
    // integers the oracle replays in closed form
    "p_audio_decode" -> ((s, dir) =>
      MediaCodecs.withAudioFeatures(MediaCodecs.syntheticWavs(s, 24), "content")
        .select(col("asset_id"),
          col("aud.sample_rate").as("sample_rate"),
          col("aud.channels").as("channels"),
          col("aud.duration_ms").as("duration_ms"),
          round(col("aud.rms"), 3).as("rms"))
        .orderBy("asset_id")),

    // REAL video decode, graded — closes the last multimodal stub:
    // AVI/RIFF container parsing is plain byte arithmetic and the
    // frames decode through the raw-DIB path (MJPEG rides the same
    // walk via ImageIO — spec-covered); closed-form 16x16 clips make
    // every decoded feature analytic, so a hash match proves the
    // parser walked the real container and read the real pixels
    "p_video_decode" -> ((s, dir) =>
      MediaCodecs.withVideoFeatures(MediaCodecs.syntheticAvis(s, 24), "content")
        .select(col("asset_id"),
          col("vid.width").as("width"), col("vid.height").as("height"),
          col("vid.fps").as("fps"), col("vid.n_frames").as("n_frames"),
          round(col("vid.mean_luma"), 2).as("mean_luma"),
          col("vid.ahash_bits").as("ahash_bits"))
        .orderBy("asset_id")),

    // Okapi BM25 relevance against a fixed query term set: corpus
    // scanned twice (1-row stats + query-filtered explode), never
    // self-joined; doc frequencies and (avgdl, N) broadcast back;
    // ordering on the ROUNDED score so float noise can't flip the
    // cross-engine rank
    "p_bm25" -> ((s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "hash", "join"))
        .select(col("doc_id"), col("n_terms"),
          round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(15)),

    // robust length-outlier scoring (C4/Gopher-style curation filter):
    // median/MAD via exact percentiles whose merge state is bounded by
    // the column's distinct-value count, both scalars broadcast, the
    // score itself a pure row expression
    "p_robust_outliers" -> ((s, dir) =>
      RobustStats.robustZ(t(s, dir, "documents"), "n_chars")
        .select(col("doc_id"), col("n_chars"),
          round(col("robust_z"), 6).as("robust_z"))
        .orderBy(col("robust_z").desc, col("doc_id")).limit(15)),

    // weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    // deterministic portable-hash uniforms, key = u^(1/n_chars), global
    // top-10 = the weighted sample — one codegen'd expression + a
    // TakeOrdered, never a full sort
    "p_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 10)
        .select(col("doc_id"), col("n_chars"), col("ares_key"))),

    // backward as-of join — for every purchase, the latest click by the
    // same user at or before it: both sides union into ONE shuffle +
    // ONE sort, a running last() carries the click payload into each
    // purchase row (TimeSeries.asofJoinBackward; no broadcast, no
    // nested loop — big-against-big safe)
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      TimeSeries.asofJoinBackward(p, c, Seq("user_id"), "ts", "ts",
          Seq("event_id"), tieCol = "event_id")
        .select(col("event_id").as("purchase_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("click_id"),
          coalesce(
            TimeSeries.epochLong(p, "ts") - col("asof_ts_long"), lit(-1L))
            .as("gap_us"))
        .orderBy("purchase_id").limit(20)
    }),

    // hot-key as-of: the SALTED two-phase variant (per-(key, salt)
    // windows + one max-struct merge — the asof analogue of
    // q_skew_join) graded against the SAME latest-preceding oracle as
    // q_asof_join; identical output proves the salt scatter/merge is
    // semantics-free while the sort exchange splits each key S ways
    "q_asof_salted" -> ((s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      TimeSeries.asofJoinBackwardSalted(p, c, Seq("user_id"), "ts", "ts",
          Seq("event_id"), tieCol = "event_id", numSalts = 4)
        .select(col("event_id").as("purchase_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("click_id"),
          coalesce(
            TimeSeries.epochLong(p, "ts") - col("asof_ts_long"), lit(-1L))
            .as("gap_us"))
        .orderBy("purchase_id").limit(20)
    }),

    // auto-salted as-of: numSalts unset → the operator measures the
    // right side's hottest key itself and (at this SF, where no user's
    // click history exceeds one task's sort budget) falls back to the
    // plain single-sort plan — the decision path is what's graded; the
    // answer must stay byte-identical to q_asof_join either way
    "q_asof_auto" -> ((s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      TimeSeries.asofJoinBackwardSalted(p, c, Seq("user_id"), "ts", "ts",
          Seq("event_id"), tieCol = "event_id")
        .select(col("event_id").as("purchase_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("click_id"),
          coalesce(
            TimeSeries.epochLong(p, "ts") - col("asof_ts_long"), lit(-1L))
            .as("gap_us"))
        .orderBy("purchase_id").limit(20)
    }),

    // interval containment join — how many same-day click spans (per
    // user per day) cover each error event: both sides bucket to the
    // hour and equi-join on the bucket id (TimeSeries.intervalJoin), so
    // the plan is two hash shuffles, never a broadcast-nested-loop
    "q_interval_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val spans = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("su"), date_trunc("day", col("ts")).as("d"))
        .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        .drop("d")
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"))
      val hits = TimeSeries.intervalJoin(errs, spans, "ts", "lo", "hi",
          bucketWidth = 3600L * 1000000L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("c"), countDistinct(col("su")).as("u"))
      errs.join(hits, Seq("event_id"), "left")
        .select(col("event_id").as("error_id"),
          coalesce(col("c"), lit(0L)).as("n_spans"),
          coalesce(col("u"), lit(0L)).as("n_users"))
        .orderBy("error_id").limit(20)
    }),

    // HITS hubs/authorities over the full TPC-H graph: 4 fixed
    // L1-normalized power-iteration rounds (GraphAlgos.hits), graded on
    // the top-5 authorities — the oracle replays the same rounds as
    // unrolled SQL CTEs over the reconstructed gid edge list
    "cy_call_hits" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL hits(4) YIELD id, hub, auth
          |RETURN id, round(auth, 6) AS auth, round(hub, 8) AS hub
          |ORDER BY auth DESC, id LIMIT 5""".stripMargin)),

    // link-prediction Jaccard over the full TPC-H graph: wedges route
    // only through degree-≤64 mid vertices (stop-vertex cap — a hub of
    // degree d would mint C(d,2) pairs), denominators are true degrees;
    // the oracle replays the identical capped measure
    "cy_call_jaccard" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL jaccard_similarity(64) YIELD id_a, id_b, common, jaccard
          |RETURN id_a, id_b, common, round(jaccard, 6) AS jaccard
          |ORDER BY jaccard DESC, id_a, id_b LIMIT 10""".stripMargin)),

    // thresholded variant: the prefix-filtered plan (pair volume
    // bounded by matches, not Σ C(deg, 2)); aggregates over the WHOLE
    // thresholded pair set so the oracle grades candidate-generation
    // completeness, not just a top-k corner
    "cy_call_jaccard_t" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL jaccard_similarity(64, 0.5) YIELD id_a, id_b, common, jaccard
          |RETURN count(*) AS n_pairs, sum(common) AS sum_common,
          |       round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j""".stripMargin)),

    // personalized PageRank from customer 1 (the wsssp landmark): 4
    // fixed deterministic push rounds, top-5 ranks — the oracle
    // replays the rounds as unrolled MATERIALIZED CTEs
    "cy_call_ppr" -> ((s, dir) =>
      Cypher.query(s, TpchGraph.storeBacked(s, dir),
        """CALL ppr(844424930131969, 0.15, 4) YIELD id, rank
          |RETURN id, round(rank, 8) AS rank
          |ORDER BY rank DESC, id LIMIT 5""".stripMargin)),

    // ONLINE as-of enrichment: the event stream arrives as two
    // time-ordered micro-batches; each purchase batch is enriched
    // against (per-key-latest state ∪ batch clicks) and the state
    // compacts to ONE row per user — the union of emissions must equal
    // the batch as-of join, so the oracle is q_asof_join's
    "q_stream_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      // events are generated in ts order, so an event_id split is a
      // time-ordered replay (one bounded scalar read, not a row collect)
      val mid = ev.agg(max(col("event_id"))).head.getLong(0) / 2
      val sa = new graft.streaming.StreamingAsof(
        s, Seq("user_id"), "ts", "event_id", Seq("event_id"))
      val e0 = sa.processBatch(
        p.filter(col("event_id") <= mid), c.filter(col("event_id") <= mid))
      val e1 = sa.processBatch(
        p.filter(col("event_id") > mid), c.filter(col("event_id") > mid))
      e0.unionByName(e1)
        .select(col("event_id").as("purchase_id"),
          coalesce(col("asof_event_id"), lit(-1L)).as("click_id"),
          coalesce(
            TimeSeries.epochLong(p, "ts") - col("asof_ts_long"), lit(-1L))
            .as("gap_us"))
        .orderBy("purchase_id").limit(20)
    }),

    // CUBE grouping-set aggregation (all four (status, priority)
    // rollup combinations in one pass — Spark expands grouping sets
    // before the single map-side-combined aggregate)
    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total_cents"))
        .orderBy("status", "priority")),

    // PIVOT: per-user event-type counts as columns (explicit value
    // list keeps the plan a single aggregate — no distinct-values
    // pre-scan)
    "q_pivot" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "purchase", "error", "view", "signup"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id").limit(25)),

    // unigram-LM quality gate: score every document's mean corpus-
    // frequency under a BOUNDED top-256 vocabulary (collected once like
    // the IVF codebook, embedded as a plan-literal map), surface the 10
    // least-familiar documents. Scoring is a zero-shuffle codegen'd
    // array pass; integer count sums + one division keep the score
    // bit-reproducible in any engine.
    "p_quality_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.topVocabulary(docs, "text", 256)
      docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"),
          TextOps.familiarity(col("text"), vocab).as("__score"))
        .orderBy(col("__score"), col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("n_tokens"), round(col("__score"), 4).as("score"))
    }),

    // cross-document duplicated-span fractions (exact-substring-dedup
    // proxy, Lee et al. 2021): a doc's 5-token span is duplicated when
    // the same text occurs in another document. One explode + one
    // span-keyed groupBy — the shuffle-partitionable stand-in for a
    // suffix array; per-source rollup of how dup-laden each slice is.
    "p_dup_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val frac = col("n_dup_spans").cast(DoubleType) / col("n_spans").cast(DoubleType)
      Dedup.dupSpanStats(docs, "text", "doc_id", k = 5)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(frac), 4).as("avg_dup_frac"),
          count(when(frac > 0.5, 1)).as("n_heavy"))
        .orderBy("source")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "cy_filter_project" ->
      """SELECT c_name AS name, c_acctbal AS acctbal FROM customer
        |WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING' ORDER BY name""".stripMargin,

    "cy_expand_count" ->
      """SELECT n_name AS nation, count(*) AS n_customers FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,

    "cy_2hop_sum" ->
      """SELECT p_brand AS brand, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY brand""".stripMargin,

    "cy_optional_count" ->
      """SELECT c_name AS name, count(o_orderkey) AS n_orders FROM customer
        |LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_name ORDER BY name""".stripMargin,

    "cy_order_skip_limit" ->
      """SELECT p_name AS name, p_retailprice AS price FROM part
        |ORDER BY price DESC, name LIMIT 10 OFFSET 5""".stripMargin,

    "cy_unwind" ->
      """SELECT x, x * x AS sq FROM (SELECT unnest([1,2,3,4,5]::BIGINT[]) AS x)
        |ORDER BY x""".stripMargin,

    "cy_vle" ->
      """SELECT CAST(1 AS INTEGER) AS hops, count(*) AS n FROM customer
        |UNION ALL SELECT CAST(2 AS INTEGER), count(*) FROM customer
        |ORDER BY hops""".stripMargin,

    // the interior vertex of the 2-hop FROM_NATION→IN_REGION path is the
    // customer's nation
    "cy_vle_path_nodes" ->
      """SELECT 'Nation' AS lbl, n_name AS nation, r_name AS region,
        |  count(*) AS n
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY 2, 3 ORDER BY nation""".stripMargin,

    // the unique Customer→Region shortest path is the 2-hop
    // FROM_NATION→IN_REGION chain through the customer's nation
    "cy_sp_path_nodes" ->
      """SELECT 'Nation' AS lbl, n_name AS nation, 'IN_REGION' AS t2,
        |  r_name AS region, CAST(2 AS INTEGER) AS hops, count(*) AS n
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY 2, 4 ORDER BY nation""".stripMargin,

    // Customer-PLACED->Order-CONTAINS->Part is the only 2-hop shape for
    // these labels; a path survives iff its CONTAINS edge passes the
    // lineitem predicate (the PLACED arm is always true), so paths map
    // 1:1 onto qualifying lineitems (every order has its customer)
    "cy_vle_edgepred" ->
      """SELECT p.p_brand AS brand, count(*) AS n
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_returnflag = 'N' AND l.l_quantity > 25
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "cy_where_string_preds" ->
      """SELECT p_brand AS brand, count(*) AS n FROM part
        |WHERE p_type LIKE 'STANDARD%' AND p_size > 30
        |GROUP BY p_brand ORDER BY brand""".stripMargin,

    "cy_chained_cmp" ->
      """SELECT count(*) AS n FROM customer
        |WHERE c_acctbal > 1000.0 AND c_acctbal <= 5000.0""".stripMargin,

    // id(c) = CustomerL*2^48 + c_custkey and 16 divides 2^48, so
    // id(c) % 16 == c_custkey % 16; DuckDB substring is 1-based
    "cy_scan_tryconv" ->
      """SELECT try_cast(substring(c_name, (c_custkey % 16) + 1, 2) AS BIGINT) AS d,
        |  count(*) AS n
        |FROM customer
        |WHERE try_cast(substring(c_name, (c_custkey % 16) + 1, 2) AS BIGINT) IS NOT NULL
        |GROUP BY 1 ORDER BY d""".stripMargin,

    "cy_percentile" ->
      """SELECT round(quantile_disc(c_acctbal, 0.5), 2) AS p50_disc,
        |  round(quantile_cont(c_acctbal, 0.9), 2) AS p90_cont,
        |  round(quantile_disc(c_acctbal, 0.95), 2) AS p95_disc
        |FROM customer""".stripMargin,

    "cy_hof_reduce" ->
      """SELECT n_name AS nation,
        |  count(CASE WHEN v > 500000 THEN 1 END) AS n_rich,
        |  CAST(coalesce(sum(CASE WHEN v > 500000 THEN v END), 0) AS BIGINT) AS rich_sum
        |FROM (SELECT n_name, CAST(round(c_acctbal * 100) AS BIGINT) AS v
        |      FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY n_name ORDER BY nation""".stripMargin,

    "cy_allshortest" ->
      """SELECT CAST(2 AS INTEGER) AS hops, count(*) AS n_paths
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_size = 1""".stripMargin,

    "cy_multi_pattern" ->
      """SELECT n_name AS nation, count(*) AS n_pairs
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey
        |  AND s_acctbal > c_acctbal
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,

    "cy_vle_unbounded" ->
      """SELECT r_name AS region, n1 + n2 AS n FROM (
        |  SELECT n_regionkey AS rk, count(*) AS n1 FROM nation GROUP BY 1) na
        |JOIN (
        |  SELECT n_regionkey AS rk, count(*) AS n2
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1) cu
        |USING (rk)
        |JOIN region ON r_regionkey = rk
        |ORDER BY region""".stripMargin,

    "cy_mutate" ->
      """SELECT CAST(3 AS BIGINT) AS n_accounts, CAST(169 AS BIGINT) AS total_bal""".stripMargin,

    "cy_math_fns" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(round(sqrt(c_acctbal) * 100) AS BIGINT)) AS BIGINT) AS s_sqrt,
        |  CAST(sum(CAST(round(ln(c_acctbal) * 100) AS BIGINT)) AS BIGINT) AS s_log,
        |  CAST(sum(CAST(floor(c_acctbal) AS BIGINT)) AS BIGINT) AS s_floor,
        |  CAST(sum(CAST(ceil(c_acctbal) AS BIGINT)) AS BIGINT) AS s_ceil,
        |  CAST(sum(CAST(sign(c_acctbal - 5000.0) AS BIGINT)) AS BIGINT) AS s_sign,
        |  CAST(180 AS BIGINT) AS deg
        |FROM customer WHERE c_acctbal > 1.0""".stripMargin,

    "cy_pred_fns" ->
      """SELECT n_name AS nation,
        |  bool_and(c_acctbal > -1000.0) AS all_ok,
        |  bool_or(c_acctbal > 9900.0) AS has_rich,
        |  NOT bool_or(c_acctbal < -999.0) AS none_vpoor,
        |  count(CASE WHEN c_acctbal > 9950.0 THEN 1 END) = 1 AS one_top
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,

    "cy_conversions" ->
      """SELECT v, CAST(trunc(TRY_CAST(v AS DOUBLE)) AS BIGINT) AS i,
        |  TRY_CAST(v AS DOUBLE) AS f, true AS b,
        |  '2.5::numeric' AS nm, true AS exact_dec, false AS float_dec
        |FROM (VALUES ('1'),('2.9'),('-3.2'),('x'),('7'),('')) t(v)
        |ORDER BY v""".stripMargin,

    "cy_path_extract" ->
      """SELECT CAST(substr(n_name, 8) AS BIGINT) AS k,
        |  upper(n_name) AS alias,
        |  CAST(substr(n_name, 8) AS BIGINT) * 2 AS ext
        |FROM nation WHERE CAST(substr(n_name, 8) AS BIGINT) < 10
        |ORDER BY k""".stripMargin,

    "cy_entity_cast" ->
      """SELECT DISTINCT 'Nation' AS lbl, n_name AS nation, 2 AS nn, 1 AS nr
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |ORDER BY nation""".stripMargin,

    "cy_hetero_containers" ->
      """SELECT CAST(substr(n_name, 8) AS BIGINT) AS k,
        |  CASE WHEN CAST(substr(n_name, 8) AS BIGINT) % 3 = 0 THEN n_name
        |       WHEN CAST(substr(n_name, 8) AS BIGINT) % 3 = 1 THEN
        |         '[' || substr(n_name, 8) || ', "' || n_name || '", ['
        |           || (CAST(substr(n_name, 8) AS BIGINT) * 2) || ']]'
        |       ELSE '{"key": ' || substr(n_name, 8) || ', "name": "' || n_name || '"}' END AS v,
        |  '[1, [2], {"a": 3}]' AS lit3
        |FROM nation WHERE CAST(substr(n_name, 8) AS BIGINT) < 5 ORDER BY k""".stripMargin,

    "cy_list_ops" ->
      """SELECT CAST(20 AS INTEGER) AS n, CAST(3 AS BIGINT) AS third,
        |  CAST(19 AS BIGINT) AS penult, CAST(15 AS BIGINT) AS head_sum,
        |  CAST(1 AS BIGINT) AS h, CAST(20 AS BIGINT) AS lst,
        |  CAST(NULL AS BIGINT) AS oob, false AS has21, true AS has7""".stripMargin,

    "cy_params" ->
      """SELECT count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7' AND c_acctbal >= 1000.0""".stripMargin,

    "cy_distinct_agg" ->
      """SELECT o_orderpriority AS pri, count(DISTINCT c_mktsegment) AS n_segs,
        |  count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY pri""".stripMargin,

    "cy_set_remove" ->
      """SELECT CAST(3 AS INTEGER) AS n_keys, CAST(55 AS BIGINT) AS bc,
        |  false AS has_a""".stripMargin,

    "cy_sql_entry" ->
      """SELECT n_name AS nation, count(*) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) >= 2 ORDER BY nation""".stripMargin,

    "cy_variant_props" ->
      """SELECT CAST(5 AS BIGINT) AS n_rows, CAST(4 AS BIGINT) AS n_set,
        |  CAST(3 AS BIGINT) AS n_ne, 'x' AS mn, '2.5' AS mx""".stripMargin,

    "cy_pattern_pred" ->
      """SELECT count(*) AS n FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |  AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)""".stripMargin,

    "cy_entity_fns" ->
      """SELECT CAST(562949953421313 AS BIGINT) AS gid, 'Nation' AS lbl,
        |  CAST(1 AS INTEGER) AS nk, true AS has_name""".stripMargin,

    "cy_union" ->
      """SELECT n_name AS name FROM nation JOIN customer ON c_nationkey = n_nationkey
        |UNION
        |SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey""".stripMargin,

    "cy_case" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
        |  WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bucket,
        |count(*) AS n FROM customer GROUP BY 1 ORDER BY bucket""".stripMargin,

    "cy_map_proj" ->
      """SELECT c_name AS name, c_mktsegment AS seg FROM customer
        |WHERE c_acctbal > 9000 ORDER BY name""".stripMargin,

    "cy_string_fns" ->
      """SELECT upper(substr(p_name, 1, 4)) AS pre, min(lower(p_type)) AS min_type,
        |min(replace(p_name, ' ', '_')) AS min_rep, count(*) AS n
        |FROM part GROUP BY 1 ORDER BY pre""".stripMargin,

    "cy_regex" ->
      """SELECT p_brand AS brand, count(*) AS n FROM part
        |WHERE regexp_full_match(p_name, '(cold|blue) .*')
        |GROUP BY 1 ORDER BY brand""".stripMargin,

    "cy_containment" ->
      """SELECT count(*) AS n FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "cy_arrow_ops" ->
      """SELECT c_name AS name, c_acctbal AS bal, c_mktsegment AS seg
        |FROM customer WHERE c_acctbal > 9900 ORDER BY name""".stripMargin,

    "cy_path_fns" ->
      """SELECT CAST(3 AS INTEGER) AS n_nodes, CAST(2 AS INTEGER) AS n_rels, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'""".stripMargin,

    "cy_edge_fns" ->
      """SELECT 'IN_REGION' AS t, 'Nation' AS sl, 'Region' AS el, count(*) AS n
        |FROM nation""".stripMargin,

    "cy_with_having" ->
      """SELECT c_name AS name, count(*) AS n FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 HAVING count(*) >= 15 ORDER BY name""".stripMargin,

    "cy_listcomp" ->
      """SELECT count(*) FILTER (n_name LIKE '%1%') AS n_match,
        |count(*) AS n_all FROM nation""".stripMargin,

    "cy_merge" ->
      """SELECT count(DISTINCT c_mktsegment) AS n_segs FROM customer""".stripMargin,

    "cy_merge_datadriven" ->
      """SELECT DISTINCT c_mktsegment AS name FROM customer ORDER BY name""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
        |CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY returnflag, linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey AS orderkey,
        |CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue_c DESC, orderkey LIMIT 10""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment AS segment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    "q_anti_join" ->
      """SELECT count(*) AS n_never_ordered FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,

    "q_window_lag" ->
      """SELECT user_id, event_id,
        |  coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER w, -1)
        |    AS gap_us,
        |  round(avg(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
        |    AS mov3
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_skew_join" ->
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY priority""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority AS priority, o_orderkey AS orderkey,
        |o_totalprice AS totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
        |WHERE rk = 1 ORDER BY priority""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority
        |FROM orders ORDER BY status, priority""".stripMargin,

    "q_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag NULLS FIRST, linestatus NULLS FIRST""".stripMargin,

    "q_groupby_having" ->
      """SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer
        |GROUP BY 1 HAVING count(*) > 20 ORDER BY nationkey""".stripMargin,

    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |event_type, count(*) AS n,
        |CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_events_json" ->
      """SELECT event_type,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |count(*) AS n FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_graph_ingest" ->
      """SELECT count(*) AS n_users,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM (SELECT user_id, value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rk
        |      FROM events)
        |WHERE rk = 1""".stripMargin,

    "p_dedup_exact" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "p_fingerprint" ->
      """SELECT count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_distinct,
        |count(*) AS n_total FROM documents""".stripMargin,

    "p_pack" ->
      s"""WITH toks AS (SELECT source, doc_id, CAST($oraTokCount AS BIGINT) AS tok
         |  FROM documents),
         |c AS (SELECT source, tok, sum(tok) OVER (PARTITION BY source
         |  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM toks),
         |f AS (SELECT source, CAST(floor((cum - tok) / 512.0) AS BIGINT) AS bin,
         |  count(*) AS n_docs, sum(tok) AS fill FROM c GROUP BY 1, 2)
         |SELECT source, count(*) AS n_bins, CAST(max(fill) AS BIGINT) AS max_fill,
         |  CAST(sum(fill) AS BIGINT) AS total_tokens
         |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "p_sample" ->
      s"""SELECT source, count(*) AS n_sampled,
         |  CAST(sum($oraTokCount) AS BIGINT) AS sample_tokens
         |FROM documents
         |WHERE ${oraHash("concat('smp:', CAST(doc_id AS VARCHAR))")} % 10 = 0
         |GROUP BY source ORDER BY source""".stripMargin,

    "p_shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id, text,
         |    ${oraHash("concat('shf:', CAST(doc_id AS VARCHAR))")} AS hh
         |  FROM documents)
         |SELECT CAST(hh % 8 AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum($oraTokCount) AS BIGINT) AS n_tokens,
         |  arg_min(doc_id, hh) AS first_doc
         |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,

    "p_cap_per_source" ->
      s"""WITH h AS (SELECT source, doc_id, text,
         |    ${oraHash("concat('cap:', CAST(doc_id AS VARCHAR))")} AS hh
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
         |  FROM h)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum($oraTokCount) AS BIGINT) AS kept_tokens,
         |  arg_min(doc_id, hh) AS first_doc
         |FROM r WHERE rk <= 15 GROUP BY source ORDER BY source""".stripMargin,

    "p_text_quality" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens,
        |round(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE /
        |  len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE, 4) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_lang_id" ->
      """SELECT CASE
        |WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %'
        |  OR ' ' || lower(text) || ' ' LIKE '% of %' THEN 'en'
        |WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% la %'
        |  OR ' ' || lower(text) || ' ' LIKE '% et %' THEN 'fr'
        |WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %'
        |  OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
        |WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %'
        |  OR ' ' || lower(text) || ' ' LIKE '% y %' THEN 'es'
        |ELSE 'und' END AS lang_pred, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY lang_pred""".stripMargin,

    "p_token_count" ->
      """SELECT SUM(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT)::BIGINT AS total_tokens,
        |count(*) AS n_docs FROM documents""".stripMargin,

    "p_token_bpe" ->
      s"""SELECT source,
         |  CAST(sum(len(regexp_extract_all(text,
         |    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT) AS bpe_tokens,
         |  CAST(sum($oraTokCount) AS BIGINT) AS ws_tokens,
         |  count(*) AS n_docs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "p_doc_freq" ->
      """SELECT token, count(*) AS df FROM (
        |  SELECT unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin,

    "p_redact" ->
      """WITH r AS (SELECT text,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS red
        |  FROM documents)
        |SELECT count(CASE WHEN text <> red THEN 1 END) AS n_redacted,
        |  count(DISTINCT md5(red)) AS n_distinct FROM r""".stripMargin,

    "p_decontaminate" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (SELECT doc_id, source,
        |    list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(t[i:i+3], ' ')) AS g
        |  FROM toks WHERE len(t) >= 4),
        |eval_grams AS (SELECT DISTINCT unnest(g) AS gram FROM grams
        |  WHERE doc_id % 100 = 7),
        |flagged AS (SELECT DISTINCT gr.doc_id, gr.source
        |  FROM (SELECT doc_id, source, unnest(g) AS gram FROM grams
        |        WHERE doc_id % 100 <> 7) gr
        |  JOIN eval_grams e ON gr.gram = e.gram)
        |SELECT source, count(*) AS n_contaminated FROM flagged
        |GROUP BY source ORDER BY source""".stripMargin,

    // identical semantics to p_decontaminate: the streamed union of
    // per-batch flags must reproduce the batch flag set exactly
    "q_stream_decontam" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |grams AS (SELECT doc_id, source,
        |    list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(t[i:i+3], ' ')) AS g
        |  FROM toks WHERE len(t) >= 4),
        |eval_grams AS (SELECT DISTINCT unnest(g) AS gram FROM grams
        |  WHERE doc_id % 100 = 7),
        |flagged AS (SELECT DISTINCT gr.doc_id, gr.source
        |  FROM (SELECT doc_id, source, unnest(g) AS gram FROM grams
        |        WHERE doc_id % 100 <> 7) gr
        |  JOIN eval_grams e ON gr.gram = e.gram)
        |SELECT source, count(*) AS n_contaminated FROM flagged
        |GROUP BY source ORDER BY source""".stripMargin,

    "p_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |wc AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM toks
        |  WHERE len(t) >= 2),
        |topw AS (SELECT doc_id, max(cnt) AS top_cnt, any_value(n) AS n
        |  FROM (SELECT doc_id, w, n, count(*) AS cnt FROM wc GROUP BY doc_id, w, n)
        |  GROUP BY doc_id),
        |bi AS (SELECT doc_id, list_transform(range(1, len(t)),
        |    i -> array_to_string(t[i:i+1], ' ')) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |birep AS (SELECT doc_id,
        |    1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE) AS f
        |  FROM bi)
        |SELECT count(CASE WHEN CAST(top_cnt AS DOUBLE) / n > 0.10 THEN 1 END)
        |    AS n_top_word_heavy,
        |  count(CASE WHEN f > 0.05 THEN 1 END) AS n_dup_bigram_heavy,
        |  round(avg(f), 4) AS avg_dup_bigram_frac
        |FROM topw JOIN birep USING (doc_id)""".stripMargin,

    "p_mixture" ->
      s"""WITH st AS (SELECT source,
         |    CAST(sum($oraTokCount) AS BIGINT) AS toks
         |  FROM documents GROUP BY source)
         |SELECT source, toks,
         |  round(sqrt(toks) / (SELECT sum(sqrt(toks)) FROM st), 6) AS weight
         |FROM st ORDER BY source""".stripMargin,

    "p_stratified_sample" ->
      s"""WITH st AS (SELECT source,
         |    CAST(sum($oraTokCount) AS BIGINT) AS toks
         |  FROM documents GROUP BY source),
         |tg AS (SELECT source,
         |    CAST(round(round(sqrt(toks) / (SELECT sum(sqrt(toks)) FROM st), 6) * 200, 0)
         |      AS BIGINT) AS n_target
         |  FROM st),
         |h AS (SELECT source, doc_id, text,
         |    ${oraHash("concat('strat:', CAST(doc_id AS VARCHAR))")} AS hh
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
         |  FROM h)
         |SELECT r.source, max(n_target) AS n_target, count(*) AS n_sampled,
         |  CAST(sum($oraTokCount) AS BIGINT) AS sample_tokens
         |FROM r JOIN tg ON r.source = tg.source
         |WHERE rk <= n_target
         |GROUP BY r.source ORDER BY r.source""".stripMargin,

    "p_chunk" ->
      s"""WITH toks AS (SELECT source, CAST($oraTokCount AS BIGINT) AS tok
         |  FROM documents),
         |c AS (SELECT source, tok,
         |  CASE WHEN tok <= 128 THEN 1
         |       ELSE CAST(ceil((tok - 128) / 96.0) AS BIGINT) + 1 END AS n_chunks
         |  FROM toks)
         |SELECT source, CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
         |  CAST(max(n_chunks) AS BIGINT) AS max_chunks,
         |  CAST(sum(tok) AS BIGINT) AS total_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "p_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
        |                i -> array_to_string(t[i:i+2], ' ')))
        |    END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |        FROM documents WHERE doc_id < 60)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b FROM sh a
        |  UNION ALL
        |  SELECT a.doc_id AS id_a, a.doc_id + 7 AS id_b FROM sh a)
        |SELECT p.id_a, p.id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) AS jaccard
        |FROM pairs p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin,

    "cy_exists_subquery" ->
      """SELECT c_mktsegment AS segment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    "cy_count_subquery" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS k
        |  FROM customer)
        |GROUP BY k ORDER BY k""".stripMargin,

    "cy_call_subquery" ->
      """SELECT n_name AS nation,
        |CAST(MAX(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS top_c
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,

    "cy_shortestpath" ->
      """SELECT CAST(2 AS INTEGER) AS hops, count(*) AS n FROM customer""".stripMargin,

    "cy_call_sssp" ->
      """WITH o3 AS (SELECT DISTINCT l_orderkey AS ok FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = 1)
        |SELECT dist, n FROM (
        |  SELECT CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS n
        |  UNION ALL
        |  SELECT 1, count(*) FROM nation WHERE n_regionkey = 1
        |  UNION ALL
        |  SELECT 2,
        |    (SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey
        |     WHERE n_regionkey = 1) +
        |    (SELECT count(*) FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |     WHERE n_regionkey = 1)
        |  UNION ALL
        |  SELECT 3, (SELECT count(*) FROM o3)
        |  UNION ALL
        |  SELECT 4, (SELECT count(DISTINCT o_custkey) FROM orders
        |    JOIN o3 ON o_orderkey = ok
        |    JOIN customer ON c_custkey = o_custkey
        |    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey <> 1))
        |ORDER BY dist""".stripMargin,

    "cy_call_pagerank" ->
      """WITH tot AS (SELECT (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
        |  + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |  + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders) AS n)
        |SELECT n AS n_ranked, n AS n_positive FROM tot""".stripMargin,

    "cy_call_cc" ->
      """WITH tot AS (SELECT (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
        |  + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |  + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders) AS n),
        |iso AS (SELECT count(*) AS k FROM part
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey))
        |SELECT 1 + k AS n_components, n - k AS largest FROM tot, iso""".stripMargin,

    "cy_call_lpa" -> oraLpaSql(3),

    "cy_call_stats" ->
      """SELECT label, n FROM (
        |  SELECT 'Customer' AS label, count(*) AS n FROM customer
        |  UNION ALL SELECT 'Nation', count(*) FROM nation
        |  UNION ALL SELECT 'Order', count(*) FROM orders
        |  UNION ALL SELECT 'Part', count(*) FROM part
        |  UNION ALL SELECT 'Region', count(*) FROM region
        |  UNION ALL SELECT 'Supplier', count(*) FROM supplier)
        |ORDER BY label""".stripMargin,

    "gen_complete_graph" ->
      "SELECT CAST(100 AS BIGINT) AS n_vertices, CAST(4950 AS BIGINT) AS n_edges",

    // 2*50 + 10 vertices; 2*C(50,2) + 11 bridge edges
    "gen_barbell" ->
      "SELECT CAST(110 AS BIGINT) AS n_vertices, CAST(2461 AS BIGINT) AS n_edges",

    // closed form for barbell(50,10): 2*C(50,3), C(49,2), 2*50
    "cy_call_triangles" ->
      """SELECT CAST(39200 AS BIGINT) AS total_triangles,
        |  CAST(1176 AS BIGINT) AS max_per_vertex,
        |  CAST(100 AS BIGINT) AS n_in_triangles""".stripMargin,

    "cy_call_wsssp" -> oraWssspSql(landmarkGid = 844424930131969L, rounds = 6),

    "cy_call_vertex_stats" ->
      """SELECT label, n, in_edges, out_edges, max_degree FROM (
        |SELECT 'Region' AS label,
        |  (SELECT count(*) FROM region) AS n,
        |  (SELECT count(*) FROM nation) AS in_edges,
        |  CAST(0 AS BIGINT) AS out_edges,
        |  (SELECT max(c) FROM (SELECT count(*) AS c FROM nation GROUP BY n_regionkey) t) AS max_degree
        |UNION ALL
        |SELECT 'Nation',
        |  (SELECT count(*) FROM nation),
        |  (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM nation),
        |  (SELECT max(c + s + 1) FROM (
        |     SELECT n_nationkey,
        |       (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS c,
        |       (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS s
        |     FROM nation) t)
        |UNION ALL
        |SELECT 'Customer',
        |  (SELECT count(*) FROM customer),
        |  CAST(0 AS BIGINT),
        |  (SELECT count(*) FROM customer) + (SELECT count(*) FROM orders),
        |  (SELECT 1 + max(c) FROM (
        |     SELECT c_custkey,
        |       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS c
        |     FROM customer) t)
        |UNION ALL
        |SELECT 'Supplier',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM supplier),
        |  (SELECT 1 + max(c) FROM (
        |     SELECT s_suppkey,
        |       (SELECT count(*) FROM lineitem WHERE l_suppkey = s_suppkey) AS c
        |     FROM supplier) t)
        |UNION ALL
        |SELECT 'Part',
        |  (SELECT count(*) FROM part),
        |  (SELECT count(*) FROM lineitem),
        |  CAST(0 AS BIGINT),
        |  (SELECT max(c) FROM (
        |     SELECT p_partkey,
        |       (SELECT count(*) FROM lineitem WHERE l_partkey = p_partkey) AS c
        |     FROM part) t)
        |UNION ALL
        |SELECT 'Order',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM lineitem) * 2,
        |  (SELECT 1 + 2 * max(c) FROM (
        |     SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey) t)
        |) ORDER BY label""".stripMargin,

    // barbell closed form: 2*C(50,3) triangles over
    // 98*C(49,2) + 2*C(50,2) + 10 wedges
    "cy_call_clustering" ->
      """SELECT CAST(39200 AS BIGINT) AS n_triangles,
        |  CAST(117708 AS BIGINT) AS n_wedges,
        |  CAST(0.999082 AS DOUBLE) AS coefficient""".stripMargin,

    // barbell(50,10) 3-core closed form: the two K50 bells, every
    // survivor at within-core degree 49
    "cy_call_kcore" ->
      """SELECT CAST(100 AS BIGINT) AS n_core,
        |  CAST(49 AS BIGINT) AS min_deg,
        |  CAST(49 AS BIGINT) AS max_deg""".stripMargin,

    // barbell(50,10) closed form (see the queries entry): max over the
    // path of (49+i)(60-i), total = 2*2940 + Σ — the oracle recomputes
    // the sum instead of hard-coding it
    "cy_call_betweenness" ->
      """SELECT CAST(110 AS BIGINT) AS n,
        |  CAST(2970 AS DOUBLE) AS max_c,
        |  CAST(5880 + (SELECT sum((49 + i) * (60 - i))
        |               FROM generate_series(1, 10) AS g(i)) AS DOUBLE) AS total_c""".stripMargin,

    // transitive-closure SCC on the same derived trade edges: b in
    // SCC(a) iff reach(a,b) AND reach(b,a); census of component sizes
    "cy_call_scc" ->
      """WITH RECURSIVE ed AS (
        |  SELECT DISTINCT 3*281474976710656 + o_custkey AS src,
        |                  4*281474976710656 + l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey <= 500 AND l_suppkey <= 100
        |    AND l_quantity > 42 AND l_returnflag = 'R'
        |  UNION
        |  SELECT DISTINCT 4*281474976710656 + l_suppkey,
        |                  3*281474976710656 + o_custkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey <= 500 AND l_suppkey <= 100
        |    AND l_quantity > 42 AND l_returnflag = 'A'),
        |nodes AS (
        |  SELECT 3*281474976710656 + c_custkey AS id FROM customer WHERE c_custkey <= 500
        |  UNION ALL
        |  SELECT 4*281474976710656 + s_suppkey FROM supplier WHERE s_suppkey <= 100),
        |r(a, b) AS (
        |  SELECT src, dst FROM ed
        |  UNION
        |  SELECT r.a, e.dst FROM r JOIN ed e ON e.src = r.b),
        |assign AS (
        |  SELECT n.id,
        |    least(n.id, coalesce(min(CASE WHEN r2.a IS NOT NULL THEN r1.b END), n.id)) AS scc
        |  FROM nodes n
        |  LEFT JOIN r r1 ON r1.a = n.id
        |  LEFT JOIN r r2 ON r2.a = r1.b AND r2.b = n.id
        |  GROUP BY n.id)
        |SELECT sz, count(*) AS n_components FROM (
        |  SELECT scc, count(*) AS sz FROM assign GROUP BY 1)
        |GROUP BY 1 ORDER BY sz DESC""".stripMargin,

    "q_csv_load" ->
      """SELECT r_name AS region, count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,

    "q_subgraph_extract" ->
      """SELECT 'CONTAINS' AS label, count(*) AS n FROM lineitem
        |WHERE l_returnflag = 'R'""".stripMargin,

    "q_events_sessions" ->
      """WITH brks AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id, CAST(SUM(brk) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM brks GROUP BY user_id ORDER BY user_id""".stripMargin,

    "p_embed_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
        |  (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // containment replay: same distinct 5-shingles (joined on the same
    // portable 60-bit hash), same df-cap window [2, 64], same full-set
    // denominators and 0.4 either-direction gate
    "p_containment" ->
      s"""WITH sh0 AS (SELECT doc_id,
        |  CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(t) - 3),
        |              i -> array_to_string(t[i:i+4], ' ')))
        |  END AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        |        FROM documents)),
        |ex0 AS (SELECT doc_id, len(s) AS n, unnest(s) AS sgt FROM sh0),
        |ex AS (SELECT doc_id, n, ${oraHash("sgt")} AS sg FROM ex0),
        |keep AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) BETWEEN 2 AND 64),
        |f AS (SELECT ex.doc_id, ex.n, ex.sg FROM ex JOIN keep USING (sg)),
        |pairs AS (SELECT a.doc_id AS id_a, a.n AS na, b.doc_id AS id_b, b.n AS nb,
        |    count(*) AS shared
        |  FROM f a JOIN f b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |c AS (SELECT id_a, id_b,
        |  round(CAST(shared AS DOUBLE) / na, 4) AS cont_a,
        |  round(CAST(shared AS DOUBLE) / nb, 4) AS cont_b FROM pairs)
        |SELECT id_a, id_b, cont_a, cont_b FROM c
        |WHERE greatest(cont_a, cont_b) >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // SQ8 quantizer replay: identical formula, identical IEEE evaluation
    // order on both sides ((v-mn)*255/(mx-mn), ties-away round, then
    // mn + code*(mx-mn)/255), so dequantized values are bit-equal
    "p_sq8_topk" ->
      """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |dims AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY i),
        |dq AS (SELECT vec_id, ex.i,
        |  CASE WHEN mx > mn
        |    THEN mn + round((v - mn) * 255.0 / (mx - mn)) * (mx - mn) / 255.0
        |    ELSE mn END AS d
        |  FROM ex JOIN dims ON dims.i = ex.i),
        |qv AS (SELECT i, d FROM dq WHERE vec_id = 0),
        |sims AS (SELECT dq.vec_id,
        |  sum(dq.d * qv.d) / (sqrt(sum(dq.d * dq.d)) * sqrt(sum(qv.d * qv.d))) AS sim
        |  FROM dq JOIN qv ON qv.i = dq.i WHERE dq.vec_id <> 0 GROUP BY dq.vec_id)
        |SELECT vec_id, round(sim, 6) AS sim FROM sims
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // ---- generated oracles for the hash-dependent pipelines: the same
    // md5-derived constants are embedded as literals on both sides ----

    "p_simhash" ->
      s"""WITH hs AS (SELECT doc_id,
         |  list_transform(string_split_regex(trim(text), '\\s+'),
         |    t -> ${oraHash("t")}) AS h
         |  FROM documents)
         |SELECT doc_id, ${oraSimhashSig("h")} AS sig
         |FROM hs ORDER BY doc_id""".stripMargin,

    "p_minhash_lsh" ->
      s"""WITH ${oraMinhashCtes()}
         |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // the streamed two-batch run must reproduce the batch operator
    "p_stream_neardup" ->
      s"""WITH ${oraMinhashCtes()}
         |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // transitive closure of the LSH near-dup pairs: component rep per doc
    // (DuckDB's recursive CTE is the oracle for the connected components
    // in Dedup.dupClusters)
    "p_dedup_clusters" ->
      s"""WITH RECURSIVE ${oraMinhashCtes()},
         |pr AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.3),
         |ed AS (SELECT id_a AS u, id_b AS w FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nd AS (SELECT DISTINCT u AS id FROM ed),
         |reach AS (
         |  SELECT id, id AS r FROM nd
         |  UNION
         |  SELECT reach.id, ed.w AS r FROM reach JOIN ed ON ed.u = reach.r)
         |SELECT id, min(r) AS rep FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // same component closure as p_dedup_clusters, aggregated to the
    // cluster-census answered via the ingested graph
    "q_dedup_graph" ->
      s"""WITH RECURSIVE ${oraMinhashCtes()},
         |pr AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.3),
         |ed AS (SELECT id_a AS u, id_b AS w FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nd AS (SELECT DISTINCT u AS id FROM ed),
         |reach AS (
         |  SELECT id, id AS r FROM nd
         |  UNION
         |  SELECT reach.id, ed.w AS r FROM reach JOIN ed ON ed.u = reach.r),
         |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, count(*) AS n FROM cl GROUP BY rep)
         |SELECT count(*) AS n_components, CAST(max(n) AS BIGINT) AS largest,
         |  CAST(sum(n) AS BIGINT) AS n_docs FROM sz""".stripMargin,

    "p_curation" ->
      s"""WITH RECURSIVE
         |flt AS (SELECT doc_id, text FROM documents
         |  WHERE ($oraLangCase) = 'en' AND ($oraTokCount) >= 10),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM flt GROUP BY md5(text)),
         |ded AS (SELECT flt.doc_id, flt.text FROM flt JOIN keep1 USING (doc_id)),
         |${oraMinhashCtes("ded")},
         |pr AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.3),
         |ed AS (SELECT id_a AS u, id_b AS w FROM pr
         |  UNION SELECT id_b, id_a FROM pr),
         |nd AS (SELECT DISTINCT u AS id FROM ed),
         |reach AS (
         |  SELECT id, id AS r FROM nd
         |  UNION
         |  SELECT reach.id, ed.w AS r FROM reach JOIN ed ON ed.u = reach.r),
         |dropids AS (SELECT id AS doc_id FROM (
         |  SELECT id, min(r) AS rep FROM reach GROUP BY id) WHERE id <> rep),
         |kept AS (SELECT ded.doc_id, ded.text FROM ded
         |  WHERE ded.doc_id NOT IN (SELECT doc_id FROM dropids))
         |SELECT count(*) AS n_kept,
         |  CAST(SUM(CAST(($oraTokCount) AS BIGINT)) AS BIGINT) AS total_tokens
         |FROM kept""".stripMargin,

    // ONLINE curation semantics: arrival key ak = (batch, id); a doc is
    // dropped if an EARLIER arrival shares its exact hash, or if it
    // near-dup-pairs with any earlier arrival (kept or dropped)
    "q_stream_curation" ->
      s"""WITH
         |flt AS (SELECT doc_id, text,
         |    (doc_id % 2) * 1000000000000 + doc_id AS ak FROM documents
         |  WHERE ($oraLangCase) = 'en' AND ($oraTokCount) >= 10),
         |keep1 AS (SELECT arg_min(doc_id, ak) AS doc_id FROM flt GROUP BY md5(text)),
         |ded AS (SELECT flt.doc_id, flt.text, flt.ak FROM flt JOIN keep1 USING (doc_id)),
         |${oraMinhashCtes("ded")},
         |pr AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.3),
         |drp AS (SELECT DISTINCT CASE WHEN a.ak > b.ak THEN id_a ELSE id_b END AS doc_id
         |  FROM pr JOIN ded a ON a.doc_id = id_a JOIN ded b ON b.doc_id = id_b),
         |kept AS (SELECT ded.doc_id, ded.text FROM ded
         |  WHERE ded.doc_id NOT IN (SELECT doc_id FROM drp))
         |SELECT count(*) AS n_kept,
         |  CAST(SUM(CAST(($oraTokCount) AS BIGINT)) AS BIGINT) AS total_tokens
         |FROM kept""".stripMargin,

    "p_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000 AS vec_id,
        |  list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS v
        |  FROM e WHERE vec_id < 20),
        |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM dup),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.99 ORDER BY id_a, id_b""".stripMargin,

    "p_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id, v, ${oraRhpSig("v", 8, 64, 0)} AS sig FROM e),
         |j AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  round(list_cosine_similarity(q.v, c.v), 6) AS sim
         |  FROM s q JOIN s c ON q.sig = c.sig AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 8),
         |r AS (SELECT q_id, c_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk FROM j)
         |SELECT q_id, c_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, sim""".stripMargin,

    "p_ivf_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
        |  WHERE vec_id % 50 = 0 AND vec_id < 50 * 64),
        |asn AS (SELECT c_id, cell FROM (
        |  SELECT c.vec_id AS c_id, cent_id AS cell,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY round(list_cosine_similarity(c.v, cents.cv), 6) DESC, cent_id) AS rk
        |  FROM e c CROSS JOIN cents) WHERE rk = 1),
        |prb AS (SELECT q_id, cell FROM (
        |  SELECT q.vec_id AS q_id, cent_id AS cell,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.v, cents.cv), 6) DESC, cent_id) AS rk
        |  FROM e q CROSS JOIN cents WHERE q.vec_id < 8) WHERE rk <= 2),
        |cand AS (SELECT q_id, c_id FROM prb JOIN asn USING (cell) WHERE q_id <> c_id),
        |scored AS (SELECT q_id, c_id,
        |    round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
        |  FROM cand JOIN e qe ON qe.vec_id = q_id JOIN e ce ON ce.vec_id = c_id),
        |r AS (SELECT q_id, c_id, sim,
        |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk FROM scored)
        |SELECT q_id, c_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, sim""".stripMargin,

    "cy_call_walks" -> oraWalksSql(steps = 4),

    "p_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |ft AS (SELECT * FROM toks WHERE length(tok) > 0),
        |vocab AS (
        |  SELECT tok,
        |    CAST(floor(sum(CASE WHEN t THEN 1 ELSE 0 END) * 1000000 * 1.0
        |               / count(*)) AS BIGINT) AS aff
        |  FROM ft GROUP BY 1)
        |SELECT doc_id, CAST(floor(sum(aff) * 1.0 / count(*)) AS BIGINT) AS score
        |FROM ft JOIN vocab USING (tok)
        |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    "p_bpe_pairs" ->
      """WITH w AS (
        |  SELECT u.w, count(*) AS wn FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) u
        |  WHERE length(u.w) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT substr(w, i, 2) AS pair, wn FROM (
        |    SELECT w, wn, unnest(generate_series(1, length(w) - 1)) AS i FROM w))
        |SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "p_kmeans" -> oraKmeansSql(k = 8, iters = 3),

    "p_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (SELECT vec_id + 1000000 AS vec_id,
        |  list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END) AS v
        |  FROM e WHERE vec_id < 20),
        |u AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM dup),
        |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
        |  WHERE vec_id % 50 = 0 AND vec_id < 50 * 16),
        |asn AS (SELECT vec_id, v, cell FROM (
        |  SELECT u.vec_id, u.v, cent_id AS cell,
        |    row_number() OVER (PARTITION BY u.vec_id
        |      ORDER BY round(list_cosine_similarity(u.v, cents.cv), 6) DESC, cent_id) AS rk
        |  FROM u CROSS JOIN cents) WHERE rk = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell
        |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99)
        |SELECT id_b AS dropped, min(id_a) AS rep, max(cell) AS cell
        |FROM p GROUP BY id_b ORDER BY dropped""".stripMargin,

    "p_tfidf" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM toks),
        |tf AS (SELECT doc_id, w, max(n) AS n, count(*) AS tf FROM w
        |  WHERE doc_id < 10 GROUP BY doc_id, w),
        |dfreq AS (SELECT token, count(*) AS dfq FROM (
        |  SELECT unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        |  FROM documents) GROUP BY token),
        |s AS (SELECT doc_id, w AS term,
        |    CAST(tf AS DOUBLE) / CAST(n AS DOUBLE) / CAST(dfq AS DOUBLE)
        |      * (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS sc,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY
        |      CAST(tf AS DOUBLE) / CAST(n AS DOUBLE) / CAST(dfq AS DOUBLE)
        |        * (SELECT CAST(count(*) AS DOUBLE) FROM documents) DESC, w) AS rk
        |  FROM tf JOIN dfreq ON tf.w = dfreq.token)
        |SELECT doc_id, term, round(sc, 6) AS tfidf FROM s WHERE rk <= 3
        |ORDER BY doc_id, term""".stripMargin,

    "p_pmi" ->
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
        |u AS (SELECT unnest(w) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS c FROM u GROUP BY 1),
        |b AS (SELECT w[p] AS x, w[p+1] AS y FROM
        |  (SELECT w, unnest(generate_series(1, len(w) - 1)) AS p FROM t
        |   WHERE len(w) >= 2)),
        |bc AS (SELECT x, y, count(*) AS cnt FROM b GROUP BY 1, 2),
        |tb AS (SELECT sum(cnt) AS tbv FROM bc),
        |tu AS (SELECT sum(c) AS tuv FROM uc)
        |SELECT x, y, cnt,
        |  round(log2((cnt / tbv) / ((ux.c / tuv) * (uy.c / tuv))), 6) AS pmi
        |FROM bc CROSS JOIN tb CROSS JOIN tu
        |JOIN uc ux ON ux.tok = bc.x
        |JOIN uc uy ON uy.tok = bc.y
        |WHERE cnt >= tbv * 0.001
        |ORDER BY pmi DESC, x, y LIMIT 15""".stripMargin,

    "p_word_entropy" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 20),
        |u AS (SELECT doc_id, len(w) AS n, unnest(w) AS tok FROM t),
        |c AS (SELECT doc_id, tok, max(n) AS n, count(*) AS c FROM u
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6)
        |    AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "p_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |u AS (SELECT unnest(w) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS cx FROM u GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |bg AS (SELECT doc_id, w[p] AS x, w[p+1] AS y FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS p FROM t
        |   WHERE len(w) >= 2)),
        |bc AS (SELECT x, y, count(*) AS cxy FROM bg GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(log2((cxy + 1) / (cx + v))), 6) AS mean_logp
        |FROM bg JOIN bc ON bc.x = bg.x AND bc.y = bg.y
        |JOIN uc ON uc.tok = bg.x CROSS JOIN v
        |WHERE doc_id < 20
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "p_image_decode" ->
      """SELECT i AS asset_id, 16 AS width, 16 AS height,
        |  round(CAST(CASE i % 3 WHEN 0 THEN 8 + (5 * i) % 240
        |    WHEN 1 THEN 90 + 10 * (i % 8) ELSE 127.5 END AS DOUBLE), 2)
        |    AS mean_luma,
        |  CASE i % 3 WHEN 0 THEN 0 ELSE 32 END AS ahash_bits
        |FROM range(0, 48) t(i) ORDER BY asset_id""".stripMargin,

    "p_image_neardup" ->
      """SELECT a.i AS id_a, b.i AS id_b, 0 AS hamming
        |FROM range(0, 48) a(i) JOIN range(0, 48) b(i) ON a.i < b.i
        |WHERE (a.i % 3 = 0 AND b.i % 3 = 0)
        |   OR (a.i % 3 > 0 AND b.i % 3 > 0)
        |ORDER BY id_a, id_b""".stripMargin,

    "p_audio_decode" ->
      """SELECT i AS asset_id, 8000 AS sample_rate, 1 AS channels,
        |  200 + 100 * (i % 3) AS duration_ms,
        |  round(CAST(1000 + 500 * (i % 7) AS DOUBLE), 3) AS rms
        |FROM range(0, 24) t(i) ORDER BY asset_id""".stripMargin,

    "p_video_decode" ->
      """SELECT i AS asset_id, 16 AS width, 16 AS height,
        |  CAST(10.0 AS DOUBLE) AS fps, 2 + (i % 3) AS n_frames,
        |  round(CAST(CASE WHEN i % 2 = 0 THEN 16 + (7 * i) % 224
        |    ELSE 100 + 10 * (i % 5) END AS DOUBLE), 2) AS mean_luma,
        |  CASE WHEN i % 2 = 0 THEN 0 ELSE 32 * (2 + (i % 3)) END AS ahash_bits
        |FROM range(0, 24) t(i) ORDER BY asset_id""".stripMargin,

    "p_bm25" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM t),
        |s AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM d),
        |u AS (SELECT doc_id, unnest(w) AS tok FROM t),
        |h AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM u
        |  WHERE tok IN ('spark', 'hash', 'join') GROUP BY 1, 2),
        |f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dfq FROM h GROUP BY 1)
        |SELECT h.doc_id AS doc_id, count(*) AS n_terms,
        |  round(sum(ln((n_docs - dfq + 0.5) / (dfq + 0.5) + 1.0)
        |    * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / avgdl))), 6)
        |    AS bm25
        |FROM h JOIN d ON d.doc_id = h.doc_id JOIN f ON f.tok = h.tok
        |CROSS JOIN s
        |GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,

    "p_robust_outliers" ->
      """WITH m AS (SELECT median(n_chars) AS med FROM documents),
        |d AS (SELECT doc_id, n_chars, abs(n_chars - med) AS dev
        |  FROM documents CROSS JOIN m),
        |md AS (SELECT median(dev) AS mad FROM d)
        |SELECT doc_id, n_chars, round(dev / mad, 6) AS robust_z
        |FROM d CROSS JOIN md
        |ORDER BY robust_z DESC, doc_id LIMIT 15""".stripMargin,

    "p_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
        |  round(pow(((${oraHash("concat('ws', CAST(doc_id AS VARCHAR))")}
        |      % 1048576) + 1) / 1048576.0, 1.0 / n_chars), 9) AS ares_key
        |FROM documents ORDER BY ares_key DESC, doc_id LIMIT 10""".stripMargin,

    "q_asof_join" ->
      """WITH p AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, coalesce(click_id, -1) AS click_id,
        |  coalesce(gap_us, -1) AS gap_us
        |FROM j WHERE rk = 1 ORDER BY purchase_id LIMIT 20""".stripMargin,

    // the salted variant must be indistinguishable from the plain
    // operator — same oracle as q_asof_join
    "q_asof_salted" ->
      """WITH p AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, coalesce(click_id, -1) AS click_id,
        |  coalesce(gap_us, -1) AS gap_us
        |FROM j WHERE rk = 1 ORDER BY purchase_id LIMIT 20""".stripMargin,

    // auto mode picks plain-vs-salted itself; the answer is the same
    // latest-preceding relation either way — same oracle again
    "q_asof_auto" ->
      """WITH p AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, coalesce(click_id, -1) AS click_id,
        |  coalesce(gap_us, -1) AS gap_us
        |FROM j WHERE rk = 1 ORDER BY purchase_id LIMIT 20""".stripMargin,

    "q_interval_join" ->
      """WITH spans AS (SELECT user_id AS su, date_trunc('day', ts) AS d,
        |    min(ts) AS lo, max(ts) AS hi
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        |SELECT e.event_id AS error_id, count(s.su) AS n_spans,
        |  count(DISTINCT s.su) AS n_users
        |FROM e LEFT JOIN spans s ON e.ts BETWEEN s.lo AND s.hi
        |GROUP BY 1 ORDER BY 1 LIMIT 20""".stripMargin,

    "cy_call_hits" -> oraHitsSql(rounds = 4),

    "cy_call_jaccard" -> oraJaccardSql(degCap = 64),

    "cy_call_jaccard_t" -> oraJaccardThresholdSql(degCap = 64, t = "0.5"),

    "cy_call_ppr" -> oraPprSql(
      sourceGid = 844424930131969L, alpha = "0.15", rounds = 4),

    // streaming as-of must equal the batch as-of join over full history
    "q_stream_asof" ->
      """WITH p AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, ts, user_id FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rk
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, coalesce(click_id, -1) AS click_id,
        |  coalesce(gap_us, -1) AS gap_us
        |FROM j WHERE rk = 1 ORDER BY purchase_id LIMIT 20""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'signup') AS signup
        |FROM events GROUP BY user_id ORDER BY user_id LIMIT 25""".stripMargin,

    "p_quality_lm" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, len(t) AS n, unnest(t) AS w FROM toks),
        |vocab AS (SELECT w AS token, count(*) AS cnt FROM w GROUP BY w
        |  ORDER BY cnt DESC, token LIMIT 256),
        |s AS (SELECT doc_id, max(n) AS n,
        |    CAST(coalesce(sum(cnt), 0) AS DOUBLE) AS fam
        |  FROM w LEFT JOIN vocab ON w.w = vocab.token GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, round(fam / n, 4) AS score
        |FROM s ORDER BY fam / n, doc_id LIMIT 10""".stripMargin,

    "p_dup_spans" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sp AS (SELECT doc_id, source, unnest(
        |    CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 3),
        |                i -> array_to_string(t[i:i+4], ' ')))
        |    END) AS sh
        |  FROM toks),
        |d AS (SELECT sh FROM sp GROUP BY sh HAVING count(*) > 1),
        |per AS (SELECT doc_id, source, count(*) AS nt, count(d.sh) AS nd
        |  FROM sp LEFT JOIN d ON sp.sh = d.sh GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE)), 4) AS avg_dup_frac,
        |  count(CASE WHEN CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE) > 0.5 THEN 1 END)
        |    AS n_heavy
        |FROM per GROUP BY source ORDER BY source""".stripMargin,

    "p_multimodal_decode" ->
      s"""WITH a AS (SELECT range AS asset_id,
         |  sha256(concat('image', CAST(range AS VARCHAR))) AS c FROM range(0, 256)),
         |f AS (SELECT asset_id, list_transform(range(0, 8),
         |  i -> CAST(${oraHash("concat(c, '|', CAST(i AS VARCHAR))")} % 1000 AS DOUBLE)
         |       / CAST(1000 AS DOUBLE)) AS fs
         |  FROM a)
         |SELECT asset_id, CAST(len(fs) AS INTEGER) AS n_features,
         |  round(list_sum(fs), 6) AS feature_sum
         |FROM f ORDER BY asset_id""".stripMargin
  )

  // ---- oracle SQL generators: DuckDB renderings of the portable-hash
  // pipelines, sharing literal constants with the Spark expressions ----

  /** DuckDB replay of [[graft.graph.GraphAlgos.randomWalks]] on the
    * TPC-H graph: identical undirected edge set, identical ascending
    * neighbor index, identical md5-derived choice hash and modulus —
    * every walk trajectory is reproduced hop for hop, then censused by
    * destination label. */
  private def oraWalksSql(steps: Int): String = {
    val B = "281474976710656" // 2^48, the gid label stride
    val hops = (1 to steps).map { t =>
      s"""s$t AS (SELECT s.walker, n.t AS v FROM s${t - 1} s
         |  JOIN deg d ON d.v = s.v
         |  JOIN nbr n ON n.v = s.v AND n.idx =
         |    ${oraHash(s"concat('walk:', s.walker, ':', $t, ':', s.v)")} % d.deg)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (
       |  SELECT 1*$B + r_regionkey AS id FROM region
       |  UNION ALL SELECT 2*$B + n_nationkey FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey FROM supplier
       |  UNION ALL SELECT 5*$B + p_partkey FROM part
       |  UNION ALL SELECT 6*$B + o_orderkey FROM orders),
       |ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |und AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed)),
       |nbr AS (SELECT src AS v, dst AS t,
       |  row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM und),
       |deg AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
       |s0 AS (SELECT id AS walker, id AS v FROM nodes),
       |$hops
       |SELECT v // $B AS label_id, count(*) AS n FROM s$steps
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Clustering.kmeans]]: identical
    * integer quantization (floor(x·10⁶+0.5) on the double-widened
    * float), identical exact integer distances, identical
    * floor(sum/count) centroid updates with empty-cluster carry-over,
    * iterations as chained CTEs. */
  private def oraKmeansSql(k: Int, iters: Int): String = {
    val rounds = (1 until iters).map { i =>
      s"""u$i AS (SELECT a.cluster, q.pos,
         |  CAST(floor(sum(q.qv) * 1.0 / count(*)) AS BIGINT) AS c
         |  FROM a$i a JOIN q ON q.vec_id = a.vec_id GROUP BY 1, 2),
         |c$i AS (SELECT c.k, c.pos, coalesce(u.c, c.c) AS c FROM c${i - 1} c
         |  LEFT JOIN u$i u ON u.cluster = c.k AND u.pos = c.pos),
         |d${i + 1} AS (SELECT q.vec_id, c.k, sum((q.qv - c.c)*(q.qv - c.c)) AS d
         |  FROM q JOIN c$i c ON c.pos = q.pos GROUP BY 1, 2),
         |a${i + 1} AS (SELECT vec_id, k AS cluster, CAST(d AS BIGINT) AS d FROM (
         |  SELECT vec_id, k, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
         |  FROM d${i + 1}) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |  unnest(embedding) AS x FROM embeddings),
       |q AS (SELECT vec_id, pos,
       |  CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv FROM ex),
       |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS k
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
       |c0 AS (SELECT i.k, q.pos, q.qv AS c FROM init i JOIN q ON q.vec_id = i.vec_id),
       |d1 AS (SELECT q.vec_id, c.k, sum((q.qv - c.c)*(q.qv - c.c)) AS d
       |  FROM q JOIN c0 c ON c.pos = q.pos GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, k AS cluster, CAST(d AS BIGINT) AS d FROM (
       |  SELECT vec_id, k, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
       |  FROM d1) WHERE rn = 1),
       |$rounds
       |SELECT cluster, count(*) AS n, CAST(sum(d) AS BIGINT) AS sum_dist
       |FROM a$iters GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.GraphAlgos.weightedSssp]] on the
    * TPC-H graph: the same directed weighted edge list (CONTAINS costs
    * l_quantity, everything else 1.0; multi-edges kept — min-relaxation
    * absorbs them) and the same fixed synchronous relaxation rounds.
    * Every candidate distance is one previous min plus one weight, so
    * doubles are bit-equal across engines. */
  private def oraWssspSql(landmarkGid: Long, rounds: Int): String = {
    val B = "281474976710656" // 2^48
    val iters = (1 to rounds).map { k =>
      val prev = s"d${k - 1}"
      s"""d$k AS (SELECT id, min(dist) AS dist FROM (
         |  SELECT id, dist FROM $prev
         |  UNION ALL
         |  SELECT ed.dst AS id, p.dist + ed.w AS dist
         |  FROM ed JOIN $prev p ON ed.src = p.id) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst,
       |    CAST(1.0 AS DOUBLE) AS w FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey, 1.0 FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey, 1.0 FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey, 1.0 FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey, l_quantity FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey, 1.0 FROM lineitem),
       |d0 AS (SELECT CAST($landmarkGid AS BIGINT) AS id,
       |  CAST(0.0 AS DOUBLE) AS dist),
       |$iters
       |SELECT count(*) AS n_reached, round(sum(dist), 4) AS total_dist,
       |  round(max(dist), 4) AS max_dist FROM d$rounds""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.GraphAlgos.labelPropagationDet]] on
    * the TPC-H graph: the same undirected simple-graph adjacency
    * (gid = labelId*2^48 + key, TpchGraph.scala), the same synchronous
    * rounds (distinct-neighbor majority, min-community tie-break,
    * isolated vertices keep their id) as chained CTEs, aggregated to
    * the community-size census. */
  private def oraLpaSql(steps: Int): String = {
    val B = "281474976710656" // 2^48, the gid label stride
    val iters = (1 to steps).map { k =>
      val prev = s"l${k - 1}"
      s"""c$k AS (SELECT u.src AS id, l.community, count(*) AS c
         |  FROM und u JOIN $prev l ON l.id = u.dst GROUP BY 1, 2),
         |b$k AS (SELECT id, community FROM (
         |  SELECT id, community,
         |    row_number() OVER (PARTITION BY id ORDER BY c DESC, community) AS rn
         |  FROM c$k) WHERE rn = 1),
         |l$k AS (SELECT n.id, coalesce(b.community, n.community) AS community
         |  FROM $prev n LEFT JOIN b$k b ON b.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (
       |  SELECT 1*$B + r_regionkey AS id FROM region
       |  UNION ALL SELECT 2*$B + n_nationkey FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey FROM supplier
       |  UNION ALL SELECT 5*$B + p_partkey FROM part
       |  UNION ALL SELECT 6*$B + o_orderkey FROM orders),
       |ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |und AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed)),
       |l0 AS (SELECT id, id AS community FROM nodes),
       |$iters
       |SELECT sz, count(*) AS n_communities FROM (
       |  SELECT community, count(*) AS sz FROM l$steps GROUP BY 1)
       |GROUP BY 1 ORDER BY sz DESC LIMIT 10""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.GraphAlgos.hits]] on the TPC-H
    * graph: the same gid edge list as [[oraWssspSql]], the same fixed
    * L1-normalized power-iteration rounds as unrolled CTE pairs
    * (auth half-step, then hub half-step), top-5 authorities. */
  private def oraHitsSql(rounds: Int): String = {
    val B = "281474976710656" // 2^48, the gid label stride
    // MATERIALIZED: every round references the previous one in a join
    // AND a scalar-subquery normalizer — inlined CTEs would re-evaluate
    // the whole prefix exponentially
    val iters = (1 to rounds).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT ed.dst AS id, sum(h.hub) AS s
         |  FROM ed JOIN h${k - 1} h ON h.id = ed.src GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT n.id, coalesce(ar.s, 0) / (SELECT sum(s) FROM ar$k) AS auth
         |  FROM nodes n LEFT JOIN ar$k ar ON ar.id = n.id),
         |hr$k AS MATERIALIZED (SELECT ed.src AS id, sum(a.auth) AS s
         |  FROM ed JOIN a$k a ON a.id = ed.dst GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT n.id, coalesce(hr.s, 0) / (SELECT sum(s) FROM hr$k) AS hub
         |  FROM nodes n LEFT JOIN hr$k hr ON hr.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (
       |  SELECT 1*$B + r_regionkey AS id FROM region
       |  UNION ALL SELECT 2*$B + n_nationkey FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey FROM supplier
       |  UNION ALL SELECT 5*$B + p_partkey FROM part
       |  UNION ALL SELECT 6*$B + o_orderkey FROM orders),
       |ed AS MATERIALIZED (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$iters
       |SELECT a.id, round(a.auth, 6) AS auth, round(h.hub, 8) AS hub
       |FROM a$rounds a JOIN h$rounds h ON h.id = a.id
       |ORDER BY auth DESC, a.id LIMIT 5""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.GraphAlgos.jaccardSimilarity]]:
    * same undirected simple adjacency, same degree-capped wedge join,
    * same true-degree denominators. */
  private def oraJaccardSql(degCap: Int): String = {
    val B = "281474976710656" // 2^48
    s"""WITH ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM ed
       |   UNION ALL SELECT dst AS src, src AS dst FROM ed)
       |  WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
       |mids AS MATERIALIZED (SELECT u.src AS mid, u.dst AS leaf
       |  FROM und u JOIN deg d ON d.v = u.src AND d.deg <= $degCap),
       |pairs AS (SELECT x.leaf AS id_a, y.leaf AS id_b, count(*) AS common
       |  FROM mids x JOIN mids y ON x.mid = y.mid AND x.leaf < y.leaf
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, common,
       |  round(common / (da.deg + db.deg - common), 6) AS jaccard
       |FROM pairs JOIN deg da ON da.v = id_a JOIN deg db ON db.v = id_b
       |ORDER BY jaccard DESC, id_a, id_b LIMIT 10""".stripMargin
  }

  /** DuckDB replay of the THRESHOLDED jaccard: the same wedge-pair
    * CTEs as [[oraJaccardSql]] with the threshold applied to the full
    * pair set, aggregated (count / Σcommon / min / max — all
    * order-insensitive, so no float-sum-order hazard). The Spark side
    * runs the prefix-filtered plan; value-identity to this relational
    * replay is exactly the losslessness claim. */
  private def oraJaccardThresholdSql(degCap: Int, t: String): String = {
    val B = "281474976710656" // 2^48
    s"""WITH ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM ed
       |   UNION ALL SELECT dst AS src, src AS dst FROM ed)
       |  WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
       |mids AS MATERIALIZED (SELECT u.src AS mid, u.dst AS leaf
       |  FROM und u JOIN deg d ON d.v = u.src AND d.deg <= $degCap),
       |pairs AS (SELECT x.leaf AS id_a, y.leaf AS id_b, count(*) AS common
       |  FROM mids x JOIN mids y ON x.mid = y.mid AND x.leaf < y.leaf
       |  GROUP BY 1, 2),
       |scored AS (SELECT common,
       |    common / (da.deg + db.deg - common) AS jaccard
       |  FROM pairs JOIN deg da ON da.v = id_a JOIN deg db ON db.v = id_b
       |  WHERE common / (da.deg + db.deg - common) >= $t)
       |SELECT count(*) AS n_pairs, CAST(sum(common) AS BIGINT) AS sum_common,
       |  round(min(jaccard), 6) AS min_j, round(max(jaccard), 6) AS max_j
       |FROM scored""".stripMargin
  }

  /** DuckDB replay of [[graft.graph.GraphAlgos.personalizedPageRank]]:
    * same out-degree-weighted edge frame, same fixed push rounds as
    * unrolled MATERIALIZED CTEs. */
  private def oraPprSql(sourceGid: Long, alpha: String, rounds: Int): String = {
    val B = "281474976710656" // 2^48
    val iters = (1 to rounds).map { k =>
      s"""pr$k AS MATERIALIZED (SELECT n.id,
         |    (CASE WHEN n.id = $sourceGid THEN $alpha ELSE 0.0 END)
         |      + (1.0 - $alpha) * coalesce(s.v, 0.0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT ew.dst AS id, sum(p.rank * ew.w) AS v
         |    FROM ew JOIN pr${k - 1} p ON p.id = ew.src GROUP BY 1) s
         |  ON s.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (
       |  SELECT 1*$B + r_regionkey AS id FROM region
       |  UNION ALL SELECT 2*$B + n_nationkey FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey FROM supplier
       |  UNION ALL SELECT 5*$B + p_partkey FROM part
       |  UNION ALL SELECT 6*$B + o_orderkey FROM orders),
       |ed AS (
       |  SELECT 2*$B + n_nationkey AS src, 1*$B + n_regionkey AS dst FROM nation
       |  UNION ALL SELECT 3*$B + c_custkey, 2*$B + c_nationkey FROM customer
       |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
       |  UNION ALL SELECT 3*$B + o_custkey, 6*$B + o_orderkey FROM orders
       |  UNION ALL SELECT 6*$B + l_orderkey, 5*$B + l_partkey FROM lineitem
       |  UNION ALL SELECT 6*$B + l_orderkey, 4*$B + l_suppkey FROM lineitem),
       |od AS (SELECT src, count(*) AS od FROM ed GROUP BY 1),
       |ew AS MATERIALIZED (SELECT ed.src, ed.dst, 1.0 / od.od AS w
       |  FROM ed JOIN od ON od.src = ed.src),
       |pr0 AS MATERIALIZED (SELECT id,
       |  CASE WHEN id = $sourceGid THEN $alpha ELSE 0.0 END AS rank FROM nodes),
       |$iters
       |SELECT id, round(rank, 8) AS rank FROM pr$rounds
       |ORDER BY rank DESC, id LIMIT 5""".stripMargin
  }

  /** DuckDB rendering of [[TextOps.portableHash64]]. */
  private def oraHash(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB rendering of [[TextOps.langId]] (same marker words). */
  private val oraLangCase: String =
    """CASE
      |WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %'
      |  OR ' ' || lower(text) || ' ' LIKE '% of %' THEN 'en'
      |WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% la %'
      |  OR ' ' || lower(text) || ' ' LIKE '% et %' THEN 'fr'
      |WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %'
      |  OR ' ' || lower(text) || ' ' LIKE '% die %' THEN 'de'
      |WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %'
      |  OR ' ' || lower(text) || ' ' LIKE '% y %' THEN 'es'
      |ELSE 'und' END""".stripMargin

  /** DuckDB rendering of [[TextOps.tokenCount]]. */
  private val oraTokCount: String =
    """CASE WHEN length(trim(text)) = 0 THEN 0
      |ELSE len(regexp_split_to_array(trim(text), '\s+')) END""".stripMargin

  /** DuckDB rendering of [[Dedup.simhash]]'s bit assembly over a
    * token-hash list column. */
  private def oraSimhashSig(h: String): String =
    (0 until Dedup.SimhashBits).map { b =>
      s"(CASE WHEN list_sum(list_transform($h, x -> CASE WHEN (x >> $b) & 1 = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $b) " +
        "ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n  + ")

  /** DuckDB rendering of one Carter-Wegman minhash permutation minimum
    * (same (a,b,P) literals as [[Dedup.minhashCoef]]). */
  private def oraMinhashMin(h: String, seed: Int): String = {
    val (a, b) = Dedup.minhashCoef(seed)
    s"list_min(list_transform($h, x -> ($a * (x % ${Dedup.MinhashP}) + $b) % ${Dedup.MinhashP}))"
  }

  /** The full MinHash-LSH pipeline as a DuckDB CTE chain (shingle → hash
    * set → 32 permutation minima → 8 band buckets → bucket-local
    * candidate pairs → exact-Jaccard verification in `v`) — shared by the
    * pair oracle and the dup-cluster closure oracle. Mirrors
    * [[graft.pipeline.Dedup.minhashLsh]] parameter-for-parameter. */
  private def oraMinhashCtes(src: String = "documents"): String = {
    val minima = (0 until 32).map(oraMinhashMin("h", _)).mkString(",\n    ")
    val bandSelects = (0 until 8).map { b =>
      val cells = (1 to 4).map(r => s"m[${b * 4 + r}]").mkString(", ")
      s"SELECT doc_id, $b AS band, [$cells] AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM $src),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |       ELSE list_transform(range(1, len(t) - 1),
       |              i -> array_to_string(t[i:i+2], ' ')) END AS s
       |  FROM toks),
       |hs AS (SELECT doc_id,
       |  list_distinct(list_transform(s, x -> ${oraHash("x")})) AS h FROM sh),
       |sig AS (SELECT doc_id, h, len(h) AS n,
       |  [$minima] AS m
       |  FROM hs),
       |bnd AS ($bandSelects),
       |ok AS (SELECT band, bucket FROM bnd GROUP BY band, bucket
       |  HAVING count(*) BETWEEN 2 AND 200),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bnd x JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id
       |  JOIN ok ON ok.band = x.band AND ok.bucket = x.bucket),
       |v AS (SELECT id_a, id_b,
       |  round(CAST(len(list_intersect(p.h, q.h)) AS DOUBLE) /
       |        CAST(p.n + q.n - len(list_intersect(p.h, q.h)) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN sig p ON p.doc_id = id_a JOIN sig q ON q.doc_id = id_b)""".stripMargin
  }

  /** DuckDB rendering of [[Similarity.rhpSignature]]: literal ±1 plane
    * arrays (identical to the Spark plan's literals) dotted against the
    * vector column. */
  private def oraRhpSig(v: String, bits: Int, dim: Int, planeSeed: Int): String =
    (0 until bits).map { i =>
      val signs = (0 until dim).map(d =>
        if (Similarity.rhpSign(planeSeed * 10000 + i, d) > 0) "1" else "-1")
        .mkString(",")
      s"(CASE WHEN list_dot_product($v, CAST([$signs] AS DOUBLE[])) > 0 " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n  + ")
}
