package graft.traversal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FrameBridge

import graft.graph.Pins

/** Distributed BFS shortest paths over an edge frame — the Spark
  * re-expression of the reference's in-backend BFS
  * (reference: sp_run_bfs, src/backend/utils/adt/age_vle.c:2983; frontier
  * queue :2823-2846; allshortestpaths DAG walk :3225-3266).
  *
  * Driver-side loop, executor-side work: each iteration joins the
  * frontier to the edges on its current vertex, then anti-joins the
  * visited set on (source, vertex); both frames are pinned per level.
  * Early-stops on empty frontier. Paths are edge-id arrays
  * (edge-isomorphic by construction since BFS never revisits a vertex
  * per source).
  */
object Bfs {

  /** Bounded-depth shortest paths as ONE Catalyst job: enumerate chains
    * of length 1..maxDepth (edge-unique; a minimal-hop walk is vertex-
    * simple automatically), then keep per-(src,dst) minimal hops via a
    * window rank. No driver-side iteration, no per-level persists —
    * for small depths this beats the frontier loop by avoiding its
    * per-level job overhead entirely.
    */
  def shortestPathsBounded(
      edges: DataFrame,
      sources: DataFrame,
      targets: DataFrame,
      maxDepth: Int,
      all: Boolean,
      withNodes: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coalesce the scan fan: store-backed edge unions scan one map task
    // per bucket file per label, and this lazy frame is re-scanned per
    // chain level AND per downstream consumer (a named path's nodes()/
    // relationships() materializers re-run the whole enumeration) —
    // session width tracks the deployment's configured parallelism
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // maxDepth < 1 (reachable via shortestpath((a)-[*..0]->(b)) when the
    // edge set is small enough to route here): no positive-length chain
    // exists — return an empty frame with the output schema instead of
    // silently emitting 1-hop paths past the bound (zero-length
    // start == end answers are unioned in by the caller)
    if (maxDepth < 1) {
      import org.apache.spark.sql.types._
      return edges.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("src_id", LongType),
          StructField("dst_id", LongType),
          StructField("edge_ids", ArrayType(LongType)),
          StructField("hops", LongType)) ++
          (if (withNodes) Seq(StructField("node_ids", ArrayType(LongType)))
           else Nil)))
    }
    val e = edges.select(col("id").as("__eid"), col("start_id"), col("end_id"))
      .coalesce(parts)
    val src = sources.select(col("id").as("__src")).distinct()
    val tgt = targets.select(col("id").as("__t")).distinct()
    // visited-vertex arrays (for a NAMED path's nodes()) ride alongside
    // the edge arrays only when asked — un-named calls never pay the
    // extra per-row array (same deal as the planner's wantNids)
    def nidsInit: Seq[Column] =
      if (withNodes) Seq(array(col("__src"), col("end_id")).as("__nids")) else Nil
    def nidsStep: Seq[Column] =
      if (withNodes) Seq(concat(col("__nids"), array(col("end_id"))).as("__nids"))
      else Nil
    // incremental chain building: depth k extends depth k-1's frame —
    // one edge join per level (maxDepth joins total) instead of
    // rebuilding every chain from the sources (Σ k = maxDepth(maxDepth
    // +1)/2 joins; at *..3 that re-planned and re-scanned the edge set
    // six times per consumer instead of three). The target semi-join
    // stays INSIDE each level: only the final hop must land on a
    // target, and per-pair minima are computed over (src, target)
    // pairs only — joining after the union would materialize every
    // k-hop expansion first (Catalyst does not push joins through
    // unions), which at a selective target is orders of magnitude
    // more rows through the window
    def hitsAt(df: DataFrame, k: Int): DataFrame =
      df.join(tgt, col("__cur") === col("__t")).drop("__t")
        .withColumn("__hops", lit(k))
    var chainDf = src.join(e, col("__src") === col("start_id"))
      .select(col("__src") +: col("end_id").as("__cur") +:
        array(col("__eid")).as("__eids") +: nidsInit: _*)
    var levelHits = Vector.empty[DataFrame]
    for (k <- 1 to maxDepth) {
      // REUSE BOUNDARY between the two consumers of an interior level
      // (its own hits branch + the next level's extension): without an
      // exchange here each union branch recomputes the FULL k-join chain
      // from the sources — Σk = maxDepth(maxDepth+1)/2 chain joins of
      // duplicated work (the r14 "incremental build" shared only the
      // lazy object, not the computation — its plans were identical).
      // The explicit hash exchange on __cur is the distribution the next
      // level's equi-join needs anyway, and its canonical subtree is
      // IDENTICAL under both consumers, so AQE plans it once and the
      // deeper branches read a ReusedExchange — one edge join per level
      // at runtime, verified by the plan's ReusedExchange nodes. The
      // last level has a single consumer and skips the barrier.
      val shared =
        if (k < maxDepth) chainDf.repartition(parts, col("__cur")) else chainDf
      levelHits :+= hitsAt(shared, k)
      if (k < maxDepth)
        chainDf = shared.join(e, col("__cur") === col("start_id"))
          .filter(!array_contains(col("__eids"), col("__eid")))
          .select(col("__src") +: col("end_id").as("__cur") +:
            concat(col("__eids"), array(col("__eid"))).as("__eids") +: nidsStep: _*)
    }
    val allPaths = levelHits.reduce(_ unionByName _)
      // simple-path semantics (match the frontier BFS and the reference:
      // age_vle.c:2798-2821): no cycles back to the source
      .filter(col("__src") =!= col("__cur"))
    val w = Window.partitionBy("__src", "__cur").orderBy(col("__hops"))
    val ranked =
      if (all) allPaths.withColumn("__min", min(col("__hops")).over(
          Window.partitionBy("__src", "__cur")))
        .filter(col("__hops") === col("__min")).drop("__min")
      else allPaths.withColumn("__rk", row_number().over(
          w.orderBy(col("__hops"), col("__eids"))))
        .filter(col("__rk") === 1).drop("__rk")
    ranked.select(col("__src").as("src_id") +: col("__cur").as("dst_id") +:
      col("__eids").as("edge_ids") +: col("__hops").cast("long").as("hops") +:
      (if (withNodes) Seq(col("__nids").as("node_ids")) else Nil): _*)
  }

  /** Depth the last [[shortestPaths]] call actually expanded to —
    * diagnostic for the early-exit spec; not part of the API. */
  @volatile private[graft] var lastDepthExecuted: Int = 0

  /** Default [[shortestPaths]] explosion cap — named so the conf
    * override below can tell "caller kept the default" apart from "a
    * caller chose a cap deliberately". */
  val DefaultMaxPaths: Long = 1000000L

  /** Shortest paths from every source to every target, by level-wise
    * frontier expansion.
    *
    * @param edges   (id, start_id, end_id) — pre-oriented for direction
    * @param sources source vertex ids: (id)
    * @param targets target vertex ids: (id); paths are reported on first
    *                (= minimal-hop) arrival of a (source, target) pair
    * @param maxDepth the most hops a path may take
    * @param all     keep every equal-length shortest path, not just one
    * @param maxPaths hard cap on materialized paths when all=true
    *                (reference caps too: age_vle.c:3215-3266). The
    *                default is overridable per session via
    *                spark.graft.traversal.maxPaths — the guard exists
    *                to stop combinatorial path explosion, not to bound
    *                legitimate large answers (the path frames are
    *                distributed, never driver-collected), so a cluster
    *                with the shuffle capacity for a bigger answer can
    *                raise it deliberately without a code change.
    * @param withNodes also return each path's vertex ids, in path order
    * @return (src_id, dst_id, edge_ids array<long>, hops), plus
    *         node_ids array<long> when withNodes
    */
  def shortestPaths(
      edges: DataFrame,
      sources: DataFrame,
      targets: DataFrame,
      maxDepth: Int = 15,
      all: Boolean = false,
      maxPaths: Long = DefaultMaxPaths,
      withNodes: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    // The session conf is SESSION-WIDE (every shortestPaths call in the
    // session sees it — e.g. a SPARK_GRAFT_CONF retry of one query), so
    // it replaces only the DEFAULT cap: a caller that passed an explicit
    // maxPaths made a per-call decision the retry knob must not trump,
    // and other queries in the same pass keep their explicit guards.
    val pathCap =
      if (maxPaths != DefaultMaxPaths) maxPaths
      else spark.conf.getOption("spark.graft.traversal.maxPaths")
        .map(_.toLong).getOrElse(maxPaths)
    // every frame the loop reuses is pinned (graft.graph.Pins): the next
    // level reads a materialized-RDD leaf, not the whole lineage, so the
    // plan stays O(1) per level, and each pin counts its rows in its own
    // job. The edge and target pins carry their row counts as size
    // estimates, so a small side still broadcasts.
    val pins = new Pins(spark)
    def pinSized(df: DataFrame): (DataFrame, Long) = {
      val (leaf, rows) = pins.pin(df)
      (FrameBridge.withRowCount(leaf, rows), rows)
    }
    val (e, _) = pinSized(edges.select(col("id").as("__eid"), col("start_id"), col("end_id")))
    val (tgt, nTgt) = pinSized(targets.select(col("id").as("__t")).distinct())
    // __hit marks a row whose vertex is a target, so a frontier's pin
    // counts its hits in the job that computes it
    def flagged(df: DataFrame): DataFrame =
      df.join(tgt.select(col("__t"), lit(true).as("__hit")), col("__cur") === col("__t"), "left")
        .select(df.columns.map(col) :+ coalesce(col("__hit"), lit(false)).as("__hit"): _*)

    val (start, nSrc, selfHits) = pins.pinCounts(flagged(
      sources.select(col("id").as("__src") +: col("id").as("__cur") +:
        array().cast("array<long>").as("__eids") +:
        (if (withNodes) Seq(array(col("id")).as("__nids")) else Nil): _*).distinct()), "__hit")
    var frontier = start
    var visited = start.select("__src", "__cur")
    // early exit for all=false: once every (source, target) pair has a
    // result there is nothing left to find — stop instead of expanding
    // the frontier to exhaustion/maxDepth (a selective target set on a
    // big graph otherwise wastes every level after the last answer).
    // (src, src) pairs can never resolve (the source starts visited), so
    // they're excluded from the expectation.
    val expectedPairs = if (all) Long.MaxValue else nSrc * nTgt - selfHits
    // each level's hits are read lazily from its pinned frontier, which
    // the result then holds; a level without hits is released
    var hits = Vector.empty[DataFrame]
    var found = 0L
    var frontierHits = 0L // the start frontier's flags count only selfHits

    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      depth += 1
      val step = frontier
        .join(e, col("__cur") === col("start_id"))
        .select(col("__src") +: col("end_id").as("__cur") +:
          concat(col("__eids"), array(col("__eid"))).as("__eids") +:
          (if (withNodes) Seq(concat(col("__nids"), array(col("end_id"))).as("__nids"))
           else Nil): _*)
        // never revisit a vertex per source (BFS level sets); a pair
        // resolved at an earlier level is visited, so it never hits again
        .join(visited, Seq("__src", "__cur"), "left_anti")
      val (expanded, n, nHits) = pins.pinCounts(
        flagged(if (all) step else step.dropDuplicates("__src", "__cur")), "__hit")
      if (nHits > 0) {
        hits :+= expanded.filter(col("__hit")).withColumn("__hops", lit(depth))
        found += nHits
        if (all && found > pathCap) pins.releaseAll()
        require(!all || found <= pathCap,
          s"allshortestpaths exceeded $pathCap materialized paths")
      }
      // stop on an empty frontier, or once every (source, target) pair
      // is answered — before paying for another level of expansion
      done = n == 0 || found >= expectedPairs
      if (!done) {
        val next = pins.pin(
          visited.unionByName(expanded.select("__src", "__cur")).distinct())._1
        pins.release(visited)
        visited = next
      }
      if (frontierHits == 0) pins.release(frontier)
      frontier = expanded; frontierHits = nHits
    }
    lastDepthExecuted = depth
    Seq(e, tgt, visited).foreach(pins.release)
    if (frontierHits == 0) pins.release(frontier)
    val out =
      if (hits.isEmpty) {
        import org.apache.spark.sql.types._
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(
            StructField("__src", LongType),
            StructField("__cur", LongType),
            StructField("__eids", ArrayType(LongType)),
            StructField("__hops", IntegerType)) ++
            (if (withNodes) Seq(StructField("__nids", ArrayType(LongType))) else Nil)))
      } else hits.reduce(_ unionByName _)
    pins.handOff(out.select(col("__src").as("src_id") +: col("__cur").as("dst_id") +:
      col("__eids").as("edge_ids") +: col("__hops").cast("long").as("hops") +:
      (if (withNodes) Seq(col("__nids").as("node_ids")) else Nil): _*))
  }
}
