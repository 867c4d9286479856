package graft.traversal

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** Frontier-BFS behavior that the Cypher-level golden tests can't pin:
  * the early-exit once every (source, target) pair is resolved
  * (all=false) — the reference's BFS also stops at the answer, not at
  * frontier exhaustion (reference: sp_run_bfs, age_vle.c:2983).
  */
class BfsSpec extends SparkTestBase {

  import spark.implicits._

  /** A 0→1→…→n chain: each extra level of expansion is observable. */
  private def chain(n: Int): DataFrame =
    (0 until n).map(i => (1000L + i, i.toLong, i.toLong + 1))
      .toDF("id", "start_id", "end_id")

  private def ids(xs: Long*): DataFrame = xs.toDF("id")

  test("frontier shortestPath and unbounded VLE calls leave no cached frame, " +
      "persisted RDD or checkpoint file behind") {
    import scala.jdk.CollectionConverters._
    val g = graft.graph.Generators.barbellGraph(spark, 5, 10)
    val dir = java.nio.file.Files.createTempDirectory("bfs-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def files = java.nio.file.Files.walk(dir).iterator().asScala.map(_.toString).toSet
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val before = files
    // persisted RDDs of earlier suites may be cleaned meanwhile, so the
    // RDD check is that nothing was added
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- rdds
    // *..12 is deeper than the bounded enumerator takes, so the frontier
    // loop runs, with more than 16 pins (one checkpoint)
    for (q <- Seq(
        "MATCH p = shortestPath((a:node)-[:edge*..12]->(b:node)) RETURN count(*) AS n",
        "MATCH (a:node)-[:edge*]->(b:node) RETURN count(*) AS n")) {
      for (_ <- 1 to 3)
        assert(graft.cypher.Cypher.query(spark, g, q).collect().head.getLong(0) > 0, q)
      assert(cache.isEmpty, s"$q cached a frame")
    }
    var tries = 0
    while ((added.nonEmpty || files != before) && tries < 50) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    assert(added.isEmpty, s"${added.size} persisted RDDs left")
    assert(files === before, "checkpoint files left")
  }

  test("early exit: a near target stops the frontier loop at its depth") {
    val e = chain(40)
    val r = Bfs.shortestPaths(e, ids(0L), ids(1L), maxDepth = 40, all = false)
      .collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSeq ===
      Seq((0L, 1L, 1L)))
    assert(Bfs.lastDepthExecuted === 1,
      s"expected 1 level, ran ${Bfs.lastDepthExecuted}")
  }

  test("early exit waits for the farthest pair, results identical to a full run") {
    val e = chain(40)
    val r = Bfs.shortestPaths(e, ids(0L), ids(1L, 3L), maxDepth = 40, all = false)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSet
    assert(r === Set((0L, 1L, 1L), (0L, 3L, 3L)))
    assert(Bfs.lastDepthExecuted === 3,
      s"expected 3 levels, ran ${Bfs.lastDepthExecuted}")
  }

  test("bounded enumerator with maxDepth < 1 returns an empty typed frame") {
    // reachable via shortestpath((a)-[*..0]->(b)) on a small edge set
    // (planShortestPath computes maxD=0 and routes to the bounded path):
    // no positive-length chain exists, so the answer frame is empty —
    // the old chain builder silently returned 1-hop paths past the bound
    val e = chain(5)
    for (withNodes <- Seq(false, true)) {
      val r = Bfs.shortestPathsBounded(e, ids(0L), ids(1L), maxDepth = 0,
        all = false, withNodes = withNodes)
      assert(r.count() === 0)
      val expect = Seq("src_id", "dst_id", "edge_ids", "hops") ++
        (if (withNodes) Seq("node_ids") else Nil)
      assert(r.columns.toSeq === expect)
    }
  }

  test("bounded enumerator reuse barrier: levels share one chain computation") {
    // depth-3 enumeration over a chain: the interior levels' exchanges
    // must be planned once and REUSED by the deeper branches (the r14
    // "incremental build" shared only the lazy object; this pins the
    // runtime dedup). ReusedExchange only appears in the final adaptive
    // plan, so collect first.
    val e = chain(6)
    val df = Bfs.shortestPathsBounded(e, ids(0L), ids(3L), maxDepth = 3,
      all = false)
    assert(df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3)))
      .toSeq === Seq((0L, 3L, 3L)))
    val s = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(s).nonEmpty,
      "expected the interior chain levels to reuse one exchange:\n" + s.take(2000))
  }

  test("unreachable targets still run to frontier exhaustion") {
    // 40-edge chain, but target 999 is not in the graph: no early exit,
    // the frontier drains at depth 40 (then one empty-frontier level)
    val e = chain(5)
    val r = Bfs.shortestPaths(e, ids(0L), ids(999L), maxDepth = 40, all = false)
    assert(r.count() === 0)
    assert(Bfs.lastDepthExecuted >= 5)
  }

  test("source that is also a target does not deadlock the expectation") {
    // (0,0) can never resolve (sources start visited) — the expectation
    // excludes it, so the remaining pair (0,2) still early-exits
    val e = chain(10)
    val r = Bfs.shortestPaths(e, ids(0L), ids(0L, 2L), maxDepth = 10, all = false)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSet
    assert(r === Set((0L, 2L, 2L)))
    assert(Bfs.lastDepthExecuted === 2,
      s"expected 2 levels, ran ${Bfs.lastDepthExecuted}")
  }

  test("allshortestpaths path cap is session-conf overridable") {
    // diamond: 0→{1,2}→3 gives two equal-length shortest paths 0→3
    val e = Seq((100L, 0L, 1L), (101L, 0L, 2L), (102L, 1L, 3L),
      (103L, 2L, 3L)).toDF("id", "start_id", "end_id")
    def run() =
      Bfs.shortestPaths(e, ids(0L), ids(3L), maxDepth = 4, all = true).count()
    // a cap below the true answer fires the guard…
    spark.conf.set("spark.graft.traversal.maxPaths", "1")
    try {
      val ex = intercept[Exception](run())
      assert(ex.getMessage.contains("exceeded 1 materialized paths"))
      // …raising it per session admits the same legitimately-large answer
      spark.conf.set("spark.graft.traversal.maxPaths", "2")
      assert(run() === 2)
    } finally spark.conf.unset("spark.graft.traversal.maxPaths")
    assert(run() === 2) // default cap untouched
  }

  test("explicit maxPaths argument is not trumped by the session conf") {
    val e = Seq((100L, 0L, 1L), (101L, 0L, 2L), (102L, 1L, 3L),
      (103L, 2L, 3L)).toDF("id", "start_id", "end_id")
    // the session-wide retry knob raises the DEFAULT cap, but a caller
    // that chose its own cap keeps it — one query's retry must not
    // disable every other query's explosion guard in the same pass
    spark.conf.set("spark.graft.traversal.maxPaths", "1000000")
    try {
      val ex = intercept[Exception](
        Bfs.shortestPaths(e, ids(0L), ids(3L), maxDepth = 4, all = true,
          maxPaths = 1L).count())
      assert(ex.getMessage.contains("exceeded 1 materialized paths"))
    } finally spark.conf.unset("spark.graft.traversal.maxPaths")
  }

  test("withNodes carries the visited-vertex array on both strategies, " +
      "absent when not asked") {
    // diamond: 0→{1,2}→3 — two equal shortest 2-hop paths
    val e = Seq((100L, 0L, 1L), (101L, 0L, 2L), (102L, 1L, 3L),
      (103L, 2L, 3L)).toDF("id", "start_id", "end_id")
    for (bounded <- Seq(true, false)) {
      val df =
        if (bounded) Bfs.shortestPathsBounded(e, ids(0L), ids(3L), 4,
          all = true, withNodes = true)
        else Bfs.shortestPaths(e, ids(0L), ids(3L), 4, all = true,
          withNodes = true)
      val rows = df.collect()
      assert(rows.length === 2, s"bounded=$bounded")
      for (r <- rows) {
        val eids = r.getSeq[Long](r.fieldIndex("edge_ids"))
        val nids = r.getSeq[Long](r.fieldIndex("node_ids"))
        assert(nids.length === eids.length + 1)
        assert(nids.head === 0L && nids.last === 3L)
        // interior vertex is the midpoint its edge pair actually used
        assert(nids(1) === (if (eids.head == 100L) 1L else 2L))
      }
      // un-asked: no node_ids column (unnamed traversals never pay it)
      val bare =
        if (bounded) Bfs.shortestPathsBounded(e, ids(0L), ids(3L), 4, all = true)
        else Bfs.shortestPaths(e, ids(0L), ids(3L), 4, all = true)
      assert(!bare.columns.contains("node_ids"))
    }
  }
}
