package graft.graph

import org.apache.spark.sql.functions._

import graft.{SparkJobs, SparkTestBase}
import graft.types.GraphId

/** Property-style checks for the deterministic iterative algorithms
  * (labelPropagationDet, kCore) on a seeded random graph: results must
  * be invariant to input partitioning, and k-core must satisfy its own
  * fixpoint definition. */
class AlgoPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val VL = 1; private val EL = 2

  /** Seeded Erdős–Rényi-ish graph: n vertices, m random edges. */
  private def randomGraph(n: Int, m: Int, seed: Long, parts: Int): PropertyGraph = {
    val rnd = new scala.util.Random(seed)
    val vs = (1 to n).map(i => Tuple1(GraphId.make(VL, i))).toDF("id")
      .repartition(parts)
    val es = (1 to m).map { j =>
      (GraphId.make(EL, j),
        GraphId.make(VL, rnd.nextInt(n) + 1),
        GraphId.make(VL, rnd.nextInt(n) + 1))
    }.toDF("id", "start_id", "end_id").repartition(parts)
    new PropertyGraph(s"rand_$parts",
      Seq(VertexLabel("node", VL, vs)), Seq(EdgeLabel("edge", EL, es)))
  }

  test("labelPropagationDet is invariant to input partitioning") {
    val a = GraphAlgos.labelPropagationDet(randomGraph(80, 200, seed = 7, parts = 2), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphAlgos.labelPropagationDet(randomGraph(80, 200, seed = 7, parts = 13), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
    assert(a.size === 80)
  }

  test("hits matches the hand-computed fixed-round values on a→c, b→c, c→d") {
    val vs = Seq(1L, 2L, 3L, 4L).map(i => Tuple1(GraphId.make(VL, i))).toDF("id")
    val es = Seq((1L, 1L, 3L), (2L, 2L, 3L), (3L, 3L, 4L))
      .map { case (e, s, t) => (GraphId.make(EL, e), GraphId.make(VL, s), GraphId.make(VL, t)) }
      .toDF("id", "start_id", "end_id")
    val g = new PropertyGraph("hits_hand",
      Seq(VertexLabel("node", VL, vs)), Seq(EdgeLabel("edge", EL, es)))
    val got = GraphAlgos.hits(g, rounds = 4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    def v(i: Long) = got(GraphId.make(VL, i))
    // L1-normalized 4-round closed form: auth(c)=16/17, auth(d)=1/17;
    // hub(a)=hub(b)=16/33, hub(c)=1/33 (worked in the spec's comments
    // round by round from uniform hub mass)
    val eps = 1e-12
    assert(math.abs(v(3)._2 - 16.0 / 17) < eps && math.abs(v(4)._2 - 1.0 / 17) < eps)
    assert(math.abs(v(1)._2) < eps && math.abs(v(2)._2) < eps)
    assert(math.abs(v(1)._1 - 16.0 / 33) < eps && math.abs(v(2)._1 - 16.0 / 33) < eps)
    assert(math.abs(v(3)._1 - 1.0 / 33) < eps && math.abs(v(4)._1) < eps)
  }

  test("hits is invariant to input partitioning and sums to 1") {
    def run(parts: Int) = GraphAlgos.hits(randomGraph(60, 150, seed = 11, parts = parts), 3)
      .collect().map(r => (r.getLong(0),
        math.rint(r.getDouble(1) * 1e9), math.rint(r.getDouble(2) * 1e9)))
      .sortBy(_._1).toSeq
    val a = run(2); val b = run(13)
    assert(a === b)
    assert(math.abs(a.map(_._2).sum / 1e9 - 1.0) < 1e-6) // hubs sum to 1
    assert(math.abs(a.map(_._3).sum / 1e9 - 1.0) < 1e-6) // auths sum to 1
  }

  test("jaccardSimilarity matches the hand-computed pairs on a 4-vertex graph") {
    // undirected view of edges 1-3, 2-3, 3-4, 1-4
    val vs = Seq(1L, 2L, 3L, 4L).map(i => Tuple1(GraphId.make(VL, i))).toDF("id")
    val es = Seq((1L, 1L, 3L), (2L, 2L, 3L), (3L, 3L, 4L), (4L, 1L, 4L))
      .map { case (e, s, t) => (GraphId.make(EL, e), GraphId.make(VL, s), GraphId.make(VL, t)) }
      .toDF("id", "start_id", "end_id")
    val g = new PropertyGraph("jac_hand",
      Seq(VertexLabel("node", VL, vs)), Seq(EdgeLabel("edge", EL, es)))
    val got = GraphAlgos.jaccardSimilarity(g)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    def p(a: Long, b: Long) = got((GraphId.make(VL, a), GraphId.make(VL, b)))
    assert(got.size === 5)
    assert(p(1, 2) === ((1L, 0.5)))       // share {3}; degs 2, 1
    assert(p(1, 4) === ((1L, 1.0 / 3)))   // share {3}; degs 2, 2
    assert(p(2, 4) === ((1L, 0.5)))       // share {3}; degs 1, 2
    assert(p(3, 4) === ((1L, 0.25)))      // share {1}; degs 3, 2
    assert(p(1, 3) === ((1L, 0.25)))      // share {4}; degs 2, 3
  }

  test("jaccardSimilarity: census-derived aggregate width keeps ONE " +
      "exchange and the same answer") {
    // the lazily-returned full plan widths its pair aggregate from the
    // measured pair volume — an explicit repartition on the grouping
    // keys where scaledWidthOf exceeds the session width — and that
    // exchange must BE the aggregate's: a second session-width shuffle
    // above it would reintroduce the §61 spill
    val g = randomGraph(40, 120, seed = 7, parts = 3)
    val out = GraphAlgos.jaccardArms(g, 64, 0.0).distributed()
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      math.rint(r.getDouble(3) * 1e9))).sortBy(x => (x._1, x._2)).toSeq
    assert(got === GraphAlgos.jaccardArms(g, 64, 0.0).local()
      .map(r => (r._1, r._2, r._3, math.rint(r._4 * 1e9))).sortBy(x => (x._1, x._2)).toSeq)
    // inspect AFTER execution so the adaptive plan is final; the AQE
    // toString appends an "== Initial Plan ==" section — cut it off
    // or every exchange is counted twice
    val planStr = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val pairExchanges = planStr.linesIterator
      .filter(_.contains("hashpartitioning(id_a")).toSeq
    assert(pairExchanges.length === 1,
      s"pair-keyed exchanges: ${pairExchanges.length} (the explicit " +
        "repartition must satisfy the aggregate's distribution, not " +
        s"stack under a session-width shuffle)\n$planStr")
    val width = "hashpartitioning\\(id_a[^,]*, id_b[^,]*, (\\d+)\\)".r
      .findFirstMatchIn(pairExchanges.head).map(_.group(1).toLong)
    // the pair volume the census measures: Σ C(deg, 2) over the
    // distinct neighbors of every mid
    val und = g.allEdges.select("start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val pairVol = und.groupBy(_._1).values
      .map(ns => { val d = ns.length.toDouble; d * (d - 1) / 2 }).sum
    assert(width === Some(math.max(GraphAlgos.scaledWidthOf(pairVol),
      spark.sessionState.conf.numShufflePartitions.toLong)), planStr)
  }

  test("jaccardSimilarity: wedges never route through a mid above the cap") {
    // star: hub 1 connected to 2..6 → with cap 3 the hub (deg 5) mints
    // no pairs, and each leaf (deg 1) has no second neighbor to pair
    val vs = (1L to 6L).map(i => Tuple1(GraphId.make(VL, i))).toDF("id")
    val es = (2L to 6L).map(i =>
        (GraphId.make(EL, i), GraphId.make(VL, 1L), GraphId.make(VL, i)))
      .toDF("id", "start_id", "end_id")
    val g = new PropertyGraph("jac_cap",
      Seq(VertexLabel("node", VL, vs)), Seq(EdgeLabel("edge", EL, es)))
    assert(GraphAlgos.jaccardSimilarity(g, degCap = 3).count() === 0L)
    assert(GraphAlgos.jaccardSimilarity(g, degCap = 64).count() === 10L) // C(5,2)
  }

  test("jaccardSimilarity thresholded: prefix-filtered plan equals " +
      "filter(jaccard >= t) of the full plan, across thresholds and caps") {
    // the prefix filter must be lossless: every pair the unthresholded
    // wedge plan scores at >= t must survive prefix-collision candidate
    // generation and exact re-verification, bit-identically
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    // bound 0 forces the PREFIX path — the small-input gate would
    // otherwise route every test graph through the full plan + filter
    // and the lossless claim would never be exercised
    spark.conf.set("spark.graft.jaccard.fullPlanPairBound", "0")
    try {
      for (seed <- Seq(11L, 12L); t <- Seq(0.2, 1.0 / 3, 0.5, 0.75, 1.0);
           cap <- Seq(4, 64)) {
        val g = randomGraph(60, 220, seed = seed, parts = 3)
        val full = GraphAlgos.jaccardArms(g, cap, 0.0).distributed()
          .filter(col("jaccard") >= t)
        val pruned = GraphAlgos.jaccardArms(g, cap, t).distributed()
        assert(canon(pruned) === canon(full), s"seed=$seed t=$t cap=$cap")
      }
    } finally spark.conf.unset("spark.graft.jaccard.fullPlanPairBound")
  }

  test("jaccard thresholded: small wedge census takes the full plan + " +
      "filter, and both gate arms answer identically") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val g = randomGraph(60, 220, seed = 13, parts = 3)
    GraphAlgos.clearPathDecisions(spark)
    val fast = GraphAlgos.jaccardArms(g, 64, 0.5).distributed()
    val fastCanon = canon(fast)
    val dec = GraphAlgos.recentPathDecisions(spark)
    assert(dec.exists(_.contains("full wedge plan + threshold filter")), dec)
    spark.conf.set("spark.graft.jaccard.fullPlanPairBound", "0")
    try {
      GraphAlgos.clearPathDecisions(spark)
      val pruned = GraphAlgos.jaccardArms(g, 64, 0.5).distributed()
      assert(canon(pruned) === fastCanon)
      val dec2 = GraphAlgos.recentPathDecisions(spark)
      assert(dec2.exists(_.contains("prefix-filtered thresholded plan")), dec2)
    } finally spark.conf.unset("spark.graft.jaccard.fullPlanPairBound")
  }

  test("jaccard records its path decision with its gate values") {
    val g = randomGraph(40, 90, seed = 45, parts = 2)
    def decisions(f: => Unit): Seq[String] = {
      GraphAlgos.clearPathDecisions(spark)
      f
      GraphAlgos.recentPathDecisions(spark)
    }
    val auto = decisions(GraphAlgos.jaccardSimilarity(g, 64, 0.5))
    assert(auto.exists(d => d.startsWith("jaccard: driver endgame") &&
      d.contains("degCap=64")), auto)
    val forced = decisions(GraphAlgos.run(
      GraphAlgos.jaccardArms(g, 64, 0.5).copy(rows = Long.MaxValue)))
    assert(forced.exists(_.startsWith("jaccard: distributed path")), forced)
  }

  test("personalizedPageRank matches the hand-computed rounds on a path") {
    val vs = Seq(1L, 2L, 3L).map(i => Tuple1(GraphId.make(VL, i))).toDF("id")
    val es = Seq((1L, 1L, 2L), (2L, 2L, 3L))
      .map { case (e, s, t) => (GraphId.make(EL, e), GraphId.make(VL, s), GraphId.make(VL, t)) }
      .toDF("id", "start_id", "end_id")
    val g = new PropertyGraph("ppr_hand",
      Seq(VertexLabel("node", VL, vs)), Seq(EdgeLabel("edge", EL, es)))
    val got = GraphAlgos.personalizedPageRank(g, GraphId.make(VL, 1L), 0.15, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val eps = 1e-15
    assert(math.abs(got(GraphId.make(VL, 1L)) - 0.15) < eps)
    assert(math.abs(got(GraphId.make(VL, 2L)) - 0.85 * 0.15) < eps)
    assert(math.abs(got(GraphId.make(VL, 3L)) - 0.85 * 0.85 * 0.15) < eps)
  }

  test("clusteringCoefficient: K6 closed form (20 triangles, 60 wedges, 1.0)") {
    val r = GraphAlgos.clusteringCoefficient(Generators.completeGraph(spark, 6))
      .collect()(0)
    assert(r.getLong(0) === 20L)
    assert(r.getLong(1) === 60L)
    assert(r.getDouble(2) === 1.0)
  }

  test("betweenness matches naive Brandes on a seeded random graph") {
    val n = 40
    val g = randomGraph(n, 90, seed = 23, parts = 3)
    val got = GraphAlgos.betweenness(g)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // naive reference: per-source BFS + dependency accumulation over
    // the same undirected simple view
    val adj = {
      val m = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      for (r <- g.allEdges.select("start_id", "end_id").collect()) {
        val (s, t) = (r.getLong(0), r.getLong(1))
        if (s != t) { m(s) = m(s) + t; m(t) = m(t) + s }
      }
      m
    }
    val verts = g.allVertices.select("id").collect().map(_.getLong(0)).toSeq
    val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- verts) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0).withDefaultValue(0.0)
      val order = scala.collection.mutable.ArrayBuffer(s)
      var i = 0
      while (i < order.length) {
        val v = order(i); i += 1
        for (w <- adj(v).toSeq.sorted) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; order += w }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj(w) if dist.get(v).contains(dist(w) - 1)) {
        delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
      }
      for (v <- order if v != s) bc(v) += delta(v)
    }
    assert(got.keySet === verts.toSet)
    for (v <- verts)
      assert(math.abs(got(v) - bc(v) / 2.0) < 1e-6, s"vertex $v: ${got(v)} vs ${bc(v) / 2.0}")
  }

  test("betweenness: source-batched level loop equals the single-batch " +
      "run (bc is additive over sources)") {
    // batchRows small enough that the 16 sampled sources split into
    // many batches on a 120-vertex graph (120 rows target → batch = 1)
    val g = randomGraph(120, 300, seed = 47, parts = 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6)))
        .sortBy(_._1).toSeq
    def distributed = canon(GraphAlgos.betweennessArms(g, 16, 64).distributed())
    val single = distributed
    spark.conf.set("spark.graft.betweenness.batchRows", "240")
    try {
      assert(distributed === single)
    } finally spark.conf.unset("spark.graft.betweenness.batchRows")
  }

  test("betweenness's distributed path deletes every reliable-checkpoint " +
      "file it created once the result is materialized") {
    // r11 ADVICE: cleanCheckpoints defaults off (and can't be enabled
    // after context start), so without explicit release a long-lived
    // session accumulates every call's checkpoint files — ~10 GB per
    // call at 100×/S=8 — until JVM exit
    val dir = java.nio.file.Files.createTempDirectory("btw-ckpt-spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val g = randomGraph(80, 200, seed = 31, parts = 3)
    val out = GraphAlgos.betweennessArms(g, 8, 64).distributed()
    assert(out.count() === 80L)
    def rddDirs: Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("rdd-"))
    }
    assert(rddDirs.isEmpty, s"leaked checkpoint files: $rddDirs")
    // the released frames were eagerly folded — the result is still
    // readable after the files are gone
    assert(out.agg(org.apache.spark.sql.functions.sum("centrality"))
      .collect()(0).getDouble(0) >= 0.0)
  }

  test("scaledWidthOf derives the exchange width from the measured row bound") {
    // §41 discipline for the iterative frontier loops: a super-linear
    // intermediate must size its own exchanges. 10^10 bound rows at
    // ~2M rows/partition → 5001 capped at 2048; a bench-scale bound
    // stays at one partition, under every session width.
    assert(GraphAlgos.scaledWidthOf(1e10) === 2048L)
    assert(GraphAlgos.scaledWidthOf(1e9) === 501L)
    assert(GraphAlgos.scaledWidthOf(1000.0) === 1L)
  }

  test("betweenness: sampled estimator is exact when the sample is everything") {
    val g = randomGraph(25, 50, seed = 5, parts = 2)
    val exact = GraphAlgos.betweenness(g)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val sampledAll = GraphAlgos.betweenness(g, nSources = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(exact.map(_._1) === sampledAll.map(_._1))
    for (((_, a), (_, b)) <- exact.zip(sampledAll)) assert(math.abs(a - b) < 1e-9)
  }

  test("scc matches naive Tarjan-style mutual reachability on a seeded digraph") {
    val g = randomGraph(60, 110, seed = 31, parts = 3)
    val got = GraphAlgos.scc(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // naive reference: transitive closure, scc(v) = min{u : v<->u} ∪ {v}
    val edges = g.allEdges.select("start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter { case (s, t) => s != t }
    val verts = g.allVertices.select("id").collect().map(_.getLong(0)).toSeq
    val reach = scala.collection.mutable.Map.empty[Long, Set[Long]]
    for (v <- verts) {
      var seen = Set(v); var frontier = Set(v)
      while (frontier.nonEmpty) {
        val next = edges.filter(e => frontier(e._1)).map(_._2).toSet -- seen
        seen ++= next; frontier = next
      }
      reach(v) = seen
    }
    val expected = verts.map { v =>
      v -> (reach(v).filter(u => reach(u)(v)) + v).min
    }.toMap
    assert(got === expected)
    // partition invariance
    val got2 = GraphAlgos.scc(randomGraph(60, 110, seed = 31, parts = 11))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 === expected)
  }

  /** Chain of `layers` topological layers: layer i is a singleton
    * vertex, except every `cycleEvery`-th layer is a directed
    * 3-cycle (a genuine non-trivial SCC); consecutive layers link
    * head-to-head. Expected labels are closed-form: cycle members
    * share the cycle's smallest id, singletons label themselves. */
  private def layeredChain(layers: Int, cycleEvery: Int, parts: Int)
      : (PropertyGraph, Map[Long, Long]) = {
    val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val es = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    var nextV = 1L
    var prevHead = -1L
    for (i <- 1 to layers) {
      val head = GraphId.make(VL, nextV); nextV += 1
      vs += head
      if (i % cycleEvery == 0) {
        val b = GraphId.make(VL, nextV); nextV += 1
        val c = GraphId.make(VL, nextV); nextV += 1
        vs += b; vs += c
        es += ((head, b)); es += ((b, c)); es += ((c, head))
        expected ++= Seq(head -> head, b -> head, c -> head)
      } else expected += (head -> head)
      if (prevHead >= 0) es += ((prevHead, head))
      prevHead = head
    }
    val vdf = vs.toSeq.map(Tuple1(_)).toDF("id").repartition(parts)
    val edf = es.toSeq.zipWithIndex
      .map { case ((s, t), j) => (GraphId.make(EL, j + 1L), s, t) }
      .toDF("id", "start_id", "end_id").repartition(parts)
    (new PropertyGraph(s"chain_${layers}_$parts",
      Seq(VertexLabel("node", VL, vdf)), Seq(EdgeLabel("edge", EL, edf))),
      expected.toMap)
  }

  test("scc: 500-topological-layer chain converges (endgame, no abort)") {
    // the r8 require-abort case: > 64 layers used to throw after doing
    // all the work; the maxResultSize-derived Tarjan endgame finishes
    // residuals like this exactly
    val (g, expected) = layeredChain(layers = 500, cycleEvery = 7, parts = 5)
    val got = GraphAlgos.scc(g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
  }

  test("scc: distributed passes with refinement converge well under the cap") {
    // endgame disabled → the trim + propagate + (F,B)-refinement passes
    // must do the shrinking themselves; 60 layers keeps the diameter
    // under maxRounds so propagation reaches fixpoint and refinement
    // (quicksort-style segment shattering) collapses the chain
    val (g, expected) = layeredChain(layers = 60, cycleEvery = 6, parts = 3)
    val got = GraphAlgos.scc(g, maxPasses = 16, localRowBudget = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
  }

  test("scc: cap-hit degrades to a partial labeling with NULLs, not an abort") {
    val (g, expected) = layeredChain(layers = 40, cycleEvery = 5, parts = 3)
    val rows = GraphAlgos.scc(g, maxPasses = 1, maxRounds = 2, localRowBudget = 0L)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.length === expected.size) // every vertex labeled or NULL
    val certified = rows.collect { case (v, Some(l)) => (v, l) }
    assert(certified.nonEmpty) // pass 1 certifies something
    for ((v, l) <- certified) assert(l === expected(v), s"vertex $v") // sound
    assert(rows.exists(_._2.isEmpty)) // and the cap genuinely bit
  }

  test("scc: certified components' intra-SCC edges are cut, so the endgame " +
      "never sees ghost endpoints") {
    // two 3-cycles A = {1,2,3}, B = {4,5,6}, bridge 3→4. Pass 1 certifies
    // A (F = B = 1) and peels it from remV; the converged refinement must
    // ALSO drop A's intra-cycle edges from remE — they pass the
    // (F, B)-equality cut (endpoints agree) but their endpoints are gone.
    // With localRowBudget = 9, pass 2's endgame check fires on
    // remaining(3) + remE: if the 3 ghost A-edges survived, remE = 6 and
    // the collected edge set feeds sccTarjan vertices it does not index
    // (the r9 ADVICE NPE); with the fix remE = 3 and Tarjan runs clean.
    def v(i: Long) = GraphId.make(VL, i)
    val vdf = (1L to 6L).map(i => Tuple1(v(i))).toDF("id").repartition(3)
    val edf = Seq((v(1), v(2)), (v(2), v(3)), (v(3), v(1)),
      (v(4), v(5)), (v(5), v(6)), (v(6), v(4)), (v(3), v(4)))
      .zipWithIndex
      .map { case ((s, t), j) => (GraphId.make(EL, j + 1L), s, t) }
      .toDF("id", "start_id", "end_id").repartition(3)
    val g = new PropertyGraph("ghost_edges",
      Seq(VertexLabel("node", VL, vdf)), Seq(EdgeLabel("edge", EL, edf)))
    val got = GraphAlgos.scc(g, maxPasses = 8, localRowBudget = 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(v(1) -> v(1), v(2) -> v(1), v(3) -> v(1),
      v(4) -> v(4), v(5) -> v(4), v(6) -> v(4)))
  }

  test("betweenness: auto-sampled sources are label-uniform, not lowest-stride") {
    // two DISCONNECTED stars under different label ids (gid strides):
    // the old orderBy(id).limit(64) pick drew every source from the
    // lower stride, so the upper star's centrality came out all-zero.
    // The hash top-k must land sources in BOTH components — each star
    // center then shows positive centrality (leaf→leaf paths cross it).
    val VL2 = 3
    def star(labelId: Int, leaves: Int) = {
      val c = GraphId.make(labelId, 1)
      val vs = (1 to (leaves + 1)).map(i => Tuple1(GraphId.make(labelId, i)))
      val es = (2 to (leaves + 1)).map(i =>
        (GraphId.make(EL, labelId * 10000L + i), c, GraphId.make(labelId, i)))
      (vs, es)
    }
    val (v1, e1) = star(VL, 550)
    val (v2, e2) = star(VL2, 550)
    val g = new PropertyGraph("two_stars",
      Seq(VertexLabel("a", VL, v1.toDF("id").repartition(4)),
        VertexLabel("b", VL2, v2.toDF("id").repartition(4))),
      Seq(EdgeLabel("edge", EL,
        (e1 ++ e2).toDF("id", "start_id", "end_id").repartition(4))))
    // 1102 vertices > AutoExactSourceVerts → bare call samples 64 sources
    val bc = GraphAlgos.betweenness(g)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(bc(GraphId.make(VL, 1)) > 0.0,
      "lower-stride star center got no centrality — no sources landed there")
    assert(bc(GraphId.make(VL2, 1)) > 0.0,
      "upper-stride star center got no centrality — the sample is id-biased")
  }

  test("sccTarjan: exact components on a hand graph; foreign endpoints skip") {
    // 1<->2, 3->1, 3<->4, 5 isolated-ish (5->3); edges touching 99
    // (not in verts) must be ignored, not NPE or mislabel
    val verts = Array(1L, 2L, 3L, 4L, 5L)
    val edges = Array((1L, 2L), (2L, 1L), (3L, 1L), (3L, 4L), (4L, 3L),
      (5L, 3L), (99L, 1L), (4L, 99L))
    val got = GraphAlgos.sccTarjan(verts, edges.map(_._1), edges.map(_._2)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("betweenness: bare call derives sampling from graph size") {
    // big graph (> AutoExactSourceVerts): auto must equal the explicit
    // 64-source estimator, NOT the exact all-sources run
    val big = randomGraph(1100, 2300, seed = 41, parts = 4)
    val auto = GraphAlgos.betweenness(big)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6))).sortBy(_._1).toSeq
    val sampled = GraphAlgos.betweenness(big, nSources = GraphAlgos.AutoSampleSources)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6))).sortBy(_._1).toSeq
    assert(auto === sampled)
    // small graph: auto stays exact
    val small = randomGraph(30, 60, seed = 43, parts = 2)
    val autoSmall = GraphAlgos.betweenness(small)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6))).sortBy(_._1).toSeq
    val exact = GraphAlgos.betweenness(small, nSources = 0)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e6))).sortBy(_._1).toSeq
    assert(autoSmall === exact)
  }

  test("randomWalks: trajectories follow real edges and are partition-invariant") {
    val g = randomGraph(50, 120, seed = 17, parts = 3)
    val walks = GraphAlgos.randomWalks(g, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // replay each walk naively with the same hash/index rule
    val und = g.allEdges.select("start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter { case (s, t) => s != t }
      .flatMap { case (s, t) => Seq((s, t), (t, s)) }.distinct
    val adj = und.groupBy(_._1).map { case (v, xs) => (v, xs.map(_._2).sorted) }
    val verts = g.allVertices.select("id").collect().map(_.getLong(0)).toSeq
    val expected = verts.flatMap { s =>
      var v = s; var alive = adj.contains(v)
      for (t <- 1 to 3 if alive) {
        val ns = adj.getOrElse(v, Array.empty[Long])
        if (ns.isEmpty) alive = false
        else v = ns((graft.pipeline.TextOps.md5Long(s"walk:$s:$t:$v") % ns.length).toInt)
      }
      if (alive) Some((s, v)) else None
    }.sortBy(_._1)
    assert(walks === expected)
    val walks2 = GraphAlgos.randomWalks(randomGraph(50, 120, seed = 17, parts = 11), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(walks2 === expected)
  }

  test("triangles: K5 closed form and a shuffle-only distributed plan") {
    val g = randomGraph(120, 200, seed = 71, parts = 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // closed form: K5 has C(5,3) = 10 triangles, 6 per vertex
    val k5 = Generators.completeGraph(spark, 5)
    val tri = pairs(GraphAlgos.triangleCount(k5))
    assert(tri.length === 5 && tri.forall(_._2 === 6L))
    // the distributed plan must be pure shuffles — the GraphX
    // implementation it replaced OOM'd on dense hubs at 10x
    val pins = new Pins(spark)
    val plan = GraphAlgos.trianglesDistributedPlan(g, pins).queryExecution.executedPlan.toString
    pins.releaseAll()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("concurrent distributed calls on one session leave its conf alone and stay correct") {
    // each distributed arm tunes AQE and exchange width on a clone of the
    // session: a reader of the caller's session, here a third thread,
    // must only ever see the session's own values while lpa, kcore and
    // connected_components (AQE off at this size) run at once
    val g1 = randomGraph(80, 200, seed = 101, parts = 3)
    val g2 = randomGraph(80, 200, seed = 102, parts = 3)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    def lpa = sorted(GraphAlgos.labelPropagationArms(g1, 3).distributed())
    def kcore = sorted(GraphAlgos.kCoreArms(g2, 3, 1000).distributed())
    def cc = sorted(GraphAlgos.connectedComponentsArms(g1).distributed())
    val expected = Seq(lpa, kcore, cc)
    def settings = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions"))
    val own = settings
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val calls = Future.sequence(Seq(Future(lpa), Future(kcore), Future(cc)))
    val seen = Future {
      val s = scala.collection.mutable.Set(settings)
      while (!calls.isCompleted) s += settings
      s.toSet
    }
    assert(Await.result(calls, 5.minutes) === expected)
    assert(Await.result(seen, 1.minute) === Set(own))
  }

  test("endgames collect a snapshot once: later procedures launch no Spark job") {
    val g = randomGraph(60, 150, seed = 31, parts = 3)
    assert(SparkJobs.count(spark)(GraphAlgos.connectedComponents(g)) > 0)
    val src = GraphId.make(VL, 3)
    val later = Seq[(String, () => Unit)](
      "pagerank" -> (() => GraphAlgos.pageRank(g)),
      "sssp" -> (() => GraphAlgos.sssp(g, src)),
      "hits" -> (() => GraphAlgos.hits(g)),
      "ppr" -> (() => GraphAlgos.personalizedPageRank(g, src)),
      "lpa" -> (() => GraphAlgos.labelPropagationDet(g, 3)),
      "kcore" -> (() => GraphAlgos.kCore(g, 2)),
      "walks" -> (() => GraphAlgos.randomWalks(g, 3)),
      "betweenness" -> (() => GraphAlgos.betweenness(g, nSources = 0)),
      "jaccard" -> (() => GraphAlgos.jaccardSimilarity(g)),
      "jaccard_t" -> (() => GraphAlgos.jaccardSimilarity(g, 64, 0.5)),
      "connected_components" -> (() => GraphAlgos.connectedComponents(g)))
    for ((name, call) <- later)
      assert(SparkJobs.count(spark)(call()) === 0, name)
  }

  test("endgame snapshot cache: a MutableGraph write is seen by connected_components") {
    val m = new MutableGraph("cc_cache", spark)
    graft.cypher.Cypher.execute(spark, m,
      "UNWIND range(1, 4) AS i CREATE (:N {i: i})-[:R]->(:N {i: i + 10})")
    def components: Long = graft.cypher.Cypher.query(spark, m.snapshot,
        "CALL connected_components() YIELD id, component " +
          "RETURN count(DISTINCT component) AS n")
      .collect().head.getLong(0)
    assert(components === 4L)
    graft.cypher.Cypher.execute(spark, m,
      "MATCH (a:N {i: 11}), (b:N {i: 2}) CREATE (a)-[:R]->(b)")
    assert(components === 3L)
  }

  test("endgame snapshot cache: no endgame mutates the shared arrays") {
    // betweenness sorts the vertex ids; it must sort a copy, or every
    // later endgame on the snapshot reads reordered arrays
    val g = randomGraph(70, 160, seed = 37, parts = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val cc = pairs(GraphAlgos.connectedComponents(g))
    val (v0, s0, d0) = GraphAlgos.collected(g)
    val copies = (v0.clone(), s0.clone(), d0.clone())
    GraphAlgos.betweenness(g, nSources = 0).collect()
    GraphAlgos.randomWalks(g, 3).collect()
    GraphAlgos.hits(g).collect()
    GraphAlgos.pageRank(g).collect()
    GraphAlgos.sssp(g, GraphId.make(VL, 5)).collect()
    val (v1, s1, d1) = GraphAlgos.collected(g)
    assert((v1 eq v0) && (s1 eq s0) && (d1 eq d0), "cache miss on one snapshot")
    assert(v1.sameElements(copies._1) && s1.sameElements(copies._2) &&
      d1.sameElements(copies._3), "cached arrays mutated")
    assert(pairs(GraphAlgos.connectedComponents(g)) === cc)
  }

  test("pagerank and sssp record their path decisions with their gate values") {
    val g = randomGraph(40, 90, seed = 43, parts = 2)
    def decisions(f: => Unit): Seq[String] = {
      GraphAlgos.clearPathDecisions(spark)
      f
      GraphAlgos.recentPathDecisions(spark)
    }
    val pr = decisions(GraphAlgos.pageRank(g))
    assert(pr.exists(d => d.startsWith("pagerank: driver endgame") &&
      d.contains("round bound=")), pr)
    assert(decisions(GraphAlgos.run(
        GraphAlgos.pageRankArms(g, 0.0001, 0.15).copy(rows = Long.MaxValue)))
      .exists(_.startsWith("pagerank: distributed path")))
    assert(decisions(GraphAlgos.sssp(g, GraphId.make(VL, 1)))
      .exists(_.startsWith("sssp: driver endgame")))
    assert(decisions(GraphAlgos.run(
        GraphAlgos.ssspArms(g, GraphId.make(VL, 1)).copy(rows = Long.MaxValue)))
      .exists(_.startsWith("sssp: distributed path")))
    // no provable round bound → the gate fails whatever the budget
    assert(GraphAlgos.pageRankRoundBound(100L, 0.0, 0.15) === -1L)
    assert(GraphAlgos.pageRankRoundBound(100L, 1e-4, 1.0) === -1L)
    assert(GraphAlgos.pageRankRoundBound(100L, 1e-4, 0.0) === -1L)
    // n·resetProb·(1 − resetProb)^k ≤ tol ⇔ k ≥ log(1e-4/15)/log(0.85) ≈ 73.3
    assert(GraphAlgos.pageRankRoundBound(100L, 1e-4, 0.15) === 76L)
  }

  test("kCore satisfies its fixpoint definition and is partition-invariant") {
    val g = randomGraph(100, 260, seed = 11, parts = 3)
    val core = GraphAlgos.kCore(g, 3)
    val rows = core.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // fixpoint: every surviving vertex has within-core degree >= k
    assert(rows.forall(_._2 >= 3L), rows.take(5).toString)
    // self-consistency: recompute within-core degrees from the raw
    // edges restricted to the core; must equal the reported degrees
    val ids = rows.map(_._1).toSet
    val ed = g.allEdges.select("start_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (s, t) => Seq((s, t), (t, s)) }
      .filter { case (s, t) => s != t && ids(s) && ids(t) }
      .distinct
    val deg = ed.groupBy(_._1).map { case (v, xs) => (v, xs.size.toLong) }
    assert(rows.forall { case (v, d) => deg.getOrElse(v, 0L) === d })
    // partition invariance
    val rows2 = GraphAlgos.kCore(randomGraph(100, 260, seed = 11, parts = 17), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(rows === rows2)
  }
}
