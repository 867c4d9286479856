package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{EdgeLabel, GraphAlgos, PropertyGraph, TpchGraph, VertexLabel}

/** Scale-evidence harness for the ITERATIVE algorithm family (the r9
  * verdict's top task): times scc (endgame-enabled AND endgame-disabled
  * so the distributed trim → propagate → refine path is measured at
  * bench scale), sampled betweenness, jaccard, wsssp, lpa and random
  * walks on the graph built from a testdata dir — run it once at sf0.1
  * and once at a MakeScaled 10× copy and the wall-factor table for
  * PLANS.md falls out. Mirrors ProfileQueries' measurement protocol
  * (clearCache + gc + settle between runs, median of N).
  *
  * The scc input is the UNCAPPED trade graph (every customer/supplier,
  * an edge c→s per high-quantity 'R' lineitem and s→c per 'A') — the
  * graded sccGraph caps keys at sf-independent constants, which is
  * right for an oracle fixture and wrong for a scale test: here vertex
  * and edge counts must grow with the data.
  *
  * Usage: runMain graft.tools.IterScale <sfDir> [iters=3] [algo...]
  */
object IterScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val only = args.drop(2).toSet
    // task-width knobs for the heap-floor question (§68: the 16 g need
    // is executor BREADTH — 32 concurrent tasks' join/sort working
    // sets — not any single structure): GRAFT_PROBE_MASTER=local[16]
    // halves concurrent tasks at the same heap, GRAFT_TASK_CPUS=2 does
    // the same without changing the partition layout
    val master = sys.env.getOrElse("GRAFT_PROBE_MASTER", "local[32]")
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.task.cpus", sys.env.getOrElse("GRAFT_TASK_CPUS", "1"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // static conf, must precede context start: lz4 on the reliable-
      // checkpoint blocks (betweenness's level pins are packed long
      // rows, ~3-4× smaller compressed — the s64-at-100× disk budget)
      .config("spark.checkpoint.compress", "true")
      // shuffle files are reclaimed only when the driver GCs their
      // dead ShuffleDependency objects (ContextCleaner), and a big
      // probe heap (16 g) can run an HOUR-long iterative algorithm
      // without a single full GC — measured on betweenness s64 at
      // 100×: shuffle debris accrued ~1.2 GB/min toward disk-full
      // while the checkpoint files (the accounted footprint) stayed
      // compact. The default periodic GC (30 min) is tuned for
      // long-lived servers; a probe whose whole life is one algorithm
      // wants it aggressive.
      .config("spark.cleaner.periodicGC.interval", "90s")
      // lz4 the serialized/disk RDD blocks too (persist pins during the
      // count→checkpoint window are packed long rows, ~3-4× smaller)
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

    // uncapped directed trade graph for scc (see Scaladoc)
    def tradeGraph(): PropertyGraph = {
      val stride = 1L << graft.types.GraphId.EntryIdBits
      def gid(labelId: Int, entry: org.apache.spark.sql.Column) =
        lit(labelId.toLong * stride) + entry.cast("long")
      val li = t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_quantity") > 42)
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
      val cv = t("customer").select(gid(TpchGraph.CustomerL, col("c_custkey")).as("id"))
      val sv = t("supplier").select(gid(TpchGraph.SupplierL, col("s_suppkey")).as("id"))
      new PropertyGraph("trade_full",
        Seq(VertexLabel("Customer", TpchGraph.CustomerL, cv),
          VertexLabel("Supplier", TpchGraph.SupplierL, sv)),
        Seq(EdgeLabel("TRADES", 20, ed)))
    }

    val landmark = TpchGraph.CustomerL.toLong * (1L << graft.types.GraphId.EntryIdBits) + 1L

    // build frames lazily per run — TpchGraph caches per dir, so graph
    // construction cost amortizes; each algorithm's frame is fresh
    val algos: Seq[(String, () => DataFrame)] = Seq(
      "scc_endgame" -> (() => GraphAlgos.scc(tradeGraph())),
      "scc_distributed" -> (() => GraphAlgos.scc(tradeGraph(), localRowBudget = 0L)),
      // the distributed arm: this harness times the SCALE path (at
      // sf0.1 the default call now finishes on the driver via the
      // brandesLocal endgame in ~1 s)
      "betweenness_s64" -> (() =>
        GraphAlgos.betweennessArms(TpchGraph(spark, sfDir), 64, 64).distributed()),
      // the default gates: small graphs take the brandesLocal endgame
      "betweenness_s64_auto" -> (() =>
        GraphAlgos.betweenness(TpchGraph(spark, sfDir), nSources = 64)),
      // 8-source variant for the 100× probe: Brandes is Θ(S·E) so s64
      // at 100× is hours of honest frontier work — the cliff question
      // (do the S·V-sized succ/contrib frames survive the derived
      // width?) is answered by ANY S whose per-round frames exceed the
      // s64-at-10× volume, and s8 at 100× is ~1.25× that per round
      "betweenness_s8" -> (() =>
        GraphAlgos.betweennessArms(TpchGraph(spark, sfDir), 8, 64).distributed()),
      "jaccard" -> (() =>
        GraphAlgos.jaccardArms(TpchGraph(spark, sfDir), 64, 0.0).distributed()),
      "jaccard_auto" -> (() =>
        GraphAlgos.jaccardSimilarity(TpchGraph(spark, sfDir), degCap = 64)),
      // prefix-filtered thresholded jaccard: same wedge universe, pair
      // volume bounded by matches — the scale answer to the operator's
      // inherent output-volume wall (§41 second addendum)
      "jaccard_t" -> (() =>
        GraphAlgos.jaccardArms(TpchGraph(spark, sfDir), 64, 0.5).distributed()),
      "jaccard_t_auto" -> (() =>
        GraphAlgos.jaccardSimilarity(TpchGraph(spark, sfDir), degCap = 64,
          threshold = 0.5)),
      // traversal rows (r10 verdict #4): the graded VLE and
      // shortestpath surfaces, timed above bench scale for the first
      // time — frontier pinning and the reverse-seeded unbounded path
      // have spec coverage but no scale table until now
      "vle_bounded" -> (() =>
        graft.cypher.Cypher.query(spark, TpchGraph(spark, sfDir),
          """MATCH (c:Customer)-[e:FROM_NATION|IN_REGION*1..2]->(x)
            |RETURN size(e) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),
      "vle_unbounded" -> (() =>
        graft.cypher.Cypher.query(spark, TpchGraph(spark, sfDir),
          """MATCH (x)-[:FROM_NATION|IN_REGION*]->(r:Region)
            |RETURN r.name AS region, count(*) AS n ORDER BY region""".stripMargin)),
      "shortestpath" -> (() =>
        graft.cypher.Cypher.query(spark, TpchGraph(spark, sfDir),
          """MATCH p = shortestpath((c:Customer)-[:FROM_NATION|IN_REGION*..3]->(r:Region))
            |RETURN length(p) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),
      // CYCLIC traversal stress (r11 verdict #8): the rows above ride
      // the acyclic fact→dimension chain where frontiers are dimension-
      // bounded; the trade graph has c→s AND s→c edges — real cycles —
      // so these exercise the edge-isomorphism dedup (VLE) and the
      // per-depth frontier dedup (shortestpath BFS) where revisits
      // actually happen. Sources are a deterministic ~1/1021 id sample
      // so path volume scales with the DATA (MakeScaled replicas are
      // structurally identical, so rows should grow ~linearly per
      // decade — superlinear wall = a dedup cost cliff).
      "vle_cyclic" -> (() =>
        graft.cypher.Cypher.query(spark, tradeGraph(),
          """MATCH (c:Customer)-[e:TRADES*1..3]->(x)
            |WHERE id(c) % 1021 = 1
            |RETURN size(e) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),
      "sp_cyclic" -> (() =>
        graft.cypher.Cypher.query(spark, tradeGraph(),
          """MATCH p = shortestpath((c:Customer)-[:TRADES*..6]->(s:Supplier))
            |WHERE id(c) % 1021 = 1
            |RETURN length(p) AS hops, count(*) AS n ORDER BY hops""".stripMargin)),
      // each iterative operator twice: the distributed arm (the SCALE
      // path this harness exists to time), and the bare call, which
      // takes the driver-local endgame while the graph fits the
      // collect budget — at 10× it no longer does and both variants
      // time the same distributed path
      "wsssp" -> (() =>
        GraphAlgos.weightedSsspArms(TpchGraph(spark, sfDir), landmark, "quantity", 6)
          .distributed()),
      "wsssp_auto" -> (() =>
        GraphAlgos.weightedSssp(TpchGraph(spark, sfDir), landmark, "quantity", rounds = 6)),
      "lpa" -> (() =>
        GraphAlgos.labelPropagationArms(TpchGraph(spark, sfDir), 3).distributed()),
      "lpa_auto" -> (() =>
        GraphAlgos.labelPropagationDet(TpchGraph(spark, sfDir), 3)),
      "walks" -> (() =>
        GraphAlgos.randomWalksArms(TpchGraph(spark, sfDir), 4, "walk").distributed()),
      "walks_auto" -> (() => GraphAlgos.randomWalks(TpchGraph(spark, sfDir), steps = 4)),
      "hits" -> (() =>
        GraphAlgos.hitsArms(TpchGraph(spark, sfDir), 4).distributed()),
      "hits_auto" -> (() => GraphAlgos.hits(TpchGraph(spark, sfDir), rounds = 4)),
      "kcore" -> (() => GraphAlgos.kCoreArms(TpchGraph(spark, sfDir), 3, 1000).distributed()),
      "kcore_auto" -> (() => GraphAlgos.kCore(TpchGraph(spark, sfDir), 3)),
      "ppr" -> (() =>
        GraphAlgos.pprArms(TpchGraph(spark, sfDir), landmark, 0.15, 4).distributed()),
      "ppr_auto" -> (() =>
        GraphAlgos.personalizedPageRank(TpchGraph(spark, sfDir), landmark, rounds = 4)),
      "cc" -> (() =>
        GraphAlgos.connectedComponentsArms(TpchGraph(spark, sfDir)).distributed()),
      "cc_auto" -> (() => GraphAlgos.connectedComponents(TpchGraph(spark, sfDir))),
      "triangles" -> (() =>
        GraphAlgos.triangleCountArms(TpchGraph(spark, sfDir)).distributed()),
      "triangles_auto" -> (() => GraphAlgos.triangleCount(TpchGraph(spark, sfDir))),
      // the min-relaxation and pagerank rounds (message volume is
      // degree-bounded): timed here so an OOM-class regression at 10×
      // surfaces
      "pagerank" -> (() =>
        GraphAlgos.pageRankArms(TpchGraph(spark, sfDir), 0.0001, 0.15).distributed()),
      "pagerank_auto" -> (() => GraphAlgos.pageRank(TpchGraph(spark, sfDir))),
      "sssp_hops" -> (() =>
        GraphAlgos.ssspArms(TpchGraph(spark, sfDir), landmark).distributed()),
      "sssp_hops_auto" -> (() => GraphAlgos.sssp(TpchGraph(spark, sfDir), landmark)))

    val tg = tradeGraph()
    println(s"[iterscale] dir=$sfDir trade nV=${tg.allVertices.count()} " +
      s"nE=${tg.allEdges.count()} tpch nV=${TpchGraph(spark, sfDir).allVertices.count()} " +
      s"nE=${TpchGraph(spark, sfDir).allEdges.count()}")

    // cross-path agreement check: the driver-local Tarjan endgame and
    // the pure distributed trim/propagate/refine pipeline are
    // independent implementations of the same labeling — any
    // (id, scc) disagreement between them is a bug in one of them
    if (only("scc_agree")) {
      val a = GraphAlgos.scc(tradeGraph())
      val b = GraphAlgos.scc(tradeGraph(), localRowBudget = 0L)
      val diff = a.union(b).except(a.intersect(b)).count()
      println(s"[iterscale] scc_agree disagreement_rows=$diff " +
        s"(${if (diff == 0) "EXACT MATCH" else "MISMATCH"})")
    }

    for ((name, fn) <- algos if only.isEmpty || only(name)) {
      // one untimed warm pass (codegen compile) — skipped in single-shot
      // mode (iters=1, for multi-minute algorithms where JIT warm-up is
      // noise against the measured round work)
      if (iters > 1)
        try fn().count() catch { case e: Throwable => println(s"[iterscale] $name warm FAILED: $e") }
      val times = (1 to iters).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val t0 = System.nanoTime()
        val n = fn().count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val med = times.map(_._1).sorted.apply(times.length / 2)
      val extra =
        if (name.startsWith("scc")) {
          val s = GraphAlgos.lastSccStats
          s" passes=${s.passes} propRounds=${s.propagateRounds} endgame=${s.endgame}"
        } else ""
      println(f"[iterscale] $name%-16s med=$med%8.2f s  " +
        f"(all=${times.map(x => f"${x._1}%.2f").mkString(",")})  rows=${times.head._2}$extra")
    }
    spark.stop()
  }
}
