package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphAlgos, TpchGraph}
import graft.pipeline.{Dedup, TextOps}

/** Engine-side VALUE checks for the graded queries whose DuckDB oracle
  * cannot finish at 100× (quadratic wedge / iterative CTEs blow the
  * oracle's budget, not the engine's — CORRECTNESS_100x.json r12 named
  * five such skips). Each check grades the query the way scc already
  * is: two INDEPENDENT implementations of the same answer must agree
  * exactly at the probed scale.
  *
  *  - lpa / walks: forced-distributed loop vs the driver-local endgame
  *    kernel (independent code paths; both deterministic by design).
  *  - jaccard (top-10): the full wedge-aggregate plan vs the
  *    prefix-filtered AllPairs plan at t = the 10th value — the prefix
  *    machinery (rank windows, positional/length prune, candidate
  *    verify) shares nothing with the full plan's single aggregate.
  *  - jaccard_t: the prefix path's pair set, restricted to leaves of
  *    one residue class mod k, vs an in-tool brute-force wedge
  *    aggregate over the SAME residue restriction (degrees from the
  *    full graph) — exact per-residue agreement over all k residues
  *    covers a uniform 1/k of the pair space at 1/k of the full plan's
  *    cost (the full plan itself is the §41 output-volume wall).
  *  - curation: the end-to-end pipeline run twice with the duplicate
  *    clustering forced down each of its two independent
  *    implementations (driver union-find vs GraphX pointer-jumping);
  *    kept-set aggregates AND the (id, rep) cluster sets must match.
  *
  * Emits one JSON object to <outPath>: name -> {pass, protocol,
  * detail}. tools/oracle_compare_all.py merges it for skipped-oracle
  * names (the merged rows carry `checked_by` so a reader can tell an
  * engine dual-path grade from a DuckDB grade).
  *
  * Usage: runMain graft.tools.ValueAgree <sfDir> <outPath> [check...]
  */
object ValueAgree {
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val only = args.drop(2).toSet
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.checkpoint.compress", "true")
      // reclaim dead shuffle files promptly (see IterScale — a big
      // probe heap GCs too rarely for the ContextCleaner otherwise)
      .config("spark.cleaner.periodicGC.interval", "90s")
      // the local arms COLLECT the graph (primitive-array kernels); at
      // 100× that is ~137M edge rows — raise the result-size limit so
      // the collects fit (this is the evidence run's whole point;
      // graded runs keep the 1g default and its conservative budgets)
      .config("spark.driver.maxResultSize", "64g")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val results = scala.collection.mutable.LinkedHashMap.empty[
      String, (Boolean, String, String)]
    def record(name: String, pass: Boolean, protocol: String, detail: String)
        : Unit = {
      results(name) = (pass, protocol, detail)
      println(s"[agree] $name ${if (pass) "PASS" else "FAIL"} — $detail")
      val json = results.map { case (n, (p, pr, d)) =>
        s"${jstr(n)}: {\"pass\": $p, \"protocol\": ${jstr(pr)}, " +
          s"\"detail\": ${jstr(d)}}"
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    }
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[agree] $name took ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    def g = TpchGraph(spark, sfDir)

    if (only.isEmpty || only("lpa")) timed("lpa") {
      // the graded cy_call_lpa runs 3 deterministic vote rounds; both
      // arms must emit the IDENTICAL (id, community) set
      val arms = GraphAlgos.labelPropagationArms(g, 3)
      val (dist, end) = (arms.distributed(), arms.localFrame())
      val diff = dist.union(end).except(dist.intersect(end)).count()
      record("cy_call_lpa", diff == 0L,
        "engine dual-path agreement: distributed vote loop vs " +
          "driver-endgame CSR kernel (both deterministic)",
        s"disagreement_rows=$diff over ${dist.count()} labels")
    }

    if (only.isEmpty || only("walks")) timed("walks") {
      val arms = GraphAlgos.randomWalksArms(g, 4, "walk")
      val (dist, end) = (arms.distributed(), arms.localFrame())
      val diff = dist.union(end).except(dist.intersect(end)).count()
      record("cy_call_walks", diff == 0L,
        "engine dual-path agreement: distributed hash-choice walk vs " +
          "driver-endgame replay (bit-equal by construction)",
        s"disagreement_rows=$diff over ${dist.count()} walkers")
    }

    if (only.isEmpty || only("jaccard")) timed("jaccard") {
      // graded query: top-10 by (jaccard DESC, id_a, id_b). Arm A = the
      // full wedge aggregate (streams Σ C(deg,2) pairs into TakeOrdered,
      // never materializing the §41 output). Arm B = the prefix-filtered
      // AllPairs plan at t just below the 10th value — by the lossless
      // prefix lemma it must contain every pair ≥ t; same sort, same 10.
      val full = GraphAlgos.jaccardArms(g, 64, 0.0).distributed()
        .orderBy(desc("jaccard"), col("id_a"), col("id_b")).limit(10)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            math.rint(r.getDouble(3) * 1e6))).toSeq
      val t10 = full.map(_._4).min / 1e6
      val pref = GraphAlgos.jaccardArms(g, 64, math.max(1e-9, t10 - 1e-6))
          .distributed()
        .orderBy(desc("jaccard"), col("id_a"), col("id_b")).limit(10)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            math.rint(r.getDouble(3) * 1e6))).toSeq
      record("cy_call_jaccard", full == pref,
        "engine dual-path agreement: full wedge-aggregate top-10 vs " +
          "prefix-filtered AllPairs plan at t = 10th value",
        s"t10=$t10 full=${full.take(3)}... prefix=${pref.take(3)}...")
    }

    if (only.isEmpty || only("jaccard_t")) timed("jaccard_t") {
      // prefix-path result (the graded plan) vs an in-tool brute-force
      // wedge aggregate, both restricted to leaf-pairs within one
      // residue class mod k; all k residues together cover exactly the
      // pairs with id_a ≡ id_b (mod k) — a uniform 1/k of the space —
      // at ~1/k of the full plan's §41-walled cost. Degrees and wedges
      // come from the FULL graph in both arms; only the pair space is
      // restricted.
      val k = 4
      val t = 0.5
      val graded = GraphAlgos.jaccardArms(g, 64, t).distributed()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nAll = graded.count()
      // independent brute force, built here from the raw edge frame
      val ed = g.allEdges.select(col("start_id").as("src"), col("end_id").as("dst"))
      val und = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val mids = und.join(deg.filter(col("deg") <= 64), col("src") === col("v"))
        .select(col("src").as("mid"), col("dst").as("leaf"))
        .join(deg.select(col("v").as("leaf"), col("deg").as("ldeg")), Seq("leaf"))
      var bad = 0L
      var checked = 0L
      for (r <- 0 until k) {
        val m = mids.filter(pmod(col("leaf"), lit(k)) === r)
        val brute = m.as("x").join(m.as("y"), col("x.mid") === col("y.mid"))
          .filter(col("x.leaf") < col("y.leaf"))
          .groupBy(col("x.leaf").as("id_a"), col("y.leaf").as("id_b"))
          .agg(count(lit(1)).as("common"),
            min(col("x.ldeg")).as("da"), min(col("y.ldeg")).as("db"))
          .select(col("id_a"), col("id_b"), col("common"),
            (col("common") / (col("da") + col("db") - col("common")))
              .as("jaccard"))
          .filter(col("jaccard") >= t)
          .select(col("id_a"), col("id_b"), col("common"),
            round(col("jaccard"), 9).as("j"))
        val fromGraded = graded
          .filter(pmod(col("id_a"), lit(k)) === r &&
            pmod(col("id_b"), lit(k)) === r)
          .select(col("id_a"), col("id_b"), col("common"),
            round(col("jaccard"), 9).as("j"))
        val diff = brute.union(fromGraded)
          .except(brute.intersect(fromGraded)).count()
        val n = fromGraded.count()
        checked += n
        bad += diff
        println(s"[agree] jaccard_t residue $r/$k: $n pairs, diff=$diff")
      }
      und.unpersist(false)
      graded.unpersist(false)
      record("cy_call_jaccard_t", bad == 0L,
        s"engine dual-path agreement: prefix-filtered plan vs in-tool " +
          s"brute-force wedge aggregate on all $k residue classes mod $k " +
          "(uniform 1/k of the pair space, exact values)",
        s"checked_pairs=$checked of $nAll, disagreement_rows=$bad")
    }

    if (only.isEmpty || only("curation")) timed("curation") {
      // p_curation with its duplicate clustering forced down each of
      // dupClusters' two independent implementations; the kept-set
      // aggregates and the (id, rep) assignments must both match
      def run(forceLocal: Boolean): (Seq[(Long, Long)], (Long, Long)) = {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val filtered = docs
          .filter(TextOps.langId(col("text")) === "en")
          .filter(TextOps.tokenCount(col("text")) >= 10)
        val exact = Dedup.dedupExact(filtered, "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pairs = Dedup.minhashLsh(exact, "text", "doc_id",
          shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3)
        val arms = Dedup.dupClustersArms(
          pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val clusters = (if (forceLocal) arms.localFrame() else arms.distributed())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cl = clusters.collect().map(x => (x.getLong(0), x.getLong(1)))
          .sortBy(identity).toSeq
        val dropIds = clusters.filter(col("id") =!= col("rep"))
          .select(col("id").as("doc_id"))
        val kept = exact.join(dropIds, Seq("doc_id"), "left_anti")
        val aggRow = kept.agg(count(lit(1)),
          sum(TextOps.tokenCount(col("text")).cast("long"))).collect()(0)
        val agg = (aggRow.getLong(0), aggRow.getLong(1))
        clusters.unpersist(false)
        exact.unpersist(false)
        (cl, agg)
      }
      val (clA, aggA) = run(forceLocal = true)
      val (clB, aggB) = run(forceLocal = false)
      record("p_curation", clA == clB && aggA == aggB,
        "engine dual-path agreement: duplicate clustering via driver " +
          "union-find vs GraphX pointer-jumping, full pipeline re-run " +
          "on each; cluster sets and kept-corpus aggregates compared",
        s"clusters=${clA.size}/${clB.size} aggA=$aggA aggB=$aggB")
    }

    println(s"[agree] wrote $outPath: " +
      results.map { case (n, (p, _, _)) => s"$n=${if (p) "PASS" else "FAIL"}" }
        .mkString(", "))
    spark.stop()
  }
}
