package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.graph.GraphAlgos

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is one hash-shuffle; MinHash-LSH turns the
  * O(n²) near-dup problem into band-bucket equi-joins (shuffle on band
  * signature, candidate pairs only within buckets) — the standard
  * shingle→minhash→band→bucket-join pipeline; SimHash reduces each doc
  * to a 64-bit signature joinable on rotated prefixes. No driver-side
  * loops; everything is DataFrame ops.
  */
object Dedup {

  /** Exact duplicate groups by content hash. Returns one row per
    * duplicated content: (keep_id = min id, dup_count). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Exact dedup: keep the smallest id per distinct content. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("__h")).agg(min(col(idCol)).as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-document cross-corpus duplicated-span statistics — the
    * shuffle-friendly proxy for exact-substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * k-token span of a document is *duplicated* when the same span text
    * occurs in at least one OTHER document. Instead of a suffix array
    * (sequential, memory-bound), the corpus's span multiset goes through
    * one explode + one map-side-combined groupBy keyed on the span —
    * every stage is an equi-shuffle that partitions freely at 100 TB.
    * Returns (id, n_spans, n_dup_spans) over each document's DISTINCT
    * span set; callers derive fractions/filters. */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    // span identity = the fused 60-bit span hash (shingleHashRows), so
    // the distinct + df-count + membership join all key on 8-byte longs
    // instead of span strings — same counts barring a disclosed 2^-60
    // md5-prefix collision per pair (the p_containment discipline,
    // guide §2.3); over N distinct spans the birthday bound is
    // ~N²/2^61 for any collision at all (~0.4 expected pairs at 10^9)
    val sp = TextOps.shingleHashRows(df, textCol, idCol, k)
      .select(col("__id"), col("__sh")).distinct()
    val dup = sp.groupBy("__sh").agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") > 1)
      .select(col("__sh"), lit(1).as("__isdup"))
    sp.join(dup, Seq("__sh"), "left_outer")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_spans"), count(col("__isdup")).as("n_dup_spans"))
  }

  /** Universal-hash coefficients for seed-mixing a base shingle hash:
    * min over the set of ((a*h'+b) mod P) is the classic Carter-Wegman
    * minhash permutation. Constants derive from the portable md5 hash so
    * the SQL oracle embeds the SAME literals; arithmetic stays below
    * 2^62 (h' < P < 2^31), overflow-free in engines that error on
    * BIGINT overflow (DuckDB) and in Java alike. */
  val MinhashP: Long = 2147483647L // 2^31 - 1 (prime)
  def minhashCoef(seed: Int): (Long, Long) = (
    1L + math.floorMod(TextOps.md5Long(s"a$seed"), MinhashP - 1),
    math.floorMod(TextOps.md5Long(s"b$seed"), MinhashP))

  /** One seed-mixed permutation value: (a * (h mod P) + b) mod P. */
  private def seedMix(h: Column, seed: Int): Column =
    seedMixPre(pmod(h, lit(MinhashP)), seed)

  /** [[seedMix]] over an already-mod-P-reduced hash. */
  private def seedMixPre(hp: Column, seed: Int): Column = {
    val (a, b) = minhashCoef(seed)
    pmod(lit(a) * hp + lit(b), lit(MinhashP))
  }

  /** MinHash signature: for each of `numHashes` seeded permutations, min
    * over the doc's shingle hashes. Returns array<long>. */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column = {
    val sh = TextOps.shingles(text, shingleK)
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => seedMix(TextOps.portableHash64(s), seed)))
    }: _*)
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rows` hashes; docs sharing any band bucket are candidates, then
    * exact-Jaccard-verified on their shingle sets.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    * threshold. The band join shuffles on (band index, band hash) —
    * candidate generation never materializes the n² pair space.
    */
  def minhashLsh(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 200): DataFrame = {
    val sigs = sigTable(df, textCol, idCol, shingleK, bands * rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bucketPairs(bandedRows(sigs, bands, rowsPerBand), maxBucketSize)
    verifyPairs(candidates, sigs, sigs, threshold)
  }

  /** Per-document signature table (__id, __set, __n, __mins).
    *
    * ZERO-shuffle signature build: fused native kernels compute each
    * document's shingle-hash array and ALL seed minima in one per-row
    * pass (graft.functions.MinhashKernel) — same md5-derived values the
    * DuckDB oracle replicates bit-for-bit, but the former
    * explode→groupBy path shuffled the whole shingle multiset to
    * assemble signatures; the first shuffle of the LSH pipeline is the
    * (tiny) band-bucket grouping. The round-robin repartition stays:
    * it rebalances doc-length skew before the CPU-heavy hashing. */
  private[graft] def sigTable(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val coefs = (0 until numHashes).map(minhashCoef)
    df.select(col(idCol).as("__id"), TextOps.tokens(col(textCol)).as("__toks"))
      // drop null-text docs up front (the old explode→groupBy path
      // dropped them implicitly); otherwise they co-bucket on null band
      // keys and fan out useless candidate pairs
      .filter(col("__toks").isNotNull)
      .repartition(parts)
      .select(col("__id"),
        graft.functions.MinhashExpressions
          .shingleHashes(col("__toks"), shingleK).as("__hs"))
      .select(col("__id"),
        array_distinct(col("__hs")).as("__set"),
        graft.functions.MinhashExpressions
          .minhashMinima(col("__hs"), coefs, MinhashP).as("__mins"))
      .withColumn("__n", size(col("__set")))
  }

  /** (__id, __band, __bucket) rows of a signature table — the band
    * bucket is the band's minima tuple itself (no re-hash needed:
    * grouping/joining on an array key shuffles exactly like a hashed
    * bucket id). */
  private[graft] def bandedRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      slice(col("__mins"), b * rowsPerBand + 1, rowsPerBand).as(s"__b$b")
    }
    sigs.select(col("__id") +: bandCols: _*)
      .select(col("__id"),
        posexplode(array((0 until bands).map(b => col(s"__b$b")): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
  }

  /** Candidate pairs generated INSIDE each band bucket with array HOFs —
    * one groupBy shuffle, no self-join, no window. Over-full buckets
    * are non-discriminative and dropped wholesale (the reference caps
    * analogous result growth, age_vle.c:3215); pair fan-out is bounded
    * by maxBucketSize². */
  private[graft] def bucketPairs(banded: DataFrame, maxBucketSize: Int): DataFrame =
    banded.groupBy("__band", "__bucket")
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize))
      .select(explode(filter(
        flatten(transform(col("__ids"),
          a => transform(col("__ids"), b => struct(a.as("id_a"), b.as("id_b"))))),
        p => p.getField("id_a") < p.getField("id_b"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct() // same pair may collide in several bands

  /** Exact Jaccard on the per-doc shingle sets: two joins against the
    * signature tables (one per pair side), intersection computed in-row
    * — no post-join re-aggregation. */
  private[graft] def verifyPairs(candidates: DataFrame,
      sigsA: DataFrame, sigsB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sigsA.select(col("__id").as("id_a"), col("__set").as("__sa"),
        col("__n").as("__na")), Seq("id_a"))
      .join(sigsB.select(col("__id").as("id_b"), col("__set").as("__sb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast(DoubleType) /
          (col("__na") + col("__nb") - col("__inter")).cast(DoubleType), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Duplicate clusters over a near-dup pair frame (id_a, id_b): the
    * connected components of the pair graph as (id, rep), rep = smallest
    * id in the component — the "keep one document per cluster" decision
    * at corpus scale. Transitive closure matters because near-dup is not
    * transitive (A~B, B~C does not imply the detector paired A,C) yet a
    * dedup pass must keep exactly one of {A,B,C}. A pair frame within
    * the collect budget finishes in the union-find endgame shared with
    * `connected_components` ([[GraphAlgos.ccLocal]]); larger ones run
    * GraphX connectedComponents (pointer-jumping, O(log n) rounds). The
    * pair frame is persisted for the call: one count() materializes it
    * for the gate, and the endgame's collect reads the cache —
    * limit().collect() instead ran CollectLimit's incremental partition
    * waves, re-launching the tail stage of the whole LSH pipeline
    * several times. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try GraphAlgos.run(dupClustersArms(p)) finally p.unpersist(false)
  }

  /** [[dupClusters]]' two arms; `rows` is the pair count (one job). */
  private[graft] def dupClustersArms(pairs: DataFrame): GraphAlgos.Endgame[(Long, Long)] = {
    import org.apache.spark.graphx.{Edge, Graph => XGraph}
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
    val n = p.count()
    // union-find over the CSR of ≤ 2n endpoints and 2n adjacency rows
    GraphAlgos.Endgame(spark, "dup_clusters", Seq("id", "rep"), n, () => 4L * n, "",
      () => {
        val local = p.collect()
        val a = local.map(_.getLong(0))
        val b = local.map(_.getLong(1))
        GraphAlgos.ccLocal(
          new GraphAlgos.LocalCsr(GraphAlgos.closeVerts(Array.empty, a, b), a, b))
      },
      () => {
        val es = p.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 0L))
        XGraph.fromEdges(es, 0L).connectedComponents().vertices
          .map { case (id, comp) => (id, comp) }.toDF("id", "rep")
      })
  }

  /** Exact n-gram Jaccard similarity for the given candidate pairs
    * (`pairs` must have `id_a`, `id_b` columns). Two hash equi-joins
    * against the shingle table — never an all-pairs product. This is
    * the scale path: candidates come from [[minhashLsh]] / [[simhash]]
    * band buckets (or any bounded generator), and each join shuffles on
    * the id key only. */
  def ngramJaccard(
      df: DataFrame, textCol: String, idCol: String, pairs: DataFrame,
      shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("__id"),
      TextOps.shingles(col(textCol), shingleK).as("__sh"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("__sh_a"), col("__sh_b"))).cast(DoubleType) /
          size(array_union(col("__sh_a"), col("__sh_b"))).cast(DoubleType), 4)
          .as("jaccard"))
  }

  /** All-pairs [[ngramJaccard]] — quadratic by construction, for tests
    * and small bounded frames only; the public API is pair-driven. */
  private[graft] def ngramJaccardAllPairs(
      df: DataFrame, textCol: String, idCol: String, shingleK: Int = 3): DataFrame = {
    val ids = df.select(col(idCol).as("id_a"))
    val ids2 = df.select(col(idCol).as("id_b"))
    ngramJaccard(df, textCol, idCol,
      ids.crossJoin(ids2).filter(col("id_a") < col("id_b")), shingleK)
  }

  /** Asymmetric shingle-containment near-dup pairs: containment
    * |A∩B| / |A| flags a short document whose content sits inside a
    * longer one — the duplication shape symmetric MinHash-Jaccard
    * structurally misses (|A∩B| / |A∪B| stays low when sizes differ).
    *
    * Candidate generation is an inverted-index equi-join on the shingle
    * text with a doc-frequency cap: shingles in more than `maxShingleDf`
    * documents are stop-shingles (dropped — they contribute O(df²)
    * pairs and no signal) and singletons cannot pair, so the pair space
    * is bounded by Σ C(df, 2) over the RARE shingles — never all-pairs,
    * and every stage is an equi-shuffle on the shingle or the pair key.
    * The tokenizer runs once per doc behind the round-robin barrier
    * (see TextOps.shingleRows); per-doc distinct-shingle sizes ride the
    * exploded rows, so the pair aggregate needs no sizes join; the
    * self-join's two sides are identical subplans, so the shingle-keyed
    * Exchange is computed once and reused.
    *
    * Denominators are the FULL distinct-shingle set sizes, so dropped
    * hot shingles make reported containment a slight underestimate,
    * never an over-call. Returns (id_a, id_b, cont_a, cont_b) with
    * id_a < id_b, keeping pairs where either direction ≥ `threshold`. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, maxShingleDf: Int = 64,
      threshold: Double = 0.4): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val t = df.select(col(idCol).as("__id"), TextOps.tokens(col(textCol)).as("__toks"))
      .repartition(parts)
    // join/shuffle/sort on the 60-bit portable shingle hash, not the
    // shingle text — 8-byte keys through every exchange instead of
    // ~25-char strings (collisions are 2^-60-negligible, and the hash
    // is the same md5 scheme the oracle replays bit-for-bit). The
    // shingle+hash pass runs through the fused native kernel
    // (MinhashExpressions.shingleHashes — one per-row pass, identical
    // values): the former concat_ws/slice/transform + hex-string md5
    // chain was the corpus pipeline's dominant CPU, measured 3.2 s per
    // pass at sf0.1 (×2 concurrent passes) vs ~1 s fused. Distinctness
    // moves from shingle text to shingle hash — the same set barring a
    // within-document 2^-60 collision, and every downstream count
    // already keys on the hash.
    val sets = t.select(col("__id"),
      array_distinct(graft.functions.MinhashExpressions
        .shingleHashes(col("__toks"), shingleK)).as("__s"))
    // NOT persisted: the df-cap aggregate and the two self-join sides
    // recompute the tokenize→shingle→hash pipeline, but they run
    // CONCURRENTLY on otherwise-idle cores — an eager
    // persist+materialize serializes them and measured 15% SLOWER at
    // sf0.1; at cluster scale AQE stage reuse dedupes the identical
    // exchange subplans anyway
    val ex = sets.select(col("__id"), size(col("__s")).as("__n"),
        explode(col("__s")).as("__sg"))
    val pairable = ex.groupBy("__sg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxShingleDf)
      .select(col("__sg"))
    val f = ex.join(pairable, Seq("__sg"))
    val pairs = f.as("a").join(f.as("b"),
        col("a.__sg") === col("b.__sg") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("a.__n").as("__na"),
        col("b.__id").as("id_b"), col("b.__n").as("__nb"))
      .agg(count(lit(1)).as("__shared"))
    pairs.select(col("id_a"), col("id_b"),
        round(col("__shared").cast(DoubleType) / col("__na"), 4).as("cont_a"),
        round(col("__shared").cast(DoubleType) / col("__nb"), 4).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /** Signature width of [[simhash]]: the portable hash yields 60
    * meaningful bits (15 hex chars of md5). */
  val SimhashBits: Int = 60

  /** SimHash: 60-bit signature; bit b is the sign of the sum over tokens
    * of ±1 weighted by bit b of the token hash. Near-dups differ in few
    * bits (Hamming distance). Pure HOF pipeline, no UDF; the token hash
    * is the portable md5 scheme so a SQL oracle reproduces signatures
    * exactly. */
  def simhash(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val hashes = transform(toks, t => TextOps.portableHash64(t))
    // all 60 bit counters in ONE fused array pass (native codegen'd
    // expression) — the per-bit aggregate() formulation traversed the
    // hash array 60 times per document through interpreted HOF lambdas
    graft.functions.VectorExpressions.simhashSignature(hashes, SimhashBits)
  }

  /** Hamming distance between two simhash signatures. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-duplicate pairs: bucket by random-hyperplane
    * signature (candidates only collide within a bucket — never the n²
    * pair space), then exact-cosine-verify. Returns (id_a, id_b, sim)
    * with id_a < id_b and sim >= threshold.
    *
    * Band-OR amplification: `bands` independent plane families; a pair
    * is a candidate when ANY family's full signature matches. A true
    * near-dup (tiny angle) flips a given plane with probability θ/π, so
    * the chance that EVERY band has a flipped plane — the only way a
    * near-dup is missed — vanishes exponentially in `bands`. Raise
    * `bits` for tighter buckets at scale. */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, bits: Int = 16, bands: Int = 2): DataFrame = {
    val sigd = df.select(Seq(col(idCol).as("__id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__v")) ++
      (0 until bands).map(b =>
        Similarity.rhpSignature(col(vecCol).cast(ArrayType(DoubleType)),
          bits, dim, planeSeed = b + 1).as(s"__sig$b")): _*)
    val banded = sigd.select(col("__id"), col("__v"),
      posexplode(array((0 until bands).map(b => col(s"__sig$b")): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__sig")
    val l = banded.select(col("__band"), col("__sig"),
      col("__id").as("id_a"), col("__v").as("__va"))
    val r = banded.select(col("__band"), col("__sig"),
      col("__id").as("id_b"), col("__v").as("__vb"))
    l.join(r, Seq("__band", "__sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("__va"), col("__vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }
}
