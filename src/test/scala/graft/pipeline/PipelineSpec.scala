package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark dataframes and catalyst optimizer rules"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "short doc")
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id per content") {
    val kept = Dedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L, 3L, 5L))
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keep_id") === 1L)
    assert(groups.head.getAs[Long]("dup_count") === 2L)
  }

  test("minhash LSH finds near-dup and exact-dup pairs, not distinct docs") {
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L))) // near dup: one token differs
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("docFrequency counts documents, not occurrences; redact scrubs spans") {
    val df = TextOps.docFrequency(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(df("the") === 3L) // docs 1, 2, 4 — once each despite repeats
    assert(df("spark") === 1L)
    val red = Seq((1L, "mail me at a.b@x.co or call 1234567 x"))
      .toDF("doc_id", "text")
      .select(TextOps.redact($"text")).as[String].collect().head
    assert(red === "mail me at <EMAIL> or call <NUM> x")
  }

  test("dupClusters: transitive closure merges chained near-dup pairs") {
    // pair graph 1-2, 1-4 (+ possibly 2-4): one cluster rep'd by 1
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
    val clusters = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) === 1L && clusters(2L) === 1L && clusters(4L) === 1L)
    assert(!clusters.contains(3L) && !clusters.contains(5L)) // never paired
    // chain where the detector misses the far pair: closure still merges
    val chain = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val c2 = Dedup.dupClusters(chain).as[(Long, Long)].collect().toMap
    assert(c2 === Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("dupClusters: the driver union-find equals the GraphX path") {
    // random pairs over 60 ids plus chains, duplicate pairs, reversed
    // pairs and a self-pair; the distributed arm runs GraphX
    val rnd = new scala.util.Random(17)
    val random = Seq.fill(40)((rnd.nextInt(60).toLong + 100, rnd.nextInt(60).toLong + 100))
    val chains = (200L until 210L).map(i => (i, i + 1)) ++ Seq((305L, 304L), (304L, 303L))
    val extra = Seq((200L, 201L), (201L, 200L), (150L, 100L), (400L, 400L))
    val pairs = (random ++ chains ++ extra).toDF("id_a", "id_b").repartition(3)
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val local = clusters(Dedup.dupClusters(pairs))
    assert(local === clusters(Dedup.dupClustersArms(pairs).distributed()))
    assert(local.toMap.apply(210L) === 200L && local.toMap.apply(303L) === 303L)
    assert(local.toMap.apply(400L) === 400L)
  }

  test("shingleRows matches array shingles and handles short docs") {
    val rows = TextOps.shingleRows(docs, "text", "doc_id", 3)
      .groupBy("__id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(rows(1L) === 12L) // 14 tokens -> 12 shingles
    assert(rows(5L) === 1L) // shorter than k -> whole text
    val arr = docs.filter($"doc_id" === 1L)
      .select(explode(TextOps.shingles($"text", 3))).count()
    assert(arr === 12L)
  }

  test("simhash: near-dups have small hamming distance, distinct docs large") {
    val sigs = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(4L)) === 0) // identical text
    assert(ham(sigs(1L), sigs(2L)) < 16) // near-dup
    assert(ham(sigs(1L), sigs(3L)) > 16) // unrelated
  }

  test("ngram jaccard ranks near-dup above distinct") {
    val j = Dedup.ngramJaccardAllPairs(docs.filter($"doc_id" <= 3), "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) > 0.7)
    assert(j((1L, 3L)) === 0.0)
  }

  test("ngram jaccard pair-driven form matches all-pairs on its pairs") {
    val sub = docs.filter($"doc_id" <= 4)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val byPairs = Dedup.ngramJaccard(sub, "text", "doc_id", pairs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val all = Dedup.ngramJaccardAllPairs(sub, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(byPairs.keySet === Set((1L, 2L), (1L, 3L), (2L, 4L)))
    byPairs.foreach { case (k, v) => assert(all(k) === v) }
    // the pair-driven plan contains no cartesian/broadcast-nested-loop
    val plan = Dedup.ngramJaccard(sub, "text", "doc_id", pairs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containment catches the asymmetric pair symmetric Jaccard misses") {
    val snippet = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val cdocs = Seq(
      (10L, s"intro words one two three four five $snippet closing words six seven eight nine ten eleven twelve"),
      (11L, snippet), // fully contained in 10
      (12L, "unrelated corpus text about entirely different things with many extra tokens")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(cdocs, "text", "doc_id",
      shingleK = 5, maxShingleDf = 64, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    // the snippet doc is 100% contained in the long doc
    assert(c.keySet === Set((10L, 11L)))
    assert(c((10L, 11L))._2 === 1.0)   // cont_b: all of 11's shingles in 10
    assert(c((10L, 11L))._1 < 0.5)     // cont_a: 10 is NOT contained in 11
    // ...while symmetric Jaccard on the same pair stays below a 0.4 gate
    val j = Dedup.ngramJaccard(cdocs, "text", "doc_id",
      Seq((10L, 11L)).toDF("id_a", "id_b"), shingleK = 5)
      .collect()(0).getDouble(2)
    assert(j < 0.4)
    // candidate generation is the inverted-index join — never all-pairs
    val plan = Dedup.containmentPairs(cdocs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containment df-cap drops stop-shingles: hot shingles generate no pairs") {
    // every doc shares the same hot 5-token prefix; with the cap below
    // the corpus df, that shingle is a stop-shingle and generates no
    // pairs — only the genuinely shared rare run pairs 20/21
    val hot = "common header words repeated everywhere"
    val rare = "unique shared run of tokens here"
    val cdocs = Seq(
      (20L, s"$hot $rare tail one"),
      (21L, s"$hot $rare tail two"),
      (22L, s"$hot something else entirely distinct"),
      (23L, s"$hot another unrelated body of text")
    ).toDF("doc_id", "text")
    val withCap = Dedup.containmentPairs(cdocs, "text", "doc_id",
      shingleK = 5, maxShingleDf = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap === Set((20L, 21L)))
  }

  test("brute-force cosine top-k is exact and ordered") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter($"vec_id" =!= 0), Seq(1.0, 0.0, 0.0), 2)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq === Seq(1L, 2L))
    assert(top.head._2 > 0.99)
  }

  test("importanceScores ranks target-vocabulary docs above background docs") {
    val d = Seq(
      (1L, "alpha beta alpha", true),   // target
      (2L, "gamma delta", false),       // background only
      (3L, "alpha beta", false),        // background doc made of target vocab
      (4L, "gamma gamma delta", false)
    ).toDF("doc_id", "text", "is_en")
    val got = TextOps.importanceScores(d, "text", "doc_id", col("is_en"))
      .as[(Long, Long)].collect().toMap
    // affinities: alpha occurs 3 times, 2 in target → floor(1e6·2/3) =
    // 666666; beta = 500000; gamma/delta = 0
    assert(got(1L) === (666666L * 2 + 500000L) / 3)
    assert(got(3L) === (666666L + 500000L) / 2)
    assert(got(2L) === 0L && got(4L) === 0L)
    assert(got(3L) > got(2L)) // importance, not membership, drives selection
  }

  test("bpePairCounts: corpus-weighted character-pair counts within words") {
    val d = Seq((1L, "aba ab"), (2L, "ABA x")).toDF("doc_id", "text")
    val got = TextOps.bpePairCounts(d, "text")
      .as[(String, Long)].collect().toMap
    // vocabulary: aba ×2 (lowercased), ab ×1; "x" dropped (len < 2)
    // pairs: aba → ab, ba; ab → ab
    assert(got === Map("ab" -> 3L, "ba" -> 2L))
  }

  test("kmeans: one iteration is exact nearest-initial-centroid; partition-invariant") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)), // init centroids
      (2L, Array(1.0f, 0.5f)), (3L, Array(9.0f, 9.5f)),
      (4L, Array(4.9f, 5.0f)), (5L, Array(5.1f, 5.0f))
    ).toDF("vec_id", "embedding")
    val a1 = Clustering.kmeans(vecs, k = 2, iters = 1)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // naive nearest of the two init centroids over quantized micros
    def q(x: Float): Long = math.floor(x.toDouble * 1e6 + 0.5).toLong
    val cents = Seq(Array(q(0.0f), q(0.0f)), Array(q(10.0f), q(10.0f)))
    val raw = Map(0L -> Array(0.0f, 0.0f), 1L -> Array(10.0f, 10.0f),
      2L -> Array(1.0f, 0.5f), 3L -> Array(9.0f, 9.5f),
      4L -> Array(4.9f, 5.0f), 5L -> Array(5.1f, 5.0f))
    for ((id, cl, d) <- a1) {
      val dists = cents.map(c => raw(id).map(q).zip(c)
        .map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(cl === dists.indexOf(dists.min).toLong, s"vec $id")
      assert(d === dists.min, s"vec $id dist")
    }
    // a second Lloyd iteration moves centroids to member means: 4 and 5
    // straddle the midpoint on iteration 1 and stay split — but each
    // remains with the nearer UPDATED centroid, and the assignment is
    // identical under a different input partitioning
    val a3a = Clustering.kmeans(vecs.repartition(2), k = 2, iters = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a3b = Clustering.kmeans(vecs.repartition(7), k = 2, iters = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a3a === a3b)
    assert(a3a.map(_._2) === Seq(0L, 1L, 0L, 1L, 0L, 1L))
  }

  test("kmeans: empty clusters keep their centroid") {
    // k=3 but only two natural groups; the third init centroid (vec 2)
    // captures nothing after the update yet must remain a valid centroid
    val vecs = Seq(
      (0L, Array(0.0f)), (1L, Array(100.0f)), (2L, Array(0.2f)),
      (3L, Array(0.1f)), (4L, Array(99.0f))
    ).toDF("vec_id", "embedding")
    val out = Clustering.kmeans(vecs, k = 3, iters = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.length === 5)
    assert(out.map(_._2).distinct.sorted.forall(c => c >= 0 && c <= 2))
  }

  test("IVF ANN: probed-cell search returns top-k ordered by similarity") {
    val vecs = spark.range(100).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => sin($"id" * 0.1 + i)).as("embedding"))
    val r = Similarity.ivfTopK(vecs.filter($"vec_id" < 2), vecs,
      k = 3, nProbe = 2,
      codebook = Similarity.ivfCodebook(vecs, sampleMod = 10, maxCentroids = 16),
      maxCentroids = 16).collect()
    val perQ = r.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.keySet === Set(0L, 1L))
    perQ.values.foreach { rows =>
      assert(rows.length === 3)
      val sims = rows.map(_.getAs[Double]("sim")).toSeq
      assert(sims === sims.sorted.reverse) // ranked
      assert(sims.head > 0.9) // near neighbors exist in this corpus
    }
    assert(!r.exists(row => row.getAs[Long]("q_id") === row.getAs[Long]("c_id")))
  }

  test("IVF quantizer is bounded and the corpus side never shuffles for assignment") {
    val vecs = spark.range(1000).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => sin($"id" * 0.1 + i)).as("embedding"))
    // the sampled codebook is capped by the id bound no matter the corpus size
    assert(Similarity.ivfCodebook(vecs, sampleMod = 10, maxCentroids = 8).count() <= 8)
    // even a mis-built codebook (the whole corpus) collects at most
    // maxCentroids rows — the limit is in the driver-fetch plan itself
    val df = Similarity.ivfTopK(vecs.filter($"vec_id" < 2), vecs,
      k = 3, nProbe = 2, codebook = vecs, maxCentroids = 4)
    val plan = df.queryExecution.executedPlan.toString
    // quantizer assignment is a per-row projection over literal
    // centroids: the candidate join broadcasts the probe side (never
    // sort-merges the corpus) and the only hash exchange left is the
    // final per-query rank window
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
    assert(df.collect().nonEmpty)
  }

  test("LSH ANN returns plausible neighbors at small scale") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ann = Similarity.lshTopK(e.filter($"vec_id" < 4), e, k = 3, bits = 4, dim = 64)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("c_id")))
  }

  test("embedding near-dup finds planted duplicates, skips distinct") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val dup = e.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000).as("vec_id"),
        transform($"embedding", (x, i) => when(i === 0, x + lit(0.01)).otherwise(x))
          .as("embedding"))
    val pairs = Dedup.embeddingNearDup(e.unionByName(dup), "vec_id", "embedding",
      dim = 64, threshold = 0.99, bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0L until 5L).map(i => (i, i + 1000)).toSet)
  }

  test("multimodal: schema, deterministic features, frame sampling") {
    val assets = Multimodal.syntheticAssets(spark, 8)
    assert(assets.schema.fieldNames.toSeq === Seq("asset_id", "kind", "content", "meta"))
    val decoded = Multimodal.decodePipeline(assets, featureDim = 4)
    val feats = decoded.orderBy("asset_id").collect()
      .map(r => r.getAs[scala.collection.Seq[Double]]("features"))
    assert(feats.length === 8)
    assert(feats.forall(f => f.length === 4 && f.forall(x => x >= 0.0 && x < 1.0)))
    // determinism: same input -> same features
    val again = Multimodal.decodePipeline(assets, featureDim = 4).orderBy("asset_id")
      .collect().map(_.getAs[scala.collection.Seq[Double]]("features"))
    assert(feats.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // frame sampling cardinality follows duration
    val frames = Multimodal.sampleFrames(assets, everyMs = 10000)
    val perAsset = frames.groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val durations = assets.select("asset_id", "meta.duration_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    perAsset.foreach { case (id, n) =>
      assert(n === durations(id) / 10000 + 1)
    }
  }

  test("text quality and language id") {
    val q = TextOps.qualityScore(docs).filter($"doc_id" === 1L).collect().head
    assert(q.getAs[Long]("n_tokens") === 14L)
    val lang = docs.select(TextOps.langId($"text")).as[String].collect()
    assert(lang.take(4).forall(_ == "en"))
  }

  test("topTokenCount = count of most frequent token (sorted run length)") {
    val rows = Seq(
      (1L, "a b a c a b"),   // 'a' ×3
      (2L, "x"),             // single token
      (3L, "t t t t"),       // all same
      (4L, " lead  and trail  ")) // whitespace runs collapse
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.topTokenCount($"text").as("c"))
      .as[(Long, Long)].collect().toMap
    assert(rows === Map(1L -> 3L, 2L -> 1L, 3L -> 4L, 4L -> 1L))
  }

  test("dupBigramFraction: repeated bigrams raise the fraction; short docs null") {
    val f = Seq(
      (1L, "a b a b a b"),  // bigrams: ab ba ab ba ab -> 2 distinct of 5
      (2L, "a b c d"),      // all distinct -> 0.0
      (3L, "solo"))         // < 2 tokens -> null
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.dupBigramFraction($"text").as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(f(1L).get.asInstanceOf[Double] === (1.0 - 2.0 / 5.0))
    assert(f(2L).get.asInstanceOf[Double] === 0.0)
    assert(f(3L).isEmpty)
  }

  test("decontamination flags exactly the docs sharing a 4-gram with the eval set") {
    // doc 107 is "eval" (id % 100 == 7); 1 shares a 4-gram, 2 does not
    val corpus = Seq(
      (107L, "e", "alpha beta gamma delta unique eval tail"),
      (1L, "s", "prefix words alpha beta gamma delta suffix"), // contains eval 4-gram
      (2L, "s", "totally different text with no shared grams here"),
      (3L, "s", "tiny doc")) // < 4 tokens: excluded
      .toDF("doc_id", "source", "text")
    val grams = TextOps.shingleRows(
      corpus.filter(size(split(trim($"text"), "\\s+")) >= 4), "text", "doc_id", 4)
    val evalG = grams.filter($"__id" % 100 === 7).select($"__sh").distinct()
    val flagged = grams.filter($"__id" % 100 =!= 7)
      .join(broadcast(evalG), Seq("__sh"), "left_semi")
      .select($"__id").distinct().as[Long].collect().toSet
    assert(flagged === Set(1L))
  }

  test("semantic dedup drops planted near-dups toward the lowest-id rep, in-cluster only") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val dup = e.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, x + lit(0.01)).otherwise(x)).as("embedding"))
    val cb = Similarity.ivfCodebook(e, sampleMod = 50, maxCentroids = 8)
    val dropped = Similarity.semanticDedup(e.unionByName(dup),
      threshold = 0.99, codebook = cb, maxCentroids = 8).collect()
    // each planted copy is dropped in favor of its (lower-id) source
    assert(dropped.map(r =>
      (r.getAs[Long]("dropped"), r.getAs[Long]("rep"))).toSet ===
      (0L until 5L).map(i => (i + 1000L, i)).toSet)
    // the pristine corpus has no near-dups: nothing dropped
    assert(Similarity.semanticDedup(e, 0.99, cb, 8).count() === 0)
  }

  test("semantic dedup survives zero-norm vectors and never matches them") {
    // a zero vector has no cosine to anything: the quantizer must not
    // crash (round6(NaN) used to throw) and NaN similarity must not
    // count as "above threshold" under NaN-is-largest ordering
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.001, 0.0)), // genuine near-dup of 0
      (2L, Array(0.0, 0.0, 0.0))    // zero norm
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, 0.99,
      vecs.filter($"vec_id" === 0), maxCentroids = 1).collect()
    assert(out.map(r => (r.getAs[Long]("dropped"), r.getAs[Long]("rep"))).toSet
      === Set((1L, 0L)))
  }

  test("semantic dedup pair space is cluster-local (no cartesian/BNLJ in the plan)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.semanticDedup(e, 0.99,
      Similarity.ivfCodebook(e, sampleMod = 50, maxCentroids = 8), 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("term frequencies count per (doc, token) with the doc's token total") {
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val tf = TextOps.termFrequencies(d, "text", "doc_id")
      .as[(Long, String, Int, Long)].collect().toSet
    assert(tf === Set((1L, "a", 3, 2L), (1L, "b", 3, 1L),
      (2L, "a", 2, 1L), (2L, "c", 2, 1L)))
  }

  test("tf-idf ranks a doc's distinctive term above equally-frequent common terms") {
    // in doc 1, 'today' (also in doc 4 only) must outscore 'near'
    // (same in-doc tf, but present in docs 1, 2 and 4)
    val tf = TextOps.termFrequencies(docs.filter($"doc_id" === 1), "text", "doc_id")
    val dfreq = TextOps.docFrequency(docs, "text").withColumnRenamed("df", "dfq")
    val n = docs.count().toDouble
    val scored = tf.join(dfreq, Seq("token"))
      .select($"token", ($"tf".cast("double") / $"n" / $"dfq" * n).as("s"))
      .as[(String, Double)].collect().toMap
    assert(scored("today") > scored("near"))
  }

  test("duplicated spans count docs sharing a k-token span, per-doc distinct") {
    val d = Seq(
      (1L, "one two three four five six"),   // spans: 1-5, 2-6
      (2L, "zz one two three four five yy"), // shares span 1-5 with doc 1
      (3L, "totally different words in here now"),
      (4L, "tiny")                           // < k tokens: whole text, unshared
    ).toDF("doc_id", "text")
    val rows = Dedup.dupSpanStats(d, "text", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L) === ((2L, 1L))) // 2 spans, 1 duplicated
    assert(rows(2L) === ((3L, 1L)))
    assert(rows(3L) === ((2L, 0L)))
    assert(rows(4L) === ((1L, 0L)))
  }

  test("vocabulary familiarity: integer-exact scores, OOV floor, bounded vocab") {
    val d = Seq((1L, "a a b"), (2L, "a zzz"), (3L, "qqq rrr")).toDF("doc_id", "text")
    // full corpus counts: a=3, b=1, zzz=1, qqq=1, rrr=1 — top-2 = a, b
    val vocab = TextOps.topVocabulary(d, "text", 2)
    assert(vocab === Seq(("a", 3L), ("b", 1L)))
    val scores = d.select($"doc_id",
        TextOps.familiarity($"text", vocab).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(scores(1L) === (3 + 3 + 1) / 3.0) // all in-vocab
    assert(scores(2L) === 3.0 / 2.0)         // zzz is OOV -> 0
    assert(scores(3L) === 0.0)               // fully OOV
    // native kernel null semantics: null array -> null, null element -> null
    val vref = new graft.functions.VocabRef(vocab)
    val r = spark.range(1).select(
      graft.functions.VocabExpressions.vocabScoreSum(
        lit(null).cast("array<string>"), vref).as("a"),
      graft.functions.VocabExpressions.vocabScoreSum(
        array(lit("a"), lit(null).cast("string")), vref).as("b"),
      graft.functions.VocabExpressions.vocabScoreSum(
        array().cast("array<string>"), vref).as("c")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) === 0L)
  }
}
