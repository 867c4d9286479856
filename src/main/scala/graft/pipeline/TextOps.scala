package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  * All pure built-in-function column expressions — codegen'd, fully
  * distributed, no UDFs; each scales linearly with a parquet scan.
  */
object TextOps {

  /** 60-bit portable hash: identical in Spark and DuckDB/ANSI SQL, so
    * hash-dependent operators (simhash, minhash) can be graded against a
    * SQL oracle. Spark: `conv(substr(md5(s),1,15),16,10)::long`;
    * DuckDB: `CAST('0x' || substr(md5(s),1,15) AS BIGINT)`. 15 hex chars
    * = 60 bits, always positive, overflow-free in both engines. */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** The same 60-bit hash computed driver-side — for deriving literal
    * constants (hyperplane signs, minhash coefficients) that are embedded
    * identically in the Spark plan and the oracle SQL, and for the
    * driver-local walk endgame's per-step choices. The first 15 hex
    * chars of the digest are its first 60 bits, i.e. the big-endian
    * first 8 bytes shifted right by one nibble — computed numerically
    * (hex-string formatting per call made this ~15 µs; the endgame
    * calls it once per walker per step). */
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def md5Long(s: String): Long = {
    val md = md5Pool.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var x = 0L
    var i = 0
    while (i < 8) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x >>> 4
  }

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** Normalize: lowercase + collapse whitespace runs to single spaces. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Content fingerprint of the normalized text (exact-dup key that is
    * robust to case/whitespace variation). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Type-token ratio: distinct tokens / total tokens, rounded. */
  def typeTokenRatio(text: Column): Column =
    round(size(array_distinct(tokens(text))).cast(DoubleType) /
      size(tokens(text)).cast(DoubleType), 4)

  /** Quality heuristics per document: length, token stats, ratios. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_m", length(t).cast(LongType))
      .withColumn("n_tokens", tokenCount(t).cast(LongType))
      .withColumn("avg_token_len",
        round(length(regexp_replace(t, "\\s+", "")).cast(DoubleType) /
          greatest(col("n_tokens"), lit(1L)).cast(DoubleType), 4))
      .withColumn("ttr", typeTokenRatio(t))
      .withColumn("alpha_ratio",
        round(length(regexp_replace(t, "[^A-Za-z]", "")).cast(DoubleType) /
          greatest(length(t), lit(1)).cast(DoubleType), 4))
  }

  /** Marker-word language ID heuristic (n-gram-style cues). Returns
    * 'en'/'fr'/'de'/'es'/'und'. Deliberately expressible in portable SQL
    * so the oracle can replicate it exactly. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    when(padded.contains(" the ") || padded.contains(" and ") || padded.contains(" of "), "en")
      .when(padded.contains(" le ") || padded.contains(" la ") || padded.contains(" et "), "fr")
      .when(padded.contains(" der ") || padded.contains(" und ") || padded.contains(" die "), "de")
      .when(padded.contains(" el ") || padded.contains(" los ") || padded.contains(" y "), "es")
      .otherwise("und")
  }

  /** (id, shingle) rows — the scale path for shingling. The tokenizer
    * runs ONCE per document behind a round-robin shuffle barrier; the
    * barrier stops CollapseProject from inlining `split` into the
    * per-position slice lambda (which would re-tokenize per shingle,
    * O(len²) per doc). Round-robin also rebalances doc-length skew
    * before the explode fans out. 4× faster than the previous
    * window-lead formulation (no per-doc sort, one fewer window pass).
    * Documents shorter than k tokens contribute their whole text as a
    * single shingle. */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val t = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
      .repartition(parts)
    val n = size(col("__toks"))
    t.select(col("__id"), explode(
      when(n < k, array(concat_ws(" ", col("__toks"))))
        .otherwise(transform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(k)))))).as("__sh"))
  }

  /** (id, hash) rows of the document's k-token shingles — [[shingleRows]]
    * with the 60-bit portable hash (the same md5 scheme every oracle
    * replays) in place of the shingle TEXT, via the fused native kernel
    * (MinhashExpressions.shingleHashes: one per-row pass, n < k
    * single-shingle case included). Every downstream distinct/join/count
    * then keys on an 8-byte long instead of a ~25-char string — the
    * p_containment discipline (guide §2.3/§4.2) — and the per-shingle
    * concat_ws string build disappears from the scan stage. Hash
    * equality ≡ text equality barring a 2^-60 md5-prefix collision
    * (disclosed, deterministic, and identical in the DuckDB replay).
    * That is per pair; over N distinct shingles the birthday bound
    * puts the chance of ANY collision at ~N²/2^61 — negligible at
    * bench scale, ~0.4 expected colliding pairs at N = 10^9. */
  def shingleHashRows(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val t = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
      .repartition(parts)
    t.select(col("__id"), explode(
      graft.functions.MinhashExpressions.shingleHashes(col("__toks"), k)).as("__sh"))
  }

  /** Document frequency per token — the inverted-index-style corpus
    * statistic behind stopword discovery, vocabulary pruning and IDF
    * weighting. One explode of the per-doc DISTINCT token set, one
    * count shuffle; scales as a parquet scan + single aggregation. */
  def docFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))

  /** Per-(document, token) term frequencies plus the document's token
    * count: one explode + one groupBy — the map-side-combinable shape
    * (Spark's partial aggregation collapses each partition's token
    * stream before the shuffle, so the exchange carries (doc, token)
    * partial counts, not raw tokens). Substrate for TF-IDF. */
  def termFrequencies(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__toks"))
      .select(col("__id"), size(col("__toks")).as("n"), explode(col("__toks")).as("token"))
      .groupBy("__id", "token")
      .agg(max(col("n")).as("n"), count(lit(1)).as("tf"))
      .withColumnRenamed("__id", idCol)

  /** The corpus's `k` most frequent tokens with their total counts
    * (ties broken by token text) — a BOUNDED vocabulary, collected to
    * the driver like the IVF codebook so downstream scoring can embed
    * it as a plan literal and run shuffle-free. One explode + one
    * map-side-combined count shuffle + a TakeOrdered, at any corpus
    * size. */
  def topVocabulary(df: DataFrame, textCol: String, k: Int): Seq[(String, Long)] =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1)))

  /** Unigram-LM familiarity score of a document against a bounded
    * vocabulary: mean corpus-frequency of its tokens (out-of-vocabulary
    * tokens contribute 0). Rare-vocabulary gibberish scores low, stopword
    * soup scores high — the deterministic cousin of the CCNet-style
    * "score each document under a corpus LM" quality gate. The token
    * counts sum in EXACT integer arithmetic with one final division, so
    * the score is reproducible bit-for-bit in any engine regardless of
    * evaluation order — no transcendental log-prob whose last ulp
    * differs between libm implementations. The vocabulary rides in the
    * plan as ONE reference object (graft.functions.VocabRef, a
    * UTF8String-keyed hash map) and scoring is a native codegen'd
    * hash-lookup loop (VocabScoreSum) — no join, no shuffle, O(tokens)
    * per document. The earlier map-literal + `aggregate` HOF form was
    * semantically identical but did a LINEAR K-entry scan per token in
    * interpreted lambdas. */
  def familiarity(text: Column, vocab: Seq[(String, Long)]): Column = {
    val toks = tokens(text)
    val total = graft.functions.VocabExpressions.vocabScoreSum(
      toks, new graft.functions.VocabRef(vocab))
    total.cast(DoubleType) / size(toks).cast(DoubleType)
  }

  /** Redact PII-ish spans (emails, long digit runs) — the shape of a
    * scrubbing pass over a training corpus. Patterns restricted to
    * syntax shared by Java regex and RE2 so a SQL oracle replicates the
    * output byte-for-byte. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Rolling-hash document shingle fingerprints: k-token shingles of the
    * document, each hashed — the substrate for n-gram Jaccard and
    * MinHash. Returns array<string> of shingle texts. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), n - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Count of the most frequent token in the document — the Gopher-style
    * "top word fraction" repetition signal's numerator. Computed as the
    * longest equal run of the SORTED token array with a single
    * `aggregate` HOF pass: O(n log n) per document, entirely inside
    * whole-stage codegen, no explode/groupBy shuffle (the naive
    * per-(doc,token) count would shuffle the whole corpus's token
    * stream). */
  def topTokenCount(text: Column): Column = {
    val sorted = array_sort(tokens(text))
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Fraction of repeated 2-grams: 1 - distinct_bigrams/total_bigrams
    * (Gopher "duplicate n-gram fraction" family). Null for documents with
    * fewer than 2 tokens. One codegen'd array pass per document. */
  def dupBigramFraction(text: Column): Column = {
    val bg = shingles(text, 2)
    when(size(tokens(text)) < 2, lit(null).cast(DoubleType))
      .otherwise(lit(1.0) -
        size(array_distinct(bg)).cast(DoubleType) / size(bg).cast(DoubleType))
  }

  /** DSIR-style importance scores for data selection (Xie et al. 2023,
    * arXiv:2302.03169): rank corpus documents by how target-like their
    * token distribution is. `isTarget` marks the target domain; each
    * vocabulary token gets an integer affinity
    * floor(10⁶ · target_count / corpus_count), and a document scores
    * the floored mean affinity of its token stream — all exact integer
    * arithmetic (the floor of a correctly-rounded division of exact
    * ints is unambiguous by a 1/count ≫ ulp margin), so selection is
    * reproducible and SQL-replayable. DSIR proper uses hashed n-gram
    * features; the hash-bucket dial drops in where `tok` is built.
    *
    * Scale shape: ONE token-keyed map-side-combined aggregation builds
    * the vocabulary (target and corpus counts in the same pass), one
    * equi-join scores the stream, one doc-keyed aggregation reduces it
    * — no per-document state, no driver collection. */
  def importanceScores(
      df: DataFrame, textCol: String, idCol: String,
      isTarget: Column): DataFrame = {
    val toks = df.select(col(idCol), isTarget.as("__t"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("bc"),
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("tc"))
      .select(col("tok"),
        floor(col("tc") * lit(1000000L) / col("bc")).cast(LongType).as("aff"))
    toks.join(vocab, "tok")
      .groupBy(col(idCol))
      .agg(floor(sum(col("aff")) / count(lit(1))).cast(LongType).as("score"))
  }

  /** Corpus-weighted adjacent character-pair counts within words — the
    * statistic a BPE tokenizer trainer maximizes at each merge step
    * (Sennrich et al. 2016: the first merge is argmax of exactly this
    * table). The classic word-frequency compression applies: the corpus
    * collapses to its distinct lowercased words + occurrence counts
    * FIRST (one map-side-combined groupBy over exploded tokens), then
    * pair generation runs once per DISTINCT word — at 100 TB the pair
    * stage's input is vocabulary-sized, not corpus-sized, and both
    * shuffles carry map-side-combined (key, count) pairs only. */
  /** One row per adjacent token pair (bigram) per document:
    * (idCol, x, y). A single generate from a per-row zip of the token
    * array against its own tail — no join, no window; the exchange (if
    * a downstream groupBy follows) carries map-side-combined pair
    * counts, never raw token streams. */
  def bigramRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("__w")) - 2),
        i => struct(element_at(col("__w"), i + 1).as("x"),
          element_at(col("__w"), i + 2).as("y")))).as("__bg"))
      .select(col(idCol), col("__bg.x").as("x"), col("__bg.y").as("y"))

  /** Corpus-level PMI collocation mining: pointwise mutual information
    * log2(p(x,y) / (p(x)·p(y))) for every adjacent token pair whose
    * count is at least `minFrac` of all bigram occurrences (a RELATIVE
    * floor, so the same query is meaningful at any scale factor).
    * Returns (x, y, cnt, pmi).
    *
    * Scale shape: bigram and unigram counts are each ONE map-side-
    * combined groupBy; the PMI join runs vocab-against-vocab (counts
    * tables, orders of magnitude smaller than the corpus — AQE
    * broadcasts them when small); the corpus itself is scanned twice
    * and never joined. */
  def pmiCollocations(df: DataFrame, textCol: String, minFrac: Double): DataFrame = {
    val bg = bigramRows(df.withColumn("__doc", lit(0)), textCol, "__doc")
      .drop("__doc")
      .groupBy("x", "y").agg(count(lit(1)).as("cnt"))
    val ug = df.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val totB = bg.agg(sum("cnt").as("tb"))
    val totU = ug.agg(sum("c").as("tu"))
    bg.crossJoin(broadcast(totB)).crossJoin(broadcast(totU))
      .filter(col("cnt") >= col("tb") * minFrac)
      .join(ug.select(col("t").as("x"), col("c").as("cx")), Seq("x"))
      .join(ug.select(col("t").as("y"), col("c").as("cy")), Seq("y"))
      .select(col("x"), col("y"), col("cnt"),
        log2((col("cnt") / col("tb")) /
          ((col("cx") / col("tu")) * (col("cy") / col("tu")))).as("pmi"))
  }

  /** Shannon entropy (bits) of the document's token distribution —
    * the information-density quality signal (near-zero for repetitive
    * boilerplate, high for diverse text). Pure per-row higher-order
    * functions over the token array: zero shuffle, linear scan. The
    * fold visits distinct tokens in first-appearance order, so the
    * floating-point sum order is deterministic. */
  def wordEntropy(text: Column): Column = {
    val w = tokens(text)
    val n = size(w).cast(DoubleType)
    val terms = transform(array_distinct(w), t =>
      (size(filter(w, x => x === t)).cast(DoubleType) / n))
    round(-aggregate(terms, lit(0.0),
      (acc, p) => acc + p * log2(p)), 6)
  }

  /** Per-document mean log2 probability under an add-one-smoothed
    * bigram language model trained on the WHOLE corpus — the KenLM-
    * style perplexity-proxy quality score (low = unusual token
    * transitions). Returns (idCol, n_bigrams, mean_logp).
    *
    * logp(x→y) = log2((c(x,y) + 1) / (c(x) + V)), V = vocab size.
    *
    * Scale shape: the model IS two count tables (one map-side-combined
    * groupBy each); scoring joins each document bigram against them on
    * the pair/token key — vocab-sized right sides (broadcast under
    * AQE when small, hash-shuffle otherwise), then ONE per-document
    * aggregate. No iteration, no driver state. */
  def bigramLmScores(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val docBg = bigramRows(df, textCol, idCol)
    val bgc = docBg.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val ugc = df.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cx"))
    val vocab = ugc.agg(count(lit(1)).cast(DoubleType).as("v"))
    docBg
      .join(bgc, Seq("x", "y"))
      .join(ugc.select(col("t").as("x"), col("cx")), Seq("x"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2((col("cxy") + 1) / (col("cx") + col("v")))), 6)
          .as("mean_logp"))
  }

  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val words = df
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    words
      .select(col("wn"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
  }

  /** Okapi BM25 relevance of every document against a FIXED, bounded
    * query term set (Lucene's idf form, ln(1 + (N-df+0.5)/(df+0.5))).
    *
    * Scale shape: the corpus is scanned twice and never joined against
    * itself — (1) one map-side-combined avg/count for (avgdl, N);
    * (2) one explode that filters to the query terms BEFORE the
    * (doc, term) groupBy, so the exchange carries only matching partial
    * counts, never the token stream. Doc frequencies derive from the
    * tiny hit table (≤ |docs|×|terms| rows, grouped to ≤ |terms|) and
    * broadcast back; (avgdl, N) ride as a 1-row broadcast. Per-doc
    * score is one final groupBy over the hit rows.
    *
    * Returns (idCol, n_terms, bm25) for documents matching ≥1 term. */
  def bm25(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms required")
    val toks = df.select(col(idCol).as("__id"),
      tokens(col(textCol)).as("__toks"))
    val stats = toks.agg(
      avg(size(col("__toks"))).as("avgdl"),
      count(lit(1)).cast(DoubleType).as("n_docs"))
    val hits = toks
      .select(col("__id"), size(col("__toks")).cast(DoubleType).as("dl"),
        explode(col("__toks")).as("token"))
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col("__id"), col("token"))
      .agg(count(lit(1)).cast(DoubleType).as("tf"), max(col("dl")).as("dl"))
    val dfreq = hits.groupBy("token")
      .agg(count(lit(1)).cast(DoubleType).as("dfq"))
    hits
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("__contrib",
        log((col("n_docs") - col("dfq") + 0.5) / (col("dfq") + 0.5) + 1.0) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__contrib")).as("bm25"))
      .withColumnRenamed("__id", idCol)
  }
}
