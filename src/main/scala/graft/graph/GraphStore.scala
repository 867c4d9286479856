package graft.graph

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed graph persistence — the durable analogue of the
  * reference's per-label heap tables + ag_catalog rows (reference:
  * sql/age_main.sql:54-86; table shape label_commands.c:361-420).
  *
  * Layout (one directory per graph):
  * {{{
  *   <path>/_meta/        one-row JSON: name + label catalog
  *   <path>/v_<label>/    vertex label parquet (id, <props...>)
  *   <path>/e_<label>/    edge label parquet (id, start_id, end_id, <props...>)
  * }}}
  *
  * Per-label directories keep the AGE per-label-table model: a
  * label-known scan reads exactly one directory (partition pruning by
  * construction), and property predicates push into each label's
  * parquet footer. At cluster scale these would be Delta tables; the
  * layout and catalog are the same.
  */
object GraphStore {

  /** autoBloom designation bounds: string columns whose measured avg
    * length exceeds [[AutoBloomMaxAvgLen]] chars are free-text payloads
    * (never equality-probed — a bloom there is write amplification
    * only), and at most [[AutoBloomMaxCols]] columns per label carry
    * filters (highest-NDV first). Explicit `bloomProps` bypass both. */
  private[graph] val AutoBloomMaxAvgLen = 64.0
  private[graph] val AutoBloomMaxCols = 8

  /** Write-time auto-designation of bloom-filter columns: the mostly-
    * distinct atomic property columns (ndv ≥ rows/2, label ≥ 1024
    * rows), measured in ONE stats aggregate per label (count +
    * per-candidate approx NDV + avg length for strings — the same scan
    * shape ANALYZE makes later). Free-text strings (avg length >
    * [[AutoBloomMaxAvgLen]]) never serve equality lookups and opt out
    * (r9 ADVICE — a bloom there is pure write amplification), and at
    * most [[AutoBloomMaxCols]] columns designate per label, highest NDV
    * first, bounding the per-row-group filter bytes on wide labels. */
  private[graft] def autoBloomCols(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    bloomDesignation(df, Nil, auto = true).map(_._1)

  /** Full write-time bloom designation with MEASURED NDV per column —
    * one stats scan covering both the auto candidates and the caller's
    * explicit `bloomProps` (whose NDV is measured even when they fail
    * the auto rules: the caller asked, they get a filter). The NDV
    * matters as much as the designation: parquet-mr sizes an
    * NDV-hinted bloom at ~ndv·10 bits but falls back to
    * `parquet.bloom.filter.max.bytes` (1 MB) PER FILE when the hint is
    * absent — measured on the sf0.1 tpch labels, unhinted blooms grew
    * the store 2.6×, hinted ones are KBs (PLANS §38). Returns
    * (column, global NDV); the writer divides by the bucket count for
    * the per-file hint. */
  private[graft] def bloomDesignation(
      df: org.apache.spark.sql.DataFrame, explicit: Seq[String],
      auto: Boolean): Seq[(String, Long)] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val structural = Set("id", "start_id", "end_id", "__z")
    val autoCands =
      if (!auto) Nil
      else df.schema.fields.collect {
        case f if !structural(f.name) && !explicit.contains(f.name) &&
          (f.dataType match {
            case StringType | LongType | IntegerType => true
            case _ => false
          }) => (f.name, f.dataType == StringType)
      }.toSeq
    val exp = explicit.filter(df.schema.fieldNames.contains)
    if (autoCands.isEmpty && exp.isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.{approx_count_distinct, avg, count, length, lit}
      val measured = autoCands.map(_._1) ++ exp
      val aggs = count(lit(1)) +:
        (measured.map(c => approx_count_distinct(PropName.qcol(c))) ++
          autoCands.collect { case (c, true) => avg(length(PropName.qcol(c))) })
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = row.getLong(0)
      val strIdx = autoCands.collect { case (c, true) => c }.zipWithIndex.toMap
      val ndvOf = measured.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap
      val autoPicked = autoCands.zipWithIndex.collect {
        case ((c, isStr), i) if n >= 1024L && row.getLong(i + 1) * 2 >= n &&
          (!isStr || {
            val a = row.get(1 + measured.length + strIdx(c))
            a != null && a.asInstanceOf[Double] <= AutoBloomMaxAvgLen
          }) => (c, row.getLong(i + 1))
      }.sortBy(-_._2).take(AutoBloomMaxCols)
      exp.map(c => (c, ndvOf(c))) ++ autoPicked
    }
  }

  private def metaDf(spark: SparkSession, g: PropertyGraph) = {
    import spark.implicits._
    val v = g.vertexLabels.map(l => (l.name, l.labelId)).toList
    val e = g.edgeLabels.map(l => (l.name, l.labelId)).toList
    Seq((g.name, v, e)).toDF("name", "vertex_labels", "edge_labels")
  }

  def save(g: PropertyGraph, path: String): Unit = {
    val spark = g.vertexLabels.headOption.map(_.df.sparkSession)
      .orElse(g.edgeLabels.headOption.map(_.df.sparkSession))
      .getOrElse(throw new IllegalArgumentException("empty graph"))
    metaDf(spark, g).coalesce(1).write.mode(SaveMode.Overwrite).json(s"$path/_meta")
    for (l <- g.vertexLabels)
      l.df.write.mode(SaveMode.Overwrite).parquet(s"$path/v_${l.name}")
    for (l <- g.edgeLabels)
      l.df.write.mode(SaveMode.Overwrite).parquet(s"$path/e_${l.name}")
  }

  def load(spark: SparkSession, path: String): PropertyGraph = {
    val meta = spark.read.json(s"$path/_meta").collect()(0)
    val name = meta.getAs[String]("name")
    def labels(field: String): Seq[(String, Int)] =
      meta.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](field)
        .toSeq.map(r => (r.getString(0), r.getLong(1).toInt))
    val v = labels("vertex_labels").map { case (n, id) =>
      VertexLabel(n, id, spark.read.parquet(s"$path/v_$n"))
    }
    val e = labels("edge_labels").map { case (n, id) =>
      EdgeLabel(n, id, spark.read.parquet(s"$path/e_$n"))
    }
    new PropertyGraph(name, v, e)
  }

  /** Load into a mutable store (max entry ids recovered from the data —
    * the analogue of sequence state — in one job over every label). */
  def loadMutable(spark: SparkSession, path: String): MutableGraph = {
    val m = MutableGraph.from(load(spark, path), spark)
    m.markClean()
    m
  }

  // ---- bucketed tables (the endpoint-btree analogue) ---------------------
  //
  // Reference users create btree indexes on edge start_id/end_id
  // (regress/sql/index.sql:80+) so pattern joins probe instead of
  // scanning. The Spark-native analogue at 100 TB is CO-BUCKETING:
  // vertices bucketed by id, edges bucketed by start_id, same bucket
  // count — a single-hop pattern join (vertex.id = edge.start_id) is
  // then bucket-local: SortMergeJoin with NO Exchange on either side,
  // converting every cold traversal's double shuffle into a local join.
  // Tables live in the session catalog (swap for Hive/Delta/Iceberg on a
  // cluster; the bucket spec carries over).

  private def tbl(name: String, kind: String, label: String): String =
    (name + "_" + kind + "_" + label).toLowerCase.replaceAll("[^a-z0-9_]", "_")

  /** Morton (Z-order) interleave of quantized column ranks — the
    * multi-column locality layout (Delta's Z-ORDER): sorting files by the
    * interleaved code clusters rows so that row-group min/max stats stay
    * TIGHT on every participating column simultaneously, giving
    * range-predicate skipping on dimensions that do not correlate with
    * any single sort order. Each column is scaled to `bitsPer` bits
    * against its global min/max (one stats pass at write time). */
  private def mortonCol(qs: Seq[(org.apache.spark.sql.Column, Double, Double)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val nCols = qs.size
    val bitsPer = math.min(16, 62 / nCols)
    val maxQ = (1L << bitsPer) - 1
    val ranks = qs.map { case (c, mn, mx) =>
      if (mx <= mn) lit(0L)
      else least(greatest(
        floor((c.cast(DoubleType) - mn) / (mx - mn) * maxQ).cast(LongType),
        lit(0L)), lit(maxQ))
    }
    val terms = for {
      b <- 0 until bitsPer
      (q, i) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * nCols + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Write the graph as bucketed tables (`<graph>_v_<label>` /
    * `<graph>_e_<label>` plus a `<graph>_meta` catalog table). Vertices
    * bucket+sort by `id`, edges by `start_id`. With `analyze` (default),
    * catalog statistics are computed after the write ([[analyzeBucketed]])
    * so CBO sees cardinalities on every read of the stored graph.
    *
    * `bloomProps` designates hot property keys (raw names) that get a
    * per-row-group parquet BLOOM FILTER at write time — the
    * layout-independent analogue of the reference's GIN property index
    * (agtype_gin.c): row-group min/max stats only skip when the
    * predicate column correlates with the file's sort order, while a
    * bloom filter skips row groups for EQUALITY lookups on any
    * designated key regardless of layout. The reader consults the
    * filter automatically (parquet.filter.bloom.enabled, on by
    * default) — no planner change needed.
    *
    * `zorderProps` designates numeric property keys whose MORTON
    * interleave becomes the within-bucket sort order ([[mortonCol]]) —
    * multi-dimensional range skipping when no single sort order fits
    * the workload.
    *
    * `autoBloom` (default ON) removes the "caller must name the hot
    * keys" gap (r8 verdict #6): a one-aggregate write-time stats pass
    * per label measures approx NDV of every atomic string/long/int
    * property column (the same cardinality ANALYZE later stores) and
    * designates the mostly-distinct ones (ndv ≥ rows/2, label ≥ 1024
    * rows; free-text strings and the columns beyond the top-8 by NDV
    * excluded — see [[AutoBloomMaxAvgLen]]) for bloom filters
    * automatically — equality lookups on any
    * such column then skip row groups with zero configuration, which
    * is the arbitrary-key half of the reference's GIN behavior
    * (agtype_gin.c indexes every key unprompted). Low-NDV columns are
    * excluded (a bloom on them rejects nothing); explicit
    * `bloomProps` always unions in. */
  def saveBucketed(g: PropertyGraph, spark: SparkSession, buckets: Int = 32,
      analyze: Boolean = true, bloomProps: Seq[String] = Nil,
      zorderProps: Seq[String] = Nil, autoBloom: Boolean = true): Unit = {
    import spark.implicits._
    def fresh(table: String): Unit = {
      // a table directory can survive a previous session whose in-memory
      // catalog is gone — drop both the entry and the stale location
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table)))
      val f = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(loc)) f.delete(loc, true)
    }
    // designated columns carry BOTH the enable flag and the measured
    // expected-NDV hint scaled to the per-bucket file (global NDV /
    // buckets, floored) — without the hint parquet-mr falls back to a
    // max-size (1 MB) filter per file and the store bloats 2.6×
    def bloomOpts(df: org.apache.spark.sql.DataFrame) =
      bloomDesignation(df, bloomProps.map(PropName.enc), autoBloom)
        .flatMap { case (c, ndv) => Seq(
          s"parquet.bloom.filter.enabled#$c" -> "true",
          s"parquet.bloom.filter.expected.ndv#$c" ->
            math.max(128L, ndv / math.max(1, buckets)).toString)
        }.toMap
    // optional Z-order layout: rows sort within buckets by the Morton
    // interleave of the designated (numeric) property columns instead of
    // the default key order — multi-dimensional row-group skipping at
    // the cost of one min/max stats job per label at write time. The
    // synthetic `__z` column is stored (bucketed sortBy needs a real
    // column) and dropped on load.
    def zprep(df: org.apache.spark.sql.DataFrame, defaultSort: String) = {
      import org.apache.spark.sql.types.NumericType
      val zc = zorderProps.map(PropName.enc).filter(c =>
        df.schema.fieldNames.contains(c) &&
          df.schema(c).dataType.isInstanceOf[NumericType])
      if (zc.isEmpty) (df, defaultSort)
      else {
        import org.apache.spark.sql.functions.{min, max}
        val aggs = zc.flatMap(c => Seq(
          min(PropName.qcol(c)).cast("double"), max(PropName.qcol(c)).cast("double")))
        val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        val qs = zc.zipWithIndex.map { case (c, i) =>
          (PropName.qcol(c), stats.getDouble(2 * i), stats.getDouble(2 * i + 1)) }
        (df.withColumn("__z", mortonCol(qs)), "__z")
      }
    }
    // ONE file per bucket: repartition by the bucket key into exactly
    // `buckets` partitions before the bucketed write. HashPartitioning's
    // partition id is pmod(murmur3(key), n) — the same function bucketed
    // writes assign bucket ids with — so writer task i holds exactly
    // bucket i and emits one file. Without it each input split writes
    // its own file per bucket (measured: a 17 MB edge table landed as
    // 512 ~33 KB files, and every store-backed scan paid ~16× per-file
    // open overhead — guide §6 "small files hurt twice"; the und build
    // of cy_call_jaccard alone re-read those files several times). The
    // save is the untimed one-time materialization; the extra exchange
    // belongs there, not in every read.
    for (l <- g.vertexLabels) {
      val t = tbl(g.name, "v", l.name)
      fresh(t)
      val (wdf, sortCol) = zprep(l.df, "id")
      wdf.repartition(buckets, col("id"))
        .write.format("parquet").options(bloomOpts(l.df))
        .bucketBy(buckets, "id").sortBy(sortCol).saveAsTable(t)
    }
    for (l <- g.edgeLabels) {
      val t = tbl(g.name, "e", l.name)
      fresh(t)
      val (wdf, sortCol) = zprep(l.df, "start_id")
      wdf.repartition(buckets, col("start_id"))
        .write.format("parquet").options(bloomOpts(l.df))
        .bucketBy(buckets, "start_id").sortBy(sortCol).saveAsTable(t)
    }
    val mt = tbl(g.name, "meta", "catalog")
    fresh(mt)
    (g.vertexLabels.map(l => (g.name, "v", l.name, l.labelId)) ++
      g.edgeLabels.map(l => (g.name, "e", l.name, l.labelId)))
      .toDF("name", "kind", "label", "label_id")
      .write.format("parquet").saveAsTable(mt)
    if (analyze) analyzeBucketed(spark, g.name)
  }

  /** ANALYZE for store graphs — the analogue of the reference's
    * `ANALYZE graph."label"` (regress/sql/analyze.sql; AGE relies on PG's
    * planner statistics for scan/join costing). Computes table row counts
    * plus column histograms/NDV for the join keys (`id`, `start_id`,
    * `end_id`) and every atomic-typed property column, so Catalyst CBO
    * (`spark.sql.cbo.enabled`) has real cardinalities when planning over
    * a reloaded graph: filter selectivity shrinks the estimated side and
    * flips SortMergeJoin → BroadcastHashJoin, and join reordering sees
    * true label sizes. At 100 TB this is the difference between a
    * cost-blind and a cost-informed traversal plan on cold data.
    * Variant (struct) columns are skipped — Spark column stats cover
    * atomic types only. */
  def analyzeBucketed(spark: SparkSession, name: String): Unit = {
    val meta = spark.table(tbl(name, "meta", "catalog")).collect().toSeq
    for (r <- meta) {
      val t = tbl(name, r.getAs[String]("kind"), r.getAs[String]("label"))
      spark.sql(s"ANALYZE TABLE `$t` COMPUTE STATISTICS")
      import org.apache.spark.sql.types._
      val statCols = spark.table(t).schema.fields.collect {
        // the types AnalyzeColumnCommand supports — variant/entity
        // structs and arrays are skipped
        case f if (f.dataType match {
          case _: NumericType | StringType | BooleanType | BinaryType |
               DateType | TimestampType => true
          case _ => false
        }) => s"`${f.name}`"
      }
      if (statCols.nonEmpty)
        spark.sql(
          s"ANALYZE TABLE `$t` COMPUTE STATISTICS FOR COLUMNS ${statCols.mkString(", ")}")
    }
  }

  /** Load a bucketed graph back — every label DataFrame reads through
    * the catalog table, so joins against it see the bucket spec and
    * pattern hops plan shuffle-free. */
  def loadBucketed(spark: SparkSession, name: String): PropertyGraph = {
    val meta = spark.table(tbl(name, "meta", "catalog")).collect().toSeq
    def side(kind: String) = meta.filter(_.getAs[String]("kind") == kind)
      .sortBy(_.getAs[Int]("label_id"))
    // the synthetic Z-order sort column is a layout artifact, not a
    // property (projection preserves the table's bucket spec)
    def readT(t: String) = spark.table(t).drop("__z")
    new PropertyGraph(
      name,
      side("v").map(r => VertexLabel(r.getAs[String]("label"),
        r.getAs[Int]("label_id"),
        readT(tbl(name, "v", r.getAs[String]("label"))))),
      side("e").map(r => EdgeLabel(r.getAs[String]("label"),
        r.getAs[Int]("label_id"),
        readT(tbl(name, "e", r.getAs[String]("label"))))))
  }

  // ---- versioned commits (Delta-inspired manifest log) -------------------
  //
  //   <path>/_log/v<N>/          manifest: one JSON row per label with the
  //                              data dir holding that label AT version N,
  //                              its id sequence state (max_entry) and its
  //                              Spark schema as JSON (schema)
  //   <path>/data/<k>_<label>@<N>/   immutable parquet written by commit N
  //
  // Readers parse the manifest with a fixed schema and each label's
  // parquet with its recorded schema, so opening a version runs one job
  // (the manifest read) instead of one schema-inference job per label. A
  // manifest written before the schema column existed reads it as null,
  // and those labels fall back to parquet schema inference.
  //
  // A commit writes parquet for DIRTY labels only (MutableGraph tracks
  // them); unchanged labels' manifest rows point at the dir an earlier
  // commit wrote. The manifest directory write is the commit point —
  // readers list _log and take the highest version with a _SUCCESS
  // marker, so a crashed commit is invisible. Old versions stay readable
  // (time travel) until vacuumed. Single-writer by design, like one PG
  // backend; a cluster deployment swaps this layer for Delta/Iceberg —
  // the copy-on-write per-label layout is the same.
  //
  // (Reference analogue: AGE inherits Postgres MVCC + WAL; the manifest
  // log is the Spark-native stand-in for that transactional boundary.)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ManifestSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq("name", "kind", "label", "label_id", "dir", "max_entry", "schema").map {
      case f @ ("label_id" | "max_entry") => StructField(f, LongType)
      case f => StructField(f, StringType)
    })
  }

  private def readManifest(spark: SparkSession, path: String, v: Long) =
    spark.read.schema(ManifestSchema).json(s"$path/_log/v$v").collect().toSeq

  /** A label's committed parquet, read with the manifest's recorded
    * schema (inferred for manifests that predate it). */
  private def readLabel(spark: SparkSession, path: String, r: org.apache.spark.sql.Row) = {
    val dir = s"$path/${r.getAs[String]("dir")}"
    Option(r.getAs[String]("schema")) match {
      case Some(js) => spark.read
        .schema(org.apache.spark.sql.types.DataType.fromJson(js)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** Committed version numbers, ascending (complete commits only). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val log = new org.apache.hadoop.fs.Path(s"$path/_log")
    val f = fs(spark, path)
    if (!f.exists(log)) return Nil
    f.listStatus(log).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v") &&
        f.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong).sorted
  }

  /** Atomically commit the mutable graph's current snapshot; returns the
    * new version. Only dirty labels are rewritten. */
  def commit(m: MutableGraph, path: String): Long = {
    val spark = m.spark
    import spark.implicits._
    val prev = versions(spark, path).lastOption
    val newV = prev.map(_ + 1).getOrElse(0L)
    val prevDirs: Map[(String, String), String] = prev match {
      case Some(v) =>
        readManifest(spark, path, v)
          .map(r => (r.getAs[String]("kind"), r.getAs[String]("label")) ->
            r.getAs[String]("dir")).toMap
      case None => Map.empty
    }
    val g = m.snapshot
    val dirtyV = m.dirtyVertexLabels
    val dirtyE = m.dirtyEdgeLabels
    def place(kind: String, label: String, df: org.apache.spark.sql.DataFrame,
              dirty: Boolean): String = {
      val existing = prevDirs.get((kind, label))
      if (!dirty && existing.isDefined) existing.get
      else {
        val dir = s"data/${kind}_$label@$newV"
        df.write.mode(SaveMode.Overwrite).parquet(s"$path/$dir")
        dir
      }
    }
    // a clean label's frame holds what its reused directory holds, so
    // the frame's schema is the directory's for dirty and clean alike
    val rows =
      g.vertexLabels.map(l => (m.name, "v", l.name, l.labelId,
        place("v", l.name, l.df, dirtyV(l.name)), m.vertexMaxEntry(l.name), l.df.schema.json)) ++
      g.edgeLabels.map(l => (m.name, "e", l.name, l.labelId,
        place("e", l.name, l.df, dirtyE(l.name)), m.edgeMaxEntry(l.name), l.df.schema.json))
    rows.toDF(ManifestSchema.fieldNames.toSeq: _*)
      .coalesce(1).write.mode(SaveMode.ErrorIfExists).json(s"$path/_log/v$newV")
    m.markClean()
    newV
  }

  /** Commit, then REBIND every label frame to its committed parquet
    * directory. After this call the in-memory graph's lineage roots at
    * durable files: executor loss recomputes from disk (unlike
    * localCheckpoint blocks, which are unrecoverable), and the session
    * holds no pinned block memory for the graph. This is the
    * mutations-write-through-the-store mode — the Spark-native analogue
    * of the reference's WAL-backed heap writes (every committed mutation
    * is durable before the next reads it). */
  def commitAndRebind(m: MutableGraph, path: String): Long = {
    val spark = m.spark
    val v = commit(m, path)
    for (r <- readManifest(spark, path, v)) {
      val label = r.getAs[String]("label")
      val df = readLabel(spark, path, r)
      if (r.getAs[String]("kind") == "v") m.rebindVertexLabel(label, df)
      else m.rebindEdgeLabel(label, df)
    }
    v
  }

  /** Read a committed version (default: latest). */
  def loadVersion(
      spark: SparkSession, path: String, version: Option[Long] = None): PropertyGraph = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not committed at $path (have ${vs.mkString(",")})")
    val rows = readManifest(spark, path, v)
    val name = rows.headOption.map(_.getAs[String]("name")).getOrElse("graph")
    def side(kind: String) = rows.filter(_.getAs[String]("kind") == kind)
      .sortBy(_.getAs[Long]("label_id"))
    new PropertyGraph(
      name,
      side("v").map(r => VertexLabel(r.getAs[String]("label"),
        r.getAs[Long]("label_id").toInt, readLabel(spark, path, r))),
      side("e").map(r => EdgeLabel(r.getAs[String]("label"),
        r.getAs[Long]("label_id").toInt, readLabel(spark, path, r))))
  }

  /** Resume a committed version as a mutable store — id allocation
    * continues from the manifest's recorded sequence state, no max-scan. */
  def loadMutableVersion(
      spark: SparkSession, path: String, version: Option[Long] = None): MutableGraph = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    val rows = readManifest(spark, path, v)
    val name = rows.headOption.map(_.getAs[String]("name")).getOrElse("graph")
    val m = new MutableGraph(name, spark)
    for (r <- rows.sortBy(_.getAs[Long]("label_id"))) {
      val label = r.getAs[String]("label")
      val df = readLabel(spark, path, r)
      if (r.getAs[String]("kind") == "v") {
        m.registerVertexLabel(label, r.getAs[Long]("label_id").toInt)
        m.appendVertices(label, df, r.getAs[Long]("max_entry"))
      } else {
        m.registerEdgeLabel(label, r.getAs[Long]("label_id").toInt)
        m.appendEdges(label, df, r.getAs[Long]("max_entry"))
      }
    }
    m.markClean()
    m
  }
}
