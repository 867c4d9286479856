package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cypher.{Cypher, Parser, Planner}
import graft.graph._
import graft.pipeline.Dedup
import graft.types.{AgFloat, AgInt, AgString, AgValue}

/** In-JVM side of the benchmark: sets up one workload, runs its
  * operation rounds in a closed loop (one client, next operation only
  * after the previous one returned) and writes every operation's
  * latency, outcome and result rows for the checker.
  *
  * Usage: Harness <work dir>. The work dir holds `config.json` and
  * `ops.json` (written by run.py); the harness writes `results.jsonl`,
  * `spans.jsonl` and `summary.json` there. Results are converted and
  * written outside the timed region.
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Op(node: JsonNode) {
    def id: Int = node.get("id").asInt()
    def kind: String = node.get("kind").asText()
    def template: String = node.get("template").asText()
    def text(f: String): String = Option(node.get(f)).filter(!_.isNull).map(_.asText()).orNull
    def params: Map[String, AgValue] =
      Option(node.get("params")).map(_.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isIntegralNumber) AgInt(v.asLong())
          else if (v.isNumber) AgFloat(v.asDouble())
          else AgString(v.asText()))
      }.toMap).getOrElse(Map.empty)
    def intArg(f: String): Int = node.get("args").get(f).asInt()
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val conf = mapper.readTree(new File(work, "config.json"))
    val workload = conf.get("workload").asText()
    val dataDir = conf.get("data_dir").asText()
    val traced = conf.get("trace").asBoolean()
    val cpus = conf.get("cpus").asInt()
    val setupReps = conf.get("setup_reps").asInt()
    val plan = mapper.readTree(new File(work, "ops.json"))
    val rounds = plan.get("rounds").elements().asScala
      .map(_.elements().asScala.map(Op).toVector).toVector
    val warmOps = plan.get("warm").elements().asScala.map(Op).toVector

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.checkpoint.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    val sparkS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, dataDir, new File(work, "store").getAbsolutePath, tracer)

    // set-up: the workload's graph / corpus materialization, repeated so
    // the reported figure is a median; the last materialization is used
    val materializeS = (0 until setupReps).map { _ =>
      val t0 = System.nanoTime()
      ctx.materialize(workload)
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    // warm-up: one round of the same templates, untimed (JIT, codegen)
    warmOps.foreach { op =>
      val w = ctx.run(op, traced = false)
      if (w.error != null) throw new IllegalStateException(s"warm-up ${op.template}: ${w.error}")
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val results = new PrintWriter(new File(work, "results.jsonl"))
    val gc0 = gcMillis()
    var peakHeap = 0L
    val tLoop = System.nanoTime()
    // whole rounds, so every run holds the same template mix; a traced
    // run alternates traced and untraced rounds, traced first
    for ((round, r) <- rounds.zipWithIndex) {
      val tracedRound = traced && r % 2 == 0
      for (op <- round) {
        val cpu0 = processCpuNs()
        val out = ctx.run(op, tracedRound)
        val cpuS = (processCpuNs() - cpu0) / 1e9
        peakHeap = math.max(peakHeap, heapUsed())
        val rec = mapper.createObjectNode()
        rec.put("id", op.id).put("round", r).put("template", op.template)
          .put("kind", op.kind).put("traced", tracedRound)
          .put("latency_s", out.latencyS).put("cpu_s", cpuS).put("ok", out.error == null)
        if (out.error != null) rec.put("error", out.error)
        if (out.columns != null) {
          val cols = rec.putArray("columns"); out.columns.foreach(c => cols.add(c))
          rec.set[JsonNode]("rows", mapper.valueToTree[JsonNode](out.rows))
        }
        if (out.extra != null) rec.set[JsonNode]("extra", mapper.valueToTree[JsonNode](out.extra))
        results.println(mapper.writeValueAsString(rec))
      }
    }
    val loopS = (System.nanoTime() - tLoop) / 1e9
    val gcS = (gcMillis() - gc0) / 1000.0
    results.close()

    val summary = mapper.createObjectNode()
    summary.put("workload", workload).put("spark_s", sparkS).put("warm_s", warmS)
      .put("loop_s", loopS).put("rounds", rounds.size).put("gc_s", gcS)
      .put("heap_peak_mb", peakHeap / 1048576.0)
    val ms = summary.putArray("materialize_s"); materializeS.foreach(x => ms.add(x))
    tracer.foreach(_.finish(new File(work, "spans.jsonl")))
    val sw = new PrintWriter(new File(work, "summary.json"))
    sw.print(mapper.writeValueAsString(summary)); sw.close()
    spark.stop()
  }

  /** CPU time of the whole JVM (every thread: tasks, JIT, GC). */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use, sampled after each operation. */
  private def heapUsed(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** Outcome of one operation. `rows` / `extra` are plain Java values. */
final class Outcome(val latencyS: Double, val error: String,
    val columns: Seq[String], val rows: java.util.List[AnyRef],
    val extra: java.util.Map[String, AnyRef])

/** Workload state and the operation runner. Every call into graft goes
  * through `layer`, which records a span only when the round is traced. */
final class Ctx(spark: SparkSession, dataDir: String, storePath: String,
    tracer: Option[Tracer]) {
  import Harness.Op

  private var main: PropertyGraph = _
  private var store: MutableGraph = _
  private var docs: DataFrame = _

  def materialize(workload: String): Unit = workload match {
    case "graph_analytics" =>
      // the parquet-backed TPC-H overlay; materializing reads every
      // vertex and edge label once
      main = TpchGraph(spark, dataDir)
      (main.vertexLabels.map(_.df) ++ main.edgeLabels.map(_.df)).foreach(_.count())
      if (docs != null) docs.unpersist(true)
      docs = spark.read.parquet(s"$dataDir/documents.parquet").cache()
      docs.count()
    case "graph_write" =>
      store = MutableGraph.from(TpchGraph(spark, dataDir), spark)
  }


  private def layer[A](op: Op, name: String, traced: Boolean)(f: => A): A =
    if (traced) tracer.get.span(op.id, op.template, name)(f) else f

  def run(op: Op, traced: Boolean): Outcome = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    var err: String = null
    var collected: Array[Row] = null
    var committed: (Long, PropertyGraph) = null
    try {
      if (traced) tracer.get.beginOp(op.id, op.template)
      op.kind match {
        case "cypher" | "write" =>
          val ast = layer(op, "cypher.parse", traced)(Parser.parse(op.text("cypher")))
          val planner = op.kind match {
            case "write" => new Planner(spark, () => store.snapshot, op.params, store = Some(store))
            case _ => new Planner(spark, () => main, op.params)
          }
          df = layer(op, "cypher.plan", traced)(planner.plan(ast))
        case "pipeline" =>
          df = layer(op, "pipeline.build", traced)(dupClusters(op.intArg("slice")))
        case "commit" =>
          val v = layer(op, "store.commit", traced)(GraphStore.commit(store, storePath))
          committed = v -> layer(op, "store.load_version", traced)(
            GraphStore.loadVersion(spark, storePath, Some(v)))
      }
      if (df != null) {
        // the DataFrame is analyzed when it is built; optimization and
        // physical planning are the two lazy steps left before execution
        layer(op, "catalyst.optimization", traced)(df.queryExecution.optimizedPlan)
        layer(op, "catalyst.planning", traced)(df.queryExecution.executedPlan)
        collected = layer(op, "exec", traced)(df.collect())
      }
    } catch {
      case e: Throwable => err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally if (traced) tracer.get.endOp(op.id, df)
    val latency = (System.nanoTime() - t0) / 1e9
    // everything below is outside the timed region: result conversion
    // and the read-backs that let the checker verify writes and commits
    var cols: Seq[String] = null
    var rows: java.util.List[AnyRef] = null
    var extra: java.util.Map[String, AnyRef] = null
    if (err == null) try {
      if (collected != null) {
        cols = df.columns.toSeq; rows = Conv.rows(collected)
      }
      Option(op.text("verify")).foreach { q =>
        val vdf = Cypher.query(spark, store.snapshot, q, op.params)
        cols = vdf.columns.toSeq; rows = Conv.rows(vdf.collect())
      }
      if (committed != null) {
        val (v, g) = committed
        val vdf = Cypher.query(spark, g, op.text("verify_committed"))
        cols = vdf.columns.toSeq; rows = Conv.rows(vdf.collect())
        extra = new java.util.HashMap[String, AnyRef]()
        extra.put("store_bytes", Long.box(dirBytes(new File(storePath, "data"), s"@$v")))
      }
    } catch {
      case e: Throwable => err = s"verify ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    new Outcome(latency, err, cols, rows, extra)
  }

  private def dirBytes(root: File, suffix: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length()
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.endsWith(suffix)).map(walk).sum
  }

  /** Near-duplicate document clusters (MinHash LSH, then connected
    * components over the pair graph); `slice` drops the documents with
    * doc_id % 4 == slice so each seed sees a different corpus subset. */
  private def dupClusters(slice: Int): DataFrame =
    Dedup.dupClusters(Dedup.minhashLsh(docs.filter(col("doc_id") % 4 =!= slice), "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.3))
}

/** Spark rows to JSON-ready Java values. */
object Conv {
  def rows(rs: Array[Row]): java.util.List[AnyRef] = {
    val out = new java.util.ArrayList[AnyRef](rs.length)
    rs.foreach(r => out.add(value(r)))
    out
  }
  def value(v: Any): AnyRef = v match {
    case null => null
    case r: Row =>
      val l = new java.util.ArrayList[AnyRef](); r.toSeq.foreach(x => l.add(value(x))); l
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.TreeMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(String.valueOf(k), value(x)) }; o
    case s: scala.collection.Seq[_] =>
      val l = new java.util.ArrayList[AnyRef](); s.foreach(x => l.add(value(x))); l
    case d: java.math.BigDecimal => Double.box(d.doubleValue())
    case d: BigDecimal => Double.box(d.toDouble)
    case f: Float => Double.box(f.toDouble)
    case i: Int => Long.box(i.toLong)
    case s: Short => Long.box(s.toLong)
    case b: Byte => Long.box(b.toLong)
    case x: java.lang.Long => x
    case x: java.lang.Double => x
    case x: java.lang.Boolean => x
    case x: String => x
    case x => String.valueOf(x)
  }
}
