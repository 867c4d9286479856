package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** In-memory span recorder for traced rounds. A span is one call into a
  * graft layer (parse, plan, Catalyst, execute, store, pipeline build)
  * inside one operation's root span. Spark jobs are attributed to the
  * span that launched them through a thread-local property that the
  * benchmark's own listener reads; stage metrics follow their job. All
  * spans are written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "graftbench.span"

  final class Span(val op: Int, val template: String, val name: String,
      val parent: String, val start: Long) {
    var end: Long = 0L
    val c = new Counters
    var phases: Map[String, Double] = Map.empty
  }
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L
    var input = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
  }

  private val spans = new java.util.ArrayList[Span]()
  private val byKey = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var opSpan: Span = _

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).orNull
      val s = if (key == null) null else byKey.get(key)
      if (s != null) {
        s.synchronized { s.c.jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.get(e.stageInfo.stageId)
      if (s != null) s.synchronized {
        val m = e.stageInfo.taskMetrics
        s.c.stages += 1
        s.c.tasks += e.stageInfo.numTasks
        if (m != null) {
          s.c.cpuNs += m.executorCpuTime
          s.c.input += m.inputMetrics.bytesRead
          s.c.shRead += m.shuffleReadMetrics.totalBytesRead
          s.c.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  def beginOp(op: Int, template: String): Unit = {
    opSpan = new Span(op, template, "op", null, System.nanoTime())
    spans.add(opSpan)
    sc.setLocalProperty(Key, s"$op/op")
    byKey.put(s"$op/op", opSpan)
  }

  def endOp(op: Int, df: DataFrame): Unit = {
    opSpan.end = System.nanoTime()
    sc.setLocalProperty(Key, null)
    if (df != null) opSpan.phases =
      df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }
  }

  def span[A](op: Int, template: String, name: String)(f: => A): A = {
    val s = new Span(op, template, name, "op", System.nanoTime())
    spans.add(s)
    val key = s"$op/$name"
    byKey.put(key, s)
    sc.setLocalProperty(Key, key)
    try f finally {
      s.end = System.nanoTime()
      sc.setLocalProperty(Key, s"$op/op")
    }
  }

  def finish(out: File): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val mapper = new ObjectMapper()
    val w = new PrintWriter(out)
    for (s <- spans.asScala) {
      val n = mapper.createObjectNode()
      n.put("op", s.op).put("template", s.template).put("name", s.name)
        .put("start_ns", s.start).put("end_ns", s.end)
      if (s.parent != null) n.put("parent", s.parent)
      n.put("jobs", s.c.jobs).put("stages", s.c.stages).put("tasks", s.c.tasks)
        .put("task_cpu_s", s.c.cpuNs / 1e9).put("input_bytes", s.c.input)
        .put("shuffle_read_bytes", s.c.shRead).put("shuffle_write_bytes", s.c.shWrite)
        .put("spill_bytes", s.c.spill)
      s.phases.foreach { case (k, v) => n.put(s"catalyst_$k", v) }
      w.println(mapper.writeValueAsString(n))
    }
    w.close()
  }
}
