package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, through one tagged
  * SparkListener on the shared test session. */
object SparkJobs {
  private val TagKey = "graft.test.jobCount"
  private val tags = new AtomicLong()
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val listenerAdded = new AtomicBoolean()

  private def ensureListener(spark: SparkSession): Unit =
    if (listenerAdded.compareAndSet(false, true))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { t =>
            Option(markers.get(t)).fold(
              jobsByTag.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet(): Unit)(
              _.countDown())
          }
      })

  /** Spark jobs `f` launches from this thread (AQE stages and broadcasts
    * inherit the tag). A marker job posted after `f` flushes the listener
    * queue, which delivers events in order. */
  def count(spark: SparkSession)(f: => Unit): Int = {
    ensureListener(spark)
    val sc = spark.sparkContext
    val tag = s"jobs-${tags.incrementAndGet()}"
    val marker = s"$tag-marker"
    markers.put(marker, new CountDownLatch(1))
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, null)
    sc.setLocalProperty(TagKey, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagKey, null)
    require(markers.get(marker).await(60, TimeUnit.SECONDS), "listener queue did not drain")
    Option(jobsByTag.get(tag)).fold(0)(_.get)
  }
}
