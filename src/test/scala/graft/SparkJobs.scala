package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of spec code starts — the shared
  * instrument of the job-budget specs.
  */
object SparkJobs {

  /** The local properties of every Spark job started while `body`
    * ran, in start order. Two marker jobs run on this thread bound the
    * window; listener events arrive asynchronously but in order, so
    * the closing marker is awaited before the list is read. Suites run
    * one at a time in the test JVM, so every job inside the window is
    * `body`'s — including jobs of pooled helper threads, which do not
    * inherit this thread's local properties.
    */
  def during(spark: SparkSession)(body: => Unit): Seq[Properties] = {
    val key = "graft.spec.jobWindow"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[Properties]()
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      private var open = false // the bus delivers on one thread
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties())
        val mark = p.getProperty(key)
        if (mark == s"$tag-open") open = true
        else if (mark == s"$tag-close") { open = false; closed.countDown() }
        else if (open) seen.add(p)
      }
    }
    val sc = spark.sparkContext
    def marker(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try { sc.parallelize(Seq(1), 1).count(): Unit }
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker(s"$tag-open")
      body
      marker(s"$tag-close")
      require(closed.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the closing marker job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The Janino compilations (Spark codegen-cache misses) made while
    * `body` ran: the delta of Spark's process-wide compile counter, so
    * like [[during]] it counts every thread's, executor tasks included.
    */
  def compilesDuring(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }
}
