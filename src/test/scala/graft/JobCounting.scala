package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count pins for specs. Listener events arrive asynchronously, so
  * a count is read only after a SENTINEL job — submitted after the
  * measured body — has reached the listener: the bus delivers a
  * queue's events in order, so every earlier event has arrived too. */
object JobCounting {

  private val SentinelKey = "graft.test.sentinel"

  /** Block until every listener event posted before this call has been
    * delivered to the listeners added with `addSparkListener`. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val watcher = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SentinelKey) == token))
          seen.countDown()
    }
    sc.addSparkListener(watcher)
    try {
      sc.setLocalProperty(SentinelKey, token)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SentinelKey, null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(watcher)
  }

  /** `body`'s result and the number of Spark jobs submitted while it
    * ran (the drain's own sentinel job excluded). */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(SentinelKey) == null))
          n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      val out = body
      drain(spark)
      (out, n.get())
    } finally sc.removeSparkListener(counter)
  }
}
