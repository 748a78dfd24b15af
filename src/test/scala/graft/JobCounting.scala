package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count pins for specs. Listener events arrive asynchronously, so
  * a count is read only after [[JobProbe.drain]]'s sentinel job has
  * reached the listeners. */
object JobCounting {

  /** Block until every listener event posted before this call has been
    * delivered to the listeners added with `addSparkListener`. */
  def drain(spark: SparkSession): Unit = JobProbe.drain(spark)

  /** `body`'s result and the number of Spark jobs submitted while it
    * ran (the drain's own sentinel job excluded). */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!JobProbe.isSentinel(e)) n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      val out = body
      drain(spark)
      (out, n.get())
    } finally sc.removeSparkListener(counter)
  }
}
