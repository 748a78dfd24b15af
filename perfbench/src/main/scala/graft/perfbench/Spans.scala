package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}

/** Totals of one named span over a run. Wall time and call count come
  * from the recorder; everything else from Spark listener events. */
final class SpanCounters {
  var wallNs = 0L
  var calls = 0L
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runTimeMs = 0L
  var schedWaitMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
  var spillBytes = 0L
}

/** Records named spans as wall-clock intervals and holds their
  * counters. Spans are recorded from the calling thread around each
  * call into graft; the benchmark runs one call at a time, so every
  * Spark job a call submits -- from any thread, including commit-pool
  * futures that inherit no job group -- falls inside that call's
  * interval. */
final class SpanRecorder {
  private final class Interval(val name: String, val startMs: Long) {
    var endMs: Long = Long.MaxValue
  }
  private val intervals = mutable.ArrayBuffer[Interval]()
  private val byName = mutable.LinkedHashMap[String, SpanCounters]()

  def counters(name: String): SpanCounters = synchronized {
    byName.getOrElseUpdate(name, new SpanCounters)
  }

  def all: Seq[(String, SpanCounters)] = synchronized(byName.toSeq)

  def span[T](name: String)(body: => T): T = {
    val iv = new Interval(name, System.currentTimeMillis())
    synchronized(intervals += iv)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      synchronized {
        iv.endMs = System.currentTimeMillis()
        val c = byName.getOrElseUpdate(name, new SpanCounters)
        c.wallNs += dt
        c.calls += 1
      }
    }
  }

  /** The span open at `timeMs` (epoch millis): the latest-started span
    * whose interval contains it, or None outside every span. */
  def spanAt(timeMs: Long): Option[String] = synchronized {
    var i = intervals.length - 1
    while (i >= 0 && intervals(i).startMs > timeMs) i -= 1
    if (i >= 0 && timeMs <= intervals(i).endMs) Some(intervals(i).name)
    else None
  }
}

/** Maps task -> stage -> job -> span. A job belongs to the span whose
  * interval contains its submission time; its stages and tasks follow
  * it. Attribution never reads thread-local job properties. */
final class SpanListener(rec: SpanRecorder) extends SparkListener {
  private val jobSpan = mutable.HashMap[Int, String]()
  private val jobSubmitMs = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  var jobsSeen = 0L
  var jobsUnattributed = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsSeen += 1
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    rec.spanAt(e.time) match {
      case Some(name) =>
        jobSpan(e.jobId) = name
        jobSubmitMs(e.jobId) = e.time
        rec.counters(name).jobs += 1
      case None =>
        jobsUnattributed += 1
        System.err.println(s"[perfbench] job ${e.jobId} submitted outside every span")
    }
  }

  private def spanOfStage(stageId: Int): Option[String] =
    stageJob.get(stageId).flatMap(jobSpan.get)

  /** Scheduling wait: from a job's submission to its first task launch. */
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      jobSubmitMs.remove(job).foreach { submitted =>
        jobSpan.get(job).foreach { name =>
          rec.counters(name).schedWaitMs +=
            math.max(0L, e.taskInfo.launchTime - submitted)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    spanOfStage(e.stageId).foreach { name =>
      val c = rec.counters(name)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runTimeMs += m.executorRunTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }
}
