package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Job-level listening behind `graft.Dev trace`: per Spark job, the
  * wall seconds, task count and the call site that submitted it — the
  * per-job breakdown the multi-job episode rows (q_advance_day,
  * q_index_maintain, q_bootstrap, …) need before any optimization,
  * since their cost is job-count dominated and a single wall number
  * cannot localize it. */
object JobProbe {

  private[graft] val SentinelKey = "graft.sentinel"

  /** Block until every listener event posted before this call has been
    * delivered to the listeners added with `addSparkListener`: a
    * SENTINEL job, submitted after the measured body, must reach a
    * watcher on the same queue — the bus delivers a queue's events in
    * order, so every earlier event has arrived too. Listeners that
    * count jobs skip the sentinel by its [[SentinelKey]] property. */
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
      if (!seen.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never drained")
    } finally sc.removeSparkListener(watcher)
  }

  private[graft] def isSentinel(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty(SentinelKey) != null)

  private[graft] case class JobRec(id: Int, desc: String, site: String,
      start: Long, var end: Long = 0L, var tasks: Int = 0,
      var spillBytes: Long = 0L)

  /** Per-job records. Each finished task (and its memory + disk
    * spill) is credited to the job that owns its STAGE (the stage ids
    * `onJobStart` announces), so jobs running at the same time —
    * `Concurrency.commitEc` futures — keep their own counts. */
  private[graft] class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val jobOfStage = mutable.HashMap[Int, Int]()
    // the first graft frame of each running SQL execution's call site
    private val siteOfExecution = mutable.HashMap[String, String]()

    def clear(): Unit = synchronized { jobs.clear(); jobOfStage.clear() }

    /** The jobs recorded since the last take, once every event posted
      * so far has been delivered. */
    def take(spark: SparkSession): List[JobRec] = {
      drain(spark)
      synchronized { try jobs.values.toList finally clear() }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        graftFrame(s.details).foreach(f =>
          synchronized(siteOfExecution(s.executionId.toString) = f))
      case s: SparkListenerSQLExecutionEnd =>
        synchronized(siteOfExecution.remove(s.executionId.toString))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (!isSentinel(e)) synchronized {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop("spark.job.description").getOrElse("")
        // AQE's query-stage and broadcast jobs run on a future whose
        // call site is the wrapper's own frame, and futures-submitted
        // jobs carry none: the SQL execution that owns the job, else
        // the first graft frame of its stage details, localizes them
        val site = prop("callSite.short")
          .filter(s => s.nonEmpty && !s.contains("withThreadLocalCaptured"))
          .orElse(prop(SQLExecution.EXECUTION_ID_KEY).flatMap(siteOfExecution.get))
          .orElse(e.stageInfos.iterator.flatMap(si => graftFrame(si.details))
            .toSeq.headOption)
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, site, e.time)
        e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      jobOfStage.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach(m =>
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** The first graft frame (the harness's own excluded) of a long
    * call-site form. */
  private def graftFrame(stack: String): Option[String] =
    Option(stack).flatMap(_.linesIterator
      .find(l => l.contains("graft.") && !l.contains("graft.Dev")))
      .map(_.trim.stripPrefix("at "))
}
