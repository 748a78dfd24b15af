package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Round-18 measurement tool (guide §1): run one registry query with a
  * job-level listener and print, per Spark job, the wall seconds, task
  * count and the call site that submitted it — the per-job breakdown
  * the multi-job episode rows (q_advance_day, q_index_maintain,
  * q_bootstrap, …) need before any optimization, since their cost is
  * job-count dominated and a single wall number cannot localize it.
  *
  * Usage: `sbt "runMain graft.JobProbe <q_name> [sfDir] [reps]"`.
  */
object JobProbe {

  private[graft] case class JobRec(id: Int, desc: String, site: String,
      start: Long, var end: Long = 0L, var tasks: Int = 0)

  /** Per-job records. Each finished task is credited to the job that
    * owns its STAGE (the stage ids `onJobStart` announces), so jobs
    * running at the same time — `Concurrency.commitEc` futures — keep
    * their own task counts. */
  private[graft] class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val jobOfStage = mutable.HashMap[Int, Int]()

    def clear(): Unit = synchronized { jobs.clear(); jobOfStage.clear() }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      // futures-submitted jobs carry no thread-local call site — the
      // result stage's name (its creation site) localizes them
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .filter(_.nonEmpty)
        .orElse(e.stageInfos.iterator.flatMap(si =>
          si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobProbe")))
          .toSeq.headOption.map(_.trim.stripPrefix("at ")))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, desc, site, e.time)
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      jobOfStage.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_advance_day")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new Listener
    val jobs = listener.jobs
    spark.sparkContext.addSparkListener(listener)
    // warm-up at sf0.001 (codegen cache)
    try Bench.consume(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
    catch { case e: Throwable => System.err.println(s"[probe] warm-up: $e") }
    (1 to reps).foreach { r =>
      listener.clear()
      val t0 = System.nanoTime()
      Bench.consume(SparkEntry.queries(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain (public API has no wait)
      println(f"== $name rep $r: total $wall%.2f s, ${jobs.size} jobs ==")
      listener.synchronized {
        jobs.values.foreach { j =>
          val dur = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d ${dur}%7.3f s  tasks=${j.tasks}%4d  ${j.site}%-40s ${j.desc.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
