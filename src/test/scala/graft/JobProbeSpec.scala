package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** The job-level listener behind `graft.JobProbe`: task attribution
  * must hold when jobs overlap (the commit-pool futures of the
  * episode rows it exists to explain). */
class JobProbeSpec extends SparkTestBase {

  test("JobProbe credits every task to the job that owns its stage, " +
    "also when two jobs run at the same time") {
    val sc = spark.sparkContext
    val listener = new JobProbe.Listener
    sc.addSparkListener(listener)
    try {
      import scala.concurrent.ExecutionContext.Implicits.global
      // sleeping tasks keep both jobs in flight together on local[4]
      def job(desc: String, parts: Int) = Future {
        sc.setJobDescription(desc)
        try sc.parallelize(1 to parts, parts)
          .map { i => Thread.sleep(150); i }.count()
        finally sc.setJobDescription(null)
      }
      val a = job("probe-a", 3)
      val b = job("probe-b", 5)
      Await.result(a, Duration.Inf)
      Await.result(b, Duration.Inf)
      JobCounting.drain(spark)
      val byDesc = listener.synchronized(
        listener.jobs.values.map(j => j.desc -> j).toMap)
      assert(byDesc("probe-a").tasks === 3)
      assert(byDesc("probe-b").tasks === 5)
      // the two jobs overlapped, so a last-job rule would have
      // credited some of one job's tasks to the other
      assert(byDesc("probe-a").start <= byDesc("probe-b").end &&
        byDesc("probe-b").start <= byDesc("probe-a").end)
    } finally sc.removeSparkListener(listener)
  }

  test("JobProbe credits AQE query-stage jobs to the graft frame that " +
    "ran the query, not to the stage future's wrapper frame") {
    val sc = spark.sparkContext
    // resolved before listening: only the operator's own jobs count
    val docs = graft.sources.Tables(spark, sfDir).documents
    val listener = new JobProbe.Listener
    sc.addSparkListener(listener)
    try {
      listener.take(spark)
      // eager pins over a window exchange: each pin's query runs its
      // shuffle as an AQE query-stage job before the pin's own job
      graft.operators.Dedup.sharedStages(docs)
      val jobs = listener.take(spark)
      assert(jobs.size > 2, s"expected stage jobs besides the two pins: $jobs")
      jobs.foreach(j => assert(j.site.startsWith("graft.operators.Dedup"),
        s"job ${j.id} credited to '${j.site}'"))
    } finally sc.removeSparkListener(listener)
  }
}
