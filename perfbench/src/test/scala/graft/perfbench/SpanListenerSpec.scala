package graft.perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SpanListenerSpec extends AnyFunSuite {

  test("jobs land in the span open at their submission, from any thread") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      val rec = new SpanRecorder
      val listener = new SpanListener(rec)
      sc.addSparkListener(listener)
      // two concurrent two-task jobs, each submitted from a commit-pool
      // thread: pool threads inherit no job group or description, so
      // only the submission time ties them to the span
      val threads = rec.span("inside") {
        import graft.Concurrency.commitEc
        val jobs = Seq.fill(2)(Future {
          sc.parallelize(1 to 2, 2).map { x => Thread.sleep(300); x }.count()
          Thread.currentThread.getName
        })
        jobs.map(Await.result(_, Duration.Inf))
      }
      Thread.sleep(50)
      sc.parallelize(1 to 10, 1).count() // outside every span
      PerfbenchBridge.drainListenerBus(sc)

      assert(threads.forall(_.startsWith("graft-commit-")), threads)
      val inside = rec.counters("inside")
      assert(inside.calls == 1)
      assert(inside.jobs == 2)
      assert(inside.tasks == 4)
      assert(inside.runTimeMs >= 4 * 250)
      assert(listener.jobsSeen == 3)
      assert(listener.jobsUnattributed == 1)
      assert(rec.all.map(_._1) == Seq("inside"))
    } finally spark.stop()
  }

  test("spanAt picks the latest-started open span and nothing outside") {
    val rec = new SpanRecorder
    val t0 = System.currentTimeMillis()
    rec.span("a")(Thread.sleep(20))
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    rec.span("b")(Thread.sleep(20))
    assert(rec.spanAt(t0 - 1000).isEmpty)
    assert(rec.spanAt(t0 + 5).contains("a"))
    assert(rec.spanAt(between + 10).isEmpty)
    assert(rec.spanAt(System.currentTimeMillis() + 1000).isEmpty)
  }
}
