package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** The daily dedup-state calls, pinned by the Spark jobs they submit:
  * at this size a job costs more than the data it touches. Each call
  * runs against a state built in its round, so its manifest is read
  * cold, as on a day's fresh working copy. Over this fixture, before
  * the state became one versioned table, `advanceDedupState` submitted
  * 9 jobs and `dedupIncrementalAgainst` 26; while each commit read its
  * data back for the manifest's stats, 8 and 22. */
class DedupStateJobsSpec extends SparkTestBase {

  /** The job counts of the second of two rounds, shared by the pins
    * below. */
  private lazy val jobs: Map[String, Int] = {
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
    val w0 = maxId / 2
    val day = docs.filter(col("doc_id") <= w0 + maxId / 20)
    def round(): Map[String, Int] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-state-jobs")
      Dedup.buildDedupState(docs, w0, s"$dir/a")
      Dedup.buildDedupState(docs, w0, s"$dir/b")
      Map(
        "advanceDedupState" -> JobCounting.countJobs(spark)(
          Dedup.advanceDedupState(day, s"$dir/a"))._2,
        "dedupIncrementalAgainst" -> JobCounting.countJobs(spark)(
          Dedup.dedupIncrementalAgainst(day, s"$dir/b").collect())._2)
    }
    round()
    round()
  }

  test("a warm daily advance and delta join over the dedup state submit " +
    "at most 9 and 26 Spark jobs") {
    assert(jobs("advanceDedupState") <= 9, s"the calls submitted $jobs")
    assert(jobs("dedupIncrementalAgainst") <= 26, s"the calls submitted $jobs")
  }

  test("with the manifest's stats collected during the write, a warm " +
    "daily advance and delta join over the dedup state submit at most " +
    "6 and 21 Spark jobs") {
    assert(jobs("advanceDedupState") <= 6, s"the calls submitted $jobs")
    assert(jobs("dedupIncrementalAgainst") <= 21, s"the calls submitted $jobs")
  }
}
