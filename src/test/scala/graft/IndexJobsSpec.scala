package graft

import org.apache.spark.sql.functions._

import graft.operators.EmbeddingStore
import graft.sources.Tables

/** The IVF index writers, pinned by the Spark jobs they submit: at
  * this size a job costs more than the data it touches. Each round
  * builds a fresh index from the lower half of the vectors and appends
  * the upper half, so the append reads every manifest cold, as on a
  * day's fresh working copy. Over this fixture, while the PQ and SQ8
  * codes were two more substores beside the cells, `buildIvfIndex`
  * submitted 47 jobs and `appendToIvfIndex` 25; while each commit read
  * its data back for the manifest's stats, 39 and 17. */
class IndexJobsSpec extends SparkTestBase {

  /** The job counts of the second of two rounds, shared by the pins
    * below. */
  private lazy val jobs: Map[String, Int] = {
    val vectors = Tables(spark, sfDir).embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val maxId = vectors.agg(max(col("doc_id"))).first().getLong(0)
    def round(): Map[String, Int] = {
      val path = s"${java.nio.file.Files.createTempDirectory("graft-index-jobs")}/ivf"
      Map(
        "buildIvfIndex" -> JobCounting.countJobs(spark)(
          EmbeddingStore.buildIvfIndex(spark,
            vectors.filter(col("doc_id") <= maxId / 2), path))._2,
        "appendToIvfIndex" -> JobCounting.countJobs(spark)(
          EmbeddingStore.appendToIvfIndex(spark, path,
            vectors.filter(col("doc_id") > maxId / 2)))._2)
    }
    round()
    round()
  }

  test("a warm index build and append submit at most 39 and 17 Spark " +
    "jobs") {
    assert(jobs("buildIvfIndex") <= 39, s"the calls submitted $jobs")
    assert(jobs("appendToIvfIndex") <= 17, s"the calls submitted $jobs")
  }

  test("with the manifest's stats collected during the write, a warm " +
    "index build and append submit at most 36 and 13 Spark jobs") {
    assert(jobs("buildIvfIndex") <= 36, s"the calls submitted $jobs")
    assert(jobs("appendToIvfIndex") <= 13, s"the calls submitted $jobs")
  }
}
