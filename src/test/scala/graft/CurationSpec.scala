package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.{Export, Tables}

/** The curation pass a daily run makes over its documents, in the
  * order it makes it, pinned by the Spark jobs it submits: at this
  * size a job costs more than the data it touches, so the count is
  * the cost. Over this fixture the pass submitted 83 jobs before the
  * gates shared one doc-keyed pass (sharedStages 5, minhashPairs 10,
  * dedupSimhash 6, pipelineFunnel 23, exportCurriculum 39). */
class CurationSpec extends SparkTestBase {

  test("a warm curation pass — shared stages, MinHash pairs, SimHash " +
    "pairs, the pipeline funnel, the curriculum export — submits at " +
    "most 40 Spark jobs") {
    val t = Tables(spark, sfDir)
    def pass(): Seq[(String, Int)] = {
      val (st, shared) = JobCounting.countJobs(spark)(Dedup.sharedStages(t.documents))
      Seq("sharedStages" -> shared) ++ Seq(
        "minhashPairs" -> (() => Dedup.minhashPairs(st).collect()),
        "dedupSimhash" -> (() => Dedup.dedupSimhash(t).collect()),
        "pipelineFunnel" -> (() => TextAnalysis.pipelineFunnel(t).collect()),
        "exportCurriculum" -> (() => Export.exportCurriculum(t).collect())
      ).map { case (name, call) => name -> JobCounting.countJobs(spark)(call())._2 }
    }
    pass()
    val jobs = pass()
    assert(jobs.map(_._2).sum <= 40, s"the curation pass submitted $jobs")
  }
}
