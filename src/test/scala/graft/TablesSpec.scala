package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.sources.{LayoutStore, Tables}

/** `Tables` resolves each table file's schema once per file identity:
  * a warm read runs no footer job, and a table rewritten at the same
  * path — a single parquet file or a directory of parts — reads its
  * new schema. */
class TablesSpec extends SparkTestBase {

  private def writeDocs(path: File, withSource: Boolean, singleFile: Boolean): Unit = {
    import spark.implicits._
    val base = Seq((1L, "alpha beta"), (2L, "gamma delta"))
    val df =
      if (withSource) base.map { case (i, s) => (i, s, "s1") }.toDF("doc_id", "text", "source")
      else base.toDF("doc_id", "text")
    if (!singleFile) df.coalesce(1).write.mode("overwrite").parquet(path.getPath)
    else {
      val tmp = Files.createTempDirectory("graft-tables-part").toFile
      try {
        df.coalesce(1).write.mode("overwrite").parquet(s"${tmp.getPath}/out")
        val part = new File(s"${tmp.getPath}/out").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, path.toPath, StandardCopyOption.REPLACE_EXISTING)
      } finally LayoutStore.deleteRecursively(tmp)
    }
  }

  Seq("single-file" -> true, "directory" -> false).foreach { case (shape, single) =>
    test(s"Tables ($shape): a warm read infers nothing, and a rewrite at " +
      "the same path reads the new schema") {
      val dir = Files.createTempDirectory("graft-tables").toFile
      try {
        val path = new File(dir, "documents.parquet")
        writeDocs(path, withSource = false, singleFile = single)
        val t = Tables(spark, dir.getPath)
        t.documents // cold: the one inference
        val (warm, jobs) = JobCounting.countJobs(spark)(t.documents)
        assert(jobs === 0, s"a warm read ran $jobs schema jobs")
        assert(warm.columns.toSeq === Seq("doc_id", "text"))
        writeDocs(path, withSource = true, singleFile = single)
        val fresh = Tables(spark, dir.getPath).documents
        assert(fresh.columns.toSeq === Seq("doc_id", "text", "source"))
        assert(fresh.orderBy("doc_id").collect().map(_.getString(2)).toSeq ===
          Seq("s1", "s1"))
      } finally LayoutStore.deleteRecursively(dir)
    }
  }
}
