package graft

import java.nio.file.{Files, Paths}

/** The dev harness shares Bench's timing loop and Verify's writer; these
  * pin the contracts the driver artifacts depend on. */
class HarnessSpec extends SparkTestBase {

  private val cheapRow = "q_agg_pricing"

  test("Bench's timing loop: a row that throws in any pass reads -1, " +
    "so does any total that includes it; a passing row reads a finite minimum") {
    var flakyRuns = 0
    val t = Bench.timePasses(new Bench.Timings(Seq("ok", "flaky")), 3)(
      run = {
        case "ok" => Bench.consume(spark.range(100).toDF())
        case _ =>
          flakyRuns += 1
          if (flakyRuns == 2) throw new RuntimeException("second pass fails")
      })
    assert(flakyRuns === 3, "a failure must not stop the remaining passes")
    assert(t.wall("flaky") === -1.0)
    assert(t.cpu("flaky") === -1.0)
    assert(t.wallTotal(Set("ok", "flaky")) === -1.0)
    assert(t.cpuTotal(Set("ok", "flaky")) === -1.0)
    val ok = t.wall("ok")
    assert(ok > 0.0 && ok < 60.0, s"ok row read $ok")
    assert(t.cpu("ok") >= 0.0 && t.cpu("ok") < 60.0)
    assert(t.wallTotal(Set("ok")) === ok)
    assert(t.loads.size === 3)
    // afterPass returning false stops the loop after that pass
    val once = Bench.timePasses(new Bench.Timings(Seq("ok")), 3)(
      run = _ => (), afterPass = (_, _) => false)
    assert(once.loads.size === 1)
  }

  test("Dev run writes Verify's parquet for the row plus its oracle SQL") {
    val viaDev = Files.createTempDirectory("graft-dev-run").toString
    val viaVerify = Files.createTempDirectory("graft-verify-row").toString
    Dev.run(spark, sfDir, viaDev, Seq(cheapRow))
    Verify.writeRow(spark, sfDir, viaVerify, cheapRow)
    def rows(dir: String) =
      spark.read.parquet(s"$dir/$cheapRow").collect().map(_.toSeq).toSeq
    assert(rows(viaDev).nonEmpty)
    assert(rows(viaDev).sortBy(_.toString) === rows(viaVerify).sortBy(_.toString))
    assert(new java.io.File(s"$viaDev/$cheapRow").listFiles()
      .count(_.getName.endsWith(".parquet")) === 1)
    assert(Files.readString(Paths.get(s"$viaDev/$cheapRow.sql")) ===
      SparkEntry.oracleSql(cheapRow))
  }

  test("Dev plan dumps the finalized physical plan of each named row") {
    val out = Files.createTempFile("graft-dev-plan", ".md")
    Dev.plan(spark, sfDir, out.toString, Seq(cheapRow))
    val md = Files.readString(out)
    assert(md.contains(s"## $cheapRow"))
    assert(md.contains("isFinalPlan=true"))
    assert(md.contains("Scan parquet"))
  }

  test("Dev trace credits the row's tasks to its jobs, without the drain's " +
    "sentinel job") {
    val reps = Dev.trace(spark, sfDir, cheapRow, 1)
    assert(reps.size === 1)
    val jobs = reps.head
    assert(jobs.nonEmpty, "no job credited")
    assert(jobs.exists(_.tasks > 0), "no task credited")
    assert(jobs.forall(j => j.end >= j.start))
    assert(jobs.forall(!_.site.contains("JobProbe")), "the sentinel was credited")
  }
}
