package graft
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark main: one untimed warm-up pass at sf0.001 (absorbs JVM
  * classloading, Catalyst init and whole-stage-codegen compilation —
  * generated classes are cached by plan shape, so the warm-up carries
  * over to the timed passes on the real SF), then N timed passes
  * (default 3, `SPARK_GRAFT_PASSES`) in sorted key order.
  *
  * CONTENTION-PROOFING: this box is co-tenanted, and a single timed
  * pass is hostage to whatever else runs in its window (two rounds of
  * driver artifacts were pure noise: a 14× inflation on unchanged
  * code). Three defenses, so the emitted JSON is a usable signal
  * without an idle re-run:
  *
  *  1. per-query MINIMUM across the passes — noise is strictly
  *     additive (a co-tenant can only slow a query down), so the min
  *     is the best contention-free estimate a finite sample gives;
  *     pass-major order spaces the N runs of each query minutes
  *     apart, so one noisy window cannot poison all N.
  *  2. per-query process-CPU seconds (`queries_cpu`, min across
  *     passes, from OperatingSystemMXBean.getProcessCpuTime) — CPU
  *     charged to THIS process is contention-independent up to cache
  *     pollution, so wall/cpu disagreement localizes noise: wall 14×
  *     baseline with cpu at baseline reads "noisy box", both high
  *     reads "real regression".
  *  3. machine-load evidence: system load average sampled before
  *     each pass (`load_avg`), so the artifact itself records whether
  *     the box was busy.
  */
object Bench {

  /** The timing sink every bench tool shares: execute through the
    * built-in `noop` datasource, NOT `count()` — count() lets
    * Catalyst prune a pure-projection query body down to a parquet
    * row count, so the per-row F/G-family rows would time the scan
    * instead of the operator (discovered round 11; BENCH_BASELINE.md
    * bars re-based). noop forces full evaluation of every output
    * column with zero write cost. */
  private[graft] def consume(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The warm-up dir every timing tool shares (sf0.001 by default). */
  private[graft] def warmDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

  /** Everything the timed passes must NOT pay for, run untimed before
    * them: one warm-up run of each named row at [[warmDir]] (absorbs
    * JVM classloading, Catalyst init and codegen), then the STORAGE
    * layouts of the bench SF. Each layout is paid once at
    * write/ETL time in production, exactly like the pre-generated
    * parquet every other query reads — the bucketed layout
    * (q_join_bucketed), the z-ordered events (q_zorder_scan), the
    * persisted IVF index (q_search_ivf), the half-corpus DAY BASE of
    * dedup state + IVF index that the day-episode rows copy-then-
    * mutate (it is the previous day's output), the persisted dedup
    * signature state (q_dedup_incremental) and the date-partitioned
    * events (q_incremental_pruned). A setup failure is LOUD: the row
    * would then time the build and its number must be explainable. */
  private[graft] def prepare(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    names.foreach { n =>
      try consume(SparkEntry.queries(n)(spark, warmDir))
      catch { case _: Throwable => () }
    }
    def tables = graft.sources.Tables(spark, sfDir)
    Seq[(String, String, () => Unit)](
      ("bucketed-layout", "q_join_bucketed will include the table write",
        () => graft.sources.Bucketing.ensureLayout(spark, sfDir)),
      ("z-order layout", "q_zorder_scan will include the clustered write",
        () => graft.sources.Zorder.ensureZorderLayout(spark, sfDir)),
      ("IVF index", "q_search_ivf will include the build",
        () => graft.operators.EmbeddingStore.ensureIndex(tables)),
      ("day-base", "the day-episode rows will include the base build",
        () => graft.operators.AdvanceDay.ensureDayBase(tables)),
      ("dedup state", "q_dedup_incremental will include the base build",
        () => graft.operators.Dedup.ensureDedupState(tables)),
      ("date-partitioned events", "q_incremental_pruned will include the rewrite",
        () => graft.sources.Bucketing.ensureEventsByDate(spark, sfDir))
    ).foreach { case (layout, consequence, setup) =>
      try setup()
      catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $layout setup failed ($consequence): ${e.getMessage}")
      }
    }
  }

  /** Per-row minimum wall and process-CPU seconds across passes.
    * -1 marks a row that failed in ANY pass, and any failure makes a
    * total -1: a regression must read as a failure, never as a
    * suspiciously fast timing or a shrunken total. */
  private[graft] final class Timings(val names: Seq[String]) {
    private[Bench] val minWall, minCpu =
      collection.mutable.Map(names.map(_ -> Double.MaxValue): _*)
    private[Bench] val failed = collection.mutable.Set[String]()
    /** System load average sampled before each pass. */
    val loads = collection.mutable.ArrayBuffer[Double]()

    def wall(n: String): Double = if (failed(n)) -1.0 else minWall(n)
    def cpu(n: String): Double = if (failed(n)) -1.0 else minCpu(n)
    def wallTotal(done: Set[String]): Double = total(done, wall)
    def cpuTotal(done: Set[String]): Double = total(done, cpu)
    private def total(done: Set[String], of: String => Double): Double =
      if (done.exists(failed)) -1.0 else names.filter(done).map(of).sum
  }

  /** The min-of-passes loop every timing tool shares: up to `passes`
    * pass-major sweeps over `t.names` (so the N runs of one row are
    * spaced a whole pass apart and one noisy window cannot poison all
    * of them), timing each `run(name)` for wall and process CPU.
    * `afterRow(passIndex, name, rowsDoneThisPass)` fires, untimed,
    * after every row; `afterPass(passesDone, passSeconds)` after every
    * pass, and the loop stops early when it returns false. */
  private[graft] def timePasses(t: Timings, passes: Int)(
      run: String => Unit,
      afterRow: (Int, String, Int) => Unit = (_, _, _) => (),
      afterPass: (Int, Double) => Boolean = (_, _) => true): Timings = {
    val osBean = ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.OperatingSystemMXBean])
    var pass = 0
    var continue = true
    while (continue && pass < passes) {
      val tPass = System.nanoTime()
      t.loads += osBean.getSystemLoadAverage
      t.names.zipWithIndex.foreach { case (name, i) =>
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try {
          run(name)
          t.minWall(name) = math.min(t.minWall(name), (System.nanoTime() - t0) / 1e9)
          t.minCpu(name) = math.min(t.minCpu(name), (osBean.getProcessCpuTime - c0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            t.failed += name
        }
        afterRow(pass, name, i + 1)
      }
      pass += 1
      continue = afterPass(pass, (System.nanoTime() - tPass) / 1e9)
    }
    t
  }

  def main(args: Array[String]): Unit = {
    val t0Main = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // WALL BUDGET (seconds, from main() entry): the driver runs this
    // under an external `timeout`, and round 17's artifact was rc=124 /
    // parsed-null — suite growth finally overran the cap on a hot
    // window, leaving NO perf signal for the round. The budget makes
    // that structurally impossible: pass k+1 runs only if the elapsed
    // wall plus a conservative estimate of the next pass still fits.
    // Pass 1 ALWAYS runs (one pass is a complete, accurate artifact).
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "1200").toDouble
    def elapsedSec = (System.nanoTime() - t0Main) / 1e9
    // ERROR, not WARN: the driver keeps only a bounded tail of output
    // and parses the LAST JSON line in it — WARN chatter (WindowExec,
    // large-task-binary) after the final emission can push the JSON
    // out of the tail when an external timeout strikes mid-pass
    val spark = Session.local(Session.cpus(32), "ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    prepare(spark, sfDir, names)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val t = new Timings(names)

    def fmt(of: String => Double, done: Set[String]): String =
      names.filter(done).map(n => "\"" + n + "\":" + of(n))
        .mkString("{", ",", "}")
    // the driver keeps only a bounded tail of output (~2,000 chars), so
    // the LAST line must be the one it parses: print the ~4 KB full
    // per-query line FIRST (humans / logs), write it to a file (the
    // durable artifact), and end with a short self-contained headline
    // JSON (<250 chars — always survives any tail). EMITTED AFTER
    // EVERY PASS (and periodically inside pass 1), not once at the
    // end: an external timeout mid-pass must leave the newest COMPLETE
    // line parseable, never rc=124 with nothing (the round-17 failure)
    def emit(passesDone: Int, done: Set[String]): Unit = {
      val total = t.wallTotal(done)
      val loadStr = t.loads.map(l => f"$l%.2f").mkString("[", ",", "]")
      val headline = s"""{"metric":"total","value":$total,"unit":"sec","cpu_total":${t.cpuTotal(done)},"passes":$passesDone,"load_avg":$loadStr,"nqueries":${done.size},"sf":"$sfDir"}"""
      val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt(t.wall, done)},"queries_cpu":${fmt(t.cpu, done)},"cpu_total":${t.cpuTotal(done)},"passes":$passesDone,"load_avg":$loadStr,"sf":"$sfDir"}"""
      println(full)
      println(headline)
      System.out.flush()
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), full + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
      }
    }
    timePasses(t, passes)(
      run = name => consume(SparkEntry.queries(name)(spark, sfDir)),
      // pass 1 has no complete line yet — the only window where a
      // timeout could still leave nothing. Emit a partial cumulative
      // line periodically ("passes":0 + the shrunken nqueries mark
      // it as partial, values are real per-query minima so far)
      afterRow = (pass, _, n) =>
        if (pass == 0 && n % 40 == 0 && n < names.size)
          emit(0, names.take(n).toSet),
      afterPass = { (pass, passSec) =>
        emit(pass, names.toSet)
        // adaptive pass count: stop early when the budget cannot fit
        // another pass (1.15 = headroom for ambient repricing mid-pass)
        val continue = elapsedSec + 1.15 * passSec <= budgetSec
        if (!continue && pass < passes)
          System.err.println(
            f"[bench] budget stop after pass $pass: elapsed $elapsedSec%.0f s" +
              f" + est ${1.15 * passSec}%.0f s > budget $budgetSec%.0f s")
        continue
      })
    spark.stop()
  }
}
