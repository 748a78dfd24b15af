package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The benchmark's single process: generate seeded inputs, set up the
  * workload, run its timed part untraced (end-to-end metrics) or each
  * unit once untraced and once traced (per-layer metrics), and print one
  * JSON result as the last stdout line.
  *
  * Usage: Main --workload search|daily --seed N --seconds S
  * --trace 0|1 --base <documents.parquet> --work <dir> */
object Main {

  /** The day's ingest calls, before its curation pass. */
  val ingestSpans: Seq[String] = Seq("EmbeddingStore.updateSince",
    "Dedup.advanceDedupState", "EmbeddingStore.appendToIvfIndex",
    "EmbeddingStore.rebuildIfDrifted", "EmbeddingStore.indexStats")

  /** Every span the workloads record, with the counters reported for
    * it. A span the running workload does not call reads 0. */
  val spans: Seq[(String, Seq[String])] = {
    val common = Seq("wall_s", "jobs", "tasks", "busy_frac", "bytes_read",
      "shuffle_bytes")
    Seq("searchIvf", "searchIvfFiltered", "searchIvfBatch").flatMap(f =>
      Seq("plan", "exec").map(p =>
        s"EmbeddingStore.$f.$p" -> (common :+ "sched_wait_s"))) ++
      ingestSpans.map(_ -> (common :+ "bytes_written")) ++
      Seq("Dedup.sharedStages", "Dedup.minhashPairs", "Dedup.dedupSimhash",
        "TextAnalysis.pipelineFunnel", "Export.exportCurriculum")
        .map(_ -> (common :+ "spill_bytes"))
  }

  private val counterUnits = Map("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "busy_frac" -> "ratio", "bytes_read" -> "B",
    "shuffle_bytes" -> "B", "sched_wait_s" -> "s", "bytes_written" -> "B",
    "spill_bytes" -> "B")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private val osBean = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])

  /** Run steps 0, 1, ... until `seconds` have passed at a block
    * boundary; a run measures whole blocks. */
  private def loop[T](w: Workload, seconds: Double)(step: Int => T): Seq[T] = {
    val out = Seq.newBuilder[T]
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || i % w.blockSize != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      out += step(i)
      i += 1
    }
    out.result()
  }

  private def log(i: Int, mode: String, u: UnitResult): UnitResult = {
    System.err.println(f"[perfbench] unit $i ${u.kind} $mode: ${u.wallNs / 1e9}%.3f s")
    u
  }

  /** Unit `i` run once untraced and once traced, the order swapping
    * from unit to unit so warm-up and drift fall on both modes alike.
    * The listener is attached only around the traced call and drained
    * before it is removed. Returns (untraced, traced, CPU seconds of
    * the untraced call). */
  private def pair(w: Workload, i: Int, rec: SpanRecorder,
      listener: SpanListener, sc: org.apache.spark.SparkContext)
      : (UnitResult, UnitResult, Double) = {
    def plain() = {
      val c0 = osBean.getProcessCpuTime
      val u = log(i, "untraced", w.unit(i, NoTrace))
      (u, (osBean.getProcessCpuTime - c0) / 1e9)
    }
    def traced() = {
      sc.addSparkListener(listener)
      val u = log(i, "traced", w.unit(i, Tracer(rec)))
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
      u
    }
    if (i % 2 == 0) { val (p, c) = plain(); (p, traced(), c) }
    else { val t = traced(); val (p, c) = plain(); (p, t, c) }
  }

  /** Resident-set high-water mark of this JVM; in local mode it hosts
    * the executors too. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** A JSON object from ordered (key, value) pairs; nested objects are
    * `Seq[(String, Any)]`. */
  def json(m: Seq[(String, Any)]): String = m.map { case (k, v) =>
    val vs = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case sub: Seq[_] => json(sub.asInstanceOf[Seq[(String, Any)]])
      case other => other.toString
    }
    "\"" + k + "\":" + vs
  }.mkString("{", ",", "}")

  private def metric(v: Double, unit: String) = Seq("value" -> v, "unit" -> unit)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val baseDocs = arg(args, "base")
    val work = new File(arg(args, "work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    // graft's layout scratch stays inside the work dir
    System.setProperty("spark.graft.storage.dir", s"$work/layouts")
    val loadBefore = osBean.getSystemLoadAverage

    val tSetup = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // search reads only the embeddings
    val inputs = Workloads.phase("generate")(Inputs.generate(spark, baseDocs,
      seed, s"$work/corpus", documents = workload != "search"))
    val w = Workloads(workload, spark, inputs, seed, s"$work/state", trace)
    w.setup()
    val setupS = (System.nanoTime() - tSetup) / 1e9

    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum / 1048576.0
    val stateMb = Inputs.treeBytes(new File(s"$work/state")) / 1048576.0
    val workingSetMb = (inputs.docBytes + inputs.embBytes) / 1048576.0 + stateMb
    println(json(Seq("run_record" -> Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0), "nproc" -> cores,
      "spark_version" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_before" -> loadBefore,
      "docs" -> inputs.nDocs, "documents_bytes" -> inputs.docBytes,
      "embeddings_bytes" -> inputs.embBytes, "state_mb" -> stateMb,
      "working_set_mb" -> workingSetMb, "storage_memory_mb" -> storageMb,
      "working_set_over_storage" -> workingSetMb / storageMb))))

    val (units, (finAttempted, finFailed), metrics) =
      if (!trace) {
        val units = loop(w, seconds)(i => log(i, "untraced", w.unit(i, NoTrace)))
        val lat = units.map(_.wallNs / 1e6)
        val items = units.map(_.items).sum.toDouble
        val wallS = units.map(_.wallNs).sum / 1e9
        (units, w.finish(), Seq(
          "setup_s" -> metric(setupS, "s"),
          "p50_ms" -> metric(Stats.median(lat), "ms"),
          "items_per_s" -> metric(items / wallS, "1/s")))
      } else {
        // one untimed unit first, so the first pair compares warm calls
        w.unit(0, NoTrace)
        // events before the first traced call must not reach the listener
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        val rec = new SpanRecorder
        val listener = new SpanListener(rec)
        val pairs = loop(w, seconds)(i =>
          pair(w, i, rec, listener, spark.sparkContext))
        val (plain, traced) = (pairs.map(_._1), pairs.map(_._2))
        val process = Seq(
          "cpu_ms_per_item" -> (
            pairs.map(_._3).sum * 1000.0 / plain.map(_.items).sum, "ms"),
          "rss_peak_mb" -> (vmHwmMb(), "MB"))
        // matched pairs: each unit's traced wall against its own
        // untraced wall
        val plainWall = plain.map(_.wallNs).sum.toDouble
        val overhead = (traced.map(_.wallNs).sum - plainWall) / plainWall
        val layers = layerMetrics(workload, w, rec, listener, plain, traced,
          inputs, cores, overhead)
        (plain ++ traced, w.finish(),
          (process ++ layers).map { case (k, (v, u)) => k -> metric(v, u) })
      }
    val attempted = units.map(_.attempted).sum + finAttempted
    val failed = units.map(_.failed).sum + finFailed
    spark.stop()
    println(json(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
  }

  /** Per-layer metrics: span counters per call of the span (busy_frac is
    * a ratio), then the derived values. Metrics of a span or workload
    * the run does not exercise read 0. */
  private def layerMetrics(workload: String, w: Workload, rec: SpanRecorder,
      listener: SpanListener, plain: Seq[UnitResult], traced: Seq[UnitResult],
      in: Inputs, cores: Int, overhead: Double): Seq[(String, (Double, String))] = {
    val byName = rec.all.toMap
    val spanMetrics = spans.flatMap { case (span, counters) =>
      val c = byName.getOrElse(span, new SpanCounters)
      val calls = math.max(1L, c.calls).toDouble
      counters.map { k =>
        val v = k match {
          case "wall_s" => c.wallNs / 1e9 / calls
          case "jobs" => c.jobs / calls
          case "tasks" => c.tasks / calls
          case "busy_frac" =>
            if (c.wallNs == 0) 0.0 else c.runTimeMs / 1e3 / (c.wallNs / 1e9 * cores)
          case "bytes_read" => c.bytesRead / calls
          case "shuffle_bytes" => c.shuffleBytes / calls
          case "sched_wait_s" => c.schedWaitMs / 1e3 / calls
          case "bytes_written" => c.bytesWritten / calls
          case "spill_bytes" => c.spillBytes / calls
        }
        s"$span.$k" -> (v, counterUnits(k))
      }
    }
    val all = byName.values.toSeq
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val isSearch = workload == "search"
    val isDaily = workload == "daily"
    // bytes of delta input: the ingested docs' share of the corpus file
    val deltaBytes = in.docBytes.toDouble * traced.map(_.items).sum / in.nDocs
    val append = byName.getOrElse("EmbeddingStore.appendToIvfIndex",
      new SpanCounters)
    val extras = w.layerExtras(plain)
    val derived = Seq(
      "task_failures" -> (all.map(_.failedTasks).sum.toDouble, "count"),
      "trace_overhead_frac" -> (overhead, "ratio"),
      "attributed_frac" -> (
        1.0 - ratio(listener.jobsUnattributed, listener.jobsSeen), "ratio"),
      "search.p90_ms" -> (extras.getOrElse("search.p90_ms", 0.0), "ms"),
      "search.filtered_p50_ms" -> (
        extras.getOrElse("search.filtered_p50_ms", 0.0), "ms"),
      "search.batch_p50_ms" -> (extras.getOrElse("search.batch_p50_ms", 0.0), "ms"),
      "search.recall_at_10" -> (extras.getOrElse("search.recall_at_10", 0.0), "ratio"),
      "search.jobs_per_request" -> (
        if (isSearch) ratio(all.map(_.jobs).sum, traced.length) else 0.0, "count"),
      "search.rows_read_per_result" -> (
        if (isSearch) ratio(all.map(_.recordsRead).sum, traced.map(_.resultRows).sum)
        else 0.0, "ratio"),
      "daily.write_amp" -> (
        if (isDaily) ratio(ingestSpans.flatMap(byName.get).map(_.bytesWritten).sum,
          deltaBytes) else 0.0, "ratio"),
      "daily.read_per_write" -> (
        if (isDaily) ratio(append.bytesRead, append.bytesWritten) else 0.0, "ratio"),
      "daily.rebuilds" -> (extras.getOrElse("daily.rebuilds", 0.0), "count"))
    spanMetrics ++ derived
  }
}
