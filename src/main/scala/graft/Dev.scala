package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The development harness: one main whose subcommands run on the
  * shared [[Session]] and on [[Bench]]'s and [[Verify]]'s own building
  * blocks, so their numbers and files compare with the driver's.
  * `SPARK_GRAFT_CPUS` overrides the core count (time, trace, scale:
  * 32 like Bench; run, plan: 4 like Verify). */
object Dev {

  private val usage = """usage: graft.Dev
    |  time  <sfDir> <q>...           Bench's setup + min-of-passes wall/CPU
    |  run   <sfDir> <outDir> <q>...  Verify's parquet + <outDir>/<q>.sql
    |  plan  <sfDir> [outFile] [<q>...]  finalized plans (default: all rows, PLANS.md)
    |  trace <sfDir> <q> [reps]       per-job wall, tasks and call site
    |  scale <sfDir> [mults] [q,...]  heavy rows over salted corpus replicas""".stripMargin

  def main(args: Array[String]): Unit = {
    def withSession(cpus: Int, logLevel: String)(body: SparkSession => Unit): Unit = {
      val spark = Session.local(Session.cpus(cpus), logLevel)
      try body(spark) finally spark.stop()
    }
    def list(csv: String) = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    args.toList match {
      case "time" :: sfDir :: names if names.nonEmpty =>
        withSession(32, "WARN")(time(_, sfDir, names))
      case "run" :: sfDir :: outDir :: names if names.nonEmpty =>
        withSession(4, "WARN")(run(_, sfDir, outDir, names))
      case "plan" :: sfDir :: rest =>
        val out = rest.headOption.getOrElse("PLANS.md")
        val names = if (rest.size > 1) rest.tail else SparkEntry.queries.keys.toSeq.sorted
        withSession(4, "ERROR")(plan(_, sfDir, out, names))
        println(s"wrote $out")
      case "trace" :: sfDir :: name :: rest if rest.size <= 1 =>
        withSession(32, "ERROR")(trace(_, sfDir, name, rest.headOption.fold(1)(_.toInt)))
      case "scale" :: sfDir :: rest if rest.size <= 2 =>
        val mults = rest.headOption.fold(Seq(1, 2, 4, 8))(list(_).map(_.toInt))
        val names = rest.lift(1).fold(CorpusScaling.defaultHeavy)(list)
        withSession(32, "WARN")(scale(_, sfDir, mults, names))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
  }

  private def passes(default: Int): Int =
    sys.env.get("SPARK_GRAFT_PASSES").fold(default)(_.toInt)

  /** Per-row min-of-passes wall and process CPU after exactly Bench's
    * untimed setup, so the numbers compare with bench_out.json rows
    * (without it, a row reading a storage layout would time its build
    * in the first pass). */
  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Bench.prepare(spark, sfDir, names)
    val t = Bench.timePasses(new Bench.Timings(names), passes(3))(
      name => Bench.consume(SparkEntry.queries(name)(spark, sfDir)))
    names.foreach { n =>
      println(f"TIMEQ $n%-24s wall=${t.wall(n)}%.2f cpu=${t.cpu(n)}%.2f")
    }
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit =
    names.foreach { name =>
      Verify.writeRow(spark, sfDir, outDir, name)
      SparkEntry.oracleSql.get(name).foreach(sql =>
        Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
    }

  /** The AQE-finalized formatted physical plan of each row, one
    * markdown section per row. */
  def plan(spark: SparkSession, sfDir: String, outFile: String,
      names: Seq[String]): Unit = {
    val sections = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // plans can embed literal control bytes (the span-dedup NUL
      // sentinel): escape them so the file stays greppable text
      val clean = plan.map(c =>
        if (c == '\n' || c == '\t' || !Character.isISOControl(c)) c.toString
        else f"\\u${c.toInt}%04x").mkString
      s"## $name\n\n```\n$clean```\n"
    }
    Files.writeString(Paths.get(outFile),
      s"""# Physical plans ($sfDir, AQE-finalized)
         |
         |Generated by `graft.Dev plan`. Things to check per plan: filters
         |reach the `Scan parquet` (PushedFilters), dims/queries are
         |`BroadcastExchange`, top-k is `TakeOrderedAndProject`, hot
         |projections sit inside WholeStageCodegen spans, and exchanges
         |appear only on the intended keys.
         |
         |${sections.mkString("\n")}""".stripMargin)
  }

  /** Per Spark job of each of `reps` runs of `name`, after Bench's
    * untimed setup: wall, task count, spill and call site. */
  def trace(spark: SparkSession, sfDir: String, name: String,
      reps: Int): Seq[Seq[JobProbe.JobRec]] = {
    Bench.prepare(spark, sfDir, Seq(name))
    val listener = new JobProbe.Listener
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to reps).map { r =>
        listener.take(spark)
        val t0 = System.nanoTime()
        Bench.consume(SparkEntry.queries(name)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        val jobs = listener.take(spark)
        println(f"== $name rep $r: total $wall%.2f s, ${jobs.size} jobs ==")
        jobs.foreach { j =>
          val dur = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d ${dur}%7.3f s  tasks=${j.tasks}%4d  " +
            f"spill=${j.spillBytes / 1e6}%.1fMB  ${j.site}%-40s ${j.desc.take(60)}")
        }
        jobs
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Bench's min-of-passes loop over every (mult, row) cell of the
    * salted corpus replicas ([[CorpusScaling]]), three shuffle
    * partitions per core, plus each cell's spill — the MAX across
    * passes, so an undercounted pass cannot hide memory pressure. One
    * JSON line, also written to corpus_scaling.json. */
  def scale(spark: SparkSession, sfDir: String, mults: Seq[Int],
      names: Seq[String]): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions",
      (3 * spark.sparkContext.defaultParallelism).toString)
    val dirs = mults.map(m => m -> CorpusScaling.ensureReplicatedDir(spark, sfDir, m)).toMap
    val order = for (m <- mults; nm <- names) yield s"$m/$nm" -> (m, nm)
    val cells = order.toMap
    val spillMb = collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val listener = new JobProbe.Listener
    spark.sparkContext.addSparkListener(listener)
    def takeSpillMb() = listener.take(spark).map(_.spillBytes).sum / 1e6
    val t =
      try {
        // untimed warm-up at the smallest size (codegen, Catalyst init)
        names.foreach(nm => Bench.consume(SparkEntry.queries(nm)(spark, dirs(mults.min))))
        takeSpillMb()
        Bench.timePasses(new Bench.Timings(order.map(_._1)), passes(2))(
          run = { c =>
            val (m, nm) = cells(c)
            Bench.consume(SparkEntry.queries(nm)(spark, dirs(m)))
          },
          afterRow = (_, c, _) => spillMb(c) = math.max(spillMb(c), takeSpillMb()))
      } finally spark.sparkContext.removeSparkListener(listener)
    def perSize(cell: String => String) = mults.map { m =>
      s""""$m":""" + names.map(nm => "\"" + nm + "\":" + cell(s"$m/$nm")).mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val loadStr = t.loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val json =
      s"""{"metric":"corpus_scaling","sf":"$sfDir","mults":[${mults.mkString(",")}],"passes":${t.loads.size},"heap_mb":$heapMb,"load_avg":$loadStr,"sizes":${perSize(c => f"${t.wall(c)}%.3f")},"spill_mb":${perSize(c => f"${spillMb(c)}%.1f")}}"""
    println(json)
    Files.writeString(Paths.get("corpus_scaling.json"), json + "\n")
  }
}
