package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, EmbeddingStore, TextAnalysis}
import graft.sources.{Export, LayoutStore, Tables}

/** Runs a body under a span name; the untraced runs use [[NoTrace]]. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

object Tracer {
  def apply(rec: SpanRecorder): Tracer = new Tracer {
    def span[T](name: String)(body: => T): T = rec.span(name)(body)
  }
}

/** One timed unit of a workload: a request or a day. `wallNs` covers
  * the calls into graft and the actions on their results, never the
  * output checks. `items` is what the unit delivered (1 for a request,
  * docs ingested for a day). */
final case class UnitResult(kind: String, wallNs: Long, attempted: Int,
    failed: Int, items: Long = 0L, resultRows: Long = 0L, rebuilds: Int = 0)

trait Workload {
  /** Build everything the timed part reads and warm the timed calls up
    * on inputs outside the timed ones; runs inside `setup_s`. */
  def setup(): Unit
  /** Run unit `i` of the seeded unit sequence. */
  def unit(i: Int, tr: Tracer): UnitResult
  /** Units come in blocks of this size with a fixed mix; a timed loop
    * stops only at a block boundary, so every run measures whole
    * blocks. */
  def blockSize: Int = 1
  /** Untimed checks of the final state after a timed loop: (checks
    * attempted, checks failed). */
  def finish(): (Int, Int) = (0, 0)
  /** Per-layer values only this workload measures, by metric name,
    * from the untraced units of a traced run. */
  def layerExtras(plain: Seq[UnitResult]): Map[String, Double] = Map.empty
}

object Workloads {
  /** Nanoseconds spent in `body`, with its value. */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = body
    (v, System.nanoTime() - t0)
  }

  /** Run a set-up phase and log its wall time to stderr. */
  def phase[T](name: String)(body: => T): T = {
    val (v, ns) = timed(body)
    System.err.println(f"[perfbench] $name: ${ns / 1e9}%.3f s")
    v
  }

  /** Run independent set-up phases on their own threads and wait for
    * all; the first failure fails set-up. */
  def concurrently(phases: (String, () => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val all = phases.map { case (name, body) => Future(phase(name)(body())) }
    all.foreach(Await.result(_, Duration.Inf))
  }

  def vectors(spark: SparkSession, in: Inputs): DataFrame =
    spark.read.parquet(s"${in.dir}/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))

  /** `trace` selects the traced run's unit mix where it differs (search
    * adds filtered and batch requests). */
  def apply(name: String, spark: SparkSession, in: Inputs, seed: Long,
      work: String, trace: Boolean): Workload = name match {
    case "search" => new SearchWorkload(spark, in, seed, work, trace)
    case "daily" => new DailyWorkload(spark, in, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Closed-loop interactive top-k session with one client: each request
  * is planned, its frame collected (as the MCP tool returns results)
  * and checked before the next one is sent. The untraced run sends only
  * plain single-query requests, the reference's `search_messages` call;
  * no source gives a share of filtered or batch requests, so those run
  * only in the traced run, in blocks of one plain, one filtered and one
  * batch request, and are reported as per-layer metrics of their own. */
final class SearchWorkload(spark: SparkSession, in: Inputs, seed: Long,
    work: String, trace: Boolean) extends Workload {
  import Workloads._
  val k = 10
  val batchSize = 32
  private val index = s"$work/ivf"
  private val flat = s"$work/flat"
  private val emb = spark.read.parquet(s"${in.dir}/embeddings.parquet")

  // the index covers the first half plus an append of 8 % of it, which
  // keeps the appended fraction (~7 %) below the 0.2 drift threshold:
  // reads span two generations, as on a live index
  private val half = in.firstHalf
  private val appended = in.secondHalf.take(math.max(1, half.length / 12))
  private val indexed = half ++ appended
  // probed cells hold ~n/cells vectors each; only when that is well
  // above k must every unfiltered request fill all k rows (the smoke
  // corpus's cells hold ~16)
  private val strictK =
    indexed.length / EmbeddingStore.numCellsFor(indexed.length) >= 4 * k
  private val shuffled =
    new scala.util.Random(seed ^ 0x5ea7c4L).shuffle(indexed.toSeq).toArray
  // warm-up requests use the first batch of ids, the timed ones the rest
  private val warmIds = shuffled.take(batchSize)
  private val warmRequests = 6
  private val timedIds = shuffled.drop(batchSize)

  private val pattern =
    if (trace) Vector("single", "filtered", "batch") else Vector("single")
  override def blockSize: Int = pattern.length
  private def queryOf(i: Int): Long = timedIds(i % timedIds.length)
  private def labelOf(q: Long): Int = math.floorMod(q * 7 + seed, 10L).toInt
  private def batchOf(i: Int): Seq[Long] = {
    val r = new scala.util.Random(seed * 131 + i)
    r.shuffle(timedIds.toSeq).take(batchSize)
  }

  def setup(): Unit = {
    val vecs = vectors(spark, in)
    phase("search.build")(EmbeddingStore.buildIvfIndex(spark,
      vecs.filter(col("doc_id") <= half.last), index))
    phase("search.append")(EmbeddingStore.appendToIvfIndex(spark, index,
      vecs.filter(col("doc_id") > half.last && col("doc_id") <= appended.last)))
    // warm-up on ids outside the timed set: plain requests until their
    // latency has settled (it falls over the first several in a fresh
    // JVM) and one of each other kind the run sends
    phase("search.warmup")(pattern.foreach {
      case "single" => warmIds.take(warmRequests).foreach(q =>
        EmbeddingStore.searchIvf(spark, index, q, k).collect())
      case "filtered" =>
        val q = warmIds(warmRequests)
        EmbeddingStore.searchIvfFiltered(spark, index, emb, q, k,
          probes = 4, label = labelOf(q)).collect()
      case _ =>
        EmbeddingStore.searchIvfBatch(spark, index, batchFrame(warmIds), k)
          .collect()
    })
  }

  private def batchFrame(ids: Seq[Long]): DataFrame =
    emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  def unit(i: Int, tr: Tracer): UnitResult = {
    val kind = pattern(i % pattern.length)
    def request(fn: String)(call: => DataFrame): (Array[Row], Long) = timed {
      val df = tr.span(s"EmbeddingStore.$fn.plan")(call)
      tr.span(s"EmbeddingStore.$fn.exec")(df.collect())
    }
    val t0 = System.nanoTime()
    try kind match {
      case "single" =>
        val q = queryOf(i)
        val (rows, ns) = request("searchIvf")(
          EmbeddingStore.searchIvf(spark, index, q, k))
        val ok = checkTopK(rows.toSeq, q, None)
        UnitResult(kind, ns, 1, if (ok) 0 else 1, items = 1, resultRows = rows.length)
      case "filtered" =>
        val q = queryOf(i)
        val label = labelOf(q)
        val (rows, ns) = request("searchIvfFiltered")(
          EmbeddingStore.searchIvfFiltered(spark, index, emb, q, k,
            probes = 4, label = label))
        val ok = checkTopK(rows.toSeq, q, Some(label))
        UnitResult(kind, ns, 1, if (ok) 0 else 1, items = 1, resultRows = rows.length)
      case _ =>
        val ids = batchOf(i)
        val (rows, ns) = request("searchIvfBatch")(
          EmbeddingStore.searchIvfBatch(spark, index, batchFrame(ids), k))
        val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
        val ok = byQuery.size == ids.size && byQuery.forall { case (q, rs) =>
          checkTopK(rs.sortBy(_.getAs[Long]("rnk")).toSeq, q, None)
        }
        UnitResult(kind, ns, 1, if (ok) 0 else 1, items = 1, resultRows = rows.length)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] search request $i failed: $e")
        UnitResult(kind, System.nanoTime() - t0, 1, 1)
    }
  }

  /** k rows, scores non-increasing, no self-match, label honoured. A
    * filtered request (or any request on a corpus with small cells) may
    * return fewer rows when the probed cells hold fewer than k
    * candidates, never none: the query's own cell is always probed. */
  private def checkTopK(rows: Seq[Row], q: Long, label: Option[Int]): Boolean = {
    val scores = rows.map(_.getAs[Double]("score"))
    val ok = (if (label.isEmpty && strictK) rows.length == k
      else rows.nonEmpty && rows.length <= k) &&
      scores.zip(scores.drop(1)).forall { case (a, b) => a >= b } &&
      rows.forall(_.getAs[Long]("doc_id") != q) &&
      label.forall(l => rows.forall(_.getAs[Int]("label") == l))
    if (!ok) System.err.println(s"[perfbench] search check failed for query " +
      s"$q (label $label): ${rows.mkString(" ")}")
    ok
  }

  /** Mean top-10 recall of plain IVF requests (probes = 2) against the
    * exact top-10 of a brute-force `EmbeddingStore.search` over the
    * same vectors, on the first four timed query ids. Untimed. */
  private def recallAt10(): Double = {
    // the brute-force store: the same vectors the index holds
    vectors(spark, in).filter(col("doc_id") <= appended.last)
      .write.mode("overwrite").parquet(flat)
    def ids(df: DataFrame) = df.collect().map(_.getAs[Long]("doc_id"))
    val per = timedIds.take(4).toSeq.map { q =>
      val exact = ids(EmbeddingStore.search(spark, flat, q, k)).toSet
      ids(EmbeddingStore.searchIvf(spark, index, q, k)).count(exact).toDouble / k
    }
    per.sum / per.length
  }

  override def layerExtras(plain: Seq[UnitResult]): Map[String, Double] = {
    def lat(kind: String) = plain.filter(_.kind == kind).map(_.wallNs / 1e6)
    Map(
      "search.p90_ms" -> Stats.quantile(lat("single"), 0.9),
      "search.filtered_p50_ms" -> Stats.median(lat("filtered")),
      "search.batch_p50_ms" -> Stats.median(lat("batch")),
      "search.recall_at_10" -> recallAt10())
  }
}

/** The incremental update loop: one day is the reference's
  * `update_embeddings` followed by the dedup-state advance, the index
  * append, the drift-gated rebuild check and the index health read, and
  * then the curation pass over the day's new documents. Each day runs
  * on a fresh hard-link clone of a base (yesterday's state: dedup
  * state, doc store and IVF index over the first half of the corpus)
  * built in setup, and ingests the next seeded slice. */
final class DailyWorkload(spark: SparkSession, in: Inputs, seed: Long,
    work: String) extends Workload {
  import Workloads._
  private val base = s"$work/daybase"
  private val t = Tables(spark, in.dir)
  private val halfMax = in.firstHalf.last
  private val baseCount = in.firstHalf.length.toLong
  private val threshold = 0.2
  // resolved once: reading a parquet directory runs a footer job
  private lazy val vecs = vectors(spark, in)

  /** The seeded day-slice size: 1/20 of the corpus within +-3 %, so
    * the appended fraction after the day (~0.09) stays below the 0.2
    * drift threshold for every seed. */
  val sliceSize: Int = {
    val r = new scala.util.Random(seed ^ 0xda11L)
    math.max(1, math.round(in.nDocs / 20.0 * (0.97 + 0.06 * r.nextDouble())).toInt)
  }
  private val slice = in.docIds.slice(in.firstHalf.length,
    in.firstHalf.length + sliceSize)
  private val sliceMax = slice.last
  // the day's documents, as the curation pass reads them
  private val sliceDir = s"$work/dayslice"
  private val curation = new Curation(Tables(spark, sliceDir), slice.toSet)
  private var dir: String = _
  private var days = 0
  private var dayOk = false

  /** The parts of the base are independent, so they build
    * concurrently. */
  def setup(): Unit = concurrently(
    "daily.slice" -> (() => t.documents
      .filter(col("doc_id") > halfMax && col("doc_id") <= sliceMax)
      .write.parquet(s"$sliceDir/documents.parquet")),
    "daily.dedup" -> (() =>
      Dedup.buildDedupState(t.documents, halfMax, s"$base/dedup")),
    "daily.store" -> (() => EmbeddingStore.store(
      vecs.filter(col("doc_id") <= halfMax)
        .withColumn("shard", pmod(col("doc_id"), lit(EmbeddingStore.numShards.toLong))),
      s"$base/store")),
    "daily.build" -> (() => EmbeddingStore.buildIvfIndex(spark,
      vecs.filter(col("doc_id") <= halfMax), s"$base/ivf")))

  def unit(i: Int, tr: Tracer): UnitResult = {
    // a fresh directory per call: a traced run repeats each unit
    if (dir != null) LayoutStore.deleteRecursively(new File(dir))
    dir = s"$work/day_$days"
    days += 1
    LayoutStore.cloneRecursively(new File(base), new File(dir))
    dayOk = false
    val t0 = System.nanoTime()
    try day(tr)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] daily day $i failed: $e")
        UnitResult("day", System.nanoTime() - t0, 8, 8)
    }
  }

  private def day(tr: Tracer): UnitResult = {
    val ((upd, dedupW, app, rebuilt, stats, curated), ns) = timed {
      val upd = tr.span("EmbeddingStore.updateSince")(
        EmbeddingStore.updateSince(t, s"$dir/store", halfMax, Some(sliceSize)))
      val w1 = upd.newWatermark
      val dedupW = tr.span("Dedup.advanceDedupState")(
        Dedup.advanceDedupState(t.documents.filter(col("doc_id") <= w1),
          s"$dir/dedup"))
      val app = tr.span("EmbeddingStore.appendToIvfIndex")(
        EmbeddingStore.appendToIvfIndex(spark, s"$dir/ivf",
          vecs.filter(col("doc_id") > halfMax && col("doc_id") <= w1)))
      val rebuilt = tr.span("EmbeddingStore.rebuildIfDrifted")(
        EmbeddingStore.rebuildIfDrifted(spark, s"$dir/ivf", threshold))
      val stats = tr.span("EmbeddingStore.indexStats")(
        EmbeddingStore.indexStats(spark, s"$dir/ivf").first())
      (upd, dedupW, app, rebuilt, stats, curation.run(tr))
    }
    val checks = Seq(
      upd.processed == sliceSize && upd.newWatermark == sliceMax,
      dedupW == sliceMax,
      app.processed == sliceSize,
      stats.getAs[Long]("n_vectors") == baseCount + sliceSize) ++
      curation.check(curated)
    val failed = checks.count(!_)
    if (failed > 0) System.err.println(s"[perfbench] daily checks: $checks")
    dayOk = failed == 0
    UnitResult("day", ns, checks.length, failed, items = upd.processed,
      rebuilds = if (rebuilt) 1 else 0)
  }

  /** The persisted state the last day left: the dedup watermark is the
    * slice's max doc_id and the doc store holds base plus slice rows. */
  override def finish(): (Int, Int) =
    if (!dayOk) (0, 0)
    else {
      val w = Dedup.stateWatermark(s"$dir/dedup")
      val n = spark.read.parquet(s"$dir/store").count()
      val failed = Seq(w == sliceMax, n == baseCount + sliceSize).count(!_)
      if (failed > 0)
        System.err.println(s"[perfbench] daily final state: watermark $w " +
          s"(want $sliceMax), store rows $n (want ${baseCount + sliceSize})")
      (2, failed)
    }

  override def layerExtras(plain: Seq[UnitResult]): Map[String, Double] =
    Map("daily.rebuilds" -> plain.map(_.rebuilds).sum.toDouble)
}

/** The LLM-data curation pass over the corpus in `t`: MinHash pairs
  * over the shared shingle stage, SimHash pairs, the quality/
  * repetition/decontamination/exact-dedup funnel and the curriculum
  * export, each collected. `ids` are the corpus's doc ids. */
final class Curation(t: Tables, ids: Set[Long]) {
  final case class Output(minhash: Array[Row], simhash: Array[Row],
      funnel: Array[Row], export: Array[Row])

  def run(tr: Tracer): Output = {
    val st = tr.span("Dedup.sharedStages")(Dedup.sharedStages(t.documents))
    Output(
      tr.span("Dedup.minhashPairs")(Dedup.minhashPairs(st).collect()),
      tr.span("Dedup.dedupSimhash")(Dedup.dedupSimhash(t).collect()),
      tr.span("TextAnalysis.pipelineFunnel")(
        TextAnalysis.pipelineFunnel(t).collect()),
      tr.span("Export.exportCurriculum")(Export.exportCurriculum(t).collect()))
  }

  /** Pairs ordered and inside the corpus; four funnel stages, each
    * reading what the previous kept, from the corpus size to a
    * non-empty output; every exported (phase, shard) read back with
    * docs and tokens, no more docs than the quality gate kept. */
  def check(o: Output): Seq[Boolean] = {
    def long(r: Row, c: String) = r.getAs[Number](c).longValue
    def pairOk(r: Row) = {
      val (a, b) = (long(r, "doc_a"), long(r, "doc_b"))
      a < b && ids(a) && ids(b)
    }
    val stages = o.funnel.map(r => (long(r, "n_in"), long(r, "n_out")))
    Seq(
      o.minhash.forall(r => pairOk(r) && r.getAs[Double]("jaccard") <= 1.0),
      o.simhash.forall(r => pairOk(r) && long(r, "hamming") <= 3),
      stages.length == 4 && stages.head._1 == ids.size &&
        stages.zip(stages.drop(1)).forall { case (a, b) => a._2 == b._1 } &&
        stages.forall { case (i, o) => o <= i } && stages.last._2 > 0,
      o.export.nonEmpty && o.export.forall(r =>
        long(r, "n_docs") > 0 && long(r, "n_tokens") > 0) &&
        o.export.map(long(_, "n_docs")).sum <= stages.head._2)
  }
}
