package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{AdvanceDay, Dedup, EmbeddingStore}
import graft.sources.Tables
import graft.streaming.{LiveDay, StreamingDataCard, StreamingDeduper, StreamingSpanDedup}

/** The COMPOSED live day: all four streaming maintenance loops drain
  * ONE multi-batch day concurrently from one drop-dir pair under one
  * checkpoint root, and the day-end persisted state equals the batch
  * day's — with the index row reconciled against `q_advance_day`'s
  * episode. The per-component reconciliations live in
  * StreamingRecoverySpec; what THIS proves is the composition:
  * concurrent streams sharing the session, the drop files and the
  * executor pool interfere with nothing. */
class LiveDaySpec extends SparkTestBase {
  import spark.implicits._

  /** Run `q` until at least `minBatches` data batches committed, then
    * stop it mid-day (the crash). */
  private def killAfter(q: org.apache.spark.sql.streaming.StreamingQuery,
      minBatches: Int): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.isActive &&
        q.recentProgress.count(_.numInputRows > 0) < minBatches) {
      assert(System.currentTimeMillis() < deadline, "no stream progress")
      Thread.sleep(50)
    }
    q.stop()
  }

  test("a stream killed mid-day resumes from ITS OWN checkpoint under a " +
    "second LiveDay.start; the composed end state is unchanged") {
    val t = Tables(spark, sfDir)
    val vectors = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
    val vecSplit = maxVec / 2
    val docs = t.documents
    val maxDoc = docs.agg(max(col("doc_id"))).first().getLong(0)
    val docSplit = maxDoc / 2

    val root = Files.createTempDirectory("graft-liveday-crash").toFile
    val docDrop = Files.createTempDirectory("graft-ldc-docs").toFile
    val vecDrop = Files.createTempDirectory("graft-ldc-vecs").toFile
    val refIdx = Files.createTempDirectory("graft-ldc-ref").toFile
    Seq(root, docDrop, vecDrop, refIdx).foreach(_.deleteOnExit())
    Dedup.buildSpanState(
      docs.filter(col("doc_id") <= docSplit).select(col("doc_id"), col("text")),
      docSplit, s"$root/spans")
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= vecSplit), s"$root/ivf")
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= vecSplit), refIdx.getAbsolutePath)

    // docs land as four files; VECTORS as EIGHT — the kill triggers
    // after >=2 committed ingest batches, so six single-file batches
    // (each a multi-second append job) remain outstanding: the stop
    // reliably lands mid-day without a timing race
    val t0 = System.currentTimeMillis()
    def drop(df: org.apache.spark.sql.DataFrame, dir: File, lo: Long,
        hi: Long, n: Int): Unit = {
      val step = math.max(1L, (hi - lo) / n)
      (0 until n).foreach { i =>
        val a = lo + i * step + 1
        val b = if (i == n - 1) Long.MaxValue - 1 else lo + (i + 1) * step
        df.filter(col("doc_id").between(a, b))
          .repartition(1).sortWithinPartitions("doc_id")
          .write.mode("append").parquet(dir.getAbsolutePath)
        new File(dir, "_SUCCESS").delete()
        dir.listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            f.lastModified() >= t0 - 1000)
          .foreach(_.setLastModified(t0 - 1000000L + 2000L * i))
      }
    }
    drop(docs, docDrop, docSplit, maxDoc, 4)
    drop(vectors, vecDrop, vecSplit, maxVec, 8)

    // day 1: the ingest CRASHES mid-day; the other three drain fully
    val h1 = LiveDay.start(spark, docDrop.getAbsolutePath,
      vecDrop.getAbsolutePath, root.getAbsolutePath,
      maxFilesPerTrigger = Some(1))
    val ingest = h1.queries.find(_._1 == "ingest").get._2
    killAfter(ingest, minBatches = 2)
    h1.queries.filterNot(_._1 == "ingest").foreach(_._2.awaitTermination())
    val partial = graft.sources.IndexCatalog.read(spark, s"$root/ivf", "cells").count()

    // day 1 resumed: a second composed start — the three finished
    // streams no-op off their checkpoints, the ingest resumes
    LiveDay.start(spark, docDrop.getAbsolutePath, vecDrop.getAbsolutePath,
      root.getAbsolutePath, maxFilesPerTrigger = Some(1)).awaitAll()

    // the crash was real and the resume completed the day
    EmbeddingStore.appendToIvfIndex(spark, refIdx.getAbsolutePath,
      vectors.filter(col("doc_id") > vecSplit))
    def cells(p: String) = graft.sources.IndexCatalog.read(spark, p, "cells")
      .select("doc_id", "cell", "gen").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val live = cells(s"$root/ivf")
    assert(partial < live.size.toLong, "kill was not mid-day")
    assert(live === cells(refIdx.getAbsolutePath))
    // nothing double-appended
    assert(graft.sources.IndexCatalog.read(spark, s"$root/ivf", "cells")
      .groupBy("doc_id").count().filter(col("count") > 1).count() === 0L)
    // the other streams' artifacts are whole too
    assert(Dedup.stateWatermark(s"$root/spans") === maxDoc)
    assert(StreamingDataCard.readCard(spark, s"$root/card")
      .agg(sum(col("n_docs"))).first().getLong(0) ===
      docs.filter(col("doc_id") > docSplit).count())
  }

  test("live day ≡ batch day: four concurrent streams, one drop dir, " +
    "index row ≡ q_advance_day, spans/card/pairs ≡ their batch folds") {
    val t = Tables(spark, sfDir)
    val docs = t.documents
    val maxDoc = docs.agg(max(col("doc_id"))).first().getLong(0)
    val docSplit = maxDoc / 2
    val vectors = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val vecSplit = vectors.agg(max(col("doc_id"))).first().getLong(0) / 2

    // today's doc arrivals: the upper half PLUS planted high-id
    // near-copies of the day's earliest docs — copies land two
    // micro-batches after their originals, so the deduper's pairs and
    // the span flags can only come from checkpoint/state carried
    // ACROSS batches (the composition working, not one lucky batch)
    val planted = docs.filter(col("doc_id") > docSplit)
      .orderBy(col("doc_id")).limit(6)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val deltaDocs = docs.filter(col("doc_id") > docSplit)
      .unionByName(planted).localCheckpoint()
    val top = deltaDocs.agg(max(col("doc_id"))).first().getLong(0)

    val root = Files.createTempDirectory("graft-liveday").toFile
    val docDrop = Files.createTempDirectory("graft-liveday-docs").toFile
    val vecDrop = Files.createTempDirectory("graft-liveday-vecs").toFile
    Seq(root, docDrop, vecDrop).foreach(_.deleteOnExit())

    // yesterday's persisted state: the D13 half/half base rule
    Dedup.buildSpanState(
      docs.filter(col("doc_id") <= docSplit).select(col("doc_id"), col("text")),
      docSplit, s"$root/spans")
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= vecSplit), s"$root/ivf")

    // the day lands as three id-RANGE files per drop dir (the
    // append-only crawl order the span contract requires); three
    // micro-batches each under maxFilesPerTrigger = 1. File mtimes
    // stamped strictly increasing so the file source's oldest-first
    // order IS the id order.
    val t0 = System.currentTimeMillis()
    def dropRanges(df: org.apache.spark.sql.DataFrame, dir: File,
        cuts: Seq[(Long, Long)]): Unit =
      cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
        df.filter(col("doc_id").between(lo, hi))
          .repartition(1).sortWithinPartitions("doc_id")
          .write.mode("append").parquet(dir.getAbsolutePath)
        new File(dir, "_SUCCESS").delete()
        dir.listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            f.lastModified() >= t0 - 1000)
          .foreach(_.setLastModified(t0 - 1000000L + 2000L * i))
      }
    def thirds(lo: Long, hi: Long): Seq[(Long, Long)] = {
      val step = math.max(1L, (hi - lo) / 3)
      Seq((lo + 1, lo + step), (lo + step + 1, lo + 2 * step),
        (lo + 2 * step + 1, Long.MaxValue - 1))
    }
    dropRanges(deltaDocs, docDrop, thirds(docSplit, maxDoc))
    val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
    dropRanges(vectors.filter(col("doc_id") > vecSplit), vecDrop,
      thirds(vecSplit, maxVec))

    // ---- the composed day: all four streams drain concurrently
    LiveDay.start(spark, docDrop.getAbsolutePath, vecDrop.getAbsolutePath,
      root.getAbsolutePath, maxFilesPerTrigger = Some(1)).awaitAll()
    // day-end gate, exactly like q_advance_day: the half-corpus
    // append trips the drift rebuild
    val rebuildRan = EmbeddingStore.rebuildIfDrifted(spark, s"$root/ivf", 0.2)
    assert(rebuildRan, "the half-corpus live append must trip the gate")

    // ---- index ≡ q_advance_day's batch episode (same base rule,
    // same delta, same gate — the live row must equal the batch row)
    val batchRow = AdvanceDay.advanceDayQuery(t).first()
    assert(batchRow.getAs[Boolean]("rebuild_ran") === rebuildRan)
    val liveStats = EmbeddingStore.indexStats(spark, s"$root/ivf").first()
    Seq("n_vectors", "n_cells", "max_cell", "cell_skew", "appended_frac",
      "mean_intra_cosine", "pq_distortion").foreach { c =>
      assert(liveStats.getAs[Any](c) === batchRow.getAs[Any](c),
        s"live index stat $c diverges from q_advance_day")
    }

    // ---- spans ≡ the one-shot batch fold over the same day
    val batchSpans = Files.createTempDirectory("graft-liveday-bspans")
    Dedup.buildSpanState(
      docs.filter(col("doc_id") <= docSplit).select(col("doc_id"), col("text")),
      docSplit, batchSpans.toString)
    val batchSpanRes = Dedup.dedupSpansIncrementalAgainst(
      deltaDocs.select(col("doc_id"), col("text")), batchSpans.toString)
      .collect().map(_.toString).toSet
    val liveSpanRes = StreamingSpanDedup.readResults(spark, s"$root/spans")
      .collect().map(_.toString).toSet
    assert(liveSpanRes === batchSpanRes)
    assert(liveSpanRes.nonEmpty, "planted copies must flag spans")
    assert(Dedup.stateWatermark(s"$root/spans") === top)

    // ---- card ≡ the batch fold over the same day, read back through
    // the SAME reader
    val refCard = Files.createTempDirectory("graft-liveday-refcard").toFile
    graft.sources.TableFormat.commitGen(
      StreamingDataCard.partials(deltaDocs), refCard.getAbsolutePath)
    val liveCard = StreamingDataCard.readCard(spark, s"$root/card")
      .collect().map(_.toString).sorted.toSeq
    val batchCard = StreamingDataCard
      .readCard(spark, refCard.getAbsolutePath)
      .collect().map(_.toString).sorted.toSeq
    assert(liveCard === batchCard && liveCard.nonEmpty)

    // ---- pairs: the concurrent run emitted exactly what an isolated
    // run over the same drop dir emits (occurrence counts included),
    // and the planted cross-batch copies were found
    val refCkpt = Files.createTempDirectory("graft-liveday-refck").toFile
    val refSink = Files.createTempDirectory("graft-liveday-refsink").toFile
    StreamingDeduper.start(spark, docDrop.getAbsolutePath,
      refCkpt.getAbsolutePath, refSink.getAbsolutePath, Some(1))
      .awaitTermination()
    def occ(dir: String) = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val livePairs = occ(s"$root/pairs")
    assert(livePairs === occ(refSink.getAbsolutePath))
    assert(livePairs.keys.exists { case (a, b) => b - a == 1000000L },
      "a planted cross-batch near-copy must surface as a pair")
  }
}
