package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{IncrementalPipeline, StreamingPacker}

/** Crash-recovery proof for the streaming surface: with a DURABLE
  * checkpoint and a transactional FILE sink, a query killed
  * mid-stream and restarted emits exactly the rows the batch rule
  * defines — no loss (keyed state and source offsets resume from the
  * checkpoint) and no duplicates (the file sink's _spark_metadata
  * commit log makes an interrupted batch's files invisible and its
  * replay idempotent). The memory-sink AvailableNow harnesses prove
  * semantics; THIS suite proves the production exactly-once story.
  */
class StreamingRecoverySpec extends SparkTestBase {
  import spark.implicits._

  /** Stamp the parquet files ADDED this iteration with a
    * deterministic, strictly increasing mtime (2 s apart), so the
    * file source's oldest-first order IS the iteration order even on
    * a coarse-mtime filesystem (a 1 s-granularity tie falls back to
    * path order, which for random part names can deliver a later id
    * range first). Already-stamped files sit BELOW `stampT0`; fresh
    * writes carry real wall-clock mtimes above it — that gap is what
    * identifies this iteration's files without extra bookkeeping.
    * (The previous idiom only bumped mtimes below a 1970-era floor
    * real files always exceed — a dead no-op.) */
  private val stampT0 = System.currentTimeMillis() - 2000000L
  private def stampBatchFiles(in: File, i: Int): Unit =
    in.listFiles().filter(f => f.getName.endsWith(".parquet") &&
        f.lastModified() > stampT0)
      .foreach(_.setLastModified(stampT0 - 1000000L + 2000L * i))

  /** Run `q` until at least `minBatches` data batches committed, then
    * kill it (stop() interrupts whatever batch is in flight — the
    * crash). Fails the test if no progress within 120 s. */
  private def killAfter(q: StreamingQuery, minBatches: Int): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.isActive &&
        q.recentProgress.count(_.numInputRows > 0) < minBatches) {
      Thread.sleep(20)
      assert(System.currentTimeMillis() < deadline,
        s"stream made no progress: ${q.recentProgress.length} batches")
    }
    if (q.isActive) q.stop()
    q.awaitTermination()
  }

  private val tokenRe =
    java.util.regex.Pattern.compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")
  private def ntOf(text: String): Long = {
    val m = tokenRe.matcher(text); var n = 0L; while (m.find()) n += 1; n
  }

  test("packer: killed mid-stream and restarted, emitted bins equal the batch rule") {
    val in = Files.createTempDirectory("graft-rec-in").toFile
    val sink = Files.createTempDirectory("graft-rec-sink").toFile
    val ckpt = Files.createTempDirectory("graft-rec-ckpt").toFile
    Seq(in, sink, ckpt).foreach(_.deleteOnExit())

    val rnd = new scala.util.Random(11)
    val docs = (0L until 600L).map { i =>
      (s"s${i % 2}", i, Seq.fill(150 + rnd.nextInt(300))("w").mkString(" "))
    }
    // 12 single-part files in doc_id order; mtimes strictly increase
    // so the file source's batch order IS the id order the batch rule
    // packs in (maxFilesPerTrigger=1 => one file per micro-batch)
    docs.grouped(50).zipWithIndex.foreach { case (slice, i) =>
      slice.toDF("source", "doc_id", "text")
        .repartition(1).sortWithinPartitions("doc_id")
        .write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
      stampBatchFiles(in, i)
    }

    def start(): StreamingQuery =
      StreamingPacker.sequences(spark, in.getAbsolutePath, Some(1))
        .writeStream
        .format("parquet")
        .option("path", sink.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()

    // run 1: crash after >= 2 committed batches, mid-stream
    killAfter(start(), minBatches = 2)
    val partial = spark.read.parquet(sink.getAbsolutePath).count()

    // run 2: restart from the checkpoint, drain to completion
    val q2 = start()
    q2.awaitTermination()
    val finalRows = spark.read.parquet(sink.getAbsolutePath)
      .select("source", "seq_idx", "n_docs_started").collect()
    assert(partial < finalRows.length,
      s"kill was not mid-stream: $partial of ${finalRows.length} rows already emitted")

    // no duplicates: (source, seq_idx) is a key
    val keys = finalRows.map(r => (r.getString(0), r.getLong(1)))
    assert(keys.distinct.length === keys.length, "duplicate sequences emitted")

    // no loss + state continuity across the kill: bins equal the
    // batch concat-and-chunk rule exactly (a sequence OPEN at the
    // kill point must keep filling after the restart)
    val got = finalRows
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    docs.groupBy(_._1).foreach { case (source, ds) =>
      val nts = ds.sortBy(_._2).map(d => ntOf(d._3))
      val starts = nts.scanLeft(0L)(_ + _).init
      val nClosed = nts.sum / StreamingPacker.seqLen
      val startedPerBin = starts.map(_ / StreamingPacker.seqLen)
        .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
      (0L until nClosed).foreach { b =>
        assert(got.get((source, b)).contains(startedPerBin.getOrElse(b, 0L)),
          s"$source seq $b docs_started")
      }
      assert(!got.contains((source, nClosed)),
        s"$source open partial sequence must not be emitted")
      assert(got.keys.count(_._1 == source) === nClosed,
        s"$source emitted bin count")
    }
  }

  test("hourly windows: killed mid-stream and restarted, closed windows emitted exactly once") {
    val in = Files.createTempDirectory("graft-recw-in").toFile
    val sink = Files.createTempDirectory("graft-recw-sink").toFile
    val ckpt = Files.createTempDirectory("graft-recw-ckpt").toFile
    Seq(in, sink, ckpt).foreach(_.deleteOnExit())

    // 600 events, 3 min apart => ~30 h of event time; the last event
    // lands mid-hour so the final watermark (max ts - 2 h) is never
    // exactly on a window boundary
    val n = 600
    val events = spark.range(n.toLong).select(
      col("id").as("event_id"),
      expr("timestamp_ntz'2024-01-01 00:00:00' + " +
        "make_dt_interval(0, 0, 0, id * 180)").as("ts"),
      concat(lit("t"), pmod(col("id"), lit(3))).as("event_type"))
    // 12 files in ts order with increasing mtimes, like the packer test
    (0 until 12).foreach { i =>
      events.filter(col("event_id") >= i * 50 && col("event_id") < (i + 1) * 50)
        .repartition(1).sortWithinPartitions("event_id")
        .write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
      stampBatchFiles(in, i)
    }

    def start(): StreamingQuery =
      IncrementalPipeline.hourlyCounts(spark, in.getAbsolutePath, Some(1))
        .writeStream
        .format("parquet")
        .option("path", sink.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()

    killAfter(start(), minBatches = 2)
    val q2 = start()
    q2.awaitTermination()

    val finalRows = spark.read.parquet(sink.getAbsolutePath).collect()
    // exactly once: (hour_start, event_type) is a key
    val keys = finalRows.map(r => (r.get(0).toString, r.getString(1)))
    assert(keys.distinct.length === keys.length, "duplicate windows emitted")

    // append mode emits exactly the windows the final watermark
    // closed: window end <= max event ts - 2 h; counts equal batch
    val maxTsSec = (n - 1).toLong * 180
    val wmSec = maxTsSec - 2 * 3600
    // hour h is closed iff its END fits under the watermark:
    // (h+1)*3600 <= wmSec
    val lastClosedHour = (wmSec - 3600) / 3600
    val expected = (0L until n.toLong)
      .map(i => (i * 180 / 3600, s"t${i % 3}"))
      .filter(_._1 <= lastClosedHour)
      .groupBy(identity).map { case ((h, et), xs) =>
        (java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(h), et) ->
          xs.length.toLong
      }
    val got = finalRows.map { r =>
      (r.getAs[java.time.LocalDateTime](0), r.getString(1)) -> r.getLong(2)
    }.toMap
    assert(got === expected,
      s"closed-window set/counts diverge (expected ${expected.size} windows, got ${got.size})")
  }

  test("near-dup deduper: killed mid-stream and restarted, pairs equal the uninterrupted run") {
    import graft.streaming.StreamingDeduper
    val t = graft.sources.Tables(spark, sfDir)
    // base docs + planted near-copies of EARLY docs carrying high ids,
    // so real pairs span micro-batch boundaries (file order = id
    // order) and only checkpoint-carried bucket state can find them
    // after a restart
    val base = t.documents.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val copies = base.take(12).map { case (id, text) =>
      (id + 100000L, text + " streamed tail")
    }
    val docs = base ++ copies

    val in = Files.createTempDirectory("graft-recd-in").toFile
    val ckpt = Files.createTempDirectory("graft-recd-ckpt").toFile
    val sink = Files.createTempDirectory("graft-recd-sink").toFile
    val ckptRef = Files.createTempDirectory("graft-recd-ckpt2").toFile
    val sinkRef = Files.createTempDirectory("graft-recd-sink2").toFile
    Seq(in, ckpt, sink, ckptRef, sinkRef).foreach(_.deleteOnExit())
    docs.grouped((docs.length + 11) / 12).zipWithIndex.foreach { case (slice, i) =>
      slice.toSeq.toDF("doc_id", "text")
        .repartition(1).sortWithinPartitions("doc_id")
        .write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
      stampBatchFiles(in, i)
    }

    // crashed run: kill after >= 2 committed batches, resume, drain
    killAfter(StreamingDeduper.start(spark, in.getAbsolutePath,
      ckpt.getAbsolutePath, sink.getAbsolutePath, Some(1)), minBatches = 2)
    val partial = spark.read.parquet(sink.getAbsolutePath).count()
    StreamingDeduper.start(spark, in.getAbsolutePath,
      ckpt.getAbsolutePath, sink.getAbsolutePath, Some(1)).awaitTermination()
    // uninterrupted reference run over the same input
    StreamingDeduper.start(spark, in.getAbsolutePath,
      ckptRef.getAbsolutePath, sinkRef.getAbsolutePath, Some(1))
      .awaitTermination()

    def emitted(dir: File): Seq[(Long, Long, Double)] =
      spark.read.parquet(dir.getAbsolutePath).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val recovered = emitted(sink)
    val reference = emitted(sinkRef)
    assert(reference.nonEmpty, "planted copies must make real pairs")
    assert(partial < recovered.size.toLong,
      s"kill was not mid-stream: $partial of ${recovered.size} rows already emitted")
    // pair SET identical — no loss (bucket state resumed, so pairs
    // whose sides straddle the kill point are still found) ...
    assert(recovered.toSet === reference.toSet,
      s"recovered/uninterrupted divergence: " +
        s"only-recovered=${(recovered.toSet -- reference.toSet).take(5)} " +
        s"only-reference=${(reference.toSet -- recovered.toSet).take(5)}")
    // ... and no duplicates: the file sink's commit log makes the
    // interrupted batch's replay idempotent, so every pair's
    // OCCURRENCE COUNT (legitimate multi-bucket re-emissions
    // included) matches the uninterrupted run exactly
    def occ(xs: Seq[(Long, Long, Double)]) =
      xs.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(occ(recovered) === occ(reference),
      "emission multiplicities diverge from the uninterrupted run")
  }

  test("vector ingest: streamed appends equal one-shot batch append; resume appends nothing") {
    import graft.operators.EmbeddingStore
    import graft.streaming.StreamingVectorIngest
    val t = graft.sources.Tables(spark, sfDir)
    val vectors = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    val split = vectors.agg(max(col("doc_id"))).first().getLong(0) / 2

    val idxStream = Files.createTempDirectory("graft-vi-idx").toFile
    val idxBatch = Files.createTempDirectory("graft-vi-idxb").toFile
    val in = Files.createTempDirectory("graft-vi-in").toFile
    val ckpt = Files.createTempDirectory("graft-vi-ckpt").toFile
    Seq(idxStream, idxBatch, in, ckpt).foreach(_.deleteOnExit())
    // identical half-corpus base on both sides
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= split), idxStream.getAbsolutePath)
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= split), idxBatch.getAbsolutePath)

    // the delta lands as three separate files — three micro-batches
    // under maxFilesPerTrigger = 1
    val delta = vectors.filter(col("doc_id") > split)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    delta.grouped((delta.length + 2) / 3).foreach { slice =>
      slice.toSeq.toDF("doc_id", "embedding")
        .repartition(1).write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
    }

    StreamingVectorIngest.run(spark, in.getAbsolutePath,
      idxStream.getAbsolutePath, ckpt.getAbsolutePath,
      availableNow = true, maxFilesPerTrigger = Some(1)).awaitTermination()
    EmbeddingStore.appendToIvfIndex(spark, idxBatch.getAbsolutePath,
      vectors.filter(col("doc_id") > split))

    // assignment uses the persisted centroids and PQ the persisted
    // codebooks, both fixed — so three micro-batch appends must land
    // byte-identical facts to the one-shot append
    def cells(d: File) = graft.sources.IndexCatalog.read(spark, d.getAbsolutePath, "cells")
      .select("doc_id", "cell", "gen").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    def codes(d: File) = graft.sources.IndexCatalog.read(spark, d.getAbsolutePath, "pq_codes")
      .select("doc_id", "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(cells(idxStream) === cells(idxBatch))
    assert(codes(idxStream) === codes(idxBatch))

    // resume over the same checkpoint: the file source remembers the
    // processed files and the batchId guard skips replays — nothing
    // double-appends
    val before = graft.sources.IndexCatalog.read(spark, idxStream.getAbsolutePath, "cells").count()
    StreamingVectorIngest.run(spark, in.getAbsolutePath,
      idxStream.getAbsolutePath, ckpt.getAbsolutePath,
      availableNow = true, maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(graft.sources.IndexCatalog.read(spark, idxStream.getAbsolutePath, "cells").count() === before)
    // and every vector appears exactly once
    val perDoc = graft.sources.IndexCatalog.read(spark, idxStream.getAbsolutePath, "cells")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(perDoc === 0L, "a doc_id was appended more than once")
  }

  test("StreamingDataCard: three micro-batches fold to the exact batch " +
    "card; a checkpoint resume folds nothing") {
    import graft.streaming.StreamingDataCard
    val t = graft.sources.Tables(spark, sfDir)
    val in = Files.createTempDirectory("graft-card-in").toFile
    val card = Files.createTempDirectory("graft-card-state").toFile
    val ckpt = Files.createTempDirectory("graft-card-ckpt").toFile
    val ref = Files.createTempDirectory("graft-card-ref").toFile
    Seq(in, card, ckpt, ref).foreach(_.deleteOnExit())
    // pre-ingest read: an empty card, not a missing-path error
    assert(StreamingDataCard.readCard(spark, card.getAbsolutePath)
      .collect().isEmpty)
    // the corpus lands as three separate files — three micro-batches
    // under maxFilesPerTrigger = 1
    (0 until 3).foreach { k =>
      t.documents.filter(pmod(col("doc_id"), lit(3)) === k)
        .repartition(1).write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
    }
    StreamingDataCard.run(spark, in.getAbsolutePath, card.getAbsolutePath,
      ckpt.getAbsolutePath, availableNow = true, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    // expected card: the SAME fold rule over the whole corpus in one
    // batch pass, read back through the SAME readCard path (so
    // rounding/ordering can't diverge between the two sides)
    graft.sources.TableFormat.commitGen(
      StreamingDataCard.partials(t.documents), ref.getAbsolutePath)
    def rows(dir: File) =
      StreamingDataCard.readCard(spark, dir.getAbsolutePath).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5), r.getString(6))).toSeq
    assert(rows(card).nonEmpty)
    assert(rows(card) === rows(ref))
    // INDEPENDENT reconciliation: the live card's shared columns —
    // language mix included — equal F16's batch data card over the
    // same corpus (dup_rate is the one column the card can't fold)
    val profile = graft.operators.TextAnalysis.sourceProfile(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getAs[Long]("n_langs"), r.getAs[String]("top_lang")))
      .toSeq
    assert(rows(card) === profile,
      "the streamed card must equal the batch data card column-for-column")
    // resume over the same checkpoint: the file source remembers the
    // processed files; the card must not double-fold
    StreamingDataCard.run(spark, in.getAbsolutePath, card.getAbsolutePath,
      ckpt.getAbsolutePath, availableNow = true, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    assert(rows(card) === rows(ref), "resume double-folded the card")
  }

  test("StreamingSpanDedup: killed mid-stream and restarted, the streamed " +
    "union still equals batch span dedup with no duplicates") {
    import spark.implicits._
    import graft.streaming.StreamingSpanDedup
    import graft.operators.Dedup
    val t = graft.sources.Tables(spark, sfDir)
    val base = t.documents.select(col("doc_id"), col("text")).localCheckpoint()
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    val in = Files.createTempDirectory("graft-span-kill-in").toFile
    val state = Files.createTempDirectory("graft-span-kill-state")
    val ckpt = Files.createTempDirectory("graft-span-kill-ckpt").toFile
    Dedup.buildSpanState(base.filter(lit(false)), -1L, state.toString)
    // six id-range files with increasing mtimes (the packer drill's
    // ordering discipline) => six micro-batches
    val step = maxId / 6 + 1
    (0 until 6).foreach { i =>
      base.filter(col("doc_id").between(i * step, (i + 1) * step - 1))
        .repartition(1).write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
      stampBatchFiles(in, i)
    }
    def start() = StreamingSpanDedup.run(spark, in.getAbsolutePath,
      state.toString, ckpt.getAbsolutePath, availableNow = true,
      maxFilesPerTrigger = Some(1))
    // run 1: crash after >= 2 committed batches. Two CORRECT
    // outcomes exist for run 2 — silent corruption is the only
    // failure: the kill usually lands between batches and the
    // resume drains cleanly; a kill INSIDE advanceSpanState leaves
    // the _ADVANCING bracket, and the resume must then FAIL LOUD
    // (the documented plain-filesystem crash window — a
    // transactional table format closes it), never serve a
    // half-advanced state.
    killAfter(start(), minBatches = 2)
    val resumed =
      try { start().awaitTermination(); true }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          def chain(t: Throwable): Seq[String] =
            if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
          assert(chain(e).exists(_.contains("interrupted advance")),
            s"resume failed for a reason other than the documented " +
              s"_ADVANCING window: ${chain(e).mkString(" | ")}")
          false
      }
    if (resumed) {
      val streamed = StreamingSpanDedup.readResults(spark, state.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3)))
      // exactly-once: one result row per doc across ALL batch dirs —
      // a replayed batch must have overwritten its own output, never
      // appended beside it
      assert(streamed.map(_._1).distinct.length === streamed.length,
        "a replayed batch duplicated results")
      assert(streamed.toSet === Dedup.dedupSpans(t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet, "kill+resume diverged from one-shot batch span dedup")
      assert(Dedup.stateWatermark(state.toString) === maxId)
    }
  }

  test("StreamingSpanDedup: id-ordered micro-batches reproduce full batch " +
    "span dedup; a checkpoint resume reprocesses nothing") {
    import spark.implicits._
    import graft.streaming.StreamingSpanDedup
    import graft.operators.Dedup
    val t = graft.sources.Tables(spark, sfDir)
    val base = t.documents.select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).first().getLong(0)
    // plant a HIGH-id verbatim copy of a LOW-id doc: only the folded
    // gram state can flag it (the copy arrives two batches later)
    val copy = base.filter(col("doc_id") === 1)
      .select(lit(maxId + 9).as("doc_id"), col("text"))
    val docs = base.unionByName(copy).localCheckpoint()
    val top = maxId + 9

    val in = Files.createTempDirectory("graft-span-stream-in").toFile
    val state = Files.createTempDirectory("graft-span-stream-state")
    val ckpt = Files.createTempDirectory("graft-span-stream-ckpt").toFile
    // empty bootstrap state (watermark -1): the stream IS the corpus
    Dedup.buildSpanState(docs.filter(lit(false)), -1L, state.toString)
    // three id-RANGE files — the append-only daily-crawl order the
    // contract requires (an id-interleaved split would change which
    // occurrence is "first")
    val cuts = Seq((0L, top / 3), (top / 3 + 1, 2 * top / 3), (2 * top / 3 + 1, top))
    cuts.foreach { case (lo, hi) =>
      docs.filter(col("doc_id").between(lo, hi))
        .repartition(1).write.mode("append").parquet(in.getAbsolutePath)
      new File(in, "_SUCCESS").delete()
    }
    StreamingSpanDedup.run(spark, in.getAbsolutePath, state.toString,
      ckpt.getAbsolutePath, availableNow = true, maxFilesPerTrigger = Some(1))
      .awaitTermination()

    def streamed = StreamingSpanDedup.readResults(spark, state.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val dir2 = Files.createTempDirectory("graft-span-stream-full").toFile
    docs.write.mode("overwrite").parquet(s"${dir2.getAbsolutePath}/documents.parquet")
    val full = Dedup.dedupSpans(graft.sources.Tables(spark, dir2.getAbsolutePath))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === full,
      "the streamed union must equal one-shot batch span dedup")
    assert(streamed.exists(_._1 === top),
      "the cross-batch copy must be flagged through the folded state")
    // the state folded every batch: watermark at the top id
    assert(Dedup.stateWatermark(state.toString) === top)

    // resume over the same checkpoint: nothing reprocessed, results
    // and state unchanged
    val before = streamed
    StreamingSpanDedup.run(spark, in.getAbsolutePath, state.toString,
      ckpt.getAbsolutePath, availableNow = true, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    assert(streamed === before, "a resume must not change the results")
    assert(Dedup.stateWatermark(state.toString) === top)
  }

  test("versioned-table sink: a table BEHIND its checkpoint fails " +
    "LOUDLY — a replay skip is only legal when the table is PAST the " +
    "batch, never when it was restored to an older state") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val root = new File(
      Files.createTempDirectory("graft-vsink-behind").toFile, "table")
      .getAbsolutePath
    val schema = StructType.fromDDL("k LONG, v LONG")
    StreamingVersionedSink.init(spark, root, schema, "k") // table at gen 0
    val batch = Seq((1L, 10L)).toDF("k", "v")
    // the checkpoint delivers batch 2: the table is BEHIND (a root
    // restored from backup while the checkpoint survived) — silently
    // returning false here would drop every batch from now on
    val ex = intercept[IllegalArgumentException] {
      StreamingVersionedSink.commitBatch(root, schema, "k")(batch, 2L)
    }
    assert(ex.getMessage.contains("BEHIND"), ex.getMessage)
    assert(TableFormat.currentGen(root) === 0L)
    // batch 0 commits normally; a batch the table is PAST still skips
    assert(StreamingVersionedSink.commitBatch(root, schema, "k")(batch, 0L))
    assert(!StreamingVersionedSink.commitBatch(root, schema, "k")(batch, 0L))
  }

  test("versioned-table sink: a RESET checkpoint against a live table " +
    "fails LOUDLY under the same appId (never a silent no-op of every " +
    "new batch), and the derived appId rotates with the checkpoint " +
    "location so 'start over' just works") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val root = new File(
      Files.createTempDirectory("graft-vsink-reset").toFile, "table")
      .getAbsolutePath
    val schema = StructType.fromDDL("k LONG, v LONG")
    StreamingVersionedSink.init(spark, root, schema, "k")
    def commit(id: String, b: Long, rows: Seq[(Long, Long)]) =
      StreamingVersionedSink.commitBatch(root, schema, "k", id)(
        rows.toDF("k", "v"), b)
    // writer A runs batches 0 and 1
    assert(commit("writerA", 0L, Seq((1L, 10L))))
    assert(commit("writerA", 1L, Seq((2L, 20L))))
    // the operator deletes/recreates writer A's checkpoint: batch ids
    // restart at 0 while the table's lineage carries batch 1 — the
    // pre-round-18 behavior silently dropped EVERY new batch forever;
    // now it refuses with the fresh-appId instruction
    val ex = intercept[IllegalArgumentException] {
      commit("writerA", 0L, Seq((3L, 30L)))
    }
    assert(ex.getMessage.contains("fresh appId"), ex.getMessage)
    assert(TableFormat.currentGen(root) === 2L, "the refusal committed")
    // a FRESH identity (what a new checkpoint location derives) starts
    // at batch 0 over the existing table and merges normally
    assert(commit("writerB", 0L, Seq((3L, 30L))))
    assert(TableFormat.readViaManifest(spark, root,
      TableFormat.currentGen(root), schema).count() === 3L)
    // derivation: distinct checkpoint locations → distinct writers;
    // the SAME location (however spelled) → the same writer
    val a = StreamingVersionedSink.appIdFor("/tmp/ckpt-a")
    val b = StreamingVersionedSink.appIdFor("/tmp/ckpt-b")
    assert(a !== b)
    assert(StreamingVersionedSink.appIdFor("/tmp/./ckpt-a/") === a)
    // replay under the true identity still dedups
    assert(!commit("writerA", 1L, Seq((9L, 99L))))
  }

  test("versioned-table sink: micro-batches commit as OCC generations — " +
    "killed mid-stream and resumed never double-commits, a literal " +
    "replayed batch is a no-op, and every mid-stream generation " +
    "time-travels intact") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("graft-vsink-in").toFile
    val root = new File(
      Files.createTempDirectory("graft-vsink-tbl").toFile, "table")
      .getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vsink-ckpt").toFile
    val schema = StructType.fromDDL("k LONG, v LONG")
    var i = 0
    def land(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("k", "v").coalesce(1).write.mode("append")
        .parquet(in.getAbsolutePath)
      stampBatchFiles(in, i); i += 1
    }
    land(Seq((1L, 10L), (2L, 20L)))
    land(Seq((2L, 21L), (3L, 30L))) // update + insert
    land(Seq((4L, 40L)))

    // phase 1: continuous trigger, KILLED after >=2 committed batches
    // (stop() interrupts whatever batch is in flight — the crash)
    val q = StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k",
      maxFilesPerTrigger = Some(1))
    killAfter(q, 2)
    // phase 2: resume over the SAME checkpoint drains the rest; a
    // replay of the interrupted batch must skip, not double-commit
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(TableFormat.currentGen(root) === 3L,
      "3 single-file batches must land exactly 3 generations")
    // generations are MANIFESTED (scoped commits carry untouched
    // files by reference), so a pinned read goes via the manifest
    def gen(g: Long) = TableFormat.readViaManifest(spark, root, g, schema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // H12 mid-stream time travel: every prefix state intact
    assert(gen(0L) === Seq.empty)
    assert(gen(1L) === Seq((1L, 10L), (2L, 20L)))
    assert(gen(2L) === Seq((1L, 10L), (2L, 21L), (3L, 30L)))
    assert(gen(3L) === Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 40L)))

    // a literal at-least-once REDELIVERY of an old batch id is a
    // no-op: pointer unmoved, committed data untouched (the run()
    // stream's writer identity derives from its checkpoint location)
    val replay = Seq((9L, 99L)).toDF("k", "v")
    assert(!StreamingVersionedSink.commitBatch(root, schema, "k",
      StreamingVersionedSink.appIdFor(ckpt.getAbsolutePath))(replay, 2L))
    assert(TableFormat.currentGen(root) === 3L)
    assert(gen(3L) === Seq((1L, 10L), (2L, 21L), (3L, 30L), (4L, 40L)))

    // resume with NEW deltas over the same checkpoint: batch ids and
    // generations continue the sequence; batch ≡ stream on the union
    land(Seq((1L, 11L)))
    land(Seq((5L, 50L)))
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(TableFormat.currentGen(root) === 5L)
    assert(gen(5L) ===
      Seq((1L, 11L), (2L, 21L), (3L, 30L), (4L, 40L), (5L, 50L)),
      "final state must equal the batch latest-wins replay of all deltas")
    // the stream's retention composes: the one reachability sweep
    // keeps every file a retained generation carries by reference
    assert(TableFormat.vacuumTable(spark, root, keep = 2).gens ===
      (0L to 3L))
    assert(gen(5L) ===
      Seq((1L, 11L), (2L, 21L), (3L, 30L), (4L, 40L), (5L, 50L)),
      "the current generation must read intact through retained storage")
    // gen 4 = the state after batches 0-3 (k=5 hasn't arrived yet),
    // still pinned-readable through carried storage post-sweep
    assert(gen(4L) === Seq((1L, 11L), (2L, 21L), (3L, 30L), (4L, 40L)))
  }

  test("versioned-table sink: MAINTENANCE INTERLEAVES with the " +
    "stream — a purge and an OPTIMIZE commit generations between " +
    "batches, the resumed stream neither double-applies nor drops a " +
    "batch (txn lineage, not generation ids), and pre-maintenance " +
    "generations still time-travel") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("graft-vmx-in").toFile
    val root = new File(
      Files.createTempDirectory("graft-vmx-tbl").toFile, "table")
      .getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vmx-ckpt").toFile
    val schema = StructType.fromDDL("k LONG, v LONG")
    new File(root).mkdirs()
    TableFormat.commitGenManifested(
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 10).as("v"))
        .repartitionByRange(10, col("k")),
      root, Seq("k"))
    var i = 0
    def land(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("k", "v").coalesce(1).write.mode("append")
        .parquet(in.getAbsolutePath)
      stampBatchFiles(in, i); i += 1
    }
    land(Seq((5L, 1L)))
    land(Seq((6L, 2L)))
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(TableFormat.currentGen(root) === 2L) // batches 0,1

    // FOREIGN writers commit between the stream's batches: a takedown
    // purge and a compaction — the jobs a real table runs alongside
    // its stream
    TableFormat.purgeScoped(spark, root, Seq(700L).toDF("k"), schema, "k")
    TableFormat.optimize(spark, root, schema,
      smallRows = 50L, targetRows = 600L)
    assert(TableFormat.currentGen(root) === 4L)

    land(Seq((7L, 3L)))
    land(Seq((8L, 4L)))
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(TableFormat.currentGen(root) === 6L,
      "batches 2,3 must land on TOP of the maintenance generations")
    val fin = TableFormat.readViaManifest(spark, root, 6L, schema)
    assert(fin.count() === 999L) // 1000 keys minus the purged one
    assert(fin.filter(col("k") === 700L).isEmpty, "the purge was undone")
    Seq(5L -> 1L, 6L -> 2L, 7L -> 3L, 8L -> 4L).foreach { case (k, v) =>
      assert(fin.filter(col("k") === k).select("v")
        .first().getLong(0) === v, s"batch update of $k lost")
    }
    // a literal redelivery of an already-applied batch is a no-op
    // even though generation ids moved past its batch id long ago
    assert(!StreamingVersionedSink.commitBatch(root, schema, "k",
      StreamingVersionedSink.appIdFor(ckpt.getAbsolutePath))(
      Seq((9L, 99L)).toDF("k", "v"), 3L))
    assert(TableFormat.currentGen(root) === 6L)
    // pre-maintenance time travel: the purged key is still visible
    // in the generation batch 1 committed
    assert(TableFormat.readViaManifest(spark, root, 2L, schema)
      .filter(col("k") === 700L).count() === 1L)
  }

  test("versioned-table sink: txn lineage SURVIVES maintenance plus " +
    "aggressive retention — a foreign commit carries the stream's " +
    "records forward, so vacuum keep=1 cannot strand the stream " +
    "behind its own replay horizon") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val root = new File(
      Files.createTempDirectory("graft-vtxn-tbl").toFile, "table")
      .getAbsolutePath
    val schema = StructType.fromDDL("k LONG, v LONG")
    StreamingVersionedSink.init(spark, root, schema, "k")
    def commit(rows: Seq[(Long, Long)], b: Long) =
      StreamingVersionedSink.commitBatch(root, schema, "k")(
        rows.toDF("k", "v"), b)
    assert(commit(Seq((1L, 10L)), 0L))
    assert(commit(Seq((2L, 20L)), 1L))
    // a FOREIGN maintenance commit (no txn of its own) lands newest
    TableFormat.optimize(spark, root, schema,
      smallRows = 1000L, targetRows = 1000L)
    assert(TableFormat.lastTxn(root, "vsink") === Some(1L),
      "the optimize commit must carry the stream's record forward")
    // the most aggressive retention reaps every txn-bearing batch gen
    TableFormat.vacuumTable(spark, root, keep = 1)
    assert(TableFormat.lastTxn(root, "vsink") === Some(1L),
      "vacuum keep=1 stranded the stream's lineage")
    // the stream continues: replay still dedups, the next batch lands
    assert(!commit(Seq((9L, 90L)), 1L), "replay dedup lost after vacuum")
    assert(commit(Seq((3L, 30L)), 2L))
    val fin = TableFormat.readViaManifest(spark, root,
      TableFormat.currentGen(root), schema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fin === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("versioned-table sink: a FULL single-writer re-commit carries " +
    "the stream's txn records forward too, so vacuum keep=1 after it " +
    "keeps the stream's lineage") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val root = new File(
      Files.createTempDirectory("graft-vfull-tbl").toFile, "table")
      .getAbsolutePath
    val schema = StructType.fromDDL("k LONG, v LONG")
    StreamingVersionedSink.init(spark, root, schema, "k")
    def commit(rows: Seq[(Long, Long)], b: Long) =
      StreamingVersionedSink.commitBatch(root, schema, "k")(
        rows.toDF("k", "v"), b)
    assert(commit(Seq((1L, 10L)), 0L))
    assert(commit(Seq((2L, 20L)), 1L))
    // a backfill rewrites the whole table through the single-writer verb
    val full = TableFormat.readViaManifest(spark, root,
      TableFormat.currentGen(root), schema)
      .unionByName(Seq((3L, 30L)).toDF("k", "v"))
    assert(TableFormat.commitGenManifested(full, root, Seq("k")) === 3L)
    TableFormat.vacuumTable(spark, root, keep = 1)
    assert(TableFormat.lastTxn(root, "vsink") === Some(1L),
      "a full re-commit plus vacuum keep=1 stranded the stream's lineage")
    // replay still dedups and the next batch lands on the backfill
    assert(!commit(Seq((9L, 90L)), 1L))
    assert(commit(Seq((4L, 40L)), 2L))
    val fin = TableFormat.readViaManifest(spark, root,
      TableFormat.currentGen(root), schema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fin === Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("versioned-table sink: optimizeEvery folds the stream's " +
    "small-file accretion in-line — fragmentation stays bounded and " +
    "the data is untouched") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("graft-vopt-in").toFile
    val root = new File(
      Files.createTempDirectory("graft-vopt-tbl").toFile, "table")
      .getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vopt-ckpt").toFile
    val schema = StructType.fromDDL("k LONG, v LONG")
    var i = 0
    def land(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("k", "v").coalesce(1).write.mode("append")
        .parquet(in.getAbsolutePath)
      stampBatchFiles(in, i); i += 1
    }
    (1 to 6).foreach(n => land(Seq((n.toLong, n.toLong * 10))))
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1), optimizeEvery = Some(2),
      optimizeSmallRows = 1000L, optimizeTargetRows = 1000L)
      .awaitTermination()
    // 6 batch commits + 3 in-line optimize commits (after batches
    // 1, 3, 5)
    assert(TableFormat.currentGen(root) === 9L)
    val cur = TableFormat.currentGen(root)
    assert(TableFormat.readManifest(spark, root, cur).count() === 1L,
      "the post-optimize manifest must be one compacted file")
    val fin = TableFormat.readViaManifest(spark, root, cur, schema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fin === (1 to 6).map(n => (n.toLong, n.toLong * 10)))
  }

  test("versioned-table sink commits are SCOPED: against a preloaded " +
    "many-file base table, each micro-batch rewrites only the files " +
    "its keys touch and carries the rest by reference") {
    import graft.streaming.StreamingVersionedSink
    import graft.sources.TableFormat
    import org.apache.spark.sql.types.StructType
    val in = Files.createTempDirectory("graft-vscope-in").toFile
    val root = new File(
      Files.createTempDirectory("graft-vscope-tbl").toFile, "table")
      .getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vscope-ckpt").toFile
    val schema = StructType.fromDDL("k LONG, v LONG")
    // base: 1000 keys range-clustered into 10 tight files = gen 0
    new File(root).mkdirs()
    TableFormat.commitGenManifested(
      spark.range(0, 1000).select(col("id").as("k"), (col("id") * 10).as("v"))
        .repartitionByRange(10, col("k")),
      root, Seq("k"))
    // three single-key deltas land as three micro-batches
    var i = 0
    def land(rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("k", "v").coalesce(1).write.mode("append")
        .parquet(in.getAbsolutePath)
      stampBatchFiles(in, i); i += 1
    }
    land(Seq((5L, 999L)))    // update inside file 0's range
    land(Seq((955L, 888L)))  // update inside file 9's range
    land(Seq((5000L, 1L)))   // insert beyond every range
    StreamingVersionedSink.run(spark, in.getAbsolutePath, root,
      ckpt.getAbsolutePath, schema, "k", availableNow = true,
      maxFilesPerTrigger = Some(1)).awaitTermination()
    assert(TableFormat.currentGen(root) === 3L)
    // per generation: files REWRITTEN live in the generation's own
    // dir; carried ones point elsewhere — SCALING.md §20's scoped
    // rewrite at the sink (per-batch cost O(delta-touched), not O(table))
    (1L to 3L).foreach { g =>
      val files = TableFormat.readManifest(spark, root, g)
        .select(col("file")).collect().map(_.getString(0))
      val own = files.count(_.contains(s"gen_${g}_"))
      val carried = files.length - own
      assert(own <= 3, s"gen $g rewrote $own files for a 1-key delta")
      assert(carried >= 9,
        s"gen $g carried only $carried of ${files.length} files")
    }
    // and the data is right: latest-wins state equals the batch replay
    val got = TableFormat.readViaManifest(spark, root, 3L, schema)
    assert(got.count() === 1001L)
    assert(got.filter(col("k") === 5L).select("v")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
    assert(got.filter(col("k") === 955L).select("v")
      .collect().map(_.getLong(0)).toSeq === Seq(888L))
    assert(got.filter(col("k") === 5000L).count() === 1L)
    // mid-stream time travel through carried storage: gen 1 pins the
    // state after batch 0 only
    val g1 = TableFormat.readViaManifest(spark, root, 1L, schema)
    assert(g1.filter(col("k") === 5L).select("v")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
    assert(g1.filter(col("k") === 955L).select("v")
      .collect().map(_.getLong(0)).toSeq === Seq(9550L))
    assert(g1.filter(col("k") === 5000L).count() === 0L)
  }
}
