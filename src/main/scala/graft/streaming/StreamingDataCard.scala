package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.words
import graft.operators.TextAnalysis

/** LIVE data-card maintenance — the streaming sibling of F16's
  * per-source data card (`q_source_profile`): as document files land
  * in a drop directory, each micro-batch folds its per-source
  * partials (doc count, token volume, quality micro-sums) into a
  * persisted card table, so the "what is in this corpus" audit is
  * continuously current instead of a nightly batch job (the
  * reference's stats entry point, engine.py:228, served live).
  *
  * Spark-first, the poll loop disappears: `readStream` over the drop
  * dir IS the incremental scan, and the per-source partials are the
  * SAME additive integer sums batch uses — tokens = F3's whitespace
  * rule, quality = F2's [[TextAnalysis.qualityExpr]] in integer
  * micro-units (empty-text NULLs drop from sum AND count), so the
  * folded card equals a batch recompute over everything ingested,
  * exactly (StreamingRecoverySpec reconciles column-for-column
  * against F16's own data card, language mix included: the state is
  * keyed per (source, predicted language) — per-language counts ARE
  * additive, and the majority collapses at read time with F16's
  * exact tie rule. The one F16 column NOT here is the dup rate, by
  * design: exact-dup needs cross-batch text hashes, which is
  * StreamingDeduper's keyed-state job).
  *
  * Exactly-once: foreachBatch + the TABLE-FORMAT COMMIT CORE — the
  * card is a [[graft.sources.TableFormat]] versioned table (the
  * round-17 verdict's "one commit protocol should own every store").
  * Batch b folds the current generation with its delta and commits
  * it as the next generation via [[graft.sources.TableFormat
  * .commitGen]], with the (appId, batchId) idempotent-writer record
  * landing ATOMICALLY inside the generation (the same `txn` lineage
  * the versioned sink uses — replay detection reads it back, so a
  * crash-replayed batch skips without any separate mutable marker).
  * A crash before the marker CAS leaves the OLD generation fully
  * live plus an unreferenced staged dir the retention sweep ages
  * out; the two-generation grace window is the format's own
  * [[graft.sources.TableFormat.vacuumTable]] with keep = 2. The
  * table-format lineage is the only on-disk layout: a state dir with
  * no committed generation reads as an empty card. */
object StreamingDataCard {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The additive per-(source, predicted-language) partials of a
    * document frame — the ONE fold rule both the micro-batch side
    * and the spec's batch reconciliation use. Keyed one level finer
    * than the published card: per-language counts ARE additively
    * foldable where a majority is not, which is exactly why the
    * state carries them — the majority collapses at READ time
    * ([[readCard]]), not fold time. Language = F1's shared
    * [[TextAnalysis.langPredExpr]] rule, so the streaming card and
    * the batch data card (F16) can never disagree on a prediction. */
  private[graft] def partials(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      TextAnalysis.langPredExpr.as("lang"),
      size(words(col("text"))).cast(LongType).as("toks"),
      round(TextAnalysis.qualityExpr * 1e6, 0).cast(LongType).as("q_mu"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("q_mu")).as("q_sum"),
        count(col("q_mu")).as("q_n"))

  private val stateSchema =
    "source STRING, lang STRING, n_docs LONG, n_tokens LONG, q_sum LONG, q_n LONG"

  /** Read the current card (an empty frame with the right schema if
    * nothing has been ingested yet — a missing state dir must read
    * as "no sources", not throw): per source, docs, tokens, mean
    * tokens, the F16-exact mean quality, and the language mix —
    * n_langs + majority language with F16's exact tie rule (highest
    * count, then lexicographically first), collapsed from the
    * per-language state rows at read time. */
  def readCard(spark: SparkSession, cardPath: String): DataFrame = {
    val state = graft.sources.TableFormat.currentGenOption(cardPath)
      .map(g => graft.sources.TableFormat.readGen(spark, cardPath, g,
        StructType.fromDDL(stateSchema)))
      .getOrElse(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType.fromDDL(stateSchema)))
    state.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("q_sum")).as("q_sum"),
        sum(col("q_n")).as("q_n"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("n_docs")).as("nc"), col("lang").as("lg"))).as("m"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_tokens"),
        round(col("q_sum").cast("double") / col("q_n").cast("double") /
          lit(1e6), 6).as("mean_quality"),
        col("n_langs"), col("m.lg").as("top_lang"))
      .orderBy(col("source"))
  }

  /** The committed batch id: this writer's table-format txn record;
    * then — for a RESET checkpoint whose derived appId finds no record
    * against a table other writers folded — the newest record of ANY
    * writer, so redelivered batches SKIP rather than double-fold (a
    * fresh checkpoint re-delivers files whose partials the card
    * already holds); -1 when nothing has committed. */
  private def lastCommittedAny(cardPath: String, appId: String): Long = {
    val txns = graft.sources.TableFormat.txnTable(cardPath)
    txns.get(appId)
      .orElse(if (txns.nonEmpty) Some(txns.values.max) else None)
      .getOrElse(-1L)
  }

  /** Start the card maintenance over a document drop directory.
    * Trigger semantics as in [[StreamingVectorIngest.run]]. */
  def run(spark: SparkSession, inputDir: String, cardPath: String,
      checkpointDir: String, availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cardPath))
    // the versioned sink's rule: a fresh checkpoint is a fresh writer
    val appId = StreamingVersionedSink.appIdFor(checkpointDir, "dcard")
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val docs = reader.parquet(inputDir)
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.sources.TableFormat
        if (batchId > lastCommittedAny(cardPath, appId) && !batch.isEmpty) {
          val delta = partials(batch)
          // fold base: the current table-format generation
          val prevState = TableFormat.currentGenOption(cardPath)
            .map(g => TableFormat.readGen(spark, cardPath, g,
              StructType.fromDDL(stateSchema)))
          val merged = prevState match {
            case Some(prev) =>
              prev.unionByName(delta)
                .groupBy(col("source"), col("lang"))
                .agg(sum(col("n_docs")).as("n_docs"),
                  sum(col("n_tokens")).as("n_tokens"),
                  sum(col("q_sum")).as("q_sum"),
                  sum(col("q_n")).as("q_n"))
            case None => delta
          }
          // COMMIT through the table-format core: the next generation
          // plus the (appId, batchId) txn record, atomic behind the
          // marker CAS — a crash-replayed batch re-folds into a fresh
          // staged dir (the crashed one is unreferenced debris), a
          // replay of a committed batch skips on the txn guard
          val g = TableFormat.commitGen(merged, cardPath,
            txn = Some(appId -> batchId))
          // two-generation grace window (the snapshot-table
          // compromise), the format's own retention sweep
          if (g >= 2) TableFormat.vacuumTable(spark, cardPath, keep = 2)
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
