package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.EmbeddingStore
import graft.sources.{IndexCatalog, TableFormat}

/** LIVE index maintenance — the streaming sibling of
  * [[graft.operators.EmbeddingStore.appendToIvfIndex]], mirroring the
  * reference's steady state (engine.py:57 `update_embeddings` polls
  * for new messages and folds them into the store incrementally; the
  * D10 episode replays its cooldown/threshold orchestration in
  * batch). Spark-first, the poll loop disappears: `readStream` over
  * the vector drop directory IS the incremental scan — new parquet
  * files land, each micro-batch carries exactly the new rows, and the
  * processed-file watermark lives in the stream checkpoint, so a
  * restarted ingest resumes from where it stopped instead of
  * re-scanning (same property IncrementalStreamSpec proves for the
  * event pipeline).
  *
  * Each micro-batch appends through the SAME storage path batch uses
  * — [[EmbeddingStore.appendToIvfIndex]]: assignment with the
  * persisted centroids, PQ/SQ8 codes encoded with each row, gen = 1
  * rows feeding D9's drift stat (so the drift-gated
  * [[EmbeddingStore.rebuildIfDrifted]] works unchanged on a
  * live-ingested index). `foreachBatch` is the canonical bridge from
  * a stream to a non-streaming storage sink.
  *
  * Exactly-once: the file source replays an UNCOMMITTED micro-batch
  * after a crash with the SAME batchId. The append is one `cells`
  * commit that carries the batch's (appId, batchId) txn record (the
  * [[StreamingVersionedSink]] recipe), so the record and the rows
  * land atomically, and a replayed batch whose record the pinned
  * `cells` generation already holds is skipped instead of
  * double-appended. */
object StreamingVectorIngest {

  private val vectorSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** One micro-batch: append `batch` to the index at `indexPath`
    * unless the `cells` generation the current catalog pins already
    * holds writer `appId`'s record of `batchId` (a crashed, unpublished
    * `cells` commit is not pinned, so it never counts as done).
    * Returns true iff this call appended. Factored out so a spec can
    * drive a literal redelivery. */
  private[graft] def ingestBatch(spark: SparkSession, indexPath: String,
      appId: String)(batch: DataFrame, batchId: Long): Boolean = {
    val pin = IndexCatalog.pin(indexPath)
    val done = TableFormat.txnsAt(s"$indexPath/cells", pin.genOf("cells"))
      .get(appId).exists(_ >= batchId)
    if (done || batch.isEmpty) false
    else {
      EmbeddingStore.appendToIvfIndex(spark, indexPath, batch,
        Some(appId -> batchId))
      true
    }
  }

  /** Start the ingest over a vector drop directory. The caller owns
    * the trigger choice: `Trigger.AvailableNow()` drains what exists
    * and stops (the test/backfill mode); the default processing-time
    * trigger tails the directory forever (the production mode).
    * `maxFilesPerTrigger` bounds a micro-batch the way the
    * reference's batched scan bounds its update (processor.py:320) —
    * a backlog drains in bounded-memory steps instead of one giant
    * append. */
  def run(spark: SparkSession, inputDir: String, indexPath: String,
      checkpointDir: String, availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(vectorSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val vectors = reader.parquet(inputDir)
    // a fresh checkpoint is a fresh writer (StreamingVersionedSink.appIdFor)
    val appId = StreamingVersionedSink.appIdFor(checkpointDir, "ivf")
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, indexPath, appId)(batch, batchId)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
