package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.EmbeddingStore

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
  * persisted centroids, PQ code sidecar kept consistent, gen = 1
  * rows feeding D9's drift stat (so the drift-gated
  * [[EmbeddingStore.rebuildIfDrifted]] works unchanged on a
  * live-ingested index). `foreachBatch` is the canonical bridge from
  * a stream to a non-streaming storage sink.
  *
  * Exactly-once: the file source replays an UNCOMMITTED micro-batch
  * after a crash with the SAME batchId, so the append is guarded by
  * the last-committed batchId persisted beside the index
  * (`_STREAM_BATCH`) — the standard foreachBatch idempotence recipe.
  * A replayed batch whose append already committed is skipped instead
  * of double-appended (StreamingRecoverySpec proves a re-run over the
  * same checkpoint appends nothing). The crash window between the
  * index append and this `_STREAM_BATCH` write remains: the marker is
  * a plain file beside the index, not a txn record committed with the
  * append (the shape the dedup and span states use), so a crash there
  * replays the batch into a second append. */
object StreamingVectorIngest {

  private val vectorSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def lastCommitted(indexPath: String): Long = {
    val f = java.nio.file.Paths.get(indexPath, "_STREAM_BATCH")
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toLong
    else -1L
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
    val writer = vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotence guard: a crash-replayed batch re-arrives with
        // its original batchId; committed ones skip
        if (batchId > lastCommitted(indexPath) && !batch.isEmpty) {
          EmbeddingStore.appendToIvfIndex(spark, indexPath, batch)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(indexPath, "_STREAM_BATCH"),
            batchId.toString)
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
