package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** LIVE span-level exact-substring dedup — the streaming sibling of
  * E14 (`Dedup.dedupSpansIncrementalAgainst` + `advanceSpanState`),
  * completing the symmetry the minhash family already has (E11 ↔
  * StreamingDeduper): as document files land in a drop directory,
  * each micro-batch's docs are span-deduplicated against EVERYTHING
  * ingested before them — the persisted distinct-gram state — plus
  * their own within-batch first occurrences, and the batch's new
  * grams then fold into the state, so the corpus-wide
  * first-occurrence rule holds across the entire stream without any
  * batch ever being re-tokenized.
  *
  * Contract (inherits E14's append-only posture): doc_ids must
  * arrive in nondecreasing ranges — the daily-crawl model, where a
  * batch's ids sit above the state watermark. Under it, the UNION of
  * all per-batch results equals full batch E12 over everything
  * ingested, restricted to post-bootstrap docs
  * (StreamingRecoverySpec proves it micro-batch-for-micro-batch).
  *
  * Exactly-once: the foreachBatch recipe — results for batch b land
  * in `results/batch=<b>` via an OVERWRITE of that one partition
  * directory (a replayed batch rewrites its own output
  * deterministically, never duplicates it), the gram fold reuses
  * [[Dedup.advanceSpanState]] (one table commit that carries the
  * watermark as its txn record), and that watermark guards the whole
  * pair: a batch whose ids it already covers is a replay. */
object StreamingSpanDedup {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** All spans results streamed so far: (doc_id, n_tokens, n_removed,
    * kept_hash) — one row per doc that lost at least one word, the
    * E12 output shape. An empty/missing results dir reads as empty. */
  def readResults(spark: SparkSession, statePath: String): DataFrame = {
    val dir = new java.io.File(statePath, "results")
    val schema = "doc_id LONG, n_tokens LONG, n_removed LONG, kept_hash STRING"
    if (dir.isDirectory && Option(dir.listFiles()).exists(_.nonEmpty))
      spark.read.schema(schema + ", batch LONG").parquet(dir.getPath)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("kept_hash"))
    else
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(schema))
  }

  /** Start span dedup over a document drop directory against a span
    * state previously created with [[Dedup.buildSpanState]] (possibly
    * empty: watermark -1). Trigger semantics as in
    * [[StreamingVectorIngest.run]]. */
  def run(spark: SparkSession, inputDir: String, statePath: String,
      checkpointDir: String, availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val docs = reader.parquet(inputDir)
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val snap = batch.localCheckpoint() // results + fold, one read
          val ids = snap.agg(min(col("doc_id")).as("mn"),
            max(col("doc_id")).as("mx")).first()
          val (minId, maxId) = (ids.getLong(0), ids.getLong(1))
          // replay discrimination: results are only valid when
          // computed BEFORE the fold (afterwards the batch's own
          // grams are in the state and everything would self-flag).
          // Under the append-only contract, watermark >= maxId ⟺
          // this batch's fold already committed — its results are
          // already on disk (written first), so a replay is a no-op.
          // A crash MID-advance leaves the previous state generation
          // live, so the replay recomputes the results and the fold.
          // ONE watermark read per batch: guard and contract check
          // see the same value by construction (and the state-file
          // stat doesn't run three times per micro-batch)
          val wm = Dedup.stateWatermark(statePath)
          if (wm < maxId) {
            // FAIL LOUD on a contract violation instead of silently
            // truncating: a doc at or below the watermark would be
            // filtered out of both the results and the fold — never
            // deduplicated, never reported — while the watermark still
            // advanced. An out-of-order crawl needs a batch rebuild,
            // not a quiet hole.
            require(minId > wm,
              s"batch $batchId violates the nondecreasing-id contract: " +
                s"min doc_id $minId <= state watermark $wm — these docs " +
                "would be silently skipped; rebuild the state over the " +
                "full corpus")
            // the batch IS the delta: its ids sit above the state
            // watermark, so the E14 pass applies verbatim (its
            // watermark filter is a no-op here)
            Dedup.dedupSpansIncrementalAgainst(snap, statePath)
              .write.mode("overwrite")
              .parquet(s"$statePath/results/batch=$batchId")
            Dedup.advanceSpanState(snap, statePath)
          }
        }
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
