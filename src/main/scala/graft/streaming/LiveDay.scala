package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** THE COMPOSED LIVE DAY — every streaming maintenance loop the
  * engine owns, started TOGETHER over one document drop directory and
  * one vector drop directory under one shared checkpoint root: the
  * production shape of the reference's steady state (engine.py:57
  * polls and folds forever; here four declarative streams tail the
  * same day's arrivals). The four components each reconcile against
  * their batch siblings in isolation (StreamingRecoverySpec); this
  * composer is what a deployment actually runs, and LiveDaySpec
  * proves the COMPOSITION: all four drain the same multi-batch day
  * concurrently — sharing the session, the drop files and the
  * executor pool — and the day-end persisted state is identical to
  * the batch day's, with the index row reconciled against
  * `q_advance_day`'s episode.
  *
  *  - `pairs`   — [[StreamingDeduper]]: MinHash near-dup pairs to a
  *    transactional parquet sink (bucket state in the checkpoint);
  *  - `spans`   — [[StreamingSpanDedup]]: span dedup against the
  *    persisted gram state, state advanced per batch;
  *  - `ingest`  — [[StreamingVectorIngest]]: vector appends through
  *    the persisted IVF index (PQ/SQ8 codes encoded with each row);
  *  - `card`    — [[StreamingDataCard]]: the per-source data card
  *    folded per batch under its atomic pointer commit.
  *
  * Isolation is by construction: each stream owns a private
  * checkpoint subdir and a private state/sink root; the only shared
  * inputs are the READ-ONLY drop files, so the streams compose
  * without coordination (the scheduler interleaves their micro-batch
  * jobs, the same property q_advance_day exploits for its concurrent
  * advance+append). Every sink is batchId-guarded or
  * commit-pointed, so a crash mid-day resumes each stream from its
  * own checkpoint independently — there is deliberately no cross-
  * stream transaction to recover.
  *
  * Scale shape: nothing new — four independent streams whose per-
  * micro-batch work is each component's documented delta-
  * proportional path; the composition adds zero shuffles and zero
  * shared state. */
object LiveDay {

  /** The four live queries, named. */
  final case class Handles(queries: Seq[(String, StreamingQuery)]) {
    /** Block until every stream terminates (AvailableNow mode: until
      * each has drained what exists). */
    def awaitAll(): Unit = queries.foreach(_._2.awaitTermination())
    def stopAll(): Unit = queries.foreach(_._2.stop())
  }

  /** Start the composed day. `root` must already hold the persisted
    * states yesterday left behind: `$root/spans` (a
    * [[graft.operators.Dedup.buildSpanState]] layout) and `$root/ivf`
    * (a [[graft.operators.EmbeddingStore.buildIvfIndex]] layout);
    * `$root/pairs` and `$root/card` are created by their streams,
    * checkpoints live under `$root/_checkpoints/<name>`. Trigger
    * semantics as in [[StreamingVectorIngest.run]] (the deduper is
    * AvailableNow-only today — its production tail mode would add a
    * trigger knob, not change the plan). */
  def start(spark: SparkSession, docDropDir: String, vecDropDir: String,
      root: String, availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): Handles = {
    val ck = s"$root/_checkpoints"
    Handles(Seq(
      "pairs" -> StreamingDeduper.start(spark, docDropDir,
        s"$ck/pairs", s"$root/pairs", maxFilesPerTrigger),
      "spans" -> StreamingSpanDedup.run(spark, docDropDir,
        s"$root/spans", s"$ck/spans", availableNow, maxFilesPerTrigger),
      "ingest" -> StreamingVectorIngest.run(spark, vecDropDir,
        s"$root/ivf", s"$ck/ingest", availableNow, maxFilesPerTrigger),
      "card" -> StreamingDataCard.run(spark, docDropDir,
        s"$root/card", s"$ck/card", availableNow, maxFilesPerTrigger)))
  }
}
