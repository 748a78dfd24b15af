package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The DAILY PRODUCTION LOOP as one driver-checked episode — the
  * composition the individual pieces exist for (reference: the MCP
  * server's steady state is exactly this cycle — engine.py:57
  * incremental update from a watermark, engine.py:98 persist the new
  * watermark, engine.py:228 report stats; the repo's batch analogue
  * runs it over both state stores):
  *
  *  1. yesterday's DEDUP STATE folds forward ([[Dedup.advanceDedupState]]:
  *     delta-only shingling in one commit with the new watermark);
  *  2. the delta's vectors APPEND to the IVF index
  *     ([[EmbeddingStore.appendToIvfIndex]]: assigned with the
  *     persisted centroids, PQ codes included);
  *  3. the drift gate fires ([[EmbeddingStore.rebuildIfDrifted]]:
  *     appended fraction over threshold → staged re-fit + rename
  *     swap);
  *  4. the post-advance health row reports ([[EmbeddingStore.indexStats]]).
  *
  * `q_advance_day` runs the cycle against a private copy of the
  * once-built base = the lower half of each corpus
  * (doc_id ≤ ⌊max/2⌋), delta = the upper half —
  * a fixed episode whose every output number is a pure function of
  * the corpus, so DuckDB replays it: the advanced watermark is
  * max(doc_id); the state holds exactly the shingle-bearing docs; the
  * ~half-corpus delta trips the 0.2 drift threshold, so the index the
  * stats row describes is a REBUILT index over the full corpus —
  * identical by construction to a fresh full build (same seed rule,
  * same 6dp Lloyd step, gen reset to 0), which is what D9's oracle
  * already replays.
  *
  * Output facts are read back from the PERSISTED stores (the state's
  * watermark txn record and current generation, the rebuilt index),
  * not echoed from inputs — the row fails if any stage half-runs.
  * Scale shape: every stage is the documented delta-proportional or
  * storage-stage path; nothing here adds a new corpus-shaped pass. */
object AdvanceDay {

  /** Drift threshold for the episode: the ~half-corpus delta must
    * trip it deterministically. */
  private val driftThreshold = 0.2

  /** Yesterday's base — the half-corpus dedup state + half-corpus
    * IVF index — is ETL: in production it simply EXISTS (it is the
    * previous day's output), so it is built once per (data dir,
    * rule) via the same [[graft.sources.LayoutStore.ensure]]
    * discipline as `ensureDedupState`/`ensureIndex`, never rebuilt
    * per query invocation. Each invocation copies it (storage-layer
    * file copy, no Spark jobs) so the advance mutates a private
    * copy and the cached base stays pristine. */
  // private[graft]: IndexMaintenance and the index-history row reuse
  // the SAME ensured half-corpus base (their episodes start from
  // D13's steady state), and Bench materializes it untimed — it is
  // ETL storage like the bucketed layout and the ensured index
  private[graft] def ensureDayBase(t: Tables): String =
    // v5: the SQ8 codes became TINYINT (v4: the index codes became
    // columns of its cells; v3: the dedup state became one versioned
    // table; v2: so did the IVF index) — the key rotates with every
    // layout change, or a cached pre-change base would be read by the
    // new readers
    graft.sources.LayoutStore.ensure(t.dir, "daybase", "v5") { path =>
      val maxDoc = t.documents.agg(max(col("doc_id"))).first().getLong(0)
      Dedup.buildDedupState(t.documents, maxDoc / 2, s"$path/dedup")
      val vectors = t.embeddings
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
      EmbeddingStore.buildIvfIndex(t.spark,
        vectors.filter(col("doc_id") <= maxVec / 2), s"$path/ivf")
    }

  def advanceDayQuery(t: Tables): DataFrame = {
    val pristine = ensureDayBase(t)
    // the day's private working copy must be executor-reachable (the
    // advance and append run ON the copy), so it is cluster-shared
    // scratch under the layouts root, not driver-local /tmp; the
    // try/finally keeps a mid-episode failure from leaking the copy
    // into that durable root
    val base = graft.sources.LayoutStore.scratch(t.dir, "day")
    try advanceDayEpisode(t, pristine, base.toString)
    finally graft.sources.LayoutStore.deleteRecursively(base)
  }

  private def advanceDayEpisode(t: Tables, pristine: String,
      base: String): DataFrame = {
    val spark = t.spark
    val statePath = s"$base/dedup"
    val indexPath = s"$base/ivf"
    // hard-link clone: the parquet payload carries by reference into
    // the private copy (the advance only ever lands NEW files), so the
    // episode never rewrites the base bytes it does not touch
    graft.sources.LayoutStore.cloneRecursively(
      new java.io.File(pristine, "dedup"), new java.io.File(statePath))
    graft.sources.LayoutStore.cloneRecursively(
      new java.io.File(pristine, "ivf"), new java.io.File(indexPath))

    // the split points (parquet-footer max aggs, no scan) — needed
    // for the delta filters and the readback below
    val maxDoc = t.documents.agg(max(col("doc_id"))).first().getLong(0)
    val docSplit = maxDoc / 2
    val vectors = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
    val vecSplit = maxVec / 2

    // --- today: the four-stage advance. The dedup-state advance and
    // the vector append touch DISJOINT stores and share no inputs —
    // submit them as concurrent Spark job groups (the scheduler
    // interleaves their stages across the same executors), so the
    // episode's wall is max(advance, append), not the sum; the
    // drift-gated rebuild then needs the append's gen-1 rows and
    // stays sequential.
    import scala.concurrent.{Await, Future}
    import graft.Concurrency.commitEc
    import scala.concurrent.duration.Duration
    val advanceF = Future(Dedup.advanceDedupState(t.documents, statePath))
    val appendF = Future(EmbeddingStore.appendToIvfIndex(spark, indexPath,
      vectors.filter(col("doc_id") > vecSplit)))
    // the drift-gated rebuild needs only the APPEND's gen-1 rows —
    // launch it as soon as the append lands, so the (heavy) re-fit
    // overlaps whatever of the dedup advance is still running, and
    // the dedup readbacks below overlap the re-fit in turn; the two
    // chains touch disjoint stores throughout
    Await.result(appendF, Duration.Inf)
    val rebuildF = Future(
      EmbeddingStore.rebuildIfDrifted(spark, indexPath, driftThreshold))
    Await.result(advanceF, Duration.Inf)

    // --- read the outcome back from the persisted stores
    val dedupWatermark = Dedup.stateWatermark(statePath)
    // one readback pass yields both counts (was two scans)
    val stateCounts = Dedup.readState(spark, statePath)
      .agg(count(lit(1)).as("n"),
        sum(when(col("doc_id") > docSplit, 1L).otherwise(0L)).as("nd")).first()
    val nStateDocs = stateCounts.getLong(0)
    val nDeltaDocs = stateCounts.getLong(1)
    val rebuildRan = Await.result(rebuildF, Duration.Inf)
    val out = EmbeddingStore.indexStats(spark, indexPath)
      .select(
        lit(dedupWatermark).as("dedup_watermark"),
        lit(nStateDocs).as("state_docs"),
        lit(nDeltaDocs).as("delta_docs"),
        lit(rebuildRan).as("rebuild_ran"),
        col("n_vectors"), col("n_cells"), col("max_cell"),
        col("cell_skew"), col("appended_frac"), col("mean_intra_cosine"),
        col("pq_distortion"))
      // 1-row result: pin it so the caller's finally can delete the
      // per-invocation stores now (searchRefreshQuery's discipline)
      .localCheckpoint(true)
    out
  }
}
