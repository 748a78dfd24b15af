package graft.operators

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IndexCatalog, LayoutStore, TableFormat, Tables}

/** Per-store compaction outcome: parquet data-file counts before and
  * after, and the bytes the rewrite moved. */
case class CompactionReport(store: String, filesBefore: Long,
    filesAfter: Long, bytes: Long)

/** INDEX-STORE MAINTENANCE — the steady-state chore D13's daily loop
  * creates (reference engine.py:57 runs update_embeddings forever):
  * every [[EmbeddingStore.appendToIvfIndex]] call lands one parquet
  * file per touched cell per batch, so after a year of daily appends
  * the persisted index IS H5's small-files pathology — scan cost per
  * probe goes per-FILE (footer reads, open/seek, scheduler pressure),
  * not per-byte. The fix is H5's rewrite applied WITHIN each cell
  * partition of the index (Delta OPTIMIZE / Iceberg
  * rewrite_data_files scoped to a partition), plus the
  * [[LayoutStore.vacuum]] sweep that reaps what maintenance leaves
  * behind — and the proof obligation is that a probe through the
  * compacted index is BIT-IDENTICAL to one through the fragmented
  * index (compaction is a layout change, never a data change). */
object IndexMaintenance {

  /** Daily append batches the episode replays (a week of D13 days
    * compressed into one row — enough for multi-file cells). */
  private[graft] val maintainBatches = 4

  /** Compact every cell-clustered store of a persisted IVF index
    * (`cells` + the `pq_codes`/`sq8_codes` sidecars) by DELEGATING to
    * the table-format core's OPTIMIZE ([[graft.sources.TableFormat
    * .optimize]], H19's verb): files under τ = [[EmbeddingStore
    * .targetCellRows]] rows fold into τ-row files re-clustered on the
    * manifest keys (cell, doc_id) — tight ranges, so probe skipping
    * stays file-precise — while right-sized files CARRY by reference
    * (zero bytes moved for them), and the commit is the same CAS
    * marker every writer uses. The old bespoke write-beside +
    * two-rename swap + entry-time crash healing is GONE: one commit
    * protocol owns every store, a crash leaves the previous
    * generation fully live, and the pre-compaction index still
    * time-travels until the retention sweep.
    *
    * Scale shape: the fold decision reads the manifest's own n_rows
    * (no data pass), the rewrite reads O(small files), and the new
    * catalog pointer publishes the consistent post-compaction
    * quintuple atomically. */
  def compactIndex(spark: SparkSession, path: String): Seq[CompactionReport] =
    maintainStores(spark, path) { (root, schema) =>
      TableFormat.optimize(spark, root, schema,
        smallRows = EmbeddingStore.targetCellRows,
        targetRows = EmbeddingStore.targetCellRows)
    }

  /** TAKEDOWN over the persisted index — the derived-data half of the
    * right-to-be-forgotten story (H10's `q_purge` scrubs the corpus
    * store; a compliant pipeline must ALSO scrub every artifact
    * derived from the listed documents, and the vector index stores
    * their embeddings and compressed codes verbatim). A purge IS a
    * filtered compaction: the same per-cell rewrite + swap machinery
    * with a doc_id filter, so the listed vectors leave `cells` and
    * BOTH sidecars atomically-per-store, small files get paid down in
    * the same pass, and the crash-heal discipline is inherited.
    * Probes simply stop seeing the ids (assignment of the survivors
    * is untouched — cells only shrink). IndexMaintenanceSpec proves
    * absence from all three stores, probe exclusion, and survivor
    * integrity. */
  def purgeIndex(spark: SparkSession, path: String,
      docIds: Seq[Long]): Seq[CompactionReport] = {
    // the takedown flows through the format's SCOPED purge: the skip
    // decision is a summarized-scope broadcast against each store's
    // manifest, only files whose doc_id range can hold a listed id
    // rewrite (broadcast anti-join inside — never isin), the rest
    // carry by reference, and the listed vectors leave `cells` and
    // BOTH code sidecars before one catalog publish makes the
    // post-purge quintuple visible atomically
    val td = spark.createDataFrame(
      docIds.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__td",
          org.apache.spark.sql.types.LongType))))
    maintainStores(spark, path) { (root, schema) =>
      TableFormat.purgeScoped(spark, root, td, schema, "doc_id")
    }
  }

  /** The shared maintenance loop: run `verb` (an OPTIMIZE or a scoped
    * purge — any table-format commit) over each data-bearing
    * substore's versioned root, then PUBLISH one new index generation
    * pinning the consistent post-maintenance quintuple. File counts
    * and moved bytes come from the manifests — scan-planning-sized
    * driver reads, never a data pass. */
  private def maintainStores(spark: SparkSession, path: String)(
      verb: (String, org.apache.spark.sql.types.StructType)
        => graft.sources.TableFormat.SkipReport): Seq[CompactionReport] = {
    // the three substores are INDEPENDENT manifested tables under
    // disjoint roots — maintain them as concurrent job chains (guide
    // §2.6: this section's wall is max(substore) instead of the sum);
    // the catalog publish below is the one sequential point. Each
    // manifest's file list (the cached one — no job after a
    // generation's first read) gives the count, the carried set and
    // the byte accounting.
    import scala.concurrent.{Await, Future}
    import graft.Concurrency.commitEc
    import scala.concurrent.duration.Duration
    val futures = Seq("cells", "pq_codes", "sq8_codes").map { sub =>
      Future {
        val root = s"$path/$sub"
        TableFormat.currentGenOption(root).map { g =>
          val beforeFiles = TableFormat.manifestFiles(spark, root, g)
          val after = verb(root, TableFormat.genSchema(root, g)).gen
          val afterFiles = TableFormat.manifestFiles(spark, root, after)
          // bytes moved = the rewritten (non-carried) files' sizes;
          // the before-manifest names them, the filesystem prices them
          val carried = afterFiles.toSet
          val bytes = beforeFiles
            .filterNot(carried)
            .map(TableFormat.localFile(_).length())
            .sum
          CompactionReport(sub, beforeFiles.length.toLong,
            afterFiles.length.toLong, bytes)
        }
      }
    }
    val reports = futures.flatMap(Await.result(_, Duration.Inf))
    graft.sources.IndexCatalog.publish(path)
    reports
  }

  /** `q_index_maintain` — the index-store MAINTENANCE episode as one
    * driver-checked row: start from D13's steady-state base (the
    * ensured half-corpus index), replay [[maintainBatches]] daily
    * append batches (each lands one file per touched cell — the
    * accretion), probe, COMPACT within cell partitions, probe again.
    * Output = the post-maintenance top-10 probe (the D8 shape) plus
    * the episode's readback facts, every one a pure corpus function:
    * `n_vectors`/`n_appended` re-read from the compacted store (a
    * half-run rewrite fails the row), `probe_stable` = the engine's
    * own pre-vs-post probe comparison (TRUE is the maintenance
    * CONTRACT; a lossy rewrite emits FALSE and hash-mismatches the
    * oracle's literal TRUE). The oracle replays the base build from
    * the lower vec_id half, the append assignment of the upper half
    * against those centroids, and the probe — compaction is
    * invisible to it BY DESIGN, which is the proof.
    *
    * File counts are filesystem facts no SQL oracle can see;
    * IndexMaintenanceSpec pins them (before > cells, after == cells
    * per store) and composes the [[LayoutStore.vacuum]] sweep that
    * reaps a crash-left scratch and a stale owned generation while
    * the live compacted index survives. */
  def indexMaintainQuery(t: Tables): DataFrame = {
    val pristine = AdvanceDay.ensureDayBase(t)
    val work = LayoutStore.scratch(t.dir, "maintain")
    try {
      val path = s"$work/ivf"
      // hard-link clone — the base parquet carries by reference; the
      // appends + compaction only land new files (LayoutStore scaladoc)
      LayoutStore.cloneRecursively(new File(pristine, "ivf"), new File(path))
      maintainEpisode(t, path)
    } finally LayoutStore.deleteRecursively(work)
  }

  private def maintainEpisode(t: Tables, path: String): DataFrame = {
    val spark = t.spark
    val vectors = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
    val delta = vectors.filter(col("doc_id") > maxVec / 2)
    // the daily batches: a deterministic id split — batch membership
    // cannot affect the final state (appends union on disk and each
    // vector's cell assignment is independent), the MULTIPLICITY is
    // what manufactures the per-cell file accretion
    (0 until maintainBatches).foreach { b =>
      EmbeddingStore.appendToIvfIndex(spark, path,
        delta.filter(pmod(col("doc_id"), lit(maintainBatches.toLong)) === b))
    }
    val probePre = EmbeddingStore
      .searchIvf(spark, path, queryDocId = 0L, k = 10, probes = 2)
      .collect().toSeq
    compactIndex(spark, path)
    val probePost = EmbeddingStore
      .searchIvf(spark, path, queryDocId = 0L, k = 10, probes = 2)
      .localCheckpoint(true)
    val stable = probePost.collect().toSeq == probePre
    // one readback pass over the compacted store yields both counts
    // (the old two-count shape scanned the cells twice)
    val cellCounts = IndexCatalog.read(spark, path, "cells")
      .agg(count(lit(1)).as("n"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("na")).first()
    val nVectors = cellCounts.getLong(0)
    val nAppended = cellCounts.getLong(1)
    probePost.select(col("doc_id"), col("cell"), col("score"),
      lit(nVectors).as("n_vectors"),
      lit(nAppended).as("n_appended"),
      lit(stable).as("probe_stable"))
      // ≤10-row result pinned so the caller's finally can delete the
      // per-invocation index now (searchRefreshQuery's discipline)
      .localCheckpoint(true)
  }
}
