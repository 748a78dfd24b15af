package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingStore, IndexMaintenance}
import graft.sources.{IndexCatalog, LayoutStore, TableFormat, Tables}

class IndexMaintenanceSpec extends SparkTestBase {
  lazy val t = Tables(spark, sfDir)

  private def vectors = t.embeddings
    .select(col("vec_id").as("doc_id"), col("embedding"))

  private def readStore(path: String, sub: String) =
    IndexCatalog.read(spark, path, sub)

  private def storeFiles(path: String, sub: String): Long = {
    val root = s"$path/$sub"
    TableFormat.readManifest(spark, root, TableFormat.currentGen(root))
      .count()
  }

  /** Replays the episode's accretion into a private dir: base build
    * from the lower id half + [[IndexMaintenance.maintainBatches]]
    * appends of the upper half. */
  private def accretedIndex(): String = {
    val dir = Files.createTempDirectory("graft-maint").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/ivf"
    val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
    EmbeddingStore.buildIvfIndex(spark,
      vectors.filter(col("doc_id") <= maxVec / 2), path)
    val delta = vectors.filter(col("doc_id") > maxVec / 2)
    val b = IndexMaintenance.maintainBatches
    (0 until b).foreach { i =>
      EmbeddingStore.appendToIvfIndex(spark, path,
        delta.filter(pmod(col("doc_id"), lit(b.toLong)) === i))
    }
    path
  }

  test("compaction folds the append accretion through the format's " +
    "OPTIMIZE: fewer files, losslessly, probe bit-identical, and the " +
    "pre-compaction index still time-travels") {
    val path = accretedIndex()
    val stores = Seq("cells")

    val probePre = EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()
    val contentPre = stores.map(s => readStore(path, s)
      .collect().map(_.toString).sorted.toSeq)
    val genPre = IndexCatalog.currentGen(path)

    val reports = IndexMaintenance.compactIndex(spark, path)
    assert(reports.map(_.store) === stores)
    reports.foreach { r =>
      // accretion is real (the base build + one file per append) and
      // maintenance pays it down: every sub-τ file folds into
      // bin-packed (cell, doc_id)-clustered files
      assert(r.filesBefore > r.filesAfter,
        s"${r.store}: ${r.filesBefore} files before vs ${r.filesAfter} after")
      assert(r.filesAfter === storeFiles(path, r.store))
      assert(r.bytes > 0L, s"${r.store}: no bytes reported moved")
    }

    // lossless: full content of every store survives bit-identical
    val contentPost = stores.map(s => readStore(path, s)
      .collect().map(_.toString).sorted.toSeq)
    assert(contentPost === contentPre)
    // and the probe through the compacted index is the SAME rows
    val probePost = EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()
    assert(probePost.toSeq === probePre.toSeq)
    // compaction is a NEW index generation; the pre-compaction
    // generation still reads intact (data movement, zero logical
    // change — provable because history is retained)
    assert(IndexCatalog.currentGen(path) === genPre + 1)
    val cellsPinned = IndexCatalog.readAt(spark, path, genPre, "cells")
    assert(cellsPinned.collect().map(_.toString).sorted.toSeq ===
      contentPre.head)
  }

  test("purgeIndex: listed vectors leave cells AND both sidecars via " +
    "scoped commits, probes stop seeing them, survivors are untouched") {
    val path = accretedIndex()
    val all = readStore(path, "cells")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // victims include three ids the probe CURRENTLY returns — the
    // takedown must visibly change a served result, not just row
    // counts
    val preProbe = EmbeddingStore.searchIvf(spark, path, 0L, 10, 2)
      .collect().map(_.getLong(0)).toSet
    val victims =
      (preProbe.take(3) ++ all.filter(_ % 7 == 3).take(17)).toSeq.distinct
    assert(victims.nonEmpty)

    val reports = IndexMaintenance.purgeIndex(spark, path, victims)
    assert(reports.map(_.store) === Seq("cells"))
    val vset = victims.toSet
    // the cells carry the codes, so the ids leave both compressed forms
    val ids = readStore(path, "cells")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(!ids.exists(vset), "cells still holds a purged id")
    // survivors intact: purged store = original minus victims
    assert(ids.sorted.toSeq === all.filterNot(vset).toSeq,
      "cells lost a survivor")
    val postProbe = EmbeddingStore.searchIvf(spark, path, 0L, 10, 2)
      .collect().map(_.getLong(0)).toSet
    assert(postProbe.intersect(vset).isEmpty,
      "a probe returned a purged id")
    // non-vacuous by construction: three victims were pre-probe hits
    assert(preProbe.intersect(vset).size >= 3)
    assert(readStore(path, "cells").count() === all.length - victims.size)
  }

  test("purgeIndex that empties the store leaves a READABLE empty " +
    "store, and the next maintenance pass still runs") {
    val path = accretedIndex()
    val all = readStore(path, "cells")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    IndexMaintenance.purgeIndex(spark, path, all)
    // reads must SUCCEED and see zero rows — an all-rows-purged
    // generation is an empty manifest, not a broken directory
    assert(readStore(path, "cells").count() === 0L,
      "cells should be empty but readable")
    // the emptied store is not a wedge: another full pass succeeds
    val again = IndexMaintenance.compactIndex(spark, path)
    assert(again.map(_.store) === Seq("cells"))
    assert(readStore(path, "cells").count() === 0L)
  }

  test("purge-everything-then-APPEND: the emptied store accepts the " +
    "scoped append, and probes serve the re-appended vectors") {
    val path = accretedIndex()
    val vecs = readStore(path, "cells")
      .select(col("doc_id"), col("embedding")).localCheckpoint(true)
    val all = vecs.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    IndexMaintenance.purgeIndex(spark, path, all)
    assert(readStore(path, "cells").count() === 0L)
    // the realistic changefeed-driven sequence: a purge that empties
    // the store followed by an append of fresh vectors
    val stats = EmbeddingStore.appendToIvfIndex(spark, path, vecs)
    assert(stats.processed === all.length.toLong)
    // the appended rows carry their codes (the compressed probes read them)
    assert(readStore(path, "cells").filter(col("pq_codes").isNotNull &&
      col("sq8_codes").isNotNull).count() === all.length.toLong,
      "cells did not recover the appended rows")
    // and the probe path serves the re-appended vectors
    val hits = EmbeddingStore.searchIvf(spark, path, all.head, 5, 4)
      .collect()
    assert(hits.nonEmpty)
    // a follow-up maintenance pass compacts the appended layout
    val reports = IndexMaintenance.compactIndex(spark, path)
    assert(reports.map(_.store) === Seq("cells"))
    assert(readStore(path, "cells").count() === all.length.toLong)
  }

  test("a crash between substore commits leaves the PREVIOUS index " +
    "generation fully live: unpublished generations are invisible, " +
    "the retry completes, and retention reaps the debris") {
    val path = accretedIndex()
    val genPre = IndexCatalog.currentGen(path)
    val probePre = EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()

    // simulate the crash: one substore's OPTIMIZE committed, the
    // catalog publish never ran (the exact mid-maintenance death the
    // old rename-swap protocol needed entry-time healing for)
    val cellsRoot = s"$path/cells"
    TableFormat.optimize(spark, cellsRoot,
      TableFormat.genSchema(cellsRoot, TableFormat.currentGen(cellsRoot)),
      smallRows = EmbeddingStore.targetCellRows,
      targetRows = EmbeddingStore.targetCellRows)
    // readers resolve the CATALOG pointer: the unpublished cells
    // generation is invisible, the probe is bit-identical
    assert(IndexCatalog.currentGen(path) === genPre)
    assert(EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()
      .toSeq === probePre.toSeq)

    // the retry (a fresh full maintenance pass) completes and
    // publishes; the data is unchanged
    val reports = IndexMaintenance.compactIndex(spark, path)
    assert(reports.map(_.store) === Seq("cells"))
    assert(IndexCatalog.currentGen(path) === genPre + 1)
    assert(EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()
      .toSeq === probePre.toSeq)

    // retention: keep only the newest index generation — superseded
    // substore generations (including the orphaned one) reap by
    // reachability, and the live index still serves
    val reaped = IndexCatalog.vacuum(spark, path, keep = 1)
    assert(reaped > 0L, "vacuum reclaimed nothing after a compaction")
    assert(EmbeddingStore.searchIvf(spark, path, 0L, 10, 2).collect()
      .toSeq === probePre.toSeq)
  }

  test("the maintenance sweep composes with vacuum: stale generations " +
    "and crash-left scratch reaped, the live compacted index kept") {
    val data = Files.createTempDirectory("graft-maint-vac").toFile
    data.deleteOnExit()
    Files.writeString(new File(data, "d.parquet").toPath, "payload")
    val dd = data.getAbsolutePath

    // the live generation: an ensured (attributed) index layout
    val live = LayoutStore.ensure(dd, "ivf", "v2") { p =>
      new File(p).mkdirs()
      Files.writeString(new File(p, "cells").toPath, "live")
    }
    // a STALE generation this data dir owns (an old rule version)
    val stale = new File(new File(dd, "_graft_layouts"), "ivf_deadbeef0000")
    stale.mkdirs()
    Files.writeString(new File(stale, "_OWNER").toPath, dd + "\n")
    // a crash-left scratch from a maintenance run that died mid-swap
    val scr = LayoutStore.scratch(dd, "maintain")
    Files.writeString(new File(scr, "cells_compact").toPath, "orphan")
    scr.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)

    val r = LayoutStore.vacuum(dd, Seq("ivf" -> "v2"))
    assert(r.deleted.contains("ivf_deadbeef0000"))
    assert(r.deleted.exists(_.startsWith("maintain")))
    assert(r.kept.contains(new File(live).getName))
    assert(new File(live).isDirectory && !stale.exists() && !scr.exists())
  }
}
