package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.{EmbeddingStore, ProductQuantizer, ScalarQuantizer}
import graft.sources.{IndexCatalog, TableFormat, Tables}

class IvfIndexSpec extends SparkTestBase {

  /** The manifest-pruning evidence that replaced the old Hive
    * PartitionFilters assertion: the file set a probed scan of
    * `store` is planned over (what [[IndexCatalog.readPruned]] —
    * every probe's scan source — admits for these cell values) vs
    * the store's total files. */
  private def prunedVsTotal(path: String, store: String,
      cells: Seq[Int]): (Long, Long) = {
    val root = s"$path/$store"
    val total = TableFormat.readManifest(spark, root,
        TableFormat.currentGen(root)).count()
    val read = IndexCatalog.readPruned(spark, path, store, "cell", cells)
      .inputFiles.length.toLong
    (read, total)
  }

  test("numCellsFor caps expected cell size at targetCellRows, independent of corpus size") {
    import EmbeddingStore.{numCellsFor, targetCellRows}
    // small corpora: the classic sqrt(n) balance governs
    assert(numCellsFor(500) === 23)
    assert(numCellsFor(4) === 2)
    // past n = tau^2 the n/tau term takes over: expected cell size
    // (n / k) stays <= tau no matter how large the corpus grows —
    // with sqrt(n) alone a 1e9-vector corpus would put ~31k rows in
    // every cell
    for (n <- Seq(2000000L, 100000000L, 1000000000L, 100000000000L)) {
      val k = numCellsFor(n)
      assert(n.toDouble / k <= targetCellRows.toDouble,
        s"expected cell size ${n.toDouble / k} exceeds $targetCellRows at n=$n")
    }
    assert(numCellsFor(1000000000L) === math.ceil(1e9 / 1024).toInt)
  }

  test("seed/assignment path stays distributed: driver holds only O(sqrt(k)) rows") {
    import EmbeddingStore._
    val t = Tables(spark, sfDir)
    val emb = embed(t.documents).drop("shard")
    val n = emb.count()
    val k = numCellsFor(n)

    driverRowsHighWater.set(0)
    val cent = seedCentroids(emb)
    // the seed table is complete and distributed: k cells 0..k-1,
    // mapped to the k lowest doc_ids in id order (the rule every
    // oracle replays)
    assert(cent.count() === k.toLong)
    val expected = emb.orderBy(col("doc_id")).limit(k)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    val got = cent.orderBy(col("cell"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(got.map(_._1).toSeq === (0 until k))
    assert(got.map(_._2).toSeq === expected.toSeq)

    // full assignment + a pruned index probe: the only rows the
    // driver may ever hold are the coarse seeds (ceil(sqrt(k))) and
    // probe ids — never the k-row seed table, which grows linearly
    // with the corpus under the n/tau rule
    val assigned = assignCells(emb, cent)
    assert(assigned.count() === n)
    val bound = math.ceil(math.sqrt(k.toDouble)).toLong
    assert(driverRowsHighWater.get() <= bound,
      s"IVF path held ${driverRowsHighWater.get()} rows on the driver (bound $bound)")
  }

  test("past the broadcast cap, the shuffle-join assignment is result-identical") {
    import EmbeddingStore._
    val t = Tables(spark, sfDir)
    val emb = embed(t.documents).drop("shard")
    def assignment(): Seq[(Long, Int)] = {
      val cent = seedCentroids(emb)
      assignCells(emb, cent).select(col("doc_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    }
    val viaBroadcast = assignment()
    val saved = broadcastCellCap
    try {
      // force every centroid/rank join onto the >200k-cell code path
      // (AQE-planned shuffle equi-joins); cell assignments must not
      // move — only the physical strategy may
      broadcastCellCap = 0L
      assert(assignment() === viaBroadcast)
    } finally broadcastCellCap = saved
  }

  test("persisted IVF index: partition-pruned probe matches exact scoring") {
    val dir = Files.createTempDirectory("graft-ivf").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents).drop("shard")

    EmbeddingStore.driverRowsHighWater.set(0)
    EmbeddingStore.buildIvfIndex(spark, vectors, path)
    // the BUILD also honors the bounded-driver contract: two
    // two-level assignments run (seed + refined), each collecting
    // only its ceil(sqrt(k)) coarse seeds, plus the PQ sidecar's
    // codebook metadata — seeds (numCentroids rows) and the Lloyd
    // mean step (numCentroids·m·subDim = numCentroids·dim component
    // rows) — all corpus-independent constants
    val kBuild = EmbeddingStore.numCellsFor(vectors.count())
    val dim = vectors.select(size(col("embedding"))).first().getInt(0)
    val buildBound = math.max(
      math.ceil(math.sqrt(kBuild.toDouble)).toLong,
      graft.operators.ProductQuantizer.numCentroids.toLong * dim)
    assert(EmbeddingStore.driverRowsHighWater.get() <= buildBound,
      s"index build held ${EmbeddingStore.driverRowsHighWater.get()} rows on the driver")
    val cells = IndexCatalog.read(spark, path, "cells")
    // index is a complete, disjoint re-layout of the corpus
    assert(cells.count() === vectors.count())
    assert(cells.select("cell").distinct().count() <=
      EmbeddingStore.numCellsFor(vectors.count()))

    val queryDoc = 0L
    val hits = EmbeddingStore.searchIvf(spark, path, queryDoc, k = 5)
    val rows = hits.collect()
    assert(rows.nonEmpty && rows.length <= 5)

    // the probed scan must SKIP files by the manifest's cell stats
    // (the versioned-table analogue of the old PartitionFilters
    // assertion): a 2-probe scan plans over a handful of files of a
    // ~k-file store, never the store
    val probedNow = rows.map(_.getInt(1)).distinct.toSeq
    val (read, total) = prunedVsTotal(path, "cells", probedNow)
    assert(read < total,
      s"probe scan planned $read of $total cell files — no manifest pruning")
    assert(read <= probedNow.length + 2L,
      s"probe scan planned $read cell files for ${probedNow.length} probed cells")

    // exact check: same result as brute-force scoring restricted to the
    // probed cells
    val probed = rows.map(_.getInt(1)).distinct.toSeq
    val qv = cells.filter(col("doc_id") === queryDoc).select(col("embedding").as("qv"))
    val exact = cells
      .filter(col("cell").isin(probed: _*) && col("doc_id") =!= queryDoc)
      .join(broadcast(qv))
      .select(col("doc_id"), round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(5).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("query-vector point lookup: the cells manifest's per-file " +
    "doc_id sketch prunes a lookup range stats cannot (cell-clustered " +
    "files scatter doc ids), and the pruned fetch is the stored row") {
    val dir = Files.createTempDirectory("graft-ivfbloom").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents).drop("shard")
    EmbeddingStore.buildIvfIndex(spark, vectors, path)
    val root = s"$path/cells"
    val gen = TableFormat.currentGen(root)
    val m = TableFormat.readManifest(spark, root, gen)
    val total = m.count()
    assert(total > 4L, "fixture rot: the cells store must be multi-file")
    assert(m.columns.contains("bloom_doc_id"),
      "the cells commit lost its doc_id sketch")
    assert(m.filter(col("bloom_doc_id").isNull).count() === 0L)
    val qid = 11L
    val planned = TableFormat.prunedFilesIn(spark, root, gen,
      "doc_id", Seq(qid))
    assert(planned.nonEmpty && planned.length <= 4,
      s"doc_id sketch failed to prune: planned ${planned.length} of $total")
    // the probe path's actual fetch: exactly the stored vector row
    val viaPruned = IndexCatalog.readPruned(spark, path, "cells",
        "doc_id", Seq(qid))
      .filter(col("doc_id") === qid).select(col("embedding")).collect()
    assert(viaPruned.length === 1, "pruned fetch lost the query vector")
    // sketches survive the APPEND path: the scoped append's new files
    // get fresh sketches (recovered from the manifest's own columns),
    // so a lookup of an appended id stays a point plan, and the whole
    // manifest stays sketch-complete
    val delta = EmbeddingStore.embed(
      Tables(spark, sfDir).documents.limit(20)
        .withColumn("doc_id", col("doc_id") + 100000L)).drop("shard")
    EmbeddingStore.appendToIvfIndex(spark, path, delta)
    val gen2 = TableFormat.currentGen(root)
    val m2 = TableFormat.readManifest(spark, root, gen2)
    assert(m2.filter(col("bloom_doc_id").isNull).count() === 0L,
      "the append dropped sketches on new or carried files")
    val appended = TableFormat.prunedFilesIn(spark, root, gen2,
      "doc_id", Seq(100011L))
    assert(appended.nonEmpty && appended.length <= 4,
      s"appended-id lookup planned ${appended.length} of ${m2.count()}")
  }

  test("searchIvf on a two-generation index: a warm request submits " +
    "at most 4 Spark jobs, equals brute force over its probed cells, " +
    "and an absent query id returns no rows") {
    val dir = Files.createTempDirectory("graft-ivf-jobs").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val vectors = EmbeddingStore.embed(Tables(spark, sfDir).documents)
      .drop("shard")
    EmbeddingStore.buildIvfIndex(spark, vectors.filter(col("doc_id") < 400),
      path)
    EmbeddingStore.appendToIvfIndex(spark, path,
      vectors.filter(col("doc_id") >= 400))
    val (k, probes) = (10, 2)
    // the warm-up request loads the manifests once
    EmbeddingStore.searchIvf(spark, path, 3L, k, probes).collect()
    val qid = 450L
    val (rows, jobs) = JobCounting.countJobs(spark) {
      EmbeddingStore.searchIvf(spark, path, qid, k, probes).collect()
    }
    assert(jobs <= 2, s"a warm searchIvf request submitted $jobs jobs")
    // the parent formulation: the query's stored vector joined onto
    // the centroids for the probe, then onto the probed cells' rows
    val cells = IndexCatalog.read(spark, path, "cells")
    val qv = cells.filter(col("doc_id") === qid)
      .select(col("embedding").as("qv"))
    val probed = IndexCatalog.read(spark, path, "centroids")
      .join(broadcast(qv))
      .select(col("cell"),
        round(cosineSim(col("centroid"), col("qv")), 6).as("cs"))
      .orderBy(col("cs").desc, col("cell")).limit(probes)
      .collect().map(_.getInt(0)).toSeq
    val exact = cells
      .filter(col("cell").isin(probed: _*) && col("doc_id") =!= qid)
      .join(broadcast(qv))
      .select(col("doc_id"), col("cell"),
        round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k).collect()
    assert(rows.length === k)
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq ===
      exact.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq)
    val absent = EmbeddingStore.searchIvf(spark, path, 987654321L, k, probes)
    assert(absent.collect().isEmpty)
    assert(absent.schema === EmbeddingStore.searchIvf(spark, path, qid, k,
      probes).schema)
  }

  test("indexStats: health row tracks appends; a second Lloyd pass does not degrade quality") {
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents).drop("shard")
    val base = vectors.filter(col("doc_id") < 400)
    val delta = vectors.filter(col("doc_id") >= 400)
    val p1 = Files.createTempDirectory("graft-stats1").toFile.getAbsolutePath

    EmbeddingStore.buildIvfIndex(spark, base, p1)
    val s1 = EmbeddingStore.indexStats(spark, p1).first()
    assert(s1.getLong(0) === base.count(), "n_vectors")
    assert(s1.getLong(1) >= 2 && s1.getLong(2) >= 1, "n_cells / max_cell")
    assert(s1.getDouble(3) >= 1.0, "cell_skew is max/mean, >= 1 by definition")
    assert(s1.getDouble(4) === 0.0, "fresh build has no appended rows")
    assert(s1.getDouble(5) > 0.0 && s1.getDouble(5) <= 1.0, "mean intra-cell cosine")

    // appends move exactly the appended_frac the rebuild advice watches
    EmbeddingStore.appendToIvfIndex(spark, p1, delta)
    val s2 = EmbeddingStore.indexStats(spark, p1).first()
    assert(s2.getLong(0) === vectors.count())
    val expFrac = BigDecimal(delta.count().toDouble / vectors.count().toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s2.getDouble(4) === expFrac, "appended_frac")

    // a second Lloyd iteration re-centers the centroids a second time:
    // the quality stat it exists to move must not degrade (small slack:
    // the assignment argmax is on 6dp-rounded scores, so the objective
    // is not EXACTLY the one Lloyd minimizes)
    val p2 = Files.createTempDirectory("graft-stats2").toFile.getAbsolutePath
    EmbeddingStore.buildIvfIndex(spark, base, p2, lloydIterations = 2)
    assert(IndexCatalog.read(spark, p2, "cells").count() === base.count(),
      "two-pass build is still a complete re-layout")
    val s3 = EmbeddingStore.indexStats(spark, p2).first()
    assert(s3.getDouble(5) >= s1.getDouble(5) - 0.02,
      s"second Lloyd pass degraded mean intra-cell cosine: ${s3.getDouble(5)} vs ${s1.getDouble(5)}")
  }

  test("384-dim IVF index: build infers the width, pruned probe stays exact") {
    // the reference's model width (processor.py:174) through the
    // PERSISTED index path: build infers dim from the data, centroids
    // come out 384 wide, and the partition-pruned probe is exact
    // within its probed cells — same contract as the 64-dim test
    val dir = Files.createTempDirectory("graft-ivf-384").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents, 384).drop("shard")
    EmbeddingStore.buildIvfIndex(spark, vectors, path)

    val centroids = IndexCatalog.read(spark, path, "centroids")
    assert(centroids.select(size(col("centroid"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(384), "centroid width must follow the data")
    val cells = IndexCatalog.read(spark, path, "cells")
    assert(cells.count() === vectors.count())

    val queryDoc = 0L
    val hits = EmbeddingStore.searchIvf(spark, path, queryDoc, k = 5)
    val rows = hits.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val probed = rows.map(_.getInt(1)).distinct.toSeq
    val (read384, total384) = prunedVsTotal(path, "cells", probed)
    assert(read384 < total384,
      s"384-dim probe scan planned $read384 of $total384 cell files")
    val qv = cells.filter(col("doc_id") === queryDoc).select(col("embedding").as("qv"))
    val exact = cells
      .filter(col("cell").isin(probed: _*) && col("doc_id") =!= queryDoc)
      .join(broadcast(qv))
      .select(col("doc_id"), round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(5).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      exact.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("incremental append: new vectors join the index without a rebuild") {
    val dir = Files.createTempDirectory("graft-ivf-app").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents).drop("shard")
    val base = vectors.filter(col("doc_id") < 400)
    val delta = vectors.filter(col("doc_id") >= 400)

    EmbeddingStore.buildIvfIndex(spark, base, path)
    val centroidsBefore = IndexCatalog.read(spark, path, "centroids").collect()
    val genPre = IndexCatalog.currentGen(path)

    val stats = EmbeddingStore.appendToIvfIndex(spark, path, delta)
    assert(stats.processed === delta.count())
    assert(stats.newWatermark === 499L)

    val cells = IndexCatalog.read(spark, path, "cells")
    // complete: every base and delta vector present exactly once
    assert(cells.count() === vectors.count())
    assert(cells.select("doc_id").distinct().count() === vectors.count())
    // history untouched: centroids identical, so probes stay valid
    assert(IndexCatalog.read(spark, path, "centroids").collect().toSet ===
      centroidsBefore.toSet)
    // an appended doc is findable through the pruned probe path
    val hits = EmbeddingStore.searchIvf(spark, path, queryDocId = 450L, k = 5)
    assert(hits.count() > 0)

    // TIME TRAVEL across the advance: the append published a NEW
    // index generation; the pre-advance pin still reads EXACTLY the
    // base corpus (an advance never touches committed history —
    // reference posture: engine.py:163 mutates in place and keeps
    // none of this)
    assert(IndexCatalog.currentGen(path) === genPre + 1)
    val pinned = IndexCatalog.readAt(spark, path, genPre, "cells")
    assert(pinned.count() === base.count())
    assert(pinned.agg(max(col("doc_id"))).first().getLong(0) < 400L)
    assert(pinned.filter(col("gen") =!= 0).count() === 0L,
      "the pre-advance generation must hold only build-time rows")
  }

  test("rebuildIfDrifted: below threshold no-op; past it the quantizer recovers") {
    val dir = Files.createTempDirectory("graft-ivf-drift").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val t = Tables(spark, sfDir)
    val vectors = EmbeddingStore.embed(t.documents).drop("shard")
    // a SMALL base and a LARGE append: the appended mass dominates,
    // so the stale centroids have never seen most of the store — the
    // drift shape the rebuild advice exists for
    val base = vectors.filter(col("doc_id") < 100)
    val delta = vectors.filter(col("doc_id") >= 100)
    EmbeddingStore.buildIvfIndex(spark, base, path)
    val fresh = EmbeddingStore.indexStats(spark, path).first()

    // below threshold: untouched (marker intact, same cells)
    assert(!EmbeddingStore.rebuildIfDrifted(spark, path, threshold = 0.5))
    EmbeddingStore.appendToIvfIndex(spark, path, delta)
    val drifted = EmbeddingStore.indexStats(spark, path).first()
    assert(drifted.getDouble(4) > 0.5, "append must push appended_frac past 0.5")

    // past threshold: refit from the stored cells
    assert(EmbeddingStore.rebuildIfDrifted(spark, path, threshold = 0.5))
    val rebuilt = EmbeddingStore.indexStats(spark, path).first()
    assert(rebuilt.getLong(0) === vectors.count(), "no vector lost in the swap")
    assert(rebuilt.getDouble(4) === 0.0, "a rebuild resets the drift measure")
    // the quantizer-quality stat recovers: the refit centroids have
    // seen every vector (the drifted ones had fitted 100 of 500)
    assert(rebuilt.getDouble(5) >= drifted.getDouble(5),
      s"rebuild must not degrade mean_intra_cosine: ${rebuilt.getDouble(5)} vs ${drifted.getDouble(5)}")
    // the cell layout now follows the full corpus (cell count re-derived
    // from n=500, not n=100), and the staging dir is gone
    assert(rebuilt.getLong(1) === EmbeddingStore.numCellsFor(vectors.count()))
    assert(!new java.io.File(path, "_rebuild").exists())
    // probes still work end-to-end on the swapped-in layout
    assert(EmbeddingStore.searchIvf(spark, path, queryDocId = 450L, k = 5).count() > 0)
  }

  test("searchIvfBatch: one pass reproduces every per-query probe, " +
    "scan is partition-pruned, probe metadata stays bounded") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    EmbeddingStore.driverRowsHighWater.set(0)
    val batch =
      EmbeddingStore.searchIvfBatch(spark, path, queries, k = 10, probes = 2)
    val rows = batch.collect()
    // the driver held only index METADATA: the batch's queries and the
    // cached centroids' scores it ranks them against (the distributed
    // probe's own bound is pinned in the forced-cap case below)
    val nCells = IndexCatalog.pin(path).read(spark, "centroids").count()
    assert(EmbeddingStore.driverRowsHighWater.get() <= math.max(5L, nCells),
      s"batch probe held ${EmbeddingStore.driverRowsHighWater.get()} driver rows")
    // ONE scan of the union of probed cells, file-pruned from the
    // manifest's cell statistics
    val probedU = rows.map(_.getInt(2)).distinct.toSeq
    val (readB, totalB) = prunedVsTotal(path, "cells", probedU)
    assert(readB < totalB,
      s"batched probe scan planned $readB of $totalB cell files")
    // the batch slice for each query is EXACTLY the single-query probe
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet === (0L until 5L).toSet)
    (0L until 5L).foreach { qid =>
      val single = EmbeddingStore.searchIvf(spark, path, qid, k = 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val slice = byQuery(qid).sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
      assert(slice === single, s"query $qid diverged from the one-at-a-time probe")
    }
  }

  test("searchIvfRadius: θ-complete within its probed cells, pruned scan, " +
    "consistent with top-k over the same probes") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val theta = 0.12
    val hits = EmbeddingStore.searchIvfRadius(spark, path, queryDocId = 0L,
      minScore = theta, probes = 4)
    val rows = hits.collect()
    assert(rows.nonEmpty, "radius search returned nothing at the row's θ")
    // contract: every row clears θ, best-first with doc_id tie-break
    assert(rows.forall(_.getDouble(2) >= theta))
    val order = rows.map(r => (-r.getDouble(2), r.getLong(0))).toSeq
    assert(order === order.sorted, "radius output not (score DESC, doc_id)")
    // the θ filter must not cost a corpus scan: the probed scan is
    // file-pruned from the manifest like D8 (the 1-row query-vector
    // lookup beside it legitimately plans over every file — its
    // doc_id predicate prunes at the parquet row-group level instead)
    locally {
      val probedR = rows.map(_.getInt(1)).distinct.toSeq
      val (readR, totalR) = prunedVsTotal(path, "cells", probedR)
      assert(readR < totalR,
        s"radius probe scan planned $readR of $totalR cell files")
    }

    // θ-COMPLETE within the probed cells: independent brute-force
    // scoring of exactly those cells finds the same qualifying set
    val cells = IndexCatalog.read(spark, path, "cells")
    val probed = rows.map(_.getInt(1)).distinct.toSeq
    val qv = cells.filter(col("doc_id") === 0L).select(col("embedding").as("qv"))
    val exact = cells
      .filter(col("cell").isin(probed: _*) && col("doc_id") =!= 0L)
      .join(broadcast(qv))
      .select(col("doc_id"), round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .filter(col("score") >= theta)
      .orderBy(col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq === exact)

    // agreement with top-k at the same probe width: the radius result's
    // best rows ARE the top-k rows wherever the kth score clears θ
    val topk = EmbeddingStore.searchIvf(spark, path, 0L, k = 10, probes = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val kAboveTheta = topk.takeWhile(_._2 >= theta)
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).take(kAboveTheta.length)
      .toSeq === kAboveTheta)
  }

  test("searchIvfFiltered: exactly the label-matching slice of the probed " +
    "cells, top-k ordered, pruned scan, label pushed to the metadata scan") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val res = EmbeddingStore.searchIvfFiltered(spark, path, t.embeddings,
      queryDocId = 0L, k = 10, probes = 4, label = 3)
    val rows = res.collect()
    assert(rows.nonEmpty, "filtered search returned nothing for label 3")
    assert(rows.forall(_.getInt(2) === 3))
    val order = rows.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(order === order.sorted)
    // plan: the cell scan is file-pruned from the manifest AND the
    // label predicate reaches the metadata parquet scan
    locally {
      val probedF =
        EmbeddingStore.probeCellsWithQuery(spark, path, 0L, probes = 4)._1
      val (readF, totalF) = prunedVsTotal(path, "cells", probedF.toSeq)
      assert(readF < totalF,
        s"filtered probe scan planned $readF of $totalF cell files")
    }
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("EqualTo(label,3)"),
      s"label filter not pushed to the metadata scan:\n$plan")
    // completeness within the probed cells: independent brute-force
    // over those cells restricted to label 3 agrees row-for-row
    val cells = IndexCatalog.read(spark, path, "cells")
    val probed = EmbeddingStore.probeCellsWithQuery(spark, path, 0L,
      probes = 4)._1.toSeq
    val labels = t.embeddings
      .filter(col("label") === 3).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val qv = cells.filter(col("doc_id") === 0L).select(col("embedding").as("qv"))
    val exact = cells
      .filter(col("cell").isin(probed: _*) && col("doc_id") =!= 0L)
      .join(broadcast(qv))
      .select(col("doc_id"), round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(p => labels(p._1))
      .sortBy(p => (-p._2, p._1)).take(10).toSeq
    assert(rows.map(r => (r.getLong(0), r.getDouble(3))).toSeq === exact)
  }

  test("warm plan-phase job budgets: the filtered, radius, PQ and SQ8 " +
    "searches each plan in one Spark job") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val emb = t.embeddings
    def variants(q: Long) = Seq(
      "searchIvfFiltered" -> (() => EmbeddingStore.searchIvfFiltered(spark,
        path, emb, q, k = 10, probes = 4, label = 3)),
      "searchIvfRadius" -> (() => EmbeddingStore.searchIvfRadius(spark,
        path, q, minScore = 0.12, probes = 4)),
      "searchIvfPq" -> (() => ProductQuantizer.searchIvfPq(spark, path, q,
        k = 10)),
      "searchIvfSq8" -> (() => ScalarQuantizer.searchIvfSq8(spark, path, q,
        k = 10)))
    // the warm-up loads the manifests, sketches, centroids and codebooks
    variants(0L).foreach { case (_, plan) => plan().collect() }
    variants(5L).foreach { case (name, plan) =>
      val (_, jobs) = JobCounting.countJobs(spark)(plan())
      assert(jobs === 1, s"a warm $name request planned in $jobs jobs")
    }
  }

  test("driver-side probe ranking equals the broadcast join-and-collect: " +
    "6dp ties break on cell, NaN ranks first and NULL last, and the " +
    "ranking of cached centroids runs no job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("cell", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    def c(cell: Int, v: Float*) = Row(cell, v.toSeq)
    val rows = Seq(
      c(4, 1f, 0f, 0f),
      c(1, 1f, 0f, 0f),        // exact tie with cell 4
      c(3, 1f, 1e-5f, 0f),     // equal to cells 1 and 4 at 6dp
      c(0, 0f, 1f, 0f),
      c(7, 0f, 0f, 0f),        // zero vector scores 0.0, ties cell 0
      c(2, Float.NaN, 0f, 0f), // NaN ranks above every number
      c(5, 1f, 2f),            // width mismatch: NULL score, ranks last
      c(6, -1f, 0f, 0f))
    val local = TableFormat.localFrame(spark, rows, schema)
    val distributed = local.repartition(3)
    val qv = Seq(1f, 0f, 0f)
    val qFrame = TableFormat.localFrame(spark, Seq(Row(qv)),
      StructType(Seq(StructField("qv", ArrayType(FloatType))))).repartition(1)
    (1 to rows.length).foreach { probes =>
      val (viaDriver, jobs) = JobCounting.countJobs(spark)(
        EmbeddingStore.rankCells(local, qv, probes).toSeq)
      assert(jobs === 0, s"the driver-side ranking ran $jobs jobs")
      val joined = distributed.join(broadcast(qFrame))
        .select(col("cell"),
          round(cosineSim(col("centroid"), col("qv")), 6).as("cs"))
        .orderBy(col("cs").desc, col("cell")).limit(probes)
        .collect().map(_.getInt(0)).toSeq
      assert(viaDriver === joined, s"probes = $probes")
      assert(EmbeddingStore.rankCells(distributed, qv, probes).toSeq === joined)
    }
    assert(EmbeddingStore.rankCells(local, qv, 4).toSeq === Seq(2, 1, 3, 4))

    // and on a real index, per query: the probe of a warm request
    // equals the join-and-collect over the same pinned generation
    val path = EmbeddingStore.ensureIndex(Tables(spark, sfDir))
    val pin = IndexCatalog.pin(path)
    val cells = pin.read(spark, "cells")
    Seq(0L, 3L, 17L, 42L).foreach { q =>
      val probed = EmbeddingStore.probeCellsWithQuery(spark, pin, q, 3)._1.toSeq
      val qv = cells.filter(col("doc_id") === q).select(col("embedding").as("qv"))
      val joined = pin.read(spark, "centroids").join(broadcast(qv))
        .select(col("cell"),
          round(cosineSim(col("centroid"), col("qv")), 6).as("cs"))
        .orderBy(col("cs").desc, col("cell")).limit(3)
        .collect().map(_.getInt(0)).toSeq
      assert(probed === joined, s"query $q")
    }
  }

  // the title predates the batch searches below; kept so the test id
  // stays stable
  test("with the sketch and centroid caps forced to 0, every single-query " +
    "search is result-identical and plans through the distributed probe") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val queries = t.embeddings.filter(col("vec_id") < 5 || col("vec_id") === 33L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def batchPlanJobs(): Int = JobCounting.countJobs(spark)(
      EmbeddingStore.searchIvfBatch(spark, path, queries, k = 10))._2
    def results(): Seq[Seq[String]] = Seq(
      EmbeddingStore.searchIvfBatch(spark, path, queries, k = 10),
      EmbeddingStore.searchIvfBatch(spark, path, queries, k = 5, probes = 4),
      EmbeddingStore.searchIvf(spark, path, 0L, k = 10),
      EmbeddingStore.searchIvf(spark, path, 33L, k = 10, probes = 4),
      EmbeddingStore.searchIvfFiltered(spark, path, t.embeddings, 0L,
        k = 10, probes = 4, label = 3),
      EmbeddingStore.searchIvfRadius(spark, path, 0L, minScore = 0.12,
        probes = 4),
      ProductQuantizer.searchIvfPq(spark, path, 0L, k = 10),
      ScalarQuantizer.searchIvfSq8(spark, path, 0L, k = 10),
      EmbeddingStore.searchIvf(spark, path, 987654321L, k = 10)
    ).map(_.collect().map(_.toString).toSeq)
    def planJobs(): Int =
      JobCounting.countJobs(spark)(EmbeddingStore.searchIvf(spark, path, 7L,
        k = 10))._2
    val cached = results()
    assert(planJobs() === 1)
    // a warm batch plans in the one bounded query collect: each query
    // ranks on the driver against the cached centroids
    assert(batchPlanJobs() === 1)
    val (sketchBytes, rowsCap) =
      (TableFormat.sketchCacheBytes, IndexCatalog.smallRowsCap)
    try {
      TableFormat.sketchCacheBytes = 0L
      IndexCatalog.smallRowsCap = 0L
      assert(results() === cached)
      // the distributed batch probe holds only probed cell ids
      EmbeddingStore.driverRowsHighWater.set(0)
      EmbeddingStore.searchIvfBatch(spark, path, queries, k = 10).collect()
      assert(EmbeddingStore.driverRowsHighWater.get() <= 6L * 2)
      // the query-vector collect, the sketch probe over the manifest
      // parquet and the TakeOrdered ranking collect
      assert(planJobs() === 3)
    } finally {
      TableFormat.sketchCacheBytes = sketchBytes
      IndexCatalog.smallRowsCap = rowsCap
    }
  }

  test("one catalog pin per request: a request pinned at generation g " +
    "returns exactly its rows after an append publishes g + 1") {
    val dir = Files.createTempDirectory("graft-ivf-pin").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val vectors = EmbeddingStore.embed(Tables(spark, sfDir).documents)
      .drop("shard")
    EmbeddingStore.buildIvfIndex(spark, vectors, path)
    val (qid, k) = (12L, 10)
    val pin = IndexCatalog.pin(path)
    val before = EmbeddingStore.searchIvfAt(spark, pin, qid, k, 2).collect().toSeq
    // copies of the query's own vector under new ids: they land in
    // the query's cell and score 1.0, so the append changes the answer
    EmbeddingStore.appendToIvfIndex(spark, path, vectors
      .filter(col("doc_id") === qid)
      .crossJoin(spark.range(1, 4).toDF("i"))
      .select((col("doc_id") + col("i") * 100000L).as("doc_id"),
        col("embedding")))
    assert(IndexCatalog.currentGen(path) === pin.gen + 1)
    assert(EmbeddingStore.searchIvfAt(spark, pin, qid, k, 2).collect().toSeq
      === before)
    val now = EmbeddingStore.searchIvf(spark, path, qid, k).collect()
    assert(Set(100012L, 200012L, 300012L).subsetOf(
      now.map(_.getLong(0)).toSet), "fixture rot: the append is not visible")
  }
}
