package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingStore, ProductQuantizer}
import graft.sources.Tables

class ProductQuantizerSpec extends SparkTestBase {

  private def freshIndex(): (String, org.apache.spark.sql.DataFrame) = {
    val t = Tables(spark, sfDir)
    val vecs = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    val path = Files.createTempDirectory("pq-spec").toString
    EmbeddingStore.buildIvfIndex(spark, vecs, path)
    (path, vecs)
  }

  test("codebooks are the Lloyd-1 refinement of the seeded rule " +
    "(independent plain-Scala replication) and codes stay in range") {
    val (path, vecs) = freshIndex()
    val n = vecs.count()
    val cb = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks")
    val d = ProductQuantizer.subDim
    val m = 64 / d
    val ncent = math.min(n, ProductQuantizer.numCentroids.toLong).toInt
    assert(cb.count() === (m * ncent).toLong)
    // independent replication: seeds = the ncent lowest doc_ids'
    // quantized subvectors; one assign (exact integer L2, ties
    // lowest cid) → per-member component mean, HALF_UP — empty
    // clusters keep the seed
    val all = vecs.orderBy(col("doc_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(ProductQuantizer.quantizeLong).toArray)
    def subv(v: Array[Long], s: Int) = v.slice(s * d, (s + 1) * d)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = all.take(ncent)
    val members = Array.fill(m, ncent)(List.empty[Array[Long]])
    for (v <- all; s <- 0 until m) {
      val sv = subv(v, s)
      val best = (0 until ncent).minBy(c => l2(sv, subv(seeds(c), s)))
      members(s)(best) ::= sv
    }
    val expect = (for (s <- 0 until m; c <- 0 until ncent) yield {
      val mem = members(s)(c)
      (s, c) -> (if (mem.isEmpty) subv(seeds(c), s).toSeq
      else (0 until d).map { i =>
        java.math.BigDecimal.valueOf(mem.map(_(i)).sum.toDouble / mem.size)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      })
    }).toMap
    val got = cb.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toSeq).toMap
    assert(got === expect, "persisted codebook is not the Lloyd-1 refinement")
    // every stored code addresses a codebook entry
    val codes = graft.sources.IndexCatalog.read(spark, path, "cells")
      .filter(col("pq_codes").isNotNull)
    assert(codes.count() === n)
    val bad = codes
      .select(explode(col("pq_codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= ncent).count()
    assert(bad === 0L)
  }

  test("searchIvfPqBatch reproduces the per-query compressed probe; " +
    "pq_recall rows are internally consistent") {
    val t = Tables(spark, sfDir)
    val path = EmbeddingStore.ensureIndex(t)
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = ProductQuantizer
      .searchIvfPqBatch(spark, path, queries, k = 10).collect()
      .groupBy(_.getLong(0))
    (0L until 5L).foreach { qid =>
      val single = ProductQuantizer.searchIvfPq(spark, path, qid, k = 10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val slice = batch.getOrElse(qid, Array.empty).sortBy(_.getLong(4))
        .map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
      assert(slice === single, s"query $qid diverged from the one-at-a-time probe")
    }
    val rec = ProductQuantizer.pqRecallQuery(t).collect()
    assert(rec.length === 5)
    rec.foreach { r =>
      val (ne, nh, rc) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(ne > 0 && nh >= 0 && nh <= ne)
      assert(math.abs(rc - nh.toDouble / ne) < 1e-9)
    }
  }

  test("refinement does not degrade quantization error; the distortion gate " +
    "feeds rebuildIfDrifted") {
    val (path, vecs) = freshIndex()
    val d = ProductQuantizer.subDim
    val m = 64 / d
    val n = vecs.count()
    val ncent = math.min(n, ProductQuantizer.numCentroids.toLong).toInt
    // plain-Scala mean distortion under seed-only vs the persisted
    // (refined) codebook — Lloyd can only shrink the assigned-entry
    // error it refines
    val all = vecs.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(ProductQuantizer.quantizeLong).toArray)
    def subv(v: Array[Long], s: Int) = v.slice(s * d, (s + 1) * d)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seedCb = all.take(ncent)
    val refCb = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray).toMap
    def meanDist(entry: (Int, Int) => Array[Long]): Double =
      all.map { v =>
        (0 until m).map(s =>
          (0 until ncent).map(c => l2(subv(v, s), entry(s, c))).min).sum.toDouble
      }.sum / all.length / 1e12
    val seedD = meanDist((s, c) => subv(seedCb(c), s))
    val refD = meanDist((s, c) => refCb((s, c)))
    assert(refD <= seedD + 1e-12,
      s"Lloyd refinement degraded distortion: $refD vs seed $seedD")
    // the stats row reports the same measure (within its micro-unit
    // rounding) ...
    val stats = EmbeddingStore.indexStats(spark, path).first()
    val reported = stats.getAs[Double]("pq_distortion")
    assert(math.abs(reported - refD) < 1e-4,
      s"pq_distortion $reported disagrees with independent math $refD")
    // ... and feeds the drift gate: fraction gate quiet, distortion
    // gate trips (threshold 0 < any real corpus error); the refit
    // over the same cells lands on the same codebooks, so the
    // measure is stable across the swap
    assert(!EmbeddingStore.rebuildIfDrifted(spark, path, 1.0, Double.MaxValue))
    assert(EmbeddingStore.rebuildIfDrifted(spark, path, 1.0, 0.0),
      "positive distortion must trip the distortion gate")
    val after = EmbeddingStore.indexStats(spark, path).first()
      .getAs[Double]("pq_distortion")
    assert(math.abs(after - reported) < 1e-4, "refit over identical cells moved the measure")
  }

  test("searchIvfPq returns the exact integer ADC ranking over the probed cells") {
    val (path, _) = freshIndex()
    val got = ProductQuantizer.searchIvfPq(spark, path, queryDocId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // independent ground truth, all in plain JVM arithmetic: read the
    // stored codes + codebooks + query vector and re-rank
    val probed = got.map(_._2).toSet
    val cb = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2))).toMap
    val qv = graft.sources.IndexCatalog.read(spark, path, "cells")
      .filter(col("doc_id") === 0L).select(col("embedding")).first()
      .getSeq[Float](0).map(ProductQuantizer.quantizeLong)
    val expected = graft.sources.IndexCatalog.read(spark, path, "cells").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Int]]("pq_codes")))
      .filter { case (id, cell, _) => id != 0L && probed(cell) }
      .map { case (id, cell, codes) =>
        val adist = codes.zipWithIndex.map { case (c, s) =>
          val cv = cb((s, c))
          (0 until ProductQuantizer.subDim).map { i =>
            val d = qv(s * ProductQuantizer.subDim + i) - cv(i); d * d
          }.sum
        }.sum
        (id, cell, adist)
      }
      .sortBy { case (id, _, adist) => (adist, id) }
      .take(10)
    assert(got.toSeq === expected.toSeq)
  }

  test("appendToIvfIndex keeps the code sidecar consistent with the cells") {
    val t = Tables(spark, sfDir)
    val all = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    val maxId = all.agg(max(col("doc_id"))).first().getLong(0)
    val base = all.filter(col("doc_id") <= maxId / 2)
    val delta = all.filter(col("doc_id") > maxId / 2)
    val path = Files.createTempDirectory("pq-append").toString
    EmbeddingStore.buildIvfIndex(spark, base, path)
    val cbBefore = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).sortBy(x => (x._1, x._2))
    EmbeddingStore.appendToIvfIndex(spark, path, delta)
    // codebooks FIXED across the append (standard IVF-PQ posture)
    val cbAfter = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).sortBy(x => (x._1, x._2))
    assert(cbAfter.toSeq === cbBefore.toSeq)
    // every vector in the cells carries its codes, and they equal a
    // fresh encoding of its embedding against the fixed codebooks
    // (plain JVM argmin of the exact integer L2, lowest code id on ties)
    val cb = cbAfter.map { case (sub, cid, cv) => (sub, cid) -> cv }.toMap
    val cells = graft.sources.IndexCatalog.read(spark, path, "cells")
      .select(col("embedding"), col("pq_codes")).collect()
    assert(cells.length.toLong === all.count())
    val sd = ProductQuantizer.subDim
    cells.foreach { r =>
      val qv = r.getSeq[Float](0).map(ProductQuantizer.quantizeLong)
      val fresh = (0 until qv.length / sd).map { s =>
        (0 until ProductQuantizer.numCentroids).minBy { c =>
          (0 until sd).map { i => val d = qv(s * sd + i) - cb((s, c))(i); d * d }.sum
        }
      }
      assert(r.getSeq[Int](1) === fresh)
    }
    // appended rows are probe-visible in the compressed domain: a
    // search for a delta doc returns neighbors (its own cell is
    // non-empty by construction)
    val probeId = maxId
    val res = ProductQuantizer.searchIvfPq(spark, path, probeId, k = 5)
    assert(res.count() > 0L)
  }

  test("rebuildIfDrifted swaps the PQ sidecars with the cells") {
    val t = Tables(spark, sfDir)
    val all = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    val maxId = all.agg(max(col("doc_id"))).first().getLong(0)
    val path = Files.createTempDirectory("pq-rebuild").toString
    EmbeddingStore.buildIvfIndex(spark, all.filter(col("doc_id") <= maxId / 2), path)
    EmbeddingStore.appendToIvfIndex(spark, path,
      all.filter(col("doc_id") > maxId / 2))
    assert(EmbeddingStore.rebuildIfDrifted(spark, path, threshold = 0.1))
    // post-rebuild: codes cover the full corpus, cells agree, and the
    // codebook is the re-seeded rule over the merged corpus (same
    // seeds here, since seeds are the lowest ids — but the swap must
    // have left no stale/replaced dirs behind)
    val n = all.count()
    val cells = graft.sources.IndexCatalog.read(spark, path, "cells")
    assert(cells.filter(col("pq_codes").isNotNull).count() === n)
    // the SQ8 codes re-encode with the same rebuild — stale sq8 codes
    // against new cells would rank against the wrong partitioning
    assert(cells.filter(col("sq8_codes").isNotNull).count() === n)
    val leftovers = new java.io.File(path).list().filter(_.endsWith("_replaced"))
    assert(leftovers.isEmpty, s"stale dirs after rebuild: ${leftovers.mkString(",")}")
    val res = ProductQuantizer.searchIvfPq(spark, path, queryDocId = 0L, k = 10)
    assert(res.count() === 10L)
    assert(graft.operators.ScalarQuantizer
      .searchIvfSq8(spark, path, queryDocId = 0L, k = 10).count() === 10L)
  }

  test("an index root deleted and rebuilt at the same path with " +
    "different vectors serves its own codebooks and centroids, equal " +
    "to an uncached computation") {
    val t = Tables(spark, sfDir)
    val vecs = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    val path = Files.createTempDirectory("pq-rebuilt").resolve("ivf").toString
    val first = vecs.filter(col("doc_id") < 300)
    val second = vecs.filter(col("doc_id") >= 100)
    val q = 150L
    EmbeddingStore.buildIvfIndex(spark, first, path)
    val cb1 = graft.sources.IndexCatalog.read(spark, path, "pq_codebooks")
      .collect().map(_.toString).toSet
    ProductQuantizer.searchIvfPq(spark, path, q, k = 10).collect()
    EmbeddingStore.searchIvf(spark, path, q, k = 10).collect()
    // LayoutStore's documented way to force a rebuild: remove the root
    graft.sources.LayoutStore.deleteRecursively(new java.io.File(path))
    EmbeddingStore.buildIvfIndex(spark, second, path)
    assert(graft.sources.IndexCatalog.read(spark, path, "pq_codebooks")
      .collect().map(_.toString).toSet !== cb1,
      "fixture rot: both builds have the same codebooks")
    // the uncached computation: the same build at a path no cache has seen
    val fresh = Files.createTempDirectory("pq-fresh").resolve("ivf").toString
    EmbeddingStore.buildIvfIndex(spark, second, fresh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(rows(ProductQuantizer.searchIvfPq(spark, path, q, k = 10)) ===
      rows(ProductQuantizer.searchIvfPq(spark, fresh, q, k = 10)))
    assert(rows(EmbeddingStore.searchIvf(spark, path, q, k = 10)) ===
      rows(EmbeddingStore.searchIvf(spark, fresh, q, k = 10)))
  }
}
