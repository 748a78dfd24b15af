package graft

import org.apache.spark.sql.functions._

import graft.operators.ScalarQuantizer
import graft.sources.Tables

class ScalarQuantizerSpec extends SparkTestBase {
  lazy val t = Tables(spark, sfDir)

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def microUnits(v: Array[Float]): Array[Long] =
    v.map(x => java.math.BigDecimal.valueOf(x.toDouble * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())

  /** The exact integer half-up code rule, replicated with BigInt
    * rationals (no floating point at all — stricter than the floor
    * identity both engines compute). */
  private def codes(q: Array[Long]): Array[Long] = {
    val s = q.map(math.abs).max
    if (s == 0L) q.map(_ => 0L)
    else q.map { qi =>
      val c = (BigInt(2) * 127 * BigInt(qi).abs + s) / (BigInt(2) * s)
      (if (qi < 0) -c else c).toLong
    }
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na * nb == 0) 0.0 else dot / (na * nb)
  }

  test("searchSq8: equals an independent plain-Scala replication " +
    "(rational-exact codes, compressed candidate cut, exact rerank), " +
    "and the compressed score tracks the exact score") {
    val emb = t.embeddings.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    val qq = microUnits(q).map(_.toDouble)
    val scored = emb.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      val c = codes(microUnits(v)).map(_.toDouble)
      (id, r6(cos(qq, c)), r6(cos(q.map(_.toDouble), v.map(_.toDouble))))
    }
    val cand = scored.sortBy { case (id, sq8, _) => (-sq8, id) }
      .take(10 * ScalarQuantizer.candidateFactor)
    val expected = cand.sortBy { case (id, _, ex) => (-ex, id) }.take(10)
      .map { case (id, sq8, ex) => id -> ((sq8, ex)) }.toMap
    val got = ScalarQuantizer.searchSq8(t).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got === expected)
    // fidelity: int8 at 64 dims keeps cosine within a tight band —
    // the property the two-score output exists to expose
    got.values.foreach { case (sq8, ex) =>
      assert(math.abs(sq8 - ex) < 0.02, s"sq8 $sq8 drifted from exact $ex")
    }
  }

  test("searchSq8: a zero vector codes to all zeros and scores 0 " +
    "(never NaN), and codes stay within the int8 range") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8").toFile
    // vec 0 = query; vec 1 = the zero vector; vec 2 = a near-copy of
    // the query; vec 3 = anti-aligned
    val rows = Seq(
      (0L, Array(1.0f, 2.0f, -3.0f, 0.5f), 0),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.1f, 2.1f, -2.9f, 0.4f), 0),
      (3L, Array(-1.0f, -2.0f, 3.0f, -0.5f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
    val got = ScalarQuantizer.searchSq8(Tables(spark, dir.getAbsolutePath))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((0.0, 0.0)), "zero vector must score 0, not NaN")
    assert(got(2L)._2 > 0.99 && got(2L)._1 > 0.99)
    // exact cosine is exactly -1; the compressed one only nearly so
    // (codes round each side separately)
    assert(got(3L)._2 === -1.0 && got(3L)._1 < -0.999)
    // range check on the code rule itself, exactly at the scale peak
    val c = codes(microUnits(Array(1.0f, -2.0f, 0.004f)))
    assert(c.max <= 127L && c.min >= -127L)
    assert(c(1) === -127L, "the max-|component| must map to ±127")
  }

  test("searchIvfSq8: the probed persisted-index ranking equals an " +
    "independent plain-Scala replication from the layout's own cells " +
    "and centroids, and the sidecar covers every cell row in range") {
    import graft.operators.{EmbeddingStore, ScalarQuantizer => SQ}
    val path = EmbeddingStore.ensureIndex(t)
    val cells = graft.sources.IndexCatalog.read(spark, path, "cells")
      .select(col("doc_id"), col("embedding"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val cents = graft.sources.IndexCatalog.read(spark, path, "centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val q = cells.find(_._1 == 0L).get._2
    // the D8 probe rule: top-2 cells by 6dp centroid cosine, ties low
    val probed = cents
      .map { case (cell, cv) =>
        (cell, r6(cos(q.map(_.toDouble), cv.map(_.toDouble)))) }
      .sortBy { case (cell, cs) => (-cs, cell) }.take(2).map(_._1).toSet
    val qq = microUnits(q).map(_.toDouble)
    val expected = cells
      .filter(c => probed(c._3) && c._1 != 0L)
      .map { case (id, v, cell) =>
        (id, cell, r6(cos(qq, codes(microUnits(v)).map(_.toDouble)))) }
      .sortBy { case (id, _, s) => (-s, id) }.take(10).toSeq
    val got = SQ.searchIvfSq8Query(t).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got === expected)
    // code audit: every cell row carries its codes, one byte each, every
    // code within ±127
    val side = graft.sources.IndexCatalog.read(spark, path, "cells")
      .filter(col("sq8_codes").isNotNull)
    assert(side.count() === cells.length.toLong)
    assert(side.schema("sq8_codes").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    val mx = side
      .select(array_max(transform(col("sq8_codes"), x => abs(x.cast("int")))).as("m"))
      .agg(max(col("m"))).first().getInt(0)
    assert(mx <= 127, s"a code escaped the int8 range: $mx")
  }
}
