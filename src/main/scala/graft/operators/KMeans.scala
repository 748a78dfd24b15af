package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2Norm
import graft.sources.Tables

/** D32 — `q_kmeans`: the FLAT k-means convergence trajectory —
  * spherical k-means (cosine assignment, member-mean update: Dhillon
  * & Modha 2001) run [[kmeansIters]] steps from the deterministic
  * lowest-id seeds, emitting per iteration the populated-cluster
  * count and the exact integer INERTIA (Σ micro-units of 1 − cos to
  * the assigned centroid). This is the monitoring table every
  * embedding-clustering job reads — "is it still moving, when did it
  * stop paying" — the trajectory form of what the index build does
  * blindly (EmbeddingStore's `lloydIterations` knob refines the SAME
  * update rule but only IvfIndexSpec ever sees the quality delta;
  * this row makes the convergence curve a first-class, oracle-checked
  * output).
  *
  * Exactness: assignment scores round to 6dp with lowest-cell ties
  * (the E5/D4 discipline), centroid components are 6dp means stored
  * through FLOAT (exactly [[EmbeddingStore.lloydStep]] — ONE update
  * rule in the library), and inertia quantizes each (1 − s) to
  * integer micro-units BEFORE the sum (the F13/F15 technique), so
  * every number replays bit-for-bit in DuckDB across all
  * [[kmeansIters]] unrolled oracle steps.
  *
  * Scale shape: per iteration ONE corpus pass — score against the
  * k-row broadcast centroid table, argmax as a map-side-combining
  * struct aggregate (never a window over scored rows), stats and the
  * k-row update off the same pinned assignment (cache substitution:
  * persist + eager stats action + unpersist once the update
  * materializes — the pagerank storage discipline; live storage is
  * one assignment frame at any depth). Empty clusters drop from the
  * centroid table (the standard Lloyd behavior; n_cells tracks it). */
object KMeans {

  private[graft] val kmeansK = 8
  private[graft] val kmeansIters = 3

  /** Deterministic seeds: the [[kmeansK]] lowest vec_ids, cell =
    * their rank − 1 (the seedCentroids convention). */
  private[graft] def seeds(vectors: DataFrame): DataFrame =
    vectors.orderBy(col("vec_id")).limit(kmeansK)
      .select((row_number().over(Window.orderBy(col("vec_id"))) - 1)
        .cast("int").as("cell"), col("embedding").as("centroid"))

  /** One flat assignment pass: (vec_id, embedding, cell, s) — argmax
    * cosine over the k centroids, 6dp scores, lowest-cell ties,
    * zero-norm guard inherited from cosineSim.
    *
    * The k-row centroid table COLLECTS (k = [[kmeansK]], bounded) and
    * inlines as array literals, so the pass is a pure per-row
    * projection: no fan-out join multiplying the corpus k-ways and —
    * the expensive part of the old shape — no corpus-wide
    * `groupBy(vec_id)` exchange re-assembling what the row never had
    * to leave (guide §2.4). Bit-parity: the literals run through the
    * SAME l2Norm / normScore kernels (constant-folded via the same
    * eval loop), and `greatest` over (s, −cell) structs is exactly
    * the old `max(struct(s, −cell))` tie-break. */
  private[graft] def assignFlat(vectors: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val scored = cents.map { case (cell, c) =>
      val lc = typedLit(c)
      struct(
        EmbeddingStore.normScore(col("embedding"), lc,
          col("__vn"), l2Norm(lc)).as("s"),
        lit(-cell.toLong).as("nc"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    vectors.withColumn("__vn", l2Norm(col("embedding")))
      .withColumn("m", best)
      .select(col("vec_id"), col("embedding"),
        (-col("m.nc")).cast("int").as("cell"), col("m.s").as("s"))
  }

  def kmeans(t: Tables): DataFrame =
    kmeansOn(t.spark,
      t.embeddings.select(col("vec_id"), col("embedding")))

  private[graft] def kmeansOn(spark: SparkSession,
      vectors: DataFrame): DataFrame = {
    val vecDim = vectors.select(size(col("embedding")).as("d")).limit(1)
      .first().getInt(0)
    var centroids = seeds(vectors).localCheckpoint()
    val rows = Seq.newBuilder[(Int, Long, Long)]
    (1 to kmeansIters).foreach { it =>
      // ONE corpus pass per iteration: the row-local assignment feeds
      // a single (cell, i) aggregation whose k×dim pinned output
      // carries BOTH the iteration's stats and the next centroids —
      // the old shape persisted the corpus-sized assignment and ran a
      // stats pass plus an update pass over it. Inertia micro-units
      // ride the i=0 slice (each assignment row appears exactly once
      // there), so the integer sum is the identical number; per-
      // (cell, i) means are the same `round(avg, 6)` the shared
      // lloydStep computes.
      val agg = assignFlat(vectors, centroids)
        .select(col("cell"),
          round((lit(1.0) - col("s")) * 1e6).cast("long").as("im"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("cell"), col("i"))
        .agg(round(avg(col("v")), 6).as("cv"),
          sum(when(col("i") === 0, col("im"))).as("im"))
        .localCheckpoint()
      val stats = agg.agg(
        countDistinct(col("cell")).as("n_cells"),
        sum(col("im")).as("inertia_micro")).first()
      rows += ((it, stats.getLong(0), stats.getLong(1)))
      centroids = EmbeddingStore.lloydFinish(
        agg.select(col("cell"), col("i"), col("cv")), vecDim)
        .localCheckpoint()
    }
    import spark.implicits._
    rows.result().toDF("iter", "n_cells", "inertia_micro")
      .orderBy(col("iter"))
  }
}
