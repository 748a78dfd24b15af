package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-size scaling for the HEAVY query family, driven by
  * `graft.Dev scale`.
  *
  * Every per-round bench row is sf0.1, where a ~0.3-0.5 s planning/
  * scheduling floor per query dominates the data path (SCALING.md §1)
  * — so none of those rows says how the heavy operators grow with the
  * CORPUS. `Dev scale` times exactly that: the heaviest queries
  * (`q_dedup_family`, `q_ngram_overlap`, `q_containment`,
  * `q_ivf_recall`, `q_dedup_embedding`, `q_pack_sequences`,
  * `q_lsh_recall` — the `defaultHeavy` list below) over the
  * sf0.1 corpus replicated 1×/2×/4×/8× with per-replica salting, run
  * through the REAL `SparkEntry.queries` entries against
  * materialized parquet dirs — one plan, growing data,
  * per-(size, query) minima across passes.
  *
  * Salting (what makes the read honest):
  *  - documents: every WORD is suffixed with the replica index — a
  *    bijective word map, so each replica's shingle/token statistics
  *    are identical to the base corpus while cross-replica similarity
  *    is exactly zero; pair work grows linearly with the replication
  *    (plain copies would near-match each other and pair stages would
  *    grow quadratically by construction).
  *  - embeddings: each replica's vectors are circularly SHIFTED by
  *    the replica index — an orthogonal transform, so norms and every
  *    in-replica pairwise cosine are preserved exactly while
  *    cross-replica vectors decorrelate; the IVF cell-size and
  *    recall statistics of each replica match the base corpus.
  *
  * Expected shapes (the claim this artifact tests): dedup_family,
  * ngram_overlap and containment are equi-join/aggregate pipelines
  * with DF-capped pair stages — ~linear in corpus size. ivf_recall's
  * query sample is a bounded COUNT (`VectorSearch.recallQueryCount`
  * lowest matching ids), so once the cap binds (8× and 16× here) its
  * ground-truth side is O(K·n) — one more linear scan; the 1×-4×
  * points still grow sample×corpus because the cap hasn't bound yet.
  *
  * Usage: `sbt "runMain graft.Dev scale <sfDir> [1,2,4,8] [q,...]"`
  * → one JSON line (also written to corpus_scaling.json).
  */
object CorpusScaling {

  private[graft] val defaultHeavy = Seq(
    "q_dedup_family", "q_ngram_overlap", "q_containment", "q_ivf_recall",
    "q_dedup_embedding", "q_pack_sequences", "q_lsh_recall")

  /** Materialize the mult× salted corpus dir (idempotent per
    * (sfDir, mult)): documents.parquet + embeddings.parquet (the
    * text/vector families) plus events.parquet, orders/customer and
    * lineitem/part (the B/A families, Q17's pair included) — each
    * replica shifts its entity ids
    * (users/custkeys/order/part keys/event ids), so per-entity density stays constant
    * while the corpus grows: the realistic growth axis (more users,
    * more customers), and the one that keeps windowed/joined work
    * honestly per-key. */
  def ensureReplicatedDir(spark: SparkSession, sfDir: String, mult: Int): String =
    graft.sources.LayoutStore.ensure(sfDir, s"scale_x$mult", "r14") { path =>
      def table(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
      // id ranges derived from the corpus' own max ids — hardcoded
      // offsets would silently collide on large-id corpora
      def base(df: DataFrame, key: String) =
        df.agg(max(col(key))).first().getLong(0) + 1L
      def replicate(name: String)(replica: Int => DataFrame): Unit =
        (0 until mult).map(replica).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$path/$name.parquet")
      def shifted(df: DataFrame, i: Int, keys: (String, Long)*) =
        keys.foldLeft(df) { case (d, (k, by)) =>
          d.withColumn(k, col(k) + lit(i.toLong * by)) }

      val ev0 = table("events")
      val evBase = base(ev0, "event_id")
      val userBase = base(ev0, "user_id")
      replicate("events") { i =>
        ev0.select(
          (col("event_id") + lit(i.toLong * evBase)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(i.toLong * userBase)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      val ord0 = table("orders")
      val cust0 = table("customer")
      val ordBase = base(ord0, "o_orderkey")
      val custBase = base(cust0, "c_custkey")
      replicate("orders")(shifted(ord0, _, "o_orderkey" -> ordBase, "o_custkey" -> custBase))
      replicate("customer")(shifted(cust0, _, "c_custkey" -> custBase))
      // lineitem/part (the A18/Q17 pair): orderkeys shift with their
      // orders, partkeys with their parts; p_brand stays, so per-brand
      // part density is constant — the brand-filtered fact slice grows
      // linearly like everything else
      val li0 = table("lineitem")
      val part0 = table("part")
      val partBase = base(part0, "p_partkey")
      replicate("lineitem")(shifted(li0, _, "l_orderkey" -> ordBase, "l_partkey" -> partBase))
      replicate("part")(shifted(part0, _, "p_partkey" -> partBase))

      val docs0 = table("documents")
      val docBase = base(docs0, "doc_id")
      replicate("documents") { i =>
        docs0.select(
          (col("doc_id") + lit(i.toLong * docBase)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1r$i").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      val emb0 = table("embeddings")
      val embBase = base(emb0, "vec_id")
      val dim = emb0.select(size(col("embedding"))).first().getInt(0)
      replicate("embeddings") { i =>
        val r = i % dim
        // circular shift by r: slice is 1-based; r=0 shifts nothing
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        emb0.select(
          (col("vec_id") + lit(i.toLong * embBase)).as("vec_id"),
          rotated.as("embedding"), col("label"))
      }
    }
}
