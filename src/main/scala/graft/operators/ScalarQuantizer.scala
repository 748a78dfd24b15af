package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSim
import graft.sources.Tables

/** Scalar (int8) quantization — the OTHER standard compressed vector
  * representation beside PQ (D12, ProductQuantizer): no codebooks to
  * train, one scale per vector (max-|component| maps to ±127), a 4×
  * scan-bytes cut vs float32 at far higher fidelity than PQ's 24-32×.
  * Production ANN stores (the FAISS `SQ8` flat index and every major
  * vector database's int8 option) reach for SQ first and escalate to
  * PQ only when the corpus outgrows it, and they pair the compressed
  * scan with a REFINE stage: the code scan picks k·F candidates, the
  * exact floats rerank only those. D23 `q_search_sq8` is that
  * two-stage plan. (Reference anchor: the corpus scan this
  * compresses is the reference's full-precision cosine search,
  * processor.py:436.)
  *
  * EXACTNESS CONTRACT (the ProductQuantizer discipline): components
  * quantize to integer micro-units first; codes derive by EXACT
  * integer arithmetic (half-up away from zero — the floor form below
  * cannot be off by one: every intermediate integer is < 2⁵³ so it is
  * exactly representable in the double division, IEEE division is
  * correctly rounded, and with s ≤ ~10⁷ a non-integer quotient can
  * never sit within one ulp of an integer); the compressed score's
  * sums are integer; ONE final division rounds to 6dp. KEY IDENTITY:
  * cosine is scale-invariant, so the per-vector scale s cancels out
  * of the compressed score — cos(query, code·s/127) ≡ cos(query,
  * code) — and no reconstruction arithmetic (a rational per
  * component) ever happens on either engine: integer codes compare
  * against the integer micro-unit query directly.
  *
  * Scale shape: the persisted index stores the codes as the cells'
  * `sq8_codes` column beside its scale `sq8_s` and the PQ
  * `pq_codes` (the L2/dot consumers and reconstruction need the
  * scale; cosine ranking never does); computed here inline because
  * the row IS the fidelity evaluator for that layout choice. Stage 1
  * is scan → codegen'd projection → TakeOrderedAndProject (no
  * shuffle beyond top-k·F); stage 2 touches exactly k·F float rows
  * (the D14 candidate-bounded rerank bound, k1 texts → k·F vectors).
  */
object ScalarQuantizer {

  /** Code range: int8 symmetric, ±127. */
  val sqMaxCode = 127L

  /** Stage-1 overscan: the compressed scan keeps k·this candidates
    * for the exact rerank (FAISS's `k_factor` refine knob; 4 is its
    * common default neighborhood). */
  val candidateFactor = 4

  /** int8 codes (TINYINT, one byte each) of a micro-unit (BIGINT)
    * vector with its per-vector max-abs scale s:
    * cᵢ = sign(qᵢ)·⌊(2·127·|qᵢ| + s) / (2·s)⌋ — exact integer half-up
    * of 127·|qᵢ|/s, so |cᵢ| ≤ 127. Zero vector (s = 0) → all
    * zeros. STRUCTURALLY once-per-row in s: the scale rides in as a
    * zip_with ARGUMENT (`array_repeat(s, size(qv))`), so the lambda
    * only ever touches element attributes — even if the optimizer
    * inlines an expensive expression for `s` into this projection
    * (CollapseProject's cheap/multi-ref heuristics are version
    * fluid), it evaluates once per ROW at argument level, never per
    * element. The repeat array is `size(qv)` longs/row — noise next
    * to the per-element arithmetic it guards. */
  private[graft] def sq8Codes(qv: Column, s: Column): Column =
    zip_with(qv, array_repeat(s, size(qv)), (v, sv) =>
      when(sv === 0L, lit(0L)).otherwise(
        when(v < 0L, lit(-1L)).otherwise(lit(1L)) *
          floor((lit(2L * sqMaxCode) * abs(v) + sv).cast("double") /
            (lit(2L) * sv).cast("double")).cast("long")).cast("tinyint"))

  /** Exact integer dot product of two integer array columns (BIGINT
    * micro-units or TINYINT codes, each element cast up to BIGINT
    * before the product). Both sides must be plain attributes (HOF
    * re-evaluation rule). */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** D24 — `q_search_ivfsq8`: the compressed probe OVER the persisted
    * index — IVF cell pruning (exactly D8's probe rule) + int8 code
    * ranking, the FAISS `IVF,SQ8` shape that production deployments
    * usually pick before PQ (4× bytes, near-exact ranking — D23
    * measures the drift, D22 measures PQ's). The probe scans ONLY
    * (doc_id, cell, sq8_codes) of the probed cells' files — never a
    * float vector — and the plan is the D12 shape: scan →
    * codegen'd integer projection → TakeOrdered, no join, no shuffle
    * beyond top-k (the query's micro-units fold in as a literal).
    * Scoring: the scale-invariance identity again — integer code
    * dot over integer norms, one 6dp division; the query-side norm
    * is a driver-computed constant from the same exact integers. */
  def searchIvfSq8(spark: SparkSession, path: String,
      queryDocId: Long, k: Int, probes: Int = 2): DataFrame = {
    val pin = graft.sources.IndexCatalog.pin(path)
    val (probed, qFloat) =
      EmbeddingStore.probeCellsWithQuery(spark, pin, queryDocId, probes)
    val codesTable = pin.readPruned(spark, "cells", "cell", probed.toSeq)
    if (qFloat.isEmpty) {
      // absent query doc: the empty-frame contract of the search rows
      return codesTable.select(col("doc_id"), col("cell"),
        lit(0.0).as("sq8_score")).limit(0)
    }
    val qq = qFloat.get.map(ProductQuantizer.quantizeLong)
    val qqLit = typedLit(qq.toSeq)
    val nq = math.sqrt(qq.map(x => x.toDouble * x).sum)
    val dotc = intDot(qqLit, col("sq8_codes")).cast("double")
    val den = lit(nq) *
      sqrt(intDot(col("sq8_codes"), col("sq8_codes")).cast("double"))
    codesTable
      .filter(col("cell").isin(probed.toSeq: _*))
      .filter(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), col("cell"),
        round(when(den === 0.0, 0.0).otherwise(dotc / den), 6)
          .as("sq8_score"))
      .orderBy(col("sq8_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Driver-contract wrapper: IVF-SQ8 top-10 for query doc 0 over
    * the build-once persisted index. */
  def searchIvfSq8Query(t: Tables): DataFrame =
    searchIvfSq8(t.spark, EmbeddingStore.ensureIndex(t), queryDocId = 0L,
      k = 10, probes = 2)

  /** D23 — `q_search_sq8`: two-stage compressed search. Stage 1
    * scores the whole corpus in the compressed domain — integer dot
    * of the micro-unit query against each vector's int8 codes over
    * integer norms, one 6dp-rounded division — and keeps the top
    * k·[[candidateFactor]] (score desc, vec_id ties). Stage 2
    * reranks ONLY those candidates with exact full-precision cosine
    * and emits the top k with BOTH scores, so the row doubles as the
    * fidelity evaluator for the int8 layout (sq8_score vs score,
    * side by side, is the quantization error a tuning pass reads).
    * Query = the stored vec_id 0 (the D-family convention). */
  def searchSq8(t: Tables): DataFrame = {
    val k = 10
    val q = t.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").as("qemb"),
        ProductQuantizer.quantize(col("embedding")).as("qq"))
    // micro-units → per-vector scale → codes; sq8Codes is
    // structurally once-per-row in s (argument-level repeat), so
    // nothing here depends on the optimizer keeping the aliases
    val coded = t.embeddings.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        ProductQuantizer.quantize(col("embedding")).as("qv"))
      .withColumn("s", array_max(transform(col("qv"), v => abs(v))))
      .withColumn("codes", sq8Codes(col("qv"), col("s")))
      .select(col("vec_id"), col("embedding"), col("codes"))
    val dotQc = intDot(col("qq"), col("codes")).cast("double")
    val den = sqrt(intDot(col("qq"), col("qq")).cast("double")) *
      sqrt(intDot(col("codes"), col("codes")).cast("double"))
    val cand = coded.join(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qemb"),
        round(when(den === 0.0, 0.0).otherwise(dotQc / den), 6)
          .as("sq8_score"))
      .orderBy(col("sq8_score").desc, col("vec_id"))
      .limit(k * candidateFactor)
    cand
      .select(col("vec_id"), col("sq8_score"),
        round(cosineSim(col("embedding"), col("qemb")), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }
}
