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
  * Scale shape: at 100 TB the `codes` column is what an index layout
  * persists (m bytes/vector beside `pq_codes`' nibbles — same
  * cell-partitioned sidecar pattern); computed here inline because
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

  /** int8 codes of a micro-unit (BIGINT) vector with its per-vector
    * max-abs scale s: cᵢ = sign(qᵢ)·⌊(2·127·|qᵢ| + s) / (2·s)⌋ —
    * exact integer half-up of 127·|qᵢ|/s. Zero vector (s = 0) → all
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
            (lit(2L) * sv).cast("double")).cast("long")))

  /** Exact integer dot product of two BIGINT array columns. Both
    * sides must be plain attributes (HOF re-evaluation rule). */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Micro-units → scale → codes as one projection: (doc_id, cell,
    * s, codes). `s` rides along in the layout (cosine ranking never
    * needs it — the scale-invariance identity — but L2/dot consumers
    * and reconstruction do; one BIGINT per vector is free). */
  private def encodeSq8(assigned: DataFrame): DataFrame =
    assigned
      .select(col("doc_id"), col("cell"),
        ProductQuantizer.quantize(col("embedding")).as("qv"))
      .withColumn("s", array_max(transform(col("qv"), v => abs(v))))
      .select(col("doc_id"), col("cell"), col("s"),
        sq8Codes(col("qv"), col("s")).as("codes"))

  /** Write the int8 code sidecar for a freshly built index's cells —
    * called by [[EmbeddingStore.buildIvfIndex]] beside the PQ
    * sidecar, from the just-written cell layout (one read, not a
    * re-run of the assignment DAG). Cell-partitioned like `cells`
    * and `pq_codes`, so the probe prunes it at the file listing. */
  def buildSq8(spark: SparkSession, cells: DataFrame, path: String): Unit =
    graft.sources.TableFormat.commitGenManifested(
      encodeSq8(cells), s"$path/sq8_codes", Seq("cell", "doc_id"))

  /** Keep the sq8 sidecar append-consistent with the cells (the
    * [[ProductQuantizer.appendPq]] discipline) — unlike PQ there are
    * no codebooks to stay consistent with: the code rule is
    * per-vector, so appended rows encode identically to build-time
    * rows by construction. */
  def appendSq8(assigned: DataFrame, path: String): Unit = {
    val root = s"$path/sq8_codes"
    graft.sources.TableFormat.appendScoped(assigned.sparkSession, root,
      encodeSq8(assigned),
      graft.sources.TableFormat.genSchema(root,
        graft.sources.TableFormat.currentGen(root)))
    ()
  }

  /** D24 — `q_search_ivfsq8`: the compressed probe OVER the persisted
    * index — IVF cell pruning (exactly D8's probe rule) + int8 code
    * ranking, the FAISS `IVF,SQ8` shape that production deployments
    * usually pick before PQ (4× bytes, near-exact ranking — D23
    * measures the drift, D22 measures PQ's). The probe scans ONLY
    * (doc_id, codes) from the probed cell partitions of the sidecar
    * — never a float vector — and the plan is the D12 shape: scan →
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
    val codesTable = pin.readPruned(spark, "sq8_codes", "cell", probed.toSeq)
    if (qFloat.isEmpty) {
      // absent query doc: the empty-frame contract of the search rows
      return codesTable.select(col("doc_id"), col("cell"),
        lit(0.0).as("sq8_score")).limit(0)
    }
    val qq = qFloat.get.map(ProductQuantizer.quantizeLong)
    val qqLit = typedLit(qq.toSeq)
    val nq = math.sqrt(qq.map(x => x.toDouble * x).sum)
    val dotc = intDot(qqLit, col("codes")).cast("double")
    val den = lit(nq) *
      sqrt(intDot(col("codes"), col("codes")).cast("double"))
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
