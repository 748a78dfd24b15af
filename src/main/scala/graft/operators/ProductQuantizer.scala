package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.cosineSim
import graft.sources.{IndexCatalog, Tables}

/** Product-quantization (PQ) layer over the persisted IVF index — the
  * scan-bytes lever for vector search at 100 TB (reference: the
  * corpus the reference scans per search, processor.py:436, is raw
  * float32 vectors; at its 384-dim width that is ~1.5 KB/vector,
  * and IVF cell pruning alone still reads full-width vectors inside
  * every probed cell. PQ is the standard compressed-domain answer
  * from the public ANN literature — PAPERS.md's survey: split each
  * vector into `m = dim/subDim` subvectors, quantize each subvector
  * to one of `numCentroids` codebook entries, store only the code
  * ids, and score a query against codes via an asymmetric-distance
  * lookup table).
  *
  * EXACTNESS CONTRACT (what makes the DuckDB oracle replay bit-for-
  * bit): every float component is quantized to an integer micro-unit
  * (`round(v·10⁶)` as BIGINT) BEFORE any arithmetic, so codebook
  * build, code assignment (argmin of integer squared L2, ties to the
  * lowest code id) and the ADC scores are EXACT integer computations
  * — no float-summation order can perturb an assignment or a rank on
  * either engine. This is the same micro-unit discipline as
  * q_mix_temperature / q_lm_score applied to distances.
  *
  * Scale shape:
  *  - codebooks are deterministic seeds — the `numCentroids` lowest
  *    doc_ids' subvectors (the numCellsFor-style rule: derivable by
  *    any engine from the corpus alone, no iterative training state
  *    to ship). m·numCentroids rows of metadata (~KBs), broadcast
  *    into the encode as literals.
  *  - encoding is a single codegen'd projection over the corpus
  *    (m·numCentroids·subDim integer mul-adds per row) at index
  *    BUILD time — storage cost, paid once, like the bucketed layout.
  *  - the probe scans ONLY (doc_id, codes) from the probed cell
  *    partitions: `codes` is m small ints vs dim floats — the
  *    24-32× scan-bytes reduction that keeps probe I/O flat as
  *    vector width grows.
  *  - the ADC table (m·numCentroids integer distances) is index
  *    metadata, collected via the same bounded-driver discipline as
  *    the probed cell ids, then folded into the scan as a literal
  *    lookup — the probe plan is scan → project → TakeOrdered, no
  *    join, no shuffle beyond top-k.
  */
object ProductQuantizer {

  /** Dims per subspace. dim must divide evenly: 64-dim → 8
    * subspaces, the reference's 384-dim → 48. */
  val subDim = 8

  /** Codebook entries per subspace (codes are 0..15 — nibble-sized;
    * 256 is the classic choice for billion-scale corpora but needs
    * ≥256 seed rows to be meaningful; 16 keeps the deterministic
    * seeded codebook honest at test SFs while the layout and probe
    * are representation-identical at any ncent). */
  val numCentroids = 16

  /** Micro-unit scale shared with the oracle: CAST(ROUND(v*1e6) AS
    * BIGINT) on both engines. Embedding components are O(1), so
    * quantized values are ~1e6, squared ~1e12, and a full ADC sum
    * stays far inside BIGINT. */
  private val quantScale = 1e6

  /** Integer micro-unit quantization of a float vector column. */
  private[graft] def quantize(vec: Column): Column =
    transform(vec, v => round(v.cast("double") * quantScale).cast("long"))

  /** Driver-side twin of [[quantize]] — mirrors Spark's Round
    * (BigDecimal.valueOf + HALF_UP, away from zero on halves; plain
    * math.round would differ on negative .5 boundaries). */
  private[graft] def quantizeLong(v: Float): Long =
    java.math.BigDecimal.valueOf(v.toDouble * quantScale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Default Lloyd refinement steps for the codebooks — the same knob
    * the IVF coarse quantizer got (`buildIvfIndex(lloydIterations)`),
    * at the same default: one assign→mean pass. Each step is one
    * extra corpus pass at build time (storage cost); `indexStats`'s
    * `pq_distortion` is the number an operator watches to decide
    * whether another step — or a drift rebuild — is worth it. */
  val codebookLloydIterations = 1

  /** Deterministic codebooks for a (doc_id, embedding) corpus: seeds
    * = the `numCentroids` lowest doc_ids' quantized subvectors (codes
    * 0..ncent-1 in id order), then `lloydIterations` refinement
    * steps — assign every corpus subvector to its nearest entry
    * (exact integer L2, ties to the lowest cid — the [[PqEncode]]
    * rule, so assignment during refinement and assignment at encode
    * time can never disagree), new entry = element-wise
    * round(avg(component)) over the members (an exact-integer sum
    * divided once, HALF_UP — the 6dp-Lloyd discipline of the coarse
    * quantizer applied in micro-units), empty clusters keep their
    * previous entry. Per step: one distributed corpus pass (explode
    * to component rows, one map-side-combining mean keyed on
    * (sub, cid, i)); the collect is bounded metadata
    * (m·ncent·subDim rows) through the instrumented gate. DuckDB
    * replays seed, assignment and mean exactly (the D12 oracle). */
  private[graft] def codebookRows(vectors: DataFrame,
      dim: Int): Seq[(Int, Int, Seq[Long])] =
    codebookRows(vectors, dim, codebookLloydIterations)

  private[graft] def codebookRows(vectors: DataFrame, dim: Int,
      lloydIterations: Int): Seq[(Int, Int, Seq[Long])] = {
    require(dim % subDim == 0, s"dim $dim not divisible by subDim $subDim")
    val m = dim / subDim
    val seeds = EmbeddingStore.collectBounded(
      vectors.select(col("doc_id"), quantize(col("embedding")).as("qv"))
        .orderBy(col("doc_id")).limit(numCentroids),
      numCentroids, "PQ codebook seeds")
    var cb: Seq[(Int, Int, Seq[Long])] = for {
      (r, cid) <- seeds.zipWithIndex.toSeq
      s <- 0 until m
    } yield (s, cid, r.getSeq[Long](1).slice(s * subDim, (s + 1) * subDim))
    val quant = vectors.select(quantize(col("embedding")).as("qv"))
    (1 to lloydIterations).foreach { _ =>
      val means = EmbeddingStore.collectBounded(
        quant
          .select(col("qv"), codesExpr(cb, m).as("codes"))
          .select(col("qv"), posexplode(col("codes")).as(Seq("s", "cid")))
          .select(col("s"), col("cid"),
            posexplode(slice(col("qv"), col("s") * subDim + 1, lit(subDim)))
              .as(Seq("i", "v")))
          .groupBy(col("s"), col("cid"), col("i"))
          .agg(round(avg(col("v"))).cast("long").as("mv")),
        numCentroids.toLong * m * subDim, "PQ Lloyd means")
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getInt(2), r.getLong(3))))
        .groupBy(_._1)
        .map { case (k, rows) =>
          k -> rows.map(_._2).sortBy(_._1).map(_._2).toSeq
        }
      cb = cb.map { case (s, cid, old) =>
        (s, cid, means.getOrElse((s, cid), old))
      }
    }
    cb
  }

  /** Code-assignment column over a quantized vector column `qv`:
    * per subspace, argmin over the codebook of the exact integer
    * squared L2, ties to the lowest code id. A dedicated codegen'd
    * expression ([[PqEncode]]): the m·ncent·subDim inner loop stays
    * primitive (an unrolled function-tree overflows a generated
    * method; higher-order functions interpret with per-element
    * boxing — ~40× slower measured at 384 dims). */
  private def nestedOf(cb: Seq[(Int, Int, Seq[Long])],
      m: Int): Array[Array[Array[Long]]] =
    (0 until m).map(s =>
      cb.filter(_._1 == s).sortBy(_._2).map(_._3.toArray).toArray).toArray

  private def codesExpr(cb: Seq[(Int, Int, Seq[Long])], m: Int): Column =
    GraftColumnBridge.column(
      PqEncode(GraftColumnBridge.expression(col("qv")), nestedOf(cb, m)))

  /** Per-row PQ quantization error against the PERSISTED codebooks,
    * over an `embedding` column, scaled to integer micro-units
    * (round(Σ_s min-L2² / 1e6) — the per-vector value `indexStats`
    * folds into `pq_distortion`). Exact-integer inside
    * [[PqDistortion]]; the one scaling division is the same IEEE op
    * on the same integers on both engines. */
  private[operators] def distortionMicro(spark: SparkSession,
      pin: IndexCatalog.Pin): Column = {
    val cb = readCodebooks(spark, pin)
    val m = cb.map(_._1).max + 1
    val raw = GraftColumnBridge.column(PqDistortion(
      GraftColumnBridge.expression(quantize(col("embedding"))), nestedOf(cb, m)))
    round(raw.cast("double") / quantScale).cast("long")
  }

  /** Build the PQ sidecars for an assigned corpus (doc_id, embedding,
    * cell): `pq_codebooks` (the tiny seeded codebook table) and
    * `pq_codes` (doc_id, codes) PARTITIONED BY CELL — the same
    * partition key as the index cells, so a probe prunes code files
    * at the listing exactly like vector files. Called inside the
    * index build; storage, not query work. */
  def buildPq(spark: SparkSession, assigned: DataFrame, path: String): Unit = {
    val dim = assigned.select(size(col("embedding")).as("d")).limit(1)
      .first().getInt(0)
    val m = dim / subDim
    val cb = codebookRows(assigned, dim)
    graft.sources.TableFormat.commitGenManifested(
      spark.createDataFrame(cb).toDF("sub", "cid", "cvec").coalesce(1),
      s"$path/pq_codebooks", Seq("sub"))
    // the codes inherit the cells' (cell, doc_id) clustering (a pure
    // projection over the committed cell files — no shuffle), so the
    // sidecar's manifest prunes probe-identically to the cells'
    graft.sources.TableFormat.commitGenManifested(
      encodeWith(assigned, cb, m), s"$path/pq_codes", Seq("cell", "doc_id"))
  }

  /** Encode appended vectors against the PERSISTED codebooks and
    * append their codes — [[EmbeddingStore.appendToIvfIndex]]'s PQ
    * sibling. The codebook is FIXED after build (standard IVF-PQ
    * posture: like centroid drift, codebook aging is what
    * rebuild-on-drift bounds); appended rows stay probe-visible in
    * the compressed domain with no rewrite. */
  def appendPq(spark: SparkSession, assigned: DataFrame, path: String): Unit = {
    val cb = readCodebooks(spark, IndexCatalog.pin(path))
    val m = cb.map(_._1).max + 1
    val root = s"$path/pq_codes"
    graft.sources.TableFormat.appendScoped(spark, root,
      encodeWith(assigned, cb, m),
      graft.sources.TableFormat.genSchema(root,
        graft.sources.TableFormat.currentGen(root)))
    ()
  }

  private def encodeWith(assigned: DataFrame, cb: Seq[(Int, Int, Seq[Long])],
      m: Int): DataFrame =
    assigned
      .select(col("doc_id"), col("cell"), quantize(col("embedding")).as("qv"))
      .select(col("doc_id"), col("cell"), codesExpr(cb, m).as("codes"))

  /** The codebook table pinned by `pin`, back as driver-side
    * metadata (m·ncent rows, bounded). Codebooks are immutable within
    * a generation (appends never touch them; a rebuild commits the
    * next one), so they come from [[IndexCatalog.Pin.smallRows]]: loaded
    * once per generation, keyed by its manifest identity, which a
    * root deleted and rebuilt at the same generation id does not
    * share. */
  private def readCodebooks(spark: SparkSession,
      pin: IndexCatalog.Pin): Seq[(Int, Int, Seq[Long])] =
    EmbeddingStore.collectBounded(
      pin.smallRows(spark, "pq_codebooks")
        .getOrElse(pin.read(spark, "pq_codebooks")),
      numCentroids * 64L, "PQ codebooks")
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSeq

  /** `q_search_ivfpq` — compressed-domain ANN through the persisted
    * IVF-PQ index: probe the 2 nearest refined centroids (exactly
    * D8's probe), then rank the probed cells' vectors by ASYMMETRIC
    * DISTANCE — the query's exact quantized subvectors against each
    * vector's codebook entries, an m-lookup sum per candidate — over
    * a scan that reads ONLY the code sidecar (never a float vector).
    * Smallest adist first, doc_id tie-break. The ADC lookup table is
    * index metadata (m·ncent integer distances): computed by one tiny
    * codebook×query job, bounded-collected, and folded into the scan
    * as a literal nested-array lookup, so the final plan is a
    * partition-pruned scan → codegen'd projection → TakeOrdered.
    * Output (doc_id, cell, adist) is all-integer — engine-exact by
    * construction. */
  def searchIvfPq(spark: SparkSession, path: String, queryDocId: Long,
      k: Int, probes: Int = 2): DataFrame = {
    val pin = IndexCatalog.pin(path)
    val (probed, qFloat) =
      EmbeddingStore.probeCellsWithQuery(spark, pin, queryDocId, probes)
    val cb = readCodebooks(spark, pin)
    val m = cb.map(_._1).max + 1
    // manifest-pruned: only code files whose cell range intersects a
    // probed cell are read (the isin filter below is the residual)
    val codesTable = pin.readPruned(spark, "pq_codes", "cell", probed.toSeq)
    if (qFloat.isEmpty) {
      // absent query doc: same empty-frame contract as the other
      // search rows — and the oracle's probe CTE is empty too
      return codesTable.select(col("doc_id"), col("cell"),
        lit(0L).as("adist")).limit(0)
    }
    // the query's exact quantized vector — same micro-unit rule as
    // [[quantize]], applied to the floats the probe job already
    // carried back (float→double is exact, so [[quantizeLong]] ≡ the
    // column expression)
    val qv = qFloat.get.map(quantizeLong)
    // ADC table: adc(s)(c) = exact integer squared L2 between the
    // query's subvector s and codebook entry c
    val adc: Seq[Seq[Long]] = (0 until m).map { s =>
      cb.filter(_._1 == s).sortBy(_._2).map { case (_, _, cv) =>
        (0 until subDim).map { i =>
          val d = qv(s * subDim + i) - cv(i); d * d
        }.sum
      }
    }
    // ONE literal node (not a CreateArray tree — at 384 dims that is
    // ~800 nodes the analyzer re-walks on every probe)
    val adcLit = typedLit(adc)
    val adist = (0 until m).map(s =>
      element_at(element_at(adcLit, s + 1),
        element_at(col("codes"), s + 1).cast("int") + 1))
      .reduce(_ + _)
    codesTable
      .filter(col("cell").isin(probed.toSeq: _*))
      .filter(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), col("cell"), adist.as("adist"))
      .orderBy(col("adist").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Driver-contract wrapper: IVF-PQ top-10 for query doc 0 over the
    * build-once persisted index. */
  def searchIvfPqQuery(t: Tables): DataFrame =
    searchIvfPq(t.spark, EmbeddingStore.ensureIndex(t), queryDocId = 0L,
      k = 10, probes = 2)

  /** N queries through the COMPRESSED index in ONE pass —
    * [[EmbeddingStore.searchIvfBatch]]'s plan with the ADC ranking in
    * place of exact cosine: per-query probe choice (the shared D8
    * rule), union-of-probes partition pruning over the CODE sidecar
    * (m ints per row, never a float vector), and the per-query ADC
    * tables — N·m·ncent integer distances, index metadata — folded
    * into the scan as ONE literal indexed by a dense query index the
    * broadcast probe map carries. Scan → broadcast equi-join on cell
    * → codegen'd lookup sum → per-query window top-k; the ranked
    * candidate set is bounded by N·probes·τ at any corpus size.
    * `queries` = (query_id LONG, qv ARRAY<FLOAT>). */
  def searchIvfPqBatch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, probes: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the SAME probe choice as the exact batch probe (shared stage —
    // recall comparisons isolate compression, never cell choice)
    val pin = IndexCatalog.pin(path)
    val probeMap = EmbeddingStore.batchProbeMap(spark, pin, queries, probes)
    val qRows = EmbeddingStore.collectBounded(
      probeMap.select(col("query_id"), col("qv")).distinct(),
      10000, "pq batch query vectors")
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(quantizeLong))
      .sortBy(_._1)
    val probedCells =
      EmbeddingStore.probedCellsOf(probeMap, qRows.length.toLong * probes)
    val cb = readCodebooks(spark, pin)
    val m = cb.map(_._1).max + 1
    // per-query ADC tables (the searchIvfPq rule, one per query):
    // adcAll(qi)(s)(c) — bounded driver math over index metadata
    val adcAll: Seq[Seq[Seq[Long]]] = qRows.map { case (_, qv) =>
      (0 until m).map { s =>
        cb.filter(_._1 == s).sortBy(_._2).map { case (_, _, cv) =>
          (0 until subDim).map { i =>
            val d = qv(s * subDim + i) - cv(i); d * d
          }.sum
        }
      }
    }
    val adcLit = typedLit(adcAll)
    val qidx = spark.createDataFrame(
      qRows.zipWithIndex.map { case ((id, _), i) => (id, i) })
      .toDF("query_id", "qi")
    val pairs = probeMap.select(col("query_id"), col("cell"))
      .join(qidx, "query_id")
    val adist = (0 until m).map(s =>
      element_at(element_at(element_at(adcLit, col("qi") + 1), s + 1),
        element_at(col("codes"), s + 1).cast("int") + 1))
      .reduce(_ + _)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("doc_id"))
    pin.readPruned(spark, "pq_codes", "cell", probedCells.toSeq)
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .join(broadcast(pairs), Seq("cell"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("cell"), adist.as("adist"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** D22 — `q_pq_recall`: recall@10 of the COMPRESSED probe against
    * the exact probe, per query of the D3 sample through ONE
    * persisted index — the number that closes D12's tuning loop
    * (probes ↔ [[EmbeddingStore.indexStats]]'s pq_distortion ↔ this
    * recall; E2b and D7 are the same evaluator shape for LSH and the
    * coarse quantizer). Both legs run the batched one-pass plans over
    * identical probe choices, so the recall isolates exactly what
    * ADC compression costs — never a different candidate set. */
  def pqRecallQuery(t: Tables): DataFrame = {
    val spark = t.spark
    val path = EmbeddingStore.ensureIndex(t)
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = EmbeddingStore.searchIvfBatch(spark, path, queries, k = 10)
      .select(col("query_id"), col("doc_id"))
      .localCheckpoint(true) // two consumers: the count and the hit join
    val pq = searchIvfPqBatch(spark, path, queries, k = 10)
      .select(col("query_id"), col("doc_id"))
    val nExact = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val nHit = exact.join(pq, Seq("query_id", "doc_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    nExact.join(nHit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
      .orderBy(col("query_id"))
  }
}

/** PQ code assignment as a native Catalyst expression: for each of
  * the codebook's subspaces, the argmin over its entries of the EXACT
  * integer squared L2 against the matching slice of the quantized
  * input vector; ties take the lowest code id (strict `<` over
  * entries iterated in cid order). The codebook rides the plan as a
  * reference object — primitive `long[][][]`, no per-row boxing —
  * and the whole triple loop inlines into whole-stage codegen. */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Long]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = codebook.length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cands = codebook(s)
      val sub = cands(0).length
      var best = Long.MaxValue; var bc = 0; var c = 0
      while (c < cands.length) {
        val cv = cands(c); var d = 0L; var i = 0
        while (i < sub) {
          val diff = arr.getLong(s * sub + i) - cv(i); d += diff * diff; i += 1
        }
        if (d < best) { best = d; bc = c }
        c += 1
      }
      codes(s) = bc; s += 1
    }
    new GenericArrayData(codes)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, qv => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook, "long[][][]")
      val codes = ctx.freshName("codes"); val s = ctx.freshName("s")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val best = ctx.freshName("best"); val bc = ctx.freshName("bc")
      val d = ctx.freshName("d"); val diff = ctx.freshName("diff")
      val sub = ctx.freshName("sub"); val cands = ctx.freshName("cands")
      s"""
         |int[] $codes = new int[$cb.length];
         |for (int $s = 0; $s < $cb.length; $s++) {
         |  long[][] $cands = $cb[$s];
         |  int $sub = $cands[0].length;
         |  long $best = Long.MAX_VALUE; int $bc = 0;
         |  for (int $c = 0; $c < $cands.length; $c++) {
         |    long $d = 0L;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      long $diff = $qv.getLong($s * $sub + $i) - $cands[$c][$i];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $best) { $best = $d; $bc = $c; }
         |  }
         |  $codes[$s] = $bc;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Per-vector PQ QUANTIZATION ERROR as a native expression: the sum
  * over subspaces of the MINIMUM exact integer squared L2 between the
  * quantized input's subvector and the codebook's entries — i.e. the
  * distance to the entry [[PqEncode]] would assign (same strict-`<`
  * argmin), without materializing the codes. Feeds `indexStats`'s
  * `pq_distortion` health column; same codegen shape as PqEncode. */
case class PqDistortion(child: Expression, codebook: Array[Array[Array[Long]]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_distortion"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var total = 0L
    var s = 0
    while (s < codebook.length) {
      val cands = codebook(s)
      val sub = cands(0).length
      var best = Long.MaxValue; var c = 0
      while (c < cands.length) {
        val cv = cands(c); var d = 0L; var i = 0
        while (i < sub) {
          val diff = arr.getLong(s * sub + i) - cv(i); d += diff * diff; i += 1
        }
        if (d < best) best = d
        c += 1
      }
      total += best; s += 1
    }
    total
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, qv => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook, "long[][][]")
      val total = ctx.freshName("total"); val s = ctx.freshName("s")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val best = ctx.freshName("best"); val d = ctx.freshName("d")
      val diff = ctx.freshName("diff"); val sub = ctx.freshName("sub")
      val cands = ctx.freshName("cands")
      s"""
         |long $total = 0L;
         |for (int $s = 0; $s < $cb.length; $s++) {
         |  long[][] $cands = $cb[$s];
         |  int $sub = $cands[0].length;
         |  long $best = Long.MAX_VALUE;
         |  for (int $c = 0; $c < $cands.length; $c++) {
         |    long $d = 0L;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      long $diff = $qv.getLong($s * $sub + $i) - $cands[$c][$i];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $best) { $best = $d; }
         |  }
         |  $total += $best;
         |}
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqDistortion =
    copy(child = newChild)
}
