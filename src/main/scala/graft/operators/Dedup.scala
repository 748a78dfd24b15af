package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** E-family: document deduplication — the headline operators of a
  * training-data pipeline. Five escalating strategies over
  * `documents` (plus one over `embeddings`):
  *
  *  - E1 exact:     hash-groupBy on normalized text
  *  - E2 MinHash:   LSH banding — candidates shuffle on band bucket,
  *                  O(candidate pairs) not O(n²)
  *  - E3 SimHash:   64-bit md5 bit-vote fingerprint, Hamming ≤ 3 via
  *                  16-bit band pigeonhole (a pair within distance 3
  *                  MUST agree on one of 4 bands — banding is exact)
  *  - E4 Jaccard:   exact set-similarity via exploded-shingle
  *                  equi-join (only pairs sharing a shingle are ever
  *                  materialized — still no all-pairs)
  *  - E5 embedding: cosine near-dup pairs blocked by √n IVF cells
  *
  * Nothing here self-joins the raw corpus: every pair generator is an
  * equi-join on a derived key (bucket / band / shingle / cell), which
  * is the property that survives 100 TB. All hashing is md5-derived
  * so DuckDB replays it bit-for-bit (SURVEY.md §4).
  */
object Dedup {

  // private[graft]: streaming.StreamingDeduper computes the SAME
  // signatures/buckets per-doc in pure Scala and must share these
  // (StreamingSpec's batch reconciliation would catch drift, but
  // sharing makes drift impossible to write)
  private[graft] val numHashes = 12
  private[graft] val numBands = 4 // 4 bands × 3 rows
  private[graft] val minhashJaccardThreshold = 0.8

  /** LSH bucket-occupancy cap: any band bucket larger than this is
    * dropped from candidate generation (with its pairs) instead of
    * going quadratic — a pathological corpus (boilerplate shingles, a
    * degenerate fingerprint) can otherwise concentrate O(n) docs in
    * one bucket and the in-bucket self-join becomes O(n²) silently.
    * 1000 caps any single bucket's pair cost at ~500k comparisons;
    * the oracles replay the same QUALIFY filter so both engines drop
    * identical buckets. Near-dup mining under a cap is the standard
    * trade (a >1000-doc near-identical cluster is better handled by
    * exact dedup first). */
  private[graft] val maxBucketSize = 1000

  /** Bound a (doc_id, key...) relation to buckets of at most
    * `maxBucketSize` rows per key, via a count window over the same
    * partitioning the downstream self-join shuffles on (so the
    * exchange is paid once and reused by the join). */
  private def capBuckets(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
  }

  /** [[capBuckets]] semantics (drop every row of a >cap bucket) for a
    * consumer that does NOT shuffle on the bucket key downstream —
    * where the count window's full-data exchange would be paid for
    * nothing. A partial-agg count (shuffles one row per DISTINCT key,
    * not per data row) finds the overfull keys, and a broadcast anti
    * join removes them map-side. The broadcast side is one row per
    * OVERFULL bucket — ≤ n/cap even adversarially, and in practice a
    * handful (boilerplate shingles); a corpus where it isn't belongs
    * with exact dedup first (the [[maxBucketSize]] rationale). */
  private def capBucketsAgg(df: DataFrame, keys: Seq[String]): DataFrame = {
    val overfull = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(keys.map(col): _*)
    df.join(broadcast(overfull), keys, "left_anti")
  }

  /** Distinct (doc_id, shingle) ROWS — not per-row arrays. The word
    * stream explodes once, word 3-grams assemble via two `lead`s over
    * (doc_id, pos), then distinct. Measured 20-40× faster than the
    * equivalent higher-order-function array pipeline: Spark's
    * Generate re-evaluates an inline array expression per OUTPUT row,
    * and CollapseProject + filter-pushdown clone expensive HOF trees
    * into every consumer — exploded rows sidestep both, and every
    * downstream step (min-hash aggs, shingle equi-joins) is plain
    * row-at-a-time codegen. The one shuffle this adds (by doc_id for
    * the window) is the shuffle the dedup joins need anyway.
    * (Re-measured r19 with the shingles3 array built in its own
    * projection and a lone explode consumer: still ~2× slower than
    * this shape at sf0.1 — the interpreted HOF allocation dominates;
    * reverted.) */
  private def shingleRowsOf(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    documents
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat_ws(" ", col("w"),
          lead(col("w"), 1).over(w), lead(col("w"), 2).over(w)).as("sh"),
        lead(col("w"), 2).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("sh"))
      .distinct()
  }

  /** E1 — exact dedup: md5 of whitespace-normalized lowercase text,
    * keep the smallest doc_id per group. One hash-shuffle, map-side
    * partial agg; the scale-canonical first pass. */
  def dedupExact(t: Tables): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    t.documents
      .select(col("doc_id"), md5(norm).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("text_hash"))
  }

  /** The materialized stage E2 (minhash pairs), E6 (clusters) and E7
    * (decontamination) all start from: the distinct shingle rows and
    * the per-doc minhash signatures (12 hashes + shingle-set size).
    * Both frames are EAGERLY checkpointed at construction, so every
    * consumer reads the materialized blocks — build once, join
    * thrice. */
  final case class SharedStages private[operators] (
      shingles: DataFrame, sigs: DataFrame)

  /** Build the shared dedup stage over a (doc_id, text) corpus —
    * the SHARED-STAGE CONTRACT for the dedup family. Run standalone,
    * E2/E6/E7 each pay this stage (~half their runtime; at 100 TB,
    * a full corpus read each); a session that wants several of them
    * builds this ONCE and feeds [[minhashPairs]] /
    * [[decontaminateStaged]] / [[Clusters.dedupFamily]] — the
    * composed `q_dedup_family` bench line measures exactly that
    * (one stage build + three cheap consumers ≈ the cost of ONE
    * standalone query, not three).
    *
    * Materialization notes (measured, round 2): the shingle stage is
    * a corpus-wide scan+window+distinct — WITHOUT materialization it
    * re-executes per consumer downstream of the reused exchange (4×,
    * blowing the query up 19× under memory pressure). Eager matters
    * as much as checkpointing: a LAZY checkpoint materializes per
    * partition as consumers pull, and the consumer stages here are
    * mutually independent — the scheduler runs them CONCURRENTLY,
    * each recomputing the pipeline from lineage while racing to
    * publish the same blocks ("Block rdd_N already exists"; measured
    * 8× under a contended run). Eager runs the materialization as
    * its own job BEFORE any consumer exists. Lineage truncation is
    * the trade; a production pipeline at 100 TB would write this
    * stage to a temp table for the same reasons (SURVEY §8). The
    * signature agg is checkpointed too (tiny: one row per doc) so
    * buckets and sizes don't re-run it. */
  def sharedStages(documents: DataFrame): SharedStages = {
    val ex = shingleRowsOf(documents).localCheckpoint()
    SharedStages(ex, signatureOf(ex).localCheckpoint())
  }

  /** E2 — MinHash + LSH banding. Signatures are 12 string-min md5
    * aggregates over the shingle rows (map-side partial MIN combine —
    * the scalable minhash build), 4 band buckets per doc, candidate
    * pairs from a merge self-join on bucket (forced sort-merge so both
    * sides share ONE exchange via AQE's ReusedExchange — a broadcast
    * join here would recompute the signature pipeline on both sides),
    * then exact-Jaccard verification of candidates only: candidate
    * pairs are tiny, so they broadcast into the shingle-row join that
    * counts intersections. */
  def dedupMinhash(t: Tables): DataFrame = dedupMinhashDocs(t.documents)

  /** The minhash pipeline over an arbitrary (doc_id, text) frame —
    * the scaling probe feeds a replicated corpus through this. */
  private[graft] def dedupMinhashDocs(documents: DataFrame): DataFrame =
    minhashPairs(sharedStages(documents))

  /** E2's pair mining over an already-materialized shared stage. */
  def minhashPairs(st: SharedStages): DataFrame = {
    val buckets = capBuckets(
      st.sigs.select(col("doc_id"), explode(array(bandBucketCols: _*)).as("bucket")),
      Seq("bucket"))
    val cand = buckets.as("a").hint("merge")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardFromCommon(verifyCommon(st.shingles, cand),
      st.sigs.select(col("doc_id"), col("n")), minhashJaccardThreshold)
  }

  /** One pass builds the 12-hash signature AND the shingle-set size
    * per doc (map-side partial MIN/count combine). The ONE definition
    * of the signature constants — E2 and E7 both derive from it, the
    * same way their oracles share one pair-CTE scaffold. */
  private def signatureOf(ex: DataFrame): DataFrame =
    ex.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n"),
      (0 until numHashes).map(k =>
        min(md5(concat(lit(s"$k:"), col("sh")))).as(s"h$k")): _*)

  /** Band-bucket hash columns over a signature row — unpivoted with a
    * single explode by the callers (NOT a 4-way union, which would
    * recompute the signature pipeline once per branch). */
  private def bandBucketCols: Seq[org.apache.spark.sql.Column] =
    (0 until numBands).map { b =>
      md5(concat(lit(s"$b|"),
        col(s"h${3 * b}"), col(s"h${3 * b + 1}"), col(s"h${3 * b + 2}")))
    }

  /** Exact-verification stage: count common shingles per candidate
    * pair (candidates are tiny → broadcast into the shingle join).
    * The b-side re-joins the checkpointed shingle rows on
    * (doc_id, sh) — no ordering to exploit post-checkpoint, so
    * shuffle_hash skips the two sorts an SMJ would pay at scale;
    * (doc_id, sh) rows are distinct, so every hash bucket is one
    * row. */
  private def verifyCommon(ex: DataFrame, cand: DataFrame): DataFrame =
    ex.as("a")
      .join(broadcast(cand), col("a.doc_id") === col("doc_a"))
      .join(ex.as("b").hint("shuffle_hash"),
        col("b.doc_id") === col("doc_b") && col("a.sh") === col("b.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))

  /** E7 — `q_decontaminate`: eval-set contamination detection — the
    * cross-corpus near-dup join every training pipeline runs before
    * reporting benchmarks (an eval document leaked into training is
    * only findable by NEAR-duplicate match; exact hashes miss
    * paraphrases and whitespace edits). Same MinHash-LSH machinery as
    * E2 with one structural change: the corpus tag rides through the
    * signature, and the band self-join requires OPPOSITE tags — so
    * intra-corpus candidate pairs (the bulk of any corpus's near-dup
    * mass) never materialize, and verification work is proportional
    * to suspected contamination only. Tag rule here: sources with
    * numeric suffix % 5 == 0 are the "eval" corpus (a stand-in for a
    * real catalog; ANSI-safe like mixSources). Output is
    * (eval_id, train_id, jaccard). */
  def decontaminate(t: Tables): DataFrame =
    decontaminateStaged(sharedStages(t.documents), t.documents)

  /** E7 over an already-materialized shared stage; `documents`
    * supplies only the (doc_id, source) corpus-tag projection — a
    * cheap two-column scan, never the text. */
  def decontaminateStaged(st: SharedStages, documents: DataFrame): DataFrame = {
    val tags = documents.select(col("doc_id"), isEvalTag.as("is_eval"))
    // tags ride the (tiny, checkpointed) signature frame into the
    // band explode; the merge-hinted self-join reuses ONE exchange of
    // it, so the join computes once even un-checkpointed
    val sig = st.sigs.join(tags, "doc_id")
    // occupancy caps count the WHOLE bucket (both corpora), exactly
    // like E2 — the oracle replays the same capping before its
    // cross-tag filter
    val buckets = capBuckets(
      sig.select(col("doc_id"), col("is_eval"),
        explode(array(bandBucketCols: _*)).as("bucket")),
      Seq("bucket"))
    val cand = buckets.as("a").hint("merge")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.is_eval") =!= col("b.is_eval"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardFromCommon(verifyCommon(st.shingles, cand),
      st.sigs.select(col("doc_id"), col("n")), minhashJaccardThreshold)
      .join(tags.select(col("doc_id").as("doc_a"), col("is_eval").as("ea")),
        "doc_a")
      .select(
        when(col("ea"), col("doc_a")).otherwise(col("doc_b")).as("eval_id"),
        when(col("ea"), col("doc_b")).otherwise(col("doc_a")).as("train_id"),
        col("jaccard"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** The corpus tag rule shared by E7 and E7b: sources with numeric
    * suffix % 5 == 0 are the "eval" corpus (ANSI-safe; a stand-in for
    * a real catalog). */
  private[operators] def isEvalTag: org.apache.spark.sql.Column = {
    val srcNum = nullif(regexp_extract(col("source"), "([0-9]+)$", 1), lit(""))
      .cast(LongType)
    pmod(coalesce(srcNum, lit(1L)), lit(5L)) === 0
  }

  /** E7b — `q_ngram_overlap`: exact 13-GRAM cross-corpus overlap —
    * the GPT-3/PaLM-style decontamination rule, complementary to
    * E7's MinHash route: E7 finds documents that are near-duplicates
    * AS A WHOLE (Jaccard ≥ 0.8 of the 3-gram sets); this flags an
    * eval document whose 13-word span appears VERBATIM anywhere in
    * training — a quoted benchmark question inside an otherwise
    * unrelated page, which whole-document similarity never reaches.
    *
    * Shape: 13-gram rows built row-locally from each doc's word
    * array ([[ngramRows]]: no exchange before the gram key's),
    * document-frequency-capped like every exact shingle join
    * ([[cappedShingleRowsOf]]'s rule: a 13-gram in >1000 docs is
    * boilerplate, and pairing it is O(df²) for no signal), then ONE
    * merge self-join on the gram restricted to opposite tags — only
    * cross-corpus candidates materialize. Output counts the shared
    * capped 13-grams per (eval, train) pair. */
  def ngramOverlap(t: Tables): DataFrame =
    ngramOverlapStats(t.documents)
      .orderBy(col("eval_id"), col("train_id"))

  /** E7b over a (doc_id, source, text) frame; unordered (the
    * standalone row adds the sort). */
  private[operators] def ngramOverlapStats(documents: DataFrame): DataFrame = {
    val capped = capBuckets(ngramRows(documents), Seq("g")).localCheckpoint()
    // shuffle_hash for the same reason as ngramJaccardDocs: one
    // reused exchange either way, no double sort of the 13-gram rows
    // (the fattest strings in the library); buckets DF-capped
    capped.as("a").hint("shuffle_hash")
      .join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.is_eval") && !col("b.is_eval"))
      .groupBy(col("a.doc_id").as("eval_id"), col("b.doc_id").as("train_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** E7b's contaminated TRAIN doc ids over a (doc_id, source, text)
    * frame — the decontamination gate needs only these, not the
    * pairs: a train doc pairs with an eval doc iff one of its capped
    * 13-grams has an eval row in its (same, so equally capped) gram
    * bucket. So the cap's own window keyed on the gram answers it —
    * no self-join, no pin. An id repeats once per such gram. */
  private[operators] def ngramContaminated(documents: DataFrame): DataFrame = {
    val byGram = Window.partitionBy(col("g"))
    ngramRows(documents)
      .withColumn("bucket_n", count(lit(1)).over(byGram))
      .withColumn("has_eval", max(col("is_eval")).over(byGram))
      .filter(col("bucket_n") <= maxBucketSize && col("has_eval") && !col("is_eval"))
      .select(col("doc_id"))
  }

  /** Distinct (doc_id, is_eval, g) 13-gram rows, built row-locally
    * from each doc's word array: the gram at word i is words i..i+12
    * joined by single spaces, for every i with 12 words after it (a
    * doc shorter than 13 words has none). The array is its own
    * projection and enters the lambda as a column, so the word split
    * runs once per doc. A doc's grams depend only on its own words,
    * so nothing shuffles before the gram key does. */
  private def ngramRows(documents: DataFrame): DataFrame = {
    val n = 13
    documents
      .select(col("doc_id"), isEvalTag.as("is_eval"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("is_eval"), explode(array_distinct(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => concat_ws(" ", slice(col("ws"), i, lit(n)))))).as("g"))
  }

  /** Exact Jaccard from per-pair intersection counts and per-doc set
    * sizes: |A∩B| / (|A| + |B| − |A∩B|), thresholded. Shared by E2's
    * candidate verification and E4's full set-similarity join so the
    * two can never drift apart. */
  private def jaccardFromCommon(common: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The band/row layouts [[lshRecall]] evaluates over the 12-hash
    * signature family: (bands, rows-per-band) with bands·rows = 12.
    * E2 ships (4, 3); the evaluator measures what the neighbors of
    * that choice trade — more rows per band (2, 6) is stricter
    * (fewer candidates to verify, lower recall), fewer (6, 2) is
    * looser. `private[graft]` so the DuckDB oracle generator derives
    * from the SAME constant and the two sides cannot drift. */
  private[graft] val lshSettings: Seq[(Int, Int)] = Seq((2, 6), (4, 3), (6, 2))

  /** Ground-truth sample size for [[lshRecall]]: the evaluator
    * measures recall over pairs TOUCHING the `recallSampleCount`
    * lowest doc_ids, not the whole corpus — the same bounded-sample
    * contract as D7's `recallQueryCount` (VectorSearch.scala). A
    * tuning diagnostic at 100 TB should cost a sample × corpus pass,
    * never a corpus × corpus pair join. `private[graft]` so the
    * DuckDB oracle derives from the same constant. */
  private[graft] val recallSampleCount = 100

  /** E2b — `q_lsh_recall`: the LSH tuning evaluator — E2's
    * numHashes=12 / 4-band layout was a fixed constant with no
    * measured basis (exactly the gap `q_ivf_recall` closes for the
    * IVF `probes` knob). For each (bands, rows) layout in
    * [[lshSettings]] this measures, against ground truth = the EXACT
    * Jaccard ≥ 0.5 pairs over the capped shingle space (E4's rule)
    * TOUCHING the [[recallSampleCount]] lowest-id sample docs,
    *
    *  - `n_candidates` — the verification COST: how many pairs the
    *    banding sends to exact verification, and
    *  - `recall` — the fraction of truly-similar pairs the banding
    *    surfaces at all (what E2 can never find, no matter the
    *    verification threshold).
    *
    * Scale shape: BOTH truth and candidates are restricted to pairs
    * touching the K = [[recallSampleCount]] lowest-id docs (D7's
    * bounded-sample contract): the truth side is a K-doc × corpus
    * DF-capped shingle equi-join, the candidate side a K-doc × corpus
    * bucket join — sample-proportional cost, nothing corpus².
    * Truth and candidate sets are eagerly checkpointed (each feeds
    * two consumers). The bucket salt carries the layout id, so
    * layouts never cross-collide. Everything is md5-derived and the
    * caps are replayed in the oracle, so DuckDB reproduces the exact
    * counts (reference anchor: the reference hand-tunes its
    * similarity_threshold/limit knobs, engine.py:105 — this is the
    * measured basis a 100 TB corpus demands before committing a
    * layout to a full-corpus dedup run).
    *
    * The sampled evaluator preserves the round-8 full-corpus
    * conclusion (then: (2,6) recall 0.973, (4,3) 1.0 @ 258, (6,2)
    * 1.0 @ 4.3× the cost): (4,3) stays the knee of the curve. */
  def lshRecall(t: Tables): DataFrame = {
    val st = sharedStages(t.documents)
    // BOUNDED ground truth (same contract as D7's K=100 query
    // sample): only pairs touching the `recallSampleCount` lowest
    // doc_ids are measured, so the exact-Jaccard truth side costs one
    // sample × corpus shingle join, not a corpus self-join. The
    // sample rides a broadcast TakeOrdered frame — nothing collects.
    val ids = t.documents.select(col("doc_id"))
      .orderBy(col("doc_id")).limit(recallSampleCount)
    val inS = broadcast(ids.withColumn("in_s", lit(true)))
    // agg-based capping, not the count window: nothing downstream
    // shuffles on `sh` any more (the truth join broadcasts the
    // sample side), so the window's full-shingle-table exchange
    // would be paid without a reuser. Checkpointed: three consumers
    // (sizes, the broadcast sample side, the truth b-side) —
    // re-deriving the anti join per consumer measured 1.7× worse
    // than one materialization
    val ex = capBucketsAgg(st.shingles, Seq("sh")).localCheckpoint()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exS = ex.join(broadcast(ids), "doc_id")
    // canonical generation: the a-side is always a sample doc; a
    // both-in-sample pair keeps only the a < b orientation so the
    // least/greatest grouping never double-counts a shingle match.
    // The a-side is K sample docs' shingles — BROADCAST it, so the
    // corpus-side shingle table streams map-side out of its
    // checkpoint instead of shuffling by `sh` (the evaluator's
    // single biggest exchange before round 11); only the matched
    // pairs shuffle, into the groupBy
    val common = broadcast(exS).as("a")
      .join(ex.join(inS, Seq("doc_id"), "left").as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
          (col("a.doc_id") < col("b.doc_id") ||
            !coalesce(col("b.in_s"), lit(false))))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val truth = jaccardFromCommon(common, sizes, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // consumed by the hit join + the denominator
    val totalDf = truth.agg(count(lit(1)).as("n_truth"))
    // ALL layouts ride ONE bucket table, keyed (bands, rows_per_band,
    // bucket) — exactly the oracle's shape. One capping window, one
    // band self-join, one checkpoint and one hit join replace the
    // per-layout pipeline triple; each layout's bucket space is
    // disjoint by salt, so the layout axis adds nothing to the join
    // itself. (Measured ~3% at sf0.1 — the evaluator's cost is the
    // ground-truth stage plus the sequential stage critical path, not
    // job count — but it is the simpler shape and the one the oracle
    // replays verbatim.)
    val allBuckets = lshSettings.map { case (nb, nr) =>
      val bucketCols = (0 until nb).map { bi =>
        md5(concat((lit(s"$nb/$nr:$bi|") +:
          (0 until nr).map(k => col(s"h${bi * nr + k}"))): _*))
      }
      st.sigs.select(lit(nb).as("bands"), lit(nr).as("rows_per_band"),
        col("doc_id"), explode(array(bucketCols: _*)).as("bucket"))
    }.reduce(_ unionByName _)
    val layoutKeys = Seq("bands", "rows_per_band")
    // agg-capped + checkpointed for the same reason as `ex`: the
    // candidate join broadcasts the sample side below, so no consumer
    // reuses a bucket-keyed exchange, and the two consumers (a/b
    // sides) read the materialized blocks instead of re-deriving the
    // cap twice
    val buckets = capBucketsAgg(allBuckets, layoutKeys :+ "bucket")
      .localCheckpoint()
    // candidates restricted to the SAME sample-touching pair space as
    // the truth (occupancy caps still count whole buckets), with the
    // identical canonical-orientation rule. The a-side is K sample
    // docs × ~12 bucket rows — broadcast, so the full bucket table
    // never sorts (the pre-round-11 merge join sorted all
    // layouts × corpus rows to serve a 1,200-row probe side)
    val cand = broadcast(buckets.join(broadcast(ids), "doc_id")).as("a")
      .join(buckets.join(inS, Seq("doc_id"), "left").as("b"),
        col("a.bands") === col("b.bands") &&
          col("a.rows_per_band") === col("b.rows_per_band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          (col("a.doc_id") < col("b.doc_id") ||
            !coalesce(col("b.in_s"), lit(false))))
      .select(col("a.bands").as("bands"),
        col("a.rows_per_band").as("rows_per_band"),
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
      .localCheckpoint() // consumed twice: the cost count + the hit join
    val stats = cand.groupBy(layoutKeys.map(col): _*)
      .agg(count(lit(1)).as("n_candidates"))
    val hits = cand.join(truth, Seq("doc_a", "doc_b"))
      .groupBy(layoutKeys.map(col): _*).agg(count(lit(1)).as("hits"))
    // the layout axis guarantees one output row per layout even if a
    // layout produced zero candidates (the oracle's VALUES axis)
    val axis = st.sigs.sparkSession.createDataFrame(lshSettings)
      .toDF("bands", "rows_per_band")
    axis.join(stats, layoutKeys, "left")
      .join(hits, layoutKeys, "left")
      .crossJoin(totalDf)
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_truth"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double"), 6).as("recall"))
      .orderBy(col("bands"))
  }

  // ---- E11: incremental delta dedup over persisted signature state ------

  /** Watermark splitting the corpus into the persisted "yesterday"
    * base (doc_id <= w) and today's delta (doc_id > w) — the highest
    * decile of ids stands in for a daily crawl increment. ONE 1-row
    * aggregate (parquet footer max, no scan) reaches the driver — the
    * same operational-metadata shape as [[EmbeddingStore.updateSince]]'s
    * watermark (reference keys incrementality the same way,
    * engine.py:57). */
  private[graft] def deltaWatermarkOf(documents: DataFrame): Long = {
    val mx = documents.agg(max(col("doc_id"))).first()
    if (mx.isNullAt(0)) -1L else math.floor(mx.getLong(0) * 0.9).toLong
  }

  /** Bump when the state schema or the signature rule changes: a rule
    * change must never silently join deltas against stale state
    * (v2: the _WATERMARK coverage marker joined the layout). */
  private val dedupStateVersion = "r10-inc-v2"

  /** Per-doc dedup state over distinct shingle rows: the SORTED
    * shingle set (deterministic files), its size, and the 12 minhash
    * components — everything E2 derives from a document, one row per
    * doc. One map-side-combining aggregation; shared by the state
    * build (old side) and the per-query delta (new side) so the two
    * can never drift. */
  private def docState(ex: DataFrame): DataFrame =
    ex.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("sh"),
        (0 until numHashes).map(k =>
          min(md5(concat(lit(s"$k:"), col("sh")))).as(s"h$k")): _*)
      .select(col("doc_id") +: size(col("sh")).cast("long").as("n") +:
        col("sh") +: (0 until numHashes).map(k => col(s"h$k")): _*)

  /** Build-once persisted dedup state for the base corpus (doc_id <=
    * watermark), under the content-fingerprinted [[graft.sources.LayoutStore]]
    * root (replaced data rekeys the state; a rule change bumps
    * [[dedupStateVersion]]):
    *
    *  - `docs/` — [[docState]] rows partitioned by `shard =
    *    pmod(doc_id, 16)`, so verification's candidate-doc lookups
    *    prune shards at the file listing (dynamic partition pruning
    *    off the broadcast candidate list);
    *  - `bcounts/` — per-band-bucket occupancy of the base corpus,
    *    pre-aggregated so the delta run never re-counts (or even
    *    re-derives) the old bucket rows.
    *
    * This is the heavy text work (corpus scan, shingle window,
    * signature aggregation) paid ONCE at ETL time — exactly what the
    * reference's incremental-first design amortizes (processor.py:320
    * batched incremental scan). */
  def ensureDedupState(t: Tables): String =
    graft.sources.LayoutStore.ensure(t.dir, "dedupsig", dedupStateVersion) {
      buildDedupState(t.documents, deltaWatermarkOf(t.documents), _)
    }

  /** Explicit-path state builder: persist the dedup state for docs
    * with `doc_id <= watermark` (see [[ensureDedupState]] for the
    * layout). The watermark is recorded beside the data so
    * [[advanceDedupState]] knows where coverage ends. */
  def buildDedupState(documents: DataFrame, watermark: Long, path: String): Unit = {
    val spark = documents.sparkSession
    docState(shingleRowsOf(documents.filter(col("doc_id") <= watermark)))
      .withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/docs")
    spark.read.parquet(s"$path/docs")
      .select(col("doc_id"), explode(array(bandBucketCols: _*)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_old"))
      .write.mode("overwrite").parquet(s"$path/bcounts")
    writeWatermark(path, watermark)
  }

  private def writeWatermark(path: String, w: Long): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_WATERMARK"), w.toString)

  /** The doc_id coverage recorded in a state dir. Refuses a state
    * whose last advance did not complete (`_ADVANCING` marker
    * present): its docs/bcounts may be partially mutated, and
    * joining deltas against it would silently drop or duplicate
    * pairs — rebuild with [[buildDedupState]] instead. */
  def stateWatermark(path: String): Long = {
    require(!new java.io.File(path, "_ADVANCING").exists(),
      s"dedup state at $path has an interrupted advance (_ADVANCING " +
        "marker present) — its tables may be partially mutated; rebuild " +
        "it with buildDedupState")
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "_WATERMARK")).trim.toLong
  }

  /** DAY TWO of the incremental loop: fold everything above the
    * state's watermark INTO the state, so the next day's delta joins
    * against today's full corpus — without this, yesterday's delta
    * would be re-shingled forever and the state would age into a
    * full recompute. Mirrors the reference's watermark advance after
    * each incremental pass (engine.py:98 returns the new watermark
    * the caller persists).
    *
    * Cost ∝ delta: only the delta is shingled; its doc rows APPEND
    * into the touched shard partitions (history never rewritten);
    * the occupancy table merges old + delta counts — a rewrite of
    * the NARROW per-bucket table only, staged then swapped by
    * renames.
    *
    * Crash discipline — FAIL LOUD, never serve a half-advanced
    * state: an `_ADVANCING` marker brackets every mutation, and both
    * [[stateWatermark]] (so every reader) and this method refuse a
    * state whose marker is still present — a crash anywhere inside
    * the advance (mid-append, mid-swap, pre-watermark) therefore
    * surfaces as an explicit rebuild-me error on next use rather
    * than silently dropped/duplicated pairs from double-counted
    * occupancy or re-appended doc rows. A plain filesystem offers no
    * multi-file commit, so exactly-once ADVANCES (as opposed to
    * exactly-once detection of a failed one) need the state under a
    * transactional table format — that substitution changes only the
    * read/write calls here. Assumes an APPEND-ONLY corpus (the
    * daily-crawl model); replaced history needs a rebuild (the
    * content-fingerprinted [[ensureDedupState]] key handles that
    * case by construction). Returns the new watermark. */
  def advanceDedupState(documents: DataFrame, path: String): Long = {
    val spark = documents.sparkSession
    val w0 = stateWatermark(path) // also refuses an interrupted state
    val mx = documents.agg(max(col("doc_id"))).first()
    val w1 = if (mx.isNullAt(0)) w0 else mx.getLong(0)
    if (w1 <= w0) return w0
    val delta = docState(shingleRowsOf(
      documents.filter(col("doc_id") > w0 && col("doc_id") <= w1)))
      .localCheckpoint() // consumed by the doc append AND the count merge
    // the merged occupancy table computes BEFORE the marker goes up:
    // it reads the old bcounts, and staging it first keeps the
    // marked window down to the append + two renames
    val merged = spark.read.parquet(s"$path/bcounts")
      .unionByName(delta
        .select(col("doc_id"), explode(array(bandBucketCols: _*)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_old")))
      .groupBy(col("bucket")).agg(sum(col("n_old")).as("n_old"))
    merged.write.mode("overwrite").parquet(s"$path/bcounts_next")
    val advancing = java.nio.file.Paths.get(path, "_ADVANCING")
    java.nio.file.Files.writeString(advancing, w1.toString)
    delta.withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
      .write.mode("append").partitionBy("shard").parquet(s"$path/docs")
    val old = java.nio.file.Paths.get(path, "bcounts_replaced")
    java.nio.file.Files.move(java.nio.file.Paths.get(path, "bcounts"), old)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path, "bcounts_next"),
      java.nio.file.Paths.get(path, "bcounts"))
    graft.sources.LayoutStore.deleteRecursively(old.toFile)
    writeWatermark(path, w1)
    java.nio.file.Files.delete(advancing)
    w1
  }

  /** E11 — `q_dedup_incremental`: near-dup pairs TOUCHING THE DELTA
    * (at least one side above the watermark), WITHOUT recomputing the
    * base corpus — the incremental mode a daily 100 TB pipeline
    * actually runs (the reference is incremental-first: engine.py:57
    * `update_embeddings` from a watermark, processor.py:320 batched
    * incremental scan; every other E-row here is a full recompute).
    *
    * Result contract: IDENTICAL to full E2 restricted to pairs with a
    * delta side — same signatures, same whole-corpus bucket occupancy
    * caps (old occupancy comes from the persisted `bcounts`, so a
    * bucket that full E2 would drop is dropped here too), same exact
    * Jaccard ≥ 0.8 verification. The oracle IS full E2's pair CTEs
    * filtered to delta-touching pairs.
    *
    * Scale shape — delta cost ∝ delta, not corpus:
    *  - only delta docs are shingled/hashed (the corpus-scan stages);
    *  - delta band buckets (tiny) BROADCAST against the persisted
    *    occupancy table and state rows — the old side is read
    *    (column-pruned to the 12 signature hashes), never shuffled,
    *    and only buckets a delta doc touches can mint candidates;
    *  - verification reads only candidate docs' shingle sets: the
    *    broadcast candidate list carries the shard key, so the
    *    doc-partitioned state prunes at the file listing.
    * SCALING.md §9 measures the resulting delta-proportional cost. */
  def dedupIncremental(t: Tables): DataFrame =
    dedupIncrementalAgainst(t.documents, ensureDedupState(t))

  /** The E11 delta join against an EXPLICIT state dir (the daily
    * loop drives this directly: build once, then per day
    * `dedupIncrementalAgainst` → act on the pairs →
    * [[advanceDedupState]]). The delta is everything above the
    * state's recorded watermark. */
  def dedupIncrementalAgainst(documents: DataFrame, path: String): DataFrame = {
    val spark = documents.sparkSession
    val w = stateWatermark(path)
    val old = spark.read.parquet(s"$path/docs")
    val oldCounts = spark.read.parquet(s"$path/bcounts")
    val ddocs = docState(
      shingleRowsOf(documents.filter(col("doc_id") > w))).localCheckpoint()
    val dbuckets = ddocs.select(col("doc_id"),
      explode(array(bandBucketCols: _*)).as("bucket"))
    val dcounts = dbuckets.groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    // whole-bucket occupancy = persisted old count + delta count; only
    // delta-touched buckets can mint a delta-touching pair, so the old
    // occupancy table is FILTERED by the broadcast touched set, never
    // scanned into a shuffle
    val touchedOld = oldCounts
      .join(broadcast(dcounts.select(col("bucket"))), Seq("bucket"))
    val survivors = dcounts.join(touchedOld, Seq("bucket"), "left")
      .filter(coalesce(col("n_old"), lit(0L)) + col("n_new") <= maxBucketSize)
      .select(col("bucket"))
      .localCheckpoint() // tiny; consumed by both bucket-row joins
    val oldRows = old
      .select(col("doc_id"), explode(array(bandBucketCols: _*)).as("bucket"))
      .join(broadcast(survivors), "bucket")
    val deltaRows = dbuckets.join(broadcast(survivors), "bucket")
    val cand = broadcast(deltaRows.select(col("doc_id").as("did"), col("bucket")))
      .join(oldRows.unionByName(deltaRows), Seq("bucket"))
      .filter(col("did") =!= col("doc_id"))
      .select(least(col("did"), col("doc_id")).as("doc_a"),
        greatest(col("did"), col("doc_id")).as("doc_b"))
      .distinct()
      .localCheckpoint() // consumed by the candidate-doc list + verify
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
    // exact verification over ONLY candidate docs' stored shingle
    // sets. The candidate shard list (≤ 16 ints — bounded by the
    // shard modulus, index metadata like D8's probed cell ids) turns
    // into a STATIC partition filter, so the state read prunes shard
    // directories at the file listing unconditionally — DPP would do
    // this only when its stats heuristics fire. |A∩B| via
    // array_intersect equals E2's common-shingle row count (rows are
    // distinct), and the division is the same double expression
    val candShards = candDocs.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val sets = old.filter(col("shard").isin(candShards: _*))
      .join(broadcast(candDocs), Seq("shard", "doc_id"))
      .select(col("doc_id"), col("n"), col("sh"))
      .unionByName(ddocs
        .join(broadcast(candDocs.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"), col("n"), col("sh")))
    broadcast(cand)
      .join(sets.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("sh").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("sh").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (col("na") + col("nb") -
            size(array_intersect(col("sa"), col("sb")))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minhashJaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** E3 — SimHash: 64-bit fingerprint by per-bit weighted vote over
    * all tokens. TWO salted md5s per token supply all 64 bits (hex
    * char j's high bit — '0'-'7' vs '8'-'f' — is one vote, 32 chars
    * per digest), a 32× hash saving over per-bit salted hashing; the
    * whole vote table is the row-local
    * [[graft.functions.SimHash64]] kernel — a doc's fingerprint
    * depends only on its own tokens, so no token row ever leaves its
    * input row (zero exchange; r19). Near-pairs at
    * Hamming ≤ 3 come from 4×16-bit band blocking over an explode
    * unpivot (pigeonhole-exact for ≤ 3, and no union-branch
    * recompute). Band capacity is 65,536 values — combined with the
    * `maxBucketSize` occupancy cap below, no corpus can silently turn
    * the in-bucket self-join quadratic (the round-2 15-bit layout
    * relied on hash dispersion alone). Bit 63's weight is
    * Long.MinValue — the sum wraps into the correct two's-complement
    * pattern and never overflows (partials stay in range), and the
    * band mask makes arithmetic-shift extraction sign-safe on both
    * engines. */
  def dedupSimhash(t: Tables): DataFrame = {
    // a doc's fingerprint is a pure function of its own token list, so
    // the whole vote table is ONE row-local projection through the
    // codegen'd SimHash64 kernel (guide §2.4): the old explode +
    // 64-sum-expression aggregation shuffled one row per token and
    // compared hex substrings 64× per token to rebuild per-doc state
    // the row already had. Same md5 digit votes, same ≥ 0 bit rule —
    // the fingerprint is bit-identical (the oracle replays it). The
    // null filter keeps the old explode semantics (null text → no row).
    val fps = t.documents
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simHash64(words(col("text"))).as("fp"))
      .filter(col("fp").isNotNull)
    hammingCandidates(fps)
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The E3/G6-shared banded Hamming candidate generation: 4×16-bit
    * band blocking over an explode unpivot of a 64-bit (doc_id, fp)
    * frame (pigeonhole-exact for Hamming ≤ 3 — at most 3 flipped
    * bits cannot dirty all 4 bands), occupancy-capped buckets so no
    * fingerprint pile-up can quadraticize the in-bucket self-join,
    * exact bit_count on every candidate — callers apply their own
    * Hamming cut. (doc_a < doc_b, hamming). One definition; both
    * rows' oracles replay the same band/QUALIFY shape. */
  private[graft] def hammingCandidates(fps: DataFrame): DataFrame = {
    val bands = capBuckets(
      fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("fp"), 16 * b).bitwiseAND(lit(65535L))): _*)).as(Seq("band", "bv"))),
      Seq("band", "bv"))
    bands.as("a").hint("merge")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fa"), col("b.fp").as("fb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(fa ^ fb) AS BIGINT)").as("hamming"))
  }

  /** Shingle rows with the DOCUMENT-FREQUENCY cap applied: shingles
    * appearing in more than `maxBucketSize` documents are dropped
    * before any pairing. A boilerplate shingle (a license header, a
    * template phrase) otherwise materializes O(df²) candidate rows in
    * the exact equi-joins — AQE skew handling moves that shuffle
    * around but cannot shrink the pair count; dropping the shingle
    * does, and a shingle shared by >1000 documents carries no
    * similarity signal anyway (the same reasoning as the LSH bucket
    * occupancy cap, and the oracles replay the same QUALIFY). Sizes
    * |A|,|B| are computed over the SAME capped shingle space, so the
    * similarity stays a true Jaccard/containment of the informative
    * shingles — identical on both engines. The count window
    * partitions by `sh`, the very key the downstream self-join
    * shuffles on, so the exchange is paid once and reused. */
  private def cappedShingleRowsOf(documents: DataFrame): DataFrame =
    capBuckets(shingleRowsOf(documents), Seq("sh"))

  /** E4 — exact n-gram Jaccard via the set-similarity equi-join:
    * join the shingle rows on shingle (only co-shingled pairs exist —
    * never all-pairs), count common per pair, reconstruct |A∪B| from
    * the two set sizes. The self-join is forced sort-merge so both
    * sides reuse one shuffle of the shingle rows. High-document-
    * frequency shingles are capped out first (see
    * [[cappedShingleRowsOf]]) so no single boilerplate shingle can
    * quadraticize the join. */
  def ngramJaccard(t: Tables): DataFrame = ngramJaccardDocs(t.documents)

  /** E4 over an arbitrary (doc_id, text) frame — DedupSpec drives the
    * boilerplate-shingle cap proof through this. */
  private[graft] def ngramJaccardDocs(documents: DataFrame): DataFrame = {
    // materialized once, EAGERLY (see dedupMinhash: lazy checkpoints
    // race when independent consumer stages pull concurrently); sizes
    // and the exchange-sharing self-join then read the blocks instead
    // of re-running the shingle pipeline
    val ex = cappedShingleRowsOf(documents).localCheckpoint()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // shuffle_hash, not merge: both sides reuse ONE exchange of the
    // checkpointed shingle rows either way (same hash partitioning),
    // but SHJ skips sorting the fattest intermediate twice; the DF
    // cap bounds every hash bucket at maxBucketSize rows, so the
    // build side can never blow a partition (measured 14.1→9.5 s on
    // the 16× containment sibling)
    val common = ex.as("a").hint("shuffle_hash")
      .join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id"))
      .agg(count(lit(1)).as("common"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("common"))
    jaccardFromCommon(common, sizes, threshold = 0.5)
  }

  /** E8 — `q_containment`: asymmetric containment similarity —
    * |A∩B| / |A| for the smaller-shingle-set side. Symmetric Jaccard
    * MISSES the classic contamination shape where a short document is
    * embedded verbatim inside a much longer one (union dominated by
    * the long doc drives Jaccard to ~0 while containment is ~1).
    * Exact, via the same shingle equi-join as E4 — only co-shingled
    * pairs ever materialize, the self-join reuses one exchange, and
    * the same document-frequency cap drops boilerplate shingles
    * before pairing ([[cappedShingleRowsOf]]) — with the containment
    * ratio taken on the smaller set and the pair oriented (inner_id =
    * the contained doc). */
  def containment(t: Tables): DataFrame = {
    val ex = cappedShingleRowsOf(t.documents).localCheckpoint()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = ex.as("a").hint("shuffle_hash")
      .join(ex.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id"), col("b.doc_id"))
      .agg(count(lit(1)).as("common"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("inner_id"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("outer_id"),
        round(col("common").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("containment"))
      .filter(col("containment") >= 0.9)
      .orderBy(col("inner_id"), col("outer_id"))
  }

  /** E5 — embedding-cosine near-dup pairs, blocked by a REAL IVF cell
    * assignment (deterministic seeds = the ceil(√n) lowest vec_ids)
    * so the self-join is an equi-join per cell and the CELL COUNT
    * SCALES WITH THE CORPUS — the round-2 `label` blocking had fixed
    * cardinality, so in-cell pair cost grew O(n²). Assignment runs
    * through [[EmbeddingStore.assignCells]]'s TWO-LEVEL coarse
    * quantizer — each vector scores √k coarse centroids, then only
    * its group's fine centroids — so assignment compute is O(n·√k),
    * not the flat n×k scan (at 1e9 vectors that flat scan is ~3e13
    * cosines, the one super-linear term the flat variant had left).
    * The oracle replays the same two levels (seed grouping, per-group
    * argmax, identical 6dp rounding and lowest-key tie-breaks).
    *
    * Within a cell, TRIANGULAR sub-blocking lifts parallelism off the
    * cell count: vectors split into G groups by id, each unordered
    * pair belongs to exactly one of the G(G+1)/2 group-pairs (i ≤ j),
    * and the join key is (cell, i, j) — more, smaller partitions for
    * the same exact pair set. Replication ~(G+1)/2 per side; G tunes
    * the skew-vs-duplication trade. Reference anchor: this blocking
    * replaces the reference's full-scan cosine search
    * (processor.py:436) at scale. */
  def dedupEmbedding(t: Tables): DataFrame =
    cellPairs(assignedCells(t))
      .filter(col("score") >= 0.35)
      .orderBy(col("score").desc, col("vec_a"), col("vec_b"))

  /** The shared E5 cell assignment: seed centroids = the
    * numCellsFor(n) lowest vec_ids (the deterministic rule — max(2,
    * ⌈√n⌉, ⌈n/τ⌉), τ = targetCellRows — that the persisted index,
    * the recall evaluator and the E5 oracle all replay in lockstep),
    * then the two-level nearest-centroid assignment shared verbatim
    * with the persisted IVF index (coarse pick over √k group
    * centroids, then argmax over only that group's fine centroids —
    * all 6dp-rounded, ties to the lowest key). The seed table stays
    * DISTRIBUTED (k grows linearly under the n/τ rule); only the
    * ⌈√k⌉ coarse seeds inside assignCells ever reach the driver.
    * EAGERLY checkpointed so multiple consumers (the triangular
    * pair sides, E15's centroid pass) read the blocks — lazy would
    * let independent stages race and recompute the assignment (see
    * dedupMinhash). */
  private[graft] def assignedCells(t: Tables): DataFrame = {
    val emb = t.embeddings
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val cent = EmbeddingStore.seedCentroids(emb)
    EmbeddingStore.assignCells(emb, cent)
      .select(col("doc_id").as("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()
  }

  /** Within-cell pair scoring shared by E5 (≥ 0.35 near-dup pairs)
    * and E15's SemDeDup groups (≥ [[semDedupThreshold]]): the
    * triangular-blocked equi-join over an [[assignedCells]] frame,
    * every unordered same-cell pair scored once (6dp-rounded
    * cosine), NO threshold — callers filter. One definition, so the
    * two rows (and their oracles, which nest one shared CTE) can
    * never drift. */
  private[graft] def cellPairs(assigned: DataFrame): DataFrame = {
    val g = 4
    // per-row norm computed once before the pair fan-out — every
    // in-cell pair then pays one dot, not the fused 3-multiply-add
    // cosine (EmbeddingStore.normScore's bit-parity argument: the
    // 6dp-rounded scores are IEEE-identical, oracles untouched)
    val e = assigned.select(col("vec_id"), col("cell"), col("embedding"),
      pmod(col("vec_id"), lit(g)).as("grp"))
      .withColumn("__n", l2Norm(col("embedding")))
    // side A covers blocks (grp, j) for j >= grp; side B covers (i, grp)
    // for i <= grp — an (x in group gi, y in group gj) pair meets in
    // exactly one block
    val aSide = e.select(col("vec_id"), col("cell"), col("embedding"),
      col("__n"), col("grp").as("i"),
      explode(sequence(col("grp"), lit(g - 1))).as("j"))
    val bSide = e.select(col("vec_id"), col("cell"), col("embedding"),
      col("__n"), explode(sequence(lit(0), col("grp"))).as("i"),
      col("grp").as("j"))
    // shuffle_hash: both sides read the checkpointed assignment (no
    // ordering to exploit), and the rows carry the 64-float vectors —
    // an SMJ would sort the fattest rows in the pipeline twice; each
    // (cell, i, j) hash bucket is bounded by the τ-capped cell size
    // over G groups
    aSide.as("a").hint("shuffle_hash")
      .join(bSide.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
          (col("a.i") < col("a.j") || col("a.vec_id") < col("b.vec_id")))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"),
        col("a.cell").as("cell"),
        EmbeddingStore.normScore(col("a.embedding"), col("b.embedding"),
          col("a.__n"), col("b.__n")).as("score"))
  }

  /** E15's group threshold: two same-cell vectors are SEMANTIC
    * duplicates at cosine ≥ this. Above E5's 0.35 near-dup bar on
    * purpose — the keeper rule only fires inside genuinely tight
    * groups (sf0.01: 8 qualifying pairs vs E5's 56; the hashed
    * embeddings compress the cosine range, so the paper's 0.95+ maps
    * down). `private[graft]` so the oracle derives from the same
    * constant. */
  private[graft] val semDedupThreshold = 0.40

  /** E15 — `q_semdedup`: SemDeDup semantic pruning (Abbas et al.
    * 2023, *SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication*): cluster the corpus embeddings, call
    * within-cluster pairs above ε semantic duplicates, and from each
    * connected group KEEP exactly one — the member FARTHEST from its
    * cluster centroid (the paper's low-similarity-to-centroid choice:
    * it preserves the cluster's outliers, which carry the most
    * marginal information). E5 answers "which pairs are near-dups",
    * D18 answers "which docs are about the same thing"; this row is
    * the ACTION — the keep/drop verdict a pruning pipeline executes.
    *
    * Composition (nothing new shuffles): clusters = the shared
    * seeded IVF cell assignment (the k-means analog the paper
    * clusters with); pairs = [[cellPairs]] at ε; groups = the E6
    * pointer-jumping closure; centroids = one [[EmbeddingStore
    * .lloydStep]] per-cell mean pass (6dp-rounded — the engine-
    * replayable contract). Keeper = min centroid-cosine, ties to the
    * lowest vec_id. Emits only group members (kept = 0 rows are the
    * drop set; ungrouped vectors are implicitly kept, absent like
    * E6's non-duplicates). Scale shape: pair mass is cell-bounded
    * (~n·τ, never n²), the closure is O(log n) equi-join rounds, the
    * centroid pass is one map-side-combining aggregate, and the
    * keeper window partitions by group — groups are ≤ cell size, so
    * no window partition outgrows τ. */
  def semDedup(t: Tables): DataFrame = {
    val assigned = assignedCells(t)
    semVerdict(assigned, centroidSims(assigned, t))
      .select(col("vec_id"), col("cluster_id"), col("cell"),
        col("centroid_sim"), col("kept"))
      .orderBy(col("vec_id"))
  }

  /** The E15/E16/E17-shared scoring stage: one [[EmbeddingStore
    * .lloydStep]] per-cell MEMBER-mean pass (6dp float components —
    * k rows, broadcast) over an [[assignedCells]] frame, then each
    * member's cosine to its own cell's centroid, 6dp like every
    * scored value. (vec_id, cell, centroid_sim). */
  private def centroidSims(assigned: DataFrame, t: Tables): DataFrame = {
    val vecDim = t.embeddings
      .select(size(col("embedding")).as("d")).limit(1).first().getInt(0)
    val centroids = EmbeddingStore.lloydStep(
      assigned.select(col("vec_id").as("doc_id"), col("embedding"), col("cell")),
      vecDim)
    assigned
      .join(broadcast(centroids), "cell")
      .select(col("vec_id"), col("cell"),
        round(cosineSim(col("embedding"), col("centroid")), 6)
          .as("centroid_sim"))
  }

  /** E15's group membership + keeper rule over a shared sims frame:
    * ε-pairs → pointer-jumping closure → per-group min-centroid-sim
    * keeper window. Emits GROUP MEMBERS only — (vec_id, cluster_id,
    * cell, centroid_sim, kept); ungrouped vectors are implicitly
    * kept, absent. Groups are ≤ the τ-capped cell size, so no window
    * partition outgrows τ. */
  private def semVerdict(assigned: DataFrame, sims: DataFrame): DataFrame = {
    val pairs = cellPairs(assigned)
      .filter(col("score") >= semDedupThreshold)
    val comps = Clusters
      .connectedComponents(pairs, "vec_a", "vec_b")
      .select(col("node").cast("long").as("vec_id"),
        col("label").cast("long").as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("centroid_sim").asc, col("vec_id"))
    comps.join(sims, "vec_id")
      .withColumn("kept", (row_number().over(w) === 1).cast("int"))
  }

  /** E16's prune fraction: the most-prototypical quarter of the
    * corpus is dropped. `private[graft]` so the oracle derives from
    * the same constant. */
  private[graft] val protoPruneFrac = 0.25

  /** E16 — `q_prototypes`: prototypicality-based data PRUNING
    * (Sorscher et al. 2022, *Beyond neural scaling laws: beating
    * power law scaling via data pruning*): score every example by
    * its cosine to its cluster's centroid, rank the corpus
    * easiest-first, and — in the paper's abundant-data regime — drop
    * the most PROTOTYPICAL fraction (easy examples teach a large
    * model least; the hard tail carries the marginal information).
    * E15 (SemDeDup) acts on tight duplicate GROUPS; this row acts on
    * the whole corpus by GLOBAL rank — the other published
    * embedding-space pruning knob, and the two compose (SemDeDup
    * keeps its clusters' outliers, which this ranking also favors).
    *
    * Composition (nothing new shuffles): clusters = the shared
    * seeded IVF cell assignment; centroids = the E15 per-cell
    * [[EmbeddingStore.lloydStep]] mean pass (6dp float contract);
    * score = the family's 6dp cosine. The corpus-wide rank is the
    * §6 single-partition-window trap, so it runs TWO-LEVEL (F26's
    * technique globalized): 6dp scores quantize to exact micro-unit
    * longs, ≤101 monotone bins bound every window partition, and
    * the global offset of each bin is a broadcast suffix-sum over
    * the ≤101-row bin table — binning cannot reorder equal scores,
    * only shift a boundary identically, so the two-level rank equals
    * the oracle's one flat ROW_NUMBER. Keep verdict compares the
    * rank against floor(n·[[protoPruneFrac]]) from a 1-row
    * broadcast. */
  def prototypes(t: Tables): DataFrame = {
    val assigned = assignedCells(t)
    protoVerdict(centroidSims(assigned, t), t)
      .orderBy(col("vec_id"))
  }

  /** E16's global easiest-first rank + keep cut over a shared sims
    * frame: (vec_id, cell, centroid_sim, proto_rank, kept). */
  private def protoVerdict(sims: DataFrame, t: Tables): DataFrame = {
    // two-level global rank: mu is exact (the score is already 6dp),
    // the bin is a monotone function of mu, so (bin, mu desc, vec_id)
    // orders exactly like the flat (score desc, vec_id) window.
    // Checkpointed — both the offset aggregate and the rank join
    // consume it, and lazy would recompute the centroid pass twice.
    val binned = sims
      .withColumn("mu", round(col("centroid_sim") * 1e6, 0).cast(LongType))
      .withColumn("bin", floor(col("mu").cast("double") / 20000.0).cast("int"))
      .localCheckpoint()
    // the suffix-sum window runs on the ≤101-row bin table —
    // deliberately unpartitioned and bounded, never corpus-sized
    val offsets = binned.groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bin"), col("off"))
    val n = t.embeddings.agg(count(lit(1)).as("n"))
    val wIn = Window.partitionBy(col("bin"))
      .orderBy(col("mu").desc, col("vec_id"))
    binned.join(broadcast(offsets), "bin")
      .withColumn("proto_rank", col("off") + row_number().over(wIn))
      .join(broadcast(n))
      .select(col("vec_id"), col("cell"), col("centroid_sim"),
        col("proto_rank"),
        (col("proto_rank") > floor(col("n") * lit(protoPruneFrac)))
          .cast("int").as("kept"))
  }

  /** E17 — `q_prune_compose`: the composed embedding-space pruning
    * VERDICT — SemDeDup's duplicate-group keeper rule (E15) AND'ed
    * with the prototypicality keep cut (E16), per vector, with both
    * marginal flags kept for attribution. The two published pruning
    * knobs act on different failure modes (E15: redundancy inside
    * tight ε-groups; E16: low-information prototypical mass) and the
    * papers compose them exactly this way — SemDeDup keeps each
    * group's outlier, which the global easiest-first ranking also
    * favors; a pipeline executes the intersection.
    *
    * Composition discipline (F9's): ONE [[assignedCells]] pass and
    * ONE [[centroidSims]] scoring pass feed BOTH rules — the sims
    * frame is checkpointed because the keeper window and the global
    * rank both consume it; calling the two standalone rows instead
    * would run the assignment and the centroid pass twice. Non-group
    * members default sem_kept = 1 (E15's implicit-keep contract,
    * made explicit here so the final verdict covers every vector). */
  def pruneCompose(t: Tables): DataFrame = {
    val assigned = assignedCells(t)
    val sims = centroidSims(assigned, t).localCheckpoint()
    val sem = semVerdict(assigned, sims)
      .select(col("vec_id"), col("kept").as("sem_kept"))
    protoVerdict(sims, t)
      .withColumnRenamed("kept", "proto_kept")
      .join(sem, Seq("vec_id"), "left")
      .withColumn("sem_kept", coalesce(col("sem_kept"), lit(1)))
      .withColumn("kept",
        ((col("sem_kept") === 1) && (col("proto_kept") === 1)).cast("int"))
      .select(col("vec_id"), col("cell"), col("centroid_sim"),
        col("proto_rank"), col("sem_kept"), col("proto_kept"), col("kept"))
      .orderBy(col("vec_id"))
  }

  // ---- E12: span-level exact-substring dedup --------------------------

  /** Span length for [[dedupSpans]]: 13 words — E7b's verbatim-overlap
    * rule, reused so "a repeated span" means the same thing corpus-wide
    * and cross-corpus. */
  private[graft] val spanGramLen = 13

  /** E12 — `q_dedup_spans`: span-level exact-substring deduplication —
    * the published "remove repeated substrings, keep one occurrence"
    * pass (Lee et al. 2022, *Deduplicating Training Data Makes
    * Language Models Better*; they cut ≥50-BPE-token repeats via a
    * suffix array). Doc-level dedup (E1-E5) drops whole near-copies;
    * this removes the VERBATIM spans that survive it — boilerplate
    * headers, license blocks, quoted chunks — from every occurrence
    * but the first. The suffix-array formulation is single-machine;
    * the Spark re-expression is gram-positional:
    *
    *  1. every [[spanGramLen]]-word gram OCCURRENCE (doc_id, pos) —
    *     positions, not the distinct-gram sets E4/E7b use;
    *  2. an occurrence is `dup` unless it is the gram's FIRST
    *     occurrence corpus-wide (row_number = 1 by (doc_id, pos) over
    *     the gram — the deterministic survivor rule);
    *  3. a word is covered iff some dup occurrence starts within the
    *     previous spanGramLen-1 positions — a rangeBetween sliding
    *     max, so overlapping repeated grams merge into maximal spans
    *     with NO interval join;
    *  4. per doc: token count, removed count, md5 of the kept text.
    *
    * Scale shape: three full-width shuffles of the token stream (by
    * doc_id for gram assembly, by gram hash for the survivor rule, by
    * doc_id for coverage+reassembly — the last two stages share one
    * exchange) and nothing pairwise anywhere: the survivor rule is a
    * per-gram aggregate, so a gram in a million docs costs a million
    * rows in one partition's SORT, never a million² join (no
    * occupancy cap needed — contrast minhashPairs). Grams shuffle as
    * md5 hashes (32 chars), not the ~90-char raw span. Emits only
    * docs that lost at least one word. */
  def dedupSpans(t: Tables): DataFrame = {
    val grams = spanGramOccurrences(t.documents)
    val byGram = Window.partitionBy(
      coalesce(col("gh"), concat(lit("\u0000"), col("doc_id"), lit(":"), col("pos"))))
      .orderBy(col("doc_id"), col("pos"))
    spanCollapse(grams.withColumn("dup",
      (col("gh").isNotNull && row_number().over(byGram) > 1).cast("int")))
  }

  /** E18 — `q_gram_novelty`: the per-source gram DUPLICATION-RATE
    * audit — the number Lee et al. 2022 (*Deduplicating Training
    * Data Makes Language Models Better*) report to motivate span
    * dedup: what share of a source's [[spanGramLen]]-word gram
    * occurrences are verbatim repeats (corpus-wide count ≥ 2), and
    * what share collide with ANOTHER source (the cross-contamination
    * slice E13 pairs up, read here as a per-source rate). The
    * diagnostic sibling of E12: E12 CUTS the repeated spans, this
    * row is the table that says how much each source would lose —
    * the memorization-risk / boilerplate audit a pipeline reads
    * before enabling the cut. Gram unit = E12's
    * [[spanGramOccurrences]] (ONE definition, so "a repeated span"
    * means the same thing in the audit and the cut).
    *
    * Scale shape: everything aggregates through the (gh, source)
    * mid-level frame — occurrences collapse there map-side-combined
    * (one gh-keyed shuffle), corpus gram stats are a second
    * map-side agg OVER mid (never the token stream), and the
    * back-join is mid ⋈ stats on gh (F8's tf⋈df shape — vocab-keyed,
    * never broadcast at 100 TB); per-source rates are one final
    * ≤|sources|-row agg of exact longs, each share a single 6dp
    * IEEE division. Nothing pairwise anywhere; a gram in a million
    * docs is one mid row per source, never a join blow-up. */
  def gramNovelty(t: Tables): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    val occ = spanGramOccurrences(t.documents)
      .filter(col("gh").isNotNull)
      .select(col("doc_id"), col("gh"))
    val mid = occ.join(src, "doc_id")
      .groupBy(col("gh"), col("source"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val gs = mid.groupBy(col("gh"))
      .agg(sum(col("c")).as("cnt"), count(lit(1)).as("nsrc"))
    mid.join(gs, "gh")
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("cnt") >= 2, col("c")).otherwise(0L))
          .as("dup_occurrences"),
        sum(when(col("nsrc") >= 2, col("c")).otherwise(0L))
          .as("cross_occurrences"))
      .select(col("source"), col("n_occurrences"), col("n_distinct"),
        col("dup_occurrences"),
        round(col("dup_occurrences").cast("double")
          / col("n_occurrences").cast("double"), 6).as("dup_share"),
        col("cross_occurrences"),
        round(col("cross_occurrences").cast("double")
          / col("n_occurrences").cast("double"), 6).as("cross_share"))
      .orderBy(col("source"))
  }

  /** E20 `q_winnow` parameters: 5-word grams, window of 8 gram
    * positions — the guarantee threshold is w + k − 1 = 12 words
    * (any shared verbatim run of ≥ 12 words produces at least one
    * SHARED fingerprint in both docs). */
  private[graft] val winnowGramLen = 5
  private[graft] val winnowWindow = 8

  /** E20 — `q_winnow`: WINNOWING fingerprint selection (Schleimer,
    * Wilkerson & Aiken 2003, *Winnowing: Local Algorithms for
    * Document Fingerprinting* — the MOSS algorithm): per document,
    * hash every [[winnowGramLen]]-word gram positionally, then keep
    * the minimum hash of every [[winnowWindow]]-gram window — a
    * bounded-size fingerprint set (expected density 2/(w+1)) with the
    * paper's COVERAGE GUARANTEE: any verbatim match of at least
    * w + k − 1 words yields at least one shared fingerprint, which no
    * fixed-rate sampler (0 mod p) can promise. The sub-quadratic
    * index E4/E13 would consume instead of full shingle sets.
    * Tie rule: all positions achieving a window minimum are selected
    * (the deterministic, order-independent variant — same guarantee,
    * same expected density on md5 hashes where ties mean equal
    * grams; the paper's rightmost rule needs sequential state).
    *
    * Selection is TWO stacked range windows, no self-join: a position
    * p is selected iff some FULL window containing p has min = h(p)
    * ⇔ max over e ∈ [p, p+w−1] of m(e) equals h(p), where
    * m(e) = min(h[e−w+1..e]) for full windows (e ≥ w−1, else NULL;
    * since every m(e) covering p is ≤ h(p), the max tests existence).
    *
    * Output: the per-source fingerprint audit — gram/fingerprint
    * volumes, density vs the 2/(w+1) theory line, and how many of the
    * source's fingerprints are SHARED with at least one other doc
    * (the overlap-index signal winnowing exists to feed).
    *
    * Scale shape: one doc_id shuffle for the positional windows
    * (token rows, same stage E12 pays), one gh-keyed map-side agg for
    * the cross-doc fan-in, one ≤|sources| agg — nothing pairwise, no
    * occupancy caps needed (fingerprints are per-doc-bounded). */
  def winnow(t: Tables): DataFrame = {
    val flagged = winnowFlagged(t.documents)
    val src = t.documents.select(col("doc_id"), col("source"))
    val occ = flagged.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_grams"),
        sum(col("sel").cast("long")).as("n_fp"))
    val selDoc = flagged.filter(col("sel"))
      .select(col("doc_id"), col("gh")).distinct()
    val ghDocs = selDoc.groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
    val shared = selDoc.join(ghDocs, "gh").join(src, "doc_id")
      .groupBy(col("source"))
      .agg(countDistinct(col("gh")).as("n_fp_distinct"),
        countDistinct(when(col("nd") >= 2, col("gh"))).as("n_fp_shared"))
    occ.join(shared, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_fp"),
        round(col("n_fp").cast("double") / col("n_grams").cast("double"), 6)
          .as("density"),
        coalesce(col("n_fp_distinct"), lit(0L)).as("n_fp_distinct"),
        coalesce(col("n_fp_shared"), lit(0L)).as("n_fp_shared"))
      .orderBy(col("source"))
  }

  /** E20/E21's shared selection stage: per (doc_id, pos), the gram
    * hash and the winnowing `sel` flag (checkpointed — both the
    * audit's two aggregates and the pair report consume it). */
  private def winnowFlagged(documents: DataFrame): DataFrame = {
    val w = winnowWindow
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    gramOccurrences(documents, winnowGramLen)
      .filter(col("gh").isNotNull)
      .select(col("doc_id"), col("pos"), col("gh"))
      .withColumn("wmin", when(col("pos") >= w - 1,
        min(col("gh")).over(byPos.rangeBetween(-(w - 1), 0))))
      .withColumn("sel", coalesce(
        max(col("wmin")).over(byPos.rangeBetween(0, w - 1)) === col("gh"),
        lit(false)))
      .localCheckpoint()
  }

  /** E21 — `q_winnow_overlap`: the MOSS pair REPORT — the ranked
    * document-pair overlap table built from E20's fingerprints (the
    * output the winnowing paper's system actually shows: which pairs
    * share the most fingerprints, with a containment score). The
    * pair generator is the family's standard capped bucket
    * equi-join: fingerprints in more than [[maxBucketSize]] docs are
    * excluded first — MOSS itself drops matches common to many
    * documents as boilerplate, and the cap is what bounds the
    * blow-up (a gh in n docs costs n² pair rows) — so pair work
    * stays O(Σ nd²) over capped buckets, never all-pairs.
    * `containment` = shared / min(|fp₁|, |fp₂|) over CAPPED
    * fingerprint sets (the cap defines the metric on both sides —
    * excluded boilerplate neither matches nor counts).
    *
    * Coverage semantics inherited from E20: a shared verbatim run of
    * ≥ w + k − 1 words guarantees the pair appears with
    * n_shared ≥ 1. Top-30 under the (n_shared DESC, d1, d2) total
    * order via TakeOrdered. */
  def winnowOverlap(t: Tables): DataFrame = {
    // no checkpoint on sel: winnowFlagged is already pinned and sel's
    // single consumer is `capped`, which checkpoints for its own fans
    val sel = winnowFlagged(t.documents).filter(col("sel"))
      .select(col("doc_id"), col("gh")).distinct()
    val capped = sel
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("nd") <= maxBucketSize)
      .select(col("doc_id"), col("gh"))
      .localCheckpoint()
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.gh") === col("b.gh")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("nfp").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("nfp").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("n_shared"),
        round(col("n_shared").cast("double")
          / least(col("n1"), col("n2")).cast("double"), 6).as("containment"))
      .orderBy(col("n_shared").desc, col("d1"), col("d2"))
      .limit(30)
  }

  /** Shared gram-OCCURRENCE assembly for the span rows (full E12 and
    * incremental E14): every token row with the md5 of the
    * [[spanGramLen]]-word gram STARTING at it — null in the last
    * n-1 positions of a doc (those rows ride through the survivor
    * window under a unique per-row key, so the null tail of every
    * document cannot pile into one skewed partition). */
  private def spanGramOccurrences(documents: DataFrame): DataFrame =
    gramOccurrences(documents, spanGramLen)

  /** The positional n-gram assembly itself, parameterized for the
    * non-span consumers (E20's 5-gram winnowing). */
  private def gramOccurrences(documents: DataFrame, n: Int): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = documents.select(col("doc_id"),
      posexplode(words(col("text"))).as(Seq("pos", "w")))
    val leads = (1 until n).map(k => lead(col("w"), k).over(byPos))
    tok.select(col("doc_id"), col("pos"), col("w"),
      when(leads.last.isNotNull,
        md5(concat_ws(" ", (col("w") +: leads): _*))).as("gh"))
  }

  /** Shared coverage + per-doc collapse for the span rows: a word is
    * covered iff some dup gram occurrence starts within the previous
    * spanGramLen-1 positions (a rangeBetween sliding max — overlapping
    * repeated grams merge into maximal spans with NO interval join);
    * then per doc: token count, removed count, md5 of the kept text
    * (kept words reassemble in pos order via a struct sort —
    * collect_list drops the null covered entries). Emits only docs
    * that lost at least one word. */
  private def spanCollapse(flagged: DataFrame): DataFrame = {
    val n = spanGramLen
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("covered", max(col("dup")).over(byPos.rangeBetween(-(n - 1), 0)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("covered")).as("n_removed"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("covered") === 0, struct(col("pos"), col("w"))))),
          s => s.getField("w")))).as("kept_hash"))
      .filter(col("n_removed") > 0)
      .orderBy(col("doc_id"))
  }

  // ---- E14: incremental span dedup over persisted gram state ---------

  /** Bump when the span-state schema or gram rule changes. */
  private val spanStateVersion = "r12-span-v1"

  /** Build-once persisted SPAN state for the base corpus (doc_id <=
    * watermark): `grams/` = the base's DISTINCT gram hashes. That
    * single fact is all the corpus-wide first-occurrence rule needs
    * about history under the append-only contract: delta doc_ids are
    * strictly greater than every base id, so ANY base occurrence of a
    * gram precedes every delta occurrence — membership alone decides
    * "dup", no base positions required (and base docs' own results
    * can never change, because a LATER occurrence never affects an
    * earlier one). Distinct-gram rows are far fewer than occurrence
    * rows, which is exactly what the daily pass saves. */
  def buildSpanState(documents: DataFrame, watermark: Long, path: String): Unit = {
    spanGramOccurrences(documents.filter(col("doc_id") <= watermark))
      .filter(col("gh").isNotNull)
      .select(col("gh")).distinct()
      .write.mode("overwrite").parquet(s"$path/grams")
    writeWatermark(path, watermark)
  }

  /** Build-once span state for a data dir (the E11 ensure pattern:
    * content-fingerprinted key, rule-versioned, built at the 0.9
    * delta watermark). */
  def ensureSpanState(t: Tables): String =
    graft.sources.LayoutStore.ensure(t.dir, "spangrams", spanStateVersion) {
      buildSpanState(t.documents, deltaWatermarkOf(t.documents), _)
    }

  /** E14 — `q_dedup_spans_incremental`: the daily mode of E12 — span
    * dedup of the DELTA ONLY against the persisted gram state,
    * first-occurrence rule preserved corpus-wide. Result contract:
    * IDENTICAL to full E12 restricted to delta docs (the E11
    * restriction pattern; base rows cannot change by construction —
    * see [[buildSpanState]]) — the oracle IS full E12's CTEs filtered
    * to doc_id > watermark, and DedupSpec pins the equivalence
    * against the engine's own full pass.
    *
    * A delta occurrence is dup iff its gram is IN THE STATE (some
    * base occurrence precedes it) OR an earlier DELTA occurrence
    * exists (the same (doc_id, pos) window as E12, run over delta
    * rows only). Coverage and reassembly are E12's shared stages.
    *
    * Scale shape — cost ∝ delta plus ONE column-pruned state scan:
    * only delta docs tokenize/hash; the membership check is an
    * equi-join between the state's single-column gram table and the
    * delta's distinct grams — AQE broadcasts the delta side when a
    * day's delta fits (the common case) and otherwise plans a
    * shuffle join whose moved bytes are distinct-gram hashes, still
    * strictly cheaper than full E12's three corpus-wide sorts of the
    * occurrence stream. The state is never sorted and never rewrites. */
  def dedupSpansIncremental(t: Tables): DataFrame =
    dedupSpansIncrementalAgainst(t.documents, ensureSpanState(t))

  /** The E14 delta pass against an EXPLICIT state dir (the daily
    * loop: build once, then per day this → act →
    * [[advanceSpanState]]). Delta = everything above the state's
    * recorded watermark. */
  def dedupSpansIncrementalAgainst(documents: DataFrame, path: String): DataFrame = {
    val spark = documents.sparkSession
    val w = stateWatermark(path)
    val grams = spanGramOccurrences(documents.filter(col("doc_id") > w))
      .localCheckpoint() // feeds the distinct-gram probe AND the flag join
    val touched = spark.read.parquet(s"$path/grams")
      .join(grams.filter(col("gh").isNotNull).select(col("gh")).distinct(),
        Seq("gh"))
      .withColumn("in_base", lit(1))
    val byGram = Window.partitionBy(
      coalesce(col("gh"), concat(lit("\u0000"), col("doc_id"), lit(":"), col("pos"))))
      .orderBy(col("doc_id"), col("pos"))
    spanCollapse(grams
      .join(touched, Seq("gh"), "left")
      .withColumn("dup",
        (col("gh").isNotNull && (col("in_base").isNotNull ||
          row_number().over(byGram) > 1)).cast("int"))
      .drop("in_base"))
  }

  /** Fold the delta's grams into the span state (day-two of the E14
    * loop, the [[advanceDedupState]] discipline): append only the
    * grams NOT already present — the same membership join the delta
    * pass runs — bracket the mutation with an `_ADVANCING` marker
    * (readers refuse a half-advanced state via [[stateWatermark]]),
    * then advance the watermark. History is never rewritten; the
    * state grows by exactly the new-gram count. */
  def advanceSpanState(documents: DataFrame, path: String): Long = {
    val spark = documents.sparkSession
    val w0 = stateWatermark(path)
    val mx = documents.agg(max(col("doc_id"))).first()
    val w1 = if (mx.isNullAt(0)) w0 else mx.getLong(0)
    if (w1 <= w0) return w0
    val deltaGh = spanGramOccurrences(
      documents.filter(col("doc_id") > w0 && col("doc_id") <= w1))
      .filter(col("gh").isNotNull).select(col("gh")).distinct()
    val newGrams = deltaGh.join(spark.read.parquet(s"$path/grams"),
      Seq("gh"), "left_anti")
      .localCheckpoint() // pin BEFORE the append mutates what it reads
    val advancing = java.nio.file.Paths.get(path, "_ADVANCING")
    java.nio.file.Files.writeString(advancing, w1.toString)
    newGrams.write.mode("append").parquet(s"$path/grams")
    writeWatermark(path, w1)
    java.nio.file.Files.delete(advancing)
    w1
  }

  /** E19 — `q_novelty_incremental`: the DAILY novelty read — E18's
    * duplication-rate audit for the DELTA ONLY, scored against the
    * SAME persisted distinct-gram state E14 dedups with (one state,
    * two consumers — the audit and the cut read identical history).
    * This is the table a daily crawl actually publishes: how much of
    * today's intake is verbatim repetition, split the way only the
    * incremental view can split it — repeats of HISTORY (seen_base:
    * boilerplate the corpus already carries) vs repeats WITHIN the
    * day (within-delta duplication, e.g. a crawler hitting mirror
    * pages).
    *
    * Result contract (the E14 equivalence discipline): dup counts
    * are IDENTICAL to full E18's corpus-wide rule restricted to
    * delta occurrences — under the append-only contract,
    * corpus_count(g) ≥ 2 for a delta occurrence ⇔ g is in the base
    * state ∨ delta_count(g) ≥ 2 — and the ORACLE computes the
    * corpus-wide side directly (full occ CTEs, cnt ≥ 2) while the
    * ENGINE runs the state-membership side, so the row PROVES the
    * equivalence every run.
    *
    * Scale shape — cost ∝ delta plus one column-pruned state probe:
    * only delta docs tokenize; everything aggregates through the
    * delta's (gh, source) mid level (E18's shape); the membership
    * check joins the single-column state against the delta's
    * DISTINCT grams (AQE broadcasts the delta side when a day fits);
    * the state is never sorted, never rewritten. */
  def noveltyIncremental(t: Tables): DataFrame =
    noveltyIncrementalAgainst(t.documents, ensureSpanState(t))

  /** The E19 delta audit against an EXPLICIT state dir (the daily
    * loop: [[dedupSpansIncrementalAgainst]]'s sibling read). */
  private[graft] def noveltyIncrementalAgainst(
      documents: DataFrame, path: String): DataFrame = {
    val spark = documents.sparkSession
    val w = stateWatermark(path)
    // delta-only source labels: the watermark filter lets parquet
    // row-group stats skip the entire base corpus (cost ∝ delta)
    val src = documents.filter(col("doc_id") > w)
      .select(col("doc_id"), col("source"))
    val occ = spanGramOccurrences(documents.filter(col("doc_id") > w))
      .filter(col("gh").isNotNull)
      .select(col("doc_id"), col("gh"))
    val mid = occ.join(src, "doc_id")
      .groupBy(col("gh"), col("source"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val deltaCnt = mid.groupBy(col("gh")).agg(sum(col("c")).as("dcnt"))
    val inBase = spark.read.parquet(s"$path/grams")
      .join(mid.select(col("gh")).distinct(), Seq("gh"))
      .withColumn("in_base", lit(1))
    mid.join(deltaCnt, "gh")
      .join(inBase, Seq("gh"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_occurrences"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("in_base").isNotNull, col("c")).otherwise(0L))
          .as("seen_base_occurrences"),
        sum(when(col("in_base").isNotNull || col("dcnt") >= 2, col("c"))
          .otherwise(0L)).as("dup_occurrences"))
      .select(col("source"), col("n_occurrences"), col("n_distinct"),
        col("seen_base_occurrences"),
        round(col("seen_base_occurrences").cast("double")
          / col("n_occurrences").cast("double"), 6).as("seen_base_share"),
        col("dup_occurrences"),
        round(col("dup_occurrences").cast("double")
          / col("n_occurrences").cast("double"), 6).as("dup_share"))
      .orderBy(col("source"))
  }

  /** E13 — `q_source_overlap`: the pairwise shingle-Jaccard matrix
    * BETWEEN corpus slices — the cross-source contamination audit
    * (which crawls overlap, whether a "new" source is a re-crawl of
    * an old one) that sits beside F16's per-source data card; E4
    * scores document pairs, this scores SOURCE pairs on the same
    * distinct-word-3-gram unit, so a hot cell in this matrix points
    * straight at the E-family pass to run next.
    *
    * Jaccard(s1, s2) = |G₁∩G₂| / |G₁∪G₂| over each source's distinct
    * shingle set; only intersecting pairs emit (the sparse upper
    * triangle, s1 < s2).
    *
    * Scale shape: ONE distinct (source, shingle) pass (map-side
    * combined, checkpointed) feeds both the per-source set sizes and
    * the pair intersection; the self-join keys on the shingle, and
    * its fan-out per shingle is bounded by the source count — a
    * boilerplate gram shared by every source yields C(S,2) rows, a
    * constant, never O(docs²) (same argument as E2's band buckets
    * but with a structural cap, so no occupancy clamp is needed).
    * The ≤S-row size table broadcasts. Exact integer counts; the
    * one division rounds at 6dp. */
  def sourceOverlap(t: Tables): DataFrame = {
    val ss = t.documents
      .select(col("source"), explode(shingles3(words(col("text")))).as("sh"))
      .distinct()
      .localCheckpoint() // feeds the size agg AND both join sides
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = ss.as("a").join(ss.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))),
        Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))),
        Seq("s2"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }
}
