package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.sources.{IndexCatalog, TableFormat, Tables}

/** The reference's embedding pipeline re-expressed Spark-first
  * (reference: src/core/embeddings/processor.py:174 `_generate_
  * embeddings_batch` — batch-encode cleaned message text — and :326
  * `store_embeddings` — persist vectors for later search; engine.py:57
  * `update_embeddings` runs it incrementally from a watermark).
  *
  * No model exists in this sandbox, so the encoder is deterministic
  * FEATURE HASHING (the standard model-free text embedding): each
  * token votes ±1 into one of `dim` md5-addressed buckets, the vector
  * is L2-normalized. The encoder is a stand-in; everything around it —
  * clean → tokenize → batch-embed → normalized float vectors →
  * shard-partitioned parquet store → incremental append → cosine
  * search over the store — is the production DataFrame shape, and
  * near-duplicate documents measurably embed to near-parallel vectors
  * (the property the reference's search relies on).
  *
  * Scale shape: embedding is explode + two keyed aggregations (both
  * map-side-combining, keyed on doc_id — parallel in the corpus);
  * the store is written partitioned by shard so incremental appends
  * create new files without rewriting history, and search reads
  * stream through the codegen'd cosine expression.
  */
/** Incremental-update statistics (the reference's update_embeddings
  * result dict, engine.py:98: new_messages / processing time; the
  * watermark the next increment should start from). */
case class UpdateStats(processed: Long, newWatermark: Long, durationSec: Double)

/** Store-coverage statistics (the reference's get_database_stats,
  * engine.py:228: total vs embedded message counts and the coverage
  * percentage the monitoring loop watches, rounded to 1 dp like the
  * reference's `round(..., 1)`). */
case class CoverageStats(total: Long, embedded: Long, coveragePct: Double)

/** Refresh-policy knobs, mirroring the reference's search-triggered
  * update orchestration (engine.py:31-36 defaults, :140-151 logic):
  * a short cooldown inside the startup window and a long one after
  * it; a minimum new-document threshold before an update is worth
  * running (tripled for the first five searches); and the bounded
  * per-call batch (engine.py:57 `max_messages`). */
case class RefreshPolicy(
    cooldownSec: Long = 60,
    longCooldownSec: Long = 300,
    startupWindowSec: Long = 600,
    updateThreshold: Long = 50,
    maxDocsPerUpdate: Int = 10000)

/** Mutable-in-the-reference orchestration state, carried functionally
  * here (engine.py:32-36: last update time, server start, search
  * counter, plus the store watermark the reference keeps in its
  * vector DB). `lastUpdateEpochSec = 0` means "never updated", so the
  * first out-of-cooldown search always considers refreshing. */
case class SearchState(
    watermark: Long,
    serverStartEpochSec: Long,
    lastUpdateEpochSec: Long = 0L,
    searchCount: Long = 0L)

object EmbeddingStore {

  /** Default store width. The reference embeds at 384 dims
    * (all-MiniLM-L6-v2, processor.py:174); the synthetic corpora ship
    * 64-dim vectors, so 64 is the default and 384 is exercised by
    * EmbeddingStoreSpec's reference-dimensionality tests plus the
    * DimBench artifact — every operator downstream of [[embed]]
    * (store, IVF build/assign/probe, cosine search) is
    * width-agnostic: the width is carried by the data, and
    * [[buildIvfIndex]] infers it from its input. */
  val dim = 64
  val numShards = 16

  /** The shipped encoder behind [[embed]]/[[embedRaw]] — the
    * [[Encoder]] seam's default binding. A deployment swaps this at
    * the call sites that take an encoder ([[embedWith]],
    * [[searchTextWith]], [[updateSinceWith]],
    * [[Bootstrap.coldStart]]); nothing downstream of the produced
    * vectors knows which encoder ran. */
  val defaultEncoder: Encoder = HashingEncoder(dim)

  /** Batch-embed cleaned document text → (doc_id, shard, embedding
    * float[dim], norm 1) under the SESSION's encoder binding
    * ([[Encoder.resolve]] — the `graft.encoder.class` conf, or the
    * shipped hashing default). The width-taking overload is
    * explicitly the HASHING encoder at that width (the dim-sweep
    * bench rows); the seam entry for an arbitrary model is
    * [[embedWith]]. */
  def embed(docs: DataFrame): DataFrame =
    embedWith(Encoder.resolve(docs.sparkSession), docs)

  def embed(docs: DataFrame, dim: Int): DataFrame =
    embedWith(HashingEncoder(dim), docs)

  /** Batch-embed through an arbitrary [[Encoder]] — THE seam entry:
    * the encoder yields raw vectors; the L2 normalization, float
    * cast and shard key are ONE shared encoder-independent rule, so
    * two deployments with different models still produce the same
    * store layout. */
  def embedWith(encoder: Encoder, docs: DataFrame): DataFrame =
    encoder.encodeRaw(docs)
      // norm projected ONCE per row (a lambda-embedded aggregate would
      // re-run the fold per output element), with a zero-norm guard so
      // fully-cancelling raw components yield a zero vector, not NaNs
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, y) => acc + y * y)))
      .select(col("doc_id"),
        when(col("nrm") === 0.0, col("raw"))
          .otherwise(transform(col("raw"), x => x / col("nrm")))
          .cast("array<float>").as("embedding"))
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(numShards)).as("shard"), col("embedding"))

  /** The raw stage of [[embed]] under the DEFAULT hashing encoder:
    * dense UNNORMALIZED double vectors whose components are the ±1
    * vote sums — small integers, so float casts and sparse
    * cross-engine replays are EXACT (the G4 technique), and cosine
    * over them equals cosine over the normalized store vectors
    * (scale invariance). The pipeline definition lives in
    * [[HashingEncoder]]; [[embed]] normalizes on top. */
  def embedRaw(docs: DataFrame, dim: Int): DataFrame =
    HashingEncoder(dim).encodeRaw(docs)

  /** `q_search_dim384` — the heavy-WIDTH bench row: brute-force
    * cosine top-10 at the reference's model width (384,
    * all-MiniLM-L6-v2, processor.py:174). The shipped corpora carry
    * 64-dim vectors, so without this row every per-round bench query
    * ran dim 64 and a width-dependent regression (the dense
    * transform, the 384-wide cosine loop) could hide; the offline
    * DimBench proved the width curve once, this row pins it every
    * round. Raw integer votes ([[embedRaw]]) make the 6dp scores
    * engine-exact. Scale shape: the query vector derives from ONE
    * pre-filtered doc (no corpus checkpoint), the corpus side is a
    * single tokenize→vote→score streaming pass, top-k via
    * TakeOrdered. Contract when doc_id 0 is absent (or tokenless):
    * the query frame is empty, the cross join yields 0 rows, and the
    * oracle agrees (its q CTE is an inner dependency of the final
    * select via `WHERE qnorm IS NOT NULL`). */
  def searchDim384(t: Tables): DataFrame = {
    val qv = embedRaw(t.documents.filter(col("doc_id") === 0L), 384)
      .select(col("raw").cast("array<float>").as("qv"))
    embedRaw(t.documents.filter(col("doc_id") =!= 0L), 384)
      .select(col("doc_id"), col("raw").cast("array<float>").as("embedding"))
      .join(broadcast(qv))
      .select(col("doc_id"),
        round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** The fixed query string for the D21 row — corpus-vocabulary
    * words, so scores are non-degenerate; shared with the oracle via
    * [[SparkEntry]]'s interpolation. */
  private[graft] val textQueryString =
    "spark vector search over the message batch"

  /** D21 — `q_search_text`: a FREE QUERY STRING embedded at search
    * time and scored against the embedded corpus — the reference's
    * ACTUAL serving shape (engine.py:105 `search(query)` /
    * processor.py:436 embed the user's text, then score): every
    * other D row derives its query from a stored doc or vector; this
    * one starts from user text, clean → tokenize → hash-vote →
    * cosine, exactly the path a reference user's query takes.
    *
    * Scale shape: the query side is ONE literal row (clean/tokenize/
    * vote over a sentence — driver-trivial, broadcast); the corpus
    * side is the same single streaming tokenize→vote→score pass as
    * D11, TakeOrdered for top-k. Raw integer votes keep the
    * 6dp scores engine-exact, so DuckDB replays embed + search for a
    * LITERAL string. */
  def searchText(t: Tables, queryText: String = textQueryString,
      k: Int = 10): DataFrame =
    searchTextWith(Encoder.resolve(t.spark), t, queryText, k)

  /** [[searchText]] through an arbitrary [[Encoder]] — query and
    * corpus embed through the SAME seam (a mixed-encoder search is
    * meaningless; one parameter makes it unrepresentable). */
  def searchTextWith(encoder: Encoder, t: Tables, queryText: String,
      k: Int): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val qv = encoder.encodeRaw(Seq((-1L, queryText)).toDF("doc_id", "text"))
      .select(col("raw").cast("array<float>").as("qv"))
    encoder.encodeRaw(t.documents)
      .select(col("doc_id"), col("raw").cast("array<float>").as("embedding"))
      .join(broadcast(qv))
      .select(col("doc_id"),
        round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Persist (or append) embeddings shard-partitioned — the vector
    * store (reference processor.py:326). */
  def store(vectors: DataFrame, path: String, append: Boolean = false): Unit =
    vectors.write
      .mode(if (append) "append" else "overwrite")
      .partitionBy("shard")
      .parquet(path)

  /** Incremental update from a doc_id watermark (the reference keys
    * incrementality on last-processed timestamp, engine.py:57; the
    * documents table has no timestamp, so doc_id is the watermark
    * column). Only new docs are embedded and appended, and the call
    * returns the same observability contract the reference's
    * update_embeddings does (engine.py:98: processed count +
    * processing time, plus the advanced watermark the caller persists
    * for the next increment). The count/max pre-aggregate is one
    * cheap pushed-filter scan; a zero-delta update skips the embed
    * and write entirely, like the reference's early return
    * (engine.py:78). */
  def updateSince(t: Tables, path: String, sinceDocId: Long): UpdateStats =
    updateSince(t, path, sinceDocId, None)

  /** Bounded variant: `maxDocs` caps the work of ONE call (the
    * reference's `max_messages=10000`, engine.py:57) — the LOWEST
    * `maxDocs` doc_ids above the watermark are taken, so repeated
    * calls walk the backlog in doc_id order and the returned
    * watermark always bounds exactly what was appended. The bound
    * runs as a distributed top-K (TakeOrdered), never a full sort;
    * at 100 TB this is the operator contract that keeps a single
    * update call's memory and runtime fixed no matter how far the
    * store has fallen behind. */
  def updateSince(t: Tables, path: String, sinceDocId: Long,
      maxDocs: Option[Int]): UpdateStats =
    updateSinceWith(Encoder.resolve(t.spark), t, path, sinceDocId, maxDocs)

  /** [[updateSince]] through an arbitrary [[Encoder]] — the
    * incremental path of the seam (a store must append with the SAME
    * encoder that built it; the caller owns that invariant, like the
    * reference owns its loaded model). */
  def updateSinceWith(encoder: Encoder, t: Tables, path: String,
      sinceDocId: Long, maxDocs: Option[Int]): UpdateStats = {
    val t0 = System.nanoTime()
    val delta = t.documents.filter(col("doc_id") > sinceDocId)
    val bounded = maxDocs.fold(delta)(m => delta.orderBy(col("doc_id")).limit(m))
    // materialize the delta ONCE (eager): the stats aggregate and the
    // embed+write below must see the same snapshot — two separate
    // scans could disagree if files land in the directory between
    // them, reporting a watermark above rows actually appended
    val fresh = bounded.localCheckpoint()
    val head = fresh.agg(count(lit(1)).as("c"), max(col("doc_id")).as("m")).first()
    val processed = head.getLong(0)
    val newWatermark = if (head.isNullAt(1)) sinceDocId else head.getLong(1)
    if (processed > 0) store(embedWith(encoder, fresh), path, append = true)
    UpdateStats(processed, newWatermark, (System.nanoTime() - t0) / 1e9)
  }

  /** Cosine top-k over the store for a query vector taken from the
    * store itself (reference search_similar_messages, processor.py:436,
    * with the query embedded at search time). */
  def search(spark: SparkSession, path: String, queryDocId: Long, k: Int): DataFrame = {
    val store = spark.read.parquet(path)
    val qv = store.filter(col("doc_id") === queryDocId)
      .select(col("embedding").as("qv"))
    store
      .filter(col("doc_id") =!= queryDocId)
      .join(broadcast(qv))
      .select(col("doc_id"),
        round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Store coverage vs the source corpus (reference
    * get_database_stats, engine.py:228): total documents, embedded
    * rows in the store, 1dp coverage percent. The store count is a
    * parquet metadata read (no scan); a not-yet-created store reads
    * as 0 embedded, exactly like the reference's missing vector DB
    * branch (engine.py:255). */
  def coverage(t: Tables, path: String): CoverageStats = {
    val total = t.documents.count()
    val embedded =
      try t.spark.read.parquet(path).count()
      catch { case e if isMissingStore(e) => 0L }
    val pct =
      if (total > 0) math.round(embedded * 1000.0 / total) / 10.0 else 0.0
    CoverageStats(total, embedded, pct)
  }

  /** `q_embedding_coverage` — the same coverage stat as a QUERY over
    * the driver tables (events ⋈ embeddings, vec_id keying event_id
    * as in D6): one row of total / embedded / coverage%, the
    * monitoring-loop view of how far the store lags the corpus. One
    * broadcast-or-shuffle join + a single global aggregate — the
    * count combines map-side, so the join output never concentrates
    * anywhere. */
  def coverageQuery(t: Tables): DataFrame =
    t.events.as("ev")
      .join(t.embeddings.select(col("vec_id")).as("em"),
        col("ev.event_id") === col("em.vec_id"), "left")
      .agg(
        count(lit(1)).as("total_events"),
        count(col("em.vec_id")).as("embedded"),
        round(count(col("em.vec_id")).cast("double") * 100 / count(lit(1)), 1)
          .as("coverage_pct"))

  /** Search-with-refresh orchestration — the reference's `search()`
    * entry path (engine.py:140-151) re-expressed as a pure function
    * of (state, clock): unless inside the active cooldown (short
    * within the startup window, long after it — engine.py:146), check
    * how far the store lags the corpus and run a BOUNDED incremental
    * update first when the lag exceeds the effective threshold
    * (tripled for the first five searches — engine.py:149);
    * `force = true` skips the checks like the reference's
    * `force_update`. The clock arrives as `nowEpochSec` so the policy
    * is deterministic and testable; the caller threads the returned
    * state into its next call. Returns (results, new state, stats of
    * the update if one ran). */
  def searchWithRefresh(t: Tables, path: String, queryDocId: Long, k: Int,
      state: SearchState, policy: RefreshPolicy = RefreshPolicy(),
      nowEpochSec: Long, force: Boolean = false): (DataFrame, SearchState, Option[UpdateStats]) = {
    val (next, stats) = refreshStep(
      { val cov = coverage(t, path); cov.total - cov.embedded },
      (wm, m) => updateSince(t, path, wm, Some(m)),
      state, policy, nowEpochSec, force)
    (searchOrEmpty(t.spark, path, queryDocId, k), next, stats)
  }

  /** The cooldown/threshold/bounded-update decision step shared by
    * the documents-corpus and pre-embedded-vectors refresh paths —
    * ONE re-expression of the reference's mutable orchestration
    * (engine.py:140-151), pure in (state, clock). `lag` is by-name:
    * it costs two counts and is only evaluated when the cooldown has
    * passed. A zero-doc update is the reference's early return
    * (engine.py:78): it never touches last_embedding_update_time, so
    * a no-op refresh cannot start a cooldown that would delay a
    * genuinely needed update by up to longCooldownSec. */
  private def refreshStep(lag: => Long, doUpdate: (Long, Int) => UpdateStats,
      state: SearchState, policy: RefreshPolicy, nowEpochSec: Long,
      force: Boolean): (SearchState, Option[UpdateStats]) = {
    val counted = state.copy(searchCount = state.searchCount + 1)
    val shouldUpdate =
      if (force) true
      else {
        val cooldown =
          if (nowEpochSec - state.serverStartEpochSec < policy.startupWindowSec)
            policy.cooldownSec
          else policy.longCooldownSec
        if (nowEpochSec - state.lastUpdateEpochSec < cooldown) false
        else {
          val effThreshold =
            if (counted.searchCount <= 5) policy.updateThreshold * 3
            else policy.updateThreshold
          lag > effThreshold
        }
      }
    if (shouldUpdate) {
      val u = doUpdate(counted.watermark, policy.maxDocsPerUpdate)
      (counted.copy(watermark = u.newWatermark,
        lastUpdateEpochSec =
          if (u.processed > 0) nowEpochSec else counted.lastUpdateEpochSec),
        Some(u))
    } else (counted, None)
  }

  /** Does the throwable chain mean "the store directory isn't there
    * yet"? Spark surfaces that as AnalysisException (PATH_NOT_FOUND
    * at resolution) or a FileNotFoundException from the Hadoop
    * listing (possibly wrapped), depending on when the path vanishes
    * relative to schema inference. */
  private def isMissingStore(e: Throwable): Boolean = e match {
    case null => false
    case _: org.apache.spark.sql.AnalysisException => true
    case _: java.io.FileNotFoundException => true
    case _ => isMissingStore(e.getCause)
  }

  /** Search tolerating a not-yet-created store — a cold store whose
    * lag is under the threshold never ran an update, so the path may
    * not exist; the reference sets up the vector DB and returns
    * empty results (processor.py's fresh-DB branch). */
  private def searchOrEmpty(spark: SparkSession, path: String,
      queryDocId: Long, k: Int): DataFrame =
    try search(spark, path, queryDocId, k)
    catch {
      case e if isMissingStore(e) =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("doc_id", LongType),
            StructField("score", DoubleType))))
    }

  /** [[updateSince]] for a PRE-EMBEDDED (doc_id, embedding) corpus:
    * the bounded delta appends directly (no embed step) — the path a
    * pipeline whose vectors arrive from an upstream encoder runs.
    * Same snapshot / watermark / TakeOrdered-bound contract. */
  def updateVectorsSince(vectors: DataFrame, path: String, sinceDocId: Long,
      maxDocs: Option[Int]): UpdateStats = {
    val t0 = System.nanoTime()
    val delta = vectors.filter(col("doc_id") > sinceDocId)
    val bounded = maxDocs.fold(delta)(m => delta.orderBy(col("doc_id")).limit(m))
    val fresh = bounded.localCheckpoint()
    val head = fresh.agg(count(lit(1)).as("c"), max(col("doc_id")).as("m")).first()
    val processed = head.getLong(0)
    if (processed > 0)
      store(fresh.select(col("doc_id"),
        pmod(col("doc_id"), lit(numShards)).as("shard"),
        col("embedding").cast("array<float>").as("embedding")),
        path, append = true)
    UpdateStats(processed,
      if (head.isNullAt(1)) sinceDocId else head.getLong(1),
      (System.nanoTime() - t0) / 1e9)
  }

  /** [[searchWithRefresh]] over a pre-embedded vector corpus: same
    * [[refreshStep]] policy, lag measured corpus-count vs
    * store-count, updates through [[updateVectorsSince]]. */
  def searchWithRefreshVectors(vectors: DataFrame, path: String,
      queryDocId: Long, k: Int, state: SearchState,
      policy: RefreshPolicy = RefreshPolicy(), nowEpochSec: Long,
      force: Boolean = false): (DataFrame, SearchState, Option[UpdateStats]) = {
    val spark = vectors.sparkSession
    // both counts live INSIDE the by-name lag thunk: a search sitting
    // in the cooldown pays neither (refreshStep's contract)
    val (next, stats) = refreshStep(
      {
        val stored =
          try spark.read.parquet(path).count()
          catch { case e if isMissingStore(e) => 0L }
        vectors.count() - stored
      },
      (wm, m) => updateVectorsSince(vectors, path, wm, Some(m)),
      state, policy, nowEpochSec, force)
    (searchOrEmpty(spark, path, queryDocId, k), next, stats)
  }

  /** `q_search_refresh` — the reference's search() ENTRY PATH
    * (engine.py:105-175: cooldown gate, lag threshold, bounded
    * incremental update, then the search itself) as a driver-checked
    * row. A fixed four-search clock sequence against a fresh store
    * (serverStart 1000; searches at t = 1000, 1030, 1100, 2000;
    * short cooldown 60 inside the 600 s startup window, long 300
    * after; threshold 0; 150-vector bounded updates):
    *
    *  - t=1000 — cold store, out of cooldown → update #1 (lowest 150
    *    vec_ids), then search;
    *  - t=1030 — INSIDE the 60 s cooldown → search only (the skip
    *    the cooldown exists for);
    *  - t=1100 — cooldown passed → update #2 (next 150);
    *  - t=2000 — past the startup window, long cooldown 300 passed
    *    → update #3 (next 150).
    *
    * Output = the final top-10 for query vec 0 over the store the
    * sequence actually built (the lowest min(N, 450) vec_ids), plus
    * the orchestration facts as constant columns (searches run,
    * non-empty updates, vectors processed, final watermark). Every
    * number is a pure function of the corpus count and the fixed
    * sequence, so DuckDB replays the whole episode: store = ORDER BY
    * vec_id LIMIT LEAST(n, 450), updates = CEIL(LEAST(n,450)/150).
    * Scale: three bounded TakeOrdered updates + four metadata counts
    * + one store-scan search — nothing corpus-shaped on the
    * driver. */
  def searchRefreshQuery(t: Tables): DataFrame = {
    val vecs = t.embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    // cluster-shared scratch: the refresh episode's store is written
    // and probed by executors, so it lives under the layouts root
    // (SPARK_GRAFT_STORAGE_DIR-governed), never driver-local /tmp
    // try/finally: the scratch is durable cluster-shared storage, so
    // a mid-episode failure must not leak a store there
    val dir = graft.sources.LayoutStore.scratch(t.dir, "refresh")
    try searchRefreshEpisode(vecs, s"$dir/store")
    finally graft.sources.LayoutStore.deleteRecursively(dir)
  }

  private def searchRefreshEpisode(vecs: DataFrame, path: String): DataFrame = {
    val policy = RefreshPolicy(cooldownSec = 60, longCooldownSec = 300,
      startupWindowSec = 600, updateThreshold = 0, maxDocsPerUpdate = 150)
    var state = SearchState(watermark = -1L, serverStartEpochSec = 1000L)
    var processed = 0L
    var nUpdates = 0L
    var results: DataFrame = null
    Seq(1000L, 1030L, 1100L, 2000L).foreach { now =>
      val (res, next, stats) =
        searchWithRefreshVectors(vecs, path, 0L, 10, state, policy, now)
      state = next
      stats.filter(_.processed > 0).foreach { u =>
        nUpdates += 1; processed += u.processed
      }
      results = res
    }
    val out = results.select(col("doc_id"), col("score"),
      lit(state.searchCount).as("n_searches"),
      lit(nUpdates).as("n_updates"),
      lit(processed).as("total_processed"),
      lit(state.watermark).as("final_watermark"))
      .orderBy(col("score").desc, col("doc_id"))
      // eager localCheckpoint pins the ≤10-row result in the block
      // manager so the caller's finally can delete the per-invocation
      // store NOW — a multi-pass bench would otherwise leak one
      // parquet store per call
      .localCheckpoint(true)
    out
  }

  // ---- persisted IVF index ------------------------------------------------

  /** Target rows per IVF cell at scale. Past n = τ² the n/τ term in
    * [[numCellsFor]] takes over from √n and caps the EXPECTED cell
    * size at this constant — per-probe scan work and E5's in-cell
    * pair cost then stop growing with the corpus. */
  val targetCellRows = 1024L

  /** Cell-count rule: k = max(2, ⌈√n⌉, ⌈n/τ⌉). ⌈√n⌉ is the classic
    * balance and governs small corpora; ⌈n/τ⌉ makes the expected cell
    * size CORPUS-INDEPENDENT once n exceeds τ² — with √n alone, cells
    * grow as √n (~31k rows each at 1e9 vectors), and every probe scan
    * and in-cell pair generation grows with them. Two-level
    * assignment stays O(√k) per vector either way. At extreme k the
    * fine-centroid table outgrows a broadcast (≈250 MB at 1e9
    * vectors); the level-2 attach is an equi-join on the coarse
    * group, and [[assignCells]] drops its broadcast hint
    * automatically past 200k cells (AQE then plans the shuffle
    * join). E5's oracle replays this exact rule. */
  def numCellsFor(n: Long): Int =
    math.max(2, math.max(
      math.ceil(math.sqrt(n.toDouble)),
      math.ceil(n.toDouble / targetCellRows)).toInt)

  /** Past this many cells, centroid/rank tables stop broadcasting
    * (≈200k rows × (dim·4+16) B ≈ 50 MB) and their joins fall back to
    * AQE-planned shuffle equi-joins. Shared by [[seedTable]] and
    * [[assignCells]] so both sides of the rule flip together. A `var`
    * ONLY so IvfIndexSpec can lower it and prove the shuffle-join
    * branch is result-identical to the broadcast branch — corpora
    * that big don't fit in a test. */
  private[graft] var broadcastCellCap = 200000L

  /** High-water mark of rows any IVF-path helper has materialized on
    * the driver (instrumentation for the O(√k) driver contract —
    * IvfIndexSpec asserts it never exceeds ⌈√k⌉ + probes). */
  private[graft] val driverRowsHighWater =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Every driver collect in the IVF path flows through here with an
    * explicit bound, so a future rule change can never silently
    * reintroduce a linear driver materialization — exceeding the
    * bound fails fast instead of OOMing the driver of a
    * 1000-executor job. */
  private[graft] def collectBounded(df: DataFrame, bound: Long,
      what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    require(rows.length <= bound,
      s"$what would hold ${rows.length} rows on the driver (bound $bound)")
    driverRowsHighWater.getAndUpdate(m => math.max(m, rows.length.toLong))
    rows
  }

  /** Distributed seed table: the k lowest doc_ids become cells 0..k-1
    * in id order, and the seeds STAY DISTRIBUTED. Under the n/τ cell
    * rule k grows linearly with the corpus (~1M cells ≈ 250 MB of
    * vectors at 1e9, GBs at 1e10), so a driver collect here — round
    * 6's shape — would be the job's scale ceiling. Instead the rank
    * is a single-column range sort + zipWithIndex (order-preserving
    * across range partitions, deterministic because doc_id is a total
    * order) and the vectors attach via an equi-join on doc_id;
    * nothing row-shaped reaches the driver. The 8-byte id column is
    * the only thing sorted (~8 GB at 1e9 rows — routine for a
    * cluster sort). The rank side broadcasts while small and falls
    * back past [[broadcastCellCap]]. Eagerly checkpointed so every
    * downstream pass (count, coarse-seed scan, assignment join) reads
    * the materialized k-row block instead of re-running the corpus
    * sort. */
  private[graft] def seedTable(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    val ranks = emb.select(col("doc_id")).sort(col("doc_id"))
      .rdd.zipWithIndex()
      .filter { case (_, i) => i < k }
      .map { case (r, i) => (r.getLong(0), i.toInt) }
    val rankDf = spark.createDataFrame(ranks).toDF("doc_id", "cell")
    val rankSide = if (k <= broadcastCellCap) broadcast(rankDf) else rankDf
    emb.join(rankSide, Seq("doc_id"))
      .select(col("cell"), col("embedding").cast("array<float>").as("centroid"))
      .localCheckpoint()
  }

  /** Deterministic seed centroids over a (doc_id, embedding) frame:
    * the numCellsFor(n) lowest ids become cells 0..k-1 in id order —
    * a distributed [[seedTable]]; the only driver materialization in
    * the whole assignment path is [[assignCells]]'s ⌈√k⌉ coarse
    * seeds. Shared by E5's dedup blocking and the recall evaluator so
    * their assignments are bit-identical and both oracles replay ONE
    * rule. */
  private[graft] def seedCentroids(emb: DataFrame): DataFrame =
    seedTable(emb, numCellsFor(emb.count()))

  /** Build a persisted IVF index: deterministic k-means-lite (seed
    * centroids = the ceil(√n) lowest doc_ids, one Lloyd refinement),
    * then write vectors PARTITIONED BY CELL. Probing then prunes
    * whole partitions at the file listing — the on-disk analogue of
    * the reference's full-store scan being narrowed to candidate
    * sets, and the layout that makes D4's cell filter a
    * `PartitionFilters` entry instead of a row filter. Centroids
    * persist next to the cells. Seeds come from the distributed
    * [[seedTable]] — no driver collect anywhere in the build. */
  def buildIvfIndex(spark: SparkSession, vectors: DataFrame, path: String): Unit =
    buildIvfIndex(spark, vectors, path, lloydIterations = 1)

  /** `lloydIterations` is the refinement knob: each iteration is one
    * assign → per-cell-mean step (assignment O(n·√k) via the
    * two-level quantizer, the mean one keyed aggregation — a full
    * extra corpus pass per iteration at 100 TB, which is why the
    * default stays 1 and [[indexStats]]'s `mean_intra_cosine` is the
    * number an operator watches to decide whether another iteration
    * or a rebuild is worth that pass). IvfIndexSpec measures the
    * default against `lloydIterations = 2` and pins that the quality
    * stat does not degrade. */
  def buildIvfIndex(spark: SparkSession, vectors: DataFrame, path: String,
      lloydIterations: Int): Unit = {
    require(lloydIterations >= 1, "at least one Lloyd refinement")
    val k = numCellsFor(vectors.count())
    // vector width comes from the DATA (one-row peek, not a scan), so
    // the index builds unchanged at the reference's 384 dims as at the
    // synthetic corpora's 64 — nothing downstream hardcodes the width
    val vecDim = vectors.select(size(col("embedding")).as("d")).limit(1)
      .first().getInt(0)
    var centroids = seedTable(vectors, k)
    for (_ <- 0 until lloydIterations)
      centroids = lloydStep(assignCells(vectors, centroids), vecDim)
    // eager checkpoint: repartitionByRange SAMPLES its input before
    // shuffling, so an unpinned assignment DAG would evaluate twice
    // (sampling + shuffle) — pin the assignment once, range-cluster
    // the pinned rows
    val finalAssign = assignCells(vectors, centroids).localCheckpoint()
    // Every substore commits through the TableFormat core (manifested
    // generations + CAS markers): cells cluster on (cell, doc_id)
    // into ~k τ-row files, so the manifest's per-file ranges carry
    // exactly the pruning the old Hive cell=* layout gave — a probe
    // skips files from STATISTICS, a rebuild is the NEXT generation
    // (no staging dirs, no rename window), and the pre-rebuild index
    // keeps time-traveling through IndexCatalog pins.
    // gen = 0 marks build-time rows; appendToIvfIndex writes gen = 1,
    // which is what lets indexStats report the appended fraction the
    // rebuild advice watches
    val cellsRoot = s"$path/cells"
    // bloom on doc_id: the probe path's QUERY-VECTOR fetch is an
    // equality lookup on a column this layout does NOT cluster by
    // (files cluster on cell, so every file's doc_id range spans the
    // query) — the per-file sketch prunes that lookup to the one
    // file holding the id, and propagates through every appendScoped
    val cg = TableFormat.commitGenManifested(
      finalAssign.withColumn("gen", lit(0))
        .repartitionByRange(k, col("cell"), col("doc_id")),
      cellsRoot, Seq("cell", "doc_id"), bloomKeys = Seq("doc_id"))
    // the centroids table is an independent substore — its commit
    // overlaps the sidecar builds below (guide §2.6); only the cells
    // commit above is a strict prerequisite (the sidecars read the
    // just-committed cell layout)
    import scala.concurrent.{Await, Future}
    import graft.Concurrency.commitEc
    import scala.concurrent.duration.Duration
    val fCent = Future(TableFormat.commitGenManifested(
      centroids.coalesce(1), s"$path/centroids", Seq("cell")))
    // PQ sidecars (codebooks + cell-clustered codes) build from the
    // JUST-COMMITTED cells, not the lazy assignment frame — re-using
    // the materialized layout costs one read where re-evaluating
    // finalAssign would re-run the whole two-level assignment DAG
    val builtCells = TableFormat.readViaManifest(spark, cellsRoot, cg,
      TableFormat.genSchema(cellsRoot, cg))
    val fPq = Future(ProductQuantizer.buildPq(spark, builtCells, path))
    // the int8 sidecar beside it — the two compressed representations
    // (SQ8: 4x bytes cut, near-exact; PQ: 24-32x, lossier) share the
    // cell clustering so every probe prunes them identically
    ScalarQuantizer.buildSq8(spark, builtCells, path)
    Await.result(fPq, Duration.Inf)
    Await.result(fCent, Duration.Inf)
    // ONE atomic commit point for the whole quintuple: readers resolve
    // the catalog pointer and can never mix new cells with old
    // centroids/codebooks (the cross-store torn read the old
    // rename-swap rebuild had a window for)
    IndexCatalog.publish(path)
  }

  /** One Lloyd step: per-cell mean of the assigned vectors.
    * Components round to 6 dp so the refined centroids are
    * ENGINE-REPLAYABLE (sum order across engines/partitions perturbs
    * the last ulp of an avg; the 6dp round absorbs it — same parity
    * contract as every scored value). */
  private[graft] def lloydStep(assigned: DataFrame, vecDim: Int): DataFrame =
    lloydFinish(
      assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy(col("cell"), col("i")).agg(round(avg(col("v")), 6).as("cv")),
      vecDim)
      // k rows, consumed by several passes inside assignCells — pin
      // them so the corpus-wide posexplode aggregation runs once
      .localCheckpoint()

  /** The assembly half of [[lloydStep]] — k×dim (cell, i, cv) mean
    * rows → k (cell, centroid float[dim]) rows. Factored out so a
    * caller that already aggregated the per-(cell, component) means
    * (KMeans fuses its stats pass into that aggregation) finishes
    * through the ONE update rule. */
  private[graft] def lloydFinish(cellMeans: DataFrame, vecDim: Int): DataFrame =
    cellMeans
      .groupBy(col("cell"))
      .agg(map_from_entries(collect_list(struct(col("i"), col("cv")))).as("m"))
      .select(col("cell"),
        transform(sequence(lit(0), lit(vecDim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0.0)))
          .cast("array<float>").as("centroid"))

  /** Per-row argmax over pre-scored (doc_id, embedding, key, cscore)
    * rows — a map-side-combining aggregate on a (score, -key) struct,
    * never a window (a window would shuffle every scored row; the
    * aggregate combines them before any exchange). The tie-break
    * convention (highest score, then lowest key) lives ONLY here. */
  private def argmaxScored(scored: DataFrame, keyCol: String): DataFrame =
    scored
      .groupBy(col("doc_id"))
      .agg(max(struct(col("cscore"), (-col(keyCol)).as("nk"))).as("m"),
        any_value(col("embedding")).as("embedding"))
      .select(col("doc_id"), col("embedding"),
        (-col("m.nk")).cast("int").as(keyCol))

  /** Pair score with PRE-COMPUTED norms — the fan-out form of
    * `round(cosineSim, 6)`: in a pair fan-out (a vector scored
    * against many centroids, a query against many candidates) the
    * fused cosine kernel re-derives BOTH self-norms per pair — 3
    * multiply-adds per element where the dot needs 1. Computing each
    * side's L2 norm once per ROW (before the fan-out join) and
    * dividing cuts the pair loop to a third. Bit-parity: the norm
    * accumulates the same widened elements in the same order as the
    * fused kernel, so `dot / (na * nb)` is the IEEE-identical double
    * and the 6dp round selects identical rows — the oracle replay is
    * untouched. The zero-norm guard mirrors cosineSim's 0.0. */
  private[graft] def normScore(e: org.apache.spark.sql.Column,
      c: org.apache.spark.sql.Column, ne: org.apache.spark.sql.Column,
      nc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(ne === 0.0 || nc === 0.0, 0.0)
      .otherwise(round(dotProduct(e, c) / (ne * nc), 6))

  /** Score every vector against a broadcast centroid table, keep the
    * argmax. Scores round to 6 dp BEFORE the argmax so assignment is
    * deterministic across engines/platforms (libm 1-ulp drift cannot
    * flip a comparison) — E5's dedup blocking relies on this to let
    * the DuckDB oracle replay the exact same cell per vector. Norms
    * pre-compute per row ([[normScore]]), never per pair. */
  private def argmaxAttach(vectors: DataFrame, attach: DataFrame,
      keyCol: String): DataFrame =
    argmaxScored(
      vectors.withColumn("__vn", l2Norm(col("embedding")))
        .join(broadcast(attach.withColumn("__cn", l2Norm(col("centroid")))))
        .select(col("doc_id"), col("embedding"), col(keyCol),
          normScore(col("embedding"), col("centroid"),
            col("__vn"), col("__cn")).as("cscore")),
      keyCol)

  /** Nearest-centroid assignment with a TWO-LEVEL coarse quantizer:
    * the fine centroids are themselves grouped under ceil(√k) coarse
    * centroids (their own lowest-cell seeds); each vector first picks
    * its coarse group (√k comparisons), then the argmax over only
    * that group's fine centroids (~√k more). Per-vector cost drops
    * from k to O(√k) — the difference between n·k and n·√k compute at
    * build time, which is what keeps corpus-scaled cell counts
    * affordable at 1e9 vectors. Boundary vectors may land one cell
    * off versus flat assignment (standard hierarchical-IVF trade;
    * search recall is governed by multi-cell probing, not assignment
    * exactness). All centroid tables broadcast. `private[graft]`:
    * E5's dedup blocking shares this exact assignment (and its
    * oracle replays it level by level). */
  private[graft] def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    val k = centroids.count()
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarseSeeds = collectBounded(
      centroids.orderBy(col("cell")).limit(kc)
        .select(col("cell").as("seed_cell"), col("centroid")),
      kc, "coarse seed centroids").zipWithIndex
      .map { case (r, i) => (i, r.getInt(0), r.getSeq[Float](1).toArray) }
    if (k <= broadcastCellCap) {
      // KERNEL PATH (the common, bounded-k shape — same gate as the
      // broadcast rule, so IvfIndexSpec's cap-forcing test proves the
      // two paths result-identical): both argmax levels run as the
      // row-local [[graft.functions.NearestCell]] kernel, so the
      // corpus pays ZERO exchanges — the old shape fanned every
      // vector out k-ways per level and re-assembled it with a
      // corpus-wide groupBy(doc_id) aggregate TWICE, plus ~6
      // broadcast-exchange jobs per call (the dominant job count of
      // every episode row, JobProbe r19). Driver contract unchanged:
      // only the ⌈√k⌉ coarse seeds are ever collected; the fine
      // table stays distributed and reaches the corpus as one
      // broadcast of √k grouped candidate arrays.
      // norms precompute per centroid with the SAME scalar math as
      // l2Norm (widened float elements, index order)
      def normOf(a: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
        math.sqrt(s)
      }
      // ascending coarse id == ascending-key candidate order (the
      // kernel's lowest-key tie-break contract)
      val coarseArr = typedLit(coarseSeeds.toSeq.map { case (i, _, c) =>
        (i, c.toSeq, normOf(c)) })
      // the seed's OWN fine cell pins to its own group (the non-empty
      // group guarantee), as a tiny literal map over cell ids
      val seedOwnMap = typedLit(
        coarseSeeds.map { case (i, cell, _) => cell -> i }.toMap)
      val fineGrouped = centroids
        .select(col("cell"), col("centroid"),
          coalesce(element_at(seedOwnMap, col("cell")),
            graft.functions.VectorFunctions.nearestCell(
              col("centroid"), coarseArr)).as("coarse"))
      // √k rows, each holding its group's candidates sorted by cell
      // (ascending-key contract); one broadcast replaces the old
      // k-row fine-table broadcast + corpus exchange
      val fineArrays = fineGrouped
        .withColumn("__cn", l2Norm(col("centroid")))
        .groupBy(col("coarse"))
        .agg(sort_array(collect_list(
          struct(col("cell"), col("centroid"), col("__cn")))).as("cands"))
      vectors
        .withColumn("coarse",
          graft.functions.VectorFunctions.nearestCell(
            col("embedding"), coarseArr))
        .join(broadcast(fineArrays), Seq("coarse"))
        .select(col("doc_id"), col("embedding"),
          graft.functions.VectorFunctions.nearestCell(
            col("embedding"), col("cands")).as("cell"))
    } else {
      // DISTRIBUTED PATH (past the broadcast cap — ~200k+ cells, the
      // 100 TB-scale corpus shape): the fine table outgrows a single
      // broadcast value, so the levels run as the original fan-out
      // joins with AQE-planned shuffle equi-joins on `coarse`.
      val coarseDf = spark
        .createDataFrame(spark.sparkContext.parallelize(coarseSeeds.toSeq))
        .toDF("coarse", "seed_cell", "centroid")
        .select(col("coarse"), col("seed_cell"),
          col("centroid").cast("array<float>").as("centroid"))
      // group the fine centroids themselves under their coarse seed —
      // but pin each seed's OWN fine cell to its own group: this
      // guarantees every coarse group is non-empty, so the level-2
      // inner join below can never drop a vector (FP rounding could
      // otherwise argmax a seed centroid into a sibling group and
      // leave its group empty)
      val seedOwn = coarseDf.select(col("seed_cell"), col("coarse").as("own"))
      val fineGrouped = argmaxAttach(
        centroids.select(col("cell").as("doc_id"), col("centroid").as("embedding")),
        coarseDf.select(col("coarse"), col("centroid")), "coarse")
        .select(col("doc_id").as("cell"), col("embedding").as("centroid"),
          col("coarse"))
        .join(broadcast(seedOwn), col("cell") === col("seed_cell"), "left")
        .select(col("cell"), col("centroid"),
          coalesce(col("own"), col("coarse")).as("coarse"))
      // level 1: each vector picks its coarse group
      val coarsePick = argmaxAttach(vectors, coarseDf.select(col("coarse"),
        col("centroid")), "coarse")
      // level 2: argmax over ONLY that group's fine centroids
      // (equi-join on the coarse id keeps the scored fan-out at
      // ~k/√k per vector)
      val fineWithNorm = fineGrouped.withColumn("__cn", l2Norm(col("centroid")))
      argmaxScored(
        coarsePick.withColumn("__vn", l2Norm(col("embedding"))).as("v")
          .join(fineWithNorm.as("c"), Seq("coarse"))
          .select(col("v.doc_id").as("doc_id"), col("v.embedding").as("embedding"),
            col("c.cell").as("cell"),
            // rounded like level 1 (argmaxAttach) — both argmax levels
            // must be engine-replayable for E5's oracle; norms per row
            // ([[normScore]]'s bit-parity argument), never per pair
            normScore(col("v.embedding"), col("c.centroid"),
              col("v.__vn"), col("c.__cn")).as("cscore")),
        "cell")
    }
  }

  /** Incrementally append vectors to an EXISTING index: assign them
    * with the persisted centroids (broadcast, two-level — same path
    * as the build) and append to the cell partitions; history is
    * never rewritten (partitioned append creates new files only in
    * the touched cells), and probes see old + new vectors with no
    * index rebuild — the reference's incremental `update_embeddings`
    * contract applied to the index (engine.py:57). Centroids DRIFT as
    * data grows — the standard IVF operational trade: recall per cell
    * stays exact (every appended vector is scanned in its assigned
    * cell); only which cell is "nearest" ages. Rebuild when the
    * appended fraction gets large (the returned stats expose the
    * ratio the caller monitors, like the reference's processed
    * counts). */
  def appendToIvfIndex(spark: SparkSession, path: String,
      vectors: DataFrame): UpdateStats = {
    val t0 = System.nanoTime()
    // materialize ONCE (eager): the stats below must describe the
    // same snapshot the write appended — same consistency contract
    // as updateSince (a live source directory could otherwise gain
    // files between the write and the count/max, and the returned
    // watermark would skip rows forever)
    val snap = vectors.localCheckpoint()
    val head = snap
      .agg(count(lit(1)).as("c"), max(col("doc_id")).as("m")).first()
    val nNew = head.getLong(0)
    val centroids = IndexCatalog.read(spark, path, "centroids")
    // the delta lands as ~⌈|delta|/τ⌉ range-clustered files via an
    // INSERT-ONLY scoped commit: every existing file carries into the
    // new generation by reference — O(delta) total, zero rewrite
    // (engine.py:57's incremental update IS this write path). Eager
    // checkpoint: the assignment feeds THREE appends (cells + both
    // code sidecars) — without it each write re-runs the whole
    // two-level assignment over the delta
    val nFiles = math.max(1L, (nNew + targetCellRows - 1) / targetCellRows)
    // pin the assignment BEFORE the range re-cluster (whose sampling
    // would otherwise evaluate the assignment DAG a second time), and
    // pin the clustered rows for the three appends that consume them
    val assigned = assignCells(snap, centroids)
      .withColumn("gen", lit(1))
      .localCheckpoint()
      .repartitionByRange(nFiles.toInt, col("cell"), col("doc_id"))
      .localCheckpoint()
    // the three substore appends (cells + both code sidecars) are
    // INDEPENDENT commits to disjoint roots off the same pinned
    // assignment — submit them as concurrent jobs (guide §2.6: the
    // scheduler interleaves their small stages across the executors),
    // so this section's wall is max(append) instead of the sum; the
    // catalog publish below is the one sequential point
    import scala.concurrent.{Await, Future}
    import graft.Concurrency.commitEc
    import scala.concurrent.duration.Duration
    val cellsRoot = s"$path/cells"
    val fCells = Future(TableFormat.appendScoped(spark, cellsRoot, assigned,
      TableFormat.genSchema(cellsRoot, TableFormat.currentGen(cellsRoot))))
    // keep the PQ code sidecar append-consistent with the cells: the
    // appended vectors encode against the PERSISTED codebooks
    val fPq = Future(ProductQuantizer.appendPq(spark, assigned, path))
    val fSq = Future(ScalarQuantizer.appendSq8(assigned, path))
    Await.result(fCells, Duration.Inf)
    Await.result(fPq, Duration.Inf)
    Await.result(fSq, Duration.Inf)
    // one atomic pointer swap publishes the consistent post-append
    // quintuple; the pre-append index generation stays readable
    IndexCatalog.publish(path)
    UpdateStats(nNew,
      if (head.isNullAt(1)) -1L else head.getLong(1),
      (System.nanoTime() - t0) / 1e9)
  }

  /** Assignment-rule version tag baked into the on-disk index path: a
    * rule change must never silently probe an index built by an older
    * rule. */
  private val indexRuleVersion = "r18-lloyd1-6dp-gen-pq16x8l1-sq8-vtable"

  /** Build-once location of the persisted IVF index for a data dir.
    * Like the bucketed table layout, the index is STORAGE — paid once
    * at write/ETL time — so queries and benches probe an existing
    * layout instead of timing the build. Location, content-
    * fingerprinted key and _BUILT idempotence all come from
    * [[graft.sources.LayoutStore]] (layouts land beside the data when
    * it is writable; one root to rm to force rebuilds; replaced data
    * rekeys the layout so a stale index is never probed). */
  def ensureIndex(t: Tables): String =
    graft.sources.LayoutStore.ensure(t.dir, "ivf", indexRuleVersion) { path =>
      buildIvfIndex(t.spark,
        t.embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
        path)
    }

  /** D8 — `q_search_ivf`: cosine top-k through the PERSISTED IVF
    * index end-to-end — build (once) → cell-partitioned parquet →
    * probe the 2 nearest refined centroids → exact scoring over ONLY
    * the probed cells, pruned at the file listing (PartitionFilters
    * in the plan). This is the on-disk scale path for the reference's
    * full-store scan (processor.py:436): at 100 TB the probe reads
    * probes/k of the corpus instead of all of it. Deterministic
    * (6dp-rounded Lloyd centroids, 6dp probe ranking, id tie-breaks),
    * so DuckDB replays build + probe as an oracle. */
  def searchIvfQuery(t: Tables): DataFrame =
    searchIvf(t.spark, ensureIndex(t), queryDocId = 0L, k = 10, probes = 2)

  /** The probed-cell choice shared by the exact ([[searchIvf]]) and
    * compressed ([[ProductQuantizer.searchIvfPq]]) probes: top
    * `probes` refined centroids by 6dp-rounded cosine against the
    * query's stored vector, cell-id tie-break. Probe scores round
    * BEFORE the ranking (like every ranked score in the library) so
    * the choice is deterministic across engines and the oracle can
    * replay it. Everything reads at ONE pin. The query's stored
    * vector is the one job: a bounded collect of its row from the
    * files the cells manifest admits (range stats, then the doc_id
    * sketch — both folded on the driver for a small manifest). Every
    * IVF probe scores against it. The ranking ([[rankCells]]) runs
    * no job while the pinned centroids are small enough to sit on the
    * driver ([[IndexCatalog.Pin.smallRows]]), and one bounded TakeOrdered
    * collect otherwise. The returned cell ids are index METADATA;
    * turning them into literals is what lets the file listing prune
    * statically. None when the id is not in the store. */
  private[graft] def probeCellsWithQuery(spark: SparkSession, path: String,
      queryDocId: Long, probes: Int): (Array[Int], Option[Seq[Float]]) =
    probeCellsWithQuery(spark, IndexCatalog.pin(path), queryDocId, probes)

  private[graft] def probeCellsWithQuery(spark: SparkSession,
      pin: IndexCatalog.Pin, queryDocId: Long,
      probes: Int): (Array[Int], Option[Seq[Float]]) = {
    // a doc id is unique in an index: a second row is a corrupt index
    // and fails the bound instead of probing twice
    val q = collectBounded(
      pin.readPruned(spark, "cells", "doc_id", Seq(queryDocId))
        .filter(col("doc_id") === queryDocId)
        .select(col("embedding")),
      1, "query vector")
    q.headOption.fold((Array.empty[Int], Option.empty[Seq[Float]])) { r =>
      val qv = r.getSeq[Float](0)
      val centroids = pin.smallRows(spark, "centroids")
        .getOrElse(pin.read(spark, "centroids"))
      (rankCells(centroids, qv, probes), Some(qv))
    }
  }

  /** The top `probes` cells of a (cell, centroid) frame by
    * round(cosine(centroid, qv), 6) descending, then cell ascending.
    * Over a LocalRelation the projection folds on the driver (same
    * Catalyst expressions, so the same scores) and the order is
    * Spark's, applied in Scala: a Sort over a LocalRelation would
    * still launch a job. Otherwise one bounded TakeOrdered collect. */
  private[graft] def rankCells(centroids: DataFrame, qv: Seq[Float],
      probes: Int): Array[Int] = {
    val qLit = Option(qv).fold(lit(null).cast(ArrayType(FloatType)))(typedLit(_))
    val scored = centroids.select(col("cell"),
      round(cosineSim(col("centroid"), qLit), 6).as("cs"))
    if (centroids.isLocal)
      collectBounded(scored, IndexCatalog.smallRowsCap, "cached centroid scores")
        .sorted(probeOrder).take(probes).map(_.getInt(0))
    else collectBounded(
      scored.orderBy(col("cs").desc, col("cell")).limit(probes),
      probes, "probed cell ids").map(_.getInt(0))
  }

  /** `ORDER BY cs DESC, cell` over (cell, cs) rows with Spark's
    * semantics: a NULL score sorts last (DESC defaults to NULLS
    * LAST), NaN above every number, -0.0 equal to 0.0. */
  private val probeOrder: Ordering[org.apache.spark.sql.Row] = {
    val cs: Ordering[org.apache.spark.sql.Row] = (a, b) =>
      (a.isNullAt(1), b.isNullAt(1)) match {
        case (false, false) => org.apache.spark.sql.catalyst.util
          .SQLOrderingUtil.compareDoubles(b.getDouble(1), a.getDouble(1))
        case (x, y) => java.lang.Boolean.compare(x, y)
      }
    cs.orElseBy(_.getInt(0))
  }

  /** D8/D25/D28's ONE probe skeleton: the partition-pruned scan of
    * the probed cells scored 6dp against the query's stored vector,
    * query doc excluded — (doc_id, cell, score). Each search variant
    * adds only its tail (top-k / θ filter / metadata join), so the
    * exclusion, rounding and probe handling can never diverge. The
    * query vector is the one the probe already collected, scored as
    * ONE literal node (the compressed probes' idiom) — no second
    * point lookup and no broadcast. Probe and scan read at the same
    * pin. An absent query id probes no cells, so the frame is empty
    * with the same schema. */
  private def scoredProbeScan(spark: SparkSession, pin: IndexCatalog.Pin,
      queryDocId: Long, probes: Int): DataFrame = {
    val (probedCells, qFloat) =
      probeCellsWithQuery(spark, pin, queryDocId, probes)
    val qv = qFloat.fold(lit(null).cast(ArrayType(FloatType)))(typedLit(_))
    // the probed scan reads ONLY files whose cell range intersects a
    // probed cell (manifest stats pruning — the versioned-table
    // analogue of the old Hive PartitionFilters); the isin filter is
    // the exact residual on top of the superset the stats admit
    pin.readPruned(spark, "cells", "cell", probedCells.toSeq)
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .filter(col("doc_id") =!= queryDocId)
      .select(col("doc_id"), col("cell"),
        round(cosineSim(col("embedding"), qv), 6).as("score"))
  }

  def searchIvf(spark: SparkSession, path: String, queryDocId: Long,
      k: Int, probes: Int = 2): DataFrame =
    searchIvfAt(spark, IndexCatalog.pin(path), queryDocId, k, probes)

  /** [[searchIvf]] at an already-resolved index generation. */
  private[graft] def searchIvfAt(spark: SparkSession, pin: IndexCatalog.Pin,
      queryDocId: Long, k: Int, probes: Int): DataFrame =
    scoredProbeScan(spark, pin, queryDocId, probes)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** D25 — `q_search_radius`: RADIUS (range) search through the
    * PERSISTED IVF index — every stored vector with cosine ≥ θ of the
    * query, not a fixed top-k. This is the retrieval shape
    * NEAR-DUPLICATE AUDITS actually run (E5/E15 keep candidates by a
    * similarity THRESHOLD, and "show me everything this close to X"
    * is the manual-inspection query behind any dedup decision); the
    * reference's top-k search (processor.py:436) can't express it
    * without guessing k. Same plan skeleton as D8 — probe the
    * nearest `probes` refined centroids, scan ONLY those cells via
    * partition pruning — but the result is θ-selected, so the final
    * operator is a codegen'd filter instead of a TakeOrdered: no
    * global sort bound to k, and at 100 TB the cost is still
    * probes·τ scanned rows ([[targetCellRows]]) regardless of how
    * many neighbors qualify. Radius recall has the same probe
    * contract as top-k recall (a qualifying vector in an unprobed
    * cell is missed — D7 measures exactly that trade), so `probes`
    * is deliberately wider here (4) than D8's 2: a threshold query
    * is usually an audit, where missing a qualifying neighbor costs
    * more than two extra τ-row cells. Scores round to 6dp BEFORE the
    * θ comparison (the library's ranked-score contract), making the
    * boundary engine-exact; ORDER BY (score DESC, doc_id) keeps the
    * output canonical for the oracle hash. */
  def searchRadiusQuery(t: Tables): DataFrame =
    searchIvfRadius(t.spark, ensureIndex(t), queryDocId = 0L,
      minScore = 0.12, probes = 4)

  /** D28 — `q_search_ivf_filtered`: FILTERED vector search through
    * the PERSISTED index — top-k restricted to vectors matching a
    * metadata predicate (here `label = 3`), the query every
    * production vector store serves ("nearest docs IN THIS
    * COLLECTION / with this license / from this source"). The index
    * stores vectors only, so the filter is a doc-keyed join against
    * the metadata table — BOTH sides arrive pruned: the vector side
    * scans probes·τ rows via partition pruning (D8's plan), the
    * metadata side pushes the label predicate into its parquet scan
    * (PushedFilters), and AQE broadcasts whichever survives smaller.
    * Post-filter semantics with WIDER probes (4 vs D8's 2): under a
    * selective filter the k-th match sits deeper in the cell
    * ordering, so a filtered probe widens its candidate pool — the
    * published filtered-ANN trade (a matching vector in an unprobed
    * cell is still missed; D7's recall evaluator prices exactly
    * that). Scores round to 6dp before ranking; (score DESC, doc_id)
    * total order. */
  def searchFilteredIvfQuery(t: Tables): DataFrame =
    searchIvfFiltered(t.spark, ensureIndex(t), t.embeddings,
      queryDocId = 0L, k = 10, probes = 4, label = 3)

  /** Filtered top-k over the persisted index: D8's probe + pruned
    * scan, equi-joined with the label-filtered metadata table before
    * the TakeOrdered. */
  def searchIvfFiltered(spark: SparkSession, path: String,
      embeddings: DataFrame, queryDocId: Long, k: Int, probes: Int,
      label: Int): DataFrame = {
    val meta = embeddings
      .select(col("vec_id").as("doc_id"), col("label"))
      .filter(col("label") === label)
    scoredProbeScan(spark, IndexCatalog.pin(path), queryDocId, probes)
      .join(meta, "doc_id")
      .select(col("doc_id"), col("cell"), col("label"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Range search over the persisted index: D8's probe + pruned scan
    * with the top-k TakeOrdered replaced by a θ filter on the
    * 6dp-rounded score. Emits everything the probed cells hold at or
    * above `minScore`, best-first. */
  def searchIvfRadius(spark: SparkSession, path: String, queryDocId: Long,
      minScore: Double, probes: Int): DataFrame =
    scoredProbeScan(spark, IndexCatalog.pin(path), queryDocId, probes)
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col("doc_id"))

  /** The per-query probe choice for a BATCH of queries, in ONE pass:
    * every centroid × every broadcast query (metadata-scale: k cells
    * × N queries), top `probes` cells per query by 6dp-rounded
    * cosine with the cell tie-break — the [[probeCellsWithQuery]]
    * rule per query. Returns the eagerly-pinned (query_id, cell, qv)
    * probe map (it feeds a metadata collect AND a candidate join in
    * every consumer) — shared by the exact ([[searchIvfBatch]]) and
    * compressed ([[ProductQuantizer.searchIvfPqBatch]]) batch probes
    * so the two can never choose different cells. */
  private[operators] def batchProbeMap(spark: SparkSession,
      pin: IndexCatalog.Pin, queries: DataFrame, probes: Int): DataFrame = {
    val centroids = pin.read(spark, "centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("cell"))
    centroids.join(broadcast(queries))
      .select(col("query_id"), col("cell"), col("qv"),
        round(cosineSim(col("centroid"), col("qv")), 6).as("cs"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= probes)
      .select(col("query_id"), col("cell"), col("qv"))
      .localCheckpoint(true)
  }

  /** The most queries a batch ranks on the driver
    * ([[driverProbeMap]]); a larger batch keeps the distributed
    * [[batchProbeMap]]. Each query's ranking is one driver-side
    * Catalyst fold over the cached centroids, so past a few dozen
    * queries the one distributed pass is cheaper. */
  private[operators] val driverProbeQueries = 64

  /** [[batchProbeMap]] built on the driver, when the pinned centroids
    * sit in [[IndexCatalog.Pin.smallRows]] and the batch holds at most
    * [[driverProbeQueries]] float-vector queries: the queries collect
    * once (bounded), each ranks with [[rankCells]] — the single-query
    * rule itself — and the (query_id, cell, qv) rows come back as a
    * LocalRelation together with the union of their cells. None
    * otherwise. */
  private def driverProbeMap(spark: SparkSession, pin: IndexCatalog.Pin,
      queries: DataFrame, probes: Int): Option[(DataFrame, Array[Int])] = {
    val floatQueries = queries.schema("qv").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    pin.smallRows(spark, "centroids").filter(_ => floatQueries).flatMap { centroids =>
      val qs = queries.select(col("query_id"), col("qv"))
        .limit(driverProbeQueries + 1).collect()
      if (qs.length > driverProbeQueries) None
      else {
        val rows = qs.toSeq.flatMap(q =>
          rankCells(centroids, q.getSeq[Float](1), probes)
            .map(c => Row(q.get(0), c, q.get(1))))
        val schema = StructType(Seq(queries.schema("query_id"),
          StructField("cell", IntegerType, nullable = false), queries.schema("qv")))
        Some((TableFormat.localFrame(spark, rows, schema),
          rows.map(_.getInt(1)).distinct.toArray))
      }
    }
  }

  /** The union of a probe map's cells — ≤ N·probes ints of index
    * metadata, bounded-collected into partition-pruning literals. */
  private[operators] def probedCellsOf(probeMap: DataFrame,
      bound: Long): Array[Int] =
    collectBounded(probeMap.select(col("cell")).distinct(),
      bound, "batched probed cell ids").map(_.getInt(0))

  /** D19 — `q_search_batch`: N ARBITRARY queries through the
    * PERSISTED IVF index in ONE pass — the production batch-serving
    * plan the reference's search entry implies at scale
    * (engine.py:105 serves one query per call; a Spark deployment
    * amortizes the index scan across the whole query batch instead
    * of paying a probe round-trip per query, server.py:203's request
    * loop turned into a single job).
    *
    * Plan: (1) ONE metadata job scores the centroid table against
    * the broadcast query set and keeps the top `probes` cells per
    * query (6dp-rounded cosine, cell tie-break — the
    * [[probeCellsWithQuery]] rule per query) — for a small batch over
    * cached centroids, the driver ranks each query instead
    * ([[driverProbeMap]]: the plan is the one query collect); (2) the ≤ N·probes
    * DISTINCT probed cell ids — index metadata, bounded-collected like
    * every IVF-path collect — become partition-pruning literals, so the
    * cells store is listed and scanned ONCE for the union of all
    * queries' probes; (3) each scanned row scores only against the
    * queries that probed its cell (broadcast equi-join on cell —
    * never a queries × corpus cross product); (4) per-query exact
    * top-k by window rank. The ranked row count is bounded by
    * N · probes · τ ([[targetCellRows]] caps the expected cell size
    * corpus-independently), so the final per-query window ranks a
    * fixed-size candidate set no matter how big the store is.
    *
    * Determinism: probe choice and scores round to 6dp BEFORE
    * ranking, ties break on cell/doc_id — the library's ranked-score
    * contract, so DuckDB replays build + per-query probe + rank
    * exactly. A query whose id exists in the store never matches
    * itself (per-query self-exclusion, D8's rule). */
  def searchIvfBatch(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, probes: Int = 2): DataFrame = {
    val pin = IndexCatalog.pin(path)
    val (probeMap, probedCells) = driverProbeMap(spark, pin, queries, probes)
      .getOrElse {
        val m = batchProbeMap(spark, pin, queries, probes)
        (m, probedCellsOf(m, queries.count() * probes))
      }
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    pin.readPruned(spark, "cells", "cell", probedCells.toSeq)
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .join(broadcast(probeMap), Seq("cell"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("cell"),
        round(cosineSim(col("embedding"), col("qv")), 6).as("score"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The D19 row: D3's 5-query sample (vec_ids 0–4, their vectors
    * read straight from the embeddings table — ARBITRARY inputs as
    * far as the index is concerned) × the persisted ensured index,
    * top-10 each at 2 probes. */
  def searchBatchQuery(t: Tables): DataFrame = {
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    searchIvfBatch(t.spark, ensureIndex(t), queries, k = 10, probes = 2)
  }

  /** D26 — `q_corpus_drift`: the DISTRIBUTION-shift monitor beside
    * D9's volume stats — does the newer half of the corpus land in
    * the quantizer's cells like the older half did? D9's
    * `appended_frac` says how MUCH is new and `pq_distortion` how
    * badly the codebooks fit; this row says whether the new data is
    * DIFFERENT: per cell, the base-vs-delta occupancy shares and
    * their absolute shift, plus the corpus-level total-variation
    * distance ½·Σ|p_i − q_i| — the standard covariate-shift number a
    * daily pipeline alerts on before recall degrades (the quantizer
    * partition doubles as the comparison histogram, so the drift
    * measure is exactly aligned with what the index cares about).
    * Episode convention: base/delta = the id halves (D13/E11's rule),
    * assignment = the E5/D8 shared seeded rule.
    *
    * Scale shape: the assignment is the shared documented path; then
    * ONE map-side-combining (cell × side) count — the ≤k-row cell
    * table is the only thing that shuffles — and all share/TVD
    * arithmetic runs on those ≤k rows with three 1-row broadcasts
    * (mid, totals, TVD sum). Parity: shares are single
    * correctly-rounded divisions of exact longs; the per-cell |Δ|
    * quantizes to integer micro-units BEFORE the TVD sum (F13's
    * technique) so the corpus number is summation-order-exact. */
  def corpusDrift(t: Tables): DataFrame = {
    val assigned = Dedup.assignedCells(t).select(col("vec_id"), col("cell"))
    val mid = t.embeddings
      .agg(floor(count(lit(1)) / 2).cast("long").as("m"))
    val counts = assigned.join(broadcast(mid))
      .groupBy(col("cell"))
      .agg(
        coalesce(sum(when(col("vec_id") < col("m"), 1L)), lit(0L)).as("n_base"),
        coalesce(sum(when(col("vec_id") >= col("m"), 1L)), lit(0L)).as("n_delta"))
    val totals = counts.agg(sum(col("n_base")).as("tb"),
      sum(col("n_delta")).as("td"))
    val sh = counts.join(broadcast(totals))
      .withColumn("sb", col("n_base").cast("double") / col("tb").cast("double"))
      .withColumn("sd", col("n_delta").cast("double") / col("td").cast("double"))
      .withColumn("shift_mu",
        round(abs(col("sb") - col("sd")) * lit(1000000.0), 0).cast("long"))
    val tv = sh.agg(sum(col("shift_mu")).as("s"))
    sh.join(broadcast(tv))
      .select(col("cell"), col("n_base"), col("n_delta"),
        round(col("sb"), 6).as("share_base"),
        round(col("sd"), 6).as("share_delta"),
        col("shift_mu"),
        round(col("s").cast("double") / lit(2000000.0), 6).as("tvd"))
      .orderBy(col("shift_mu").desc, col("cell"))
  }

  /** Rebuild-on-drift — the action D9's numbers call for.
    * [[indexStats]]'s `appended_frac` measures the fraction of the
    * store the centroids have never seen ([[appendToIvfIndex]] keeps
    * recall exact but lets the quantizer age); past `threshold` the
    * index is re-fitted FROM ITS OWN CELLS — seed + one Lloyd pass
    * over the stored vectors, the same corpus-wide passes a fresh
    * build pays — committed as the NEXT GENERATION of every substore
    * and published through one atomic catalog-pointer swap
    * ([[graft.sources.IndexCatalog]]). The old staging-dir +
    * five-rename swap machinery is GONE: a crash mid-rebuild leaves
    * the previous index generation fully live (readers resolve the
    * pointer, which only ever names complete quintuples) plus
    * unreferenced newer substore generations as debris, and the
    * pre-rebuild index still time-travels. Returns whether a rebuild
    * ran. Nothing corpus-shaped touches the driver: the decision
    * reads the 1-row stats, the re-fit is the distributed build
    * path. */
  def rebuildIfDrifted(spark: SparkSession, path: String,
      threshold: Double): Boolean =
    rebuildIfDrifted(spark, path, threshold, Double.MaxValue)

  /** Two drift gates, either trips the re-fit: `threshold` on
    * `appended_frac` (how much of the store the COARSE quantizer has
    * never seen) and `pqDistortionThreshold` on `pq_distortion` (how
    * badly the FIXED codebooks now fit the store — appends encode
    * against build-time codebooks, so a corpus that drifts in
    * distribution degrades compressed-probe ranking even while the
    * appended fraction stays modest). The re-fit rebuilds coarse
    * centroids AND codebooks from the stored cells.
    *
    * SPEC of the infinite gate: `pqDistortionThreshold =
    * Double.MaxValue` means "do not consult distortion AT ALL" — the
    * scored distortion pass is skipped, so a (degenerate, untested-
    * reachable) NaN distortion cannot trip it either; a caller that
    * wants NaN-paranoid distortion semantics passes a finite gate,
    * where `!(dist <= gate)` trips on NaN as before.
    * ProductQuantizerSpec pins both decisions. */
  def rebuildIfDrifted(spark: SparkSession, path: String,
      threshold: Double, pqDistortionThreshold: Double): Boolean = {
    // each gate reads the NARROWEST stats that decide it: the
    // appended fraction is one (count, sum(gen)) aggregate over the
    // cells — the full indexStats row would additionally score every
    // vector against its centroid AND the PQ codebooks (a corpus
    // pass with a per-row argmin), which the daily advance paid on
    // every cycle before deciding anything. The distortion leg only
    // runs when a FINITE distortion gate asks for it (and the
    // fraction gate hasn't already tripped) — same decisions, same
    // 6dp rounding (BigDecimal HALF_UP mirrors Spark's Round), one
    // cheap pass instead of the full scored pass on the common path.
    val h = IndexCatalog.read(spark, path, "cells")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("gen").cast("long")), lit(0L)).as("na")).first()
    val n = h.getLong(0)
    val frac =
      if (n == 0L) Double.NaN
      else java.math.BigDecimal.valueOf(h.getLong(1).toDouble / n.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val tripped =
      if (!(frac <= threshold)) true
      else if (pqDistortionThreshold == Double.MaxValue) false
      else {
        val dist = indexStats(spark, path).first()
          .getAs[Double]("pq_distortion")
        !(dist <= pqDistortionThreshold)
      }
    if (!tripped) false
    else {
      // re-fit FROM THE STORED CELLS: the build commits the next
      // generation of every substore (coarse centroids AND both code
      // sidecars — a re-fit must never leave new cells probing old
      // codes) and publishes ONE new index generation; generations
      // are immutable, so the re-fit reads the old cells while the
      // new ones commit beside them
      buildIvfIndex(spark,
        IndexCatalog.read(spark, path, "cells")
          .select(col("doc_id"), col("embedding")),
        path)
      true
    }
  }

  /** [[rebuildIfDrifted]] over the ensured per-data-dir index. */
  def rebuildIfDrifted(t: Tables, threshold: Double): Boolean =
    rebuildIfDrifted(t.spark, ensureIndex(t), threshold)

  /** D9 — `q_ivf_stats`: the index-health row over the PERSISTED
    * index (built once via [[ensureIndex]], like D8's probe). */
  def indexStatsQuery(t: Tables): DataFrame =
    indexStats(t.spark, ensureIndex(t))

  /** H22 — `q_index_history`: TIME TRAVEL over the WHOLE INDEX
    * through the catalog pointer ([[graft.sources.IndexCatalog]]) —
    * the deliverable that collapses the "two parallel universes":
    * the IVF store now commits through the same table-format core as
    * every H-family table, so a day's advance is a new INDEX
    * GENERATION and the pre-advance index still answers, pinned.
    * Episode: the ensured half-corpus day base (D13's steady state)
    * advances by the upper id half (one scoped append — O(delta),
    * every base file carried by reference); the row reads the cells
    * substore at BOTH index generations and reports per-generation
    * volume, appended mass and an id checksum, plus the published
    * current generation. The oracle replays both states from the
    * corpus halves — the pre-advance leg equals the base corpus only
    * if the advance never touched committed history, so the row
    * itself proves non-destructive index versioning (reference
    * posture: engine.py:163 mutates its store in place and keeps
    * none of this).
    *
    * Scale shape: the advance is the documented delta-proportional
    * append; each leg is one map-side-combining aggregate over a
    * pinned manifest read (same pruning as any read); catalog
    * resolution is one tiny file. */
  def indexHistoryQuery(t: Tables): DataFrame = {
    val spark = t.spark
    val pristine = AdvanceDay.ensureDayBase(t)
    val work = graft.sources.LayoutStore.scratch(t.dir, "ixhist")
    try {
      val path = s"$work/ivf"
      // hard-link clone — the appended generation lands new files only
      graft.sources.LayoutStore.cloneRecursively(
        new java.io.File(pristine, "ivf"), new java.io.File(path))
      val vectors = t.embeddings
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val maxVec = vectors.agg(max(col("doc_id"))).first().getLong(0)
      val genPre = IndexCatalog.currentGen(path)
      appendToIvfIndex(spark, path,
        vectors.filter(col("doc_id") > maxVec / 2))
      val cur = IndexCatalog.currentGen(path)
      def leg(g: Long) =
        IndexCatalog.readAt(spark, path, g, "cells")
          .agg(count(lit(1)).as("n_vectors"),
            coalesce(sum(col("gen").cast("long")), lit(0L))
              .as("n_appended"),
            expr("bit_xor(doc_id)").as("id_xor"))
          .select(lit(g - genPre).as("igen"), col("n_vectors"),
            col("n_appended"), col("id_xor"))
      leg(genPre).unionByName(leg(cur))
        .withColumn("advanced", lit(cur - genPre))
        .orderBy(col("igen"))
        .localCheckpoint(true)
    } finally graft.sources.LayoutStore.deleteRecursively(work)
  }

  /** Index-quality statistics — the numbers the scaladoc advice on
    * [[appendToIvfIndex]] ("rebuild when the appended fraction gets
    * large") and [[buildIvfIndex]] ("another Lloyd pass?") tell an
    * operator to watch, as ONE cheap query (the reference's
    * get_database_stats monitoring shape, engine.py:228, applied to
    * the index):
    *
    *  - `n_vectors`, `n_cells`, `max_cell` — volume and the largest
    *    probe a query can hit;
    *  - `cell_skew` — max/mean cell size: high skew means probe cost
    *    is load-imbalanced and the τ cap is being defeated by drift;
    *  - `appended_frac` — fraction of vectors that arrived through
    *    [[appendToIvfIndex]] since the last build (centroids have
    *    never seen them — the drift proxy);
    *  - `mean_intra_cosine` — mean 6dp cosine of every vector to its
    *    own refined centroid: the quantizer-quality number another
    *    Lloyd iteration should move up, and appends slowly erode.
    *
    * One scan of the cells plus a broadcast of the centroid table;
    * both aggregations combine map-side, nothing lands on the driver
    * but the single stats row. Parity: the mean is assembled from
    * integer micro-units of the 6dp-rounded per-vector cosines (sum
    * order cannot perturb it — the mixTemperature technique), and
    * skew/fractions divide exact integers in one fixed association,
    * so DuckDB replays the row bit-for-bit. */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val pin = IndexCatalog.pin(path)
    val cells = pin.read(spark, "cells")
    val centroids = pin.read(spark, "centroids")
    val perCell = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"),
        max(col("n")).as("max_cell"))
    val perVec = cells.join(broadcast(centroids), "cell")
      .select(col("gen"),
        round(cosineSim(col("embedding"), col("centroid")), 6).as("cs"),
        // PQ quantization error per vector, micro-units (codegen'd
        // argmin against the broadcast codebook literal — rides the
        // SAME scan, no extra pass)
        ProductQuantizer.distortionMicro(spark, pin).as("d_mu"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(round(col("cs") * 1000000).cast("long")).as("s_micro"),
        sum(col("d_mu")).as("d_sum"),
        sum(col("gen").cast("long")).as("n_appended"))
    perVec.crossJoin(perCell).select(
      col("n_vectors"), col("n_cells"), col("max_cell"),
      round(col("max_cell").cast("double") * col("n_cells").cast("double") /
        col("n_vectors").cast("double"), 6).as("cell_skew"),
      round(col("n_appended").cast("double") /
        col("n_vectors").cast("double"), 6).as("appended_frac"),
      round(col("s_micro").cast("double") / col("n_vectors").cast("double") /
        lit(1000000.0), 6).as("mean_intra_cosine"),
      // mean per-vector PQ error in original float² units — the
      // CODEBOOK-aging measure (appends encode against fixed
      // codebooks, so this drifts up as the corpus outgrows them;
      // the companion drift gate to appended_frac)
      round(col("d_sum").cast("double") / col("n_vectors").cast("double") /
        lit(1000000.0), 6).as("pq_distortion"))
  }
}
