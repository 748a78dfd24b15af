package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.words
import graft.operators.{EmbeddingStore, TextAnalysis}

/** H1 — `q_export_manifest`: the pipeline's SINK — materialize the
  * curated corpus (F9's kept documents) as split/source-partitioned
  * parquet, then report the manifest a downstream training job (or a
  * data card) consumes: per partition, document count, token volume
  * and an order-insensitive id checksum.
  *
  * The manifest aggregates the READ-BACK files, not the pre-write
  * frame — the row fails if the write half-runs, drops rows, or
  * mangles the partition columns (the advance-day read-back
  * discipline applied to the export sink), and recomputing
  * `n_tokens` from the read-back text proves the text column
  * round-trips byte-exact through the partitioned layout.
  *
  * Scale shape: the write is Spark's standard partitioned-parquet
  * sink (one shuffle-free pass over the kept frame; at 100 TB the
  * partition columns bound file counts to splits × sources ×
  * tasks); the manifest is a map-side-combining aggregate over the
  * same data. The id checksum is `bit_xor` — order-insensitive and
  * overflow-free, so it replays identically in DuckDB with no
  * collect_list anywhere (a sorted-concat hash would serialize each
  * partition's ids through one reducer). The temp store deletes
  * after the 1-row-per-partition manifest pins (searchRefreshQuery's
  * cleanup discipline).
  *
  * (Reference posture: the reference persists its curated artifact —
  * the embedding store — and serves stats about it, engine.py:228;
  * this is the batch-corpus equivalent of that persist-then-report
  * cycle.)
  */
object Export {

  /** Number of actual export runs in this JVM — observability hook so
    * the TVF memoization contract (at-most-once per session/dir/data)
    * is testable, not just asserted. */
  private[graft] val runs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Session conf bounding files per export partition dir. The hash
    * distribution below serializes each (split, source)/(phase, shard)
    * dir into ONE write task — the right small-files bound at bench
    * SF, but at 100 TB one reducer then owns a whole output dir. A
    * deployment sets this to k > 1 and the distribution gains a
    * deterministic `pmod(doc_id, k)` salt: ≤ k files per dir, k-way
    * write parallelism per dir (Iceberg's fanout-with-target-file-size
    * posture). Default 1 = the unsalted local shape, so the bench
    * stays comparable; ExportSpec proves the salted layout keeps the
    * manifest byte-identical. */
  private[graft] val saltKey = "graft.export.saltFiles"

  /** Hash-distribute `df` on the partition keys, salted k ways when
    * [[saltKey]] asks (guide §2.5: the salt is derived from doc_id —
    * deterministic under task retry, never rand()). */
  private def distributeByKeys(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val k = df.sparkSession.conf.getOption(saltKey).map(_.toInt).getOrElse(1)
    if (k <= 1) df.repartition(keys: _*)
    else df.repartition((keys :+ pmod(col("doc_id"), lit(k.toLong))): _*)
  }

  /** A read-back manifest of at most `bound` rows (its keys fix the
    * bound by construction), materialized before its scratch store is
    * deleted: collected in `keys` order — one task sorts the few
    * aggregated rows, where a global sort adds a sampling job and an
    * exchange — and returned as a LocalRelation, so its consumer runs
    * no job and there is no pinned block to lose. */
  private def manifestRows(df: DataFrame, bound: Long,
      keys: Column*): DataFrame =
    TableFormat.localFrame(df.sparkSession,
      EmbeddingStore.collectBounded(df.coalesce(1).sortWithinPartitions(keys: _*),
        bound, "export manifest rows").toSeq, df.schema)

  /** Precondition (standard for any Hive-style partitioned sink):
    * the partition keys are non-null, non-empty strings — a null or
    * '' source would write as `__HIVE_DEFAULT_PARTITION__` and read
    * back as NULL, a rename no manifest can undo. The corpus schema
    * guarantees it here; a production export validates first. */
  def exportManifest(t: Tables): DataFrame = {
    val spark = t.spark
    // cluster-shared scratch (NOT java.io.tmpdir): executors write the
    // partitioned store and the manifest reads it back, so the path
    // must resolve on every node — LayoutStore.scratch routes it
    // through the same root as the durable layouts
    val dir = LayoutStore.scratch(t.dir, "export").toPath
    runs.incrementAndGet()
    try {
      val out = s"$dir/corpus"
      TextAnalysis.pipelineKeptText(t)
        .select(col("doc_id"), col("text"), col("split"), col("source"))
        // hash-distribute on the partition keys before the fan-out
        // (Iceberg write.distribution-mode=hash; guide §6): without
        // it every write task opens a file in every (split, source)
        // dir it sees — tasks × dirs small files whose open/commit
        // overhead the read-back then pays per file. One small
        // shuffle of the kept rows bounds the store at ~one file per
        // partition dir (× the [[saltKey]] salt at scale). Row
        // content is unchanged — the manifest is layout-invariant by
        // construction.
        .transform(distributeByKeys(_, col("split"), col("source")))
        .write.partitionBy("split", "source").parquet(out)
      // EXPLICIT read schema: pins the partition columns to STRING
      // (default partition-type inference would corrupt a numeric-
      // looking source like "007" → 7) and keeps the all-filtered
      // edge case well-defined (a zero-file store reads as an empty
      // frame instead of failing schema inference)
      val manifest = spark.read
        .schema("doc_id LONG, text STRING, split STRING, source STRING")
        .parquet(out)
        .select(col("split"), col("source"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy(col("split"), col("source"))
        .localCheckpoint(true)
      manifest
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H2's shard fan-out. Fixed and small on purpose: a training
    * loader reads shards round-robin, so the count is a LOADER
    * contract (ranks × workers), not a data-derived number — 8 here
    * stands in for the loader's world size. */
  val exportShardCount = 8

  /** H2 — `q_export_shards`: the LOADER-facing sink beside H1's
    * catalog-facing one — materialize the curated corpus as a fixed
    * number of id-sharded files per split (shard = doc_id mod
    * [[exportShardCount]], the standard shuffle-sharding rule: docs
    * land in shards independent of crawl order, so every shard is an
    * unbiased sample and a loader can stream any subset), then
    * report the per-(split, shard) manifest — doc count, token
    * volume, id checksum — the numbers a distributed training job
    * checks before an epoch (shard balance IS the load balance of
    * the training ranks).
    *
    * Same read-back discipline as H1: the manifest aggregates the
    * re-read files, so a half-run write, dropped rows or mangled
    * partition columns fail the row; same scale shape (shuffle-free
    * partitioned write, map-side-combining manifest, `bit_xor`
    * checksum — no collect_list, no single-reducer sort); same
    * cluster-shared scratch root. */
  def exportShards(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "export_shards").toPath
    try {
      val out = s"$dir/shards"
      TextAnalysis.pipelineKeptText(t)
        .select(col("doc_id"), col("text"), col("source"), col("split"),
          pmod(col("doc_id"), lit(exportShardCount.toLong)).as("shard"))
        // hash-distribute on the partition keys (H1's rationale) —
        // the shard fan-out otherwise lands tasks × 16 dirs of
        // small files
        .transform(distributeByKeys(_, col("split"), col("shard")))
        .write.partitionBy("split", "shard").parquet(out)
      manifestRows(spark.read
        .schema("doc_id LONG, text STRING, source STRING, split STRING, shard LONG")
        .parquet(out)
        .select(col("split"), col("shard"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"))
        .groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor")),
        2L * exportShardCount, col("split"), col("shard"))
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H5's compaction target file size. Small on purpose at test SF so
    * the row exercises a real many-to-fewer compaction (the sf0.01
    * corpus is ~hundreds of KB); a production run sets the parquet
    * sweet spot (128 MB – 1 GB). */
  private[graft] val compactTargetBytes = 64L * 1024

  /** The compaction core (testable): rewrite the parquet store at
    * `in` as max(1, ceil(bytes/target)) files at `out`, returning
    * (filesBefore, filesAfter, bytes). File count derives from the
    * store's ACTUAL on-disk bytes (post-encoding — the number a
    * table-maintenance service reads from the file listing), and the
    * rewrite is one round-robin repartition: uniform row spread with
    * NO shuffle key to skew, the standard bin-pack for uniformly
    * sized rows. */
  private[graft] def compactStore(spark: org.apache.spark.sql.SparkSession,
      schema: String, in: String, out: String,
      target: Long = compactTargetBytes): (Long, Long, Long) = {
    def parquetFiles(p: String): Array[java.io.File] =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles(in)
    val bytes = before.map(_.length()).sum
    val nFiles = math.max(1L, (bytes + target - 1) / target).toInt
    spark.read.schema(schema).parquet(in)
      .repartition(nFiles)
      .write.parquet(out)
    (before.length.toLong, parquetFiles(out).length.toLong, bytes)
  }

  /** H5 — `q_compact_shards`: the table-MAINTENANCE sink — compact a
    * small-files store into target-size files and prove the rewrite
    * lossless. Every long-lived 100-TB table accretes the small-files
    * pathology (streaming micro-batches, high-parallelism writers,
    * partition fan-out: one file per task per trigger), and scan cost
    * then goes per-FILE — footer reads, open/seek overhead, scheduler
    * pressure — not per-byte; periodic compaction (Delta OPTIMIZE,
    * Iceberg rewrite_data_files) is the standing fix. Here the
    * pathology is manufactured (the corpus written 64-ways — one
    * file per task), the store re-lands at
    * max(1, ceil(bytes/[[compactTargetBytes]])) files via one
    * round-robin repartition sized from the ACTUAL fragmented bytes,
    * and the row emits the per-source manifest of the COMPACTED
    * read-back — docs, tokens, id checksum (H1's discipline). The
    * oracle computes the same manifest from the ORIGINAL table, so a
    * compaction that drops, duplicates or mangles one row fails the
    * gate; ExportSpec pins the file counts themselves (before = the
    * writer's task count, after = the size-derived target) since
    * file counts are filesystem facts no SQL oracle can see.
    *
    * Scale shape: listing + size math is O(files) driver metadata
    * (what a maintenance service does); the rewrite is one pass, one
    * round-robin exchange, no key to skew; the manifest is a
    * map-side-combining agg. At 100 TB the same rewrite runs
    * per-partition (compact WITHIN each day/source partition — the
    * listing bound stays per-partition), which is composition, not a
    * different operator. */
  def compactShards(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "compact").toPath
    try {
      val frag = s"$dir/fragmented"
      val out = s"$dir/compacted"
      val schema = "doc_id LONG, text STRING, source STRING"
      t.documents.select(col("doc_id"), col("text"), col("source"))
        .repartition(64, col("doc_id"))
        .write.parquet(frag)
      compactStore(spark, schema, frag, out)
      spark.read.schema(schema).parquet(out)
        .select(col("source"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy(col("source"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H3 — `q_export_curriculum`: the CURRICULUM-ordered training
    * sink — materialize the kept TRAIN split phase-partitioned by
    * per-source quality tercile (F26's calibrated buckets: phase 1 =
    * tail, 2 = middle, 3 = head, so a loader streaming phases in
    * order ANNEALS toward the highest-quality slice last — the
    * published end-of-training quality-upsample schedule), id-
    * sharded inside each phase under H2's loader contract, and
    * report the per-(phase, shard) manifest: doc count, token
    * volume, id checksum, and the phase's mean quality — the
    * schedule table a training job reads to plan its data ordering,
    * and the monotone-quality check that proves the phases are what
    * the curriculum claims.
    *
    * Composition discipline: phases come from the F26 operator
    * CALLED (per-source calibration means every phase mixes sources
    * near-uniformly by construction — a corpus-wide cut would front-
    * load whole low-scoring sources); kept/split are the family's
    * ONE pipeline rule; same read-back manifest discipline as H1/H2
    * (a half-run write fails the row; avg_quality recomputes the
    * QUALITY EXPRESSION from the read-back text, a stronger
    * round-trip proof than token counts alone). Mean quality sums
    * integer micro-units (F16's technique) and divides ONCE, 6dp —
    * engine-exact. Same cluster-shared scratch root. */
  def exportCurriculum(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "export_curriculum").toPath
    try {
      val out = s"$dir/phases"
      val phase = when(col("bucket") === "head", 3)
        .when(col("bucket") === "middle", 2).otherwise(1)
      // ONE quality-scored corpus pass feeds BOTH consumers (guide §2
      // — remove repeated scans): the F26 bucket calibration and the
      // pipeline's quality gate previously each re-scored the corpus
      // (3 tokenize/regex passes per doc each); the pinned frame is
      // 3 narrow columns. Same F2 expression, same values — the
      // read-back avg_quality still re-derives quality from the
      // written text, so the round-trip proof is untouched.
      val scored = t.documents
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityExpr.as("quality"))
        .localCheckpoint()
      // the bucket rows carry the quality the first gate reads, so
      // they attach in the gates' own doc-keyed pass: no bucket join
      val buckets = TextAnalysis.qualityBucketsFrom(scored)
        .select(col("doc_id"), col("quality"), col("bucket"))
      TextAnalysis.pipelineKeptFrom(
          t.documents.select(col("doc_id"), col("source"), col("text")), buckets)
        .filter(col("split") === "train")
        .select(col("doc_id"), col("text"), phase.as("phase"),
          pmod(col("doc_id"), lit(exportShardCount.toLong)).as("shard"))
        // hash-distribute on the partition keys (H1's rationale)
        .transform(distributeByKeys(_, col("phase"), col("shard")))
        .write.partitionBy("phase", "shard").parquet(out)
      manifestRows(spark.read
        .schema("doc_id LONG, text STRING, phase INT, shard LONG")
        .parquet(out)
        .select(col("phase"), col("shard"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"),
          round(TextAnalysis.qualityExpr * 1e6, 0).cast(LongType).as("q_u"))
        .groupBy(col("phase"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor"),
          sum(col("q_u")).as("q_sum"))
        .select(col("phase"), col("shard"), col("n_docs"), col("n_tokens"),
          col("id_xor"),
          round(col("q_sum").cast("double")
            / (col("n_docs") * lit(1000000L)).cast("double"), 6)
            .as("avg_quality")),
        3L * exportShardCount, col("phase"), col("shard"))
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H4 — `q_export_jsonl`: the INTERCHANGE sink — materialize the
    * kept corpus as split-partitioned JSON-LINES text (the format
    * data pipelines actually exchange: one `{"doc_id":…,"source":…,
    * "text":…}` object per line), then report the per-split manifest
    * from a full PARSE of the read-back lines. Where H1/H2 prove the
    * parquet layout round-trips, this row proves the JSON ESCAPING
    * does: `n_tokens` recomputes from the from_json-decoded text, so
    * a quote, backslash, newline or non-ASCII char that broke the
    * framing or escaping would change the token volume or the id
    * checksum and fail the oracle. A malformed line parses to a NULL
    * struct and poisons the checksum — half-run or corrupt exports
    * cannot pass.
    *
    * Scale shape: identical to H1 — shuffle-free partitioned text
    * write, map-side-combining manifest over the parsed read-back,
    * bit_xor checksum; to_json/from_json are codegen'd row-local
    * expressions. */
  def exportJsonl(t: Tables): DataFrame = {
    val dir = LayoutStore.scratch(t.dir, "export_jsonl").toPath
    try {
      val docs = TextAnalysis.pipelineKeptText(t)
        .select(col("doc_id"), col("source"), col("text"), col("split"))
      manifestRows(jsonlRoundTrip(docs, s"$dir/jsonl")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(words(col("text"))).cast(LongType)).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor")),
        2L, col("split"))
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H8 — `q_merge_upsert`: the MERGE/UPSERT table-maintenance
    * fundamental (Delta `MERGE INTO` / Iceberg `MERGE` — the single
    * most common mutation a warehouse table takes): yesterday's
    * persisted orders table absorbs today's changes — UPDATES
    * (matched keys replace their row) and INSERTS (new keys append)
    * in one operation. The episode: state = the lower orderkey half
    * persisted to scratch; delta = the upper half (inserts) plus a
    * deterministic update slice (lower-half keys ≡ 0 mod 10, status
    * rewritten to 'X'); merge = latest-wins per key; the output
    * manifest aggregates the READ-BACK merged table (per status:
    * count, decimal total, bit_xor key checksum, plus the episode's
    * n_updated/n_inserted — every number a pure corpus function, so
    * DuckDB reconstructs the merged table and must agree).
    *
    * Scale shape: the merge is the standard anti-join + union
    * implementation (state rows whose key has NO delta row survive;
    * all delta rows land) — ONE shuffle on the key, no window, no
    * global sort; the rewrite is one partitioned-write pass. At
    * 100 TB a table format scopes the rewrite to the partitions the
    * delta touches (partition-pruned anti join — composition, not a
    * different operator) and commits via its transaction log; the
    * read-back manifest is this episode's stand-in for that commit
    * proof. */
  /** The H8/H9 shared mutation-episode inputs: yesterday's state cut
    * (lower orderkey half), today's UPDATE slice (lower-half keys ≡ 0
    * mod 10, status rewritten to 'X') and INSERT slice (the upper
    * half) — ONE rule both mutation rows and both their oracles
    * replay. */
  private[sources] def mutationEpisode(t: Tables): (DataFrame, DataFrame, DataFrame) = {
    val maxKey = t.orders.agg(max(col("o_orderkey"))).first().getLong(0)
    val split = maxKey / 2
    val state = t.orders.filter(col("o_orderkey") <= split)
    val updates = t.orders
      .filter(col("o_orderkey") <= split &&
        pmod(col("o_orderkey"), lit(10L)) === 0L)
      .withColumn("o_orderstatus", lit("X"))
    val inserts = t.orders.filter(col("o_orderkey") > split)
    (state, updates, inserts)
  }

  def mergeUpsert(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "merge").toPath
    try {
      val (stateDf, updates, inserts) = mutationEpisode(t)
      val state = s"$dir/state"
      stateDf.write.parquet(state)
      val delta = updates.unionByName(inserts)
      val nUpdated = updates.count()
      val nInserted = inserts.count()
      val merged = mergeLatest(spark.read.parquet(state), delta, "o_orderkey")
      val out = s"$dir/merged"
      merged.write.parquet(out)
      spark.read.parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
          expr("bit_xor(o_orderkey)").as("key_xor"))
        .select(col("o_orderstatus"), col("n_orders"), col("total"),
          col("key_xor"),
          lit(nUpdated).as("n_updated"), lit(nInserted).as("n_inserted"))
        .orderBy(col("o_orderstatus"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H9 — `q_scd2`: the HISTORY-PRESERVING merge (slowly-changing
    * dimension type 2 — the other standard warehouse mutation beside
    * H8's overwrite): instead of replacing a matched row, the old
    * version CLOSES (valid_to stamps) and the new version appends as
    * current — point-in-time queries ("what was this customer's
    * segment when the order shipped") read the closed versions, and
    * B7's as-of join is exactly the consumer. Same episode inputs as
    * H8 (state = lower orderkey half at version 0; day-1 delta =
    * status-X updates on keys ≡ 0 mod 10 + upper-half inserts);
    * output manifest = per (o_orderstatus, is_current) count +
    * decimal total + key checksum from the READ-BACK table, plus the
    * version counters — all pure corpus functions the oracle
    * reconstructs.
    *
    * Scale shape: three key-partitioned legs off ONE shuffle pair —
    * closed = state semi delta-keys (valid_to stamped), survivors =
    * state anti delta-keys, arrivals = delta (valid_from stamped) —
    * then one partitioned write + the read-back manifest aggregate.
    * History is APPEND-ONLY: no version is ever rewritten, which is
    * what makes the pattern safe under retries and cheap under a
    * table format's commit log. */
  def scd2(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "scd2").toPath
    try {
      val (stateDf, updates, inserts) = mutationEpisode(t)
      val statePath = s"$dir/state"
      stateDf
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast(LongType))
        .write.parquet(statePath)
      val delta = updates.unionByName(inserts)
        .withColumn("valid_from", lit(1L))
        .withColumn("valid_to", lit(null).cast(LongType))
      val out = s"$dir/scd2"
      scd2Apply(spark.read.parquet(statePath), delta, "o_orderkey",
        closeAt = 1L)
        .write.parquet(out)
      spark.read.parquet(out)
        .groupBy(col("o_orderstatus"), col("valid_to").isNull.as("is_current"))
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
          expr("bit_xor(o_orderkey)").as("key_xor"))
        .orderBy(col("o_orderstatus"), col("is_current"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** The SCD-2 core — history-preserving merge of `delta` (already
    * stamped with its valid_from and open valid_to) into `state` on
    * `key`: matched versions CLOSE at `closeAt`, unmatched survive
    * untouched, every delta row appends as current. Three legs off
    * one shuffle pair; append-only (no version rewritten). Spec
    * proves the point-in-time contract a B7-style as-of consumer
    * relies on. */
  private[graft] def scd2Apply(state: DataFrame, delta: DataFrame,
      key: String, closeAt: Long): DataFrame = {
    val dk = delta.select(col(key).as("__dk"))
    val closed = state
      .join(dk, col(key) === col("__dk"), "left_semi")
      .withColumn("valid_to", lit(closeAt))
    val survivors = state
      .join(dk, col(key) === col("__dk"), "left_anti")
    closed.unionByName(survivors).unionByName(delta)
  }

  /** H10 — `q_purge`: TARGETED DELETION from a persisted store — the
    * takedown / right-to-be-forgotten operation every training-data
    * pipeline must execute on demand (copyright claims, PII
    * complaints, license revocations arrive as id lists, and "we
    * deleted it" needs PROOF, not a best effort). Episode: the
    * corpus persists source-partitioned; the takedown list =
    * doc_id ≡ 0 (mod 97) — deterministic, source-crossing; the purge
    * rewrites the store WITHOUT the listed ids; the output manifest
    * aggregates the READ-BACK purged store per source (count, token
    * volume, id checksum) plus `n_purged` and `residual` — the
    * engine's own read-back count of surviving listed ids, compared
    * against the oracle's literal 0: a purge that leaves one listed
    * row fails the gate from inside the row.
    *
    * Scale shape: the delete is one anti-join rewrite (the id list
    * broadcasts — takedown lists are human-scale); at 100 TB a table
    * format scopes the rewrite to the FILES whose min/max id ranges
    * intersect the list (file-skipping on the sorted id column —
    * composition with H6's stats pruning) and commits a delete
    * vector or rewritten files via its log; the read-back residual
    * check is the audit a compliance process runs either way. */
  def purge(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "purge").toPath
    try {
      val store = s"$dir/store"
      t.documents.write.partitionBy("source").parquet(store)
      // EXPLICIT read schema on every read-back (exportManifest's
      // rule): partition-type inference would corrupt a numeric-
      // looking source ("007" → 7) and a FULLY-purged store must
      // read as an empty frame, not a schema-inference failure
      def readBack(p: String) = spark.read.schema(Tables.docSchema).parquet(p)
      val listed = col("doc_id") % 97 === 0
      val takedown = readBack(store).filter(listed)
        .select(col("doc_id"))
      val nPurged = takedown.count()
      val out = s"$dir/purged"
      readBack(store)
        .join(broadcast(takedown.select(col("doc_id").as("__td"))),
          col("doc_id") === col("__td"), "left_anti")
        .write.partitionBy("source").parquet(out)
      val back = readBack(out)
      // deletion completeness, from the read-back bytes
      val residual = back.filter(listed).count()
      back
        .select(col("source"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("id_xor"),
          lit(nPurged).as("n_purged"), lit(residual).as("residual"))
        .orderBy(col("source"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H11 — `q_schema_evolve`: ADDITIVE SCHEMA EVOLUTION across a
    * store's lifetime — the reality of any long-lived corpus (day-1
    * files predate the `lang` and `n_chars` columns; day-2 files
    * carry them): one read must serve both generations, old rows
    * surfacing the new columns as NULL. Episode: the lower doc_id
    * half persists with the ORIGINAL 3-column schema, the upper half
    * with the full 5-column schema; the read uses parquet
    * `mergeSchema` (the schema union is computed from file footers);
    * the manifest proves the semantics — per source: total rows, rows
    * where the late column is NULL (exactly the day-1 generation),
    * the non-null n_chars volume (exactly the day-2 totals), and the
    * id checksum over BOTH generations.
    *
    * Scale shape: mergeSchema costs a footer read per file at plan
    * time — fine for a bounded store, a reason table formats track
    * the schema in their log instead (the engine note a 100 TB
    * deployment acts on); the data pass itself is one scan + one
    * map-side-combining aggregate, NULL backfill is free (absent
    * columns never materialize). */
  def schemaEvolve(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "evolve").toPath
    try {
      val store = s"$dir/store"
      val split = t.documents.agg(max(col("doc_id"))).first().getLong(0) / 2
      t.documents.filter(col("doc_id") <= split)
        .select(col("doc_id"), col("text"), col("source"))
        .write.parquet(store)
      t.documents.filter(col("doc_id") > split)
        .write.mode("append").parquet(store)
      spark.read.option("mergeSchema", "true").parquet(store)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_legacy"),
          coalesce(sum(col("n_chars")), lit(0L)).as("evolved_chars"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy(col("source"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** The MERGE core — latest-wins upsert of `delta` into `state` on
    * `key`: survivors = state rows whose key has no delta row
    * (anti join), plus every delta row. One shuffle on the key,
    * no window, no sort; idempotent (re-merging the same delta is a
    * no-op) because the anti join removes exactly what the union
    * re-adds. Preconditions a table format would enforce: both
    * sides key-unique. */
  private[graft] def mergeLatest(state: DataFrame, delta: DataFrame,
      key: String): DataFrame =
    state
      .join(delta.select(col(key).as("__dk")),
        col(key) === col("__dk"), "left_anti")
      .unionByName(delta)

  /** The JSONL write → parse-back core (testable against planted
    * escaping pathologies): writes one JSON object per line,
    * partitioned by `split`, and returns the PARSED read-back frame
    * (split, doc_id, source, text). `split` values are 'train'/'test'
    * by the F5 rule, so partition-type inference cannot corrupt them
    * (H1's numeric-source hazard does not arise). */
  private[graft] def jsonlRoundTrip(docs: DataFrame, out: String): DataFrame = {
    val spark = docs.sparkSession
    docs
      .select(to_json(struct(col("doc_id"), col("source"), col("text")))
        .as("value"), col("split"))
      .write.partitionBy("split").text(out)
    spark.read.text(out)
      .withColumn("j", from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, source STRING, text STRING")))
      .select(col("split").cast("string").as("split"),
        col("j.doc_id").as("doc_id"), col("j.source").as("source"),
        col("j.text").as("text"))
  }
}
