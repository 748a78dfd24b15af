package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructType}

import graft.functions.TextFunctions.words

/** The table-format READ half of the H8–H11 mutation story: the
  * mutations write new GENERATIONS; these operators read them —
  * pinned to a past generation (H12 time travel), through a
  * delete-vector sidecar instead of a rewrite (H13 merge-on-read),
  * and as the per-key change set between two generations (H14 CDC).
  * Together they are the minimal from-scratch core of what Delta /
  * Iceberg / Hudi call snapshots, deletion vectors and change data
  * feeds — every writer commits through one protocol (data staged at
  * a unique name, then one commit-marker CAS; a reader never sees a
  * missing or half-written table).
  *
  * (Reference posture: the reference mutates its embedding store in
  * place and keeps no history, engine.py:163 `update_embeddings`;
  * a 100 TB corpus under compliance rules cannot — every consumer
  * of H8's merged table needs "as of" reads, cheap deletes and an
  * incremental diff, which is exactly these three rows.)
  */
object TableFormat {

  // ---------------------------------------------------------------
  // Versioned-table core: immutable gen dirs + ONE commit protocol
  //
  // A generation is committed by CREATING the file `commit_<g>`
  // exclusively ([[Markers]]; its content names the generation's data
  // dir). File creation is the filesystem's one true compare-and-swap:
  // exactly one writer can ever own a generation id, so there is NO
  // lock, NO lease, NO heal machinery and NO check-to-move window —
  // the round-16 lease design documented a residual race after a
  // heal; this protocol has no interleaving that can double-commit,
  // because the atomic winner-picker IS the commit point. Data dirs
  // are written complete (at token-unique names, so racers never
  // collide) BEFORE the marker lands; a crash before the marker leaves
  // only an unreferenced dir that sweeps as aged debris. This is
  // Delta's protocol shape: data files first at unique names, then
  // the exclusive log-entry write decides the winner.
  // ---------------------------------------------------------------

  /** The committed data dir for generation `gen`, resolved through
    * its commit marker. */
  private[graft] def resolveDir(root: String, gen: Long): String =
    s"$root/${Markers.table.read(root, gen)}"

  /** The committed generation id — the highest commit marker. */
  private[graft] def currentGen(root: String): Long =
    currentGenOption(root).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed generation under $root"))

  private[graft] def currentGenOption(root: String): Option[Long] =
    Markers.table.current(root)

  /** THE commit protocol — every writer of a versioned table goes
    * through it. `stage` writes the generation's data (and, for a
    * manifested table, its `_manifest`) into a token-unique dir; the
    * protocol records `schema` (`_schema.json`) and the carried-forward
    * `_txn` records beside it, then claims marker `expected + 1` (0 for
    * a table's first commit) with the one CAS. `expected` is the
    * generation the change was DERIVED against, never an id to write.
    * Returns the committed generation, or None when another writer
    * committed first: the staged dir is deleted, nothing durable
    * remains, and the caller re-derives against the new current
    * generation — the data work is the retry cost, never a corrupted
    * table. A writer that stalls arbitrarily long simply finds its CAS
    * failing; a crashed one leaves only an unreferenced dir that
    * [[vacuumTable]] sweeps by age. */
  private[graft] def tryCommit(root: String, expected: Option[Long],
      schema: StructType, txn: Option[(String, Long)] = None)(
      stage: String => Unit): Option[Long] = {
    // cheap staleness pre-check: saves the data write when the table
    // has visibly moved on (the marker CAS below is the real gate)
    if (currentGenOption(root) != expected) return None
    val g = expected.fold(0L)(_ + 1)
    val dirName = s"gen_${g}_${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = s"$root/$dirName"
    stage(dir)
    Files.writeString(schemaPath(dir), schema.json)
    // idempotent-writer records commit ATOMICALLY with the data
    // (inside the dir the marker publishes) — no window where a batch
    // landed but its dedup record didn't. EVERY commit carries the
    // known records forward (Delta checkpoints retain txn actions for
    // the same reason): a maintenance commit between two stream
    // batches, followed by an aggressive vacuum, must never strand the
    // stream's lineage behind the retention horizon
    val txns = txnTable(root) ++ txn
    if (txns.nonEmpty)
      Files.writeString(txnFile(dir),
        txns.toSeq.sorted.map { case (id, v) => s"$id:$v" }.mkString("\n"))
    if (Markers.table.publish(root, g, dirName)) Some(g)
    else {
      LayoutStore.deleteRecursively(new java.io.File(dir))
      None
    }
  }

  /** The single-writer form of [[tryCommit]] (episodes, bootstraps,
    * index builds, maintenance): derive against the current
    * generation and fail loudly if a concurrent writer wins. */
  private def commit(root: String, schema: StructType,
      txn: Option[(String, Long)] = None)(stage: String => Unit): Long =
    tryCommit(root, currentGenOption(root), schema, txn)(stage)
      .getOrElse(throw new IllegalStateException(
        s"commit raced a concurrent writer on $root"))

  /** Commit `df` as the next generation of an unmanifested table and
    * return that generation. Superseded generations are NOT
    * garbage-collected here: retaining them is the whole point (time
    * travel); a deployment vacuums by retention policy
    * ([[vacuumTable]]), exactly like a table format. */
  private[graft] def commitGen(df: DataFrame, root: String,
      txn: Option[(String, Long)] = None): Long =
    commit(root, df.schema, txn)(dir => df.write.parquet(dir))

  /** Read exactly `files` with `schema`, planned from the lengths the
    * manifest cache holds (no listing, no job); an empty list (an
    * all-rows-deleted generation, a fully pruned probe) reads as an
    * empty frame. */
  private[graft] def readFiles(spark: SparkSession, schema: StructType,
      files: Seq[DataFile]): DataFrame =
    FileStats.read(spark, schema, files)

  /** Generation-pinned read with an EXPLICIT schema (the purge
    * read-back rule: inference must never re-type a column, and an
    * empty generation must read as an empty frame). */
  private[graft] def readGen(spark: SparkSession, root: String, gen: Long,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(resolveDir(root, gen))

  /** H12 — `q_time_travel`: GENERATION-PINNED reads over a mutating
    * table — "the orders table AS OF generation 0" after the H8
    * merge has already committed generation 1 (Delta `VERSION AS
    * OF` / Iceberg snapshot reads). The episode: generation 0 =
    * yesterday's state (the shared H8/H9 episode rule), generation
    * 1 = the merged table, BOTH committed through the atomic
    * pointer; the manifest aggregates BOTH generations read back
    * AFTER the generation-1 commit — the gen-0 leg equals the
    * pre-merge state only if committing gen 1 never touched gen 0's
    * files, so the row itself proves non-destructive versioning.
    * `current_gen` pins the pointer's post-episode value.
    *
    * Scale shape: a generation is a plain immutable parquet dir, so
    * a pinned read costs exactly a current read (same pruning, same
    * pushdown — no log replay, no reconstruction); the commit is
    * one atomic filesystem op regardless of table size; what grows
    * with history is only retained bytes, which a retention-policy
    * vacuum bounds (the standard table-format trade). Both manifest
    * legs are map-side-combining aggregates. */
  def timeTravel(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "ttravel").toPath
    try {
      val root = dir.toString
      val (state, updates, inserts) = Export.mutationEpisode(t)
      commitGen(state, root)
      val schema = state.schema
      val merged = Export.mergeLatest(
        readGen(spark, root, 0L, schema),
        updates.unionByName(inserts), "o_orderkey")
      commitGen(merged, root)
      val pinnedGen = currentGen(root)
      def leg(gen: Long) =
        readGen(spark, root, gen, schema)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
            expr("bit_xor(o_orderkey)").as("key_xor"))
          .select(lit(gen).as("gen"), col("o_orderstatus"),
            col("n_orders"), col("total"), col("key_xor"))
      leg(0L).unionByName(leg(1L))
        .withColumn("current_gen", lit(pinnedGen))
        .orderBy(col("gen"), col("o_orderstatus"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H15 — `q_vacuum`: the RETENTION sweep that bounds what H12's
    * time travel lets grow (Delta VACUUM / Iceberg expire_snapshots)
    * — the lifecycle's last verb: commit (H8-H11), read pinned
    * (H12), diff (H14), then EXPIRE history by policy. Episode:
    * three committed generations (the mutation-episode state, the
    * H8 merge, the merge minus H14's takedown slice); retention
    * keeps 2 → generation 0 reaps. The manifest aggregates BOTH
    * retained generations READ BACK AFTER the sweep — the proof the
    * vacuum deleted ONLY what the policy named (a sweep that
    * touched a retained generation's files changes a corpus-derived
    * number); `n_reaped` pins the sweep's own report against the
    * oracle's literal 1, and the gen-0-is-gone half lives in the
    * spec (absence is a filesystem fact no SQL oracle can see).
    *
    * Scale shape: the sweep is driver-side directory removal,
    * O(generations) and data-size independent; the manifest legs
    * are map-side-combining aggregates. At 100 TB the policy is the
    * same two numbers (retain N, or retain by age) — what grows is
    * reclaimed bytes, not sweep cost. */
  def vacuum(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "vacuum").toPath
    try {
      val root = dir.toString
      val (state, updates, inserts) = Export.mutationEpisode(t)
      commitGen(state, root)
      val schema = state.schema
      val gen0 = readGen(spark, root, 0L, schema)
      val merged = Export.mergeLatest(gen0,
        updates.unionByName(inserts), "o_orderkey")
      commitGen(merged, root)
      val takedown = gen0
        .filter(pmod(col("o_orderkey"), lit(10L)) === 5L)
        .select(col("o_orderkey").as("__tk"))
      commitGen(readGen(spark, root, 1L, schema).join(takedown,
        col("o_orderkey") === col("__tk"), "left_anti"), root)
      val reaped = vacuumTable(spark, root, keep = 2).gens
      val pinnedGen = currentGen(root)
      def leg(gen: Long) =
        readGen(spark, root, gen, schema)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            graft.functions.Exact.dsum(col("o_totalprice")).as("total"),
            expr("bit_xor(o_orderkey)").as("key_xor"))
          .select(lit(gen).as("gen"), col("o_orderstatus"),
            col("n_orders"), col("total"), col("key_xor"))
      leg(1L).unionByName(leg(2L))
        .withColumn("current_gen", lit(pinnedGen))
        .withColumn("n_reaped", lit(reaped.length.toLong))
        .orderBy(col("gen"), col("o_orderstatus"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  // ---------------------------------------------------------------
  // H16: per-file min/max statistics manifest + data skipping
  // ---------------------------------------------------------------

  /** A manifested generation keeps its per-file statistics INSIDE
    * its data dir (`<dir>/_manifest` — underscore-prefixed, so
    * Spark's file index never scans it as data). That makes the
    * manifest part of the same atomic commit as the data: both are
    * complete before the marker CAS publishes the generation, so no
    * crash or racing writer can ever publish data without stats or
    * stats without data. */
  private[graft] def manifestPath(root: String, gen: Long): String =
    s"${resolveDir(root, gen)}/_manifest"

  private[graft] def schemaPath(dir: String) = Paths.get(dir, "_schema.json")

  /** The schema RECORDED at commit time for generation `gen` — what
    * a format's log tracks so a table can evolve (H11 proves the
    * mergeSchema read over loose files; the versioned core records
    * the authoritative width per generation instead of re-inferring
    * it from file footers). */
  private[graft] def genSchema(root: String, gen: Long): StructType =
    recordedSchema(resolveDir(root, gen))

  private def recordedSchema(dir: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      Files.readString(schemaPath(dir))).asInstanceOf[StructType]

  // Per-file statistics — (min, max, null-presence) per key column in
  // the column's NATIVE type, the row count, and optional per-file
  // Bloom sketches — are what every table format records at commit
  // time. The writer folds them per file while it writes
  // ([[FileStats]]), so a commit reads its data once. The null flag
  // makes a NULL key first-class in the scoped verbs: a file whose key
  // column contains NULLs (min/max are null-blind) always classifies
  // as touched when the scope list can name a NULL. The sketches serve
  // POINT-LOOKUP pruning: range stats cannot prune an equality probe
  // on a column the file layout does NOT cluster by (every file's
  // [min, max] spans the probed value); a per-file membership sketch,
  // sized by the file's own key count, can.

  /** The stat-carrying key columns a manifest tracks, recovered from
    * its own column names — so a scoped commit re-collects stats for
    * exactly the columns every carried row already has. */
  private def manifestKeys(m: StructType): Seq[String] =
    m.fieldNames.toIndexedSeq.collect { case c if c.startsWith("min_") =>
      c.stripPrefix("min_") }

  /** The Bloom-sketched key columns a manifest tracks, recovered the
    * same way as [[manifestKeys]] — so a table committed WITH blooms
    * keeps them through every scoped commit (rewritten files get
    * fresh sketches; carried rows keep theirs by reference). */
  private def manifestBloomKeys(m: StructType): Seq[String] =
    m.fieldNames.toIndexedSeq.collect { case c if c.startsWith("bloom_") =>
      c.stripPrefix("bloom_") }

  /** Commit `df` as the next generation WITH a per-file
    * min/max/null manifest on `keys` (multi-column, like a real
    * format's per-column log stats) and return that generation. A
    * manifested generation is READ through its manifest's file list,
    * not the directory listing — which is what lets a later commit
    * REFERENCE this generation's surviving files instead of copying
    * them (see [[purgeScoped]]). Single-writer verb, like
    * [[commitGen]]; contended writers use [[tryMergeScoped]]. */
  private[graft] def commitGenManifested(df: DataFrame, root: String,
      keys: Seq[String], bloomKeys: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long =
    tryCommitManifested(df.sparkSession, root, currentGenOption(root),
      df.schema, keys, bloomKeys, txn, carried = None)(df)
      .getOrElse(throw new IllegalStateException(
        s"commit raced a concurrent writer on $root"))

  /** [[tryCommit]] of a manifested generation: write `data` with its
    * per-file stats, then the manifest — `carried` names the files of
    * a generation this one keeps by reference (a scoped commit) — and,
    * once the marker CAS has won, seed the manifest caches with the
    * rows just written, so the generation's first read runs no job. */
  private def tryCommitManifested(spark: SparkSession, root: String,
      expected: Option[Long], schema: StructType, keys: Seq[String],
      bloomKeys: Seq[String], txn: Option[(String, Long)],
      carried: Option[(Long, Seq[String])])(data: => DataFrame): Option[Long] = {
    var seed: () => Unit = () => ()
    tryCommit(root, expected, schema, txn) { dir =>
      seed = writeManifest(spark, root, carried,
        FileStats.write(data, dir, keys, bloomKeys), dir)
    }.map { g => seed(); g }
  }

  /** Write a generation's manifest into its dir in one job: the
    * carried rows of the generation it derives from, then the fresh
    * files' writer-side stats. One file: a manifest is
    * scan-planning-sized, and a single part file keeps even an EMPTY
    * table's manifest readable. Its schema is recorded beside it, so
    * a cold read runs no footer-inference job. Returns the step that
    * puts the written rows into [[manifestCache]] (and, for a small
    * sketched manifest whose carried rows the driver held, into
    * [[sketchCache]]) — for the committer to run after its CAS. */
  private def writeManifest(spark: SparkSession, root: String,
      carried: Option[(Long, Seq[String])], fresh: FileStats.Written,
      dir: String): () => Unit = {
    val freshFrame = localFrame(spark, fresh.rows, fresh.schema)
    // (frame to write, its stats-row source, the full rows if held, files)
    val (frame, statRows, fullRows, files) = carried match {
      case None => (freshFrame, fresh.rows, Some(fresh.rows), fresh.files)
      case Some((g, names)) =>
        val prev = manifestMeta(spark, root, g)
        val keep = names.toSet
        def kept(rows: Seq[Row]) = rows.filter(r => keep(r.getAs[String]("file")))
        val held = heldManifest(spark, root, g, prev, load = false)
        val carriedFrame = held.fold(readManifest(spark, root, g)
          .filter(col("file").isin(names: _*)))(
          rows => localFrame(spark, kept(rows), prev.schema))
        val carriedStats = kept(prev.stats)
        (carriedFrame.unionByName(freshFrame, allowMissingColumns = true),
          carriedStats ++ fresh.rows, held.map(kept(_) ++ fresh.rows),
          prev.dataFilesOf(carriedStats.map(_.getAs[String]("file"))) ++
            fresh.files)
    }
    val mdir = s"$dir/_manifest"
    frame.coalesce(1).write.parquet(mdir)
    Files.writeString(schemaPath(mdir), frame.schema.json)
    val full = org.apache.spark.sql.GraftColumnBridge.asNullable(frame.schema)
    val statsSchema = StructType(full.filterNot(_.name.startsWith("bloom_")))
    () => {
      manifestCache.put(mdir, ManifestMeta(full, statsSchema,
        statRows.map(conform(_, statsSchema)), files))
      if (full != statsSchema &&
          manifestParts(mdir).map(_.length()).sum <= sketchCacheBytes)
        fullRows.foreach(rows => sketchCache.put(mdir,
          Some(rows.map(conform(_, full))).filter(sketchBytes(_, full) <= sketchCacheBytes)))
    }
  }

  /** `r`'s values by name in `schema`'s order, NULL where `r` has no
    * such column (a carried row predating a widened key). */
  private def conform(r: Row, schema: StructType): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      schema.fieldNames.map(n =>
        if (r.schema.fieldNames.contains(n)) r.get(r.fieldIndex(n))
        else null), schema)

  // ---------------------------------------------------------------
  // Driver-side manifest metadata cache
  //
  // A published generation's manifest never changes, yet reading it
  // costs a Spark job (the file-list collect) — uncached, most of an
  // interactive search request's jobs. The driver keeps, per
  // manifest identity, the schema and the O(files) RANGE-STAT rows
  // (`file`, `n_rows`, `min_*`, `max_*`, `null_*`) plus each file's
  // length: the same scalars every file-list collect and listing
  // already brought to the driver. Bloom sketch
  // bytes stay out of these entries; a SMALL manifest's sketch rows
  // live in the separate, byte-capped [[sketchCache]], so a point
  // lookup on it folds on the driver, while a large manifest's
  // sketch probe stays a distributed filter over its parquet.
  // ---------------------------------------------------------------

  /** The cached metadata of one manifest: the schema a reader passes
    * instead of inferring it, the range-stat rows (`statsSchema` = the
    * manifest's columns minus every `bloom_*`), and the data files in
    * the same order, with the lengths a read plans from. */
  private[graft] final case class ManifestMeta(schema: StructType,
      statsSchema: StructType, stats: Seq[Row], dataFiles: Seq[DataFile]) {
    def files: Seq[String] = stats.map(_.getAs[String]("file"))

    private lazy val byPath = dataFiles.map(f => f.path -> f).toMap

    /** The data files named `paths`, as [[readFiles]] plans them. */
    def dataFilesOf(paths: Seq[String]): Seq[DataFile] = paths.map(byPath)

    /** The range-stat rows as a LocalRelation: filters and
      * projections over it fold on the driver (Catalyst's
      * ConvertToLocalRelation), so a range-pruning decision keeps
      * Spark's exact comparison semantics and runs no job. */
    def statsFrame(spark: SparkSession): DataFrame =
      localFrame(spark, stats, statsSchema)
  }

  /** Driver-held rows as a LocalRelation frame (see
    * [[ManifestMeta.statsFrame]]). */
  private[graft] def localFrame(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The part files of the manifest at `dir` (data files only); a
    * single-file table is its own one part. */
  private def manifestParts(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (d.isFile) Seq(d)
    else Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName).toSeq
  }

  /** An LRU map from a manifest's IDENTITY to a value derived from it,
    * holding at most `capacity` entries. The identity is the
    * (filesystem file key, name, length, mtime) of every part file:
    * the file key (device and inode) is shared by hard links, so a
    * `LayoutStore.cloneRecursively` working copy hits its base's
    * entry — the same bytes — while a byte copy is a new key. Part
    * names carry the writing job's UUID, so a root deleted and
    * rebuilt at the same generation id is a new key too. Where the
    * filesystem has no file key, or the path has no part file, the
    * canonical `_manifest` dir (or single parquet file) joins the
    * identity. An entry can never answer for different bytes. */
  private[graft] class IdentityCache[V](capacity: Int) {
    private type Key = (String, Seq[(AnyRef, String, Long, Long)])
    private val entries =
      new java.util.LinkedHashMap[Key, V](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Key, V]): Boolean =
          this.size() > capacity
      }

    private def key(dir: String): Key = {
      val d = new java.io.File(dir).getCanonicalFile
      val parts = manifestParts(d.getPath).map { f =>
        val a = Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        (a.fileKey(), f.getName, a.size(), a.lastModifiedTime().toMillis)
      }
      (if (parts.isEmpty || parts.exists(_._1 == null)) d.getPath else "",
        parts)
    }

    /** The entry for the manifest at `dir`, running `load` on a miss
      * OUTSIDE the map lock (a slow load never blocks readers of
      * other manifests; two racing loaders of one key compute the
      * same value and the later put is harmless). */
    def getOrLoad(dir: String)(load: => V): V = lookup(key(dir), load)

    /** [[getOrLoad]] for a path that may have no part file of its own
      * (missing, or only partition subdirectories): such a path has no
      * identity, so its value loads every time and is never stored. */
    def getOrLoadIdentified(dir: String)(load: => V): V = {
      val k = key(dir)
      if (k._2.isEmpty) load else lookup(k, load)
    }

    /** Store `v` as the entry for the manifest at `dir` — a committer
      * seeding the rows it just wrote. */
    def put(dir: String, v: V): Unit = {
      val k = key(dir)
      entries.synchronized(entries.put(k, v))
    }

    /** The entry for `dir`, if held; never loads. */
    def peek(dir: String): Option[V] = {
      val k = key(dir)
      entries.synchronized(Option(entries.get(k)))
    }

    private def lookup(k: Key, load: => V): V =
      entries.synchronized(Option(entries.get(k))).getOrElse {
        val v = load
        entries.synchronized(entries.put(k, v))
        v
      }

    def size: Int = entries.synchronized(entries.size())
  }

  private[graft] type ManifestCache = IdentityCache[ManifestMeta]

  /** Entries the manifest cache holds — each is O(files) scalars of
    * one generation, so the bound caps driver memory at a fixed
    * number of file lists. */
  private[graft] val ManifestCacheEntries = 256

  private[graft] val manifestCache = new ManifestCache(ManifestCacheEntries)

  /** A manifest whose part files total at most this many bytes is
    * collected once on its first sketch probe (deciding costs a stat
    * of the part files, which the cache key already takes), and its
    * rows stay in [[sketchCache]] when their sketches hold at most
    * this many bytes too (a sparse sketch compresses on disk, so the
    * load measures it); a heavier one is remembered as too big. A
    * `var` ONLY so specs can force the distributed probe on a small
    * manifest. */
  private[graft] var sketchCacheBytes: Long = 256L << 10

  /** Manifests [[sketchCache]] holds. Worst case: 64 entries × 256 KiB
    * = 16 MiB of sketch bytes, plus each entry's O(files) path and
    * range-stat scalars. */
  private[graft] val SketchCacheEntries = 64

  private[graft] val sketchCache =
    new IdentityCache[Option[Seq[org.apache.spark.sql.Row]]](SketchCacheEntries)

  /** The cached metadata of generation `gen`'s manifest. The
    * committer seeds it; a miss (another JVM's commit) pays one job
    * (the range-stat collect), plus footer schema inference for a
    * manifest written before its schema was recorded, and one
    * driver-side listing per dir its files live in. */
  private[graft] def manifestMeta(spark: SparkSession, root: String,
      gen: Long): ManifestMeta = {
    val dir = manifestPath(root, gen)
    manifestCache.getOrLoad(dir) {
      val m = (if (Files.exists(schemaPath(dir)))
        spark.read.schema(recordedSchema(dir)) else spark.read).parquet(dir)
      val stats = m.drop(
        m.columns.filter(_.startsWith("bloom_")).toIndexedSeq: _*)
      val rows = stats.collect().toSeq
      ManifestMeta(m.schema, stats.schema, rows,
        FileStats.listed(spark, rows.map(_.getAs[String]("file"))))
    }
  }

  /** The manifest of generation `gen` as a frame over its parquet,
    * every column (Bloom sketches included) in its NATIVE type — a
    * string key's range prunes as strings, a long key's as longs. The
    * schema comes from the manifest cache, so only the first read of
    * a generation pays the footer-inference job. */
  private[graft] def readManifest(spark: SparkSession, root: String,
      gen: Long): DataFrame =
    spark.read.schema(manifestMeta(spark, root, gen).schema)
      .parquet(manifestPath(root, gen))

  /** Generation `gen`'s data file list — from the manifest cache, so
    * no job after the generation's first read. */
  private[graft] def manifestFiles(spark: SparkSession, root: String,
      gen: Long): Seq[String] =
    manifestMeta(spark, root, gen).files

  /** Read a manifested generation via its file list — the O(files)
    * listing Spark's own file index would materialize (a format's log
    * IS this list), taken with the files' lengths from the manifest
    * cache. An all-rows-deleted generation (empty manifest) reads as
    * an empty frame. */
  private[graft] def readViaManifest(spark: SparkSession, root: String,
      gen: Long, schema: StructType): DataFrame =
    readFiles(spark, schema, manifestMeta(spark, root, gen).dataFiles)

  /** What a scoped commit (or a pruned read) did: files rewritten (or
    * read), files carried by reference (or skipped), and the
    * generation committed (or read). */
  private[graft] final case class SkipReport(
      filesTouched: Long, filesCarried: Long, gen: Long)

  /** The shared SCOPED-COMMIT core: split generation `expected`'s
    * manifest into touched/carried by `touch` (a predicate over the
    * manifest's stats columns against the broadcast `scope` frame),
    * read ONLY the touched files, rewrite them through `rewrite`,
    * carry every other file into the new generation's manifest BY
    * REFERENCE (zero bytes moved), and commit the result through
    * [[tryCommit]] against `expected`. Returns None when another
    * writer committed first — nothing durable remains, at O(touched
    * files) data cost. This is the at-100-TB shape H10's scale note
    * promises (Delta/Iceberg scope a DELETE to intersecting files via
    * their log's file stats; H6's z-order is the row-group-level
    * analog).
    *
    * The skip decision is a range-intersection semi join of the
    * manifest against the broadcast scope (BroadcastNestedLoop over
    * scan-planning-sized inputs: |files| × |scope|, never
    * data-sized). `schema` is the schema the NEW generation commits
    * — pass an evolved (wider) schema and the touched legacy files
    * read with NULL backfill while carried files stay legacy on disk
    * (resolved at read time by the recorded schema). */
  private def tryScopedCommit(spark: SparkSession, root: String,
      expected: Long, schema: StructType, key: String, scope: DataFrame,
      touch: org.apache.spark.sql.Column,
      rewrite: DataFrame => DataFrame,
      txn: Option[(String, Long)] = None): Option[SkipReport] = {
    // cheap staleness pre-check (the marker CAS below is the gate)
    if (currentGen(root) != expected) return None
    val meta = manifestMeta(spark, root, expected)
    val m = sketchFrame(spark, root, expected, meta)
    val sc = broadcast(scope)
    // SKETCH REFINEMENT of the skip decision: when the manifest
    // carries a Bloom sketch for the scoped key AND the scope is
    // exact keys (degenerate intervals — the takedown-list /
    // micro-batch shape), a file whose sketch rejects every key
    // cannot hold any of them (no false negatives), so it CARRIES
    // even though its [min, max] admits — on a layout that does not
    // cluster by the key, this is the difference between rewriting
    // the table and rewriting the few true files. Interval scopes
    // (the bulk path) keep the pure range decision (a sketch cannot
    // answer a range); a NULL scope key keeps routing through the
    // file's null-presence flag; a NULL sketch (file carried from a
    // pre-Bloom generation) cannot prune. The scope collect is
    // scan-planning-sized by summarizeScope's contract.
    val refined: Option[org.apache.spark.sql.Column] =
      if (!meta.schema.fieldNames.contains(s"bloom_$key")) None
      else {
        val rows = scope.collect()
        val allExact = rows.forall(r =>
          r.getBoolean(2) || r.get(0) == r.get(1))
        if (!allExact) None
        else {
          val vals = rows.filter(!_.getBoolean(2)).map(_.get(0)).toSeq
          val nullClause =
            if (rows.exists(_.getBoolean(2)))
              coalesce(col(s"null_$key"), lit(true))
            else lit(false)
          Some(col(s"bloom_$key").isNull ||
            graft.operators.JoinPruning.mightContainAnyOf(
              col(s"bloom_$key"), vals) || nullClause)
        }
      }
    // the split is exhaustive and disjoint, so the carried files are
    // every other file of the cached manifest (sketch-rejected range
    // hits included) — no second pass over the manifest
    val rangeTouched = m.join(sc, touch, "left_semi")
    val touchedFiles = refined.fold(rangeTouched)(rangeTouched.filter)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val touchedSet = touchedFiles.toSet
    // ADDITIVE EVOLUTION WIDENS THE STATS KEY SET: columns the new
    // schema adds over the generation's recorded width enter the
    // manifest for every REWRITTEN file (carried legacy rows read
    // NULL stats — sound, because a carried file predates the column
    // and so holds only NULLs for it at read time: no range predicate
    // can select from it, and SQL MIN/MAX skip it exactly like the
    // NULLs it contains). Without this, H20's evolved columns could
    // never be skip-pruned or metaAgg'd until a full manual re-commit.
    val recorded = genSchema(root, expected).fieldNames.toSet
    val widened = manifestKeys(meta.schema) ++ schema.fields.toSeq
      .filter(f => !recorded(f.name) && statable(f.dataType))
      .map(_.name)
    tryCommitFiles(spark, root, expected, schema, widened.distinct,
      touchedFiles, meta.files.filterNot(touchedSet), rewrite, txn)
  }

  /** Types whose min/max/null statistics a manifest tracks — the
    * scalar orderable kinds a real format collects file stats for
    * (nested/binary columns don't get range stats there either). */
  private def statable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }

  /** Summarize a delta's key column into the SCAN-PLANNING-SIZED
    * scope frame the skip decision broadcasts: closed intervals
    * (`__lo`, `__hi`) plus a NULL-marker flag (`__nul`) — NEVER the
    * raw delta column. Up to `maxKeys` distinct keys map to exact
    * degenerate intervals [k, k] (file-precise skipping); a BULK
    * delta ("a day's ingest" can carry 10⁷–10⁹ keys — broadcasting it
    * raw would blow the broadcast cap and make the NLJ product
    * |files| × |delta|) summarizes to ≤ `intervals` range-partitioned
    * [min, max] intervals, O(intervals) rows regardless of delta
    * size. Intervals can only OVER-touch — extra files rewrite, the
    * answer never changes — so a superset scope is always sound; the
    * NLJ skip product is then bounded by |files| × `intervals`. */
  private[graft] def summarizeScope(delta: DataFrame, key: String,
      maxKeys: Int = 8192, intervals: Int = 512): DataFrame = {
    val keys = delta.select(col(key).as("__k")).distinct()
    // ONE distinct pass decides the path AND supplies the exact
    // scope: the ≤ maxKeys+1 sample is pinned eagerly and counted
    // from its materialized blocks (the old shape counted a limit
    // first, then re-ran the full distinct to pin the exact scope —
    // two delta passes where one suffices)
    val sample = keys.limit(maxKeys + 1).localCheckpoint(true)
    val n = sample.count()
    if (n <= maxKeys)
      sample.select(col("__k").as("__lo"), col("__k").as("__hi"),
        col("__k").isNull.as("__nul"))
    else {
      val ranges = keys.filter(col("__k").isNotNull)
        .repartitionByRange(intervals, col("__k"))
        .groupBy(spark_partition_id())
        .agg(min(col("__k")).as("__lo"), max(col("__k")).as("__hi"))
        .select(col("__lo"), col("__hi"), lit(false).as("__nul"))
      val nullRow = keys.filter(col("__k").isNull)
        .select(col("__k").as("__lo"), col("__k").as("__hi"),
          lit(true).as("__nul"))
      ranges.unionByName(nullRow)
    }
  }

  /** The staged-commit tail every scoped verb shares: read ONLY the
    * touched files, rewrite them through `rewrite`, and publish the
    * carried files' manifest rows ∪ the new files' stats as the next
    * generation's manifest — staged and CAS'd by [[tryCommit]]. A
    * widened stats key set (additive schema evolution) adds
    * min_/max_/null_ columns the carried rows don't have — they fill
    * NULL, the "file predates this column" marker. Bloom keys
    * propagate from the carried manifest's own columns: rewritten
    * files get fresh sketches, carried rows keep theirs. */
  private def tryCommitFiles(spark: SparkSession, root: String,
      expected: Long, schema: StructType, keys: Seq[String],
      touchedFiles: Seq[String], carried: Seq[String],
      rewrite: DataFrame => DataFrame,
      txn: Option[(String, Long)] = None): Option[SkipReport] = {
    val prev = manifestMeta(spark, root, expected)
    tryCommitManifested(spark, root, Some(expected), schema, keys,
      manifestBloomKeys(prev.schema), txn, Some(expected -> carried))(
      rewrite(readFiles(spark, schema, prev.dataFilesOf(touchedFiles))))
      .map(SkipReport(touchedFiles.length.toLong, carried.length.toLong, _))
  }

  // ---------------------------------------------------------------
  // Writer-transaction lineage (Delta's `txn` action): an idempotent
  // writer (the streaming sink) records (appId, version) INSIDE the
  // generation it commits — atomic with the commit itself, so there
  // is no window where the data landed but the dedup record didn't.
  // This DECOUPLES generation ids from batch ids: maintenance
  // writers (optimize, purge, a human backfill) can interleave with
  // a live stream, and the stream still knows exactly which of its
  // own batches are already applied.
  // ---------------------------------------------------------------

  private def txnFile(dir: String) = Paths.get(dir, "_txn")

  private def parseTxns(p: java.nio.file.Path): Map[String, Long] =
    Files.readString(p).linesIterator
      .map(_.trim.split(":", 2))
      .collect { case Array(id, v) if id.nonEmpty => id -> v.toLong }
      .toMap

  /** The newest committed transaction version per writer, merged
    * newest-generation-first (a writer's versions are monotone in
    * generation order, so the first record seen per appId is its
    * latest). Every commit CARRIES the known records forward into its
    * own generation (see [[tryCommit]] — the rule that
    * makes Delta checkpoints retain txn actions), so the newest
    * generation normally holds the complete table and retention can
    * never strand a live writer's lineage behind the vacuum horizon:
    * even `keep = 1` keeps the carried records. O(retained
    * generations) tiny-file reads — log-tail cost. */
  private[graft] def txnTable(root: String): Map[String, Long] = {
    // ONE directory listing yields the existing markers (newest
    // first) — never a per-id existence probe from currentGen down to
    // 0, whose cost would grow with every generation EVER committed
    // for the stream's whole lifetime even after vacuum removed most
    // markers (this verb runs twice per micro-batch)
    var seen = Map.empty[String, Long]
    Markers.table.gens(root).reverseIterator
      .foreach(g => seen = txnsAt(root, g) ++ seen)
    seen
  }

  private[graft] def lastTxn(root: String, appId: String): Option[Long] =
    txnTable(root).get(appId)

  /** The transaction records generation `gen` committed (carried ones
    * included) — what a reader holding a pin of `gen` trusts, where
    * [[txnTable]] would also count a newer, unpinned commit. */
  private[graft] def txnsAt(root: String, gen: Long): Map[String, Long] = {
    val p = txnFile(resolveDir(root, gen))
    if (Files.exists(p)) parseTxns(p) else Map.empty
  }

  /** The null-safe interval-intersection touch predicate against a
    * [[summarizeScope]] frame: a file is touched when a scope
    * interval overlaps its [min, max] — including the NULL-marker row
    * against a file whose key column contains NULLs (min/max are
    * null-blind, so the null flag carries that case). A file with NO
    * stats for the key (carried from before the column existed —
    * additive evolution) holds only NULLs for it at read time, so it
    * classifies as touched exactly when the scope names NULL:
    * `coalesce(null_k, true)`. */
  private def touchByScope(key: String): org.apache.spark.sql.Column =
    (coalesce(col(s"null_$key"), lit(true)) && col("__nul")) ||
      (col("__lo") <= col(s"max_$key") && col(s"min_$key") <= col("__hi"))

  private[graft] def purgeScoped(spark: SparkSession, root: String,
      keys: DataFrame, schema: StructType, key: String): SkipReport = {
    val list = keys.select(col(keys.columns.head).as("__td")).distinct()
    tryScopedCommit(spark, root, currentGen(root), schema, key,
      summarizeScope(list, "__td"), touchByScope(key),
      // null-safe anti join: a NULL list key removes NULL-keyed rows,
      // matching cdcDiff/applyChanges' first-class NULL keys (the
      // list is DEDUPED above — the broadcast never carries repeats)
      surv => surv.join(broadcast(list),
        col(key) <=> col("__td"), "left_anti"))
      .getOrElse(throw new IllegalStateException(
        s"purgeScoped raced a concurrent writer on $root"))
  }

  /** STATS-SKIPPING merge with the OCC contract: commit H8's
    * latest-wins upsert of `delta` as generation `expected + 1` only
    * if the table is still at `expected` — the verb a CONTENDED
    * writer (the streaming sink's micro-batch loop) uses. Only files
    * whose key range can contain a delta key rewrite; the rest carry
    * by reference, so the per-commit cost is O(delta-touched files),
    * never O(table) — at 100 TB the difference between a stream that
    * rewrites the corpus dozens of times a day and one that touches
    * what changed. Returns None when another writer committed
    * first. Delta rows are projected to `schema`, which may be WIDER
    * than the table's previous schema (additive evolution): touched
    * legacy files rewrite with NULL backfill, carried legacy files
    * stay 100%% intact on disk and backfill at read time. */
  private[graft] def tryMergeScoped(spark: SparkSession, root: String,
      delta: DataFrame, schema: StructType, key: String,
      expected: Long,
      txn: Option[(String, Long)] = None,
      scopeMaxKeys: Int = 8192,
      scopeIntervals: Int = 512): Option[SkipReport] = {
    // the skip decision broadcasts the SUMMARIZED scope, never the
    // raw delta keys: a micro-batch delta stays exact, a bulk delta
    // (10⁷+ keys) collapses to ≤ scopeIntervals ranges — the
    // broadcast and the NLJ product stay scan-planning-sized at any
    // delta size (the thresholds are tunables; H23 pins the bulk
    // path at test scale by lowering them)
    tryScopedCommit(spark, root, expected, schema, key,
      summarizeScope(delta, key, scopeMaxKeys, scopeIntervals),
      touchByScope(key),
      surv => Export.mergeLatest(surv, delta.select(
        schema.fieldNames.map(col).toIndexedSeq: _*), key), txn)
  }

  /** The single-writer STATS-SKIPPING merge: [[tryMergeScoped]]
    * against the current generation, failing loudly on a lost race.
    * Same skip decision as [[purgeScoped]]; the rewrite leg is
    * mergeLatest's own anti-join + union restricted to the touched
    * files, so the answer ≡ mergeLatest over the full table
    * (spec-pinned). */
  private[graft] def mergeScoped(spark: SparkSession, root: String,
      delta: DataFrame, schema: StructType, key: String,
      scopeMaxKeys: Int = 8192, scopeIntervals: Int = 512): SkipReport =
    tryMergeScoped(spark, root, delta, schema, key, currentGen(root),
      scopeMaxKeys = scopeMaxKeys, scopeIntervals = scopeIntervals)
      .getOrElse(throw new IllegalStateException(
        s"mergeScoped raced a concurrent writer on $root"))

  /** INSERT-ONLY scoped commit: `delta` lands as new files, EVERY
    * existing file carries into the new generation's manifest by
    * reference — zero skip decision, zero rewrite, O(delta) total
    * (the append path of a daily ingest or an index's vector append;
    * key uniqueness is the CALLER's contract, exactly like a blind
    * `mode(append)` write). The delta's own partitioning decides the
    * new file layout, so callers size/cluster it before the call. */
  private[graft] def appendScoped(spark: SparkSession, root: String,
      delta: DataFrame, schema: StructType,
      txn: Option[(String, Long)] = None): SkipReport = {
    val expected = currentGen(root)
    // every file carries
    val meta = manifestMeta(spark, root, expected)
    tryCommitFiles(spark, root, expected, schema, manifestKeys(meta.schema),
      Seq.empty, meta.files, _ => delta.select(
        schema.fieldNames.map(col).toIndexedSeq: _*), txn)
      .getOrElse(throw new IllegalStateException(
        s"appendScoped raced a concurrent writer on $root"))
  }

  /** Manifest-pruned read for a DISCRETE value set (the index-probe
    * shape: "these N probed cells"): only files whose [min, max]
    * range can contain one of `values` are read — a SUPERSET scan
    * (callers apply their residual filters as always; range stats
    * can only over-include). NULL-stat rows (files carried from
    * before the column existed) hold no range value and prune. The
    * decision is a filter over the scan-planning-sized manifest. */
  private[graft] def readPrunedIn(spark: SparkSession, root: String,
      gen: Long, schema: StructType, key: String,
      values: Seq[Any]): DataFrame =
    readFiles(spark, schema, manifestMeta(spark, root, gen)
      .dataFilesOf(prunedFilesIn(spark, root, gen, key, values)))

  /** The file list [[readPrunedIn]] scans — separated so specs and
    * probes can assert the PRUNING itself (files planned), not just
    * the result. Two stat layers, both advisory supersets: the
    * [min, max] range test, then — when the manifest carries a
    * `bloom_<key>` sketch — a per-file membership probe, which is
    * what prunes an equality lookup on a column the file layout does
    * NOT cluster by (a doc-id lookup against cell-clustered index
    * files: every range spans the id, the sketch names the one file
    * that holds it). A NULL sketch (file carried from a pre-Bloom
    * generation) cannot prune — unknown admits, exactly like the
    * range test's treatment of a NULL bound is the reverse (a file
    * carried from before the COLUMN existed holds only NULLs for it,
    * so no equality can select from it and it prunes). The range
    * test runs on the driver over the cached stats (no job). The
    * sketch probe runs over [[sketchFrame]]: on a small manifest a
    * LocalRelation that folds on the driver (one collect on the
    * manifest's first probe, no job after it), on a large one ONE job
    * over the manifest parquet, so its sketch bytes stay distributed
    * and the driver collects only the surviving file names. */
  private[graft] def prunedFilesIn(spark: SparkSession, root: String,
      gen: Long, key: String, values: Seq[Any]): Seq[String] = {
    if (values.isEmpty) return Seq.empty
    val keep = values.map(v =>
      lit(v).between(col(s"min_$key"), col(s"max_$key"))).reduce(_ || _)
    val meta = manifestMeta(spark, root, gen)
    val bloom = s"bloom_$key"
    val ranged =
      if (!meta.schema.fieldNames.contains(bloom))
        meta.statsFrame(spark).filter(keep)
      else sketchFrame(spark, root, gen, meta).filter(keep &&
        (col(bloom).isNull ||
          graft.operators.JoinPruning.mightContainAnyOf(col(bloom), values)))
    ranged.select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** Generation `gen`'s whole manifest, sketches included: a
    * LocalRelation when the driver holds its rows (see
    * [[heldManifest]]), else the manifest parquet. */
  private def sketchFrame(spark: SparkSession, root: String, gen: Long,
      meta: ManifestMeta): DataFrame =
    heldManifest(spark, root, gen, meta, load = true)
      .fold(readManifest(spark, root, gen))(localFrame(spark, _, meta.schema))

  /** Generation `gen`'s whole manifest rows when the driver holds them:
    * a manifest without sketches is its cached range stats; a sketched
    * one is held in [[sketchCache]] when it is small (see
    * [[sketchCacheBytes]]), collected into it on a miss when `load`. */
  private def heldManifest(spark: SparkSession, root: String, gen: Long,
      meta: ManifestMeta, load: Boolean): Option[Seq[Row]] = {
    val dir = manifestPath(root, gen)
    if (meta.schema == meta.statsSchema) Some(meta.stats)
    else if (manifestParts(dir).map(_.length()).sum > sketchCacheBytes) None
    else if (!load) sketchCache.peek(dir).flatten
    else sketchCache.getOrLoad(dir) {
      Some(readManifest(spark, root, gen).collect().toSeq)
        .filter(sketchBytes(_, meta.schema) <= sketchCacheBytes)
    }
  }

  /** The sketch bytes `rows` (in `schema`) hold. */
  private def sketchBytes(rows: Seq[Row], schema: StructType): Long = {
    val sketchCols = schema.fieldNames.indices
      .filter(schema.fieldNames(_).startsWith("bloom_"))
    rows.iterator.flatMap(r => sketchCols.filterNot(r.isNullAt)
      .map(r.getAs[Array[Byte]](_).length.toLong)).sum
  }

  /** What a retention sweep reclaimed: the expired generation ids
    * and the number of files deleted. */
  private[graft] final case class VacuumReport(gens: Seq[Long], files: Long)

  /** A manifest file URI (`file:///…`) as a local file. */
  private[graft] def localFile(f: String): java.io.File =
    new java.io.File(
      if (f.startsWith("file:")) java.net.URI.create(f).getPath else f)

  /** The RETENTION sweep over a versioned table — Delta VACUUM's rule:
    * keep the newest `keep` generations; a file is reclaimable only
    * when NO retained generation reaches it. A manifested generation
    * reaches its manifest's file list (scoped commits carry older
    * generations' files BY REFERENCE); an unmanifested one reaches its
    * own dir, which a retained generation never loses. Expired
    * generations lose their markers, manifests, schema and txn records
    * (every commit carries txn records forward, so the retained tail
    * still holds the lineage); an expired dir whose files are all
    * still referenced survives as storage for the newer generations.
    *
    * The sweep also reaps CRASH DEBRIS past `debrisStaleMillis`:
    * orphaned marker temps (a crash between the temp write and the
    * link) and unmarkered `gen_*` dirs — a writer that staged its data
    * and died before winning (or after losing) the marker CAS. The age
    * bound is what keeps the sweep safe beside LIVE writers: a fresh
    * unmarkered dir is an in-flight commit's staging (data, manifest,
    * schema and txn written, CAS pending), and sweeping it would let
    * that CAS publish a generation with missing files. Driver-side,
    * O(files in expired generations) — data-size independent. */
  private[graft] def vacuumTable(spark: SparkSession, root: String,
      keep: Int, debrisStaleMillis: Long = 24L * 3600 * 1000): VacuumReport = {
    require(keep >= 1, "retention must keep at least the current generation")
    val cur = currentGen(root)
    val (retained, expired) =
      Markers.table.list(root).partition(_._1 > cur - keep)
    val keepDirs = retained.values.toSet
    val expiredDirs = expired.values.toSet
    val reach = retained.keys.toSeq
      .filter(g =>
        Files.isDirectory(Paths.get(resolveDir(root, g), "_manifest")))
      .flatMap(g => manifestFiles(spark, root, g))
      .map(localFile(_).getAbsolutePath).toSet
    def stale(f: java.io.File) =
      System.currentTimeMillis() - f.lastModified() > debrisStaleMillis
    def list(d: java.io.File) =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    val entries = list(new java.io.File(root))
    var reaped = 0L
    entries
      .filter(f => f.isDirectory && f.getName.startsWith("gen_") &&
        !keepDirs(f.getName) && (expiredDirs(f.getName) || stale(f)))
      .foreach { dir =>
        list(dir).filter(f => f.isFile && !reach(f.getAbsolutePath))
          .foreach { f => if (f.delete()) reaped += 1 }
        LayoutStore.deleteRecursively(new java.io.File(dir, "_manifest"))
        if (!list(dir).exists(_.isFile)) LayoutStore.deleteRecursively(dir)
      }
    entries.filter(f => Markers.table.isTemp(f) && stale(f))
      .foreach(LayoutStore.deleteRecursively)
    // expired markers go with their generations (resolution for a
    // reaped generation must fail cleanly, not dangle)
    Markers.table.expire(root, _ <= cur - keep)
    VacuumReport(expired.keys.toSeq.sorted, reaped)
  }

  /** CDC between two MANIFESTED generations scoped by the commit
    * log — the composition H14's scale note promises ("a commit log
    * scopes this to the files the commit touched"): a file carried BY
    * REFERENCE between the two manifests (same path in both) cannot
    * contribute a change — its rows are byte-identical on both sides
    * and would only feed the no-op suppression — so the diff reads
    * ONLY the symmetric difference of the two file lists. Sound under
    * the table invariant every merge/purge here maintains (a key
    * appears in exactly one file per generation): a key in a carried
    * file is identical across generations by construction, and a key
    * NOT in a carried file sits in the read set on whichever sides
    * have it. Feed equality with the full diff is spec-pinned; the
    * saving is O(table) → O(touched files) on the diff's input. */
  private[graft] def cdcDiffScoped(spark: SparkSession, root: String,
      prevGen: Long, nextGen: Long, schema: StructType,
      key: String): DataFrame = {
    val prev = manifestMeta(spark, root, prevGen)
    val next = manifestMeta(spark, root, nextGen)
    def readOnly(side: ManifestMeta, other: ManifestMeta): DataFrame =
      readFiles(spark, schema,
        side.dataFilesOf((side.files.toSet -- other.files).toSeq.sorted))
    cdcDiff(readOnly(prev, next), readOnly(next, prev), key)
  }

  /** H16 — `q_stats_skipping`: H10's takedown purge scoped by FILE
    * STATISTICS — the min/max manifest collected at commit time
    * decides which files the rewrite must touch; the rest carry into
    * the new generation by reference (Delta/Iceberg file skipping
    * from log stats; reference posture: processor.py:320's
    * incremental scan is the same only-what-changed idea at row
    * granularity). Same episode, manifest aggregate and oracle as
    * H10 — the answer is INVARIANT to how the purge executed, which
    * is the proof the scoped path is a pure optimization. The store
    * commits range-clustered on doc_id (the layout job H6 owns at
    * scale) so file stats are tight; at this SF's ~31-id-wide files
    * most files contain no multiple of 97 and skip — the spec pins
    * the files-actually-rewritten count, the filesystem fact the SQL
    * oracle can't see.
    *
    * Scale shape: the skip decision costs |manifest| × |list| inside
    * a broadcast — scan-planning-sized; the rewrite reads ONLY
    * intersecting files (O(touched), not O(store)); the audit +
    * manifest read the whole table once through the manifest, same
    * pruning/pushdown as any parquet read. */
  def statsSkipping(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "skip").toPath
    try {
      val root = dir.toString
      commitGenManifested(
        t.documents.repartitionByRange(16, col("doc_id")),
        root, Seq("doc_id"))
      val listed = col("doc_id") % 97 === 0
      val takedown = readViaManifest(spark, root, 0L, Tables.docSchema)
        .filter(listed).select(col("doc_id"))
      val nPurged = takedown.count()
      purgeScoped(spark, root, takedown, Tables.docSchema, "doc_id")
      val back = readViaManifest(spark, root, currentGen(root),
        Tables.docSchema)
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

  // ---------------------------------------------------------------
  // H13: merge-on-read delete vectors
  // ---------------------------------------------------------------

  /** The merge-on-read core: serve `store` MINUS the ids in the
    * delete-vector sidecar — one broadcast anti-join applied at
    * READ time (takedown lists are human-scale; at billions of
    * deleted positions a format switches to partition-local bitmap
    * sidecars, a representation change on the same read shape).
    * Shared by [[purgeDv]] and its spec's rewrite-equivalence
    * proof. */
  private[graft] def applyDv(store: DataFrame, dv: DataFrame): DataFrame =
    store.join(broadcast(dv.select(col("doc_id").as("__dv"))),
      col("doc_id") === col("__dv"), "left_anti")
      .drop("__dv")

  /** H13 — `q_purge_dv`: the takedown purge H10 executes by REWRITE,
    * executed the way production table formats actually commit it —
    * a DELETE-VECTOR sidecar (Delta deletion vectors / Iceberg
    * position deletes) applied at read time: the store's data files
    * are untouched; the commit is one small sidecar write; every
    * read anti-joins the sidecar. Same episode as H10 (takedown =
    * doc_id ≡ 0 mod 97), same manifest, same oracle — and the
    * `residual` audit runs THROUGH the DV read path, so a read path
    * that misses one listed row fails the gate from inside the row.
    *
    * Scale shape: the write side is O(|list|) regardless of store
    * size — that is the entire point versus H10's full rewrite (the
    * format pays a per-read anti-join until a compaction folds the
    * DV in; H7's rewriteStores is exactly that fold). The read is
    * one broadcast anti-join: no shuffle of the store, pruning and
    * pushdown on the data files unchanged. */
  def purgeDv(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "purgedv").toPath
    try {
      val store = s"$dir/store"
      t.documents.write.partitionBy("source").parquet(store)
      def readBack(p: String) = spark.read.schema(Tables.docSchema).parquet(p)
      val listed = col("doc_id") % 97 === 0
      // the DV commit: ONLY the listed ids, persisted as the sidecar
      val dvPath = s"$dir/dv"
      readBack(store).filter(listed).select(col("doc_id")).write.parquet(dvPath)
      val dv = spark.read.schema(StructType.fromDDL("doc_id LONG")).parquet(dvPath)
      val nPurged = dv.count()
      // every read goes through the sidecar — including the audit
      def mor = applyDv(readBack(store), dv)
      val residual = mor.filter(listed).count()
      mor
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

  // ---------------------------------------------------------------
  // H14: CDC changefeed between two generations
  // ---------------------------------------------------------------

  /** The CDC core — the per-key change set that turns generation
    * `prev` into generation `next`: `insert` (key only in next),
    * `delete` (key only in prev), `update_pre`/`update_post` (key in
    * both, row CHANGED — identical rows emit nothing, the no-op
    * suppression a changefeed consumer relies on). Null-safe
    * struct comparison AND a null-safe join key (`<=>` plus presence
    * flags instead of key-isNull classification), so a genuinely
    * NULL key matches across generations and classifies as an
    * update/no-op like any other key value, never as a phantom
    * delete+insert pair. ONE full-outer shuffle join on the key,
    * nothing pairwise, output bounded by |prev Δ next|. */
  private[graft] def cdcDiff(prev: DataFrame, next: DataFrame,
      key: String): DataFrame = {
    val cols = prev.columns
    val p = prev.select(col(key).as("__k"), lit(true).as("__pp"),
      struct(cols.map(col).toIndexedSeq: _*).as("__pre"))
    val n = next.select(col(key).as("__k2"), lit(true).as("__np"),
      struct(cols.map(col).toIndexedSeq: _*).as("__post"))
    def tagged(tag: String, row: org.apache.spark.sql.Column) =
      struct(lit(tag).as("change_type"), row.as("row"))
    p.join(n, col("__k") <=> col("__k2"), "full_outer")
      .select(explode(
        when(col("__pp").isNull, array(tagged("insert", col("__post"))))
          .when(col("__np").isNull, array(tagged("delete", col("__pre"))))
          .when(!(col("__pre") <=> col("__post")),
            array(tagged("update_pre", col("__pre")),
              tagged("update_post", col("__post"))))
          // identical rows: NULL, which explode drops — the no-op
          // suppression (an empty typed array would need a DDL cast)
          .otherwise(lit(null)))
        .as("c"))
      .select(col("c.change_type").as("change_type"), col("c.row.*"))
  }

  /** Replay a [[cdcDiff]] change set onto its base generation:
    * drop the keys the feed closes (deletes + update_pre), append
    * the rows it opens (inserts + update_post). The spec proves
    * apply(gen N, diff) ≡ gen N+1 row-for-row — the contract that
    * makes a changefeed a substitute for re-reading the table. */
  private[graft] def applyChanges(prev: DataFrame, changes: DataFrame,
      key: String): DataFrame = {
    val closed = changes
      .filter(col("change_type").isin("delete", "update_pre"))
      .select(col(key).as("__ck"))
    val opened = changes
      .filter(col("change_type").isin("insert", "update_post"))
      .drop("change_type")
    // null-safe anti key, matching cdcDiff: a delete of a NULL-keyed
    // row must actually remove it
    prev.join(closed, col(key) <=> col("__ck"), "left_anti")
      .unionByName(opened)
  }

  /** H14 — `q_cdc`: the CHANGE DATA FEED between two committed
    * generations (Delta CDF / Iceberg changelog scan) — the
    * artifact every incremental downstream consumer (E11's dedup
    * state, the IVF append path, any materialized aggregate)
    * subscribes to instead of re-diffing full generations. Episode:
    * generation 0 = the shared mutation-episode state; generation 1
    * = H8's merge PLUS a takedown slice (lower-half keys ≡ 5 mod 10
    * — disjoint from the update slice ≡ 0 mod 10, so every change
    * type appears); the feed is computed by diffing the two
    * READ-BACK generations, so it reports what the table actually
    * did, not what the writer intended. Output = the change rows
    * themselves (change_type + the full row), the consumer-facing
    * shape.
    *
    * Scale shape: one full-outer shuffle join on the key between
    * two generations (a format with a commit log scopes this to the
    * files the commit touched — composition, same diff); no-op
    * suppression bounds the feed by the true change mass; applying
    * the feed (see [[applyChanges]]) is H8's own anti-join + union
    * shape. */
  def cdc(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "cdc").toPath
    try {
      val root = dir.toString
      val (state, updates, inserts) = Export.mutationEpisode(t)
      commitGen(state, root)
      val schema = state.schema
      val gen0 = readGen(spark, root, 0L, schema)
      val merged = Export.mergeLatest(gen0,
        updates.unionByName(inserts), "o_orderkey")
      // the takedown slice: state keys ≡ 5 mod 10 (disjoint from the
      // update slice ≡ 0 mod 10, so all four change types appear);
      // keyed off gen 0 so upper-half INSERTS sharing the residue
      // survive — an anti join on the same key the merge shuffled on
      val takedown = gen0
        .filter(pmod(col("o_orderkey"), lit(10L)) === 5L)
        .select(col("o_orderkey").as("__tk"))
      commitGen(merged.join(takedown,
        col("o_orderkey") === col("__tk"), "left_anti"), root)
      cdcDiff(gen0, readGen(spark, root, 1L, schema), "o_orderkey")
        .orderBy(col("change_type"), col("o_orderkey"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** Maintain a per-group (count, decimal total, key checksum)
    * aggregate from a [[cdcDiff]] feed: the base aggregate plus the
    * feed's SIGNED deltas — inserts/update_post add, deletes/
    * update_pre subtract; bit_xor is its own inverse so one unsigned
    * xor over the feed's keys per group is the checksum delta. Never
    * reads the next generation. Decimal arithmetic keeps the
    * maintained total EXACTLY equal to a recompute. */
  private[graft] def maintainAgg(base: DataFrame, feed: DataFrame,
      group: String, key: String, money: String): DataFrame = {
    val dec = col(money).cast(DecimalType(18, 2))
    val b = base.groupBy(col(group))
      .agg(count(lit(1)).as("__bn"), sum(dec).as("__bt"),
        expr(s"bit_xor($key)").as("__bx"))
    val sign = when(col("change_type").isin("insert", "update_post"), 1L)
      .otherwise(-1L)
    val d = feed.groupBy(col(group))
      .agg(sum(sign).as("__dn"), sum(dec * sign).as("__dt"),
        expr(s"bit_xor($key)").as("__dx"))
    b.join(d, Seq(group), "full_outer")
      .select(col(group),
        (coalesce(col("__bn"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("__bt"), lit(0).cast(DecimalType(18, 2))) +
          coalesce(col("__dt"), lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("total"),
        coalesce(col("__bx"), lit(0L))
          .bitwiseXOR(coalesce(col("__dx"), lit(0L))).as("key_xor"))
      .filter(col("n_orders") > 0)
  }

  /** H17 — `q_cdc_consume`: the changefeed's DOWNSTREAM CONSUMER as
    * a gated row — a materialized per-status aggregate maintained
    * from H14's feed ALONE (base aggregate over generation 0 plus
    * the feed's signed deltas; generation 1 is never read for the
    * output), checked against the oracle's from-scratch recompute of
    * the post-change table. This is the contract that makes a
    * changefeed a substitute for re-reading the table (reference
    * engine.py:57's incremental update is exactly this loop;
    * TableFormatSpec proves the IVF-maintenance sibling). Episode =
    * H14's verbatim: gen 1 = H8's merge plus the ≡5-mod-10 takedown,
    * so all four change types flow through the consumer.
    *
    * Scale shape: the base aggregate is one map-side-combining pass
    * over the PREVIOUS materialization's input (in steady state it
    * IS the stored materialization — zero passes); the delta
    * aggregate is bounded by the feed mass, not the table; the merge
    * of the two is a join on the group key — group-cardinality-
    * sized. At 100 TB this is the difference between re-aggregating
    * the corpus daily and touching only what changed. */
  def cdcConsume(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "cdccons").toPath
    try {
      val root = dir.toString
      val (state, updates, inserts) = Export.mutationEpisode(t)
      commitGen(state, root)
      val schema = state.schema
      val gen0 = readGen(spark, root, 0L, schema)
      val merged = Export.mergeLatest(gen0,
        updates.unionByName(inserts), "o_orderkey")
      val takedown = gen0
        .filter(pmod(col("o_orderkey"), lit(10L)) === 5L)
        .select(col("o_orderkey").as("__tk"))
      commitGen(merged.join(takedown,
        col("o_orderkey") === col("__tk"), "left_anti"), root)
      val feed = cdcDiff(gen0, readGen(spark, root, 1L, schema),
        "o_orderkey")
      maintainAgg(gen0, feed, "o_orderstatus", "o_orderkey",
        "o_totalprice")
        .orderBy(col("o_orderstatus"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  // ---------------------------------------------------------------
  // H18: stats-pruned READS (file skipping for queries)
  // ---------------------------------------------------------------

  /** A stats-pruned READ over a manifested generation — file
    * skipping for QUERIES, not just mutations: the single most
    * common read-path operation a warehouse user hits (Delta/Iceberg
    * prune the file list against the predicate from log stats before
    * the scan ever plans). `preds` are closed-interval range
    * predicates, one per manifest-tracked column; a file survives
    * pruning only when EVERY predicate's interval intersects the
    * file's [min, max] — a second predicate column can only SHRINK
    * the read set, which is the multi-column-stats payoff (an
    * all-NULL-key file prunes too: no range value can live there).
    * The residual predicate is re-applied to the surviving files, so
    * the answer is EXACT regardless of how coarse the file ranges
    * are. Returns the pruned frame plus the files-read /
    * files-skipped evidence. The pruning decision is a driver-side
    * filter over the cached manifest stats — no job runs and no data
    * is touched to decide what to read. */
  private[graft] def readScoped(spark: SparkSession, root: String,
      gen: Long, schema: StructType,
      preds: Seq[(String, Any, Any)]): (DataFrame, SkipReport) = {
    val meta = manifestMeta(spark, root, gen)
    val keep = preds.map { case (k, lo, hi) =>
      lit(lo) <= col(s"max_$k") && col(s"min_$k") <= lit(hi)
    }.reduce(_ && _)
    val files = meta.statsFrame(spark).filter(keep)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    val total = meta.stats.length
    val residual = preds.map { case (k, lo, hi) =>
      col(k).between(lit(lo), lit(hi)) }.reduce(_ && _)
    (readFiles(spark, schema, meta.dataFilesOf(files)).filter(residual),
      SkipReport(files.length.toLong, total - files.length, gen))
  }

  /** H18 — `q_skip_read`: a RANGE QUERY through the manifested table
    * with the file list pruned by the commit-time statistics — the
    * read-path twin of H16's scoped mutations (Delta/Iceberg data
    * skipping on SELECT; reference posture: processor.py:320's
    * incremental scan reads only what a predicate names). The store
    * commits range-clustered on (source, doc_id) with MULTI-COLUMN
    * stats, and the query carries BOTH predicates — the two-column
    * scope reads fewer files than either alone (spec-pinned); the
    * answer is INVARIANT to the pruning (same oracle as the raw
    * filtered aggregate), and the in-row `leaked` audit counts rows
    * OUTSIDE the predicate that the pruned read let through against
    * the oracle's literal 0, so a broken residual filter fails the
    * gate from inside the row.
    *
    * Scale shape: the prune is a filter over the manifest (one row
    * per file — scan-planning-sized); the data read is O(surviving
    * files) with normal parquet pushdown on top; the aggregate is
    * one map-side-combining pass. At 100 TB this is the difference
    * between scanning a corpus and scanning the handful of files a
    * dashboard's WHERE clause actually names. */
  def skipRead(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "skipread").toPath
    try {
      val root = dir.toString
      commitGenManifested(
        t.documents.repartitionByRange(16, col("source"), col("doc_id")),
        root, Seq("source", "doc_id"))
      val (slice, _) = readScoped(spark, root, 0L, Tables.docSchema,
        Seq(("source", "src7", "src7"), ("doc_id", 100L, 400L)))
      val sliced = slice.localCheckpoint(true)
      val leaked = sliced.filter(!(col("source") === "src7" &&
        col("doc_id").between(100L, 400L))).count()
      sliced
        .select(col("lang"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .withColumn("leaked", lit(leaked))
        .orderBy(col("lang"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H24 — `q_bloom_read`: a POINT LOOKUP through per-file Bloom
    * sketches where range statistics cannot prune at all. The store
    * commits HASH-clustered (16 files, doc_ids scattered — every
    * file's [min, max] spans every probed id, so H18's range test
    * keeps all 16), but the manifest carries a per-file `bloom_`
    * sketch on doc_id; the lookup plans only the files whose sketch
    * admits a probed id (false positives read one extra file, false
    * negatives are impossible), and the residual IN filter keeps the
    * answer exact. This is the format-level analog of a parquet
    * footer Bloom filter, lifted into the LOG so the pruning happens
    * at file PLANNING, before any footer is opened (Delta's
    * bloom-filter index / Iceberg's puffin sketches). The in-row
    * `bloom_pruned` audit is 1 only when the planned file list is
    * strictly smaller than the table's — against the oracle's
    * literal 1, so a sketch that stops pruning fails the gate from
    * inside the row; the answer itself is INVARIANT to the pruning
    * (same oracle as the raw IN filter).
    *
    * Scale shape: the sketch is bytes per file (sized by its key
    * count) folded by the writer while the commit writes the file;
    * the probe is driver-side planner work over the
    * O(files) manifest. At 100 TB this is the difference between a
    * needle lookup scanning the corpus (clustered by something else,
    * as real layouts always are) and reading ONE file. */
  def bloomRead(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "bloomread").toPath
    try {
      val root = dir.toString
      // hash-cluster on text: the adversarial-for-ranges layout —
      // every file's doc_id range spans the whole id space
      commitGenManifested(t.documents.repartition(16, col("text")),
        root, Seq("lang", "doc_id"), bloomKeys = Seq("doc_id"))
      val ids = Seq(11L, 137L, 423L)
      val planned = prunedFilesIn(spark, root, 0L, "doc_id", ids)
      val meta = manifestMeta(spark, root, 0L)
      val total = meta.stats.length
      readFiles(spark, Tables.docSchema, meta.dataFilesOf(planned))
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("lang"), col("source"),
          size(words(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("bloom_pruned",
          lit(if (planned.length < total) 1L else 0L))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** Metadata-only aggregate: COUNT(*) / MIN(key) / MAX(key)
    * answered from the MANIFEST alone — zero data files touched
    * (Delta/Iceberg metadata-only queries; Spark's own
    * OptimizeMetadataOnlyQuery does this for partition values — this
    * is the log-stats version for a data column). Sound because the
    * per-file (n_rows, min, max) are exact, collected at commit time
    * from the data itself, and every committed row lives in exactly
    * one manifest entry; min/max are null-blind exactly like SQL
    * MIN/MAX, and COUNT(*) includes null-keyed rows via n_rows. At
    * 100 TB this is a dashboard COUNT answered in milliseconds from
    * one manifest file instead of a corpus scan. */
  private[graft] def metaAgg(spark: SparkSession, root: String,
      gen: Long, key: String): DataFrame =
    readManifest(spark, root, gen).agg(
      coalesce(sum(col("n_rows")), lit(0L)).as("n_rows"),
      min(col(s"min_$key")).as("min_key"),
      max(col(s"max_$key")).as("max_key"))

  /** H21 — `q_meta_agg`: the metadata-only aggregate as a gated row,
    * asked at the point where it is EASY to get wrong — after a
    * scoped purge, when the manifest is a mix of carried references
    * and rewritten files: COUNT/MIN/MAX of the post-purge table
    * answered from the manifest ALONE, oracled against the scan
    * (DuckDB literally counts the surviving rows). A scoped commit
    * that carried a stale stats row, double-counted a rewritten
    * file, or recomputed min/max over the wrong file set fails the
    * gate here even though every ROW-level read is correct.
    *
    * Scale shape: the answer costs one read of a one-file manifest —
    * scan-planning-sized, data-size independent; the episode's purge
    * is H16's scoped shape. The row is the contract that the
    * manifest's statistics ARE the table's statistics, which is what
    * makes H16/H18's skipping sound in the first place. */
  def metaAggQuery(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "metaagg").toPath
    try {
      val root = dir.toString
      commitGenManifested(
        t.documents.repartitionByRange(16, col("doc_id")),
        root, Seq("doc_id"))
      val takedown = readViaManifest(spark, root, 0L, Tables.docSchema)
        .filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      purgeScoped(spark, root, takedown, Tables.docSchema, "doc_id")
      metaAgg(spark, root, currentGen(root), "doc_id")
        .select(col("n_rows").as("n_docs"),
          col("min_key").as("min_id"), col("max_key").as("max_id"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  /** H23 — `q_merge_bulk`: the SCOPED MERGE at its contract's BULK
    * end — "a day's delta" (here: every even-keyed document, half
    * the table) merged latest-wins through the versioned core with
    * the skip decision running on the INTERVAL-SUMMARIZED scope,
    * never the raw keys: the broadcast side is ≤ `intervals` range
    * rows regardless of delta size, so neither the broadcast cap nor
    * the |files| × |delta| NLJ product can blow up at 10⁷–10⁹ keys
    * (the round-17 advice's one scale-killer-shaped hole). The
    * thresholds are forced down (maxKeys 64 / intervals 8) so the
    * bulk path — not the exact path — is what this row gates at
    * every SF; intervals can only OVER-touch, so the answer is the
    * plain latest-wins merge, which is exactly what the oracle
    * replays with a CASE. Episode: delta = every even-keyed document
    * of the LOWER id half (dense there — interval over-touch is
    * expected and harmless) so the upper half's files must CARRY:
    * the in-row `carried_files` TRUE pins that the bulk commit is
    * still O(touched), never a silent full rewrite, and `n_files`
    * pins touched + carried = the store's file count.
    *
    * Scale shape: scope summarization is one distinct + range
    * repartition over the delta (O(|delta|), the same order as the
    * merge itself); the skip decision is |files| × intervals; the
    * rewrite reads only touched files. */
  def mergeBulk(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "mergebulk").toPath
    try {
      val root = dir.toString
      commitGenManifested(
        t.documents.repartitionByRange(16, col("doc_id")),
        root, Seq("doc_id"))
      val mid = t.documents.agg(max(col("doc_id"))).first().getLong(0) / 2
      val delta = t.documents
        .filter(col("doc_id") % 2 === 0L && col("doc_id") <= mid)
        .withColumn("source", lit("bulk"))
      val rep = mergeScoped(spark, root, delta, Tables.docSchema, "doc_id",
        scopeMaxKeys = 64, scopeIntervals = 8)
      readViaManifest(spark, root, currentGen(root), Tables.docSchema)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .withColumn("carried_files", lit(rep.filesCarried > 0))
        .withColumn("n_files",
          lit(rep.filesTouched + rep.filesCarried))
        .orderBy(col("source"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }

  // ---------------------------------------------------------------
  // H19: OPTIMIZE — small-file compaction as a manifest-only commit
  // ---------------------------------------------------------------

  /** OPTIMIZE — small-file compaction committed as a LOGICAL NO-OP
    * (Delta OPTIMIZE / Iceberg rewrite_data_files): every file below
    * `smallRows` rewrites bin-packed into ~`targetRows`-row files
    * re-clustered on the manifest keys (so the compacted files'
    * ranges stay tight and H16/H18 skipping keeps working); every
    * file already at size carries by reference. Data movement, zero
    * logical change — the new generation reads row-identical, the
    * pre-optimize generation still time-travels, and
    * [[vacuumTable]] later reaps the superseded smalls by
    * reachability. This is the maintenance verb that keeps a year of
    * daily scoped commits (each adding one small rewrite file — H5's
    * pathology inside the versioned core) from degrading every
    * downstream scan. */
  private[graft] def optimize(spark: SparkSession, root: String,
      schema: StructType, smallRows: Long,
      targetRows: Long): SkipReport = {
    val cur = currentGen(root)
    val meta = manifestMeta(spark, root, cur)
    val keys = manifestKeys(meta.schema)
    // the cached (file, n_rows) decide everything driver-side: the
    // fold set, the bin count and the carried files
    val sizes = meta.stats
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows")))
    val (small, carried) = sizes.partition(_._2 < smallRows)
    val nOut = math.max(1L,
      (small.map(_._2).sum + targetRows - 1) / targetRows).toInt
    tryCommitFiles(spark, root, cur, schema, keys, small.map(_._1),
      carried.map(_._1),
      surv => surv.repartitionByRange(nOut, keys.map(col).toIndexedSeq: _*))
      .getOrElse(throw new IllegalStateException(
        s"optimize raced a concurrent writer on $root"))
  }

  /** H19 — `q_optimize_table`: the compaction lifecycle as a gated
    * row. Episode: the documents store commits range-clustered (16
    * tight files), three scoped merges land out-of-range insert
    * slices (each an O(delta) commit that adds small files — exactly
    * the fragmentation a day of H16/sink commits accretes), OPTIMIZE
    * folds the smalls into size-targeted files, and the manifest
    * aggregates the READ-BACK post-optimize table. The oracle is the
    * plain union of the corpus and the three derived slices — the
    * answer is INVARIANT to the compaction, which is the proof the
    * rewrite was data movement and nothing else; files-before ≫
    * files-after and reap-after-optimize are the filesystem facts
    * the spec owns.
    *
    * Scale shape: the compaction reads O(small files), bin-packs by
    * the manifest's own row counts (no data pass to decide), and
    * commits through the same CAS marker as every other writer —
    * safe to run beside live OCC commits (a racing writer simply
    * makes it retry). At 100 TB this runs as the background
    * maintenance job every format ships. */
  def optimizeTable(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "optimize").toPath
    try {
      val root = dir.toString
      val docs = t.documents
      commitGenManifested(docs.repartitionByRange(16, col("doc_id")),
        root, Seq("doc_id"))
      val shift = docs.agg(max(col("doc_id")) + 1L).first().getLong(0)
      (1 to 3).foreach { k =>
        val slice = docs.filter(pmod(col("doc_id"), lit(211L)) === k.toLong)
          .withColumn("doc_id", col("doc_id") + lit(shift * k))
        mergeScoped(spark, root, slice, Tables.docSchema, "doc_id")
      }
      optimize(spark, root, Tables.docSchema,
        smallRows = 10L, targetRows = 512L)
      readViaManifest(spark, root, currentGen(root), Tables.docSchema)
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

  // ---------------------------------------------------------------
  // H20: schema evolution through the versioned commit core
  // ---------------------------------------------------------------

  /** H20 — `q_schema_evolve_versioned`: ADDITIVE SCHEMA EVOLUTION
    * through the COMMIT CORE — H11 proves the mergeSchema read over
    * loose files; here the table's own log records the schema per
    * generation (`_schema.json` beside each generation's manifest,
    * what Delta/Iceberg track in their log) and a later scoped merge
    * COMMITS a wider schema: the delta arrives with two new columns
    * (`quality` micro-units, `rev`), touched legacy files rewrite
    * with NULL backfill, and CARRIED legacy files stay byte-identical
    * on disk — the evolved generation reads them through the recorded
    * width with NULLs surfacing at read time (zero rewrite for the
    * untouched corpus, the entire point of log-tracked schemas at
    * 100 TB). The feed across the width boundary is part of the row:
    * `n_feed_inserts`/`n_feed_updates` pin the scoped CDC between
    * the two generations (legacy rows surface NULLs, so an update
    * that only ADDS column values classifies as an update, identical
    * rows still suppress). Episode: inserts = the ≡0 (mod 211) slice
    * shifted beyond every file range (pure carry proof), updates =
    * the ≡1 slice in place gaining the new columns (touched-rewrite
    * proof); oracle = the corpus with exactly those CASE edits.
    *
    * Scale shape: the merge is H16's scoped shape (O(touched
    * files)); the evolved read costs exactly a normal read (parquet
    * nullability backfill is free — absent columns never
    * materialize); the recorded schema makes pinned reads (H12)
    * width-correct per generation, which mergeSchema inference
    * cannot promise once columns are DROPPED. */
  def schemaEvolveVersioned(t: Tables): DataFrame = {
    val spark = t.spark
    val dir = LayoutStore.scratch(t.dir, "sevolve").toPath
    try {
      val root = dir.toString
      val docs = t.documents
      commitGenManifested(docs.repartitionByRange(16, col("doc_id")),
        root, Seq("doc_id"))
      val evolved = Tables.docSchema
        .add("quality", LongType).add("rev", LongType)
      val shift = docs.agg(max(col("doc_id")) + 1L).first().getLong(0)
      // the new columns derive from the FINAL doc_id (micro-unit
      // quality, so the oracle's sum is integer-exact cross-engine)
      val newCols = (d: DataFrame) => d
        .withColumn("quality", pmod(col("doc_id"), lit(100L)) * 10000L)
        .withColumn("rev", lit(2L))
      val delta = newCols(
        docs.filter(pmod(col("doc_id"), lit(211L)) === 0L)
          .withColumn("doc_id", col("doc_id") + lit(shift)))
        .unionByName(newCols(
          docs.filter(pmod(col("doc_id"), lit(211L)) === 1L)))
      mergeScoped(spark, root, delta, evolved, "doc_id")
      val w0 = genSchema(root, 0L).fields.length.toLong
      val w1 = genSchema(root, 1L).fields.length.toLong
      val feed = cdcDiffScoped(spark, root, 0L, 1L, evolved, "doc_id")
        .localCheckpoint(true)
      val nIns = feed.filter(col("change_type") === "insert").count()
      val nUpd = feed.filter(col("change_type") === "update_post").count()
      readViaManifest(spark, root, 1L, evolved)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_legacy"),
          coalesce(sum(col("quality")), lit(0L)).as("q_sum"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .withColumn("gen0_width", lit(w0))
        .withColumn("gen1_width", lit(w1))
        .withColumn("n_feed_inserts", lit(nIns))
        .withColumn("n_feed_updates", lit(nUpd))
        .orderBy(col("source"))
        .localCheckpoint(true)
    } finally LayoutStore.deleteRecursively(dir.toFile)
  }
}
