package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The CATALOG POINTER over a persisted multi-store index — the
  * missing piece that makes the IVF index a first-class citizen of
  * the TableFormat core (the round-17 verdict's "two parallel
  * universes": the engine had a real table format and its flagship
  * derived store still lived on bespoke directory swaps).
  *
  * An index is THREE versioned tables under one root — `cells` (the
  * vectors with their PQ and SQ8 codes as columns, the IVFADC
  * inverted-list entry), `centroids` and `pq_codebooks` — each a
  * [[TableFormat]] manifested table with its own generations, CAS
  * markers and per-file statistics. An append, a purge or a
  * compaction advances `cells` alone; a build or rebuild advances all
  * three. Every mutation then publishes ONE top-level marker
  * (`icommit_<g>`) pinning the exact substore generation triple —
  * the Iceberg shape: data files → per-table metadata → one atomic
  * catalog-pointer swap. Readers
  * resolve the pointer once (one [[Pin]] per request) and read every
  * substore AT ITS PINNED GENERATION, so no reader can ever observe
  * new cells beside old centroids (the cross-store torn read the old
  * rename-swap rebuild had a window for); a crash between substore
  * commits leaves the previous triple fully live, and the next
  * writer ([[commit]]) expires the unpinned substore markers first,
  * so it never builds on them. Index generations are TIME TRAVEL for
  * the whole index: pin g and every probe sees the index exactly as
  * it was (reference posture: engine.py:163 mutates its store in
  * place and keeps no history).
  *
  * Single-writer by contract, like every maintenance verb here (the
  * daily loop owns its index); the marker install is still the CAS
  * link, so an accidental second writer fails loudly rather than
  * silently last-wins. Scale shape: the pointer is one tiny file;
  * resolution is one read; nothing here grows with the corpus.
  */
object IndexCatalog {

  /** The substores an index carries. */
  val stores: Seq[String] = Seq("cells", "centroids", "pq_codebooks")

  private[graft] def currentGen(path: String): Long =
    Markers.index.current(path).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed index generation under $path"))

  /** The pinned (substore → generation) map of index generation `g`. */
  private[graft] def pins(path: String, g: Long): Map[String, Long] =
    Markers.index.read(path, g).linesIterator
      .map(_.trim.split(":", 2))
      .collect { case Array(s, v) if s.nonEmpty => s -> v.toLong }
      .toMap

  /** THE index write: expire every substore marker above its current
    * pin (all of them when unpinned) — under the single-writer
    * contract, a crashed writer's debris — then run `write`'s
    * substore commits and publish the current generation of every
    * existing substore as the next index generation: the one atomic
    * commit point of a multi-store mutation, the same [[Markers]] CAS
    * as every table commit, so a second writer racing the same id
    * fails loudly. Returns `write`'s result. */
  private[graft] def commit[A](path: String)(write: => A): A = {
    val cur = Markers.index.current(path)
    val pinned = cur.fold(Map.empty[String, Long])(pins(path, _))
    stores.foreach(s =>
      Markers.table.expire(s"$path/$s", g => pinned.get(s).forall(g > _)))
    val out = write
    val g = cur.fold(0L)(_ + 1)
    val published = stores.flatMap { s =>
      TableFormat.currentGenOption(s"$path/$s").map(s -> _)
    }
    if (!Markers.index.publish(path, g,
        published.map { case (s, v) => s"$s:$v" }.mkString("\n")))
      throw new IllegalStateException(
        s"index publish($g) raced a concurrent writer on $path")
    out
  }

  /** One index generation resolved once: the substore generations it
    * pins. A request reads every substore through ONE pin, so a
    * publish between its reads can never hand it centroids of
    * generation g beside cells of g+1. */
  private[graft] final case class Pin(path: String, gen: Long,
      stores: Map[String, Long]) {

    private[graft] def genOf(store: String): Long = stores.getOrElse(store,
      throw new java.io.FileNotFoundException(
        s"index generation $gen of $path does not pin substore $store"))

    /** `store` at its pinned generation, via its manifest file list
      * and recorded schema. */
    def read(spark: SparkSession, store: String): DataFrame = {
      val (root, sg) = (s"$path/$store", genOf(store))
      TableFormat.readViaManifest(spark, root, sg,
        TableFormat.genSchema(root, sg))
    }

    /** Manifest-pruned read of `store` for a discrete `values` set on
      * `key` — the probe path: only files whose stats can hold a
      * probed value are read; callers keep their residual filters
      * (the scan is a superset by stats). */
    def readPruned(spark: SparkSession, store: String, key: String,
        values: Seq[Any]): DataFrame = {
      val (root, sg) = (s"$path/$store", genOf(store))
      TableFormat.readPrunedIn(spark, root, sg,
        TableFormat.genSchema(root, sg), key, values)
    }

    /** `store`'s pinned rows held on the driver, as a LocalRelation
      * — None when the generation has more than [[smallRowsCap]] rows
      * or its rows outweigh [[SmallRowsEntryBytes]]. */
    def smallRows(spark: SparkSession, store: String): Option[DataFrame] = {
      val (root, sg) = (s"$path/$store", genOf(store))
      val n = TableFormat.manifestMeta(spark, root, sg).stats
        .map(_.getAs[Long]("n_rows")).sum
      if (n > smallRowsCap) None
      else smallRowsCache.getOrLoad(TableFormat.manifestPath(root, sg)) {
        val rows = graft.operators.EmbeddingStore.collectBounded(
          read(spark, store), smallRowsCap, s"cached $store rows").toSeq
        Some(rows).filter(r =>
          org.apache.spark.util.SizeEstimator.estimate(r) <= SmallRowsEntryBytes)
      }.map(TableFormat.localFrame(spark, _, TableFormat.genSchema(root, sg)))
    }
  }

  /** The CURRENT index generation, resolved once. */
  private[graft] def pin(path: String): Pin = pinAt(path, currentGen(path))

  private[graft] def pinAt(path: String, g: Long): Pin =
    Pin(path, g, pins(path, g))

  /** Read `store` at the index generation `g`'s pinned substore
    * generation. */
  private[graft] def readAt(spark: SparkSession, path: String, g: Long,
      store: String): DataFrame =
    pinAt(path, g).read(spark, store)

  /** Read `store` at the CURRENT index generation. The pin resolves
    * at plan-construction time, so the frame is a stable snapshot
    * even if a writer publishes mid-query (generations are
    * immutable). */
  private[graft] def read(spark: SparkSession, path: String,
      store: String): DataFrame =
    pin(path).read(spark, store)

  /** [[Pin.readPruned]] at the current index generation. */
  private[graft] def readPruned(spark: SparkSession, path: String,
      store: String, key: String, values: Seq[Any]): DataFrame =
    pin(path).readPruned(spark, store, key, values)

  // ---------------------------------------------------------------
  // Driver-side rows of small pinned substore generations
  //
  // The centroids and the PQ codebooks are index METADATA: a few
  // hundred rows that every request of a session reads and no
  // request changes. The driver keeps them per generation, keyed by
  // the generation's manifest identity (the key of
  // TableFormat.manifestCache, so a root deleted and rebuilt at the
  // same generation id is a new key), and serves them as a
  // LocalRelation that Catalyst folds without a job. Larger
  // generations keep the distributed read.
  // ---------------------------------------------------------------

  /** A substore generation of at most this many rows (the manifest's
    * `n_rows` sum, so deciding runs no job) is loaded once, through a
    * bounded collect with this bound. A `var` ONLY so specs can force
    * the distributed path. */
  private[graft] var smallRowsCap: Long = 4096L

  /** Bytes one cached generation may hold (SizeEstimator, measured
    * once after its load); a larger one is remembered as too big and
    * read distributed from then on. */
  private[graft] val SmallRowsEntryBytes: Long = 4L << 20

  /** Generations the cache holds. Worst case: 16 entries × 4 MiB =
    * 64 MiB. */
  private[graft] val SmallRowsEntries = 16

  private val smallRowsCache = new TableFormat.IdentityCache[
    Option[Seq[org.apache.spark.sql.Row]]](SmallRowsEntries)

  /** Retention over the whole index: keep the newest `keep` index
    * generations; every substore vacuums by REACHABILITY down to the
    * oldest generation any retained pin names, and expired top-level
    * markers go with their triples. Returns reaped data files. */
  private[graft] def vacuum(spark: SparkSession, path: String,
      keep: Int): Long = {
    require(keep >= 1, "retention must keep at least the current index gen")
    val cur = currentGen(path)
    val retained = Markers.index.gens(path).filter(_ > cur - keep)
    val reaped = stores.flatMap { s =>
      val root = s"$path/$s"
      TableFormat.currentGenOption(root).map { sCur =>
        val minPin = retained.flatMap(g => pins(path, g).get(s)).minOption
          .getOrElse(sCur)
        TableFormat.vacuumTable(spark, root,
          keep = (sCur - minPin + 1).toInt).files
      }
    }.sum
    Markers.index.expire(path, _ <= cur - keep)
    reaped
  }
}
