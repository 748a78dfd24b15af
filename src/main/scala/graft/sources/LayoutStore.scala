package graft.sources

import java.io.File

/** Build-once home for DERIVED STORAGE LAYOUTS — the persisted IVF
  * index, the date-partitioned events rewrite, the replicated scaling
  * corpora: artifacts that are paid once at write/ETL time and probed
  * by every query after (SURVEY.md §8). One object owns three
  * decisions the ensure* helpers used to each make alone:
  *
  * WHERE — resolution order for the layouts root:
  *  1. `SPARK_GRAFT_STORAGE_DIR` (explicit operator choice);
  *  2. `<dataDir>/_graft_layouts` when the data dir is writable — the
  *     production shape: layouts live BESIDE the data they derive
  *     from, on the same storage the cluster already reads;
  *  3. `<java.io.tmpdir>/graft_layouts_<user>` otherwise (this
  *     sandbox's read-only testdata; user-suffixed so predictable
  *     paths cannot collide across users on a shared host).
  * Whatever resolves, it is ONE directory: `rm -rf` of the root
  * forces every layout to rebuild.
  *
  * WHEN — a layout key is md5(absolute dir | content fingerprint |
  * rule version). The FINGERPRINT folds each top-level entry's name,
  * total size and mtime, so data replaced at the same path yields a
  * NEW key and the stale layout is simply never probed again (the
  * round-7 cache keyed on path alone would silently serve an index
  * built from the old data). A rule change bumps the version string,
  * same effect.
  *
  * HOW — `_BUILT`-marker idempotence, unchanged: a missing marker
  * (fresh root, aborted build) triggers a full rebuild; a present
  * marker short-circuits to the existing layout.
  *
  * (The bucketed tables are the one derived layout NOT here: a
  * bucketed table's bucket spec lives in the session catalog, not in
  * the files, so Spark owns its location — the warehouse dir — and
  * Bucketing.ensureLayout manages it per session.)
  */
object LayoutStore {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Is the dir MARKED writable? Deliberately the permission BITS
    * (owner-write), not effective access (`canWrite`): a root process
    * bypasses permission checks, so `canWrite` would claim a
    * dr-xr-xr-x data dir writable and layouts would land inside a
    * directory its owner explicitly marked read-only. */
  private def markedWritable(dir: File): Boolean =
    try {
      import java.nio.file.attribute.PosixFilePermission.OWNER_WRITE
      dir.isDirectory && java.nio.file.Files
        .getPosixFilePermissions(dir.toPath).contains(OWNER_WRITE)
    } catch { case _: Exception => false } // non-POSIX FS: assume read-only

  /** The layouts root for a data dir (see object scaladoc). The
    * `spark.graft.storage.dir` system property outranks the env var:
    * it is the per-JVM override a spec (or a spark-submit `-D`) can
    * set without touching the process environment. */
  def root(dataDir: String): File =
    sys.props.get("spark.graft.storage.dir")
      .orElse(sys.env.get("SPARK_GRAFT_STORAGE_DIR"))
      .map(new File(_)).getOrElse {
        val data = new File(dataDir)
        if (markedWritable(data)) new File(data, "_graft_layouts")
        else new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft_layouts_${sys.props.getOrElse("user.name", "anon")}")
      }

  /** Per-invocation SCRATCH that executors can reach. The episode and
    * sink rows (export manifest, search-refresh store, advance-day
    * copy) stage short-lived parquet stores that both the driver and
    * every executor write/read; `java.io.tmpdir` only works for that
    * on local[*], where driver and executors share one filesystem. On
    * a real cluster the scratch must live on CLUSTER-SHARED storage —
    * exactly what the layouts root already resolves to (explicit
    * `SPARK_GRAFT_STORAGE_DIR`, or beside the data the cluster is
    * reading) — so scratch dirs are allocated under `<root>/_scratch`
    * and deleted by their caller when the row's small result is
    * pinned. The UUID suffix keeps concurrent invocations (bench
    * passes, parallel suites) disjoint. */
  def scratch(dataDir: String, prefix: String): File = {
    val home = new File(root(dataDir), "_scratch")
    home.mkdirs()
    val d = new File(home,
      s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
    d.mkdirs()
    // attribution FIRST (before any content lands): vacuum only ever
    // reaps scratch it can prove belongs to the vacuuming data dir —
    // under a shared root, ageing alone must never delete another
    // dataset's in-flight scratch
    java.nio.file.Files.writeString(new File(d, "_OWNER").toPath,
      new File(dataDir).getAbsolutePath + "\n")
    d
  }

  /** Recursive byte size of a file tree (shared by [[fingerprint]]
    * and [[vacuum]]). */
  private def sizeOfTree(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(sizeOfTree).sum

  /** Cheap content fingerprint of a data dir: (name, size, mtime) of
    * each top-level entry (one stat walk, no data read — the same
    * facts a parquet reader's file listing already fetches). Layout
    * dirs are excluded so a root placed beside the data cannot
    * fingerprint itself. */
  def fingerprint(dataDir: String): String = {
    val entries = Option(new File(dataDir).listFiles())
      .getOrElse(Array.empty[File])
      .filterNot(f => f.getName == "_graft_layouts" || f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${sizeOfTree(f)}:${f.lastModified()}")
    md5(entries.mkString("|"))
  }

  /** Recursive copy of a layout directory — for episodes that MUTATE
    * a persisted store (the daily-advance row): the pristine base is
    * built once via [[ensure]], and each run copies it to a private
    * location before advancing, so the cached layout is never
    * dirtied. A file copy is storage-layer work (no Spark jobs). */
  def copyRecursively(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => copyRecursively(f, new File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Clone a layout tree into an episode's private working dir by
    * HARD LINK for the parquet data files and byte-copy for everything
    * else. Parquet files are immutable once written — every mutation
    * in this library lands NEW files and a new manifest/marker, never
    * an in-place rewrite — so linking them is safe and makes the clone
    * O(files + metadata bytes) instead of O(data bytes): at a 100 TB
    * base the copy-then-mutate episode verbs (advance-day, index
    * maintenance, index history) would otherwise pay a full base
    * rewrite before doing any work (guide §6 — never rewrite carried
    * data). Small metadata files (markers, schemas, `_txn` records)
    * are copied — a linked inode rewritten in place would corrupt the
    * pristine base. Falls back to copy
    * when the filesystem refuses the link (cross-device scratch). */
  def cloneRecursively(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => cloneRecursively(f, new File(dst, f.getName)))
    } else if (src.getName.endsWith(".parquet")) {
      try java.nio.file.Files.createLink(dst.toPath, src.toPath)
      catch {
        case _: Exception =>
          java.nio.file.Files.copy(src.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive delete of a layout directory. */
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  /** Build-once: resolve the layout path for (dataDir, kind, rule
    * version), run `build(path)` if its `_BUILT` marker is missing,
    * and return the path. An `_OWNER` attribution file (the data
    * dir's absolute path) is written beside the marker — [[vacuum]]
    * only ever reaps dirs it can attribute, so a SHARED root (the
    * tmp fallback serves every data dir of a user) can never lose
    * another dataset's layouts to this one's GC. */
  def ensure(dataDir: String, kind: String, ruleVersion: String)
      (build: String => Unit): String = {
    val abs = new File(dataDir).getAbsolutePath
    val key = md5(s"$abs|${fingerprint(dataDir)}|$ruleVersion").take(12)
    val path = new File(root(dataDir), s"${kind}_$key")
    val marker = new File(path, "_BUILT")
    if (!marker.exists()) {
      build(path.getAbsolutePath)
      path.mkdirs() // a build that wrote nothing still gets a marker home
      java.nio.file.Files.writeString(
        new File(path, "_OWNER").toPath, abs + "\n")
      marker.createNewFile()
    } else if (!new File(path, "_OWNER").isFile) {
      // retrofit attribution onto pre-attribution layouts, so their
      // future stale generations become collectable (vacuum keeps
      // anything it cannot attribute)
      java.nio.file.Files.writeString(
        new File(path, "_OWNER").toPath, abs + "\n")
    }
    path.getAbsolutePath
  }

  /** A vacuum pass's outcome: what stayed, what was reaped, and the
    * bytes the reaped dirs held. */
  final case class VacuumReport(kept: Seq[String], deleted: Seq[String],
      bytesFreed: Long)

  /** MAINTENANCE (H5's compaction sibling — Delta VACUUM / Iceberg
    * expire_snapshots): garbage-collect this data dir's stale layout
    * generations. A layout dir is LIVE iff its name is exactly what
    * [[ensure]] resolves TODAY for one of `current`'s (kind,
    * ruleVersion) pairs — same data fingerprint, same rule version;
    * everything else OWNED BY THIS DATA DIR (the `_OWNER` file; the
    * staleness sources are a bumped rule version, changed data, or a
    * renamed dir) is reaped, as are THIS data dir's `_scratch` orphans
    * older than `maxScratchAgeMs` (crash leftovers — live scratch is
    * short-lived and deleted by its creator). Dirs owned by OTHER
    * data dirs and anything with no attribution — legacy layouts,
    * foreign scratch — are never touched, at any age: a GC that
    * cannot prove ownership must not delete.
    *
    * Scale shape: pure driver-side metadata (list + stat + delete) —
    * the same operation a table-maintenance service schedules beside
    * compaction; no Spark jobs. */
  def vacuum(dataDir: String, current: Seq[(String, String)],
      maxScratchAgeMs: Long = 24L * 3600 * 1000): VacuumReport = {
    val abs = new File(dataDir).getAbsolutePath
    val fp = fingerprint(dataDir)
    val live = current.map { case (kind, v) =>
      s"${kind}_${md5(s"$abs|$fp|$v").take(12)}"
    }.toSet
    val now = System.currentTimeMillis()
    val kept = Seq.newBuilder[String]
    val deleted = Seq.newBuilder[String]
    var freed = 0L
    def reap(d: File): Unit = {
      freed += sizeOfTree(d); deleted += d.getName; deleteRecursively(d)
    }
    Option(root(dataDir).listFiles()).getOrElse(Array.empty[File])
      .foreach { d =>
        // an unreadable/vanished _OWNER (racing process, fs error) is
        // "cannot prove ownership" — keep, never abort the sweep
        def ownedBy(dir: File): Boolean = {
          val owner = new File(dir, "_OWNER")
          owner.isFile && scala.util.Try(
            java.nio.file.Files.readString(owner.toPath).trim == abs)
            .getOrElse(false)
        }
        if (d.getName == "_scratch") {
          Option(d.listFiles()).getOrElse(Array.empty[File]).foreach { sd =>
            if (ownedBy(sd) && now - sd.lastModified() > maxScratchAgeMs)
              reap(sd)
            else kept += s"_scratch/${sd.getName}"
          }
        } else if (live(d.getName)) kept += d.getName
        else if (ownedBy(d)) reap(d)
        else kept += d.getName
      }
    VacuumReport(kept.result().sorted, deleted.result().sorted, freed)
  }
}
