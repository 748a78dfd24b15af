package graft.sources

import java.nio.file.{Files, Path, Paths}

/** Commit markers — the one commit point of every versioned root.
  * Generation `g` of a root is committed by CREATING the file
  * `<prefix><g>`; its content is complete before the name appears (a
  * temp file published as a hard link), and link creation fails
  * when the target exists, so exactly one writer ever owns a
  * generation id and no reader can observe a half-written marker.
  * [[TableFormat]] names a generation's data dir in `commit_<g>`;
  * [[IndexCatalog]] pins a substore quintuple in `icommit_<g>`. */
private[graft] final class Markers(prefix: String) {

  def path(root: String, gen: Long): Path = Paths.get(root, s"$prefix$gen")

  /** The committed generations under `root`, ascending — ONE directory
    * listing, O(retained generations) (a format's log-tail cost). */
  def gens(root: String): Seq[Long] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .flatMap(f =>
        if (f.isFile && f.getName.startsWith(prefix))
          f.getName.stripPrefix(prefix).toLongOption
        else None)
      .sorted

  /** The newest committed generation. Markers are contiguous by
    * construction (a writer can only claim current + 1), so highest =
    * newest. */
  def current(root: String): Option[Long] = gens(root).lastOption

  def read(root: String, gen: Long): String =
    Files.readString(path(root, gen)).trim

  /** Every committed generation with its marker content. */
  def list(root: String): Map[Long, String] =
    gens(root).map(g => g -> read(root, g)).toMap

  /** CAS-publish generation `gen` with `content`. Returns false when
    * the generation is already committed. A crash between the link and
    * the temp delete leaves a second hard link to the same inode —
    * debris [[isTemp]] recognizes. */
  def publish(root: String, gen: Long, content: String): Boolean = {
    val tmp = Files.createTempFile(Paths.get(root), s"_$prefix", ".tmp")
    Files.writeString(tmp, content)
    try { Files.createLink(path(root, gen), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Delete every marker at or below `upTo` (retention). */
  def expire(root: String, upTo: Long): Unit =
    gens(root).filter(_ <= upTo)
      .foreach(g => Files.deleteIfExists(path(root, g)))

  /** A marker temp file [[publish]] left behind on a crash. */
  def isTemp(f: java.io.File): Boolean =
    f.isFile && f.getName.startsWith(s"_$prefix") && f.getName.endsWith(".tmp")
}

private[graft] object Markers {
  val table = new Markers("commit_")
  val index = new Markers("icommit_")
}
