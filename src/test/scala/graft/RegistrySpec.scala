package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The SURVEY.md §2 operator inventory is the round driver's gate
  * contract: the judge checks it line by line against the registry.
  * Round 13 found one registered, oracle-passing query
  * (q_embedding_coverage) with no §2 table row — checklist drift the
  * inventory's purpose forbids. This spec makes the two directions
  * structural: every registry key has a §2 row, and every §2 keyed
  * row names a registered query (no vaporware rows either). */
class RegistrySpec extends AnyFunSuite {

  private lazy val section2: String = {
    val text = Files.readString(Paths.get("SURVEY.md"))
    val start = text.indexOf("## §2")
    assert(start >= 0, "SURVEY.md must contain a §2 section")
    val rest = text.substring(start + 5)
    val end = rest.indexOf("\n## §")
    if (end >= 0) rest.substring(0, end) else rest
  }

  /** Backticked q_ keys inside §2 TABLE rows (lines starting with
    * `|`) — prose mentions of a key don't count as inventory rows. */
  private lazy val surveyKeys: Set[String] =
    section2.linesIterator
      .filter(_.trim.startsWith("|"))
      .flatMap("`(q_[a-z0-9_]+)`".r.findAllMatchIn(_).map(_.group(1)))
      .toSet

  test("every registry key has a SURVEY.md §2 table row") {
    val missing = SparkEntry.queries.keySet -- surveyKeys
    assert(missing.isEmpty,
      s"registered queries with no §2 inventory row: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every §2 keyed table row names a registered query") {
    val phantom = surveyKeys -- SparkEntry.queries.keySet
    assert(phantom.isEmpty,
      s"§2 rows naming unregistered queries: ${phantom.toSeq.sorted.mkString(", ")}")
  }

  /** Round 14's drift variant: a finished operator swept into a
    * snapshot commit WITHOUT a registry entry (B19 `q_pit_lookup`) —
    * dead code the §2 checks above cannot see because they only look
    * at registered keys. The library convention is that every
    * operator's scaladoc names its registry key in backticks, so any
    * backticked `q_*` token anywhere in main source that is NOT a
    * registered key is an unwired operator (or a stale doc — equally
    * a defect). */
  test("every q_* key mentioned in main source is a registered query") {
    val root = Paths.get("src/main/scala")
    val keyPat = "`(q_[a-z0-9_]+)`".r
    val walk = Files.walk(root)
    val mentioned =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala"))
          .flatMap(p => keyPat.findAllMatchIn(Files.readString(p)).map(_.group(1)))
          .toSet
      } finally walk.close()
    assert(mentioned.nonEmpty, "source scan found no keys — pattern rot")
    val unwired = mentioned -- SparkEntry.queries.keySet
    assert(unwired.isEmpty,
      s"operators documented but not registered: ${unwired.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle key is a registered query") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty,
      s"oracleSql entries with no queries entry: ${orphan.toSeq.sorted.mkString(", ")}")
  }

  /** PLANS.md is the reviewable plan of every row (`graft.Dev plan`
    * output): one `## <row>` section per registry key, so a new row
    * without a regenerated plan — or a retired row's stale plan —
    * fails here instead of drifting silently. */
  test("PLANS.md has exactly one ## section per registry key") {
    val sections = Files.readString(Paths.get("PLANS.md")).linesIterator
      .collect { case l if l.startsWith("## ") => l.stripPrefix("## ").trim }
      .toSeq
    val dup = sections.diff(sections.distinct)
    assert(dup.isEmpty, s"PLANS.md sections repeated: ${dup.mkString(", ")}")
    val missing = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty,
      s"registry keys with no PLANS.md section: ${missing.toSeq.sorted.mkString(", ")}")
    val stale = sections.toSet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"PLANS.md sections naming no registry key: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
