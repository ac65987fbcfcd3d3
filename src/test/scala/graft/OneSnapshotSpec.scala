package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A `GraftTable` operation works against one snapshot: it reads the
  * head once and derives version, schema, spec, live files and
  * tombstones from it; a lost commit race and a changelog read load
  * only the versions in their own range (`commitsIn`). Every read of
  * `commits` lists `_commits/` and reads and hashes every commit json,
  * so a helper that reaches for it inside an operation multiplies the
  * operation's metadata cost by the log length. The
  * empty table is the one `CommitMeta.Empty` value, never an ad-hoc
  * literal.
  */
class OneSnapshotSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")
  private val table = mainSrc.resolve("graft/tables/GraftTable.scala")

  /** The methods of `GraftTable` that may read the log. */
  private val logReaders = Set(
    // the log itself
    "commits",
    // answers that are a property of the whole log, not of one
    // snapshot: metadata tables, time travel by timestamp, expiry,
    // orphans and branches
    "snapshots", "manifestInfo", "versionAsOf", "expireSnapshots", "removeOrphans",
    "createBranch", "fastForward")

  private val memberDef = """^  (?:private(?:\[\w+\])? )?(?:override )?def (\w+)""".r.unanchored
  private val logRead = """\bcommits\b""".r
  private val stringLit = "\"(?:[^\"\\\\]|\\\\.)*\""

  /** (line number, code without comments and string literals). */
  private def code(p: Path): Seq[(Int, String)] =
    Files.readAllLines(p).asScala.toIndexedSeq.zipWithIndex.flatMap { case (raw, i) =>
      val t = raw.trim
      if (t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")) None
      else Some((i + 1, raw.replaceAll(stringLit, "\"\"").replaceAll("//.*$", "")))
    }

  test("GraftTable reads the log only in the snapshot lookups, the retry path and log-wide readers") {
    var enclosing = ""
    val offenders = code(table).flatMap { case (n, line) =>
      memberDef.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
      if (logRead.findFirstIn(line).isDefined && !logReaders(enclosing))
        Some(s"GraftTable.scala:$n (in $enclosing): ${line.trim}")
      else None
    }
    assert(offenders.isEmpty,
      s"log reads outside the allowed readers:\n${offenders.mkString("\n")}")
    assert(!code(table).exists(_._2.contains("Option[CommitMeta]")),
      "the empty table is CommitMeta.Empty, not an Option of a snapshot")
  }

  test("the empty snapshot is one value, CommitMeta.Empty") {
    val walk = Files.walk(mainSrc)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $mainSrc")
    val literals = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("CommitMeta(0, 0L, \"empty\"")
    } yield s"${mainSrc.relativize(f)}:${i + 1}: ${line.trim}"
    assert(literals.size == 1 && literals.head.contains("val Empty"),
      s"empty-snapshot literals outside CommitMeta.Empty:\n${literals.mkString("\n")}")
  }
}
