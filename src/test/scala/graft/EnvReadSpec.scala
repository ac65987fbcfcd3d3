package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables are read only by the entry mains. A library
  * class that reads env grows a toggle no test or benchmark sets, and
  * two code paths behind it; settings reach the library as parameters
  * or session conf instead. The same holds for a conf key of the
  * library's own: `spark.graft.*` keys are never read, and Spark's
  * own confs (`spark.sql.optimizer.excludedRules` for a rule) switch
  * what a test needs switched.
  */
class EnvReadSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")
  private val entryMains =
    Set("graft/Bench.scala", "graft/Verify.scala", "graft/ProfileBench.scala")
  private val envRead = """sys\.env|System\.getenv""".r
  private val stringLit = """"(?:[^"\\]|\\.)*"""".r

  private lazy val files = {
    val walk = Files.walk(mainSrc)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
  private def rel(p: Path) = mainSrc.relativize(p).toString.replace('\\', '/')

  /** A line's code: empty for a comment line, else the text before a
    * trailing `//` comment (a `//` inside a string literal is kept).
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")) ""
    else {
      val masked = stringLit.replaceAllIn(line, m => "\"" + "_" * (m.matched.length - 2) + "\"")
      val cut = masked.indexOf("//")
      if (cut < 0) line else line.substring(0, cut)
    }
  }

  test("only the entry mains Bench, Verify and ProfileBench read env") {
    assert(files.size > 50, s"scanned only ${files.size} files under $mainSrc")
    val offenders = for {
      f <- files if !entryMains.contains(rel(f))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"env read outside the entry mains:\n${offenders.mkString("\n")}")
  }

  test("no code under src/main names a spark.graft.* conf key") {
    assert(files.size > 50, s"scanned only ${files.size} files under $mainSrc")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if stringLit.findAllIn(code(line)).exists(_.startsWith("\"spark.graft."))
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"library conf keys (pass a parameter instead):\n${offenders.mkString("\n")}")
  }
}
