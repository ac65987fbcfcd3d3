package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables are read only by the entry mains. A library
  * class that reads env grows a toggle no test or benchmark sets, and
  * two code paths behind it; settings reach the library as parameters
  * or session conf instead.
  */
class EnvReadSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")
  private val entryMains =
    Set("graft/Bench.scala", "graft/Verify.scala", "graft/ProfileBench.scala")
  private val envRead = """sys\.env|System\.getenv""".r

  test("only the entry mains Bench, Verify and ProfileBench read env") {
    val walk = Files.walk(mainSrc)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $mainSrc")
    def rel(p: Path) = mainSrc.relativize(p).toString.replace('\\', '/')
    val offenders = for {
      f <- files if !entryMains.contains(rel(f))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"${rel(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"env read outside the entry mains:\n${offenders.mkString("\n")}")
  }
}
