package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every micro-batch write to a table, and every file stream over a
  * table's data dir, goes through `graft/streaming/Sinks.scala`. The
  * sink protocol (persist, one emptiness probe, exactly-once writes,
  * unpersist) and the tail's options then have one definition, and a
  * new sink cannot drift from it.
  */
class OneSinkSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")
  private val sinks = "graft/streaming/Sinks.scala"
  private val foreachBatch = """\.foreachBatch\b""".r
  // a readStream chain spans a few builder lines before its path
  private val TailLines = 6

  test("foreachBatch and table tails appear only in Sinks.scala") {
    val walk = Files.walk(mainSrc)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $mainSrc")
    def rel(p: Path) = mainSrc.relativize(p).toString.replace('\\', '/')
    val hits = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      val batches = lines.indices.filter(i => foreachBatch.findFirstIn(lines(i)).isDefined)
      val tails = lines.indices.filter(i => lines(i).contains("readStream"))
        .flatMap(i => (i until (i + TailLines).min(lines.size)).find(j =>
          lines(j).contains("dataPath")))
      (batches ++ tails).distinct.sorted.map(i => (rel(f), s"${rel(f)}:${i + 1}: ${lines(i).trim}"))
    }
    val offenders = hits.filter(_._1 != sinks).map(_._2)
    assert(offenders.isEmpty,
      s"foreachBatch or a table tail outside $sinks:\n${offenders.mkString("\n")}")
    assert(hits.count(h => h._1 == sinks && foreachBatch.findFirstIn(h._2).isDefined) == 1,
      s"$sinks must hold exactly one foreachBatch, in Sinks.start")
  }
}
