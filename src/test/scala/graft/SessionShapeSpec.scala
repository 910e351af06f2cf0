package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structure audit: `Sessions.local` is the one place a SparkSession is
  * built, so every main and the test suite run under the same shape (the
  * shape `Verify` checks results under is the shape `Bench` times). A
  * second builder anywhere under `src/` fails here with its file and line.
  */
class SessionShapeSpec extends AnyFunSuite {

  test("SparkSession is built only in Sessions.scala") {
    val builder = "SparkSession" + ".builder" // split: this file is scanned too
    val home = Paths.get("src/main/scala/graft/Sessions.scala")
    val files = scala.util.Using.resource(Files.walk(Paths.get("src")))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    def hits(f: Path): Seq[String] =
      new String(Files.readAllBytes(f), ISO_8859_1).linesIterator
        .zipWithIndex.collect {
          case (line, i) if line.contains(builder) => s"$f:${i + 1}"
        }.toSeq
    val elsewhere = files.filterNot(_ == home).sorted.flatMap(hits)
    assert(elsewhere.isEmpty,
      s"SparkSession built outside Sessions.local:\n${elsewhere.mkString("\n")}")
    assert(hits(home).nonEmpty, "sanity: the scan must see the one builder")
  }
}
