package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-copied scaffolding out of `src/main`: sessions are built only in
  * [[GraftSession]], the only entry points are `Bench` and `Verify`, and the
  * Hamming chassis has one entry per operator (the band layout follows
  * `maxHamming`, so no `…Wide` twin is needed). A window frame that runs to the
  * partition's end starts at its beginning: Spark recomputes a frame with any other
  * lower bound (a shrinking frame) for every row, O(n²) per partition. */
class ScaffoldingSpec extends AnyFunSuite {
  private val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    assert(sources.exists(_._1.endsWith("GraftSession.scala")), "scan found no sources")
    val offenders = sources.collect {
      case (p, text) if text.contains("SparkSession.builder()") &&
        !p.endsWith("GraftSession.scala") => p.toString
    }
    assert(offenders.isEmpty, s"build sessions with GraftSession.builder(): $offenders")
  }

  test("def main is defined only in Bench.scala and Verify.scala") {
    val entry = "def\\s+main\\s*\\(".r
    val mains = sources.collect {
      case (p, text) if entry.findFirstIn(text).nonEmpty => p.getFileName.toString
    }
    assert(mains.sorted == Seq("Bench.scala", "Verify.scala"),
      s"measure with Bench, A/B by running it on two commits: $mains")
  }

  test("no hamming64 ...Wide twin is defined") {
    val wide = "def\\s+hamming64\\w*Wide\\b".r
    val offenders = sources.collect {
      case (p, text) if wide.findFirstIn(text).nonEmpty => p.toString
    }
    assert(offenders.isEmpty, s"the band layout follows maxHamming: $offenders")
  }

  test("a frame running to unboundedFollowing starts at unboundedPreceding") {
    assert(sources.exists(_._1.endsWith("SeriesOps.scala")), "scan found no sources")
    val frame = """(?:rows|range)Between\(\s*([^,()]+?)\s*,\s*(?:[\w.]+\.)?unboundedFollowing\s*\)""".r
    val offenders = sources.flatMap { case (p, text) =>
      frame.findAllMatchIn(text).map(_.group(1))
        .filterNot(_.endsWith("unboundedPreceding")).map(lower => s"$p: $lower")
    }
    assert(offenders.isEmpty,
      s"shrinking frame; take the value over the reversed order instead: $offenders")
  }
}
