package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-copied scaffolding out of `src/main`: sessions are built only in
  * [[GraftSession]], the only entry points are `Bench` and `Verify`, and the
  * Hamming chassis has one entry per operator (the band layout follows
  * `maxHamming`, so no `…Wide` twin is needed). A window frame that runs to the
  * partition's end starts at its beginning: Spark recomputes a frame with any other
  * lower bound (a shrinking frame) for every row, O(n²) per partition. Operators and
  * kernels do not pin storage: a persist outlives the call, and only a session-wide
  * cache clear frees it. */
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

  test("no persist, cache or checkpoint in graft/ops, graft/kernels or QaqcPipeline") {
    val scoped = sources.filter { case (p, _) =>
      val f = p.toString
      f.contains("/graft/ops/") || f.contains("/graft/kernels/") ||
        f.endsWith("/graft/pipeline/QaqcPipeline.scala")
    }
    val files = scoped.map(_._1.getFileName.toString).toSet
    assert(Set("SpikeOps.scala", "Butterworth.scala", "QaqcPipeline.scala").subsetOf(files),
      s"scan found no sources: $files")
    // file -> (method, reason)
    val allowed = Map("QaqcPipeline.scala" -> ("flagCountReport",
      "its union reads the flag counts twice (rows and total); a single-reference " +
        "GROUPING SETS aggregate would retire this entry"))
    def without(text: String, method: String): String = {
      val start = text.indexOf(s"def $method(")
      assert(start >= 0, s"allow-listed $method not found")
      val ends = Seq("\n  def ", "\n  /**").map(text.indexOf(_, start + 1)).filter(_ >= 0)
      text.take(start) + (if (ends.isEmpty) "" else text.drop(ends.min))
    }
    val pin = """persist\(|\.cache\(\)|checkpoint\(""".r
    val offenders = scoped.flatMap { case (p, text) =>
      val scanned = allowed.get(p.getFileName.toString).fold(text)(a => without(text, a._1))
      pin.findAllIn(scanned).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, s"an operator must not pin storage it cannot release: $offenders")
  }
}
