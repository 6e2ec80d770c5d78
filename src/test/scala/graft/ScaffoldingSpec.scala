package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-copied scaffolding out of `src/main`: sessions are built only in
  * [[GraftSession]], the only entry points are `Bench` and `Verify`, and the
  * Hamming chassis has one entry per operator (the band layout follows
  * `maxHamming`, so no `…Wide` twin is needed). A window frame that runs to the
  * partition's end starts at its beginning: Spark recomputes a frame with any other
  * lower bound (a shrinking frame) for every row, O(n²) per partition. Operators,
  * kernels, pipelines and sources do not pin storage: a persist outlives the call,
  * and only a session-wide cache clear frees it. Station containers are read
  * through one chassis, `StationRuns`, whose scan is the only place that turns
  * paths into partitions; no source builds a DataFrame from an `RDD[Row]`. The
  * series operators that run as `SeriesScan` kernels keep no window form beside
  * them. */
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

  test("the series-scan operators keep no window or mapPartitions twin") {
    // each operator's source from its def to the next member
    def member(file: String, name: String): String = {
      val text = sources.find(_._1.endsWith(file)).map(_._2)
        .getOrElse(fail(s"scan found no $file"))
      val from = text.indexOf(s"def $name(")
      assert(from >= 0, s"$file defines no $name")
      val next = "\n  (?:/\\*\\*|def |private )".r.findFirstMatchIn(text.substring(from + 1))
      text.substring(from, next.fold(text.length)(from + 1 + _.start))
    }
    val ops = Seq("SpikeOps.scala" -> "detectSpikes", "SpikeOps.scala" -> "body",
      "StreakOps.scala" -> "straightRepeats", "StreakOps.scala" -> "body",
      "SeriesOps.scala" -> "interpolateLinear", "Butterworth.scala" -> "lowPass")
    val twin = """(?<!SeriesScan)\.over\(|Window\.|mapPartitions|repartition\(|sortWithinPartitions""".r
    val offenders = ops.flatMap { case (f, d) =>
      twin.findFirstIn(member(f, d)).map(m => s"$f $d: $m") }
    assert(offenders.isEmpty, s"these operators run as SeriesScan kernels: $offenders")
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

  private def assertNoPin(scoped: Seq[(Path, String)], expected: Set[String]): Unit = {
    val files = scoped.map(_._1.getFileName.toString).toSet
    assert(expected.subsetOf(files), s"scan found no sources: $files")
    val pin = """persist\(|\.cache\(\)|checkpoint\(""".r
    val offenders = scoped.flatMap { case (p, text) =>
      pin.findAllIn(text).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty, s"an operator must not pin storage it cannot release: $offenders")
  }

  test("no persist, cache or checkpoint in graft/ops, graft/kernels or QaqcPipeline") {
    val scoped = sources.filter { case (p, _) =>
      val f = p.toString
      f.contains("/graft/ops/") || f.contains("/graft/kernels/") ||
        f.endsWith("/graft/pipeline/QaqcPipeline.scala")
    }
    assertNoPin(scoped, Set("SpikeOps.scala", "Butterworth.scala", "QaqcPipeline.scala"))
  }

  test("no persist, cache or checkpoint in the other graft/pipeline files or graft/sources") {
    val scoped = sources.filter { case (p, _) =>
      val f = p.toString
      (f.contains("/graft/pipeline/") && !f.endsWith("/QaqcPipeline.scala")) ||
        f.contains("/graft/sources/")
    }
    assertNoPin(scoped, Set("MergePipeline.scala", "StationRuns.scala"))
  }

  test("in graft/sources only the StationRuns chassis distributes paths or defines StationData") {
    val scoped = sources.filter(_._1.toString.contains("/graft/sources/"))
    val files = scoped.map(_._1.getFileName.toString).toSet
    assert(Set("StationRuns.scala", "StationScan.scala", "ZarrSource.scala", "NcSource.scala",
      "Hdf5Source.scala").subsetOf(files), s"scan found no sources: $files")
    // the chassis' scan is the one place that turns container paths into partitions
    val offenders = scoped.collect {
      case (p, text) if !p.endsWith("StationScan.scala") &&
        (text.contains("InputPartition") || text.contains("HasPartitionKey")) => p.toString
      case (p, text) if !p.endsWith("StationRuns.scala") &&
        text.contains("case class StationData") => p.toString
    }
    assert(offenders.isEmpty, s"read station containers through StationRuns.readStations: $offenders")
    val chassis = scoped.find(_._1.endsWith("StationRuns.scala")).get._2
    assert("case class StationData".r.findAllIn(chassis).length == 1)
    // one container type, unboxed, in both directions: its column type is defined
    // next to it, and no boxed column or second container type is left
    assert("sealed abstract class StationColumn".r.findAllIn(chassis).length == 1)
    val boxed = scoped.flatMap { case (p, text) =>
      val other = if (p.endsWith("StationRuns.scala")) Nil
        else """class StationColumn|class StationData""".r.findAllIn(text).toList
      ("""Array\[Any\]|\bStationRun\b|\bRunColumn\b""".r.findAllIn(text).toList ++ other)
        .map(m => s"$p: $m")
    }
    assert(boxed.isEmpty, s"station containers are one StationData of StationColumns: $boxed")
  }

  test("graft/sources builds no RDD[Row], createDataFrame or parallelize") {
    val scoped = sources.filter(_._1.toString.contains("/graft/sources/"))
    assert(scoped.exists(_._1.endsWith("StationRuns.scala")), "scan found no sources")
    val rowRdd = """RDD\[Row\]|createDataFrame\(|\.parallelize\(""".r
    val offenders = scoped.flatMap { case (p, text) =>
      rowRdd.findAllIn(text).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty,
      s"station containers are a DataSource V2 scan and a plan-node sink: $offenders")
  }
}
