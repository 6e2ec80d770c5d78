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
  * them. The banded near-dup operators pair through one bucket chassis, and each
  * band-key family has one definition that its pair operator, cap ledger and
  * streaming twin share. Each cached media fixture tag is written at one call
  * site, so a fixture bump cannot leave a query reading a stale cache. The ANN
  * search ops rank through one `topK` and probe IVF cells through one join, and
  * `graft/ann` pins no storage beyond the k-means lineage cut. */
class ScaffoldingSpec extends AnyFunSuite {
  private val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def source(file: String): String =
    sources.find(_._1.endsWith(file)).map(_._2).getOrElse(fail(s"scan found no $file"))

  private def occurrences(text: String, literal: String): Seq[Int] =
    java.util.regex.Pattern.quote(literal).r.findAllMatchIn(text).map(_.start).toSeq

  // a member's source from its def to the next member
  private def member(file: String, name: String): String = {
    val text = source(file)
    val from = text.indexOf(s"def $name(")
    assert(from >= 0, s"$file defines no $name")
    val next = "\n  (?:/\\*\\*|def |private )".r.findFirstMatchIn(text.substring(from + 1))
    text.substring(from, next.fold(text.length)(from + 1 + _.start))
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

  test("the banded near-dup operators pair through one bucket chassis") {
    val collects = sources.flatMap { case (p, text) =>
      occurrences(text, "collect_list(col(\"_rec\"))").map(_ => p.getFileName.toString)
    }
    assert(collects == Seq("DedupOps.scala"),
      s"pair bucket members through DedupOps.bandPairs: $collects")
    assert(member("DedupOps.scala", "bandPairs").contains("collect_list(col(\"_rec\"))"))
    val ops = Seq("hamming64Pairs", "hamming64IncrementalNearDups", "minhashNearDups",
      "incrementalNearDups", "simhashNearDups", "embeddingNearDups")
      .map("DedupOps.scala" -> _) :+ ("MultimodalOps.scala" -> "videoNearDupsFromKeyframes")
    val bypass = ops.collect { case (f, op) if !member(f, op).contains("bandPairs(") => op }
    assert(bypass.isEmpty, s"these banded ops do not pair through bandPairs: $bypass")
  }

  test("each band-key family is defined once and shared by its pair op and ledger") {
    val dedup = source("DedupOps.scala")
    // the simhash band shift and the hyperplane band substring live only in their
    // key functions (the oracle SQL in QueriesLlm is not scanned)
    for ((keys, form) <- Seq("simhashBandKeys" -> """8 \* b\b""",
                             "rhBandKeys" -> """substring\(\w+, b \* """)) {
      val all = form.r.findAllIn(dedup).length
      assert(all == 1 && form.r.findAllIn(member("DedupOps.scala", keys)).length == 1,
        s"$form appears $all times in DedupOps.scala; define it only in $keys")
    }
    val users = Seq(
      "lshBandKeys" -> Seq("DedupOps.scala" -> "minhashNearDups",
        "DedupOps.scala" -> "incrementalNearDups", "DedupOps.scala" -> "minhashCapStatsFromSig",
        "StreamingOps.scala" -> "incrementalDedupStream",
        "StreamingOps.scala" -> "corpusBandTable"),
      "simhashBandKeys" -> Seq("DedupOps.scala" -> "simhashNearDups",
        "DedupOps.scala" -> "simhashCapStats"),
      "rhBandKeys" -> Seq("DedupOps.scala" -> "embeddingNearDups",
        "DedupOps.scala" -> "embeddingCapStats"),
      "hamming64BandKeys" -> Seq("DedupOps.scala" -> "hamming64Pairs",
        "DedupOps.scala" -> "hamming64IncrementalNearDups", "DedupOps.scala" -> "hamming64CapStats",
        "MultimodalOps.scala" -> "videoNearDupsFromKeyframes",
        "StreamingOps.scala" -> "codeDedupStream", "StreamingOps.scala" -> "codeBandTable"))
    val missing = users.flatMap { case (keys, ops) =>
      assert(sources.flatMap(s => occurrences(s._2, s"def $keys(")).length == 1, keys)
      ops.collect { case (f, op) if !member(f, op).contains(s"$keys(") => s"$op: $keys" }
    }
    assert(missing.isEmpty, s"audited keys must be the join keys: $missing")
  }

  test("the ANN search ops rank through one topK and probe through one IVF join") {
    assert(occurrences(source("AnnOps.scala"), "row_number().over(").length == 1 &&
      member("AnnOps.scala", "topK").contains("row_number().over("),
      "rank per query through AnnOps.topK")
    // the definition plus the one call in the probe chassis
    val probes = sources.flatMap { case (p, text) =>
      occurrences(text, "ivfProbes(").map(_ => p.getFileName.toString)
    }
    assert(probes == Seq("AnnOps.scala", "AnnOps.scala") &&
      member("AnnOps.scala", "ivfProbeJoin").contains("ivfProbes("),
      s"probe IVF cells through AnnOps.ivfProbeJoin: $probes")
  }

  // \w*[cC]: localCheckpoint( pins storage too
  private val pin = """persist\(|\.cache\(\)|\w*[cC]heckpoint\(""".r

  test("graft/ann pins no storage but kmeansTrainTable's per-round localCheckpoint") {
    val pins = sources.filter(_._1.toString.contains("/graft/ann/")).flatMap {
      case (p, text) => pin.findAllIn(text).map(m => s"${p.getFileName}: $m")
    }
    assert(pins == Seq("AnnOps.scala: localCheckpoint("), s"an ANN op pins storage: $pins")
    assert(member("AnnOps.scala", "kmeansTrainTable").contains(".localCheckpoint()"))
  }

  test("each media fixture tag is written at exactly one mediaFixture call site") {
    val call = """mediaFixture\(\s*\w+,\s*\w+,\s*"([^"]+)"""".r
    val tags = sources.flatMap { case (_, text) => call.findAllMatchIn(text).map(_.group(1)) }
    assert(tags.contains("mm6_avi_v2"), s"scan found no mediaFixture call: $tags")
    val repeated = tags.groupBy(identity).collect { case (tag, n) if n.size > 1 => tag -> n.size }
    assert(repeated.isEmpty,
      s"a fixture bump must reach every reader; call one fixture def per tag: $repeated")
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
