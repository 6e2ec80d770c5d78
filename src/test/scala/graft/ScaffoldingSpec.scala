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
  * `graft/ann` pins no storage beyond the k-means lineage cut. Every public
  * operator has a caller in `src/main` or `perfbench/src`, or an allow-list entry
  * that says why it stays, and every scaladoc link names something `src/main`
  * defines. */
class ScaffoldingSpec extends AnyFunSuite {
  private def scalaFiles(dir: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private val sources: Seq[(Path, String)] = scalaFiles("src/main/scala")

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

  // ------------------------------------------------ every public operator has a caller

  private val charLit = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'""".r

  /** `text` with its comments blanked (line breaks kept) and its string and char
    * literals kept: a comment calls nothing, and codegen names objects in strings. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder(text.length)
    def keep(from: Int, until: Int): Int = { out ++= text.substring(from, until); until }
    def blank(from: Int, until: Int): Int = {
      (from until until).foreach(j => out += (if (text(j) == '\n') '\n' else ' '))
      until
    }
    var i = 0
    while (i < text.length) i =
      if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) text.length else close + 3
        while (j < text.length && text(j) == '"') j += 1
        keep(i, j)
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        keep(i, math.min(j + 1, text.length))
      } else if (text(i) == '\'') {
        val lit = charLit.findPrefixOf(text.substring(i, math.min(i + 8, text.length)))
        keep(i, i + lit.fold(1)(_.length))
      } else if (text.startsWith("//", i)) {
        val eol = text.indexOf('\n', i)
        blank(i, if (eol < 0) text.length else eol)
      } else if (text.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < text.length && depth > 0)
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        blank(i, j)
      } else keep(i, i + 1)
    out.toString
  }

  private lazy val code: Seq[(Path, String)] =
    sources.map { case (p, text) => p -> stripComments(text) }

  /** Where each identifier occurs in comment-stripped code, leaving out the name
    * of a `def` header (an overload does not call its twin). */
  private def identifierSites(files: Seq[(Path, String)]): Map[String, Seq[(Path, Int)]] = {
    val defHeader = """\bdef\s+$""".r
    files.flatMap { case (p, text) =>
      """[A-Za-z_]\w*""".r.findAllMatchIn(text)
        .filter(m => m.start == 0 || !Character.isLetterOrDigit(text(m.start - 1)))
        .filterNot(m => defHeader.findFirstIn(text.substring(
          math.max(0, m.start - 8), m.start)).nonEmpty)
        .map(m => (m.matched, (p, m.start)))
    }.groupMap(_._1)(_._2)
  }

  /** A def in one of `dirs` that is public or `private[pkg]` and a member of a named
    * object, class or trait: its file, name and span (the header to the next line
    * indented no deeper that does not close or continue it). */
  private final class Op(val file: Path, val name: String, val from: Int, val until: Int) {
    def key: String = s"${file.getFileName.toString.stripSuffix(".scala")}.$name"
  }

  private def publicOps(dirs: Seq[String]): Seq[Op] = {
    val header = ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
      """implicit\s+|@\w+\s+)*)def\s+([A-Za-z_]\w*)""").r
    def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length
    code.filter { case (p, _) => dirs.exists(d => p.toString.contains(s"/graft/$d/")) }
      .flatMap { case (p, text) =>
        val lines = text.split("\n", -1)
        val starts = lines.scanLeft(0)(_ + _.length + 1)
        lines.indices.flatMap { i =>
          header.findPrefixMatchOf(lines(i)).filterNot { m =>
            """\boverride\b|\bprotected\b|\bprivate\s|\bprivate\[this\]""".r
              .findFirstIn(m.group(2)).nonEmpty
          }.flatMap { m =>
            val k = m.group(1).length
            val owner = (i - 1 to 0 by -1).map(lines(_))
              .find(l => l.trim.nonEmpty && indent(l) < k)
            val member =
              owner.exists("""\b(?:object|class|trait)\s+\w""".r.findFirstIn(_).nonEmpty)
            val end = (i + 1 until lines.length).find { j =>
              val l = lines(j)
              l.trim.nonEmpty && (indent(l) < k || indent(l) == k &&
                !Seq(")", "}", ".").exists(l.trim.startsWith))
            }.getOrElse(lines.length)
            if (member) Some(new Op(p, m.group(3), starts(i), starts(end))) else None
          }
        }
      }
  }

  private val callerScope = Seq("ops", "dedup", "text", "ann", "multimodal", "sources",
    "expr", "pipeline", "graph", "streaming")

  /** Public ops no declared query, pipeline or perfbench workload calls, each with the
    * reason it stays:
    *  - R1, a reference capability no declared query reaches yet: the reference
    *    `file:line` and the Spec that pins it;
    *  - R2, ROADMAP item 5 (streaming twins: batch-exact or gone) decides it;
    *  - R3, a ROADMAP item will call it. */
  private val uncalledAllowed: Map[String, String] = Map(
    "NetworkCatalogs.readCimis" -> "R1 CIMIS_clean.py:58-734; NetworkCatalogsSpec",
    "NetworkCatalogs.readScanSnotel" -> "R1 SCANSNOTEL_clean.py:55-768; NetworkCatalogsSpec",
    "NetworkCatalogs.readCw3e" -> "R1 CW3E_clean.py:57-635; NetworkCatalogsSpec",
    "NetworkCatalogs.readValleywater" -> "R1 VALLEYWATER_clean.py:45-278; NetworkCatalogsSpec",
    "NetworkCatalogs.readMadis" -> "R1 MADIS_clean.py:113-392; NetworkCatalogsSpec",
    "NetworkCatalogs.readMaritime" -> "R1 MARITIME_clean.py:160-660; NetworkCatalogsSpec",
    "LogicOps.flagAccumWindow" -> "R1 qaqc_logic_checks.py:211-308; LogicPipelineSpec",
    "StreakOps.straightRepeatsWithCriteria" ->
      "R1 qaqc_unusual_streaks.py:45-122; StreakCriteriaSpec",
    "QaqcPipeline.buoyCheckStage" -> "R1 qaqc_buoy_check.py:25-160; BuoyCheckSpec",
    "ConcatStations.concatObs" -> "R1 qaqc_concatenate_stations.py:66-556; CsvSourcesSpec",
    "Derive.psFromPsl" -> "R1 calc_clean.py:414-437; DeriveSpec",
    "Derive.psFromAltimeter" -> "R1 calc_clean.py:440-462; DeriveSpec",
    "Sinks.exportStationCsv" -> "R1 zarr_to_csv.py:58-160; SinksSpec",
    "Sinks.writeObsBucketed" -> "R1 QAQC_pipeline.py:345-368; SinksSpec",
    "Sinks.readAttrs" -> "R1 zarr_to_csv.py:74-104; SinksSpec",
    "StreamingOps.hourlyAgg" -> "R2 twin of SeriesOps.hourlyFirst/hourlySum; StreamingSpec",
    "StreamingOps.dedupExact" -> "R2 twin of DedupOps.exactDedup; StreamingSpec",
    "StreamingOps.nearDedupSimhash" -> "R2 twin of DedupOps.simhashNearDups; StreamingSpec",
    "StreamingOps.streakDetector" ->
      "R2 plain RLE on equal values, not W3 StreakOps.straightRepeats; StreamingSpec",
    "StreamingOps.spikeDetector" ->
      "R2 one constant crit per key, not W6 SpikeOps.detectSpikes; StreamingSpec",
    "StreamingOps.tokenBudgetStream" -> "R2 twin of TextOps.tokenBudgetFill; StreamingSpec",
    "StreamingOps.dsirScoreStream" -> "R2 twin of TextOps.dsirWeights; StreamingSpec",
    "StreamingOps.knScoreStream" -> "R2 twin of TextOps.knBigramScore; StreamingSpec",
    "StreamingOps.linearScoreStream" -> "R2 twin of TextOps.linearClassifierScores; StreamingSpec",
    "StreamingOps.annServeStream" -> "R2 twin of AnnOps.ivfTopK; StreamingSpec",
    "StreamingOps.keyframeStream" -> "R2 twin of the mm5 keyframe flags; StreamingSpec",
    "StreamingOps.videoHashStream" -> "R2 twin of MultimodalOps.videoHash64; StreamingSpec",
    "StreamingOps.incrementalDedupStream" ->
      "R2 twin of DedupOps.incrementalNearDups; StreamingSpec",
    "StreamingOps.corpusBandTable" -> "R2 band table of incrementalDedupStream; StreamingSpec",
    "StreamingOps.codeDedupStream" ->
      "R2 twin of DedupOps.hamming64IncrementalNearDups; StreamingSpec",
    "StreamingOps.codeBandTable" -> "R2 band table of codeDedupStream; StreamingSpec",
    "TextOps.knBigramModel" -> "R2 model of knScoreStream; StreamingSpec",
    "TextOps.dsirBucketWeights" -> "R2 model of dsirScoreStream; StreamingSpec",
    "TextOps.dsirOovLogWeight" -> "R2 model of dsirScoreStream; StreamingSpec",
    "TextOps.linearClassifierWeights" -> "R2 model of linearScoreStream; StreamingSpec",
    "DedupOps.simhashCapStats" -> "R3 ROADMAP item 6 records cap loss; DedupAnnSpec",
    "DedupOps.embeddingCapStats" -> "R3 ROADMAP item 6 records cap loss; DedupAnnSpec",
    "DedupOps.semanticDedupAuto" -> "R3 ROADMAP item 12, SCALE.md r11/r15; DedupAnnSpec")

  test("every public operator has a caller or an allow-listed reason") {
    val ops = publicOps(callerScope)
    assert(ops.exists(_.key == "DedupOps.bandPairs"), s"scan found no ops: ${ops.size}")
    val inMain = identifierSites(code)
    val inPerfbench = identifierSites(scalaFiles("perfbench/src").map { case (p, t) =>
      p -> stripComments(t) }).keySet
    def called(op: Op): Boolean = inPerfbench(op.name) ||
      inMain.getOrElse(op.name, Nil).exists { case (p, at) =>
        p != op.file || at < op.from || at >= op.until }
    val uncalled = ops.filterNot(called).map(_.key).distinct
    val missing = uncalled.filterNot(uncalledAllowed.contains)
    assert(missing.isEmpty, "call these from a query, pipeline or perfbench, move a " +
      s"parity reference to src/test, delete, or allow-list with a reason: $missing")
    val stale = uncalledAllowed.keySet -- uncalled
    assert(stale.isEmpty, s"these allow-listed ops have a caller now or are gone: $stale")
    assert(uncalledAllowed.size <= 40, s"${uncalledAllowed.size} allow-listed ops")
    val reason = """R1 \w+\.py:\d+-\d+; \w+Spec|R[23] .+; \w+Spec""".r
    val bad = uncalledAllowed.filterNot { case (_, r) => reason.matches(r) }
    assert(bad.isEmpty, s"state R1 (reference file:lines), R2 or R3, then the Spec: $bad")
  }

  test("every scaladoc link names something src/main defines") {
    val defined = code.flatMap { case (_, text) =>
      val names = """\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""".r
        .findAllMatchIn(text).map(_.group(1))
      val packages = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(text)
        .flatMap(_.group(1).split('.'))
      // class parameters: the names before `:` at the first list's top level
      val params = """\bclass\s+\w+(?:\[[^\]]*\])?\s*\(""".r.findAllMatchIn(text).flatMap { m =>
        val top = new StringBuilder
        var depth = 1
        var j = m.end
        while (j < text.length && depth > 0) {
          text(j) match {
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case c if depth == 1 => top += c
            case _ =>
          }
          j += 1
        }
        top.toString.split(',').flatMap("""(\w+)\s*:""".r.findFirstMatchIn(_).map(_.group(1)))
      }
      names ++ packages ++ params
    }.toSet
    assert(defined.contains("qcNorm") && defined.contains("bandPairs"), "scan found no names")
    val dangling = sources.flatMap { case (p, text) =>
      """\[\[([^\]\s]+)""".r.findAllMatchIn(text).map(_.group(1)).flatMap { target =>
        val last = target.takeWhile(_ != '(').split("[.#]").last.stripSuffix("$")
        if (defined(last)) None else Some(s"${p.getFileName}: [[$target]]")
      }
    }
    assert(dangling.isEmpty, s"these scaladoc links name nothing in src/main: $dangling")
  }
}
