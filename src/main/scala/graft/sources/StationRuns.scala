package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.core.AttrsTable

/** One decoded station container: the station id, its time axis in epoch
  * microseconds, one flat array per per-step column (Double/Long/String/Boolean
  * values, null for fill) and the attrs. */
final case class StationData(station: String, time: Array[Long],
                             cols: Seq[(String, DataType, Array[Any])],
                             attrs: AttrsTable)

/** The metrics of the station-container nodes in a finished plan. */
object StationMetrics {
  /** `("scan", …)` for a [[StationScan]], `("sink", …)` for a [[StationSinkExec]]:
    * containers, bytes and decode or encode nanoseconds; `None` for other nodes. */
  def of(p: SparkPlan): Option[(String, Map[String, Long])] = p match {
    case s: StationSinkExec =>
      Some("sink" -> (s.metrics - "numOutputRows").map { case (k, m) => k -> m.value })
    case b: BatchScanExec if b.scan.isInstanceOf[StationScan] =>
      Some("scan" -> b.customMetrics.map { case (k, m) => k -> m.value })
    case _ => None
  }
}

/** The station-container chassis: everything a per-station store becomes between
  * its bytes and a DataFrame, in both directions. The format modules only turn
  * bytes into [[StationData]] ([[ZarrSource]], [[NcSource]], [[Hdf5Source]]) or a
  * [[StationRun]] into bytes ([[ZarrSink]], [[NcSink]]).
  *
  * Read: [[readStations]] plans a [[StationScan]], a DataSource V2 scan with one
  * input partition per container, keyed by the station id its file name carries
  * (`<station>.zarr`, `<station>.nc`). It reports key-grouped partitioning on
  * `station`, so an aggregate or a series scan keyed on `station` (alone or with
  * more keys) plans no exchange after it. N containers make N input partitions;
  * containers with the same station id are grouped into one, so N distinct
  * stations run as N tasks with no cap, the reference's per-station task
  * granularity. Each reader decodes its container with the format's function and
  * [[readFile]] and fills `UnsafeRow`s straight from the decoded columns.
  *
  * Write: [[mapStations]] plans a [[StationSink]], which asks the planner for its
  * input clustered on `station` and sorted on `(station, time)`: one hash shuffle
  * and one sort on raw input, none after a series scan keyed on `station` and
  * `time`. It streams each station's run into unboxed [[RunColumn]]s for the
  * encoder and lands the encoded files with [[writeFiles]].
  *
  * Both directions broadcast the driver's Hadoop conf, deserialized once per
  * executor, so object-store credentials travel with the tasks; at 1e5 stations
  * the stores fan out across the cluster with no driver involvement. */
private[sources] object StationRuns {

  // ------------------------------------------------------------------- write

  /** Publish `df` (station, time, data columns…) as one container per station:
    * `encode` turns a station's run into its container's files under `outDir`.
    * Data columns are Double/Float, Long/Int/Short/Byte or String; narrower
    * numerics widen. Returns the ledger (station, path, rows, chunks, bytes) as a
    * lazy DataFrame: every action on it writes the containers. */
  def mapStations(df: DataFrame, outDir: String)(encode: StationRun => Container): DataFrame = {
    val spark = df.sparkSession
    require(df.columns.contains("station") && df.columns.contains("time"),
      "per-station sink needs station + time columns")
    require(df.schema("station").dataType == StringType, "per-station sink needs a string station")
    val dataCols = df.schema.fields.filter(f => f.name != "station" && f.name != "time")
    dataCols.foreach(f => RunColumn.builder(f.dataType)) // refuse a type here, not in a task
    val time = df.schema("time").dataType match {
      case TimestampType => col("time")
      case _ => col("time").cast(TimestampType).as("time")
    }
    val input = GraftSqlBridge.logicalPlan(
      df.select((col("station") +: time +: dataCols.map(f => col(f.name))): _*))
    val Seq(stationAttr, timeAttr, dataAttrs @ _*) = input.output
    GraftSqlBridge.addStrategy(spark, StationSinkStrategy)
    GraftSqlBridge.ofRows(spark, StationSink(stationAttr, timeAttr, dataAttrs, outDir, encode,
      ledgerSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()), input))
  }

  val ledgerSchema: StructType = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("chunks", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))
  /** Write one container's files under `rootPath` (a single-file container is one
    * entry) and return the total bytes. Local paths take the java.nio path of
    * [[localRoot]]; HDFS and object stores go through the Hadoop FS. */
  def writeFiles(rootPath: String, conf: Configuration,
                 files: Seq[(String, Array[Byte])]): Long = {
    val root = new Path(rootPath)
    localRoot(root, conf) match {
      case Some(dir) =>
        // each directory once, not a failed mkdir per file
        files.map { case (rel, _) => dir.resolve(rel).getParent }.distinct.foreach { d =>
          if (!java.nio.file.Files.isDirectory(d)) java.nio.file.Files.createDirectories(d)
        }
        files.map { case (rel, bytes) =>
          java.nio.file.Files.write(dir.resolve(rel), bytes)
          bytes.length.toLong
        }.sum
      case None =>
        val fs = root.getFileSystem(conf)
        files.map { case (rel, bytes) =>
          val out = fs.create(new Path(root, rel), true)
          try out.write(bytes) finally out.close()
          bytes.length.toLong
        }.sum
    }
  }

  /** For `file:`/schemeless paths, the direct java.nio path: Hadoop's
    * LocalFileSystem both writes a `.crc` sidecar per file AND — with no
    * native-hadoop library loaded — forks a `chmod` process per create to
    * apply permissions, a ~1.5 ms tax that dominates many-small-file store
    * formats (zarr: measured 1.8 s of a 2.0 s store publish). HDFS/object
    * stores keep the Hadoop client, whose per-create cost is the network
    * round-trip anyway. */
  private def localRoot(p: Path, conf: Configuration): Option[java.nio.file.Path] = {
    val uri = p.toUri
    val schemeLocal = uri.getScheme == null || uri.getScheme == "file"
    val defaultLocal = FileSystem.getDefaultUri(conf)
      .getScheme match { case null | "file" => true; case _ => false }
    if (schemeLocal && (uri.getScheme != null || defaultLocal))
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  // -------------------------------------------------------------------- read

  /** Read one file whole through the Hadoop FS, so a `.crc` sidecar is verified;
    * `None` when it does not exist. A file of 2 GiB or more does not fit one
    * array and is refused with an error that names it. */
  def readFile(fs: FileSystem, path: Path): Option[Array[Byte]] = {
    val status = try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    status.map { s =>
      require(s.getLen < Int.MaxValue,
        s"$path: ${s.getLen} bytes, too large to read into one array")
      val in = fs.open(path)
      try { val buf = new Array[Byte](s.getLen.toInt); in.readFully(0, buf); buf }
      finally in.close()
    }
  }

  /** Spark schema of a station container: (station, time, columns...). */
  def storeSchema(data: StationData): StructType =
    StructType(
      StructField("station", StringType, nullable = false) +:
      StructField("time", TimestampType, nullable = false) +:
      data.cols.map { case (n, t, _) => StructField(n, t, nullable = true) })

  /** Read many containers distributed through a [[StationScan]], one input
    * partition per path; `decode(path, conf)` turns one path into its
    * [[StationData]]. The schema comes from the first container, decoded here on
    * the driver; a container missing one of its columns yields nulls there, and
    * columns it has beyond them are dropped — the reference's per-network column
    * variance, handled the way its concat step handles it.
    *
    * Partition keys come from file names (the name less `suffix`), as the sinks
    * and the reference name containers, so no other container is opened on the
    * driver. When the first container holds the station its name carries, the
    * scan reports key-grouped partitioning on `station`, and a later container
    * that holds another station fails its task with an error that names it (the
    * planner has been promised that key). When the first container is renamed,
    * the scan reports no partitioning and reads every container as it is. */
  def readStations(spark: SparkSession, paths: Seq[String], suffix: String)(
      decode: (String, Configuration) => StationData): DataFrame =
    scan(spark, paths, suffix)(decode)._2

  /** Container corpus → the engine's partitioned obs table: [[readStations]],
    * the `network` stamped on every row, written by [[Sinks.writeObs]] with the
    * first container's attrs as the sidecar. */
  def ingest(spark: SparkSession, paths: Seq[String], suffix: String, outPath: String,
             network: String)(decode: (String, Configuration) => StationData): Unit = {
    val (first, df) = scan(spark, paths, suffix)(decode)
    Sinks.writeObs(df.withColumn("network", lit(network)), outPath,
      attrs = Some(first.attrs))
  }

  /** The first container, decoded on the driver for the schema, and the rows of
    * all of them. */
  private def scan(spark: SparkSession, paths: Seq[String], suffix: String)(
      decode: (String, Configuration) => StationData): (StationData, DataFrame) = {
    require(paths.nonEmpty, "no station container paths")
    val first = decode(paths.head, spark.sparkContext.hadoopConfiguration)
    val parts = paths.map(p => StationPartition(p, stationOf(p, suffix)))
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val table = new StationTable(parts, storeSchema(first), decode, conf,
      keyed = first.station == parts.head.station)
    (first, GraftSqlBridge.ofRows(spark,
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty())))
  }

  /** The station id a container's file name carries, as the decoders fall back
    * to it. */
  private def stationOf(path: String, suffix: String): String =
    new Path(path).getName.stripSuffix(suffix)

  // ----------------------------------------------------------- netCDF model

  /** One netCDF variable as the NetCDF-3 or HDF5 reader decoded it: name, Spark
    * type, numpy-style dtype (read by the time decode), flat values, attrs. */
  final case class Variable(name: String, spark: DataType, dtype: String,
                            values: Array[Any], attrs: Map[String, String])

  /** A netCDF file's variables as station data. The `time` variable and its CF
    * units give the axis; a `station` string variable, or else the file name,
    * gives the id; variables with one value per step become columns and
    * single-valued ones are broadcast to every step (others are skipped); the
    * attrs keep everything except `_FillValue`. */
  def fromNetcdf(vars: Seq[Variable], globalAttrs: Map[String, String],
                 fileName: String): StationData = {
    val timeVar = vars.find(_.name == "time").getOrElse(sys.error("no time variable"))
    val time = timeToMicros(timeVar.values, timeVar.dtype, timeVar.attrs)
    val station = vars.find(v => v.name == "station" && v.spark == StringType)
      .flatMap(_.values.headOption.flatMap(Option(_))).map(_.toString)
      .getOrElse(fileName.stripSuffix(".nc"))
    val cols = vars.filterNot(v => v.name == "time" || v.name == "station").flatMap { v =>
      if (v.values.length == time.length) Some((v.name, v.spark, v.values))
      else if (v.values.length == 1)
        Some((v.name, v.spark, Array.fill[Any](time.length)(v.values(0))))
      else None
    }
    StationData(station, time, cols,
      AttrsTable(globalAttrs, vars.map(v => v.name -> (v.attrs - "_FillValue")).toMap))
  }

  // ----------------------------------------------------------------- CF time

  /** Parse CF "units since epoch" into micros-per-step and epoch micros. */
  def parseCfUnits(units: String): (Long, Long) = {
    val m = "(?i)(seconds?|minutes?|hours?|days?)\\s+since\\s+(.+)".r
    units.trim match {
      case m(step, epoch) =>
        val perStep = step.toLowerCase.stripSuffix("s") match {
          case "second" => 1000000L
          case "minute" => 60000000L
          case "hour" => 3600000000L
          case "day" => 86400000000L
        }
        val e = epoch.trim.replace(" ", "T")
        val norm = if (e.matches("\\d{4}-\\d{2}-\\d{2}")) e + "T00:00:00" else e
        val ldt = java.time.LocalDateTime.parse(norm.stripSuffix("Z"))
        (perStep, ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
      case _ => sys.error(s"unsupported CF time units '$units'")
    }
  }

  /** A decoded time variable as epoch micros: `M8[ns]` directly, anything else
    * through its CF `units` attr. */
  def timeToMicros(vals: Array[Any], dtype: String,
                   attrs: Map[String, String]): Array[Long] =
    if (dtype.drop(1).startsWith("M8")) {
      // xarray always encodes datetime64[ns]; any other M8 unit would silently
      // mis-scale, so refuse it explicitly
      require(dtype.endsWith("[ns]"), s"unsupported datetime64 unit in $dtype (only [ns])")
      // mirror the CF branch's null handling (ADVICE r7): a missing chunk / fill
      // match would unbox to 0L = epoch-1970 silently
      vals.map {
        case l: java.lang.Long => l.longValue() / 1000L
        case null => sys.error("null time coordinate")
      }
    } else {
      val (perStep, epoch) = parseCfUnits(attrs.getOrElse("units",
        sys.error("time variable has neither M8 dtype nor CF units attr")))
      vals.map {
        case l: java.lang.Long => epoch + l * perStep
        case d: java.lang.Double => epoch + (d * perStep).toLong
        case null => sys.error("null time coordinate")
      }
    }
}
