package graft.sources

import java.io.FileNotFoundException
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.AttrsTable

/** One station container in memory, in both directions: the station id, its
  * time axis in epoch microseconds, one unboxed column per per-step variable and
  * the attrs. The decoders fill it, the scan writes rows from it, and the sink
  * builds it for the encoders. */
final case class StationData(station: String, time: Array[Long],
                             cols: Seq[StationColumn], attrs: AttrsTable)

/** One per-step column of a [[StationData]], unboxed. A null is `nulls(i)` (its
  * value slot holds anything) or, for strings, a null element. Booleans are zarr
  * `|b1` and only read: no encoder writes them. */
sealed abstract class StationColumn(val dataType: DataType) {
  def name: String
  def length: Int
  def isNull(i: Int): Boolean
  def setNull(i: Int): Unit
  /** Writes non-null element `i` at `ordinal` (the scan's output row). */
  private[sources] def write(w: UnsafeRowWriter, ordinal: Int, i: Int): Unit
  /** Reads non-null element `i` from `ordinal` (the sink's input row). */
  private[sources] def read(row: InternalRow, ordinal: Int, i: Int): Unit
  /** The first `n` elements, padded with non-null ones: a sink buffer grown or cut. */
  private[sources] def resized(n: Int): StationColumn
  /** `n` copies of element 0: a netCDF variable with one value, broadcast. */
  private[sources] def broadcast(n: Int): StationColumn
}

object StationColumn {
  /** A primitive column: its values and their null mask. */
  sealed abstract class Masked(t: DataType) extends StationColumn(t) {
    def nulls: Array[Boolean]
    def length: Int = nulls.length
    def isNull(i: Int): Boolean = nulls(i)
    def setNull(i: Int): Unit = nulls(i) = true
  }
  final case class Doubles(name: String, values: Array[Double], nulls: Array[Boolean])
      extends Masked(DoubleType) {
    private[sources] def write(w: UnsafeRowWriter, o: Int, i: Int): Unit = w.write(o, values(i))
    private[sources] def read(r: InternalRow, o: Int, i: Int): Unit = values(i) = r.getDouble(o)
    private[sources] def resized(n: Int): StationColumn =
      Doubles(name, util.Arrays.copyOf(values, n), util.Arrays.copyOf(nulls, n))
    private[sources] def broadcast(n: Int): StationColumn =
      Doubles(name, Array.fill(n)(values(0)), Array.fill(n)(nulls(0)))
  }
  final case class Longs(name: String, values: Array[Long], nulls: Array[Boolean])
      extends Masked(LongType) {
    private[sources] def write(w: UnsafeRowWriter, o: Int, i: Int): Unit = w.write(o, values(i))
    private[sources] def read(r: InternalRow, o: Int, i: Int): Unit = values(i) = r.getLong(o)
    private[sources] def resized(n: Int): StationColumn =
      Longs(name, util.Arrays.copyOf(values, n), util.Arrays.copyOf(nulls, n))
    private[sources] def broadcast(n: Int): StationColumn =
      Longs(name, Array.fill(n)(values(0)), Array.fill(n)(nulls(0)))
  }
  final case class Booleans(name: String, values: Array[Boolean], nulls: Array[Boolean])
      extends Masked(BooleanType) {
    private[sources] def write(w: UnsafeRowWriter, o: Int, i: Int): Unit = w.write(o, values(i))
    private[sources] def read(r: InternalRow, o: Int, i: Int): Unit = values(i) = r.getBoolean(o)
    private[sources] def resized(n: Int): StationColumn =
      Booleans(name, util.Arrays.copyOf(values, n), util.Arrays.copyOf(nulls, n))
    private[sources] def broadcast(n: Int): StationColumn =
      Booleans(name, Array.fill(n)(values(0)), Array.fill(n)(nulls(0)))
  }
  final case class Strings(name: String, values: Array[String])
      extends StationColumn(StringType) {
    def length: Int = values.length
    def isNull(i: Int): Boolean = values(i) == null
    def setNull(i: Int): Unit = values(i) = null
    private[sources] def write(w: UnsafeRowWriter, o: Int, i: Int): Unit =
      w.write(o, UTF8String.fromString(values(i)))
    private[sources] def read(r: InternalRow, o: Int, i: Int): Unit =
      values(i) = r.getUTF8String(o).toString
    private[sources] def resized(n: Int): StationColumn =
      Strings(name, util.Arrays.copyOf(values, n))
    private[sources] def broadcast(n: Int): StationColumn =
      Strings(name, Array.fill(n)(values(0)))
  }

  /** An all-non-null column of `n` elements for a decoder or the sink to fill. */
  private[sources] def allocate(name: String, dataType: DataType, n: Int): StationColumn =
    dataType match {
      case DoubleType => Doubles(name, new Array[Double](n), new Array[Boolean](n))
      case LongType => Longs(name, new Array[Long](n), new Array[Boolean](n))
      case StringType => Strings(name, new Array[String](n))
      case BooleanType => Booleans(name, new Array[Boolean](n), new Array[Boolean](n))
    }
}

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
  * its bytes and a DataFrame, in both directions. A container in memory is one
  * [[StationData]] of unboxed [[StationColumn]]s either way: the format modules
  * only turn bytes into it ([[ZarrSource]], [[NcSource]], [[Hdf5Source]]) or it
  * into bytes ([[ZarrSink]], [[NcSink]]).
  *
  * Read: [[readStations]] plans a [[StationScan]], a DataSource V2 scan with one
  * input partition per container, keyed by the station id its file name carries
  * (`<station>.zarr`, `<station>.nc`). It reports key-grouped partitioning on
  * `station`, so an aggregate or a series scan keyed on `station` (alone or with
  * more keys) plans no exchange after it. N containers make N input partitions;
  * containers with the same station id are grouped into one, so N distinct
  * stations run as N tasks with no cap, the reference's per-station task
  * granularity. Each reader decodes its container with the format's function and
  * [[readFile]] on its first row, checks each column's type once against the
  * schema, and fills `UnsafeRow`s straight from the typed arrays.
  *
  * Write: [[mapStations]] plans a [[StationSink]], which asks the planner for its
  * input clustered on `station` and sorted on `(station, time)`: one hash shuffle
  * and one sort on raw input, none after a series scan keyed on `station` and
  * `time`. It streams each station's rows into a [[StationData]] (with the
  * sink's attrs) for the encoder and lands the encoded files with [[writeFiles]].
  *
  * Both directions broadcast the driver's Hadoop conf, deserialized once per
  * executor, so object-store credentials travel with the tasks; at 1e5 stations
  * the stores fan out across the cluster with no driver involvement. */
private[sources] object StationRuns {

  // ------------------------------------------------------------------- write

  /** Publish `df` (station, time, data columns…) as one container per station:
    * `encode` turns a station's [[StationData]], carrying `attrs`, into its
    * container's files under `outDir`. Data columns are Double/Float,
    * Long/Int/Short/Byte or String; narrower numerics widen. Returns the ledger
    * (station, path, rows, chunks, bytes) as a lazy DataFrame: every action on it
    * writes the containers. */
  def mapStations(df: DataFrame, outDir: String, attrs: AttrsTable)(
      encode: StationData => Container): DataFrame = {
    val spark = df.sparkSession
    require(df.columns.contains("station") && df.columns.contains("time"),
      "per-station sink needs station + time columns")
    require(df.schema("station").dataType == StringType, "per-station sink needs a string station")
    // narrower numerics widen here; any other type is refused here, not in a task
    val dataCols = df.schema.fields.filter(f => f.name != "station" && f.name != "time").map {
      f => f.dataType match {
        case DoubleType | LongType | StringType => col(f.name)
        case FloatType => col(f.name).cast(DoubleType).as(f.name)
        case IntegerType | ShortType | ByteType => col(f.name).cast(LongType).as(f.name)
        case t => throw new IllegalArgumentException(s"unsupported per-station sink type $t")
      }
    }
    val time = df.schema("time").dataType match {
      case TimestampType => col("time")
      case _ => col("time").cast(TimestampType).as("time")
    }
    val input = GraftSqlBridge.logicalPlan(df.select((col("station") +: time +: dataCols): _*))
    val Seq(stationAttr, timeAttr, dataAttrs @ _*) = input.output
    GraftSqlBridge.addStrategy(spark, StationSinkStrategy)
    val ledger = ledgerSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    GraftSqlBridge.ofRows(spark,
      StationSink(stationAttr, timeAttr, dataAttrs, outDir, attrs, encode, ledger, input))
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
      data.cols.map(c => StructField(c.name, c.dataType, nullable = true)))

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
    val table = new StationScan(parts, storeSchema(first), decode, conf,
      keyed = first.station == parts.head.station)
    (first, GraftSqlBridge.ofRows(spark,
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty())))
  }

  /** The station id a container's file name carries, as the decoders fall back
    * to it. */
  private def stationOf(path: String, suffix: String): String =
    new Path(path).getName.stripSuffix(suffix)

  // ----------------------------------------------------------- netCDF model

  /** One netCDF variable as the NetCDF-3 or HDF5 reader decoded it: its flat
    * values and attrs. */
  final case class Variable(values: StationColumn, attrs: Map[String, String]) {
    def name: String = values.name
  }

  /** A netCDF file's variables as station data. The `time` variable and its CF
    * units give the axis; a `station` string variable, or else the file name,
    * gives the id; variables with one value per step become columns and
    * single-valued ones are broadcast to every step (others are skipped); the
    * attrs keep everything except `_FillValue`. */
  def fromNetcdf(vars: Seq[Variable], globalAttrs: Map[String, String],
                 fileName: String): StationData = {
    val timeVar = vars.find(_.name == "time").getOrElse(sys.error("no time variable"))
    // netCDF has no datetime64 dtype: its time decodes through the CF units
    val time = timeToMicros(timeVar.values, dtype = "", timeVar.attrs)
    val station = vars.map(_.values).collectFirst {
      case StationColumn.Strings("station", vs) if vs.nonEmpty && vs(0) != null => vs(0)
    }.getOrElse(fileName.stripSuffix(".nc"))
    val cols = vars.filterNot(v => v.name == "time" || v.name == "station").flatMap { v =>
      if (v.values.length == time.length) Some(v.values)
      else if (v.values.length == 1) Some(v.values.broadcast(time.length))
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
    * through its CF `units` attr. A null step (a missing chunk or a fill match)
    * is an error, not epoch 1970 (ADVICE r7). */
  def timeToMicros(vals: StationColumn, dtype: String,
                   attrs: Map[String, String]): Array[Long] = {
    require((0 until vals.length).forall(!vals.isNull(_)), "null time coordinate")
    lazy val (perStep, epoch) = parseCfUnits(attrs.getOrElse("units",
      sys.error("time variable has neither M8 dtype nor CF units attr")))
    (vals, dtype.drop(1).startsWith("M8")) match {
      case (StationColumn.Longs(_, ls, _), true) =>
        // xarray always encodes datetime64[ns]; any other M8 unit would silently
        // mis-scale, so refuse it explicitly
        require(dtype.endsWith("[ns]"), s"unsupported datetime64 unit in $dtype (only [ns])")
        ls.map(_ / 1000L)
      case (StationColumn.Longs(_, ls, _), false) => ls.map(epoch + _ * perStep)
      case (StationColumn.Doubles(_, ds, _), false) => ds.map(d => epoch + (d * perStep).toLong)
      case (c, _) => sys.error(s"${c.dataType} time coordinate")
    }
  }
}
