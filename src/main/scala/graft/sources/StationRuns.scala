package graft.sources

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.AttrsTable

/** One decoded station container: the station id, its time axis in epoch
  * microseconds, one flat array per per-step column (Double/Long/String/Boolean
  * values, null for fill) and the attrs. */
final case class StationData(station: String, time: Array[Long],
                             cols: Seq[(String, DataType, Array[Any])],
                             attrs: AttrsTable)

/** The station-container chassis: everything a per-station store becomes between
  * its bytes and a DataFrame, in both directions. The format modules only turn
  * bytes into [[StationData]] ([[ZarrSource]], [[NcSource]], [[Hdf5Source]]) or
  * [[StationData]] columns into bytes ([[ZarrSink]], [[NcSink]]).
  *
  * Write: [[mapStations]] hash-shuffles once on `station`, sorts each partition on
  * `(station, time)`, streams consecutive same-station runs into `(station, time[],
  * columns)` batches for the encoder, and [[writeFiles]] lands the encoded files.
  * Read: [[readStations]] runs one task per container path (the reference's own
  * per-station task granularity) with no shuffle, decoding with the format's
  * function and [[readFile]]. Both directions ship the Hadoop conf to executors as
  * plain pairs, so object-store credentials travel with the tasks; at 1e5 stations
  * the stores fan out across the cluster with no driver involvement. */
private[sources] object StationRuns {

  // ------------------------------------------------------------------- write

  val ledgerSchema: StructType = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("chunks", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  /** Run `write(station, timeMicros, cols, conf)` once per station (cols carry
    * Double/Long/String values with nulls; narrower numerics widen). Returns the
    * ledger rows the callback emits, as a DataFrame. */
  def mapStations(df: DataFrame)(
      write: (String, Array[Long], Seq[(String, DataType, Array[Any])],
              Configuration) => Row): DataFrame = {
    val spark = df.sparkSession
    require(df.columns.contains("station") && df.columns.contains("time"),
      "per-station sink needs station + time columns")
    val dataCols = df.schema.fields.filter(f => f.name != "station" && f.name != "time")
    val confPairs = shipConf(spark)

    val shuffled = df
      .repartition(col("station"))
      .sortWithinPartitions(col("station"), col("time"))
      .select((col("station") +: col("time").cast(TimestampType) +:
        dataCols.map(f => col(f.name))): _*)

    val ledger = shuffled.queryExecution.toRdd.mapPartitions { it =>
      val conf = hadoopConf(confPairs.value)
      val colTypes = dataCols.map(_.dataType)
      // consecutive run of one station = one store (partition is sorted)
      new Iterator[Row] {
        private val src = it.map { internal =>
          val station = internal.getUTF8String(0).toString
          val micros = internal.getLong(1) // TimestampType = epoch micros
          val vals: Array[Any] = colTypes.zipWithIndex.map { case (dt, i) =>
            (if (internal.isNullAt(i + 2)) null
            else dt match {
              case DoubleType => java.lang.Double.valueOf(internal.getDouble(i + 2))
              case FloatType => java.lang.Double.valueOf(internal.getFloat(i + 2).toDouble)
              case LongType => java.lang.Long.valueOf(internal.getLong(i + 2))
              case IntegerType => java.lang.Long.valueOf(internal.getInt(i + 2).toLong)
              case ShortType => java.lang.Long.valueOf(internal.getShort(i + 2).toLong)
              case ByteType => java.lang.Long.valueOf(internal.getByte(i + 2).toLong)
              case StringType => internal.getUTF8String(i + 2).toString
              case other => sys.error(s"unsupported per-station sink type $other")
            }): Any
          }
          (station, micros, vals)
        }.buffered
        def hasNext: Boolean = src.hasNext
        def next(): Row = {
          val station = src.head._1
          val times = scala.collection.mutable.ArrayBuffer.empty[Long]
          val data = Array.fill(colTypes.length)(
            scala.collection.mutable.ArrayBuffer.empty[Any])
          while (src.hasNext && src.head._1 == station) {
            val (_, micros, vals) = src.next()
            times += micros
            var i = 0
            while (i < vals.length) { data(i) += vals(i); i += 1 }
          }
          val cols = dataCols.zipWithIndex.map { case (f, i) =>
            val dt = f.dataType match {
              case FloatType => DoubleType
              case IntegerType | ShortType | ByteType => LongType
              case other => other
            }
            (f.name, dt, data(i).toArray)
          }.toSeq
          write(station, times.toArray, cols, conf)
        }
      }
    }
    spark.createDataFrame(ledger, ledgerSchema)
  }

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

  /** Read many containers distributed: one task per path, at most 1024
    * partitions, no shuffle; `decode(path, conf)` turns one path into its
    * [[StationData]]. The schema comes from the first container; a container
    * missing one of its columns yields nulls there, and columns it has beyond
    * them are dropped — the reference's per-network column variance, handled
    * the way its concat step handles it. */
  def readStations(spark: SparkSession, paths: Seq[String])(
      decode: (String, Configuration) => StationData): DataFrame =
    scan(spark, paths)(decode)._2

  /** Container corpus → the engine's partitioned obs table: [[readStations]],
    * the `network` stamped on every row, written by [[Sinks.writeObs]] with the
    * first container's attrs as the sidecar. */
  def ingest(spark: SparkSession, paths: Seq[String], outPath: String, network: String)(
      decode: (String, Configuration) => StationData): Unit = {
    val (first, df) = scan(spark, paths)(decode)
    Sinks.writeObs(df.withColumn("network", lit(network)), outPath,
      attrs = Some(first.attrs))
  }

  /** The first container, decoded on the driver for the schema, and the rows of
    * all of them. */
  private def scan(spark: SparkSession, paths: Seq[String])(
      decode: (String, Configuration) => StationData): (StationData, DataFrame) = {
    require(paths.nonEmpty, "no station container paths")
    val first = decode(paths.head, spark.sparkContext.hadoopConfiguration)
    val varOrder = first.cols.map(_._1)
    val confPairs = shipConf(spark)
    val rows = spark.sparkContext
      .parallelize(paths, math.min(paths.size, 1024))
      .mapPartitions { ps =>
        val conf = hadoopConf(confPairs.value)
        ps.flatMap { p =>
          val d = decode(p, conf)
          val byName = d.cols.map(c => c._1 -> c._3).toMap
          val aligned = varOrder.map(byName.get)
          (0 until d.time.length).iterator.map { i =>
            Row.fromSeq(
              d.station +:
              java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                d.time(i) / 1000000L, (d.time(i) % 1000000L) * 1000L)) +:
              aligned.map(_.map(_(i)).orNull))
          }
        }
      }
    (first, spark.createDataFrame(rows, storeSchema(first)))
  }

  private def shipConf(spark: SparkSession): Broadcast[Seq[(String, String)]] =
    spark.sparkContext.broadcast(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq)

  private def hadoopConf(pairs: Seq[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    pairs.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

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
