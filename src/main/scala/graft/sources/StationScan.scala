package graft.sources

import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning,
  UnknownPartitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One station container to read: its path and the station id its file name
  * carries, which is the partition's key. */
private[sources] final case class StationPartition(path: String, station: String)
    extends HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(UTF8String.fromString(station))
}

/** Station containers as a DataSource V2 table: `schema` is (station, time,
  * columns…), and each partition is read with `decode` under the broadcast
  * Hadoop conf `conf` (deserialized once per executor); `keyed` says whether the
  * scan reports its partitions' keys. It has no catalog;
  * [[StationRuns.readStations]] wraps it in a relation directly. */
private[sources] final class StationTable(
    partitions: Seq[StationPartition], tableSchema: StructType,
    decode: (String, Configuration) => StationData, conf: Broadcast[SerializableConfiguration],
    keyed: Boolean)
    extends Table with SupportsRead {
  override def name(): String = s"station containers (${partitions.size})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new StationScan(partitions, tableSchema, decode, conf, keyed)
}

/** The scan over station containers: one input partition per container. When
  * `keyed`, it reports the key-grouped partitioning `identity(station)`, so the
  * planner knows every row of a partition has the partition's station; Spark
  * groups partitions that share a station into one, and N stations run as N tasks.
  * Otherwise its partitioning is unknown, and N containers run as N tasks. */
private[sources] final class StationScan(
    partitions: Seq[StationPartition], schema: StructType,
    decode: (String, Configuration) => StationData, conf: Broadcast[SerializableConfiguration],
    keyed: Boolean)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = schema
  override def description(): String = s"StationScan ${partitions.size} containers"
  override def toBatch: Batch = this
  override def outputPartitioning(): Partitioning =
    if (keyed) new KeyGroupedPartitioning(Array[Expression](Expressions.identity("station")),
      partitions.size)
    else new UnknownPartitioning(partitions.size)
  override def planInputPartitions(): Array[InputPartition] = partitions.toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val (s, d, c, k) = (schema, decode, conf, keyed)
    p => new StationReader(p.asInstanceOf[StationPartition], s, d, c.value.value, k)
  }
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ContainersReadMetric, new BytesReadMetric, new DecodeNsMetric)
}

/** Reads one container: decodes it whole, then fills one `UnsafeRow` per time step
  * from the decoded columns, aligned by name to `schema` (a column the container
  * lacks reads as null). Any failure names the container's path; so does a
  * `keyed` read of a container whose station differs from its key. */
private[sources] final class StationReader(part: StationPartition, schema: StructType,
    decode: (String, Configuration) => StationData, conf: Configuration, keyed: Boolean)
    extends PartitionReader[InternalRow] {
  private val bytes0 = threadBytesRead()
  private val t0 = System.nanoTime()
  private val data =
    try decode(part.path, conf) catch {
      case NonFatal(e) if !String.valueOf(e.getMessage).contains(part.path) =>
        throw new IllegalStateException(s"${part.path}: ${e.getMessage}", e)
    }
  private val decodeNs = System.nanoTime() - t0
  private val bytesRead = threadBytesRead() - bytes0
  if (keyed && data.station != part.station)
    throw new IllegalStateException(s"${part.path}: holds station '${data.station}', " +
      s"but its file name keys it as '${part.station}': the first container is named " +
      "after its station, so the read is keyed on file names")

  private val station = UTF8String.fromString(data.station)
  private val fields = schema.fields.drop(2)
  private val types = fields.map(_.dataType)
  private val values: Array[Array[Any]] = {
    val byName = data.cols.map(c => c._1 -> c._3).toMap
    fields.map(f => byName.getOrElse(f.name, null))
  }
  private val writer = new UnsafeRowWriter(schema.length, 64)
  private var i = -1

  override def next(): Boolean = { i += 1; i < data.time.length }

  override def get(): InternalRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, station)
    writer.write(1, data.time(i))
    var j = 0
    while (j < fields.length) {
      val o = j + 2
      val vs = values(j)
      val v = if (vs == null) null else vs(i)
      v match {
        case null => writer.setNullAt(o)
        case d: java.lang.Double if types(j) == DoubleType => writer.write(o, d.doubleValue())
        case l: java.lang.Long if types(j) == LongType => writer.write(o, l.longValue())
        case s: String if types(j) == StringType => writer.write(o, UTF8String.fromString(s))
        case b: java.lang.Boolean if types(j) == BooleanType => writer.write(o, b.booleanValue())
        case _ => throw new IllegalArgumentException(s"${part.path}: column ${fields(j).name} " +
          s"holds a ${v.getClass.getSimpleName}, not ${types(j)}")
      }
      j += 1
    }
    writer.getRow
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    StationScan.taskMetric("containersRead", 1L),
    StationScan.taskMetric("bytesRead", bytesRead),
    StationScan.taskMetric("decodeNs", decodeNs))

  override def close(): Unit = ()

  /** Bytes this thread has read through any Hadoop file system (Hadoop's
    * per-thread statistics). */
  private def threadBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum
}

private[sources] object StationScan {
  def taskMetric(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

class ContainersReadMetric extends CustomSumMetric {
  override def name(): String = "containersRead"
  override def description(): String = "station containers read"
}

class BytesReadMetric extends CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "station container bytes read"
}

class DecodeNsMetric extends CustomSumMetric {
  override def name(): String = "decodeNs"
  override def description(): String = "station container decode time (ns)"
}
