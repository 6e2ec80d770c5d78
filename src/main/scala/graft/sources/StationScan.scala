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

/** Station containers as a DataSource V2 table that is its own scan (it takes no
  * options and pushes nothing down): `tableSchema` is (station, time, columns…),
  * one input partition per container, each read with `decode` under the
  * broadcast Hadoop conf `conf` (deserialized once per executor). When `keyed`,
  * it reports the key-grouped partitioning `identity(station)`, so the planner
  * knows every row of a partition has the partition's station; Spark groups
  * partitions that share a station into one, and N stations run as N tasks.
  * Otherwise its partitioning is unknown, and N containers run as N tasks. It has
  * no catalog; [[StationRuns.readStations]] wraps it in a relation directly. */
private[sources] final class StationScan(
    partitions: Seq[StationPartition], tableSchema: StructType,
    decode: (String, Configuration) => StationData, conf: Broadcast[SerializableConfiguration],
    keyed: Boolean)
    extends Table with SupportsRead with Scan with Batch with SupportsReportPartitioning {
  override def name(): String = s"station containers (${partitions.size})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => this
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"StationScan ${partitions.size} containers"
  override def toBatch: Batch = this
  override def outputPartitioning(): Partitioning =
    if (keyed) new KeyGroupedPartitioning(Array[Expression](Expressions.identity("station")),
      partitions.size)
    else new UnknownPartitioning(partitions.size)
  override def planInputPartitions(): Array[InputPartition] = partitions.toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    val (s, d, c, k) = (tableSchema, decode, conf, keyed)
    p => new StationReader(p.asInstanceOf[StationPartition], s, d, c.value.value, k)
  }
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ContainersReadMetric, new BytesReadMetric, new DecodeNsMetric)
}

/** Reads one container: on the first `next()` decodes it whole and matches each
  * schema column by name to a container column of the same type (a column the
  * container lacks reads as null; one of another type is an error, even when it
  * is all null), then fills one `UnsafeRow` per time step from the typed arrays.
  * Decoding there, not in the constructor, lets the task's input metrics see the
  * bytes: Spark takes their baseline after creating the reader. Any failure names
  * the container's path; so does a `keyed` read of a container whose station
  * differs from its key. */
private[sources] final class StationReader(part: StationPartition, schema: StructType,
    decode: (String, Configuration) => StationData, conf: Configuration, keyed: Boolean)
    extends PartitionReader[InternalRow] {
  private var data: StationData = _
  private var station: UTF8String = _
  private var cols: Array[StationColumn] = _
  private var decodeNs, bytesRead = 0L
  private val writer = new UnsafeRowWriter(schema.length, 64)
  private var i = -1

  private def open(): Unit = {
    val bytes0 = threadBytesRead()
    val t0 = System.nanoTime()
    data = try decode(part.path, conf) catch {
      case NonFatal(e) if !String.valueOf(e.getMessage).contains(part.path) =>
        throw new IllegalStateException(s"${part.path}: ${e.getMessage}", e)
    }
    decodeNs = System.nanoTime() - t0
    bytesRead = threadBytesRead() - bytes0
    if (keyed && data.station != part.station)
      throw new IllegalStateException(s"${part.path}: holds station '${data.station}', " +
        s"but its file name keys it as '${part.station}': the first container is named " +
        "after its station, so the read is keyed on file names")
    station = UTF8String.fromString(data.station)
    val byName = data.cols.map(c => c.name -> c).toMap
    cols = schema.fields.drop(2).map { f =>
      byName.get(f.name).map { c =>
        if (c.dataType != f.dataType) throw new IllegalArgumentException(
          s"${part.path}: column ${f.name} holds ${c.dataType}, not ${f.dataType}")
        c
      }.orNull
    }
  }

  override def next(): Boolean = {
    if (data == null) open()
    i += 1
    i < data.time.length
  }

  override def get(): InternalRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, station)
    writer.write(1, data.time(i))
    var j = 0
    while (j < cols.length) {
      val c = cols(j)
      if (c == null || c.isNull(i)) writer.setNullAt(j + 2) else c.write(writer, j + 2, i)
      j += 1
    }
    writer.getRow
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    StationScan.taskMetric("containersRead", if (data == null) 0L else 1L),
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

/** A summed scan metric; Spark builds each subclass by its no-argument constructor. */
abstract class StationSumMetric(metric: String, text: String) extends CustomSumMetric {
  override def name(): String = metric
  override def description(): String = text
}
class ContainersReadMetric extends StationSumMetric("containersRead", "station containers read")
class BytesReadMetric extends StationSumMetric("bytesRead", "station container bytes read")
class DecodeNsMetric extends StationSumMetric("decodeNs", "station container decode time (ns)")
