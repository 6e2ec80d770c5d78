package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** One per-step column of a station's run, unboxed, as the encoders take it. */
sealed trait RunColumn { def name: String }

object RunColumn {
  /** Doubles, NaN for null: both encoders write a null double as NaN. */
  final case class Doubles(name: String, values: Array[Double]) extends RunColumn
  /** Longs; `nulls(i)` marks a null. */
  final case class Longs(name: String, values: Array[Long], nulls: Array[Boolean])
      extends RunColumn
  /** Strings, null for null. */
  final case class Strings(name: String, values: Array[String]) extends RunColumn

  /** Collects one column of `dataType` from rows, growing as rows come. */
  private[sources] sealed abstract class Builder {
    def add(row: InternalRow, ordinal: Int, i: Int): Unit
    def result(name: String, n: Int): RunColumn
  }

  /** The builder for a sink column of `dataType`; an unsupported type is refused. */
  private[sources] def builder(dataType: DataType): Builder = dataType match {
    case DoubleType | FloatType => new Builder {
      private var vs = new Array[Double](64)
      def add(row: InternalRow, o: Int, i: Int): Unit = {
        if (i == vs.length) vs = java.util.Arrays.copyOf(vs, i * 2)
        vs(i) = if (row.isNullAt(o)) Double.NaN
          else if (dataType == FloatType) row.getFloat(o).toDouble else row.getDouble(o)
      }
      def result(name: String, n: Int): RunColumn = Doubles(name, java.util.Arrays.copyOf(vs, n))
    }
    case LongType | IntegerType | ShortType | ByteType => new Builder {
      private var vs = new Array[Long](64)
      private var nulls = new Array[Boolean](64)
      def add(row: InternalRow, o: Int, i: Int): Unit = {
        if (i == vs.length) {
          vs = java.util.Arrays.copyOf(vs, i * 2); nulls = java.util.Arrays.copyOf(nulls, i * 2)
        }
        nulls(i) = row.isNullAt(o)
        vs(i) = if (nulls(i)) 0L else dataType match {
          case LongType => row.getLong(o)
          case IntegerType => row.getInt(o).toLong
          case ShortType => row.getShort(o).toLong
          case _ => row.getByte(o).toLong
        }
      }
      def result(name: String, n: Int): RunColumn =
        Longs(name, java.util.Arrays.copyOf(vs, n), java.util.Arrays.copyOf(nulls, n))
    }
    case StringType => new Builder {
      private var vs = new Array[String](64)
      def add(row: InternalRow, o: Int, i: Int): Unit = {
        if (i == vs.length) vs = java.util.Arrays.copyOf(vs, i * 2)
        vs(i) = if (row.isNullAt(o)) null else row.getUTF8String(o).toString
      }
      def result(name: String, n: Int): RunColumn = Strings(name, java.util.Arrays.copyOf(vs, n))
    }
    case other => throw new IllegalArgumentException(s"unsupported per-station sink type $other")
  }
}

/** One station's rows as the encoders take them: the id, the time axis in epoch
  * microseconds, ascending, and the data columns. */
final case class StationRun(station: String, time: Array[Long], cols: Seq[RunColumn])

/** One encoded container: its name under the sink's output directory (the ledger
  * path is `<outDir>/<name>`), its files relative to that directory, and its
  * chunk count. */
final case class Container(name: String, files: Seq[(String, Array[Byte])], chunks: Long)

/** The logical station sink: writes `child`'s rows as one container per `station`
  * under `outDir`, each built by `encode` from the station's run in `time` order,
  * and returns the ledger `output` (station, path, rows, chunks, bytes). */
case class StationSink(station: Attribute, time: Attribute, columns: Seq[Attribute],
                       outDir: String, encode: StationRun => Container,
                       output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] = Iterator(station, time, columns, outDir)
  override protected def withNewChildInternal(newChild: LogicalPlan): StationSink =
    copy(child = newChild)
}

/** The physical station sink. It asks for its input clustered on the station and
  * sorted on (station, time), so raw input gets one hash shuffle and one sort, and
  * input a series scan keyed on the station has already clustered and sorted gets
  * neither. Each partition then holds whole stations one after another; their rows
  * stream into [[RunColumn]] builders, one station at a time. */
case class StationSinkExec(station: Attribute, time: Attribute, columns: Seq[Attribute],
                           outDir: String, encode: StationRun => Container,
                           output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] = Iterator(station, time, columns, outDir)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(station)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(station, Ascending), SortOrder(time, Ascending)))
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "containersWritten" -> SQLMetrics.createMetric(sparkContext, "station containers written"),
    "bytesWritten" -> SQLMetrics.createSizeMetric(sparkContext, "station container bytes written"),
    "encodeNs" -> SQLMetrics.createNanoTimingMetric(sparkContext, "station container encode time"))
  override protected def withNewChildInternal(newChild: SparkPlan): StationSinkExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val conf = sparkContext.broadcast(
      new SerializableConfiguration(sparkContext.hadoopConfiguration))
    val ords = (station +: time +: columns).map(a => child.output.indexWhere(_.exprId == a.exprId))
    val (stationOrd, timeOrd, colOrds) = (ords(0), ords(1), ords.drop(2))
    val (names, types) = (columns.map(_.name), columns.map(_.dataType))
    val (dir, enc) = (outDir, encode)
    val (rowsOut, written, bytesOut, encodeNs) = (longMetric("numOutputRows"),
      longMetric("containersWritten"), longMetric("bytesWritten"), longMetric("encodeNs"))
    val ledgerTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val hadoop = conf.value.value
      val builders = types.map(RunColumn.builder)
      val ledger = UnsafeProjection.create(ledgerTypes)
      val in = rows.buffered
      var times = new Array[Long](64)
      new Iterator[InternalRow] {
        override def hasNext: Boolean = in.hasNext
        override def next(): InternalRow = {
          val id = in.head.getUTF8String(stationOrd).clone()
          var n = 0
          while (in.hasNext && in.head.getUTF8String(stationOrd) == id) {
            val r = in.next()
            if (n == times.length) times = java.util.Arrays.copyOf(times, n * 2)
            times(n) = r.getLong(timeOrd)
            var j = 0
            while (j < builders.length) { builders(j).add(r, colOrds(j), n); j += 1 }
            n += 1
          }
          val t0 = System.nanoTime()
          val c = enc(StationRun(id.toString, java.util.Arrays.copyOf(times, n),
            builders.indices.map(j => builders(j).result(names(j), n))))
          encodeNs += System.nanoTime() - t0
          val bytes = StationRuns.writeFiles(dir, hadoop, c.files)
          rowsOut += 1
          written += 1
          bytesOut += bytes
          ledger(InternalRow(id, UTF8String.fromString(s"$dir/${c.name}"), n.toLong, c.chunks,
            bytes))
        }
      }
    }
  }
}

object StationSinkStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: StationSink =>
      StationSinkExec(s.station, s.time, s.columns, s.outDir, s.encode, s.output,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}
