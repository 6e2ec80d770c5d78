package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.AttrsTable

/** One encoded container: its name under the sink's output directory (the ledger
  * path is `<outDir>/<name>`), its files relative to that directory, and its
  * chunk count. */
final case class Container(name: String, files: Seq[(String, Array[Byte])], chunks: Long)

/** The logical station sink: writes `child`'s rows as one container per `station`
  * under `outDir`, each built by `encode` from the station's [[StationData]] in
  * `time` order with `attrs`, and returns the ledger `output` (station, path, rows,
  * chunks, bytes). */
case class StationSink(station: Attribute, time: Attribute, columns: Seq[Attribute],
                       outDir: String, attrs: AttrsTable, encode: StationData => Container,
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
  * stream into growing [[StationColumn]]s, one station at a time. */
case class StationSinkExec(station: Attribute, time: Attribute, columns: Seq[Attribute],
                           outDir: String, attrs: AttrsTable, encode: StationData => Container,
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
    val (stationOrd, timeOrd, colOrds) = (ords(0), ords(1), ords.drop(2).toArray)
    val (dir, enc, at) = (outDir, encode, attrs)
    val (rowsOut, written, bytesOut, encodeNs) = (longMetric("numOutputRows"),
      longMetric("containersWritten"), longMetric("bytesWritten"), longMetric("encodeNs"))
    val ledgerTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val hadoop = conf.value.value
      val ledger = UnsafeProjection.create(ledgerTypes)
      val in = rows.buffered
      new Iterator[InternalRow] {
        override def hasNext: Boolean = in.hasNext
        override def next(): InternalRow = {
          val id = in.head.getUTF8String(stationOrd).clone()
          var times = new Array[Long](64)
          var cols = columns.map(a => StationColumn.allocate(a.name, a.dataType, 64)).toArray
          var n = 0
          while (in.hasNext && in.head.getUTF8String(stationOrd) == id) {
            val r = in.next()
            if (n == times.length) {
              times = java.util.Arrays.copyOf(times, n * 2); cols = cols.map(_.resized(n * 2))
            }
            times(n) = r.getLong(timeOrd)
            var j = 0
            while (j < cols.length) {
              if (r.isNullAt(colOrds(j))) cols(j).setNull(n) else cols(j).read(r, colOrds(j), n)
              j += 1
            }
            n += 1
          }
          val t0 = System.nanoTime()
          val c = enc(StationData(id.toString, java.util.Arrays.copyOf(times, n),
            cols.toSeq.map(_.resized(n)), at))
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
      StationSinkExec(s.station, s.time, s.columns, s.outDir, s.attrs, s.encode, s.output,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}
