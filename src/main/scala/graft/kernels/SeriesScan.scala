package graft.kernels

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructField

/** A row-preserving streaming computation over series: it sees each partition's rows
  * sorted by (keys, time), one series (key group) after another, and appends
  * [[outputs]] to every row. Kernels are case classes: their parameters are part of
  * the plan, so two equal scans over the same input canonicalize equal. */
abstract class SeriesKernel extends Product with Serializable {
  def outputs: Seq[StructField]

  /** The kernel's state over one task's partition. `firstOut` is the ordinal of the
    * first kernel column in the rows the run receives; `fifo` makes a spillable row
    * buffer. */
  def open(firstOut: Int, fifo: () => RowFifo): SeriesRun
}

/** One kernel over one partition. The scan calls [[push]] for every row in
  * (keys, time) order and [[endGroup]] after each series, and takes rows back with
  * [[pop]] while [[hasReady]]. It pushes no row while one is ready, except the first
  * row of the next series right after [[endGroup]]: a push must leave what
  * [[finish]] reads for the released rows as it is.
  *
  * A pushed row has the output layout: the input columns, then the kernel's columns,
  * which are null until the kernel sets them (`UnsafeRow.setDouble`/`setBoolean`; all
  * kernel columns are fixed-width). A row whose columns are final goes out through
  * [[put]]; a row that waits on later rows is [[hold]]-ed in the FIFO, in input
  * order, and [[finish]] sets its columns when it is popped after a [[release]]. */
abstract class SeriesRun(fifo: RowFifo) {
  private var ready = 0
  private var direct: UnsafeRow = null

  /** `row`: the output-layout row (valid until the next push); `in`: the kernel's
    * input expressions evaluated on it. */
  def push(row: UnsafeRow, in: InternalRow): Unit
  def endGroup(): Unit
  /** Sets the final kernel columns of a held row as it leaves the FIFO. */
  protected def finish(row: UnsafeRow): Unit

  final def hasReady: Boolean = ready > 0 || direct != null
  final def pop(): UnsafeRow =
    if (ready > 0) { ready -= 1; val r = fifo.pop(); finish(r); r }
    else { val r = direct; direct = null; r }
  /** Rows held and not yet popped. */
  protected final def held: Int = fifo.size
  protected final def hold(row: UnsafeRow): Unit = fifo.push(row)
  /** A final row: out at once if nothing is held, else behind the held rows (and
    * [[finish]] must leave it as it is). */
  protected final def put(row: UnsafeRow): Unit =
    if (fifo.isEmpty) direct = row else fifo.push(row)
  /** The next `n` held rows not yet released may leave. */
  protected final def release(n: Int): Unit = ready += n
  protected final def releaseAll(): Unit = ready = fifo.size
  final def close(): Unit = fifo.close()
}

/** A first-in first-out row buffer over two of Spark's spillable
  * `ExternalAppendOnlyUnsafeRowArray`s (the buffer `Window` uses): rows are appended
  * to one while the other is read; the read one is cleared when it runs dry and the
  * two swap. Each row is copied in once and read once, and a long buffer spills to
  * disk under the window buffer thresholds instead of growing the heap. */
final class RowFifo(make: () => ExternalAppendOnlyUnsafeRowArray) {
  private var back = make()
  private var front = make()
  private var it: Iterator[UnsafeRow] = Iterator.empty
  private var frontLeft = 0

  def size: Int = frontLeft + back.length
  def isEmpty: Boolean = size == 0
  def push(row: UnsafeRow): Unit = back.add(row)
  /** The oldest row; valid until the next pop. */
  def pop(): UnsafeRow = {
    if (frontLeft == 0) {
      front.clear()
      val t = front; front = back; back = t
      it = front.generateIterator()
      frontLeft = front.length
    }
    frontLeft -= 1
    it.next()
  }
  def close(): Unit = { front.clear(); back.clear() }
}

/** The logical series scan: `child`'s rows with `kernelOutput` appended, computed per
  * series of `keys` in `time` order by `kernel` from `inputs` (expressions over
  * `child`). */
case class SeriesScan(keys: Seq[Expression], time: Expression, inputs: Seq[Expression],
                      kernel: SeriesKernel, kernelOutput: Seq[Attribute],
                      child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ kernelOutput
  override def producedAttributes: AttributeSet = AttributeSet(kernelOutput)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): SeriesScan =
    copy(child = newChild)
}

/** The physical series scan. It asks for its input clustered on the keys and sorted
  * on (keys, time), and keeps that partitioning and ordering: scans chained over the
  * same keys and time share one exchange and one sort, and an input already hashed
  * on the keys (a bucketed table) is not shuffled. */
case class SeriesScanExec(keys: Seq[Expression], time: Expression, inputs: Seq[Expression],
                          kernel: SeriesKernel, kernelOutput: Seq[Attribute],
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ kernelOutput
  override def producedAttributes: AttributeSet = AttributeSet(kernelOutput)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys :+ time).map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(newChild: SparkPlan): SeriesScanExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val inMemory = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    val childOut = child.output
    // the kernel columns are null until the kernel sets them
    val outCols = kernelOutput.map(_.withNullability(true))
    val (ks, ins, k) = (keys, inputs, kernel)
    child.execute().mapPartitions { rows =>
      val groupOf = UnsafeProjection.create(ks, childOut)
      val inputsOf = UnsafeProjection.create(ins, childOut)
      val layout = UnsafeProjection.create(childOut ++ outCols, childOut ++ outCols)
      val blank = new GenericInternalRow(outCols.length)
      val joined = new JoinedRow
      // the thresholds `Window` gives its partition buffer
      val run = k.open(childOut.length, () => new RowFifo(() =>
        new ExternalAppendOnlyUnsafeRowArray(inMemory, spillBytes, spillRows, spillBytes)))
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => run.close()))
      new Iterator[InternalRow] {
        private var group: UnsafeRow = null
        private var done = false
        override def hasNext: Boolean = {
          while (!run.hasReady && !done) {
            if (rows.hasNext) {
              val r = rows.next()
              val g = groupOf(r)
              if (group == null || g != group) {
                if (group != null) run.endGroup()
                group = g.copy()
              }
              run.push(layout(joined(r, blank)), inputsOf(r))
            } else {
              if (group != null) run.endGroup()
              done = true
            }
          }
          run.hasReady
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          run.pop()
        }
      }
    }
  }
}

object SeriesScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: SeriesScan =>
      SeriesScanExec(s.keys, s.time, s.inputs, s.kernel, s.kernelOutput, planLater(s.child)) :: Nil
    case _ => Nil
  }
}

object SeriesScan {

  /** `df` with `kernel`'s columns appended, computed over each series of `keys` in
    * `timeCol` order from `inputs` (evaluated per row). A kernel column named like a
    * column of `df` replaces it in place, as `withColumn` does. Installs
    * [[SeriesScanStrategy]] in `df`'s session on first use. */
  def over(df: DataFrame, keys: Seq[String], timeCol: String, inputs: Seq[Column],
           kernel: SeriesKernel): DataFrame = {
    val spark = df.sparkSession
    GraftSqlBridge.addStrategy(spark, SeriesScanStrategy)
    val exprs = GraftSqlBridge.logicalPlan(
        df.select((keys.map(col) ++ (col(timeCol) +: inputs)): _*)) match {
      case Project(list, _) => list.map {
        case a: Alias => a.child
        case e => e
      }
      case other => throw new IllegalStateException(s"unexpected input plan: $other")
    }
    val (keyExprs, rest) = exprs.splitAt(keys.size)
    val outAttrs = kernel.outputs.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val scanned = GraftSqlBridge.ofRows(spark, SeriesScan(keyExprs, rest.head, rest.tail,
      kernel, outAttrs, GraftSqlBridge.logicalPlan(df)))
    val names = kernel.outputs.map(_.name).toSet
    if (!df.columns.exists(names)) scanned
    else {
      // withColumn semantics: a replaced column keeps its place
      val byName = outAttrs.map(a => a.name -> a).toMap
      val childAttrs = GraftSqlBridge.logicalPlan(df).output
      val kept = childAttrs.map(a => byName.getOrElse(a.name, a))
      val added = outAttrs.filterNot(a => childAttrs.exists(_.name == a.name))
      scanned.select((kept ++ added).map(GraftSqlBridge.column): _*)
    }
  }
}

/** Spark SQL's comparison semantics for doubles: NaN equals NaN and sorts above every
  * other value, and -0.0 equals 0.0. */
private[graft] object SqlDouble {
  def equal(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)
  def gt(a: Double, b: Double): Boolean = cmp(a, b) > 0
  def lt(a: Double, b: Double): Boolean = cmp(a, b) < 0
  private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)
  /** Spark's `=` on two values of one type. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => equal(x, y)
    case (x: Float, y: Float) => x == y || (x.isNaN && y.isNaN)
    case _ => a == b
  }
}
