package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3, J2–J10; J1 is a plain broadcast join). Small dimension sides are broadcast;
  * series-local joins never shuffle more than one series' rows to a partition.
  */
object JoinOps {

  /** J2/J6 — small-dimension metadata join (sensor heights per station,
    * `MADIS_clean.py:456-460,791-824`; units table `MADIS_clean.py:634-647`): an
    * explicit broadcast — these tables are genuinely tiny (≤15k rows) and the hint
    * spares AQE a size estimation round. */
  def joinMetadata(obs: DataFrame, meta: DataFrame, keys: Seq[String]): DataFrame =
    obs.join(broadcast(meta), keys, "left")

  /** J3 — co-located grouping: dense group id over identical join-key tuples
    * (`/root/reference/scripts/3_qaqc_data/qaqc_concatenate_stations.py:87-152`). */
  def colocatedGroups(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("members"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** J4 — latest-wins overlap union: n-way union of prioritized sources; for duplicate
    * keys keep the row with the highest `recency` (one window pass replaces the
    * reference's pairwise-reduce loop, `qaqc_concatenate_stations.py:206-405`). */
  def latestWins(sources: Seq[DataFrame], keys: Seq[String], recency: Column): DataFrame = {
    val unioned = sources.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(recency.desc)
    unioned.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** As-of join: each left row picks the LATEST right row with
    * `rightTime <= leftTime` per key (sensor-calibration/metadata-history joins — the
    * general form of the reference's hand-rolled latest-wins overlap logic,
    * `qaqc_concatenate_stations.py:206-239`).
    *
    * Union-window formulation: tag both sides, union, one window pass carrying the
    * last right payload forward in time order, keep left rows. ONE shuffle on the
    * key, no range cross-product, no per-key collect — survives arbitrary key
    * cardinality and right-side history length. Right rows sort before left rows at
    * equal timestamps, so an exactly-simultaneous right row IS visible to the left
    * row (ASOF `<=` semantics). `rightCols` are the payload columns to carry. */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightCols: Seq[String]): DataFrame = {
    val l = left.withColumn("_t", col(leftTime)).withColumn("_side", lit(1))
    val r = right.select(
      (keys.map(col) :+ col(rightTime).as("_t") :+ lit(0).as("_side")) ++
        rightCols.map(c => col(c).as(s"_r_$c")): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = rightCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(s"_r_$c", last(col(s"_r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1)
      .drop("_t", "_side")
      .withColumnsRenamed(rightCols.map(c => s"_r_$c" -> c).toMap)
  }

  /** Range join: left points matched to right intervals `[start, end)` per key.
    * A naive non-equi join plans as BroadcastNestedLoop (quadratic — unusable at
    * scale); bucketizing both sides onto a `bucketWidth`-second grid turns it into an
    * equi-join on (key, bucket) + a residual filter. Each interval explodes into
    * `len/bucketWidth + 1` bucket rows — pick bucketWidth near the typical interval
    * length so the blow-up is ~2×. Overlapping intervals yield one output row per
    * covering interval (standard interval-join semantics). */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                pointCol: String, startCol: String, endCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive seconds")
    val rb = right.withColumn("_bkt", explode(sequence(
      floor(col(startCol).cast("long") / bucketWidth).cast("long"),
      floor(col(endCol).cast("long") / bucketWidth).cast("long"))))
    val lb = left.withColumn("_bkt",
      floor(col(pointCol).cast("long") / bucketWidth).cast("long"))
    lb.join(rb, keys :+ "_bkt")
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("_bkt")
  }

  /** J9 — pairwise-difference outlier without the O(n²) self-join: the reference flags
    * row i when |xᵢ − xⱼ| > thr for EVERY other j (`check_differences`,
    * `/root/reference/scripts/3_qaqc_data/qaqc_unusual_gaps.py:449-481`). Over the
    * value-sorted group the minimum distance to any other element is the distance to a
    * sorted neighbor, so the all-pairs predicate collapses to two lag/lead comparisons —
    * exact, one shuffle, no matrix. */
  def pairwiseDiffOutlier(df: DataFrame, keys: Seq[String], valueCol: String,
                          threshold: Double): DataFrame = {
    val v = col(valueCol)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(v)
    val n = count(v).over(Window.partitionBy(keys.map(col): _*))
    val prev = lag(v, 1).over(w)
    val next = lead(v, 1).over(w)
    df.withColumn("outlier",
      n > 1 &&
        (prev.isNull || (v - prev) > threshold) &&
        (next.isNull || (next - v) > threshold))
  }
}
