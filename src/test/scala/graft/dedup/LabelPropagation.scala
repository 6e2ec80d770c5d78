package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label propagation connected components — the parity reference for
  * [[DedupOps.connectedComponentsStar]] (same (id, cluster = component minimum)
  * contract). Per round every node takes the min of its own and its neighbors'
  * labels (one equi-join + one groupBy), repeated to a fixpoint, so rounds =
  * component diameter: simple enough to trust, too slow on long chains to ship.
  * The first round folds into the init as one groupBy over the edge list; each
  * later round reads convergence from a `sum(lbl != own)` aggregate in the same
  * job that materializes its lazy `localCheckpoint`, which also keeps the
  * iterate's plan from doubling per round. */
object LabelPropagation {
  def connectedComponents(edges: DataFrame, id1: String = "id1", id2: String = "id2",
                          maxIter: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // repartition by src BEFORE distinct: hash(src) co-locates equal (src,dst) rows,
    // so the distinct is partition-local (no extra shuffle), the init groupBy(src) is
    // partition-local, and every round's join on src reuses the cached partitioning —
    // one setup shuffle buys zero e-side exchanges for the whole loop.
    val e = edges.select(col(id1).as("src"), col(id2).as("dst"))
      .union(edges.select(col(id2).as("src"), col(id1).as("dst")))
      .repartition(col("src"))
      .distinct()
      .persist(lvl)
    // round 1 fused into init: label = min(id, min(neighbors)), one groupBy, no join
    var labels = e.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var iter = 1
    while (!converged && iter < maxIter) {
      val lblType = labels.schema("lbl").dataType
      val msgs = e.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"), lit(null).cast(lblType).as("own"))
      // LAZY checkpoint + one full-scan aggregate: the agg action materializes the
      // checkpoint AND returns the changed-label count in the same job (the former
      // eager-checkpoint + filter/limit/count pair was two jobs per round — pure
      // driver/job overhead on converging graphs).
      val next = labels.select(col("id"), col("lbl"), col("lbl").as("own"))
        .unionByName(msgs)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"), max(col("own")).as("own"))
        .localCheckpoint(false)
      val changed = next.agg(
        sum(when(col("lbl") =!= col("own"), 1L).otherwise(0L))).first().getLong(0)
      labels.unpersist()
      labels = next.drop("own")
      converged = changed == 0
      iter += 1
    }
    e.unpersist()
    if (!converged)
      System.err.println(s"[graft] LabelPropagation.connectedComponents: NOT converged after $maxIter " +
        "rounds — a component's diameter exceeds maxIter; labels are consistent but " +
        "not minimal.")
    labels.select(col("id"), col("lbl").as("cluster"))
  }
}
