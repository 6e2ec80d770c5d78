package graft.dedup

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Large-star/small-star connected components: same (id, cluster) contract as the
  * [[LabelPropagation]] reference, pinned by equality on graph shapes that stress each
  * algorithm differently — a long chain is ADVERSARIAL for label propagation
  * (diameter rounds) and easy for star contraction; dense random graphs and star
  * forests exercise the contraction's rewiring invariants. */
class StarCcSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: DataFrame): Set[(Long, Long)] =
    LabelPropagation.connectedComponents(edges, maxIter = 200)
      .as[(Long, Long)].collect().toSet

  private def ccStar(edges: DataFrame): Set[(Long, Long)] =
    DedupOps.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toSet

  test("star CC equals label propagation on a long chain (the adversarial case)") {
    val n = 60L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val exp = (0L until n).map(i => (i, 0L)).toSet
    assert(ccStar(chain) == exp)
    assert(cc(chain) == exp)
  }

  test("star CC equals label propagation on random graphs (seeded)") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val nodes = 80
      val edges = Seq.fill(100)(
          (rng.nextInt(nodes).toLong, rng.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id1", "id2")
      assert(ccStar(edges) == cc(edges), s"mismatch at seed $seed")
    }
  }

  test("star CC handles star forests, triangles, and self-contained pairs") {
    val edges = Seq(
      // star centered at 10
      (10L, 11L), (10L, 12L), (10L, 13L),
      // triangle
      (20L, 21L), (21L, 22L), (22L, 20L),
      // pair listed high-to-low
      (31L, 30L)).toDF("id1", "id2")
    val exp = Set(
      (10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L),
      (30L, 30L), (31L, 30L))
    assert(ccStar(edges) == exp)
    assert(cc(edges) == exp)
  }

  test("star CC on empty and self-loop-only input returns no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(ccStar(empty).isEmpty)
    val selfOnly = Seq((5L, 5L)).toDF("id1", "id2")
    assert(ccStar(selfOnly).isEmpty)
  }

  /** The Dataset actions `body` runs, by name, in order. */
  private def actions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    GraftSqlBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; GraftSqlBridge.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("star CC stops after the one round that leaves a star forest") {
    // a star forest is already the fixpoint; one round turns the two-hop path
    // 1-2-3 into the star {2->1, 3->1}
    val forest = Seq((10L, 11L), (12L, 10L), (10L, 13L), (20L, 21L)).toDF("id1", "id2")
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    for ((edges, exp) <- Seq(
        forest -> Set((10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L), (20L, 20L), (21L, 20L)),
        path -> Set((1L, 1L), (2L, 1L), (3L, 1L)))) {
      var out: DataFrame = null
      val ran = actions { out = DedupOps.connectedComponentsStar(edges) }
      // one round: its lazy checkpoint and the star-forest test, no other action
      assert(ran == Seq("localCheckpoint", "count"), ran)
      assert(out.as[(Long, Long)].collect().toSet == exp)
    }
  }
}
