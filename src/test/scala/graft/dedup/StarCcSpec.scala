package graft.dedup

import org.apache.spark.sql.DataFrame
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
}
