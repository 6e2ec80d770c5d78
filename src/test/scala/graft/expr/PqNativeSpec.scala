package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ann.{AnnHofReference, AnnOps}

/** Pins [[PqEncodeNative]] / [[IvfAssignNative]] to the HOF folds they replaced
  * (`AnnHofReference.pqEncodeHof` / `AnnHofReference.ivfAssignHof`), the fused residual form to
  * the composed `zip_with` + encode expression, and codegen to interpreted. */
class PqNativeSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(7)
  private val m = 4; private val k = 16; private val subDim = 4
  private val dim = m * subDim
  private val cbs = AnnOps.pqCodebooks(m, k, subDim, seed = 5L)
  private val cents = AnnOps.hyperplanes(6, dim, seed = 9L)

  private def residualHof(v: org.apache.spark.sql.Column,
                          cell: org.apache.spark.sql.Column) =
    zip_with(v, element_at(typedlit(cents), cell.cast("int") + 1), (a, b) => a - b)

  test("pqEncode native == HOF fold bit-for-bit (codes and sse), double and float vectors") {
    val rows = (1 to 120).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    val df = rows.toDF("id", "v").withColumn("vf", col("v").cast("array<float>"))
    val cmp = df
      .withColumn("n", AnnOps.pqEncode(col("v"), cbs))
      .withColumn("h", AnnHofReference.pqEncodeHof(col("v"), cbs))
      .withColumn("nf", AnnOps.pqEncode(col("vf"), cbs))
      .withColumn("hf", AnnHofReference.pqEncodeHof(col("vf"), cbs))
    assert(cmp.filter(not(col("n.codes") <=> col("h.codes"))).count() == 0, "codes parity")
    assert(cmp.filter(not(col("n.sse") <=> col("h.sse"))).count() == 0, "sse parity")
    assert(cmp.filter(not(col("nf.codes") <=> col("hf.codes"))).count() == 0, "float codes parity")
    assert(cmp.filter(not(col("nf.sse") <=> col("hf.sse"))).count() == 0, "float sse parity")
  }

  test("fused residual encode == composed zip_with + HOF encode bit-for-bit") {
    val rows = (1 to 120).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    val df = rows.toDF("id", "v")
      .withColumn("cell", AnnOps.ivfAssign(col("v"), cents))
    val cmp = df
      .withColumn("n", PqEncodeNative.residualExpr(col("v"), col("cell"), cents, cbs))
      .withColumn("h", AnnHofReference.pqEncodeHof(residualHof(col("v"), col("cell")), cbs))
    assert(cmp.filter(not(col("n.codes") <=> col("h.codes"))).count() == 0, "residual codes parity")
    assert(cmp.filter(not(col("n.sse") <=> col("h.sse"))).count() == 0, "residual sse parity")
    // float vector through the residual path: zip_with widens float - double
    val cmpF = df.withColumn("vf", col("v").cast("array<float>"))
      .withColumn("n", PqEncodeNative.residualExpr(col("vf"), col("cell"), cents, cbs))
      .withColumn("h", AnnHofReference.pqEncodeHof(residualHof(col("vf"), col("cell")), cbs))
    assert(cmpF.filter(not(col("n.codes") <=> col("h.codes"))).count() == 0, "float residual parity")
    assert(cmpF.filter(not(col("n.sse") <=> col("h.sse"))).count() == 0, "float residual sse parity")
  }

  test("ivfAssign native == HOF fold, including NaN-component vectors -> cell 0") {
    val rows = (1 to 150).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian())))
    val df = rows.toDF("id", "v").withColumn("vf", col("v").cast("array<float>"))
    val cmp = df
      .withColumn("n", AnnOps.ivfAssign(col("v"), cents))
      .withColumn("h", AnnHofReference.ivfAssignHof(col("v"), cents))
      .withColumn("nf", AnnOps.ivfAssign(col("vf"), cents))
      .withColumn("hf", AnnHofReference.ivfAssignHof(col("vf"), cents))
    assert(cmp.filter(not(col("n") <=> col("h"))).count() == 0, "assign parity")
    assert(cmp.filter(not(col("nf") <=> col("hf"))).count() == 0, "float assign parity")
    // degenerate contract: Spark comparisons rank NaN LARGEST, so an all-NaN
    // vector's uniformly-NaN cosines replace the seed each round -> cell k-1
    // (both paths; a valid cell either way, which is what downstream needs)
    val nan = Seq((1L, Seq.fill(dim)(Double.NaN))).toDF("id", "v")
      .select(AnnOps.ivfAssign(col("v"), cents).as("c"),
        AnnHofReference.ivfAssignHof(col("v"), cents).as("ch")).collect().head
    assert(nan.getInt(0) == cents.size - 1 && nan.getInt(1) == cents.size - 1)
    // single-centroid degenerate: always 0 on both paths
    val one = Seq((1L, Seq.fill(dim)(1.0))).toDF("id", "v")
      .select(AnnOps.ivfAssign(col("v"), cents.take(1)).as("c")).collect().head
    assert(one.getInt(0) == 0)
  }

  test("degenerate inputs keep the HOF contract: null/short vectors -> -1 codes, cell 0") {
    // (HOF comparison needs non-ANSI element_at for out-of-range indices, so
    // these pin the DOCUMENTED semantics directly: every candidate distance is
    // null -> seed survives -> code -1, dist MaxValue; assignment -> cell 0.)
    val rows = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Double]]), // null vector
      (2L, Seq.fill(3)(java.lang.Double.valueOf(0.5))), // too short
      (3L, (Seq[java.lang.Double](null) ++ Seq.fill(dim - 1)(
        java.lang.Double.valueOf(0.5)))) // null element in subspace 0
    ).toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
    val out = rows
      .withColumn("pq", AnnOps.pqEncode(col("v"), cbs))
      .withColumn("cell", AnnOps.ivfAssign(col("v"), cents))
      .select(col("id"), col("pq.codes"), col("pq.sse"), col("cell"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getDouble(2), r.getInt(3))).toMap
    assert(out(1L)._1 == Seq.fill(m)(-1) && out(1L)._3 == 0)
    assert(out(2L)._1 == Seq.fill(m)(-1) && out(2L)._3 == 0)
    // null element only poisons ITS subspace; the rest encode normally
    assert(out(3L)._1.head == -1 && out(3L)._1.tail.forall(_ >= 0))
    assert(out(3L)._2 >= Double.MaxValue) // the poisoned subspace adds MaxValue
    // residual path with an out-of-range cell: all -1
    val bad = Seq((1L, Seq.fill(dim)(0.5), 99)).toDF("id", "v", "cell")
      .select(PqEncodeNative.residualExpr(col("v"), col("cell"), cents, cbs)
        .getField("codes").as("c")).collect().head.getSeq[Int](0)
    assert(bad == Seq.fill(m)(-1))
  }

  test("codegen and interpreted paths agree") {
    val df = Seq((1L, Seq.fill(dim)(0.25) ++ Seq.empty)).toDF("id", "v")
      .withColumn("v", transform(col("v"), (x, i) => x * (i + 1)))
    def vals() = df.select(
      AnnOps.pqEncode(col("v"), cbs).as("pq"),
      AnnOps.ivfAssign(col("v"), cents).as("cell"),
      PqEncodeNative.residualExpr(col("v"), lit(2), cents, cbs).as("rpq"))
      .collect().head
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val i = vals()
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val g = vals()
    assert(i.toString == g.toString)
  }
}
