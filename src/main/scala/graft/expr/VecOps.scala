package graft.expr

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dense-vector kernels as NATIVE Catalyst expressions.
  *
  * The HOF formulations (`aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` and the
  * cosine built from three of them) are evaluated INTERPRETED — higher-order
  * functions sit outside whole-stage codegen, and each evaluation allocates the
  * zipped/transformed intermediate array. On pair-quadratic paths (d12's in-cell
  * SemDeDup verify: ~1.9 M cosines at sf0.1) that interpretation dominated the
  * query. These run as one codegen'd call, no intermediates.
  *
  * Bit-identical by construction (VecOpsSpec pins equivalence and codegen/
  * interpreted parity; every e-family/d5/d12 oracle, which inlines the same
  * ordered folds in SQL, stays bit-exact):
  *  - accumulation order is the HOF fold's left-to-right order, one accumulator
  *    per sum — plain IEEE multiply/add, no FMA, no reassociation;
  *  - cosine guard is exactly `when(sqrt(aa)*sqrt(bb) === 0.0, 0.0)
  *    .otherwise(dot/denom)` — NaN denominators fall through to NaN;
  *  - a null element or length mismatch yields NULL, matching zip_with's
  *    null-padding → null product → null sum propagation. */
object VecOps {

  /** Ordered dot product; boxed so null can signal the HOF null semantics.
    *
    * Float-precision parity: Catalyst's `Multiply` of two FLOAT elements rounds
    * the product to FLOAT before `aggregate`'s double accumulator widens it
    * (`x * y` in the zip_with lambda is float×float → float). A float×double mix
    * widens the float first, so only the both-float case rounds. Mirrored here —
    * this is observable (e6 assigns cells differently without it). */
  def dotBoxed(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (if (aF && bF) (a.getFloat(i) * b.getFloat(i)).toDouble
              else elem(a, i, aF) * elem(b, i, bF))
      i += 1
    }
    acc
  }

  /** Fused cosine: one pass, three ordered accumulators (ab, aa, bb); each
    * accumulator follows its own array's float-product rule (aa rounds to float
    * iff `a` is a float array, etc. — exactly the composed `sqrt(dot(a, a))`/dot chain). */
  def cosineBoxed(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      if (aF && bF) {
        val xf = a.getFloat(i); val yf = b.getFloat(i)
        ab += (xf * yf).toDouble; aa += (xf * xf).toDouble; bb += (yf * yf).toDouble
      } else {
        val x = elem(a, i, aF); val y = elem(b, i, bF)
        ab += x * y
        aa += (if (aF) { val xf = a.getFloat(i); (xf * xf).toDouble } else x * x)
        bb += (if (bF) { val yf = b.getFloat(i); (yf * yf).toDouble } else y * y)
      }
      i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }

  /** The SQ asymmetric dot kernel — see [[SqDot]]. `sq` is the quantizeInt8
    * struct row (codes: array<int>, mn: double, mx: double). Null elements or
    * a length mismatch yield NULL (the zip_with-null-padding semantics). */
  def sqDotBoxed(q: ArrayData, sq: org.apache.spark.sql.catalyst.InternalRow): java.lang.Double = {
    if (sq.isNullAt(0) || sq.isNullAt(1) || sq.isNullAt(2)) return null
    val codes = sq.getArray(0)
    val mn = sq.getDouble(1)
    val mx = sq.getDouble(2)
    val n = q.numElements()
    if (n != codes.numElements()) return null
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || codes.isNullAt(i)) return null
      val qi = q.getDouble(i)
      s1 += qi * (codes.getInt(i) + 128).toDouble
      s2 += qi
      i += 1
    }
    (mx - mn) / 255.0 * s1 + mn * s2
  }

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
}

sealed trait VecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  protected def helper: String

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName needs array<float|double> inputs, got $t")
  }
  protected def leftF: Boolean = isFloatArr(left)
  protected def rightF: Boolean = isFloatArr(right)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecr")
      s"""java.lang.Double $r = graft.expr.VecOps.$helper($a, $b, $leftF, $rightF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
}

/** `dot(a, b)` — see [[VecOps]]. */
case class VecDot(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "graft_vec_dot"
  override protected def helper: String = "dotBoxed"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftF, rightF)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `cosine(a, b)` with the zero-denominator guard — see [[VecOps]]. */
case class CosineSim(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "graft_cosine"
  override protected def helper: String = "cosineBoxed"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosineBoxed(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftF, rightF)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `sqDot(qv, sq)` — the asymmetric scalar-quantized dot product
  * (`graft.ann.AnnOps.sqScoreTopK`'s kernel): exactly
  * `(mx − mn)/255 · Σᵢ qvᵢ·(codesᵢ+128) + mn · Σᵢ qvᵢ` with both sums as
  * independent left-to-right accumulators, bit-identical to the HOF
  * formulation (pinned in VecOpsSpec) and to the SQL oracle's ordered
  * `list_sum` folds. The HOF form evaluated INTERPRETED on the corpus×query
  * candidate stream (e12's 100× solo first measured 47.6 s — the fold, not
  * the scan, was the cost); this runs inside whole-stage codegen like
  * [[VecDot]]. `right` is the `quantizeInt8` struct (codes, mn, mx). */
case class SqDot(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "graft_sq_dot"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types._
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), StructType(Array(
          StructField("codes", ArrayType(IntegerType, _), _, _),
          StructField("mn", DoubleType, _, _),
          StructField("mx", DoubleType, _, _)))) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<double>, struct<codes:array<int>,mn:double,mx:double>), got ($l, $r)")
    }
  }

  override def nullSafeEval(q: Any, s: Any): Any =
    VecOps.sqDotBoxed(q.asInstanceOf[ArrayData],
      s.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, s) => {
      val r = ctx.freshName("sqr")
      s"""java.lang.Double $r = graft.expr.VecOps.sqDotBoxed($q, $s);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SqDot {
  def expr(qv: Column, sq: Column): Column =
    GraftSqlBridge.column(SqDot(GraftSqlBridge.expression(qv), GraftSqlBridge.expression(sq)))
}

object VecDot {
  def expr(a: Column, b: Column): Column =
    GraftSqlBridge.column(VecDot(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

object CosineSim {
  def expr(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSim(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
