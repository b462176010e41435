package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftseam.ColumnSeam
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: left-to-right dot product of two
  * `array<double>` (or `array<float>`) columns.
  *
  * Semantics exactly mirror the higher-order-function formulation it
  * replaces (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`): strict
  * left-to-right double accumulation (bit-identical to the DuckDB
  * oracle's `list_sum(list_transform(range(n), i -> a[i]*b[i]))`), null
  * result on length mismatch or any null element (zip_with pads and
  * null-poisons the same way).
  *
  * float inputs (r18, guide §2.3 "narrower types"): each side may
  * independently be `array<float>`; elements are widened to double
  * BEFORE the multiply, so `dot_d(f, g)` over float arrays is
  * bit-identical to `dot_d(cast f, cast g)` over their double casts
  * (float→double widening is exact, and the accumulation is the same
  * double LTR either way — spec-pinned in SimilaritySpec). This lets
  * the similarity rescore paths ship the corpus's RAW float32 vectors
  * through exchanges and broadcasts at half the bytes of the
  * pre-widened `array<double>` form without perturbing one bit of any
  * cosine.
  *
  * Why a custom Expression (preference tier 2, after composing
  * built-ins): the HOF fold allocates a zipped intermediate array and
  * evaluates an interpreted lambda per element, per row, per consumer —
  * measurable on the 64-dim × corpus × query hot loops of the
  * similarity tier (7× on a 2M-row × 64-dim microbenchmark, 4.3 s →
  * 0.6 s on local[8]; timing-neutral on the 5k-vector fixture corpus,
  * which is overhead-dominated) — while this compiles to one fused
  * primitive loop inside whole-stage codegen via [[doGenCode]]. A
  * Scala UDF would be worse than either (boxing + codegen barrier).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_d"

  private def isVecArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVecArray(left.dataType) && isVecArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dot_d requires two array<double>/array<float> arguments, " +
          s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val lf = isFloatArray(left.dataType)
    val rf = isFloatArray(right.dataType)
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (lf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rf) ys.getFloat(i).toDouble else ys.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def elem(arr: String, t: DataType): String =
        if (isFloatArray(t)) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${elem(a, left.dataType)} * ${elem(b, right.dataType)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** `dot_d(a, b)` as a Column, built through [[ColumnSeam]]: no
    * function-registry entry on any session. */
  def of(a: Column, b: Column): Column =
    ColumnSeam.column(
      DotProduct(ColumnSeam.expression(a), ColumnSeam.expression(b)))
}
