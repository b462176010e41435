package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftseam.ColumnSeam
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native Catalyst expression: Hamming distance between two int bit
  * signatures (`bitCount(a ^ b)`).
  *
  * This is the one place the engine drops below the built-in function
  * surface, deliberately: the preference order (compose built-ins >
  * native Expression > UDF) reaches tier 2 here because a Scala UDF
  * would box both ints and break whole-stage codegen in the middle of
  * the SimHash-neighbor hot loop, while this expression inlines to a
  * single JVM intrinsic inside generated code via [[doGenCode]]. */
case class HammingDistance(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"hamming requires (int, int), got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Integer.bitCount(a.asInstanceOf[Int] ^ b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Integer.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** The SQL function builder `hamming(a, b)`, installed by
    * [[graft.GraftExtensions]] for SQL users. */
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "hamming(a, b) takes two arguments")
    HammingDistance(children(0), children(1))
  }

  /** `hamming(a, b)` as a Column, built through [[ColumnSeam]]: no
    * function-registry entry on any session. */
  def of(a: Column, b: Column): Column =
    ColumnSeam.column(
      HammingDistance(ColumnSeam.expression(a), ColumnSeam.expression(b)))
}
