package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftseam.ColumnSeam
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct space-joined n-gram shingles of
  * a token array, first-occurrence order — semantically identical to
  * the declarative
  * `when(size(t) >= n, array_distinct(transform(sequence(0, size-n),
  *   i -> concat_ws(" ", t[i+1..i+n])))).otherwise(array())`
  * it replaces (ShingleSpec pins the equivalence element-for-element).
  *
  * Why tier 2 of the preference order (compose built-ins > native
  * Expression > UDF) is warranted HERE: higher-order `transform`
  * lambdas evaluate INTERPRETED per element — a per-token tree walk of
  * 2n `element_at`/cast nodes plus a `concat_ws` — and the honest
  * noop-sink bench (round 9 final) measured that construction at ~8 s
  * for sf0.1's ~2M shingles, the single largest cost in the whole
  * minhash/fingerprint family. This expression does one compiled
  * per-ROW pass: a sliding window over the backing UTF8Strings with a
  * LinkedHashSet dedup — no per-element expression dispatch, no boxing.
  * CodegenFallback costs one virtual call per row (5 k–10⁹ rows: noise)
  * while the surrounding projection stays inside whole-stage codegen.
  */
case class ShingleArray(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_array"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_array requires array<string>, got $other")
  }

  private val space = UTF8String.fromString(" ")

  // Total on null input: a null token array yields [], matching the
  // declarative twin (whose when-on-null falls through to
  // otherwise(array())) and the DuckDB oracles that mirror it — NOT
  // UnaryExpression's default null propagation.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet = dedup with FIRST-occurrence order, matching
    // array_distinct's contract.
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) { window(j) = toks.getUTF8String(i + j); j += 1 }
      // concatWs copies into a fresh buffer, so the stored key never
      // aliases a reusable row buffer.
      seen.add(UTF8String.concatWs(space, window: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

object ShingleArray {
  /** `shingle_array(toks, n)` as a Column, built through
    * [[ColumnSeam]]: no function-registry entry on any session. */
  def of(toks: Column, n: Int): Column =
    ColumnSeam.column(ShingleArray(ColumnSeam.expression(toks), n))
}
