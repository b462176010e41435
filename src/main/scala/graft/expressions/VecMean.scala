package graft.expressions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Aggregation buffer for [[VecMean]]: running element-wise sums plus
  * the vector count. `sums` is empty until the first vector fixes the
  * dimensionality. */
case class VecMeanBuffer(sums: Array[Double], n: Long)

/** §2.9 UDAF surface: a typed `Aggregator[IN, BUF, OUT]` computing the
  * element-wise mean of equal-length double vectors (the centroid
  * aggregate), registered as the SQL function `vec_mean` by
  * [[graft.Graft.install]].
  *
  * The reference has no UDFs at all (SURVEY §2.9), and this library's
  * standing rule is built-ins over UDFs — the oracle-checked centroid
  * path stays [[graft.operators.Similarity.labelCentroids]] (posexplode
  * + hash aggregate, fully codegen'd). This Aggregator is the
  * documented custom-aggregation extension point, and it is also the
  * better physical shape when dimensionality is large: it moves ONE
  * buffer of `dim` doubles per group per partition through the shuffle
  * (Aggregator merge = map-side partial combine), where the explode
  * path shuffles `dim` rows per vector pre-combine. Null AND empty
  * vectors are ignored (an empty vector carries no dimensionality and
  * must not deflate the mean by bumping the count); mixed non-empty
  * dimensionalities fail fast. The invariant `sums.isEmpty ⇔ n == 0`
  * holds throughout, so merge never mistakes an accumulated buffer for
  * an unfixed one.
  */
object VecMean extends Aggregator[Seq[Double], VecMeanBuffer, Seq[Double]] {

  override def zero: VecMeanBuffer = VecMeanBuffer(Array.emptyDoubleArray, 0L)

  private def add(sums: Array[Double], v: Seq[Double]): Array[Double] = {
    val s = if (sums.isEmpty) new Array[Double](v.length) else sums
    require(s.length == v.length,
      s"vec_mean: vector dim ${v.length} != accumulated dim ${s.length}")
    var i = 0
    val it = v.iterator
    while (it.hasNext) { s(i) += it.next(); i += 1 }
    s
  }

  override def reduce(b: VecMeanBuffer, v: Seq[Double]): VecMeanBuffer =
    if (v == null || v.isEmpty) b else VecMeanBuffer(add(b.sums, v), b.n + 1)

  override def merge(a: VecMeanBuffer, b: VecMeanBuffer): VecMeanBuffer =
    if (b.n == 0) a
    else if (a.n == 0) b
    else VecMeanBuffer(add(a.sums, b.sums.toIndexedSeq), a.n + b.n)

  /** Null for empty groups (only-null inputs), matching built-in
    * aggregate semantics. */
  override def finish(b: VecMeanBuffer): Seq[Double] =
    if (b.n == 0) null else b.sums.map(_ / b.n).toIndexedSeq

  override def bufferEncoder: Encoder[VecMeanBuffer] =
    Encoders.product[VecMeanBuffer]
  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()

  /** Untyped column form, for `df.agg(VecMean.asUdf(col))` over an
    * `array<double>` column (cast `array<float>` inputs first). */
  def asUdf: UserDefinedFunction = udaf(this, ExpressionEncoder[Seq[Double]]())

  /** Register as the SQL aggregate `vec_mean`. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("vec_mean", asUdf)
}
