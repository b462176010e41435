package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{BoundedCollectLong, DotProduct, HammingDistance, ShingleArray}
import graft.plans.RewriteDotProduct

/** Engine plug-in for Spark's extension points. Two ways in:
  *
  *  - at session build time (the deployment path):
  *    `--conf spark.sql.extensions=graft.GraftExtensions`
  *    or `SparkSession.builder().withExtensions(new GraftExtensions)`
  *  - on a live session (tests, notebooks):
  *    `GraftExtensions.install(spark)` — uses
  *    `spark.experimental.extraOptimizations` and the temp-function
  *    registry, idempotent.
  *
  * Installs the SQL names of the native expressions ([[Functions]]) and
  * the [[graft.plans.RewriteDotProduct]] optimizer rule that
  * transparently upgrades HOF dot-product folds to the fused codegen
  * loop. Operator code does not need either path: it builds native
  * columns through the expressions' `of` constructors.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    GraftExtensions.Functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name), builder))
    }
  }
}

object GraftExtensions {
  /** The SQL functions graft offers SQL users: (name, expression
    * class, builder). The one table both install paths read. */
  val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_d", classOf[DotProduct], DotProduct.builder),
    ("hamming", classOf[HammingDistance], HammingDistance.builder),
    ("bounded_collect_long", classOf[BoundedCollectLong],
      BoundedCollectLong.builder),
    ("shingle_array", classOf[ShingleArray], ShingleArray.builder))

  /** Install on an already-running session (idempotent). */
  def install(spark: SparkSession): Unit = {
    Functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteDotProduct
  }

  /** Remove the live-session optimizer hook (test hygiene). */
  def uninstall(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == RewriteDotProduct)
}
