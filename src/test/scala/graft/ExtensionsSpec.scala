package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.expressions.DotProduct

/** GraftExtensions + RewriteDotProduct: the HOF dot-product fold is
  * transparently replaced by the native expression, with identical
  * results including the null/mismatch edge semantics. */
class ExtensionsSpec extends SparkSpec {

  private def fold = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y),
    lit(0.0), (acc, v) => acc + v)

  private def vecs = Tables.embeddings(spark, sf0001).limit(100)
    .select(
      transform(col("embedding"), x => x.cast("double")).as("a"),
      transform(reverse(col("embedding")), x => x.cast("double")).as("b"))

  test("RewriteDotProduct fires on the HOF fold and preserves results") {
    val expected = vecs.select(fold.as("d")).collect().map(_.getDouble(0))
    GraftExtensions.install(spark)
    try {
      val df = vecs.select(fold.as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("dot_d"),
        "rewrite did not fire")
      val got = df.collect().map(_.getDouble(0))
      assert(got.sameElements(expected)) // bit-identical, not tolerance
    } finally GraftExtensions.uninstall(spark)
  }

  test("rewrite keeps fold null semantics; foreign folds are untouched") {
    GraftExtensions.install(spark)
    try {
      val edge = spark.sql(
        """SELECT aggregate(zip_with(array(1.0d, 2.0d), array(3.0d),
          |                 (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS mismatch,
          |       aggregate(zip_with(array(1.0d), array(CAST(NULL AS DOUBLE)),
          |                 (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS nul""".stripMargin)
      val r = edge.head()
      assert(edge.queryExecution.optimizedPlan.toString.contains("dot_d"))
      assert(r.isNullAt(0) && r.isNullAt(1))
      // A fold that is NOT a dot product (sum of maxes) must not rewrite.
      val other = vecs.select(aggregate(
        zip_with(col("a"), col("b"), (x, y) => greatest(x, y)),
        lit(0.0), (acc, v) => acc + v).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("dot_d"))
      assert(other.count() == 100)
    } finally GraftExtensions.uninstall(spark)
  }

  test("dot_d over float32 arrays is bit-identical to the double cast " +
      "form (r18 widening pin)") {
    // The r18 rescore paths ship RAW float32 vectors through the join
    // and widen inside dot_d — sound only if widen-then-multiply equals
    // cast-the-array-then-multiply, elementwise and in accumulation
    // order. Pin it on real fixture vectors, both pure-float and the
    // MIXED (float, double) case the hyperplane dots use.
    val v = Tables.embeddings(spark, sf0001).limit(200)
      .select(col("embedding").as("f"),
        transform(col("embedding"), x => x.cast("double")).as("d"),
        reverse(col("embedding")).as("fr"),
        transform(reverse(col("embedding")), x => x.cast("double")).as("dr"))
    val got = v.select(
      DotProduct.of(col("f"), col("fr")).as("ff"),
      DotProduct.of(col("d"), col("dr")).as("dd"),
      DotProduct.of(col("f"), col("dr")).as("fd"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"float/float dot diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(r.getDouble(2) == r.getDouble(1),
        s"mixed dot diverged: ${r.getDouble(2)} vs ${r.getDouble(1)}")
    }
    // Null / length-mismatch edges keep the zip_with semantics on the
    // float path too (through SQL, so the spec installs the name).
    GraftExtensions.install(spark)
    try {
      val edge = spark.sql(
        """SELECT dot_d(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |             array(CAST(3.0 AS FLOAT))) AS mismatch,
          |       dot_d(array(CAST(1.0 AS FLOAT)),
          |             array(CAST(NULL AS FLOAT))) AS nul""".stripMargin)
      val r = edge.head()
      assert(r.isNullAt(0) && r.isNullAt(1))
    } finally GraftExtensions.uninstall(spark)
  }

  test("withExtensions path injects the rule at session build time") {
    // create() builds a NEW session on the shared context, so the
    // extension object is applied to it (getOrCreate would hand back
    // the shared session, built without it).
    val s2 = SparkSession.builder()
      .master("local[2]").withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .create()
    // The install path: a fresh session without the extension.
    val s3 = spark.newSession()
    GraftExtensions.install(s3)
    // One SQL probe per name of GraftExtensions' table, with its value.
    val probes = Map[String, (String, Any)](
      "dot_d" -> ("SELECT dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d))", 11.0),
      "hamming" -> ("SELECT hamming(5, 3)", 2),
      "bounded_collect_long" ->
        ("SELECT bounded_collect_long(id, 2).n FROM range(3)", 3L),
      "shingle_array" ->
        ("SELECT shingle_array(array('a', 'b', 'c'), 2)", Seq("a b", "b c")))
    try {
      val df = s2.range(1).select(
        transform(sequence(lit(1), lit(3)), i => i.cast("double")).as("a"),
        transform(sequence(lit(1), lit(3)), i => (i * 2).cast("double")).as("b"))
        .select(fold.as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("dot_d"))
      assert(df.head().getDouble(0) == (1 * 2 + 2 * 4 + 3 * 6).toDouble)
      assert(probes.keySet == GraftExtensions.Functions.map(_._1).toSet)
      for ((label, s) <- Seq("withExtensions" -> s2, "install" -> s3);
           (name, (sql, want)) <- probes)
        assert(s.sql(sql).head().get(0) == want, s"$name via $label")
    } finally {
      GraftExtensions.uninstall(s3)
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
