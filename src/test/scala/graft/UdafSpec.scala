package graft

import org.apache.spark.sql.functions._
import graft.expressions.VecMean
import graft.operators.Similarity

/** §2.9 UDAF: the typed VecMean Aggregator agrees with the
  * oracle-checked explode + hash-aggregate centroid path, works through
  * SQL registration, and keeps built-in null semantics. */
class UdafSpec extends SparkSpec {

  private def vecsByLabel = Tables.embeddings(spark, sf0001)
    .select(col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  test("vec_mean == labelCentroids explode path (both rounded 6dp)") {
    val viaUdaf = vecsByLabel
      .groupBy(col("label"))
      .agg(VecMean.asUdf(col("v")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), round(col("x"), 6).as("mean_x"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val viaExplode = Similarity.labelCentroids(spark, sf0001)
      .select(col("label"), col("dim"), col("mean_x"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(viaUdaf.nonEmpty && viaUdaf == viaExplode)
  }

  test("vec_mean registers as a SQL function and partial-merges") {
    VecMean.register(spark)
    vecsByLabel.repartition(7).createOrReplaceTempView("vm_in") // force merge path
    val n = spark.sql(
      """SELECT label, vec_mean(v) AS c FROM vm_in GROUP BY label""")
      .where(size(col("c")) === lit(Similarity.Dim))
      .count()
    assert(n == vecsByLabel.select(col("label")).distinct().count())
  }

  test("vec_mean ignores nulls AND empties; degenerate groups yield null") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq(1.0, 3.0))), (1, None), (1, Some(Seq(3.0, 5.0))),
      (2, Option.empty[Seq[Double]]),
      (3, Some(Seq.empty[Double])), (3, Some(Seq(2.0, 4.0))),
      (4, Some(Seq.empty[Double])))
      .toDF("g", "v")
    val out = df.groupBy(col("g")).agg(VecMean.asUdf(col("v")).as("c"))
      .collect().map(r => (r.getInt(0), Option(r.getSeq[Double](1)))).toMap
    assert(out(1).contains(Seq(2.0, 4.0)))
    assert(out(2).isEmpty)
    // An empty vector fixes no dimension and must not deflate the mean.
    assert(out(3).contains(Seq(2.0, 4.0)))
    assert(out(4).isEmpty)
  }

  test("bounded_collect_long: exact n, capped vals, merge-safe, null-skipping") {
    GraftExtensions.install(spark)
    try {
      // 8 partitions force partial-buffer merges; 3 groups of ~333 rows
      // against a cap of 10.
      val rows = spark.range(0, 1000)
        .select((col("id") % 3).as("k"), col("id").as("v"))
        .repartition(8)
        .groupBy(col("k"))
        .agg(expr("bounded_collect_long(v, 10)").as("b"))
        .collect()
      assert(rows.length == 3)
      rows.foreach { r =>
        val k = r.getLong(0)
        val b = r.getStruct(1)
        val expectN = (0L until 1000L).count(_ % 3 == k)
        assert(b.getLong(0) == expectN)            // exact count, past the cap
        val vals = b.getSeq[Long](1)
        assert(vals.length == 10)                  // capped, never more
        assert(vals.forall(_ % 3 == k))            // only own-group members
        assert(vals.distinct.length == 10)         // no duplicates minted
      }
      // under-cap group keeps everything; nulls are skipped like collect_list
      val small = spark.range(0, 5)
        .select(when(col("id") =!= 2, col("id")).as("v"))
        .agg(expr("bounded_collect_long(v, 10)").as("b"))
        .head().getStruct(0)
      assert(small.getLong(0) == 4)
      assert(small.getSeq[Long](1).sorted == Seq(0L, 1L, 3L, 4L))
    } finally GraftExtensions.uninstall(spark)
  }

  test("bounded_collect_long survives the sort-based fallback (spill path)") {
    // ObjectHashAggregate falls back to sort-based aggregation past
    // this many distinct keys per task — set it to 2 so the fallback
    // (and with it the serialize/deserialize round-trip of partial
    // buffers) is forced on a 100-key workload. Counts must stay exact
    // and caps intact, exactly as on the pure hash path.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    GraftExtensions.install(spark)
    try {
      spark.conf.set(key, "2")
      val rows = spark.range(0, 10000)
        .select((col("id") % 100).as("k"), col("id").as("v"))
        .repartition(8)
        .groupBy(col("k"))
        .agg(expr("bounded_collect_long(v, 7)").as("b"))
        .collect()
      assert(rows.length == 100)
      rows.foreach { r =>
        val b = r.getStruct(1)
        assert(b.getLong(0) == 100L)         // exact count per key
        val vals = b.getSeq[Long](1)
        assert(vals.length == 7 && vals.forall(_ % 100 == r.getLong(0)))
      }
    } finally {
      spark.conf.set(key, prev)
      GraftExtensions.uninstall(spark)
    }
  }
}
