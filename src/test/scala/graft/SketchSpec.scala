package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** HLL sketch tier: the properties the operator's 100 TB story rests on. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  /** Per-shard sketches (`shards` deterministic user_id buckets)
    * union-merged via `hll_union_agg` next to the single-pass global
    * sketch — the returned frame carries both estimates per event_type
    * so the spec can pin them EQUAL (not approximately: merging HLL
    * registers is lossless, the estimator sees identical state). This
    * is the incremental-maintenance story for the sketch tier: day N+1
    * = union(day ≤ N sketch, day N+1 slice sketch), no rebuild. */
  private def shardMergeIdentity(spark: SparkSession, dir: String,
                                 shards: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        pmod(col("user_id"), lit(shards)).as("shard"))
    val perShard = ev.groupBy(col("event_type"), col("shard"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = perShard.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val global = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("est_global"))
    merged.join(global, Seq("event_type"))
  }

  test("shard-merge identity: union of per-shard sketches == global sketch") {
    // THE mergeability claim: building per-shard and union-merging must
    // give the estimator identical register state to one global pass —
    // so the estimates are EQUAL, not approximately equal. (This is what
    // makes per-day incremental maintenance lossless.)
    val rows = shardMergeIdentity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, g) = (r.getAs[Long]("est_merged"), r.getAs[Long]("est_global"))
      assert(m == g, s"${r.getAs[String]("event_type")}: merged $m != global $g")
    }
  }

  test("small-cardinality exactness: sketch estimate == exact below coupon cap") {
    // datasketches HLL stores raw coupons below a threshold — estimates
    // of small sets are exact, which the tolerance verdicts rely on to
    // be robust at sf0.001.
    val df = (1 to 500).map(i => (i.toLong, s"t${i % 3}")).toDF("u", "t")
    val out = df.groupBy($"t")
      .agg(count_distinct($"u").as("n"),
        hll_sketch_estimate(hll_sketch_agg($"u")).as("est"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("est") == r.getAs[Long]("n"),
        s"${r.getString(0)}: est ${r.getAs[Long]("est")} != ${r.getAs[Long]("n")}")
    }
  }

  test("audience overlap: verdicts hold and exact columns match a recompute") {
    val out = Sketches.audienceOverlap(spark, sf0001)
    val rows = out.collect()
    // 5 fixture event types → C(5,2) = 10 ordered pairs.
    assert(rows.length == 10, s"expected 10 pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Int]("union_ok") == 1 && r.getAs[Int]("inter_ok") == 1,
        s"${r.getAs[String]("type_a")}/${r.getAs[String]("type_b")}: " +
          "sketch estimate fell outside the union-relative 5% bound")
    }
    // Exact intersection column against an independent formulation
    // (conditional distinct counts, no self-join).
    val ev = Tables.events(spark, sf0001)
      .select($"event_type", $"user_id").distinct()
    val pairs = rows.map(r => (r.getAs[String]("type_a"),
      r.getAs[String]("type_b"), r.getAs[Long]("n_inter_exact")))
    pairs.take(3).foreach { case (ta, tb, n) =>
      val expected = ev.where($"event_type" === ta || $"event_type" === tb)
        .groupBy($"user_id").agg(count(lit(1)).as("k"))
        .where($"k" === 2).count()
      assert(n == expected, s"$ta/$tb: $n != $expected")
    }
  }
}
