package graft

import org.apache.spark.sql.functions._
import graft.expressions.BoundedCollectLong

/** The native `bounded_collect_long` aggregate: exact counts and capped
  * values through partial merges and the sort-based fallback. */
class UdafSpec extends SparkSpec {

  test("bounded_collect_long: exact n, capped vals, merge-safe, null-skipping") {
    // 8 partitions force partial-buffer merges; 3 groups of ~333 rows
    // against a cap of 10.
    val rows = spark.range(0, 1000)
      .select((col("id") % 3).as("k"), col("id").as("v"))
      .repartition(8)
      .groupBy(col("k"))
      .agg(BoundedCollectLong.of(col("v"), 10).as("b"))
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
      .agg(BoundedCollectLong.of(col("v"), 10).as("b"))
      .head().getStruct(0)
    assert(small.getLong(0) == 4)
    assert(small.getSeq[Long](1).sorted == Seq(0L, 1L, 3L, 4L))
  }

  test("bounded_collect_long survives the sort-based fallback (spill path)") {
    // ObjectHashAggregate falls back to sort-based aggregation past
    // this many distinct keys per task — set it to 2 so the fallback
    // (and with it the serialize/deserialize round-trip of partial
    // buffers) is forced on a 100-key workload. Counts must stay exact
    // and caps intact, exactly as on the pure hash path.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2")
      val rows = spark.range(0, 10000)
        .select((col("id") % 100).as("k"), col("id").as("v"))
        .repartition(8)
        .groupBy(col("k"))
        .agg(BoundedCollectLong.of(col("v"), 7).as("b"))
        .collect()
      assert(rows.length == 100)
      rows.foreach { r =>
        val b = r.getStruct(1)
        assert(b.getLong(0) == 100L)         // exact count per key
        val vals = b.getSeq[Long](1)
        assert(vals.length == 7 && vals.forall(_ % 100 == r.getLong(0)))
      }
    } finally spark.conf.set(key, prev)
  }
}
