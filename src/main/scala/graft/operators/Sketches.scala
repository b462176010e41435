package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch audience accounting: distinct-user overlap between
  * event segments via Spark's native DataSketches HLL surface
  * (`hll_sketch_agg` / `hll_union` / `hll_sketch_estimate` — codegen'd
  * Catalyst expressions over datasketches-java, not UDFs).
  *
  * Why this exists at 100 TB: exact pairwise distinct-intersections
  * need a user-grain shuffle per pair (or one big self-join); sketches
  * reduce each segment to a ~4 KB summary in the SAME single pass that
  * any other per-segment aggregate runs, and — the property that
  * actually matters operationally — the summaries MERGE: per-shard /
  * per-day sketches union losslessly into exactly the sketch a global
  * pass would have built ([[SketchSpec]] pins that identity
  * bit-for-bit). Daily audience-overlap dashboards then read k² tiny
  * sketches, never the corpus. Intersections come from
  * inclusion–exclusion (|A∩B| = |A|+|B|−|A∪B|) whose error is bounded
  * relative to the UNION size — the verdict below tests exactly that
  * guarantee, not a naive relative-to-intersection bound that no HLL
  * can promise for small overlaps.
  */
object Sketches {

  /** Per-event-type distinct users: exact count + HLL sketch in ONE
    * aggregate pass over the (type, user) stream. */
  private def typeSketches(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_exact"),
        hll_sketch_agg(col("user_id")).as("sk"))

  /** All ordered event-type pairs with exact and sketch-estimated
    * audience overlap, plus tolerance verdicts.
    *
    * Output per pair (type_a < type_b):
    *   - `n_users_a`, `n_users_b`, `n_inter_exact` — exact longs (the
    *     hash-compared truth; the oracle recomputes them in SQL);
    *   - `union_ok`   — |est_union − exact_union| / exact_union ≤ 5%
    *     (HLL at default lgK=12 has rsd ≈ 1.6%: 3× headroom);
    *   - `inter_ok`   — |est_inter − exact_inter| / exact_union ≤ 5%
    *     (inclusion–exclusion error is union-relative by construction).
    *
    * Shapes: the sketch frame is segment-grain (k rows) → its self-join
    * is a bounded broadcast k²/2 pair frame. The exact intersection
    * joins the DEDUPED (type, user) stream with itself on user_id —
    * user-keyed shuffle, per-user fanout ≤ k² (k = event types, a
    * bounded domain), never an all-pairs blowup. At real scale the
    * exact twin is the audit pass you run once to certify the sketches;
    * the sketch path is the one that runs daily. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = typeSketches(spark, dir)
    val a = sk.select(col("event_type").as("type_a"),
      col("n_exact").as("n_users_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"),
      col("n_exact").as("n_users_b"), col("sk").as("sk_b"))
    val pairs = a.join(b, col("type_a") < col("type_b"))

    val tu = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val exactInter = tu.as("x")
      .join(tu.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_inter_exact"))

    pairs.join(exactInter, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_inter_exact"))
      .withColumn("est_a", hll_sketch_estimate(col("sk_a")))
      .withColumn("est_b", hll_sketch_estimate(col("sk_b")))
      .withColumn("est_union",
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .withColumn("exact_union",
        col("n_users_a") + col("n_users_b") - col("n_inter_exact"))
      .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
      .select(col("type_a"), col("type_b"),
        col("n_users_a"), col("n_users_b"), col("n_inter_exact"),
        when(abs(col("est_union") - col("exact_union")).cast("double") /
          col("exact_union") <= 0.05, 1).otherwise(0).as("union_ok"),
        when(abs(col("est_inter") - col("n_inter_exact")).cast("double") /
          col("exact_union") <= 0.05, 1).otherwise(0).as("inter_ok"))
  }
}
