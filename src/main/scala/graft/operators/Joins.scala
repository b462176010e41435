package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Temporal join operators Spark lacks as built-ins, composed from
  * primitives it has (SURVEY-extension tier; preference order (a) of the
  * build brief: compose existing ops before reaching for a custom
  * SparkPlan).
  *
  * - As-of join: union both sides and carry the right side forward with
  *   one `last(_, ignoreNulls)` running window — ONE shuffle on the join
  *   key, no per-left-row probe, no inequality join blow-up. This is the
  *   scale shape: a sort-merge inequality join would replicate the right
  *   side per left row; the union-scan is linear.
  * - Range join: band each right row into a fixed-width time bucket and
  *   equi-join on (key, bucket) with the left exploded to the two
  *   buckets its window can touch, then filter the exact range — the
  *   equi-join keeps Catalyst in hash-join land (never a nested-loop /
  *   cartesian), candidates are bounded per bucket.
  */
object Joins {

  /** General as-of join: for each left row, the latest right row with
    * the same key and `right.ts <= left.ts` (LEFT semantics — unmatched
    * left rows keep nulls). Both frames must carry `keyCols`, a long
    * `tsCol`, and a unique long `idCol`. Output = ALL left columns plus
    * `asof_<idCol>` / `asof_<tsCol>`; the right side's OTHER payload
    * columns are not carried (re-join them on `asof_<idCol>` — carrying
    * them through the union would widen every left row for the whole
    * sort). Tie rule, part of the contract: right rows at the exact
    * left timestamp are eligible; among equal-ts right rows the largest
    * id wins.
    *
    * ONE shuffle on the key (union + running `last(ignoreNulls)`), no
    * inequality join, linear in input — the scale shape. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               tsCol: String, idCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val reserved = Seq("side_", "asof_id_", "asof_ts_")
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"asofJoin reserves internal column names ${reserved.mkString(", ")}")
    val r = right.select(
      keys :+ col(tsCol) :+ col(idCol) :+ lit(0).as("side_") :+
        col(idCol).as("asof_id_") :+ col(tsCol).as("asof_ts_"): _*)
    val l = left
      .withColumn("side_", lit(1))
      .withColumn("asof_id_", lit(null).cast("long"))
      .withColumn("asof_ts_", lit(null).cast("long"))
    // side_=0 sorts right rows before an equal-ts left row (eligibility);
    // the id breaks exact ties deterministically. allowMissingColumns
    // null-pads left-only payload columns on the right branch.
    val w = Window.partitionBy(keys: _*)
      .orderBy(col(tsCol), col("side_"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l, allowMissingColumns = true)
      .withColumn(s"asof_$idCol", last(col("asof_id_"), ignoreNulls = true).over(w))
      .withColumn(s"asof_$tsCol", last(col("asof_ts_"), ignoreNulls = true).over(w))
      .where(col("side_") === 1)
      .drop("side_", "asof_id_", "asof_ts_")
  }

  /** The fixture instance: each 'click' matched to the user's most
    * recent 'purchase' at or before it. Timestamps cross the oracle
    * boundary as exact microsecond longs. */
  def asofClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    asofJoin(
      ev.where(col("event_type") === "click").drop("event_type"),
      ev.where(col("event_type") === "purchase").drop("event_type"),
      Seq("user_id"), "ts_us", "event_id")
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        col("asof_event_id"), col("asof_ts_us"),
        (col("ts_us") - col("asof_ts_us")).as("gap_us"))
  }

  /** Range-join width (5 minutes, in microseconds). */
  val RangeUs: Long = 300L * 1000000

  /** General banded range join: all pairs (a, b) sharing `keyCols` with
    * `a.ts < b.ts <= a.ts + widthUs`. Non-key columns come back prefixed
    * `a_`/`b_`. Banded: b is keyed by its fixed-width time bucket, a
    * probes its own bucket and the next one (a window starting in bucket
    * k can only end in k or k+1), so the equi-join generates each
    * qualifying pair exactly once — Catalyst stays in hash-join land,
    * never a nested-loop. */
  def rangeJoin(df: DataFrame, keyCols: Seq[String], tsCol: String,
                widthUs: Long): DataFrame = {
    val keys = keyCols.map(col)
    val others = df.columns.filterNot(c => keyCols.contains(c))
    def side(p: String, bucket: Column) =
      df.select(keys ++ others.map(c => col(c).as(s"$p$c")) :+
        bucket.as("bucket_"): _*)
    val b = side("b_", expr(s"$tsCol div $widthUs"))
    val a = side("a_", explode(array(expr(s"$tsCol div $widthUs"),
      expr(s"$tsCol div $widthUs + 1"))))
    a.join(b, keyCols :+ "bucket_")
      .where(col(s"b_$tsCol") > col(s"a_$tsCol") &&
        col(s"b_$tsCol") <= col(s"a_$tsCol") + widthUs)
      .drop("bucket_")
  }

  /** Bloom-pruned join: build a bounded-size Bloom filter over the
    * SMALL side's join key, pre-filter the BIG side with Spark's own
    * codegen'd `BloomFilterMightContain` probe, then join normally.
    *
    * The 100 TB shape this encodes: when the small side is too large to
    * broadcast but far smaller than the fact (10⁷ filtered orders vs
    * 10¹¹ lineitems), a plain shuffle join moves the ENTIRE fact; the
    * bloom probe drops non-matching fact rows AT THE SCAN (map-side,
    * inside whole-stage codegen) so the shuffle carries only candidate
    * rows + the fpp tail. Spark's optimizer injects exactly this filter
    * at runtime when its heuristics fire
    * (`spark.sql.optimizer.runtime.bloomFilter.*`); this operator makes
    * it explicit and deterministic for standing pipelines — and the
    * sketch (`-expectedItems·ln(fpp)/ln²2` bits — ~1.1 MB at 10⁶ keys /
    * 3%) is bounded by its parameters, never by data volume, the same
    * driver-bounded-probe class as the JDBC partition bounds.
    *
    * Correctness is fpp-independent: a false positive only ships a row
    * INTO the join, which the exact equi-join then drops — so the
    * result (and its oracle) is identical to the plain join, at any
    * fpp. Keys are xxhash64-normalized on BOTH sides (one codegen'd
    * hash), which generalizes to composite keys; a hash collision is
    * just another false positive.
    *
    * @param expectedItems sizing hint for the sketch (small-side
    *        distinct keys; over-sizing costs bits, under-sizing costs
    *        fpp, never correctness) */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
                      bigKeys: Seq[String], smallKeys: Seq[String],
                      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val bf = small
      .select(xxhash64(smallKeys.map(col): _*).as("kh"))
      .stat.bloomFilter("kh", expectedItems, fpp)
    val bytes = graft.expressions.BloomProbe.serialize(bf)
    val pruned = big.where(graft.expressions.BloomProbe.of(
      lit(bytes), xxhash64(bigKeys.map(col): _*)))
    pruned.join(small,
      bigKeys.zip(smallKeys).map { case (a, b) => col(a) === col(b) }
        .reduce(_ && _))
  }

  /** The fixture instance: one ship-month's lineitems against the
    * (SF-scaling, so not broadcast-safe by contract) urgent-priority
    * order set — revenue by priority. The bloom on o_orderkey prunes
    * the lineitem scan before the orderkey shuffle; the oracle is the
    * PLAIN join (bloom is invisible in the result by construction). */
  def bloomJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev4"))
    val o = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    // Sizing: footer-metadata count of the filtered small side would
    // need a pass; the orders row count scales the urgent fifth, so a
    // generous static hint keeps the sketch one-shot (over-sizing only
    // costs bits: 2^21 items @ 3% ≈ 1.9 MB).
    bloomPrunedJoin(li, o, Seq("l_orderkey"), Seq("o_orderkey"),
      expectedItems = 1L << 21)
      .groupBy(col("o_orderpriority"))
      .agg((sum(col("rev4")).cast("double") / 10000).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** The fixture instance: same-user event pairs within 5 minutes,
    * rolled up by (a.event_type, b.event_type). */
  def rangePairs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    rangeJoin(ev, Seq("user_id"), "ts_us", RangeUs)
      .groupBy(col("a_event_type").as("a_type"),
        col("b_event_type").as("b_type"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("b_ts_us") - col("a_ts_us")).as("total_gap_us"),
        (sum(col("b_ts_us") - col("a_ts_us")).cast("double") /
          count(lit(1))).as("avg_gap_us"))
  }
}
