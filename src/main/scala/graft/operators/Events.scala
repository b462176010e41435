package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time aggregations over the `events` fixture — the batch twins of
  * the Structured Streaming queries in graft.streaming (identical
  * semantics; the streaming versions add watermarks). Window boundaries
  * are emitted as formatted strings so parquet/DuckDB timestamp affinity
  * differences can't affect the oracle compare.
  */
object Events {

  /** Tumbling 1-hour windows per event_type: event count, distinct
    * users, exact 2-dp value sum. */
  def hourlyWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"), col("n_users"),
        col("total_value"))

  /** Semi-structured property extraction (r8): `props` is a JSON string
    * column; parse it ONCE per row with a typed `from_json` (codegen'd
    * JsonToStructs — the single-parse plan; per-field get_json_object
    * would re-parse the document for every field) and aggregate the
    * extracted k per (event_type, day). All aggregates are exact
    * integers plus one int/int IEEE quotient, so the oracle matches
    * bit-for-bit. from_json is null-tolerant: a malformed props row
    * contributes to n but not to the k aggregates (EventsSpec pins
    * this), matching production schema-on-read semantics. */
  def propsKpis(spark: SparkSession, dir: String): DataFrame =
    propsKpisOf(Tables.events(spark, dir))

  def propsKpisOf(events: DataFrame): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    events
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("date"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy(col("event_type"), col("date"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
  }

  /** Sliding windows: 2-hour windows advancing hourly — each event lands
    * in exactly two windows (Spark plans this as an Expand before the
    * aggregate, the same partial-agg shape as tumbling). */
  def slidingWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "2 hours", "1 hour").as("w"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Per-user sessionization with a 6-hour inactivity gap, via the
    * gaps-and-islands window formulation: a session break is a gap ≥ the
    * threshold, the session id is the running break count, and the
    * session end is last-event + gap (identical semantics to
    * `session_window`, which StatefulSpec cross-checks it against).
    *
    * Why not `session_window` on the oracle-gated path: its physical
    * plan (partial sessions → shuffle → MergingSessions) was observed —
    * rarely, plan-shape-dependently — to emit UNMERGED adjacent partial
    * sessions when composed into larger query plans (two occurrences
    * under a derived-aggregate anti-join; standalone evaluation never
    * flaked in 16 stress runs). Plain lag/sum windows have no merge
    * step, so this formulation is deterministic by construction; the
    * spec cross-checks the two against each other, which both
    * demonstrates the idiomatic API and fences the flake. */
  def userSessions(spark: SparkSession, dir: String,
                   gap: String = "6 hours"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0, s"calendar-month session gaps are ambiguous: $gap")
    val gapUs = iv.days * 86400000000L + iv.microseconds
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(lag(col("ts_us"), 1).over(byTs).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(byTs) >= gapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(cum))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        col("user_id"),
        date_format(timestamp_micros(col("start_us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(timestamp_micros(col("end_us") + gapUs),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"), col("total_value"))
  }

  /** Per-user running totals over event time — the batch twin of
    * [[graft.streaming.Stateful.runningUserTotals]]'s per-event state
    * updates, and the "customer lifetime value so far" query shape. The
    * (ts, event_id) ordering is total, so ranks are deterministic; the
    * running sum is rounded to 6 dp because engines may associate the
    * frame sum differently (segment trees vs incremental — error
    * ~1e-12, far inside the rounding granularity). Scale: the window
    * partitions by user_id — key cardinality grows with the data, so
    * no low-cardinality single-task pileup. */
  def cumulativeUserValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cum = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("n_so_far", row_number().over(byTs))
      .withColumn("cum_value", round(sum(col("value")).over(cum), 6))
      .select(col("user_id"), col("event_id"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss")
          .as("ts"),
        col("event_type"), col("n_so_far"), col("cum_value"))
  }

  /** Ordered funnel analysis (view → click → purchase): per user, the
    * first view, the first click AFTER that view, and the first
    * purchase AFTER that click — the sequential-pattern query every
    * product-analytics stack runs. Three chained min-over-user windows
    * share one partitioning, so Catalyst plans ONE shuffle for all
    * three stages (each window may reference the previous stage's
    * timestamp — no per-stage self-joins); the per-user frame then
    * collapses through a two-phase global aggregate into one row of
    * stage counts and exact-ratio conversions. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(byUser))
      .withColumn("t_click",
        min(when(col("event_type") === "click" &&
          col("ts_us") > col("t_view"), col("ts_us"))).over(byUser))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts_us") > col("t_click"), col("ts_us"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("tv"), max(col("t_click")).as("tc"),
        max(col("t_purchase")).as("tp"))
    staged.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("tc").isNotNull, 1L).otherwise(0L)).as("n_click_after_view"),
        sum(when(col("tp").isNotNull, 1L).otherwise(0L)).as("n_purchase_after_click"))
      .withColumn("view_to_click",
        when(col("n_view") > 0,
          col("n_click_after_view").cast("double") / col("n_view"))
          .otherwise(lit(0.0)))
      .withColumn("click_to_purchase",
        when(col("n_click_after_view") > 0,
          col("n_purchase_after_click").cast("double") /
            col("n_click_after_view"))
          .otherwise(lit(0.0)))
  }

  /** Cohort retention: users grouped by their first-seen hour (the
    * cohort), counted at each later hour-age at which they were active
    * again — the "do users come back" matrix behind every retention
    * curve. All arithmetic is integer hour-bucket math on microsecond
    * epochs, so the matrix is engine-exact. Shape: activity collapses
    * to distinct (user, hour) first (one row per user-hour, so the
    * final count(*) IS distinct users), first-seen is a per-user min —
    * both shuffles key on user_id, which scales with the data. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
      .distinct()
    val firstSeen = activity.groupBy(col("user_id"))
      .agg(min(col("hour_bucket")).as("cohort_bucket"))
    activity.join(firstSeen, "user_id")
      .groupBy(col("cohort_bucket"),
        (col("hour_bucket") - col("cohort_bucket")).as("age_hours"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(timestamp_micros(col("cohort_bucket") * 3600000000L),
          "yyyy-MM-dd HH:00").as("cohort_hour"),
        col("age_hours"), col("n_users"))
  }

  /** Per-user event-stream analytics — the LAG/LEAD/NTILE/PERCENT_RANK
    * surface beyond the ranking and running-total shapes already
    * covered: microsecond gaps to the previous/next event, the event's
    * value quartile within its user, and its exact percentile rank.
    * Both windows partition by user_id, so Catalyst plans ONE shuffle
    * for all four functions (the second window only re-sorts within
    * partitions). Gap arithmetic stays in integer microseconds
    * (engine-exact); percent_rank divides two small exact integers —
    * (rank−1)/(n−1) — through the identical IEEE expression in both
    * engines, and the (value, event_id) order is total so every rank
    * and bucket is deterministic. The oracle twin spells out NULLS
    * FIRST to match Spark's ASC default (DuckDB defaults to NULLS
    * LAST — invisible on the null-free fixture, a silent divergence on
    * real data). Scale: user_id cardinality grows with the data — no
    * low-cardinality pileup, no global window. */
  def leadLagAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_gap_us",
        col("ts_us") - lag(col("ts_us"), 1).over(byTs))
      .withColumn("next_gap_us",
        lead(col("ts_us"), 1).over(byTs) - col("ts_us"))
      .withColumn("value_quartile", ntile(4).over(byValue))
      .withColumn("value_pct_rank",
        round(percent_rank().over(byValue), 6))
      .select(col("user_id"), col("event_id"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss")
          .as("ts"),
        col("event_type"), col("prev_gap_us"), col("next_gap_us"),
        col("value_quartile"), col("value_pct_rank"))
  }

  /** Event types present in the fixture stream — the explicit pivot
    * domain (see [[typePivot]] for why explicit matters at scale). */
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Event-type pivot: one row per day, one (count, value-sum) column
    * pair per event type. The pivot domain is EXPLICIT —
    * `pivot(col, values)` with an enumerated list skips the eager
    * distinct-values job Spark otherwise runs before the plan is even
    * built (a full second pass over the corpus, collected to the
    * driver, just to learn five strings — at 100 TB that job dwarfs
    * the pivot itself). With the domain pinned this is ONE hash
    * aggregate, one shuffle on the date key. A (day, type) combination
    * with no rows stays null (Spark pivot semantics); the oracle twin
    * reproduces that with NULLIF on the conditional count. */
  def typePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).cast("string").as("date"),
        col("event_type"), col("value"))
      .groupBy(col("date"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("value"))

  /** Inverse of [[typePivot]]: melt the per-type value columns back to
    * (date, event_type, daily_value) long form through the native
    * `unpivot` — an Expand over the already-aggregated pivot frame, so
    * the melt itself is map-only (no shuffle beyond the pivot's own).
    * Each melted cell is a (count, value-sum) STRUCT so absence is
    * judged on the COUNT: a (day, type) combo with no events drops on
    * the way back, while one whose events all carry NULL values
    * survives with a NULL sum — exactly what the plain two-key
    * aggregate produces (filtering on the value alone would wrongly
    * drop that second class; invisible on the null-free fixture, a
    * divergence on real data). pivot∘unpivot is therefore EXACTLY the
    * plain aggregate — the round-trip AnalyticsSpec proves in-engine
    * and the oracle twin states directly. The unpivot aliases carry
    * the bare event type, so no string surgery on generated column
    * names survives to the output. */
  def typeUnpivot(spark: SparkSession, dir: String): DataFrame =
    meltTypePivot(typePivot(spark, dir))

  /** Melt core of [[typeUnpivot]] over any [[typePivot]]-shaped frame —
    * split out so the all-NULL-values cell class (absent from the
    * null-free fixture) is provable on constructed input. */
  def meltTypePivot(piv: DataFrame): DataFrame =
    piv.unpivot(
        Array(col("date")),
        EventTypes.map(t =>
          struct(col(s"${t}_n").as("n"), col(s"${t}_value").as("v")).as(t))
          .toArray,
        "event_type", "cell")
      .where(col("cell.n").isNotNull)
      .select(col("date"), col("event_type"), col("cell.v").as("daily_value"))

  /** Daily per-type value anomalies by z-score, engine-exact: daily
    * sums round to 2 dp and move to integer cents, the per-type moment
    * sums (n, Σx, Σx²) accumulate in BIGINT — integer addition is
    * order-independent, so no float-association drift across engines —
    * and the z expression then divides the same exact integers through
    * the identical IEEE expression shape on both sides. The per-type
    * stats come from a compact aggregate joined back (broadcast at
    * runtime by AQE; the daily aggregate's exchange is reused for both
    * consumers) — no global or per-type window ever touches the daily
    * stream. Zero-variance series get z = 0 rather than a division
    * blow-up. Scale note: Σ(cents²) overflows BIGINT once a single
    * day-type cell approaches ~$3×10⁹ at ~10⁶ cells; at that scale the
    * moment columns swap to DECIMAL(38,0) — same plan shape. */
  def valueAnomalies(spark: SparkSession, dir: String,
                     zThreshold: Double = 2.0): DataFrame =
    anomaliesFromDaily(
      Tables.events(spark, dir)
        .groupBy(col("event_type"),
          to_date(col("ts")).cast("string").as("date"))
        .agg(round(sum(col("value")), 2).as("daily_value")),
      zThreshold)

  /** Z-score core of [[valueAnomalies]] over any pre-aggregated
    * (event_type, date, daily_value) frame — split out so the guard
    * paths (zero variance, single-row series) are provable on
    * constructed inputs. */
  def anomaliesFromDaily(dailyIn: DataFrame,
                         zThreshold: Double = 2.0): DataFrame = {
    val daily = dailyIn
      .withColumn("cents", round(col("daily_value") * 100).cast("long"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
    daily.join(stats, "event_type")
      .withColumn("mean_c", col("s1").cast("double") / col("n"))
      .withColumn("var_c",
        when(col("n") > 1,
          (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n"))
            / (col("n") - 1))
          .otherwise(lit(0.0)))
      .withColumn("z",
        when(col("var_c") > 0,
          round((col("cents") - col("mean_c")) / sqrt(col("var_c")), 6))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("date"), col("daily_value"), col("z"),
        when(abs(col("z")) >= lit(zThreshold), 1).otherwise(0).as("anomaly"))
  }

  /** CUBE over (event_type, date): all four grouping grains — per
    * cell, per type, per day, grand total — in ONE pass (completing
    * the GROUP BY / ROLLUP / CUBE grouping-analytics triple next to
    * [[graft.operators.TextOps.corpusRollup]]'s ROLLUP). Spark plans
    * the same Expand → single hash aggregate as GROUPING SETS: one
    * scan, one shuffle, regardless of grain count — four separate
    * aggregates UNION'd would scan and shuffle four times. GROUPING()
    * flags disambiguate a NULL group key from the all-grain row,
    * identically in both engines. */
  def typeCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        to_date(col("ts")).cast("string").as("date"), col("value"))
      .cube(col("event_type"), col("date"))
      .agg(
        grouping(col("event_type")).as("g_type"),
        grouping(col("date")).as("g_date"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
}
