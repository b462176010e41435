package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Stateful

/** Custom stateful streaming (mapGroupsWithState) and partition pruning
  * of the materialized master layer. */
class StatefulSpec extends SparkSpec {

  /** The same sessionization as [[graft.operators.Events.userSessions]]
    * through Spark's built-in `session_window` aggregate — the idiomatic
    * API, cross-checked against the served form (see its scaladoc for
    * why the oracle-gated path avoids it). */
  private def userSessionsSW(spark: SparkSession, dir: String,
                             gap: String = "6 hours"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_end"),
        col("n_events"), col("total_value"))

  test("mapGroupsWithState: drained running totals == batch aggregate") {
    val dir = tmpDir("stateful")
    val events = Tables.events(spark, sf0001)
    events.write.parquet(s"$dir/events")
    val q = Stateful.runningUserTotals(spark, s"$dir/events", events.schema)
      .writeStream
      .format("memory").queryName("user_totals")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("user_totals")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        round(max(col("total_value")), 2).as("total_value"))
    val expect = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("flatMapGroupsWithState: closed sessions across batches == batch twin") {
    val dir = tmpDir("fmgws")
    val events = Tables.events(spark, sf0001)
    // Two time-split drops so the open-session tail must cross a
    // micro-batch boundary through the state store.
    val cut = events.select(expr("percentile(unix_micros(ts), 0.5)"))
      .head().getDouble(0).toLong
    // One file per drop: the file source feeds batches in file order, so
    // each drop must be a single ts-contiguous file for in-order arrival.
    events.where(unix_micros(col("ts")) <= cut)
      .coalesce(1).write.parquet(s"$dir/events/drop=0")
    events.where(unix_micros(col("ts")) > cut)
      .coalesce(1).write.parquet(s"$dir/events/drop=1")
    val q = Stateful.streamingSessions(spark, s"$dir/events/drop=*",
        events.schema, maxFilesPerTrigger = Some(1))
      .writeStream
      .format("memory").queryName("closed_sessions")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("closed_sessions")
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), round(col("total_value"), 2).as("total_value"))
    // Batch twin minus each user's final (still-open) session.
    val batch = graft.operators.Events.userSessions(spark, sf0001)
      .select(col("user_id"),
        unix_micros(to_timestamp(col("session_start"))).as("session_start_us"),
        unix_micros(to_timestamp(col("session_end"))).as("session_end_us"),
        col("n_events"), col("total_value"))
    val lastPerUser = batch.groupBy("user_id")
      .agg(max(col("session_start_us")).as("session_start_us"))
    val expect = batch.join(lastPerUser,
      Seq("user_id", "session_start_us"), "left_anti")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("streamingSessions: cross-batch late arrivals never corrupt the open session") {
    import Stateful.EventRow
    import spark.implicits._
    val dir = tmpDir("fmgws_late")
    val H = 3600L * 1000000 // one hour in µs
    def row(id: Long, hours: Long): EventRow =
      EventRow(id, new java.sql.Timestamp(hours * 3600 * 1000), 1L, "view",
        1.0, "{}")
    // Drop 0 (in order): events at 0h and 10h — the 10h arrival closes
    // session [0h, 6h] and opens at 10h.
    Seq(row(1, 0), row(2, 10)).toDF()
      .coalesce(1).write.parquet(s"$dir/events/drop=0")
    // Drop 1 (late): 1h and 3h are each more than a gap BEFORE the open
    // session's start (10h − 3h > 6h) — batch semantics would place them
    // in the already-emitted session, which append mode cannot revise —
    // and they are within one gap of EACH OTHER, so they must emit as
    // ONE late session, not two overlapping singletons (ADVICE r5) and
    // must NOT stretch the open session's start down. 4h sits EXACTLY
    // one gap before the start (10h − 6h): a gap equal to the threshold
    // splits (the closing branch's convention), so it must also land in
    // the late session — with >= on the lower-edge guard it would merge
    // upward and manufacture an internal gap == threshold. 8h is
    // strictly within a gap of the start → merges, start 8h.
    Seq(row(3, 3), row(5, 1), row(6, 4), row(4, 8)).toDF()
      .coalesce(1).write.parquet(s"$dir/events/drop=1")
    val q = Stateful.streamingSessions(spark, s"$dir/events/drop=*",
        Seq(row(1, 0)).toDF().schema, maxFilesPerTrigger = Some(1))
      .writeStream
      .format("memory").queryName("late_sessions")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val closed = spark.table("late_sessions")
      .select("session_start_us", "session_end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(closed == Set(
      (0L, 6 * H, 1L),       // the in-order session
      (1 * H, 10 * H, 3L)),  // ONE late session: 1h, 3h, and the 4h
                             // exact-boundary event — end = 4h + gap
      s"closed sessions: $closed")
  }

  test("userSessions: gaps-and-islands == session_window formulation") {
    val a = graft.operators.Events.userSessions(spark, sf0001)
    val b = userSessionsSW(spark, sf0001)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty && a.count() > 0)
  }

  test("sliding windows: every event lands in exactly two 2h/1h windows") {
    val events = Tables.events(spark, sf0001)
    val total = events.count()
    val windowed = graft.operators.Events.slidingWindows(spark, sf0001)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(windowed == 2 * total)
  }

  test("master layer partitioned by country prunes partition directories") {
    val dir = tmpDir("partmaster")
    graft.sinks.Sinks.createTableAs(
      graft.operators.Relational.masterModel(spark, sf0001),
      s"$dir/m_data_model", partitionBy = Seq("transaction_country"))
    val one = spark.read.parquet(s"$dir/m_data_model")
      .where(col("transaction_country") === "NATION_3")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("transaction_country"))
    // pruned read returns only that country, and the full read has all
    val all = spark.read.parquet(s"$dir/m_data_model")
    assert(one.select(countDistinct(col("transaction_country"))).head().getLong(0) <= 1)
    assert(all.count() > one.count() && one.count() > 0)
  }
}
