package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Scd

/** SCD Type 2: the contract invariants, independently of the oracle. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dim = Scd.scd2(spark, sf0001).cache()

  test("validity windows tile each key's timeline: no gaps, no overlaps") {
    val w = Window.partitionBy($"user_id").orderBy($"version_no")
    val bad = dim
      .withColumn("next_from", lead($"valid_from_us", 1).over(w))
      .where(
        // every non-final version must close exactly where the next opens
        ($"next_from".isNotNull &&
          (($"valid_to_us".isNull) || $"valid_to_us" =!= $"next_from")) ||
        // the final version must be the open current one
        ($"next_from".isNull &&
          (!$"is_current" || $"valid_to_us".isNotNull)))
      .count()
    assert(bad == 0L, s"$bad versions break the tiling contract")
    // exactly one current version per key
    val multi = dim.where($"is_current")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .where($"n" =!= 1L).count()
    assert(multi == 0L)
  }

  test("consecutive duplicate suppression: adjacent versions always differ") {
    val w = Window.partitionBy($"user_id").orderBy($"version_no")
    val dups = dim.withColumn("prev_status", lag($"status", 1).over(w))
      .where($"prev_status" === $"status").count()
    assert(dups == 0L)
  }

  test("point-in-time lookup reconstructs the brute-force as-of scan") {
    // Probe at the stream's median timestamp: statusAsOf against the dim
    // must equal, per user, the latest raw event at-or-before the probe.
    val ev = Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"))
    val tMid = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val expected = ev.where($"ts_us" <= tMid)
      .withColumn("rn", row_number().over(Window.partitionBy($"user_id")
        .orderBy($"ts_us".desc, $"event_id".desc)))
      .where($"rn" === 1)
      .select($"user_id", $"event_type".as("status"))
    val got = Scd.statusAsOf(dim, tMid).select($"user_id", $"status")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // and exactly one status per live key
    assert(got.groupBy($"user_id").count().where($"count" =!= 1L).count() == 0)
  }

  test("incremental apply == full rebuild, bit-for-bit (append-only slice)") {
    val ev = Scd.changeStream(spark, sf0001)
    val t0 = ev.stat.approxQuantile("ts_us", Array(0.8), 0.0).head.toLong
    val (old, recent) =
      (ev.where($"ts_us" <= t0), ev.where($"ts_us" > t0))
    assert(recent.count() > 0, "empty increment slice — probe ts too late")
    val full = Scd.scd2FromChanges(ev)
    val inc = Scd.scd2Apply(Scd.scd2FromChanges(old), recent)
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty,
      "incrementally maintained dim diverged from the from-scratch build")
  }

  test("late slice fails loudly: the append-only envelope is enforced, " +
      "not just documented") {
    val ev = Scd.changeStream(spark, sf0001)
    val t0 = ev.stat.approxQuantile("ts_us", Array(0.8), 0.0).head.toLong
    val dim = Scd.scd2FromChanges(ev.where($"ts_us" > t0 - 1))
    // A slice entirely BEFORE the open versions: version compression
    // could not reproduce the raw-history rebuild — must throw with
    // the remedy, never silently diverge.
    val e = intercept[IllegalArgumentException] {
      Scd.scd2Apply(dim, ev.where($"ts_us" <= t0 - 1)).count()
    }
    assert(e.getMessage.contains("LATE") &&
      e.getMessage.contains("scd2FromChanges"))
    // Opt-out for append-only-by-construction feeds still works.
    val ok = Scd.scd2Apply(dim, ev.where($"ts_us" > t0 - 1),
      checkLate = false)
    assert(ok.count() > 0)
  }

  test("late slice that would resurrect a SUPPRESSED duplicate is " +
      "rejected by the absorbed high-water, not missed by valid_from") {
    // Key 1: A(t=10), A(t=50) — the t=50 duplicate is suppressed, so
    // the dim has ONE open version A from t=10 whose valid_from cannot
    // see t=50. A late B(t=30) sits between them: rebuilding from the
    // dim's change points would yield A[10,30) B[30,inf) while the raw
    // history says A[10,30) B[30,50) A[50,inf) — silent divergence the
    // first r12 guard (min ts < open valid_from) passed straight
    // through. The high-water (last_seen_us = 50) rejects it.
    val hist = Seq((1L, 100L, "A", 10L), (1L, 101L, "A", 50L))
      .toDF("user_id", "event_id", "status", "ts_us")
    val dim = Scd.scd2FromChanges(hist)
    assert(dim.count() == 1)
    val e = intercept[IllegalArgumentException] {
      Scd.scd2Apply(dim,
        Seq((1L, 102L, "B", 30L)).toDF("user_id", "event_id", "status",
          "ts_us")).count()
    }
    assert(e.getMessage.contains("high-water"))
    // An event at-or-after the high-water applies, and the result
    // matches the raw-history rebuild exactly.
    val late = Seq((1L, 103L, "B", 60L))
      .toDF("user_id", "event_id", "status", "ts_us")
    val inc = Scd.scd2Apply(dim, late)
    val full = Scd.scd2FromChanges(hist.unionByName(late))
    assert(inc.except(full).isEmpty && full.except(inc).isEmpty)
  }

  test("stream-maintained dim == full rebuild; micro-batch replay is a " +
      "ledger no-op (scd2Apply is not content-idempotent)") {
    val ev = Scd.changeStream(spark, sf0001)
    val t0 = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val s0 = ev.where($"ts_us" <= t0)
    val s1 = ev.where($"ts_us" > t0)
    assert(s0.count() > 0 && s1.count() > 0)
    val dir = tmpDir("scdstream")
    // Two checkpointed triggers: bootstrap, then incremental apply.
    def run(): Unit = graft.streaming.StreamingIngest.scd2MaintenanceStream(
      spark.readStream.schema(s0.schema).parquet(s"$dir/in/*"),
      s"$dir/t", s"$dir/ckpt")
    s0.coalesce(1).write.parquet(s"$dir/in/b0")
    run()
    s1.coalesce(1).write.parquet(s"$dir/in/b1")
    run()
    val full = Scd.scd2FromChanges(ev)
    def served = graft.sinks.Sinks.readLatest(spark, s"$dir/t")
    assert(served.except(full).isEmpty && full.except(served).isEmpty,
      "stream-maintained dim diverged from the from-scratch build")
    // Replay micro-batch 0: WITHOUT the ledger this re-unions s0's
    // change points into every touched key's history (scd2Apply is not
    // idempotent by content) — the ledger must no-op it.
    assert(graft.sinks.Publish.publishLoop(spark, s"$dir/t", {
      case Some(dim) => Scd.scd2Apply(dim, s0)
      case None => fail("replay saw an empty table")
    }, batchId = Some(0L)) == 2)
    assert(served.except(full).isEmpty && full.except(served).isEmpty,
      "replayed micro-batch corrupted the dim")
    // History composes: v=1 is the bootstrap slice's dim.
    assert(graft.sinks.Sinks.readVersion(spark, s"$dir/t", 1)
      .except(Scd.scd2FromChanges(s0)).isEmpty)
  }

  test("scd2 CDC deletes: a D closes the open version and opens " +
      "nothing; re-insert after delete is a NEW version; apply == " +
      "rebuild including the tombstone-reconstruction path") {
    def cdc(rows: (Long, Long, String, Long, String)*) =
      rows.toDF("user_id", "event_id", "status", "ts_us", "op")
    val all = cdc(
      (1L, 1L, "A", 10L, "I"), (1L, 2L, "B", 20L, "U"),
      (1L, 3L, "x", 30L, "D"), // status on a D is ignored
      (2L, 4L, "A", 10L, "I"),
      (3L, 5L, "A", 10L, "I"), (3L, 6L, "z", 20L, "D"),
      (3L, 7L, "A", 30L, "I")) // same status re-stated after delete
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "version_no", "status", "valid_from_us",
          "valid_to_us", "is_current")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3), Option(r.get(4)).map(_.toString), r.getBoolean(5)))
        .toSet
    val dim = Scd.scd2FromCdc(all)
    assert(shape(dim) == Set(
      (1L, 1, "A", 10L, Some("20"), false),
      (1L, 2, "B", 20L, Some("30"), false), // closed BY the delete
      (2L, 1, "A", 10L, None, true),
      (3L, 1, "A", 10L, Some("20"), false),
      (3L, 2, "A", 30L, None, true)), // re-insert = new version
      s"CDC build wrong: ${shape(dim)}")
    // No current row for the deleted key; point-in-time after the
    // delete finds nothing for it.
    assert(Scd.statusAsOf(dim, 35L).where(col("user_id") === 1L).isEmpty)
    // Apply == rebuild across a split that puts the deletes in the
    // second slice.
    val s1 = all.where(col("ts_us") <= 15L)
    val s2 = all.where(col("ts_us") > 15L)
    assert(shape(Scd.scd2ApplyCdc(Scd.scd2FromCdc(s1), s2)) == shape(dim),
      "CDC apply drifted from the rebuild")
    // Tombstone reconstruction: a later event for a DELETED key with
    // the SAME status as its last version must open a NEW version at
    // its own ts — without the synthetic tombstone the replay
    // suppresses it as a duplicate and RESURRECTS the old window.
    val dim3 = Scd.scd2ApplyCdc(dim, cdc((1L, 9L, "B", 40L, "U")))
    val k1 = shape(dim3).filter(_._1 == 1L)
    assert(k1 == Set(
      (1L, 1, "A", 10L, Some("20"), false),
      (1L, 2, "B", 20L, Some("30"), false),
      (1L, 3, "B", 40L, None, true)),
      s"deleted key resurrected or mis-reopened: $k1")
    assert(shape(dim3) ==
      shape(Scd.scd2FromCdc(all.unionByName(cdc((1L, 9L, "B", 40L, "U"))))),
      "post-delete apply drifted from the full rebuild")
    // INTERIOR gap preservation (r13 stream-fixture regression): a key
    // deleted and RE-OPENED inside the standing dim must keep its
    // pre-delete close instant through a later apply — the replay
    // needs a tombstone per GAP, not just per deleted key; and a
    // same-status re-open after an interior delete must stay a
    // separate version, not get suppressed as a duplicate.
    val interior = cdc(
      (5L, 1L, "A", 10L, "I"), (5L, 2L, "z", 20L, "D"),
      (5L, 3L, "A", 30L, "I"))
    val dimI = Scd.scd2FromCdc(interior)
    val applied = Scd.scd2ApplyCdc(dimI, cdc((5L, 9L, "C", 40L, "U")))
    val wantI = shape(Scd.scd2FromCdc(
      interior.unionByName(cdc((5L, 9L, "C", 40L, "U")))))
    assert(shape(applied) == wantI,
      s"interior deletion lost through apply: ${shape(applied)} vs $wantI")
    assert(wantI == Set(
      (5L, 1, "A", 10L, Some("20"), false),
      (5L, 2, "A", 30L, Some("40"), false),
      (5L, 3, "C", 40L, None, true)))
    // ZERO-WIDTH delete+re-open (same microsecond, same status): the
    // build handles it (sentinel breaks duplicate suppression → two
    // tiling same-status versions), and the apply must PRESERVE it —
    // two tiling same-status versions can only mean a zero-width
    // sentinel sat between them, so the replay re-synthesizes it
    // (r13 review: the gap-only detector silently merged the pair).
    val zw = cdc(
      (7L, 1L, "A", 10L, "I"), (7L, 2L, "x", 20L, "D"),
      (7L, 3L, "A", 20L, "I"))
    val dimZ = Scd.scd2FromCdc(zw)
    assert(shape(dimZ).filter(_._1 == 7L) == Set(
      (7L, 1, "A", 10L, Some("20"), false),
      (7L, 2, "A", 20L, None, true)))
    val appliedZ = Scd.scd2ApplyCdc(dimZ, cdc((7L, 9L, "B", 30L, "U")))
    assert(shape(appliedZ) == shape(Scd.scd2FromCdc(
      zw.unionByName(cdc((7L, 9L, "B", 30L, "U"))))),
      s"zero-width delete+re-open collapsed through apply: ${shape(appliedZ)}")
    // LATE event for a fully-DELETED key: older than the deletion
    // instant → rejected (it could resurrect a pre-delete suppressed
    // duplicate); at-or-after the deletion instant → a fresh opener.
    val delDim = Scd.scd2FromCdc(cdc(
      (8L, 1L, "A", 10L, "I"), (8L, 2L, "A", 15L, "U"), // suppressed dup
      (8L, 3L, "x", 20L, "D")))
    intercept[IllegalArgumentException] {
      Scd.scd2ApplyCdc(delDim, cdc((8L, 9L, "B", 12L, "U")))
    }
    assert(shape(Scd.scd2ApplyCdc(delDim, cdc((8L, 9L, "B", 25L, "U"))))
      == Set((8L, 1, "A", 10L, Some("20"), false),
             (8L, 2, "B", 25L, None, true)))
    // Unknown / NULL ops fail fast; so does a NULL status on an I/U
    // (it would silently behave as a delete through the sentinel drop).
    intercept[IllegalArgumentException] {
      Scd.scd2FromCdc(cdc((9L, 1L, "A", 1L, "UPSERT")))
    }
    intercept[IllegalArgumentException] {
      Scd.scd2FromCdc(
        Seq((9L, 1L, null.asInstanceOf[String], 1L, "I"))
          .toDF("user_id", "event_id", "status", "ts_us", "op"))
    }
  }

  test("one exchange: the three windows share the key partitioning") {
    // sf0.01, NOT sf0.001: the cached `dim` above has the sf0.001
    // logical plan, and the cache manager would substitute an
    // InMemoryTableScan here, hiding the exchanges being counted.
    val df = Scd.scd2(spark, SparkSpec.Sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    val n = "Exchange (hash|range)".r.findAllIn(plan).size
    assert(n == 1, s"SCD2 build grew to $n exchanges:\n$plan")
  }
}
