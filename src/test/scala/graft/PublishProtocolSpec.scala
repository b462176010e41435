package graft

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import graft.sinks.{Publish, Sinks}

/** Deterministic forcing specs for the r13 protocol work (VERDICT r12
  * #1, ADVICE r12): the hole-heal claim numbering that previously had
  * only soak evidence, the claim-start fallback branches, the
  * check-order-hardened classifiers ([[Publish.zombieNumber]] and
  * vacuum's marker reap), the restore's nested-recovery attempts cap,
  * and the symbolic applied-batch ledger. Every case drives a real
  * window through a seam — no sleeps-as-synchronization. */
class PublishProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(t: String): (FileSystem, FileContext, Path) = {
    val root = new Path(t)
    val conf = spark.sparkContext.hadoopConfiguration
    (root.getFileSystem(conf), FileContext.getFileContext(root.toUri, conf),
      root)
  }

  private def rowsOf(t: String): Set[(Long, String)] =
    Sinks.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def markersOf(fs: FileSystem, root: Path): Set[Int] = {
    val md = new Path(root, "_latest")
    if (!fs.exists(md)) Set.empty
    else fs.listStatus(md).toSeq
      .flatMap(_.getPath.getName.toIntOption).toSet
  }

  // --- hole healing (VERDICT r12 #1: commit a890dca's forcing spec) ---

  test("retract hole below live claims heals: the forensic state " +
      "{v=1,v=2,v=4,v=5; markers 1,2} grants the next claim v=3") {
    val t = s"${tmpDir("hole_heal")}/t"
    val (fs, fc, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "a")).toDF("id", "s"),
      t, Seq("id")) == 1)
    assert(Sinks.mergePublish(spark, Seq((2L, "b")).toDF("id", "s"),
      t, Seq("id")) == 2)
    // Three live unmarked claims at 3, 4, 5...
    val c3 = Publish.stageAndClaim(Seq((3L, "x")).toDF("id", "s"), t)
    val c4 = Publish.stageAndClaim(Seq((4L, "y")).toDF("id", "s"), t)
    val c5 = Publish.stageAndClaim(Seq((5L, "z")).toDF("id", "s"), t)
    assert((c3.version, c4.version, c5.version) == (3, 4, 5))
    // ...and 3 retracts (the publishLoop retract shape: rename out,
    // then delete the private tombstone) — the forensic root state.
    val retract = new Path(root, s".retract-${c3.token.take(8)}")
    fc.rename(new Path(root, "v=3"), retract)
    fs.delete(retract, true)
    assert(fs.listStatus(root).map(_.getPath.getName).toSet ==
      Set("v=1", "v=2", "v=4", "v=5", "_latest"))
    // Dir-derived numbering would claim 6 here and starve forever on
    // the 3-hole in its adjacency gap; servable-current+1 claims 3.
    val healed = Publish.stageAndClaim(Seq((6L, "h")).toDF("id", "s"), t)
    assert(healed.version == 3,
      s"claim start did not heal the retract hole: got v=${healed.version}")
    Publish.commitMarkerWith(spark, t, healed)
    assert(rowsOf(t) == Set((6L, "h")))
    // A full merge publish then proceeds once the stranded claims at
    // 4,5 age out (fence age 0): the first round claims 6, finds live
    // (non-zombie) gap content, retracts, fences 4 and 5, and the
    // retry commits adjacent at 4 — bounded, not the 65-round
    // starvation the dir-derived numbering produced.
    assert(Sinks.mergePublish(spark, Seq((7L, "m")).toDF("id", "s"),
      t, Seq("id"), orphanFenceMs = 0L) == 4)
    assert(rowsOf(t) == Set((6L, "h"), (7L, "m")))
  }

  test("claim-start fallbacks: all-zombie marker set starts above the " +
      "max marker; bootstrap tables keep the dir-derived start") {
    // All-zombie: marker 1 with no data directory anywhere.
    val t1 = s"${tmpDir("fallback_zombie")}/t"
    val (fs1, _, root1) = fsOf(t1)
    fs1.mkdirs(new Path(root1, "_latest"))
    fs1.create(new Path(root1, "_latest/1"), false).close()
    val c = Publish.stageAndClaim(Seq((1L, "a")).toDF("id", "s"), t1)
    assert(c.version == 2,
      s"all-zombie fallback should start at markerMax+1=2, got ${c.version}")
    // Bootstrap (no markers): dir-derived — an unmarked
    // claim at v=1 pushes the next claim to 2.
    val t2 = s"${tmpDir("fallback_boot")}/t"
    val b1 = Publish.stageAndClaim(Seq((1L, "a")).toDF("id", "s"), t2)
    val b2 = Publish.stageAndClaim(Seq((2L, "b")).toDF("id", "s"), t2)
    assert((b1.version, b2.version) == (1, 2))
  }

  // --- zombieNumber check-order (ADVICE r12 #1) ---

  test("zombieNumber: a fence-restore completing between probes is " +
      "never classified zombie; a stable zombie always is") {
    val t = s"${tmpDir("zombie_order")}/t"
    val (fs, fc, root) = fsOf(t)
    // Committed v=1 whose data sits in a fence tombstone (state 5).
    assert(Sinks.mergePublish(spark, Seq((1L, "a")).toDF("id", "s"),
      t, Seq("id")) == 1)
    val tomb = new Path(root, ".fenced-1-deadbeef")
    fc.rename(new Path(root, "v=1"), tomb)
    // ADVICE's exact race: the restore (tomb → v=1) completes inside
    // the probe sequence. Window 2 = after the first tombstone check,
    // before the data check: the data check must then see v=1 back.
    var fired = false
    assert(!Publish.zombieNumber(fs, root, 1, betweenProbes = i =>
      if (i == 2 && !fired) { fired = true; fc.rename(tomb, new Path(root, "v=1")) }),
      "a committed version restored mid-classification was called zombie")
    assert(fs.exists(new Path(root, "v=1")))
    // Opposite direction: a fence rename (v=1 → tomb) landing after
    // the data probe is caught by the SECOND tombstone check.
    var fired2 = false
    assert(!Publish.zombieNumber(fs, root, 1, betweenProbes = i =>
      if (i == 3 && !fired2) {
        fired2 = true
        fc.rename(new Path(root, "v=1"), new Path(root, ".fenced-1-cafe0001"))
      }),
      "a version fenced mid-classification was called zombie")
    fc.rename(new Path(root, ".fenced-1-cafe0001"), new Path(root, "v=1"))
    // Stable zombie: marker 2 with no data and no tombstone, ever.
    fs.create(new Path(root, "_latest/2"), false).close()
    assert(Publish.zombieNumber(fs, root, 2))
    // Restore in flight at window 1 (tombstone still present): not a
    // zombie either — the first tombstone check catches it.
    fc.rename(new Path(root, "v=1"), new Path(root, ".fenced-1-cafe0002"))
    assert(!Publish.zombieNumber(fs, root, 1))
    fc.rename(new Path(root, ".fenced-1-cafe0002"), new Path(root, "v=1"))
  }

  // --- vacuum marker-reap re-check (ADVICE r12 #4) ---

  test("vacuum zombie-marker reap: a restore landing between the filter " +
      "and the delete keeps the marker (data-absence re-checked last)") {
    val t = s"${tmpDir("vacuum_reap")}/t"
    val (fs, fc, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "a")).toDF("id", "s"),
      t, Seq("id")) == 1)
    // v=1's data transits a tombstone; its marker now looks zombie to a
    // scan that misses the tombstone's brief absence window. Model the
    // ADVICE race directly: data gone, no tombstone (the restore holds
    // the bytes elsewhere), restore completes inside the seam.
    val stash = new Path(s"${tmpDir("vacuum_stash")}/v1")
    fc.rename(new Path(root, "v=1"), stash)
    Publish.vacuumVersions(spark, t, keepLast = 0, zombieGraceMs = 0L,
      beforeReap = v => if (v == 1) fc.rename(stash, new Path(root, "v=1")))
    assert(markersOf(fs, root) == Set(1),
      "a marker whose data returned mid-reap was deleted — committed " +
        "version made permanently unservable")
    assert(rowsOf(t) == Set((1L, "a")))
    // Control: with no restore, the aged zombie marker IS reaped.
    fc.rename(new Path(root, "v=1"), stash)
    Publish.vacuumVersions(spark, t, keepLast = 0, zombieGraceMs = 0L)
    assert(markersOf(fs, root) == Set.empty[Int])
    fc.rename(stash, new Path(root, "v=1")) // hygiene for tmp cleanup
  }

  // --- restore nested-recovery attempts cap (ADVICE r12 #3) ---

  test("restore of a committed tombstone into a slot occupied by data " +
      "that never vacates raises the loud assert instead of spinning") {
    val t = s"${tmpDir("restore_cap")}/t"
    val (fs, fc, root) = fsOf(t)
    val claim = Publish.stageAndClaim(Seq((1L, "owner")).toDF("id", "s"), t)
    assert(claim.version == 1)
    // Fence the aged claim; inside the rename→re-check window the
    // owner's marker lands AND a crashed claimant's data occupies v=1
    // without a vacate ever coming (we create it directly — the state
    // the marker-exclusion protocol claims impossible).
    val e = intercept[IllegalStateException] {
      Publish.fenceOrphan(fs, fc, root, 1, 0L,
        afterRename = () => {
          fs.mkdirs(new Path(root, "_latest"))
          fs.create(new Path(root, "_latest/1"), false).close()
          fs.mkdirs(new Path(root, "v=1"))
          fs.create(new Path(root, "v=1/stuck"), false).close()
        })
    }
    assert(e.getMessage.contains("never vacates"),
      s"expected the stranded-bytes assert, got: ${e.getMessage}")
    // The committed bytes are still intact in the tombstone (named in
    // the assert) — nothing was silently lost.
    assert(fs.listStatus(root).exists(
      _.getPath.getName.startsWith(".fenced-1-")))
  }

  // --- symbolic applied-batch ledger (ADVICE r12 #2) ---

  test("applied-batch ledger stays symbolic: membership and growth are " +
      "O(ranges) even over a billion-id contiguous range") {
    // A checkpointed stream's ledger: one range covering 2e9 ids. The
    // pre-fix code materialized (0 to 2e9) into a Set here — this test
    // completes instantly only with the symbolic representation.
    val wide = Seq((0L, 2_000_000_000L))
    assert(Publish.batchApplied(wide, 1_999_999_999L))
    assert(!Publish.batchApplied(wide, 2_000_000_001L))
    assert(Publish.addBatch(wide, 2_000_000_001L) ==
      Seq((0L, 2_000_000_001L)))
    // Growth, bridging, and negative-singleton rules.
    assert(Publish.addBatch(Nil, 5L) == Seq((5L, 5L)))
    assert(Publish.addBatch(Seq((3L, 7L)), 8L) == Seq((3L, 8L)))
    assert(Publish.addBatch(Seq((3L, 7L), (9L, 12L)), 8L) ==
      Seq((3L, 12L)), "bridging id must coalesce the two ranges")
    assert(Publish.addBatch(Seq((3L, 7L)), 5L) == Seq((3L, 7L)))
    assert(Publish.addBatch(Seq((3L, 7L)), -4L) ==
      Seq((-4L, -4L), (3L, 7L)))
    assert(Publish.addBatch(Seq((-4L, -4L), (3L, 7L)), -3L) ==
      Seq((-4L, -4L), (-3L, -3L), (3L, 7L)),
      "negative ids must stay singletons (lo-hi is ambiguous for them)")
  }

  test("ledger round-trip through a version directory preserves ranges " +
      "and replay detection across the publish chain") {
    val t = s"${tmpDir("ledger_rt")}/t"
    val (fs, _, root) = fsOf(t)
    import org.apache.spark.sql.functions.col
    def delta(n: Long) = Seq(("k", n)).toDF("k", "n")
    def sumOf: Long = Sinks.readLatest(spark, t)
      .agg(org.apache.spark.sql.functions.sum(col("n"))).collect()(0).getLong(0)
    // Contiguous stream ids 0..4 → the on-disk ledger is ONE line.
    (0L to 4L).foreach(i =>
      Sinks.mergeAggPublish(spark, delta(1L), t, Seq("k"), Seq("n"),
        batchId = Some(i)))
    assert(sumOf == 5L)
    val v = Publish.currentVersion(fs, root)
    val ledger = new Path(root, s"v=$v/_applied")
    val in = fs.open(ledger)
    val body = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    assert(body == "0-4", s"contiguous ids must collapse to one line, got: $body")
    assert(Publish.appliedBatches(fs, root, v) == Seq((0L, 4L)))
    // Replays of every id in the range are no-ops.
    (0L to 4L).foreach { i =>
      assert(Sinks.mergeAggPublish(spark, delta(100L), t, Seq("k"),
        Seq("n"), batchId = Some(i)) == v)
    }
    assert(sumOf == 5L, "a replayed batch re-merged — exactly-once broken")
    // A sparse ad-hoc id stays individually detectable.
    Sinks.mergeAggPublish(spark, delta(2L), t, Seq("k"), Seq("n"),
      batchId = Some(99L))
    assert(Publish.appliedBatches(fs, root, Publish.currentVersion(fs, root))
      == Seq((0L, 4L), (99L, 99L)))
    assert(sumOf == 7L)
  }
}
