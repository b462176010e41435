package graft

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import graft.sinks.{Publish, Sinks}

/** Deterministic interleavings of the stall-fencing publish protocol
  * (VERDICT r11 #1/#2 — the r11 mechanism shipped untested and carried
  * a marker-vs-reclaim race). Every case drives a REAL window through
  * a spec seam (`beforeClaim`, `beforeRename`, `afterRename`,
  * `beforeMarker`) rather than sleeping: the interleaving ends in
  * (marker present ∧ the owner's data present), (no marker ∧ the
  * stalled publisher throws), or — for a publisher that died inside
  * commitMarkerWith's create→post-check window — a data-less ZOMBIE
  * marker readers resolve past and vacuum reaps (r12 third state) —
  * the Publish state table, enforced by assertion. */
class PublishFenceSpec extends SparkSpec {
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

  private def childrenOf(fs: FileSystem, root: Path): Set[String] =
    fs.listStatus(root).map(_.getPath.getName).toSet

  test("fenced before commit: stalled publisher throws, fencer's batch " +
      "wins its number, replay converges") {
    val t = s"${tmpDir("fence_pre")}/t"
    val (fs, _, root) = fsOf(t)
    // A stages + claims v=1, then stalls (we simply hold its Claim).
    val claimA = Publish.stageAndClaim(Seq((1L, "from_a")).toDF("id", "s"), t)
    assert(claimA.version == 1)
    // B publishes with fence age 0: A's claimed-but-unmarked v=1 is an
    // aged orphan — B's first claim lands non-adjacent at v=2, is
    // retracted, the gap is fenced (unmarked → reclaimed), and B's
    // retry commits at v=1.
    assert(Sinks.mergePublish(spark, Seq((2L, "from_b")).toDF("id", "s"),
      t, Seq("id"), orphanFenceMs = 0L) == 1)
    assert(rowsOf(t) == Set((2L, "from_b")))
    // A wakes and tries to commit: its token is gone with the fenced
    // dir — loud IllegalStateException, never a silent success.
    val e = intercept[IllegalStateException] {
      Publish.commitMarkerWith(spark, t, claimA)
    }
    assert(e.getMessage.contains("fenced before commit"))
    assert(markersOf(fs, root) == Set(1), "A's failed commit left a marker")
    // A's REPLAY (the contract the exception message demands) converges.
    assert(Sinks.mergePublish(spark, Seq((1L, "from_a")).toDF("id", "s"),
      t, Seq("id")) == 2)
    assert(rowsOf(t) == Set((1L, "from_a"), (2L, "from_b")))
    // No tombstone or stage debris outlives the episode.
    assert(childrenOf(fs, root) == Set("v=1", "v=2", "_latest"))
  }

  test("fenced at commit: marker retracted, publisher throws, fencer " +
      "reclaims — readers never observe the fenced version") {
    val t = s"${tmpDir("fence_at")}/t"
    val (fs, fc, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "base")).toDF("id", "s"),
      t, Seq("id")) == 1)
    val claimA = Publish.stageAndClaim(Seq((2L, "from_a")).toDF("id", "s"), t)
    assert(claimA.version == 2)
    // A's commit passes the token pre-check, and THEN the fence lands
    // (beforeMarker = the pre-check→marker-create window): the fencer
    // renames v=2 away, re-checks (no marker yet) and reclaims. A's
    // marker create goes through but the post-check catches the fence
    // — marker retracted, loud throw.
    val e = intercept[IllegalStateException] {
      Publish.commitMarkerWith(spark, t, claimA,
        beforeMarker = () => Publish.fenceOrphan(fs, fc, root, 2, 0L))
    }
    assert(e.getMessage.contains("fenced at commit"))
    assert(markersOf(fs, root) == Set(1),
      "retraction failed: the fenced version's marker survived")
    assert(rowsOf(t) == Set((1L, "base")))
    assert(childrenOf(fs, root) == Set("v=1", "_latest"),
      "fence left debris (tombstone or fenced dir)")
    // Replay converges.
    assert(Sinks.mergePublish(spark, Seq((2L, "from_a")).toDF("id", "s"),
      t, Seq("id")) == 2)
    assert(rowsOf(t) == Set((1L, "base"), (2L, "from_a")))
  }

  test("fence of a just-committed version restores it: the stale-read " +
      "fencer's re-check leg preserves committed data") {
    val t = s"${tmpDir("fence_restore")}/t"
    val (fs, fc, root) = fsOf(t)
    val claimA = Publish.stageAndClaim(Seq((1L, "owner")).toDF("id", "s"), t)
    // The fencer reads "v=1 unmarked, aged" — then the OWNER's commit
    // completes ENTIRELY inside the fencer's read→rename window
    // (beforeRename seam). The fence still renames the dir away; the
    // re-check sees the marker and the restore puts the committed
    // bytes back.
    Publish.fenceOrphan(fs, fc, root, 1, 0L,
      beforeRename = () => Publish.commitMarkerWith(spark, t, claimA))
    assert(markersOf(fs, root) == Set(1))
    assert(rowsOf(t) == Set((1L, "owner")),
      "a committed version was lost to a stale-read fence")
    assert(childrenOf(fs, root) == Set("v=1", "_latest"),
      "restore left a tombstone behind")
  }

  test("reader during a fence-restore transit serves the previous " +
      "committed version, never a missing path") {
    val t = s"${tmpDir("fence_transit")}/t"
    val (fs, fc, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "v1")).toDF("id", "s"),
      t, Seq("id")) == 1)
    val claimB = Publish.stageAndClaim(
      Seq((1L, "v1"), (2L, "v2")).toDF("id", "s"), t)
    assert(claimB.version == 2)
    // Owner commits entirely inside the fencer's read→rename window;
    // the afterRename seam is the transit: marker 2 present, its data
    // in the tombstone. A reader here used to resolve max-marker 2 and
    // explode PATH_NOT_FOUND (the suite-load flake this fixes) —
    // the servable rule now falls back to committed v=1.
    var duringTransit: Set[(Long, String)] = null
    var transitAsOf = -1
    Publish.fenceOrphan(fs, fc, root, 2, 0L,
      beforeRename = () => Publish.commitMarkerWith(spark, t, claimB),
      afterRename = () => {
        duringTransit = rowsOf(t)
        transitAsOf =
          Sinks.versionAt(spark, t, System.currentTimeMillis())
      })
    assert(duringTransit == Set((1L, "v1")),
      "reader inside the transit window did not fall back to v=1")
    assert(transitAsOf == 1)
    // Restore completed: v=2 serves again, no tombstone debris.
    assert(rowsOf(t) == Set((1L, "v1"), (2L, "v2")))
    assert(childrenOf(fs, root) == Set("v=1", "v=2", "_latest"))
  }

  test("zombie marker from a crashed commit: readers skip it, publishes " +
      "jump it, vacuum reaps it") {
    val t = s"${tmpDir("fence_zombie")}/t"
    val (fs, _, root) = fsOf(t)
    def sum = Sinks.readLatest(spark, t).collect()
      .map(r => r.getLong(1)).sum
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 1L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(1L)) == 1)
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 2L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(2L)) == 2)
    // Crash residue: a publisher was fenced, its unmarked claim
    // deleted, and it died INSIDE commitMarkerWith's create→post-check
    // window — marker 4 exists and no v=4 ever will. Planted directly:
    // the window is two metadata ops wide and has no seam to hold it
    // open, but the residue state is exactly this.
    fs.mkdirs(new Path(root, "_latest"))
    fs.create(new Path(root, "_latest/4"), false).close()
    // Readers resolve past the zombie to the newest committed version.
    assert(sum == 3L, "reader did not skip the data-less zombie marker")
    assert(Sinks.versionAt(spark, t, System.currentTimeMillis()) == 2)
    // Publishing continues below the zombie (3 is adjacent to 2)...
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 4L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(3L)) == 3)
    assert(sum == 7L)
    // ...and then must JUMP it: marker exclusion bars claiming 4, so
    // the claim lands at 5 and the all-zombie gap {4} commits instead
    // of livelocking the adjacency retry.
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 8L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(4L)) == 5)
    assert(sum == 15L)
    // Vacuum reaps the zombie marker with the old versions (grace 0:
    // the zombie was planted milliseconds ago; production keeps the
    // default so a fence-restore transit is never misread as dead).
    assert(Sinks.vacuumVersions(spark, t, zombieGraceMs = 0L) ==
      Seq(1, 2, 3))
    assert(markersOf(fs, root) == Set(5),
      "vacuum left the zombie marker pinning a dead number")
    assert(sum == 15L)
    // Ledger replay detection survives the zombie jump.
    Sinks.mergeAggPublish(spark, Seq(("k", 99L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(4L))
    assert(sum == 15L, "a replayed id re-applied across the zombie gap")
  }

  test("multi-zombie gap commits over it; a mixed gap (zombie + real " +
      "commit) retracts and retries instead") {
    val t = s"${tmpDir("fence_zgap")}/t"
    val (fs, _, root) = fsOf(t)
    def sum = Sinks.readLatest(spark, t).collect()
      .map(r => r.getLong(1)).sum
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 1L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(1L)) == 1)
    // TWO adjacent crash residues: markers 2 and 3, no data, no
    // tombstones — the forall over a width-2 gap, which the
    // single-zombie test never exercises.
    fs.create(new Path(root, "_latest/2"), false).close()
    fs.create(new Path(root, "_latest/3"), false).close()
    assert(sum == 1L)
    // Claim lands at 4 (marker exclusion bars 2 and 3); base is 1; the
    // all-zombie gap {2,3} commits rather than livelocking.
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 2L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(2L)) == 4)
    assert(sum == 3L)
    // MIXED gap via the seam: between P's base read (4) and its claim,
    // plant a zombie at 5 AND let a competitor genuinely commit 6 (its
    // own all-zombie gap {5}). P then claims 7 and sees gap {5, 6}
    // where 6 HAS data — not all-zombie, so P must retract and retry
    // from base 6 (committing over the gap would lose the
    // competitor's update), landing at 7 with both deltas merged.
    var planted = false
    val pv = Sinks.mergeAggPublish(spark, Seq(("k", 8L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(3L), beforeClaim = () => {
        if (!planted) {
          planted = true
          fs.create(new Path(root, "_latest/5"), false).close()
          assert(Sinks.mergeAggPublish(spark,
            Seq(("k", 100L)).toDF("k", "n"),
            t, Seq("k"), Seq("n"), batchId = Some(30L)) == 6)
        }
      })
    assert(pv == 7, s"stale-base publisher landed at $pv, not 7")
    assert(sum == 111L, "the mixed gap lost the competitor's update")
    // Vacuum reaps all three zombies; every batch id replays as no-op.
    Sinks.vacuumVersions(spark, t, zombieGraceMs = 0L)
    assert(!markersOf(fs, root).exists(Set(2, 3, 5)),
      "vacuum left a zombie marker")
    Seq(1L, 2L, 3L, 30L).foreach { id =>
      Sinks.mergeAggPublish(spark, Seq(("k", 99L)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(id))
    }
    assert(sum == 111L, "a replayed id re-applied")
  }

  test("applied-batch ledger survives an un-keyed publish and stays " +
      "range-compact under contiguous stream ids") {
    val t = s"${tmpDir("fence_ledger")}/t"
    val (fs, _, root) = fsOf(t)
    def sum = Sinks.readLatest(spark, t).collect()
      .map(r => r.getLong(1)).sum
    // Contiguous stream-style ids 0..2 → the ledger file is ONE range
    // line, not one line per batch (O(1) metadata for a standing
    // stream, the unbounded-growth fix).
    (0L to 2L).foreach { id =>
      Sinks.mergeAggPublish(spark, Seq(("k", 1L)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(id))
    }
    assert(sum == 3L)
    val in = fs.open(new Path(root, "v=3/_applied"))
    val body = try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
    assert(body.trim == "0-2", s"ledger not range-compacted: '$body'")
    // An UN-keyed publish (out-of-band correction) must CARRY the
    // ledger forward — dropping it would re-enable double-counting for
    // every previously applied id.
    Sinks.mergeAggPublish(spark, Seq(("k", 10L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"))
    assert(sum == 13L)
    (0L to 2L).foreach { id =>
      Sinks.mergeAggPublish(spark, Seq(("k", 99L)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(id))
    }
    assert(sum == 13L,
      "a replayed id re-applied after an un-keyed publish dropped the ledger")
  }

  test("vacuum never deletes a MARKED tombstone while its slot is " +
      "occupied; restores it once the occupant vacates") {
    val t = s"${tmpDir("fence_vactrans")}/t"
    val (fs, _, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "a")).toDF("id", "s"),
      t, Seq("id")) == 1)
    assert(Sinks.mergePublish(spark, Seq((2L, "b")).toDF("id", "s"),
      t, Seq("id")) == 2)
    // Frozen mid-protocol residue: v=3 committed, fenced to a
    // tombstone, and a claimant is transiting the freed slot (marker
    // exclusion will force it out). The old vacuum judged "tombstone
    // not restorable" and DELETED the only committed copy.
    val claim3 = Publish.stageAndClaim(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t)
    assert(claim3.version == 3)
    Publish.commitMarkerWith(spark, t, claim3)
    val (_, fc, _) = fsOf(t)
    fc.rename(new Path(root, "v=3"), new Path(root, ".fenced-3-transit"))
    fs.mkdirs(new Path(root, "v=3"))
    fs.create(new Path(root, "v=3/_claim-usurper"), false).close()
    Sinks.vacuumVersions(spark, t, keepLast = 10)
    assert(childrenOf(fs, root).contains(".fenced-3-transit"),
      "vacuum deleted the committed tombstone of an occupied slot")
    // Occupant vacates; the next vacuum completes the restore.
    fs.delete(new Path(root, "v=3"), true)
    Sinks.vacuumVersions(spark, t, keepLast = 10)
    assert(rowsOf(t) == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "vacuum failed to restore the committed tombstone after vacate")
    assert(!childrenOf(fs, root).exists(_.startsWith(".fenced-")))
  }

  test("triple race: claimant can never sit under another publisher's " +
      "committed marker (marker exclusion in stageAndClaim)") {
    val t = s"${tmpDir("fence_triple")}/t"
    val (fs, fc, root) = fsOf(t)
    val claimA = Publish.stageAndClaim(Seq((1L, "owner")).toDF("id", "s"), t)
    var claimC: Publish.Claim = null
    // Worst interleaving from VERDICT r11 #1: owner commits fully
    // inside the fencer's read→rename window; a fresh claimant C
    // arrives between the fence rename and the restore (afterRename
    // seam) — in r11 C grabbed the freed v=1 slot, the restore failure
    // was swallowed, and readers served C's uncommitted bytes under
    // the owner's marker. Marker exclusion now forces C past v=1.
    Publish.fenceOrphan(fs, fc, root, 1, 0L,
      beforeRename = () => Publish.commitMarkerWith(spark, t, claimA),
      afterRename = () => {
        claimC = Publish.stageAndClaim(
          Seq((9L, "claimant")).toDF("id", "s"), t)
      })
    assert(claimC.version == 2,
      s"claimant took a committed number: v=${claimC.version}")
    // The owner's committed version survived the whole episode…
    assert(rowsOf(t) == Set((1L, "owner")))
    // …and C's claim is a normal uncommitted v=2 it can now commit.
    Publish.commitMarkerWith(spark, t, claimC)
    assert(rowsOf(t) == Set((9L, "claimant")))
    assert(childrenOf(fs, root) == Set("v=1", "v=2", "_latest"))
  }

  test("marker landing inside the claim window: stageAndClaim vacates " +
      "and re-claims; vacuum completes a crashed fencer's restore") {
    val t = s"${tmpDir("fence_vacate")}/t"
    val (fs, fc, root) = fsOf(t)
    // A fully-committed v=1 whose fencer CRASHED mid-fence: the data
    // sits in a tombstone, the marker exists, the v=1 slot is free.
    val claimA = Publish.stageAndClaim(Seq((1L, "owner")).toDF("id", "s"), t)
    Publish.commitMarkerWith(spark, t, claimA)
    fc.rename(new Path(root, "v=1"), new Path(root, ".fenced-1-crash"))
    // Claimant C starts while the marker for 1 is visible only AFTER
    // its pre-check (injected via the beforeRename seam — the marker
    // file is moved aside before the claim loop and put back inside
    // the window). Simplest deterministic injection: hide the marker,
    // then restore it in beforeRename(1).
    val marker = new Path(root, "_latest/1")
    val hidden = new Path(root, "_latest/.hidden-1")
    fc.rename(marker, hidden)
    var injected = false
    val claimC = Publish.stageAndClaim(
      Seq((9L, "claimant")).toDF("id", "s"), t,
      beforeRename = n => if (n == 1 && !injected) {
        injected = true
        fc.rename(hidden, marker)
      })
    // C renamed into v=1, saw the marker at its post-check, VACATED,
    // and took v=2 instead.
    assert(claimC.version == 2,
      s"claimant retained a committed number: v=${claimC.version}")
    assert(!fs.exists(new Path(root, "v=1")) ||
      !fs.exists(new Path(root, "v=1/_claim-" + claimC.token)),
      "claimant's bytes remained under the owner's marker")
    // vacuumVersions completes the crashed fencer's restore: marker 1
    // present, v=1 absent, tombstone holds the only committed copy.
    Sinks.vacuumVersions(spark, t)
    assert(rowsOf(t) == Set((1L, "owner")),
      "vacuum failed to restore the committed tombstone")
    Publish.commitMarkerWith(spark, t, claimC)
    assert(rowsOf(t) == Set((9L, "claimant")))
  }

  test("reader during a claimant's occupancy of a freed committed slot " +
      "never serves the claimant's uncommitted bytes (token-verified " +
      "markers)") {
    val t = s"${tmpDir("fence_occupy")}/t"
    val (fs, fc, root) = fsOf(t)
    // v=1 committed and intact; v=2 committed but its fencer crashed
    // mid-fence — data in a tombstone, marker 2 present, slot free.
    assert(Sinks.mergePublish(spark, Seq((1L, "base")).toDF("id", "s"),
      t, Seq("id")) == 1)
    val claimB = Publish.stageAndClaim(
      Seq((1L, "base"), (2L, "real")).toDF("id", "s"), t)
    Publish.commitMarkerWith(spark, t, claimB)
    fc.rename(new Path(root, "v=2"), new Path(root, ".fenced-2-crash"))
    // Hide marker 2 past the claimant's pre-check, restore it in the
    // beforeRename seam; READ inside the afterRename window — the
    // claimant occupies v=2 while marker 2 is visible. Without
    // token-verified markers this read served the claimant's
    // uncommitted (9, "foreign") row as the committed v=2.
    val marker = new Path(root, "_latest/2")
    val hidden = new Path(root, "_latest/.hidden-2")
    fc.rename(marker, hidden)
    var injected = false
    var duringOccupancy: Set[(Long, String)] = null
    val claimC = Publish.stageAndClaim(
      Seq((9L, "foreign")).toDF("id", "s"), t,
      beforeRename = n => if (n == 2 && !injected) {
        injected = true
        fc.rename(hidden, marker)
      },
      afterRename = n => if (n == 2) duringOccupancy = rowsOf(t))
    assert(claimC.version == 3)
    assert(duringOccupancy == Set((1L, "base")),
      s"reader served a claimant's uncommitted bytes: $duringOccupancy")
    // Vacuum restores the crashed fence's tombstone; v=2 serves again.
    Sinks.vacuumVersions(spark, t)
    assert(rowsOf(t) == Set((1L, "base"), (2L, "real")))
    Publish.commitMarkerWith(spark, t, claimC)
    assert(rowsOf(t) == Set((9L, "foreign")))
  }

  test("vacuum reaps uncommitted fence tombstones and stage debris " +
      "never reaches readers") {
    val t = s"${tmpDir("fence_vac")}/t"
    val (fs, _, root) = fsOf(t)
    assert(Sinks.mergePublish(spark, Seq((1L, "a")).toDF("id", "s"),
      t, Seq("id")) == 1)
    assert(Sinks.mergePublish(spark, Seq((2L, "b")).toDF("id", "s"),
      t, Seq("id")) == 2)
    // A crashed fencer's tombstone for a version that was NEVER
    // committed (no marker 9): garbage, reap it.
    fs.mkdirs(new Path(root, ".fenced-9-dead"))
    fs.create(new Path(root, ".fenced-9-dead/part-0"), false).close()
    val gone = Sinks.vacuumVersions(spark, t)
    assert(gone == Seq(1))
    assert(childrenOf(fs, root) == Set("v=2", "_latest"),
      "vacuum left fence debris in the table root")
    assert(rowsOf(t) == Set((1L, "a"), (2L, "b")))
  }

  test("applied-batch ledger: replaying a committed delta is a no-op " +
      "for mergeAggPublish (and for mergePublish)") {
    val t = s"${tmpDir("ledger")}/t"
    val d0 = Seq(("k", 5L), ("k", 3L)).toDF("k", "n")
    val d1 = Seq(("k", 2L)).toDF("k", "n")
    def sums = Sinks.readLatest(spark, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Sinks.mergeAggPublish(spark, d0, t, Seq("k"), Seq("n"),
      batchId = Some(0L)) == 1)
    assert(sums == Map("k" -> 8L))
    // REPLAY of batch 0 (the double-count hazard r11 documented):
    // detected against the ledger, current version returned untouched.
    assert(Sinks.mergeAggPublish(spark, d0, t, Seq("k"), Seq("n"),
      batchId = Some(0L)) == 1)
    assert(sums == Map("k" -> 8L), "replayed delta double-counted")
    assert(Sinks.mergeAggPublish(spark, d1, t, Seq("k"), Seq("n"),
      batchId = Some(1L)) == 2)
    assert(sums == Map("k" -> 10L))
    // Ledger accumulates down the version chain: batch 0 is still a
    // no-op two versions later.
    assert(Sinks.mergeAggPublish(spark, d0, t, Seq("k"), Seq("n"),
      batchId = Some(0L)) == 2)
    assert(sums == Map("k" -> 10L))
    // Same contract on the keyed-merge path.
    val m = s"${tmpDir("ledger_m")}/t"
    val b0 = Seq((1L, "x")).toDF("id", "s")
    assert(Sinks.mergePublish(spark, b0, m, Seq("id"),
      batchId = Some(0L)) == 1)
    assert(Sinks.mergePublish(spark, b0, m, Seq("id"),
      batchId = Some(0L)) == 1, "replayed merge batch minted a version")
  }

  test("time-based travel + retention window: readAsOf resolves by " +
      "commit instant, vacuum keepLast preserves the travel horizon") {
    val t = s"${tmpDir("asof")}/t"
    def pub(i: Long): Unit = {
      assert(Sinks.mergePublish(spark,
        Seq((i, s"s$i")).toDF("id", "s"), t, Seq("id")) == i.toInt)
      Thread.sleep(30) // separate the marker mtimes (= commit instants)
    }
    pub(1L); val afterV1 = System.currentTimeMillis(); Thread.sleep(30)
    pub(2L); val afterV2 = System.currentTimeMillis(); Thread.sleep(30)
    pub(3L); pub(4L)
    assert(Sinks.versionAt(spark, t, afterV1) == 1)
    assert(Sinks.versionAt(spark, t, afterV2) == 2)
    assert(Sinks.versionAt(spark, t, System.currentTimeMillis()) == 4)
    assert(Sinks.readAsOf(spark, t, afterV2).count() == 2)
    // Before the first commit: loud, with the earliest instant named.
    val e = intercept[IllegalArgumentException] {
      Sinks.versionAt(spark, t, 1L)
    }
    assert(e.getMessage.contains("no servable version"))
    // Retention window: keepLast=2 reclaims only v=1 — v=2 and v=3
    // keep serving time travel.
    assert(Sinks.vacuumVersions(spark, t, keepLast = 2) == Seq(1))
    assert(Sinks.versionAt(spark, t, afterV2) == 2)
    assert(Sinks.readVersion(spark, t, 3).count() == 3)
    // Travel past the reclaimed horizon fails loudly, with the remedy.
    val e2 = intercept[IllegalArgumentException] {
      Sinks.versionAt(spark, t, afterV1)
    }
    assert(e2.getMessage.contains("keepLast"))
    // Default (keepLast=0) reclaims the rest below current.
    assert(Sinks.vacuumVersions(spark, t) == Seq(2, 3))
    assert(Sinks.readLatest(spark, t).count() == 4)
  }

  test("protocol soak: concurrent publishers under zero fence age + a " +
      "stalled claim — exact sums, loud fences, clean root") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = s"${tmpDir("fence_soak")}/t"
    val (fs, _, root) = fsOf(t)
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 0L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(100L)) == 1)
    // A claim that will NEVER commit: every concurrent publisher that
    // loses adjacency must fence it (age gate zero) — the stall the
    // protocol exists for, now under real thread interleavings.
    val stalled = Publish.stageAndClaim(Seq(("k", 999L)).toDF("k", "n"), t)
    // With fence age 0 even an IN-FLIGHT competitor can be fenced
    // between its claim and its commit — then mergeAggPublish throws
    // `publish fenced` and the contract is REPLAY: same batchId, the
    // ledger keeps the retry exactly-once even if the throw raced the
    // marker.
    def publish(i: Long): Int = {
      var attempts = 0
      while (true) {
        attempts += 1
        assert(attempts <= 30, s"publisher $i fenced $attempts times")
        try return Sinks.mergeAggPublish(spark,
          Seq(("k", i)).toDF("k", "n"), t, Seq("k"), Seq("n"),
          batchId = Some(i), orphanFenceMs = 0L)
        catch { case e: IllegalStateException
          if e.getMessage.contains("publish fenced") => () }
      }
      -1
    }
    val fs4 = (1L to 4L).map(i => Future(publish(i)))
    Await.result(Future.sequence(fs4), 300.seconds)
    def sum = Sinks.readLatest(spark, t).collect()
      .map(r => r.getLong(1)).sum
    assert(sum == 10L, s"a concurrent delta was lost or doubled: $sum")
    // The stalled publisher was fenced by SOMEONE — its commit throws,
    // its 999 never entered the sum.
    intercept[IllegalStateException] {
      Publish.commitMarkerWith(spark, t, stalled)
    }
    assert(sum == 10L)
    // Every id replays as a no-op against the final state.
    (1L to 4L).foreach { i =>
      Sinks.mergeAggPublish(spark, Seq(("k", 77L)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(i), orphanFenceMs = 0L)
    }
    assert(sum == 10L, "a replayed id re-applied after the soak")
    // Root hygiene: only committed version dirs + markers survive — no
    // tombstones, no stage debris, no orphaned claims.
    val kids = childrenOf(fs, root)
    val markers = markersOf(fs, root)
    assert(kids == markers.map(v => s"v=$v") + "_latest",
      s"soak left debris: ${kids -- markers.map(v => s"v=$v") - "_latest"}")
  }

  test("ledger survives the OCC retry: a racing publisher between read " +
      "and claim does not break replay detection") {
    val t = s"${tmpDir("ledger_occ")}/t"
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 1L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(0L)) == 1)
    // B applies batch 1; inside B's race window A applies batch 2 —
    // B's retry must re-read the ledger from A's version and still
    // stamp {0,1,2}… on ITS version: ids accumulate across both arms.
    var interfered = false
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 10L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(1L),
      beforeClaim = () => if (!interfered) {
        interfered = true
        assert(Sinks.mergeAggPublish(spark, Seq(("k", 100L)).toDF("k", "n"),
          t, Seq("k"), Seq("n"), batchId = Some(2L)) == 2)
      }) == 3)
    def sums = Sinks.readLatest(spark, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("k" -> 111L))
    // All three ids are no-ops against the final version.
    Seq(0L, 1L, 2L).foreach { id =>
      assert(Sinks.mergeAggPublish(spark, Seq(("k", 7L)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(id)) == 3,
        s"batch $id replayed after the OCC race")
    }
    assert(sums == Map("k" -> 111L))
  }

  test("a lost-race restage reaps the abandoned stage: no .stage-* " +
      "debris when the rename fallback consumed the claim token (r17 " +
      "soak-debris root cause)") {
    val t = s"${tmpDir("stage_reap")}/t"
    val (fs, _, root) = fsOf(t)
    var injected = false
    val claim = Publish.stageAndClaim(Seq((1L, "x")).toDF("id", "s"), t,
      beforeRename = { next =>
        if (!injected) {
          injected = true
          // The observed fallback-copy crash state, reproduced
          // deterministically: the claim token is gone from the stage
          // (the local fs's HDFS-semantics rename fallback moves the
          // source file by file and died after the token) while the
          // stage dir itself survives — and the slot the publisher is
          // about to claim is already occupied, so the rename loses.
          val stage = fs.listStatus(root).map(_.getPath)
            .filter(_.getName.startsWith(".stage-")).head
          fs.listStatus(stage).map(_.getPath)
            .filter(_.getName.startsWith("_claim-"))
            .foreach(p => fs.delete(p, false))
          fs.mkdirs(new Path(root, s"v=$next"))
          fs.create(new Path(root, s"v=$next/occupant"), false).close()
        }
      })
    // The lost race restaged from the DataFrame and claimed the next
    // free number…
    assert(claim.version == 2)
    Publish.commitMarkerWith(spark, t, claim)
    assert(rowsOf(t) == Set((1L, "x")))
    // …and the token-less old stage was reaped, not abandoned: the
    // root carries no `.stage-*` debris (pre-fix this left exactly the
    // soak's `.stage-<uuid>` leftover).
    val debris = childrenOf(fs, root).filter(_.startsWith(".stage-"))
    assert(debris.isEmpty, s"lost-race restage left debris: $debris")
  }
}
