package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** The versioned-publish protocol, extracted from [[Sinks]] (VERDICT
  * r12 #2) so its state machine can be checked for EXHAUSTIVENESS
  * instead of chased interleaving by interleaving. [[Sinks]] keeps the
  * public read/merge API and delegates every protocol step here.
  *
  * == The state machine ==
  *
  * Per version NUMBER `n` of a table root, the on-disk state is three
  * independent observables plus ownership:
  *
  *  - `D` — data directory `v=n` exists
  *  - `T` — a fence tombstone `.fenced-n-*` exists
  *  - `M` — commit marker `_latest/n` exists
  *  - ownership — `v=n` carries `_claim-<token>` of the publisher that
  *    staged it (the token travels with the directory through every
  *    rename, so "my data" vs "foreign data" is always decidable)
  *
  * Reachable states and who may leave them:
  *
  * | # | state                | D | T | M | meaning                                  | exits (actor)                                   |
  * |---|----------------------|---|---|---|------------------------------------------|--------------------------------------------------|
  * | 1 | FREE                 | - | - | - | never claimed / retracted / vacuumed     | claim rename (publisher) → 2                     |
  * | 2 | CLAIMED              | ✓ | - | - | staged+claimed, invisible to readers     | commit (owner) → 3; retract (owner) → 1; fence rename past age (fencer) → 4 or 5 |
  * | 3 | COMMITTED            | ✓ | - | ✓ | servable                                 | retention drop (vacuum) → 1; stale fence rename (fencer) → 5 |
  * | 4 | FENCED-UNCOMMITTED   | - | ✓ | - | fencer renamed an aged unmarked claim    | tomb delete (fencer/vacuum) → 1                  |
  * | 5 | FENCED-COMMITTED     | - | ✓ | ✓ | marker landed around the fence rename    | restore rename (fencer/vacuum) → 3               |
  * | 6 | ZOMBIE               | - | - | ✓ | owner died inside commitMarkerWith's create→post-check window after its fenced claim was deleted | age-gated marker reap (vacuum) → 1 |
  * | 7 | USURPED-TRANSIT      | ✓*| ✓ | ✓ | a fresh claimant occupied the freed slot mid-restore (✓* = FOREIGN token) | marker-exclusion vacate (claimant) → 5 |
  *
  * Invariants the transitions preserve (each enforced by a check in
  * this file and pinned by PublishFenceSpec / PublishProtocolSpec):
  *
  *  - '''Marker exclusion''': no claim rename may land on (or retain) a
  *    number with `M` — checked before AND after the rename in
  *    [[stageAndClaim]]; makes state 7 self-resolving.
  *  - '''Token-verified serving''': readers resolve max `M` whose `D`
  *    still carries the marker's token ([[servableVersion]]) — foreign
  *    bytes under a committed marker are never servable, even
  *    transiently.
  *  - '''Claim adjacency''': a merge publisher commits only at
  *    mergeBase+1 (or across a gap of provable ZOMBIEs) — the
  *    filesystem's no-overwrite rename is the compare-and-swap.
  *  - '''Rename-first fencing''': a fence makes the data unreachable
  *    and the owner's token check fail in the SAME metadata op; the
  *    post-rename marker re-check routes 5 → restore, never delete.
  *  - '''Check-order discipline''' (ADVICE r12): any classifier that
  *    probes more than one observable re-probes its first observable
  *    LAST ([[zombieNumber]], vacuum's marker reap) — a single rename
  *    between two probes can otherwise forge an unreachable state.
  *  - '''Hole healing''': claims start at servable-current + 1, so a
  *    retracted number below live claims is re-claimed next round
  *    (lock-free progress: whoever holds base+1 commits or frees it).
  *
  * Every interleaving of publishers × fencers × vacuum × readers
  * therefore ends in states {1,3,6-pending-reap} only; the randomized
  * concurrent harness (PublishSoakSpec) drives all four actor kinds
  * against these invariants.
  */
private[graft] object Publish {

  /** Directory of per-version publish markers; `_`-prefixed so Spark's
    * partition discovery ignores it next to the `v=<n>` dirs. */
  private[graft] val MarkerDir = "_latest"

  /** Ledger file name inside a version directory. */
  private[graft] val AppliedLedger = "_applied"

  /** A claimed-but-unmarked version: the number the filesystem granted
    * plus the publisher-owned token stamped INSIDE the staged data
    * before the claim rename (so it travels with the directory). The
    * token is what lets [[commitMarkerWith]] distinguish "my data still
    * sits at v=n" from "v=n was orphan-fenced and/or re-claimed by a
    * competitor while I stalled" — the two are indistinguishable by
    * version number alone. */
  private[graft] final case class Claim(version: Int, token: String)

  /** The serializable publish loop — a versioned STATE TRANSITION:
    * read the current version, compute the successor state via
    * `mergeOf` (`mergeOf(None)` is the bootstrap), claim, commit only
    * on claim-adjacency, retract-and-retry otherwise. Every keyed
    * merge of [[Sinks]] rides it, and so does any maintenance operator
    * whose transition is not a keyed merge (SCD2 apply, any fold of a
    * delta into standing state). With a `batchId`, replaying a
    * committed transition is detected against the applied-batch
    * ledger and returns the current version untouched — the
    * correctness condition whenever the transition is not idempotent
    * by content.
    *
    * Fencing vs the fenced (ADVICE r10): a publisher merely STALLED
    * (not crashed) between claim and marker for longer than
    * `orphanFenceMs` can be fenced by a competitor, and must then FAIL
    * its commit loudly ([[commitMarkerWith]]'s token checks), never
    * report success for a batch that was discarded or whose number
    * was re-claimed with different data. Every interleaving ends in
    * (marker ∧ the OWNER's data), (no marker ∧ the stalled publisher
    * throws), or a data-less ZOMBIE marker readers resolve past and
    * vacuum reaps — the state table above. `beforeClaim` is the spec
    * seam between the base read and the claim (the race window). */
  private[graft] def publishLoop(spark: SparkSession, tableDir: String,
                                 mergeOf: Option[DataFrame] => DataFrame,
                                 batchId: Option[Long],
                                 orphanFenceMs: Long = 60000L,
                                 beforeClaim: () => Unit = () => ()): Int = {
    val root = new Path(tableDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    var attempts = 0
    var result = -1
    while (result < 0) {
      attempts += 1
      if (attempts > 64) {
        def ls(p: Path): String =
          try fs.listStatus(p).map(_.getPath.getName).sorted.mkString(",")
          catch { case _: java.io.IOException => "<unlistable>" }
        throw new IllegalArgumentException(
          s"mergePublish: lost the commit race $attempts times on " +
            s"$tableDir — pathological contention or a wedged orphan " +
            "claim below the fence age; back off at the caller " +
            s"[root: ${ls(root)}; markers: ${ls(new Path(root, MarkerDir))}]")
      }
      // Jittered linear backoff after a lost round: N publishers who
      // all retract and re-claim in lockstep can starve one of them
      // past any fixed attempt bound (observed at 4 writers under
      // suite load) — desynchronizing the retries is the standard
      // livelock remedy, and the sleep only triggers on contested
      // tables.
      if (attempts > 1) Thread.sleep(
        java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(5L, 40L) * math.min(attempts, 8))
      val hasCurrent = fs.exists(new Path(root, MarkerDir))
      val base = if (hasCurrent) currentVersion(fs, root) else 0
      // Applied-batch ledger (r12): with a batchId, a delta whose id is
      // already in the current version's ledger is a REPLAY — return
      // the current version untouched instead of re-merging (the
      // exactly-once guarantee additive merges cannot get from content
      // idempotence). The check sits INSIDE the retry loop so it is
      // re-evaluated against every fresh base the OCC loop observes.
      val applied: Seq[(Long, Long)] =
        if (base == 0) Nil else appliedBatches(fs, root, base)
      if (batchId.exists(id => batchApplied(applied, id))) result = base
      else {
        val merged =
          if (base == 0) mergeOf(None)
          else mergeOf(Some(spark.read.parquet(s"$tableDir/v=$base")))
        beforeClaim()
        // The ledger is carried forward even on an UN-keyed publish
        // (batchId = None): dropping it would silently disable replay
        // detection for every previously committed id the moment an
        // out-of-band correction touches the table.
        // A missing-file-rooted stage failure is a TRANSIENT of this
        // protocol, not an error: the merge's base read resolves
        // v=base's files, and a fence-restore transit (a fencer whose
        // staleness read lost to the owner's commit renames the dir
        // to a tombstone and back) can move them mid-scan. The base is
        // still committed and serving — re-enter the loop, re-resolve,
        // recompute (bounded by the same attempts guard).
        val c =
          try stageAndClaim(merged, tableDir,
            stamp = stageDir => {
              val ranges = batchId.fold(applied)(addBatch(applied, _))
              if (ranges.nonEmpty) writeApplied(fs, stageDir, ranges)
            })
          catch {
            case e: Throwable if missingFileRooted(e) => null
          }
        if (c == null) () // transient base move — loop re-reads
        else if (c.version == base + 1 ||
            ((base + 1) until c.version).forall(g => zombieNumber(fs, root, g))) {
          commitMarkerWith(spark, tableDir, c); result = c.version
        } else {
          // Non-adjacent claim: someone claimed (base, n) after our
          // read. Retract ours (invisible — no marker was written) by
          // RENAME-then-delete, never an in-place recursive delete:
          // Hadoop's local fullyDelete RE-LISTS children as it runs,
          // so the moment the slot empties a competitor's claim rename
          // can land in it and the still-running delete then chews the
          // competitor's fresh files — its claim token (observed in
          // soak as a spurious "fenced before commit" at a 10-minute
          // fence age) or, if it commits first, a COMMITTED version's
          // data files (observed as reader FileNotFoundException).
          // The rename releases the slot atomically; the delete then
          // touches only our private tombstone. Then fence aged
          // orphans in the gap so a crashed publisher can't wedge the
          // table.
          val fc = org.apache.hadoop.fs.FileContext
            .getFileContext(root.toUri, conf)
          val retract = new Path(root, s".retract-${c.token.take(8)}")
          // Our un-marked claim also sits in every higher claimant's
          // gap, so a competitor's orphan fence can move it first: the
          // slot is then already released, and the rename's local-fs
          // copy fallback fails on the vanished source.
          try fc.rename(new Path(root, s"v=${c.version}"), retract)
          catch { case _: java.io.FileNotFoundException => () }
          fs.delete(retract, true)
          ((base + 1) until c.version)
            .foreach(g => fenceOrphan(fs, fc, root, g, orphanFenceMs))
        }
      }
    }
    result
  }

  /** Classify gap number `g` as a crashed-commit ZOMBIE (state 6): a
    * marker with neither data nor a tombstone — no state was ever
    * readable there and marker exclusion keeps it permanently
    * unclaimable, so committing over it skips nothing. Any other gap
    * content (a live claim, a committed version the base read missed,
    * a restore in flight) must force the caller's retract-and-retry.
    *
    * Check order matters (ADVICE r12): tombstone-absence BEFORE
    * data-absence, then tombstone-absence AGAIN. A fence-restore
    * rename (tomb → v=g) completing between a data-absence probe and a
    * later tombstone listing would classify a committed, just-restored
    * version as a zombie — and committing over it silently drops its
    * merge from the served lineage. With this order, a restore in
    * flight fails the FIRST tomb check (the tombstone still exists), a
    * restore that completed before the data probe fails the data check
    * (v=g is back), and a fence rename (v=g → tomb) landing between
    * the data probe and the end fails the SECOND tomb check. Any
    * disagreement → not a zombie → retract and retry. A true zombie is
    * a STABLE state (marker, never any data, never a tombstone), so it
    * passes all four probes on every attempt. `betweenProbes(i)` is
    * the spec seam: invoked with i = 1..3 at each inter-probe window. */
  private[graft] def zombieNumber(fs: org.apache.hadoop.fs.FileSystem,
                                  root: Path, g: Int,
                                  betweenProbes: Int => Unit = _ => ())
      : Boolean = {
    def noTomb = !fs.listStatus(root).exists(
      _.getPath.getName.startsWith(s".fenced-$g-"))
    val marked = fs.exists(new Path(root, s"$MarkerDir/$g"))
    betweenProbes(1)
    val t1 = marked && noTomb
    betweenProbes(2)
    val d = t1 && !fs.exists(new Path(root, s"v=$g"))
    betweenProbes(3)
    d && noTomb
  }

  /** Fence ONE aged claimed-but-unmarked gap version (factored out of
    * [[publishLoop]] r12 so the interleavings are spec-drivable).
    * Rename-first: after the tombstone rename the dir is gone from
    * `v=g`, so a stalled owner's commitMarkerWith token check fails
    * deterministically. A competitor racing the same fence surfaces as
    * a rename IOException — it already moved the dir; nothing left for
    * us to do. The marker re-check after the rename catches an owner
    * whose marker landed between our staleness read and the rename:
    * that version is COMMITTED and must be restored, not reclaimed —
    * [[restoreTombstone]] carries the convergence argument.
    * Spec seams: `beforeRename` runs between the staleness read and
    * the tombstone rename (the window in which the owner's commit can
    * land, making the re-check/restore leg reachable); `afterRename`
    * runs between the rename and the re-check (the window a fresh
    * claimant would need to usurp the freed slot — the triple race
    * marker exclusion closes). */
  private[graft] def fenceOrphan(fs: org.apache.hadoop.fs.FileSystem,
                                 fc: org.apache.hadoop.fs.FileContext,
                                 root: Path, g: Int, orphanFenceMs: Long,
                                 beforeRename: () => Unit = () => (),
                                 afterRename: () => Unit = () => ()): Unit = {
    val p = new Path(root, s"v=$g")
    val marked = fs.exists(new Path(root, s"$MarkerDir/$g"))
    val now = System.currentTimeMillis()
    // The mtime read races competitors (exists → getFileStatus
    // TOCTOU): a vanished path can surface as FileNotFoundException
    // OR — on the local fs, whose status loads File.lastModified()
    // lazily — as a status carrying mtime 0, because lastModified()
    // returns 0 for a path that disappeared mid-read instead of
    // throwing. Treating 0 as an age made a retract-then-reclaim
    // window fatal: the fencer read the retracted dir as epoch-old,
    // then renamed away the owner's FRESH re-claim that landed before
    // its rename (observed as a rare soak failure at a 10-minute
    // fence age). A vanished path means a competitor moved it — the
    // same no-op as losing the rename race; no real claim dir carries
    // an epoch mtime (every stage is freshly written).
    val aged = !marked && fs.exists(p) && {
      val m =
        try fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.FileNotFoundException => 0L }
      m > 0 && now - m > orphanFenceMs
    }
    if (aged) {
      beforeRename()
      val tomb = new Path(root, s".fenced-$g-" +
        java.util.UUID.randomUUID.toString.take(8))
      val renamed =
        try { fc.rename(p, tomb); true }
        catch { case _: java.io.IOException => false }
      if (renamed) {
        afterRename()
        if (fs.exists(new Path(root, s"$MarkerDir/$g")))
          restoreTombstone(fs, fc, root, g, tomb)
        else fs.delete(tomb, true)
      }
    }
  }

  /** Restore a tombstoned COMMITTED version to its `v=g` slot. The
    * restore can transiently fail only while a claimant is transiting
    * [[stageAndClaim]]'s check→rename window into the freed slot; the
    * marker-exclusion post-check forces every such claimant to VACATE,
    * so a bounded retry converges. If the marker disappears while we
    * retry, the "commit" was transient — the owner's post-commit token
    * check retracted it (the owner throws `fenced at commit`), the
    * tombstoned bytes were never visible to readers, and the tombstone
    * is reclaimed instead. Exhausting the retries means an interleaving
    * the protocol claims impossible — assert loudly (the r11 code
    * swallowed this failure, silently serving a claimant's uncommitted
    * bytes under the owner's marker; VERDICT r11 #1). */
  private[graft] def restoreTombstone(fs: org.apache.hadoop.fs.FileSystem,
                                      fc: org.apache.hadoop.fs.FileContext,
                                      root: Path, g: Int, tomb: Path): Unit = {
    val marker = new Path(root, s"$MarkerDir/$g")
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      if (!fs.exists(marker)) {
        fs.delete(tomb, true); done = true
      } else {
        try {
          fc.rename(tomb, new Path(root, s"v=$g"))
          // Local-fs rename can NEST the source inside a destination
          // that appeared in the check→rename window (the same HDFS-
          // semantics fallback stageAndClaim verifies against): if a
          // claimant occupied v=g mid-restore, our committed bytes are
          // now at v=g/<tombName> — pull them back out and retry (the
          // claimant's marker-exclusion vacate frees the slot).
          val nested = new Path(root, s"v=$g/${tomb.getName}")
          if (fs.exists(nested)) {
            fc.rename(nested, tomb)
            // The attempts cap must gate THIS branch too (ADVICE r12):
            // a claimant that crashed between occupying v=g and its
            // marker-exclusion vacate leaves data that never vacates,
            // and every retry lands here (the rename "succeeds" by
            // nesting) — without the cap the fencer spins forever
            // instead of raising the documented loud assert.
            if (attempts >= 100) throw new IllegalStateException(
              s"fence restore of committed v=$g under $root kept " +
                s"nesting — v=$g is occupied by data that never " +
                "vacates, which the marker-exclusion claim protocol " +
                s"makes impossible; the committed bytes are at $tomb")
            Thread.sleep(20L)
          }
          else done = true
        }
        catch {
          case e: java.io.IOException =>
            // Converged by another actor: vacuumVersions' tombstone
            // pass restores committed tombstones too — tomb gone with
            // v=g present is the healthy end state, not a failure.
            if (!fs.exists(tomb) && fs.exists(new Path(root, s"v=$g")))
              done = true
            else if (attempts >= 100) throw new IllegalStateException(
              s"fence restore of committed v=$g under $root kept failing " +
                s"— v=$g is occupied by data that never vacates, which " +
                "the marker-exclusion claim protocol makes impossible; " +
                s"the committed bytes are stranded at $tomb", e)
            else Thread.sleep(20L)
        }
      }
    }
  }

  /** Read the applied-batch ledger stamped into a version directory
    * (absent on tables never batch-keyed → empty). Lines are single
    * ids (`7`) or inclusive ranges (`3-9`) — see [[writeApplied]].
    * The ledger stays SYMBOLIC end to end (ADVICE r12): ranges are
    * returned as (lo, hi) pairs sorted by lo, never expanded into a
    * materialized id set — a checkpointed stream's ledger is one
    * contiguous range covering millions of micro-batch ids, and
    * expanding it would cost O(total batches ever) driver memory and
    * time on EVERY publish, not the documented O(ranges). */
  private[graft] def appliedBatches(fs: org.apache.hadoop.fs.FileSystem,
                                    root: Path, version: Int)
      : Seq[(Long, Long)] =
    readLedger(fs, new Path(root, s"v=$version/$AppliedLedger"))

  /** Parse one ledger FILE into sorted symbolic ranges (shared by the
    * version ledger above and the index-compaction `_folded` ledgers —
    * [[graft.operators.Compaction]]). */
  private[graft] def readLedger(fs: org.apache.hadoop.fs.FileSystem,
                                p: Path): Seq[(Long, Long)] =
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).getLines()
        .map(_.trim).filter(_.nonEmpty)
        .flatMap { line =>
          line.split('-') match {
            case Array(a, b) if a.nonEmpty =>
              for (lo <- a.toLongOption; hi <- b.toLongOption
                   if lo <= hi) yield (lo, hi)
            case _ => line.toLongOption.map(id => (id, id))
          }
        }.toSeq.sortBy(_._1)
      finally in.close()
    }

  /** Serialize symbolic ranges to one ledger FILE (overwrite — the
    * ledger is tiny and rewritten wholesale; `lo-hi` lines, singletons
    * bare). The write goes through a temp + rename so a crash never
    * leaves a half-written ledger. */
  private[graft] def writeLedger(fs: org.apache.hadoop.fs.FileSystem,
                                 p: Path, ranges: Seq[(Long, Long)]): Unit = {
    val body = ranges.sortBy(_._1)
      .map { case (lo, hi) => if (lo == hi) s"$lo" else s"$lo-$hi" }
      .mkString("\n")
    val tmp = new Path(p.getParent,
      s".${p.getName}-tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // OVERWRITE rename, never delete-then-rename (r13 review): a crash
    // between a delete and a rename would leave NO ledger at all, and
    // a vanished _folded ledger re-opens every folded batch id to
    // replay double-counting. The FileContext threads the CALLER's fs
    // configuration (ADVICE r13): a bare `new Configuration()` would
    // resolve the commit rename against an unconfigured filesystem on
    // any scheme needing session config (s3a credentials, custom
    // impls) — exactly on the _folded write whose loss re-opens folded
    // ids to double-count.
    org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Membership test against the symbolic ledger — O(ranges), which is
    * O(1) for the monotone-contiguous ids a checkpointed stream emits. */
  private[graft] def batchApplied(ranges: Seq[(Long, Long)],
                                  id: Long): Boolean =
    ranges.exists { case (lo, hi) => lo <= id && id <= hi }

  /** Add one id to the symbolic ledger, coalescing into an adjacent
    * range where possible (kept sorted). Negative ids never coalesce —
    * `lo-hi` only round-trips unambiguously for non-negative bounds
    * (stream ids always are; negatives are ad-hoc caller keys). */
  private[graft] def addBatch(ranges: Seq[(Long, Long)],
                              id: Long): Seq[(Long, Long)] =
    if (batchApplied(ranges, id)) ranges
    else if (id < 0) ((id, id) +: ranges).sortBy(_._1)
    else {
      val grown = ranges.map { case (lo, hi) =>
        if (lo >= 0 && hi == id - 1) (lo, id)
        else if (lo >= 0 && lo == id + 1) (id, hi)
        else (lo, hi)
      }
      val merged =
        if (grown == ranges) ((id, id) +: grown).sortBy(_._1)
        else grown.sortBy(_._1)
      // Coalesce ranges the new id bridged ([3-7],[8-9] after adding 8
      // via growth on one side only — fold adjacent non-negative runs).
      merged.foldLeft(List.empty[(Long, Long)]) { (acc, r) =>
        acc match {
          case (lo, hi) :: rest
            if lo >= 0 && r._1 >= 0 && r._1 <= hi + 1 =>
            (lo, math.max(hi, r._2)) :: rest
          case _ => r :: acc
        }
      }.reverse
    }

  /** Stamp the ledger into a STAGE directory (pre-claim, so it rides
    * the claim rename atomically — `_`-prefixed, invisible to parquet
    * readers). One small file per version, rewritten wholesale: ids
    * accumulate down the version chain because each publish stamps
    * (parent's ledger + its id) — carried as `lo-hi` ranges END TO END
    * (parse → membership → add → write all operate on ranges; ADVICE
    * r12 removed the materialized-Set expansion). A checkpointed
    * stream's ids are monotonically contiguous, so its ledger stays
    * ONE line forever (O(1) metadata AND O(1) driver work per publish,
    * not O(batches)); only genuinely sparse ad-hoc id sets pay per-gap
    * lines. Exact-set semantics are unchanged — ranges are an
    * encoding, not a max-watermark approximation (out-of-order ad-hoc
    * ids stay individually detectable). */
  private[graft] def writeApplied(fs: org.apache.hadoop.fs.FileSystem,
                                  stageDir: Path,
                                  ranges: Seq[(Long, Long)]): Unit = {
    val body = ranges.sortBy(_._1)
      .map { case (lo, hi) => if (lo == hi) s"$lo" else s"$lo-$hi" }
      .mkString("\n")
    val out = fs.create(new Path(stageDir, AppliedLedger), false)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** True when a failure is rooted in (or reports) a missing data
    * file — the signature of a scan whose resolved files a
    * fence-restore transit moved mid-read. Spark wraps the underlying
    * FileNotFoundException in task/job failures whose cause chain is
    * sometimes flattened into the message, so both are checked. */
  private[graft] def missingFileRooted(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
          (t.getMessage != null &&
            t.getMessage.contains("FileNotFoundException")))
        return true
      t = t.getCause
    }
    false
  }

  /** The first half of a publish: stage the data and claim a version
    * NUMBER (no-overwrite rename — the filesystem grants each number
    * to exactly one publisher), WITHOUT the marker. The claimed
    * version is INVISIBLE to readers until [[commitMarkerWith]] — which is
    * what lets the merge paths validate their merge base between claim
    * and commit, and retract a stale claim without any reader ever
    * having observed it.
    *
    * MARKER EXCLUSION (r12, closes the VERDICT-r11 triple race): a
    * claim is refused on any number whose COMMIT MARKER already exists
    * — checked before each rename attempt and re-checked after the
    * rename lands. The state the check makes unrepresentable: a
    * fencer tombstones v=g, the (fully committed) owner's marker for g
    * is present, and a fresh claimant grabs the freed v=g slot before
    * the fencer's restore — readers resolving max-marker would then
    * serve the claimant's UNCOMMITTED bytes under the owner's marker.
    * The pre-check skips marker-carrying numbers without an attempt;
    * the post-check covers a marker that landed inside the
    * check→rename window by VACATING (renaming our data back to a
    * fresh stage name and moving to the next number), after which the
    * fencer's restore retry finds the slot free ([[restoreTombstone]]).
    * `stamp` runs against the staged directory after the data write
    * and before the claim rename — metadata files written there (the
    * applied-batch ledger) travel with the version atomically.
    * `beforeRename` is the spec seam for injecting a marker into the
    * check→rename window deterministically. */
  private[graft] def stageAndClaim(df: DataFrame, tableDir: String,
                                   stamp: Path => Unit = _ => (),
                                   beforeRename: Int => Unit = _ => (),
                                   afterRename: Int => Unit = _ => ())
      : Claim = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(tableDir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    def freshStage() = new Path(root,
      s".stage-${java.util.UUID.randomUUID.toString.take(8)}")
    val token = java.util.UUID.randomUUID.toString
    var stage: Path = null
    def restage(): Unit = {
      // Reap the previous stage before abandoning its path (r17 soak
      // debris root-cause): the lost-race catch below restages when the
      // claim token is missing from the old stage, and the local fs's
      // HDFS-semantics rename fallback — which moves/copies the source
      // file by file — can crash partway, leaving the old stage dir
      // PRESENT but token-less. Without this reap that dir survives as
      // `.stage-*` debris at the root until vacuum (observed once in
      // the 4-writer zero-fence-age soak). Safe at every call site:
      // a stage that was renamed away no longer exists (delete is a
      // no-op on its stale path), and UUID names can't collide with
      // another publisher's live stage.
      if (stage != null) fs.delete(stage, true)
      stage = freshStage()
      // A failed stage write (e.g. the merge's base read raced a
      // fence-restore transit) must not leave partial debris for the
      // soak's hygiene or grow the root until vacuum: reap and rethrow.
      try df.write.mode("errorifexists").parquet(stage.toString)
      catch { case e: Throwable => fs.delete(stage, true); throw e }
      stamp(stage)
      // Claim token: stamped into the staged dir BEFORE the rename, so
      // ownership travels with the data. `_`-prefixed → invisible to
      // parquet readers, same convention as _SUCCESS.
      fs.create(new Path(stage, s"_claim-$token"), false).close()
    }
    restage()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, conf)
    // Claims start at COMMITTED max + 1, not at max(existing dirs)+1:
    // a retracted claim leaves an empty number below the live claims
    // above it, and dir-derived numbering then never returns to fill
    // the hole — every publisher claims above it, finds the hole in
    // its adjacency gap (neither committed nor zombie), retracts, and
    // re-claims above it again, a mutual starvation observed at 4
    // writers as 65 lost rounds over root {v=1,v=2,v=4,v=5; markers
    // 1,2}. Walking up from the committed base instead restores the
    // lock-free progress guarantee: whoever holds base+1 either
    // commits (progress) or retracts (freeing base+1 for the next
    // claimant); occupied or marker-excluded numbers are skipped by
    // the existing rename/exclusion logic. Tables with no markers yet
    // (bootstrap) keep the dir-derived start.
    // The start is the SERVABLE current + 1 (not the max marker —
    // a crashed-commit zombie above the servable base would skip the
    // genuinely free next number); the walk skips marker-excluded and
    // occupied numbers from there. All-zombie marker sets fall back
    // to the max marker, bootstrap tables to the dir max.
    val markerMax =
      if (fs.exists(new Path(root, MarkerDir)))
        fs.listStatus(new Path(root, MarkerDir)).toSeq
          .flatMap(_.getPath.getName.toIntOption).foldLeft(0)(math.max)
      else 0
    var next =
      if (markerMax > 0)
        (try currentVersion(fs, root)
         catch { case _: IllegalStateException => markerMax }) + 1
      else 1 + listVersions(fs, root).foldLeft(0)(math.max)
    var claimed = -1
    var slotAttempts = 0
    while (claimed < 0) {
      if (fs.exists(new Path(root, s"$MarkerDir/$next"))) {
        // Marker exclusion pre-check: the number is COMMITTED (its
        // data may be transiting a fence tombstone) — never claimable.
        next += 1
      } else {
        beforeRename(next)
        try {
          // Rename.NONE: fails if the destination exists — the claim on
          // this version number.
          fc.rename(stage, new Path(root, s"v=$next"),
            org.apache.hadoop.fs.Options.Rename.NONE)
          // A successful rename return is NOT a claim on the local fs:
          // RawLocalFileSystem.rename falls back to HDFS directory
          // semantics when the destination came into existence inside
          // FileContext's check→rename window — it moves the source
          // INTO the existing destination as a CHILD and returns true.
          // Forensically observed: a loser's stage nested at
          // v=N/.stage-*, the loser proceeding as if it owned v=N, and
          // its commitMarkerWith later failing "fenced" (or worse,
          // committing a marker over the winner's bytes). Ownership is
          // therefore verified by the claim token at the TOP level of
          // the slot; a nested loser recovers its bytes (or restages
          // if the winner's retract already swept them away) and moves
          // to the next number.
          val vdir = new Path(root, s"v=$next")
          if (!fs.exists(new Path(vdir, s"_claim-$token"))) {
            val nested = new Path(vdir, stage.getName)
            val back = freshStage()
            val recovered =
              try { fc.rename(nested, back); true }
              catch { case _: java.io.IOException => false }
            if (recovered) stage = back else restage()
            next += 1
          } else {
          afterRename(next)
          if (fs.exists(new Path(root, s"$MarkerDir/$next"))) {
            // Marker landed inside the check→rename window: the number
            // is committed and its owner's data is in a fence
            // tombstone awaiting restore. Vacate the slot (our data
            // keeps its token — the rename moves the whole dir) and
            // try the next number. A failed vacate rename must not
            // propagate (an unretracted claim would wedge every later
            // publisher's adjacency until the fence age): if our token
            // is gone with it, restage and move on.
            var vacated = false
            var vacateTries = 0
            while (!vacated) {
              vacateTries += 1
              val back = freshStage()
              try {
                fc.rename(new Path(root, s"v=$next"), back,
                  org.apache.hadoop.fs.Options.Rename.NONE)
                stage = back; vacated = true
              } catch {
                case e: java.io.IOException =>
                  // Slot already empty (someone moved it with our
                  // bytes): restage. Still ours: the vacate MUST
                  // complete — abandoning it would orphan the slot
                  // and wedge adjacency until the fence age.
                  if (!fs.exists(new Path(root, s"v=$next/_claim-$token"))) {
                    restage(); vacated = true
                  } else if (vacateTries > 16) throw e
                  else Thread.sleep(10L)
              }
            }
            next += 1
          } else claimed = next
          }
        } catch {
          // ANY rename failure is a lost slot race, not an error to
          // propagate: the typed FileAlreadyExistsException (dst
          // existed at FileContext's check), ENOTEMPTY (dst landed
          // between check and rename(2)), and — observed in soak —
          // Shell chmod ExitCodeExceptions from the local fs's
          // HDFS-semantics fallback, which COPIES the source file by
          // file into an existing destination and crashes mid-copy
          // when the slot's winner vacates or retracts underneath it.
          // A post-hoc exists(dst) probe cannot disambiguate (the
          // winner may already be gone), so the policy is: verify our
          // stage survived (a failed fallback copy can consume it —
          // restage from the DataFrame if the token file is missing),
          // move to the next number, and let the slot-attempts cap
          // bound genuinely persistent I/O failure.
          case e: java.io.IOException =>
            slotAttempts += 1
            if (slotAttempts > 64) throw e
            if (!fs.exists(new Path(stage, s"_claim-$token"))) restage()
            next += 1
        }
      }
    }
    Claim(claimed, token)
  }

  /** The second half of a publish: record the version's marker — the
    * commit point readers resolve. Creating a fresh file per publisher
    * commutes with every concurrent publish, so the resolved pointer
    * (max over markers) never moves backward.
    *
    * Fence detection (ADVICE r10): a publisher stalled past the orphan
    * fence age between claim and here may find its version deleted (a
    * competitor fenced it) or re-claimed with a competitor's data —
    * committing blindly would either strand readers on a dangling
    * marker or report success for a silently-discarded batch. The
    * claim TOKEN closes both: verify it before the marker create
    * (catches any fence that completed first — the fence renames the
    * dir away as its FIRST op, so a fenced dir cannot still carry the
    * token), and re-verify after (catches a fence that read "unmarked"
    * just before our marker landed; we retract the marker and fail).
    * After a successful post-check, any later fencer sees the marker
    * either at its age gate or at its own post-rename re-check and
    * restores — so "commitMarkerWith returned" really means "readers will
    * resolve this version". Failure is an IllegalStateException, never
    * a silent success: the caller's batch was NOT published and must
    * be replayed (the merge paths converge on replay by design).
    *
    * Spec seam: `beforeMarker` runs after the token pre-check and
    * before the marker create — the exact window in which a fence
    * arriving mid-commit produces the "fenced at commit"
    * retract-and-throw path, which no wall-clock interleaving reaches
    * deterministically. */
  private[graft] def commitMarkerWith(spark: SparkSession, tableDir: String,
                                      claim: Claim,
                                      beforeMarker: () => Unit = () => ())
      : Unit = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokenPath =
      new Path(root, s"v=${claim.version}/_claim-${claim.token}")
    def fenced(when: String): Nothing = {
      // Forensic snapshot: the states that distinguish the possible
      // mechanisms (fence tombstone vs vacate vs foreign occupation).
      def ls(p: Path): String =
        try fs.listStatus(p).map(_.getPath.getName).sorted.mkString(",")
        catch { case _: java.io.IOException => "<unlistable>" }
      throw new IllegalStateException(
        s"publish fenced $when: v=${claim.version} under $tableDir no " +
          s"longer carries claim token ${claim.token} — this publisher " +
          "stalled past the orphan fence age and the version was " +
          "reclaimed; the batch was NOT published, replay it " +
          s"[root: ${ls(root)}; v-dir: " +
          s"${ls(new Path(root, s"v=${claim.version}"))}; markers: " +
          s"${ls(new Path(root, MarkerDir))}]")
    }
    if (!fs.exists(tokenPath)) fenced("before commit")
    beforeMarker()
    fs.mkdirs(new Path(root, MarkerDir))
    // The marker NAMES its claim token (r12): readers verify the slot
    // still carries `_claim-<token>` before serving, which closes the
    // transient read-uncommitted window in which a claimant occupies a
    // freed committed slot between its rename and its marker-re-check
    // vacate — under a token-verified marker, foreign bytes are never
    // servable, not merely never PERSISTENTLY servable. (The
    // create→write is not atomic; a reader catching the marker empty
    // falls back to the legacy dir-exists rule — the pre-r12 behavior,
    // and the window is two metadata ops wide.)
    val out = fs.create(new Path(root, s"$MarkerDir/${claim.version}"), false)
    try out.write(claim.token.getBytes("UTF-8")) finally out.close()
    if (!fs.exists(tokenPath)) {
      fs.delete(new Path(root, s"$MarkerDir/${claim.version}"), false)
      fenced("at commit")
    }
  }

  /** The reader-side servability test for one marker: its data
    * directory exists AND — when the marker file names a claim token
    * (r12) — the directory still carries that token, so a claimant
    * transiting a freed committed slot can never be served as the
    * committed version. Tokenless markers ([[Sinks.rollbackTo]] writes
    * them; a marker caught mid-write reads as one) fall back to the
    * dir-exists rule. One small-file read per candidate;
    * resolution normally checks a single marker. */
  private[graft] def servableVersion(fs: org.apache.hadoop.fs.FileSystem,
                                     root: Path, v: Int): Boolean =
    fs.exists(new Path(root, s"v=$v")) && {
      val tok =
        try {
          val in = fs.open(new Path(root, s"$MarkerDir/$v"))
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      tok.isEmpty || fs.exists(new Path(root, s"v=$v/_claim-$tok"))
    }

  private[graft] def listVersions(fs: org.apache.hadoop.fs.FileSystem,
                                  root: Path): Seq[Int] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s => s.getPath.getName.stripPrefix("v=").toIntOption)

  /** The version readers RESOLVE: the highest marker whose data
    * directory EXISTS. A marker with no `v=<n>` directory is skipped —
    * two transients produce one: a fence→restore transit (the
    * committed bytes sit in a tombstone for the duration of two
    * renames) and a ZOMBIE marker from a publisher that crashed (or
    * was descheduled) inside commitMarkerWith's create→post-check window
    * after its unmarked claim had been fenced and deleted (r12 —
    * observed as a reader PATH_NOT_FOUND flake under suite-load
    * stalls: the zombie marker resolved as current and the read
    * exploded on a path that never carried committed data). Skipping
    * serves the previous committed snapshot — a consistent read —
    * and the marker-exclusion claim check keeps the skipped number
    * unclaimable, so nothing foreign can ever appear under it;
    * [[vacuumVersions]] reaps permanent zombies so the skip list
    * cannot grow without bound. */
  private[graft] def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
                                    root: Path): Int = {
    val md = new Path(root, MarkerDir)
    val markers =
      if (fs.exists(md))
        fs.listStatus(md).toSeq.flatMap(_.getPath.getName.toIntOption)
      else Nil
    require(markers.nonEmpty,
      s"no publish marker under $root — never published?")
    markers.sorted(Ordering[Int].reverse)
      .find(v => servableVersion(fs, root, v))
      .getOrElse(throw new IllegalStateException(
        s"markers exist under $root but none has a data directory — " +
          "every version is in a fence-restore transit or is a " +
          "crashed-commit zombie; retry, or run vacuumVersions to reap " +
          "zombies and complete crashed restores"))
  }

  /** [[Sinks.vacuumVersions]]'s implementation — see its scaladoc for
    * the retention contract. `beforeReap(v)` is the spec seam invoked
    * between the zombie-marker filter pass and each marker delete (the
    * window in which a fence restore can resurrect `v=<v>`, making the
    * reap's final data-absence re-check load-bearing). */
  private[graft] def vacuumVersions(spark: SparkSession, tableDir: String,
                                    keepLast: Int = 0,
                                    zombieGraceMs: Long = 600000L,
                                    beforeReap: Int => Unit = _ => ())
      : Seq[Int] = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".fenced-"))
      .foreach { st =>
        val g = st.getPath.getName.stripPrefix(".fenced-")
          .takeWhile(_ != '-').toIntOption
        val marked = g.exists(v => fs.exists(new Path(root, s"$MarkerDir/$v")))
        val restorable = marked &&
          g.exists(v => !fs.exists(new Path(root, s"v=$v")))
        // A MARKED tombstone whose slot is occupied is a vacating
        // claimant in transit (marker exclusion forces it out): leave
        // the committed bytes for the fencer's bounded retry or the
        // next vacuum — deleting here would destroy the only copy of a
        // committed version. Only UNMARKED tombstones (crashed-fence
        // debris of uncommitted claims) are reclaimed.
        if (restorable) fs.rename(st.getPath, new Path(root, s"v=${g.get}"))
        else if (!marked) fs.delete(st.getPath, true)
      }
    // Zombie-marker reap (r12): a publisher that crashed inside
    // commitMarkerWith's create→post-check window — after its unmarked
    // claim had been fenced and deleted — leaves a marker with no data
    // directory. It is no version at all (nothing was ever readable
    // there); readers skip it and marker exclusion blocks its number,
    // but left in place it pins a dead number forever. The reap is
    // AGE-GATED (`zombieGraceMs`): a fence-restore transit also shows
    // marker ∧ no-directory for the duration of two renames, and
    // reaping a transit's marker would make the fencer's re-check
    // misread its committed tombstone as reclaimable — a marker this
    // old with no data, no tombstone (re-checked per marker against a
    // fresh listing), and no restore in flight is genuinely dead. The
    // residual window — a fencer stalled past the grace between its
    // rename and its re-check — is the same stall class orphanFenceMs
    // already bounds, and the restore's convergence check tolerates a
    // vacuum completing the restore first.
    val md = new Path(root, MarkerDir)
    val reapNow = System.currentTimeMillis()
    if (fs.exists(md)) fs.listStatus(md).toSeq
      .flatMap(st => st.getPath.getName.toIntOption
        .map(v => (st.getPath, v, st.getModificationTime)))
      .filter { case (_, v, m) =>
        reapNow - m > zombieGraceMs &&
          !fs.exists(new Path(root, s"v=$v")) &&
          !fs.listStatus(root).exists(
            _.getPath.getName.startsWith(s".fenced-$v-")) }
      // Re-check data-dir absence immediately before the delete (ADVICE
      // r12): a fence restore (tomb → v=g) completing between the
      // !exists probe above and the per-marker tombstone listing would
      // otherwise get its marker reaped here — permanently unservable
      // committed data. If the data directory has appeared, the version
      // is live: skip the reap (the next vacuum re-evaluates). Same
      // check-order discipline as [[zombieNumber]].
      .foreach { case (p, v, _) =>
        beforeReap(v)
        if (!fs.exists(new Path(root, s"v=$v"))) fs.delete(p, false) }
    // Crash-debris reap: `.stage-*` (publisher died mid-stage, never
    // claimed) and `.retract-*` (died between the retract rename and
    // its delete) are publisher-private dirs no reader or claimant
    // ever references — age-gated only so a LIVE publisher's
    // in-flight stage is never pulled out from under it.
    fs.listStatus(root).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isDirectory &&
          (n.startsWith(".stage-") || n.startsWith(".retract-")) &&
          reapNow - s.getModificationTime > zombieGraceMs }
      .foreach(s => fs.delete(s.getPath, true))
    // The zombie reap above may have removed the LAST marker (a table
    // whose every publish crashed mid-commit): nothing is committed,
    // so there is nothing to retain-sweep — surviving `v=` dirs are
    // live claims the sweep must not touch (r13, surfaced by the
    // reap-seam spec).
    if (!fs.exists(md) || fs.listStatus(md).isEmpty) return Nil
    val current = currentVersion(fs, root)
    // Keep the `keepLast` NEWEST below current (by version number, not
    // arithmetic — committed numbers need not be contiguous).
    val old = listVersions(fs, root).filter(_ < current).sorted
      .dropRight(keepLast)
    old.foreach { v =>
      fs.delete(new Path(root, s"v=$v"), true)
      fs.delete(new Path(root, s"$MarkerDir/$v"), false)
    }
    old
  }
}
