package graft

import org.apache.hadoop.fs.Path
import graft.sinks.{Publish, Sinks}

/** The randomized concurrency harness VERDICT r12 #2 asked for: all
  * four actor kinds of the publish protocol running CONCURRENTLY —
  * publishers (whose zero-fence-age retries are also the fencers),
  * a vacuum loop, and readers — against one table, with invariants
  * checked continuously, not just at the end:
  *
  *  - '''Exactness''': the final state is the exact fold of every
  *    distinct batch, despite replays injected mid-run.
  *  - '''Linearizability of reads''': each delta is a distinct power
  *    of two, so a served sum DECODES to the set of applied batches;
  *    every reader asserts its observed set never loses an element
  *    across observations (versions only accumulate state — a reader
  *    that ever sees a batch disappear has caught a lost update or a
  *    zombie/stale marker being served).
  *  - '''Hygiene''': after quiescence + a final vacuum, the root holds
  *    only the retained committed versions and their markers.
  *
  * The deterministic interleavings live in PublishFenceSpec /
  * PublishProtocolSpec; this suite exists to let the scheduler find
  * the interleavings nobody enumerated. */
class PublishSoakSpec extends SparkSpec {
  import spark.implicits._

  test("randomized soak: publishers × fencers × vacuum × readers — " +
      "reads linearizable, folds exact, root clean") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = s"${tmpDir("pub_soak")}/t"
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Batch i contributes 2^i: the served sum IS the applied set.
    val nPublishers = 4
    val perPublisher = 4
    val allIds = (1 to nPublishers * perPublisher).map(_.toLong)
    assert(Sinks.mergeAggPublish(spark, Seq(("k", 1L)).toDF("k", "n"),
      t, Seq("k"), Seq("n"), batchId = Some(0L)) == 1)
    @volatile var publishing = true
    // Global commit counter feeding the livelock tripwire below.
    val committed = new java.util.concurrent.atomic.AtomicLong(0L)
    def publish(id: Long): Unit = {
      var futile = 0
      var lastSeen = committed.get()
      var done = false
      while (!done) {
        // Livelock tripwire, PROGRESS-AWARE (r17, VERDICT r16 #4 — the
        // r13/r16 flake mechanism): with fence age 0 a CPU-starved
        // publisher is legitimately fenced once per stall, so a raw
        // attempt cap trips under external box load (observed 30+ under
        // a concurrent Verify+Bench; the r16 full-suite flake was this
        // cap). A real livelock means NOBODY commits while retries
        // spin — so the counter now resets whenever any publisher
        // committed since the last attempt, and trips only on 100
        // consecutive attempts with zero global progress. Starvation
        // slows the soak; it no longer fails it.
        val nowSeen = committed.get()
        if (nowSeen != lastSeen) { futile = 0; lastSeen = nowSeen }
        futile += 1
        assert(futile <= 100,
          s"publisher of batch $id fenced $futile times with no global " +
            "commit in between — livelock")
        try {
          Sinks.mergeAggPublish(spark,
            Seq(("k", 1L << id)).toDF("k", "n"), t, Seq("k"), Seq("n"),
            batchId = Some(id), orphanFenceMs = 0L)
          committed.incrementAndGet()
          done = true
        }
        catch { case e: IllegalStateException
          if e.getMessage.contains("publish fenced") => () }
      }
    }
    val rnd = new java.util.Random(13L)
    val publisherFs = (0 until nPublishers).map { p =>
      Future {
        val mine = allIds.filter(i => (i - 1) % nPublishers == p)
        mine.foreach { id =>
          publish(id)
          // Replay injection: re-publish an already-committed id (mine
          // or a competitor's that may still be in flight — either way
          // the ledger must keep the fold exact).
          if (rnd.nextBoolean())
            publish(allIds(rnd.nextInt(allIds.length)) min id)
        }
      }
    }
    // Stalled claims that never commit: the material the fencers feed
    // on, injected while publishers run.
    val stallerF = Future {
      (1 to 3).foreach { _ =>
        Publish.stageAndClaim(Seq(("k", 1L)).toDF("k", "n"), t)
        Thread.sleep(150L)
      }
    }
    val vacuumF = Future {
      var n = 0
      while (publishing) {
        n += 1
        Publish.vacuumVersions(spark, t, keepLast = 3,
          zombieGraceMs = 1000L)
        Thread.sleep(100L)
      }
      n
    }
    def decode(sum: Long): Set[Long] =
      (0 to 63).filter(b => (sum & (1L << b)) != 0).map(_.toLong).toSet
    val readerFs = (1 to 2).map { _ =>
      Future {
        var seen = Set.empty[Long]
        var reads = 0
        while (publishing) {
          try {
            val sum = Sinks.readLatest(spark, t).collect()
              .map(_.getLong(1)).sum
            val applied = decode(sum)
            assert((seen -- applied).isEmpty,
              s"read went backwards: previously saw batches $seen, " +
                s"now $applied — a lost update or stale marker served")
            seen = applied
            reads += 1
          } catch {
            // A fence-restore transit or vacuum of a just-superseded
            // version can move files mid-scan — the documented
            // transient; the NEXT read must still be monotone.
            case e: Throwable if Publish.missingFileRooted(e) => ()
          }
          Thread.sleep(30L)
        }
        reads
      }
    }
    try {
      Await.result(Future.sequence(publisherFs), 600.seconds)
      Await.result(stallerF, 60.seconds)
    } finally {
      // Stop and drain the readers and the vacuum even when a publisher
      // failed, so none of their reads leak into the next suite.
      publishing = false
      Await.ready(Future.sequence(readerFs :+ vacuumF), 60.seconds)
    }
    val reads = Await.result(Future.sequence(readerFs), 60.seconds)
    Await.result(vacuumF, 60.seconds)
    assert(reads.sum > 0, "readers never completed a single read")
    // Exactness: every batch applied exactly once.
    val finalSum = Sinks.readLatest(spark, t).collect()
      .map(_.getLong(1)).sum
    assert(decode(finalSum) == (allIds.toSet + 0L),
      s"final state wrong: applied=${decode(finalSum)}")
    // Replays against the final state are no-ops.
    allIds.foreach { id =>
      Sinks.mergeAggPublish(spark, Seq(("k", 1L << id)).toDF("k", "n"),
        t, Seq("k"), Seq("n"), batchId = Some(id), orphanFenceMs = 0L)
    }
    assert(Sinks.readLatest(spark, t).collect()
      .map(_.getLong(1)).sum == finalSum, "a replay re-applied post-soak")
    // Hygiene after quiescence: stalled claims aged past the grace are
    // fenced/reaped by one more vacuum round; only retained versions
    // and markers remain.
    Thread.sleep(1100L)
    Publish.vacuumVersions(spark, t, keepLast = 0, zombieGraceMs = 1000L)
    // Aged stage/retract/orphan debris needs the zombie grace to pass
    // its mtime gate — the line above reaps tombstones and old
    // versions; fence any surviving unmarked claim dirs directly.
    val fc = org.apache.hadoop.fs.FileContext
      .getFileContext(root.toUri, spark.sparkContext.hadoopConfiguration)
    graft.sinks.Publish.listVersions(fs, root)
      .filterNot(v => fs.exists(new Path(root, s"_latest/$v")))
      .foreach(g => Publish.fenceOrphan(fs, fc, root, g, 0L))
    Publish.vacuumVersions(spark, t, keepLast = 0, zombieGraceMs = 1000L)
    val kids = fs.listStatus(root).map(_.getPath.getName).toSet
    val markers = fs.listStatus(new Path(root, "_latest"))
      .flatMap(_.getPath.getName.toIntOption).toSet
    val stray = kids -- markers.map(v => s"v=$v") - "_latest"
    assert(stray.forall(_.startsWith(".stage-")),
      s"soak left non-stage debris: $stray")
  }
}
