package graft

import org.apache.spark.sql.functions._
import graft.sources.{Generator, Ingest}
import graft.sinks.Sinks

/** Ingest readers (S1-S5), generator determinism (S9), append/archive
  * idempotency contract (K1/K5), filename routing (F7). */
class IngestSinksSpec extends SparkSpec {
  import spark.implicits._

  test("S9: generator is deterministic and partitioning-independent") {
    val a = Generator.campaigns(spark, 500).collect().toSet
    val b = Generator.campaigns(spark, 500).repartition(7).collect().toSet
    assert(a == b && a.size == 500)
    // value domains: 8-digit ids, 2-dp money in [10, 1000), 3 h lookback
    val parsed = Generator.campaigns(spark, 500)
      .select($"campaign_id".cast("long").as("id"),
        $"cost".cast("double").as("cost"),
        to_timestamp($"date_time", "yyyy-MM-dd HH:mm:ss").as("ts"))
    assert(parsed.where($"id" < 10000000L || $"id" > 99999999L).count() == 0)
    assert(parsed.where($"cost" < 10.0 || $"cost" >= 1000.0).count() == 0)
    assert(parsed.where($"ts".isNull).count() == 0)
  }

  test("S1/S5: CSV-with-header and headerless TSV round-trip identically") {
    val gen = Generator.campaigns(spark, 200)
    val dir = tmpDir("ingest")
    gen.write.option("header", "true").csv(s"$dir/csv")
    gen.select(concat_ws("\t", $"campaign_id", $"cost", $"country",
      $"date_time").as("line")).write.text(s"$dir/tsv")
    val fromCsv = Ingest.readCsv(spark, s"$dir/csv/*.csv",
      Ingest.campaignsSchema)
    val fromTsv = Ingest.readTsv(spark, s"$dir/tsv/*.txt",
      Ingest.campaignsSchema)
    assert(fromCsv.collect().toSet == gen.collect().toSet)
    assert(fromTsv.collect().toSet == gen.collect().toSet)
    assert(fromCsv.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("K1/K5: append is at-least-once; archival move makes it exactly-once") {
    val dir = tmpDir("sink")
    val gen = Generator.campaigns(spark, 100)
    Sinks.writeCsvObjects(gen, s"$dir/ingested")
    val layer = s"$dir/raw_layer/r_campaigns"

    def ingestOnce(): Unit =
      if (Ingest.filesExist(spark, s"$dir/ingested/*.csv")) {
        val raw = Ingest.readCsv(spark, s"$dir/ingested/*.csv",
          Ingest.campaignsSchema)
        Sinks.appendLayer(raw, layer)
      }

    // Without archive: re-running the load duplicates rows (reference
    // behavior when the mv step is skipped).
    ingestOnce(); ingestOnce()
    assert(spark.read.parquet(layer).count() == 200)

    // With archive: files leave the ingest glob, re-run is a no-op.
    val moved = Sinks.archive(spark, s"$dir/ingested/*.csv", s"$dir/loaded")
    assert(moved > 0)
    ingestOnce()
    assert(spark.read.parquet(layer).count() == 200)
    assert(!Ingest.filesExist(spark, s"$dir/ingested/*.csv"))
  }

  test("create is retry-idempotent over commit debris, still protects data") {
    val dir = tmpDir("ctas")
    val df = Seq((1, "x"), (2, "y")).toDF("id", "v")
    // Simulate a failed first attempt: target exists holding only
    // commit-protocol debris (_temporary scratch), no committed files.
    val target = new java.io.File(s"$dir/t.parquet")
    val scratch = new java.io.File(target, "_temporary/0/task_000")
    assert(scratch.mkdirs())
    java.nio.file.Files.write(new java.io.File(scratch, "part-0").toPath,
      "partial".getBytes)
    Sinks.createTableAs(df, target.toString) // retry: must succeed
    assert(Tables.read(spark, dir, "t").count() == 2)
    // A target holding COMMITTED data still fails — that's the contract.
    intercept[Exception] { Sinks.createTableAs(df, target.toString) }
    assert(Tables.read(spark, dir, "t").count() == 2) // untouched
  }

  test("parquet layer round-trips through appendLayer and Tables.read") {
    val dir = tmpDir("layer")
    val df = Seq((1, "x"), (2, "y")).toDF("id", "v")
    Sinks.appendLayer(df, s"$dir/t.parquet")
    val back = Tables.read(spark, dir, "t")
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("F7: filename routing parses table/ext/dag from landed paths") {
    val (t, e, dag) = Ingest.routeFilename($"path")
    val r = Seq("results/campaigns_20230706_ad17.csv",
      "ingested/txt/trx_20230706_ffff.TXT")
      .toDF("path").select(t.as("t"), e.as("e"), dag.as("d")).collect()
    assert(r(0).getString(0) == "campaigns" && r(0).getString(1) == "csv"
      && r(0).getString(2) == "load_campaigns_csv")
    assert(r(1).getString(0) == "trx" && r(1).getString(1) == "txt"
      && r(1).getString(2) == "load_trx_txt")
  }

  test("F8: a minted object name has the landed form and routes back via F7") {
    val name = Sinks.mintObjectName("campaigns", "csv",
      java.time.LocalDate.of(2023, 7, 6))
    assert(name.matches("campaigns_20230706_[0-9a-f]{4}\\.csv"), name)
    val (t, e, dag) = Ingest.routeFilename($"path")
    val r = Seq(s"ingested/csv/$name").toDF("path")
      .select(t, e, dag).head()
    assert((r.getString(0), r.getString(1), r.getString(2)) ==
      ("campaigns", "csv", "load_campaigns_csv"))
  }

  test("compact rewrites a many-file layer into size-targeted files") {
    val dir = tmpDir("compact")
    // Accrete a fragmented layer: 10 tiny appends = many small files.
    (0 until 10).foreach { _ =>
      Sinks.appendLayer(Generator.campaigns(spark, 100), s"$dir/frag")
    }
    val fragFiles = new java.io.File(s"$dir/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles >= 10)
    val n = Sinks.compact(spark, s"$dir/frag", s"$dir/compacted",
      targetBytes = 1L << 20)
    val outFiles = new java.io.File(s"$dir/compacted").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == n && outFiles < fragFiles)
    // Lossless rewrite.
    assert(spark.read.parquet(s"$dir/compacted").collect().toSet
      == spark.read.parquet(s"$dir/frag").collect().toSet)
  }

  test("publishCompacted: reader-atomic small-file compaction of a " +
      "versioned table — content identical, files consolidated, " +
      "readers never error across the flip (r15, VERDICT r14 #5)") {
    val dir = tmpDir("pubcompact")
    val t = s"$dir/t"
    // A fragmented versioned table: 8 tiny keyed merges = 8 versions,
    // the last one carrying many small files.
    (0 until 8).foreach { i =>
      Sinks.mergePublish(spark,
        Generator.campaigns(spark, 50).withColumn("slice",
          org.apache.spark.sql.functions.lit(i)),
        t, Seq("campaign_id", "slice"))
    }
    val v = graft.sinks.Publish.currentVersion(
      new org.apache.hadoop.fs.Path(t).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(t))
    val want = Sinks.readLatest(spark, t).collect().toSet
    def filesOf(ver: Int) = new java.io.File(s"$t/v=$ver").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesOf(v) > 1, "fixture not fragmented enough to measure")
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val got = Sinks.readLatest(spark, t).collect().toSet
          if (got != want) failures.add(s"reader saw drifted content")
        } catch {
          case e: Throwable =>
            failures.add(s"reader: ${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(200)}")
        }
      }
    })
    reader.start()
    val v2 = try Sinks.publishCompacted(spark, t, targetBytes = 1L << 30)
    finally { stop = true; reader.join(30000) }
    assert(v2 == v + 1)
    assert(filesOf(v2) == 1, "one fat target should compact to one file")
    assert(Sinks.readLatest(spark, t).collect().toSet == want,
      "compaction changed content")
    val real = failures.toArray.map(_.toString)
    assert(real.isEmpty, real.mkString("\n"))
    // Flat directories refuse loudly (compact() + caller swap is the
    // flat form).
    val e = intercept[IllegalArgumentException] {
      Sinks.publishCompacted(spark, s"$dir/notversioned")
    }
    assert(e.getMessage.contains("no servable version"))
  }

  test("overwritePartitions replaces only the partitions present") {
    val dir = tmpDir("dynpart")
    val day1 = Seq(("2023-07-06", 1L), ("2023-07-06", 2L), ("2023-07-07", 3L))
      .toDF("date", "id")
    Sinks.overwritePartitions(day1, s"$dir/t", Seq("date"))
    // Reload day 07 with corrected rows; day 06 must survive untouched.
    val fix = Seq(("2023-07-07", 30L), ("2023-07-07", 31L)).toDF("date", "id")
    Sinks.overwritePartitions(fix, s"$dir/t", Seq("date"))
    val got = spark.read.parquet(s"$dir/t")
      .select($"date".cast("string"), $"id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("2023-07-06", 1L), ("2023-07-06", 2L),
      ("2023-07-07", 30L), ("2023-07-07", 31L)))
  }

  test("upsert replaces keyed rows, keeps the rest, survives re-runs") {
    val dir = tmpDir("upsert")
    val layer = s"$dir/layer"
    Sinks.upsert(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), layer, Seq("id"))
    // Overlapping batch: id 2 corrected, id 4 new.
    val batch = Seq((2L, "B"), (4L, "d")).toDF("id", "v")
    Sinks.upsert(spark, batch, layer, Seq("id"))
    def state = spark.read.parquet(layer).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // Idempotent: replaying the same batch converges.
    Sinks.upsert(spark, batch, layer, Seq("id"))
    assert(state == Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // No tmp/old residue left behind.
    assert(!new java.io.File(s"$layer.upsert_tmp").exists)
    assert(!new java.io.File(s"$layer.upsert_old").exists)
  }

  test("upsert recovers a layer stranded at .upsert_old by a crash") {
    val dir = tmpDir("upsertcrash")
    val layer = s"$dir/layer"
    Sinks.upsert(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      layer, Seq("id"))
    // Simulate a crash between the two swap renames: the layer path is
    // gone, the full data sits at .upsert_old.
    assert(new java.io.File(layer)
      .renameTo(new java.io.File(s"$layer.upsert_old")))
    Sinks.upsert(spark, Seq((3L, "c")).toDF("id", "v"), layer, Seq("id"))
    val state = spark.read.parquet(layer).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // Pre-crash rows were restored before merging — not silently lost.
    assert(state == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!new java.io.File(s"$layer.upsert_old").exists)
  }

  test("upsert with in-batch duplicate keys: latestBy picks the winner, else fail fast") {
    val dir = tmpDir("upsertdup")
    val layer = s"$dir/layer"
    // CDC batch carrying insert + update for the same key.
    val cdc = Seq((2L, "b", 1L), (2L, "B", 2L), (3L, "c", 1L))
      .toDF("id", "v", "seq")
    Sinks.upsert(spark, cdc, layer, Seq("id"), latestBy = Seq("seq"))
    val state = spark.read.parquet(layer).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((2L, "B"), (3L, "c"))) // greatest seq wins
    // Without an ordering, conflicting keys must not land silently.
    val err = intercept[IllegalArgumentException] {
      Sinks.upsert(spark, cdc, layer, Seq("id"))
    }
    assert(err.getMessage.contains("duplicate keys"))
  }

  test("permissive CSV capture: crooked rows land in _corrupt_record, never abort") {
    val dir = tmpDir("permissive")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/landed.csv"),
      ("campaign_id,cost,country,date_time\n" +
        "10000001,12.50,Peru,2023-07-06 08:00:00\n" +
        "10000002,9.99,Chile,2023-07-06 09:00:00,EXTRA,COLUMNS\n" +
        "10000003,5.00,Peru,2023-07-06 10:00:00\n").getBytes("UTF-8"))
    val raw = Ingest.readCsvPermissive(spark, s"$dir/landed.csv",
      Ingest.campaignsSchema).cache()
    try {
      assert(raw.count() == 3) // nothing dropped, nothing aborted
      val corrupt = raw.where($"_corrupt_record".isNotNull)
      assert(corrupt.count() == 1)
      assert(corrupt.head().getAs[String]("_corrupt_record")
        .contains("EXTRA"))
      assert(raw.where($"_corrupt_record".isNull).count() == 2)
    } finally raw.unpersist()
  }

  test("CSV round-trip survives delimiters, quotes and newlines in values") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Adversarial strings: embedded commas, double quotes, newlines,
    // tabs, leading/trailing spaces — everything CSV quoting must guard.
    val nasty = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf(",", "\"", "\n", "\t", " x ", "a,b", "say \"hi\"",
        "line1\nline2", "")))
      .map(_.take(30))
    val values = nasty.pureApply(Gen.Parameters.default, Seed(7L))
    val df = values.zipWithIndex
      .map { case (v, i) => (i.toString, v) }
      .toDF("id", "payload")
    val dir = tmpDir("csvquote")
    // Spark's CSV WRITER trims leading/trailing whitespace by default
    // (ignore*WhiteSpace default true on write, false on read) — a
    // lossless round-trip must disable it.
    df.write.option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(s"$dir/out")
    val back = spark.read
      .schema("id STRING, payload STRING")
      .option("header", "true")
      .option("multiLine", "true") // quoted newlines span lines
      .csv(s"$dir/out/*.csv")
    val orig = df.collect().map(r => (r.getString(0),
      Option(r.getString(1)).getOrElse(""))).toSet
    val got = back.collect().map(r => (r.getString(0),
      Option(r.getString(1)).getOrElse(""))).toSet
    assert(got == orig)
  }

  test("versioned publish: readers follow LATEST, crashes stay invisible, vacuum keeps current") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_pub")
    val v1 = spark.range(10).select(col("id"))
    val v2 = spark.range(20).select(col("id"))
    assert(Sinks.publishVersioned(v1, s"$dir/t") == 1)
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 10)
    assert(Sinks.publishVersioned(v2, s"$dir/t") == 2)
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 20)
    // Crashed publish: a v=3 directory exists but the pointer was never
    // flipped — readers keep resolving v=2, and the next publish moves
    // PAST the stranded number instead of colliding with it.
    spark.range(5).write.parquet(s"$dir/t/v=3")
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 20)
    assert(Sinks.publishVersioned(v1, s"$dir/t") == 4)
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 10)
    // Vacuum drops everything below current (incl. the stranded v=3),
    // never the pointed-to version itself.
    assert(Sinks.vacuumVersions(spark, s"$dir/t") == Seq(1, 2, 3))
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 10)
    assert(!new java.io.File(s"$dir/t/v=1").exists())
  }

  test("mergePublish: keyed MERGE-then-publish; crash between data and " +
    "marker keeps readers on the old version; replay converges") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("mergepub")
    val t = s"$dir/t"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "s", "x")
    assert(Sinks.mergePublish(spark, base, t, Seq("id")) == 1)
    // MERGE: update id=2, insert id=4 — matched keys replaced,
    // unmatched inserted, untouched keys carried.
    val inc = Seq((2L, "B", 21.0), (4L, "d", 40.0)).toDF("id", "s", "x")
    assert(Sinks.mergePublish(spark, inc, t, Seq("id")) == 2)
    def latestSet = Sinks.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val afterMerge = Set((1L, "a", 10.0), (2L, "B", 21.0),
      (3L, "c", 30.0), (4L, "d", 40.0))
    assert(latestSet == afterMerge)
    // The composition pays off: the change set is one diffVersions call
    // and the pre-merge table is still readable (time travel).
    val diff = Sinks.diffVersions(spark, t, 1, 2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (4L, "added")))
    assert(Sinks.readVersion(spark, t, 1).count() == 3)
    // CRASH between the v=3 data rename and the marker create: the data
    // directory exists, the marker does not. Readers must still resolve
    // v=2 — the monotone-marker invariant.
    val crashInc = Seq((1L, "A", 11.0)).toDF("id", "s", "x")
    Sinks.readLatest(spark, t)
      .join(crashInc.select(col("id")), Seq("id"), "left_anti")
      .unionByName(crashInc)
      .write.parquet(s"$t/v=3")
    assert(latestSet == afterMerge, "crashed publish became visible")
    // REPLAY the merge (past the fence age — orphanFenceMs=0 models
    // it): the aged orphan is fenced away, the retry claims ITS number
    // adjacent to the still-current v=2, and converges — the merge is a
    // pure function of (current, incoming).
    assert(Sinks.mergePublish(spark, crashInc, t, Seq("id"),
      orphanFenceMs = 0L) == 3)
    val afterReplay = Set((1L, "A", 11.0), (2L, "B", 21.0),
      (3L, "c", 30.0), (4L, "d", 40.0))
    assert(latestSet == afterReplay)
    // In-batch conflicts: latestBy picks the greatest, deterministic.
    val multi = Seq((5L, "old", 1.0), (5L, "new", 2.0)).toDF("id", "s", "x")
    assert(Sinks.mergePublish(spark, multi, t, Seq("id"),
      latestBy = Seq("x")) == 4)
    assert(latestSet.contains((5L, "new", 2.0)))
    // ...and without latestBy a conflicting batch fails fast.
    intercept[IllegalArgumentException] {
      Sinks.mergePublish(spark, multi, t, Seq("id"))
    }
  }

  test("mergeAggPublish: deltas == rebuild; raw and partial deltas agree") {
    val rows = Seq(
      ("a", 1L, 10L), ("a", 1L, 5L), ("b", 1L, 7L),
      ("a", 1L, 3L), ("b", 1L, 2L), ("c", 1L, 1L))
      .toDF("k", "ones", "qty")
    // Standing table absorbs three deltas of two rows each.
    val inc = tmpDir("agg_inc")
    rows.collect().grouped(2).zipWithIndex.foreach { case (slice, _) =>
      val delta = spark.createDataFrame(
        spark.sparkContext.parallelize(slice.toSeq), rows.schema)
      Sinks.mergeAggPublish(spark, delta, s"$inc/t", Seq("k"),
        Seq("ones", "qty"))
    }
    val got = Sinks.readLatest(spark, s"$inc/t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(("a", 3L, 18L), ("b", 2L, 9L), ("c", 1L, 1L))
    assert(got == want, s"incremental drifted from the rebuild: $got")
    // A PRE-AGGREGATED delta (partials) lands identically to raw rows.
    val pre = tmpDir("agg_pre")
    Sinks.mergeAggPublish(spark, rows.where($"k" =!= "c"), s"$pre/t",
      Seq("k"), Seq("ones", "qty"))
    Sinks.mergeAggPublish(spark,
      rows.where($"k" === "c").groupBy($"k")
        .agg(sum($"ones").as("ones"), sum($"qty").as("qty")),
      s"$pre/t", Seq("k"), Seq("ones", "qty"))
    val viaPartial = Sinks.readLatest(spark, s"$pre/t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaPartial == want)
  }

  test("mergePublish OCC: a publisher racing past our read is never lost") {
    // Deterministic interleaving through the beforeClaim seam: B reads
    // its merge base (v1), then A's whole merge commits INSIDE B's race
    // window. B's claim lands non-adjacent, is retracted unseen, and
    // the retry re-merges from A's result — both batches survive. The
    // naive read-merge-publish would have B silently discard A's row.
    val dir = tmpDir("mergeocc")
    val t = s"$dir/t"
    assert(Sinks.mergePublish(spark,
      Seq((1L, "a", 1.0)).toDF("id", "s", "x"), t, Seq("id")) == 1)
    val aBatch = Seq((2L, "from_a", 2.0)).toDF("id", "s", "x")
    val bBatch = Seq((3L, "from_b", 3.0)).toDF("id", "s", "x")
    var interfered = false
    val v = Sinks.mergePublish(spark, bBatch, t, Seq("id"),
      beforeClaim = () => if (!interfered) {
        interfered = true
        assert(Sinks.mergePublish(spark, aBatch, t, Seq("id")) == 2)
      })
    assert(v == 3, s"B should commit at v=3 after one retry, got $v")
    val rows = Sinks.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "from_a"), (3L, "from_b")),
      s"lost update: $rows")
    // And no stray unmarked version dirs left behind (the retracted
    // claim was cleaned up).
    val vdirs = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(vdirs == Set("v=1", "v=2", "v=3"), s"stray claims: $vdirs")
  }

  test("mergeAggPublish OCC: concurrent deltas all land, sums exact") {
    val dir = tmpDir("aggthr")
    val t = s"$dir/t"
    assert(Sinks.mergeAggPublish(spark,
      Seq(("k", 1L)).toDF("k", "n"), t, Seq("k"), Seq("n")) == 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Four concurrent publishers all incrementing the SAME key — the
    // lost-update shape the claim-adjacency loop exists to prevent:
    // any lost delta shows up as a wrong exact sum. Fence age pinned
    // far above any suite-load stall: this test is about lost updates
    // under contention, NOT fencing (PublishFenceSpec's soak covers
    // that) — at the 60 s default a GC/scheduler stall under full-suite
    // parallelism could fence a live publisher and fail its commit.
    val fs = (1 to 4).map { i =>
      Future {
        Sinks.mergeAggPublish(spark,
          Seq(("k", i.toLong)).toDF("k", "n"), t, Seq("k"), Seq("n"),
          orphanFenceMs = 600000L)
      }
    }
    Await.result(Future.sequence(fs), 300.seconds)
    val got = Sinks.readLatest(spark, t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("k" -> 11L),
      s"a concurrent aggregate delta was lost: $got")
  }

  test("mergePublish OCC: concurrent threads, disjoint keys, both survive") {
    val dir = tmpDir("mergethr")
    val t = s"$dir/t"
    assert(Sinks.mergePublish(spark,
      Seq((0L, "seed", 0.0)).toDF("id", "s", "x"), t, Seq("id")) == 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Same fence-age pin as the aggregate test above: contention only.
    val fs = (1 to 4).map { i =>
      Future {
        Sinks.mergePublish(spark,
          Seq((i.toLong, s"w$i", i.toDouble)).toDF("id", "s", "x"),
          t, Seq("id"), orphanFenceMs = 600000L)
      }
    }
    Await.result(Future.sequence(fs), 300.seconds)
    val ids = Sinks.readLatest(spark, t).collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 3L, 4L),
      s"a concurrent merge was lost: $ids")
  }

  test("diffVersions classifies added / removed / changed keys only") {
    val dir = tmpDir("vdiff")
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
    // v2: id 2 changed (score), id 3 removed, id 4 added, id 1 untouched.
    val v2 = Seq((1L, "a", 10.0), (2L, "b", 25.0), (4L, "d", 40.0))
      .toDF("id", "name", "score")
    assert(Sinks.publishVersioned(v1, s"$dir/t") == 1)
    assert(Sinks.publishVersioned(v2, s"$dir/t") == 2)
    val diff = Sinks.diffVersions(spark, s"$dir/t", 1, 2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (3L, "removed"), (4L, "added")),
      s"got $diff")
    // Same version diffed against itself is empty (no unchanged noise).
    assert(Sinks.diffVersions(spark, s"$dir/t", 2, 2, Seq("id")).isEmpty)
    // ADVICE r6: a data column named like an internal diff column must
    // fail fast, not classify ambiguously-or-wrong.
    val clash = Seq((1L, "x")).toDF("id", "change")
    Sinks.publishVersioned(clash, s"$dir/c")
    Sinks.publishVersioned(clash, s"$dir/c")
    val e = intercept[IllegalArgumentException] {
      Sinks.diffVersions(spark, s"$dir/c", 1, 2, Seq("id")).collect()
    }
    assert(e.getMessage.contains("change"))
  }

  test("versioned publish: marker pointer is monotonic; rollback is marker-only") {
    // ADVICE r6 (hardened r7): the pointer is MAX over per-version
    // marker files — creations commute, so a race loser's marker can
    // never regress readers, under ANY interleaving (the single
    // pointer-file flip it replaces had an unfixable
    // check-then-overwrite window).
    val dir = tmpDir("pub_mono")
    assert(Sinks.publishVersioned(spark.range(10).toDF(), s"$dir/t") == 1)
    // A "faster racer" published v=7 and recorded its marker.
    spark.range(70).write.parquet(s"$dir/t/v=7")
    val m7 = new org.apache.hadoop.fs.Path(s"$dir/t/_latest/7")
    val fs = m7.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(m7, false).close()
    // The regression shape the marker scheme closes: a race loser's
    // pointer record lands LATER but names a LOWER version. With
    // markers that is just a stale file below the max — resolution is
    // order-free, so hand-creating it after the racer's marker cannot
    // move the pointer (the old overwrite-flip scheme regressed here).
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/t/_latest/0"), false)
      .close()
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 70,
      "a stale lower marker must not move the pointer")
    // The next publish claims past every existing directory and the
    // pointer follows it forward.
    assert(Sinks.publishVersioned(spark.range(30).toDF(), s"$dir/t") == 8)
    assert(Sinks.readLatest(spark, s"$dir/t").count() == 30)
    // Rollback = delete newer markers: readers resolve the older
    // version again; data directories survive; republish moves PAST
    // the rolled-back (still-on-disk) version; a vacuumed/absent
    // target fails fast.
    val rb = s"$dir/rb"
    assert(Sinks.publishVersioned(spark.range(40).toDF(), rb) == 1)
    assert(Sinks.publishVersioned(spark.range(50).toDF(), rb) == 2)
    assert(Sinks.readLatest(spark, rb).count() == 50)
    Sinks.rollbackTo(spark, rb, 1)
    assert(Sinks.readLatest(spark, rb).count() == 40)
    assert(Sinks.publishVersioned(spark.range(60).toDF(), rb) == 3)
    assert(Sinks.readLatest(spark, rb).count() == 60)
    val missing = intercept[IllegalArgumentException] {
      Sinks.rollbackTo(spark, rb, 9)
    }
    assert(missing.getMessage.contains("v=9"))
  }

  test("every staged maintained index is batch_id-keyed: no flat " +
      "accreting dir") {
    // Stage through the served rows' own stagers, then look where
    // Staged put each artifact: a one-shot build is the bootstrap
    // batch, so every accreting subdir holds only batch_id= partitions
    // (plus hidden `_`/`.` entries) — never tok=, cell= or part files.
    Seq("q_bm25_served", "q_phrase_search_served", "q_ann_ivf_served",
      "q_source_overlap").foreach(q => SparkEntry.queries(q)(spark, sf0001))
    def staged(kind: String) = Staged.costs((kind, sf0001)).dir
    val accreting = Seq("lex/postings", "lex/doclens", "lex/stats")
      .map(sub => s"${staged("lex")}/$sub") ++ Seq(
      s"${staged("pos")}/pos/pos", s"${staged("ivf")}/ivf/postings",
      s"${staged("pairs")}/pairs")
    accreting.foreach { d =>
      val kids = Option(new java.io.File(d).list()).toSeq.flatten
      assert(kids.exists(_.startsWith("batch_id=")),
        s"$d holds no batch partition")
      val flat = kids.filterNot(n =>
        n.startsWith("batch_id=") || n.startsWith("_") || n.startsWith("."))
      assert(flat.isEmpty, s"$d is a flat accreting dir: ${flat.mkString(", ")}")
    }
  }

  test("versioned publish: concurrent publishers never blend a version") {
    // ADVICE r5: two publishers racing the same table must not
    // interleave files into one v=N. The stage-then-claim rename makes
    // the version number an atomic, single-winner resource; assertions
    // hold under ANY thread interleaving (the point of the test).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir("pub_race")
    val inputs = (1 to 4).map(i => i -> spark.range(i * 10L).toDF())
    val got = Await.result(
      Future.sequence(inputs.map { case (i, df) =>
        Future(Sinks.publishVersioned(df, s"$dir/t") -> i)
      }), 5.minutes)
    // Each publisher claimed a distinct version number…
    assert(got.map(_._1).distinct.length == 4, s"versions: $got")
    // …and each version directory holds exactly ITS publisher's rows
    // (10/20/30/40 distinguish the four inputs).
    got.foreach { case (v, i) =>
      assert(spark.read.parquet(s"$dir/t/v=$v").count() == i * 10L,
        s"v=$v blended or lost rows")
    }
    // The pointer resolves to one complete published version.
    assert(Set(10L, 20L, 30L, 40L)
      .contains(Sinks.readLatest(spark, s"$dir/t").count()))
  }

  test("S6: range-partitioned JDBC read pushes predicates and strides") {
    // A small live Derby table with a known key range.
    val dir = tmpDir("jdbc_push")
    val url = s"jdbc:derby:$dir/pushdb;create=true"
    spark.range(0, 100).selectExpr("id AS k", "CAST(id * 2 AS LONG) AS v")
      .write.option("createTableColumnTypes", "k BIGINT, v BIGINT")
      .jdbc(url, "t", new java.util.Properties())
    val df = Ingest.readJdbcAutoBounds(spark, url, "t", "k", 4)
    // Auto-bounds found the true range and produced the stride layout:
    // 4 partitions whose generated WHERE clauses tile the key space
    // (Spark keeps first/last open-ended so no row can fall outside).
    assert(df.rdd.getNumPartitions == 4)
    val clauses = df.rdd.partitions.map { p =>
      val m = p.getClass.getMethod("whereClause")
      m.setAccessible(true)
      m.invoke(p).asInstanceOf[String]
    }
    assert(clauses.length == 4 && clauses.distinct.length == 4)
    assert(clauses.forall(_.contains("\"k\"")),
      s"stride predicates must range over the partition column: " +
        clauses.mkString(" | "))
    assert(clauses.exists(_.contains("<")) && clauses.exists(_.contains(">=")),
      "strides must tile the key space with half-open ranges")
    assert(df.count() == 100)
    // pushDownPredicate (default true): a filter on the partition column
    // reaches the generated per-partition SQL as a PushedFilters entry —
    // the database prunes, Spark never sees the excluded rows.
    val filtered = df.where(col("k") >= 50)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("GreaterThanOrEqual(k,50)"),
      s"partition-column filter must be pushed to the source:\n$plan")
    assert(filtered.count() == 50)
  }

  test("normalizeTransactions casts strings null-tolerantly") {
    val raw = Seq(
      ("1", "12.50", "Peru", "2023-07-07 08:21:23"),
      ("2", "oops", "Peru", "not a date"))
      .toDF("transaction_id", "income", "country", "date_time")
    val n = Ingest.normalizeTransactions(raw)
    val rows = n.orderBy($"transaction_id").collect()
    assert(rows(0).getDouble(1) == 12.50)
    assert(!rows(0).isNullAt(3))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(3))
  }
}
