package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Generator, Ingest}
import graft.streaming.StreamingIngest
import graft.operators.{Events, Relational}
import graft.sinks.Sinks

/** E2 streaming ingest (file source + AvailableNow + archive) and the E1
  * end-to-end pipeline smoke (SURVEY §5.4). */
class StreamingPipelineSpec extends SparkSpec {

  test("E2: AvailableNow file stream ingests dropped CSVs == batch read") {
    val dir = tmpDir("stream")
    // Drop three CSV "arrival" batches into the watched dir.
    Seq(0L, 1L, 2L).foreach { i =>
      Generator.campaigns(spark, 50).where(pmod(col("campaign_id"), lit(3)) === i)
        .write.option("header", "true").csv(s"$dir/watch/batch_$i")
    }
    val watched = s"$dir/watch/*/"
    StreamingIngest.ingestCsvStream(spark, watched,
      Ingest.campaignsSchema, s"$dir/layer", s"$dir/ckpt")
    // The sink lands each micro-batch in a batch_id=N partition dir
    // (idempotent replay); drop the provenance column for the compare.
    val streamed = spark.read.parquet(s"$dir/layer").drop("batch_id")
    val batch = Ingest.readCsv(spark, s"$dir/watch/*/*.csv",
      Ingest.campaignsSchema)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.collect().toSet == batch.collect().toSet)
    // Restarting the stream with the same checkpoint re-ingests nothing.
    StreamingIngest.ingestCsvStream(spark, watched,
      Ingest.campaignsSchema, s"$dir/layer", s"$dir/ckpt")
    assert(spark.read.parquet(s"$dir/layer").count() == batch.count())
  }

  test("E2: watermarked streaming window agg equals the batch twin") {
    val dir = tmpDir("evstream")
    val events = graft.Tables.events(spark, sf0001)
    events.write.parquet(s"$dir/events")
    val stream = StreamingIngest.hourlyWindowsStream(spark, s"$dir/events",
      events.schema)
    val q = stream.writeStream
      .format("memory").queryName("hourly_mem")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("hourly_mem")
      .select("hour", "event_type", "n_events", "total_value")
    val expect = Events.hourlyWindows(spark, sf0001)
      .select("hour", "event_type", "n_events", "total_value")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("streaming dedup: dropDuplicates across micro-batches is exactly-once") {
    val dir = tmpDir("sdedup")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // The same corpus lands twice (two "arrival" batches of duplicates).
    docs.write.parquet(s"$dir/in/batch_0")
    docs.write.parquet(s"$dir/in/batch_1")
    val q = spark.readStream.schema(docs.schema).parquet(s"$dir/in/*")
      .dropDuplicates("doc_id")
      .writeStream
      .format("memory").queryName("dedup_mem")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("dedup_mem").count() == docs.count())
    assert(spark.table("dedup_mem").select("doc_id").distinct().count()
      == docs.count())
  }

  test("streaming DQ gate quarantines violations per micro-batch") {
    import spark.implicits._
    val dir = tmpDir("dqstream")
    val rows = Seq(
      (0L, "good text", "en", 9L, "src1"),
      (1L, "more good", "de", 9L, "src2"),
      (2L, "xx", "??", 2L, "src3"),         // lang_known violation
      (3L, "abc", "fr", 99L, "src4"))       // n_chars_consistent violation
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    rows.write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema(rows.schema).parquet(s"$dir/in/*")
    StreamingIngest.dqGateStream(stream,
      graft.operators.Curation.documentRules,
      s"$dir/layer", s"$dir/quarantine", s"$dir/ckpt")
    val good = spark.read.parquet(s"$dir/layer")
      .select("doc_id").as[Long].collect().toSet
    val bad = spark.read.parquet(s"$dir/quarantine")
      .select("doc_id").as[Long].collect().toSet
    assert(good == Set(0L, 1L) && bad == Set(2L, 3L))
  }

  test("streaming pos-index maintenance serves phrases over all batches") {
    val dir = tmpDir("posstream")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.where(col("doc_id") % 2 === 0).write.parquet(s"$dir/in/b0")
    docs.where(col("doc_id") % 2 === 1).write.parquet(s"$dir/in/b1")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in/*")
    StreamingIngest.posIndexMaintenanceStream(stream, s"$dir/idx",
      s"$dir/ckpt")
    val served = graft.operators.Retrieval
      .phraseSearchServed(spark, s"$dir/idx")
    val inline = graft.operators.Retrieval.phraseSearch(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty,
      "stream-maintained phrase index drifted from the batch build")
  }

  test("self-triggering compaction keeps a long-lived lex stream " +
      "bounded while stream == batch identity holds through " +
      "in-flight folds") {
    val dir = tmpDir("lexselfcompact")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    (0 until 6).foreach(i =>
      docs.where(pmod(col("doc_id"), lit(6)) === i)
        .coalesce(1).write.parquet(s"$dir/in/b$i"))
    // One file per trigger → six micro-batches through one stream;
    // compactEvery=3 folds after batches {0,1,2} and again at {fold,3,4}
    // — two full generation flips with live accretion in between.
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in/*")
    StreamingIngest.lexIndexMaintenanceStream(stream, s"$dir/idx",
      s"$dir/ckpt", compactEvery = 3)
    val cur = graft.operators.Compaction.resolveRoot(spark, s"$dir/idx")
    assert(cur != s"$dir/idx", "no fold ever fired")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val nParts = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$cur/postings")).toSeq
      .count(_.getPath.getName.startsWith("batch_id="))
    assert(nParts <= 3,
      s"accreted partitions unbounded under self-compaction: $nParts")
    // Identity through the in-flight folds: serves equal the inline
    // corpus computation exactly.
    val served = graft.operators.Retrieval.bm25TopKServed(spark, s"$dir/idx")
    val inline = graft.operators.Retrieval.bm25TopK(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty,
      "self-compacting stream-maintained index drifted from the " +
        "inline corpus BM25")
  }

  test("streaming CDC through the versioned publish: stream == batch " +
      "merge, micro-batch replay is a ledger no-op, history composes") {
    import spark.implicits._
    val dir = tmpDir("mergestream")
    val t = s"$dir/t"
    // Trigger 1: the insert slice.
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "s", "seq")
    b0.coalesce(1).write.parquet(s"$dir/in/b0")
    def run(): Unit = StreamingIngest.mergePublishStream(
      spark.readStream.schema(b0.schema).parquet(s"$dir/in/*"),
      t, Seq("id"), s"$dir/ckpt", latestBy = Seq("seq"))
    run()
    def latest = Sinks.readLatest(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest == Set((1L, "a"), (2L, "b")))
    // Trigger 2 (same checkpoint — the stream RE-ATTACHES): an update
    // for id=2 delivered twice in one batch (CDC coalescing; latestBy
    // picks seq=3) plus an insert.
    Seq((2L, "B_stale", 2L), (2L, "B", 3L), (3L, "c", 2L))
      .toDF("id", "s", "seq").coalesce(1).write.parquet(s"$dir/in/b1")
    run()
    assert(latest == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // The versioned layout composes: the pre-update state is still
    // readable and the change set is one diff.
    assert(Sinks.readVersion(spark, t, 1).count() == 2)
    val diff = Sinks.diffVersions(spark, t, 1, 2, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (3L, "added")))
    // Crash-replay of micro-batch 0 (exactly what a re-run foreachBatch
    // does after a checkpoint-window failure): the applied-batch ledger
    // detects it — no new version, no content change.
    assert(Sinks.mergePublish(spark, b0, t, Seq("id"),
      latestBy = Seq("seq"), batchId = Some(0L)) == 2)
    assert(latest == Set((1L, "a"), (2L, "B"), (3L, "c")),
      "replayed micro-batch mutated the stream-maintained table")
  }

  test("streaming rollup maintenance: stream == rebuild exactly, " +
      "micro-batch replay cannot double-count") {
    import spark.implicits._
    val dir = tmpDir("aggstream")
    val t = s"$dir/t"
    val rows = Seq(
      ("a", 1L, 10L), ("a", 1L, 5L), ("b", 1L, 7L),
      ("a", 1L, 3L), ("b", 1L, 2L), ("c", 1L, 1L))
      .toDF("k", "ones", "qty")
    // Two triggers (checkpointed re-attach between them — the standing
    // stream lifecycle), slices overlapping on keys.
    val s0 = rows.where($"qty" >= 5L)
    val s1 = rows.where($"qty" < 5L)
    s0.coalesce(1).write.parquet(s"$dir/in/b0")
    def run(): Unit = StreamingIngest.mergeAggPublishStream(
      spark.readStream.schema(rows.schema).parquet(s"$dir/in/*"),
      t, Seq("k"), Seq("ones", "qty"), s"$dir/ckpt")
    run()
    s1.coalesce(1).write.parquet(s"$dir/in/b1")
    run()
    def got = Sinks.readLatest(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(("a", 3L, 18L), ("b", 2L, 9L), ("c", 1L, 1L))
    assert(got == want, s"stream-maintained rollup drifted: $got")
    // Crash-replay of micro-batch 0: additive merge would DOUBLE-COUNT
    // — the ledger makes it a detected no-op instead (this is the
    // correctness condition, not an optimization: content idempotence
    // cannot save an additive merge).
    assert(Sinks.mergeAggPublish(spark, s0, t, Seq("k"),
      Seq("ones", "qty"), batchId = Some(0L)) == 2)
    assert(got == want, s"replayed micro-batch double-counted: $got")
    // The rollup history composes: version 1 is the first slice alone.
    assert(Sinks.readVersion(spark, t, 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("a", 2L, 15L), ("b", 1L, 7L)))
  }

  test("orchestrated takedown stream: a crash between legs mid-batch " +
      "replays to a complete manifest and an all-zero certificate " +
      "(r15, VERDICT r14 next #6)") {
    import graft.operators.{ContentIndex, Retrieval, Takedown}
    val dir = tmpDir("tdallstream")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val ids = docs.where(col("doc_id") % 5 === 2).select(col("doc_id"))
    require(Sinks.mergePublish(spark, docs, s"$dir/corpus",
      Seq("doc_id")) == 1)
    Retrieval.buildLexIndexBatch(spark, docs, s"$dir/lex", 0L)
    ContentIndex.buildBatch(spark, docs, s"$dir/content", 0L)
    val targets = Takedown.TakedownTargets(
      corpusTableDir = Some(s"$dir/corpus"),
      lexIndexPath = Some(s"$dir/lex"),
      contentIndexPath = Some(s"$dir/content"))
    ids.write.parquet(s"$dir/req/b0")
    def drain(beforeLeg: String => Unit): Unit =
      StreamingIngest.takedownAllStreamWith(
        spark.readStream.schema("doc_id BIGINT").parquet(s"$dir/req/*"),
        targets, s"$dir/manifest", s"$dir/ckpt", beforeLeg = beforeLeg)
    // The driver dies between the corpus leg and the lex leg,
    // mid-micro-batch: the corpus leg is already ledgered, the stream
    // offset is NOT committed.
    var crashed = false
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain { leg =>
        if (leg == "lex" && !crashed) {
          crashed = true
          throw new IllegalStateException("driver died between legs")
        }
      }
    }
    assert(e.getMessage.contains("driver died between legs") ||
      e.getCause != null)
    assert(!Takedown.manifestComplete(spark, s"$dir/manifest", 0L, targets),
      "manifest claims completion after a mid-batch crash")
    // Replay: the micro-batch re-fires with the SAME id; the manifest
    // no-ops the completed corpus leg and completes the rest.
    drain(_ => ())
    assert(Takedown.manifestComplete(spark, s"$dir/manifest", 0L, targets),
      "replayed takedown stream did not converge to a complete manifest")
    val cert = Takedown.erasureCertificate(spark, ids, targets).collect()
    assert(cert.nonEmpty && cert.forall(_.getLong(2) == 0L),
      s"certificate found surviving references: ${cert.mkString(", ")}")
    assert(cert.forall(_.getLong(1) > 0L))
    // Idle re-drain on the same checkpoint: nothing new, nothing moves.
    drain(_ => ())
    assert(Takedown.manifestComplete(spark, s"$dir/manifest", 0L, targets))
  }

  test("self-compacting takedownAllStream folds all five index kinds: " +
      "each resolves to a purged generation serving like a " +
      "non-compacting twin") {
    import graft.operators.{Compaction, ContentIndex, Dedup, Retrieval,
      Similarity, Takedown}
    val docs = graft.Tables.documents(spark, sf0001)
    val emb = graft.Tables.embeddings(spark, sf0001)
    val ids = docs.where(col("doc_id") % 5 === 2).select(col("doc_id"))
    // Two ingest batches per artifact (even / odd ids), then ONE
    // takedown trigger across all five: at compactEvery = 1 that
    // trigger folds every target; the twin only records the deletes.
    def run(dir: String, compactEvery: Int): Unit = {
      for (b <- 0 to 1) {
        val half = docs.where(col("doc_id") % 2 === b)
        Retrieval.buildLexIndexBatch(spark, half, s"$dir/lex", b.toLong)
        Retrieval.buildPosIndexBatch(spark, half, s"$dir/pos", b.toLong)
        ContentIndex.buildBatch(spark, half, s"$dir/content", b.toLong)
      }
      Similarity.buildIvfIndexBatch(spark,
        emb.where(col("vec_id") % 2 === 0), s"$dir/ivf", 0L)
      Similarity.appendToIvfIndexBatch(spark,
        emb.where(col("vec_id") % 2 === 1), s"$dir/ivf", 1L)
      val even = docs.where(col("doc_id") % 2 === 0)
      Dedup.appendToPairTableBatch(spark, even, even,
        s"$dir/sigs", s"$dir/pairs", 0L)
      Dedup.appendToPairTableBatch(spark,
        docs.where(col("doc_id") % 2 === 1), docs,
        s"$dir/sigs", s"$dir/pairs", 1L)
      ids.write.parquet(s"$dir/req/b0")
      val targets = Takedown.TakedownTargets(
        lexIndexPath = Some(s"$dir/lex"),
        posIndexPath = Some(s"$dir/pos"),
        ivfIndexPath = Some(s"$dir/ivf"),
        pairTablePath = Some(s"$dir/pairs"),
        contentIndexPath = Some(s"$dir/content"))
      StreamingIngest.takedownAllStream(
        spark.readStream.schema("doc_id BIGINT").parquet(s"$dir/req/*"),
        targets, s"$dir/manifest", s"$dir/ckpt",
        compactEvery = compactEvery, pairSigPath = Some(s"$dir/sigs"))
      assert(Takedown.manifestComplete(spark, s"$dir/manifest", 0L,
        targets), s"takedown manifest incomplete under $dir")
    }
    val folded = tmpDir("tdallfold")
    val twin = tmpDir("tdalltwin")
    run(folded, compactEvery = 1)
    run(twin, compactEvery = 0)
    val fs = new org.apache.hadoop.fs.Path(folded).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val kinds = Seq("lex" -> Compaction.Kind.Lex,
      "pos" -> Compaction.Kind.Pos, "ivf" -> Compaction.Kind.Ivf,
      "content" -> Compaction.Kind.Content,
      "pairs" -> Compaction.Kind.Pair(s"$folded/sigs"))
    for ((name, kind) <- kinds) {
      val gen = Compaction.resolveRoot(spark, s"$folded/$name")
      assert(gen == s"$folded/$name/v=1", s"$name: the stream never folded")
      val deletes = new org.apache.hadoop.fs.Path(s"$gen/${kind.deletes}")
      assert(!fs.listStatus(deletes)
          .exists(_.getPath.getName.startsWith("batch_id=")),
        s"$name: the fold left its delete partitions standing")
      assert(Compaction.isTakedownFolded(spark, deletes.toString, 0L),
        s"$name: the fold did not ledger takedown 0")
      assert(Compaction.resolveRoot(spark, s"$twin/$name") ==
        s"$twin/$name", s"$name: the non-compacting twin folded")
    }
    assert(Compaction.resolveRoot(spark, s"$folded/sigs") ==
      s"$folded/sigs/v=1", "the signature table did not fold with its pairs")
    val queries = Similarity.queriesOf(emb)
    val passages = docs.where(col("doc_id") === 8L)
      .select(lit(0L).as("passage_id"),
        concat_ws(" ",
          slice(graft.operators.TextOps.tokens(col("text")), 2, 5))
          .as("passage"))
      .localCheckpoint()
    def served(dir: String) = Seq(
      "lex" -> Retrieval.bm25TopKServed(spark, s"$dir/lex"),
      "pos" -> Retrieval.phraseSearchServed(spark, s"$dir/pos"),
      "ivf" -> Similarity.queryIvfIndex(spark, s"$dir/ivf", queries),
      "pairs" -> Takedown.pairTableLive(spark, s"$dir/pairs"),
      "content" -> Takedown.resolveTakedownContentServed(spark,
        s"$dir/content", passages))
      .map { case (n, df) => n -> df.collect().toSet }
    for (((name, got), (_, want)) <- served(folded).zip(served(twin))) {
      assert(want.nonEmpty, s"$name: the twin serves nothing")
      assert(got == want, s"$name: the folded generation serves " +
        "differently from the non-compacting twin")
    }
  }

  test("takedown stream flags retrain-due when post-takedown IVF " +
      "recall drifts below the floor (r15, VERDICT r14 next #4)") {
    import graft.operators.{Similarity, Takedown}
    val dir = tmpDir("retrainflag")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    Similarity.buildIvfIndexBatch(spark, emb, s"$dir/ivf", 0L)
    def meanRecall: Double = Similarity
      .recallAfterTakedown(spark, s"$dir/ivf", sf0001)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    val r0 = meanRecall
    assert(r0 > 0.0)
    // Take down exactly the vectors the IVF serve currently RETURNS:
    // the stale (never retrained) probe ranking loses its confirmed
    // hits, the exact arm recruits replacements from cells the probes
    // never visit — recall must drop, and that drop is precisely the
    // drift the flag exists to surface.
    val queries = Similarity.queriesOf(emb)
    val dead = Similarity.queryIvfIndex(spark, s"$dir/ivf", queries)
      .select(col("vec_id").as("doc_id")).distinct()
    dead.write.parquet(s"$dir/req/b0")
    val targets = Takedown.TakedownTargets(ivfIndexPath = Some(s"$dir/ivf"))
    StreamingIngest.takedownAllStream(
      spark.readStream.schema("doc_id BIGINT").parquet(s"$dir/req/*"),
      targets, s"$dir/manifest", s"$dir/ckpt",
      recallFloor = r0, recallCorpusDir = Some(sf0001))
    val r1 = meanRecall
    assert(r1 < r0,
      s"hollowing out the densest cell did not move recall ($r0 → $r1)")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ivf/_retrain_due")),
      "the stream did not drop the retrain-due marker on recall drift")
  }

  test("streaming drift gate: per-batch report equals the batch driftBetween") {
    val dir = tmpDir("driftgate")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // Reference = the even-id corpus half; the arriving batch = odd ids.
    val ref = docs.where(col("doc_id") % 2 === 0)
    val arriving = docs.where(col("doc_id") % 2 === 1)
    ref.write.parquet(s"$dir/ref")
    arriving.write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in/*")
    StreamingIngest.driftGateStream(stream, s"$dir/ref",
      s"$dir/monitor", s"$dir/ckpt")
    val streamed = spark.read.parquet(s"$dir/monitor")
      .drop("batch_id").collect().toSet
    val batch = graft.operators.Curation
      .driftBetween(arriving, spark.read.parquet(s"$dir/ref"))
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty,
      "stream-admitted drift report must equal the batch computation")
  }

  test("bounded-state streaming dedup collapses re-deliveries in the horizon") {
    val dir = tmpDir("wmdedup")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"),
        (to_timestamp(lit("2023-07-06 00:00:00"))
          + col("doc_id").cast("int") * expr("INTERVAL 1 SECOND")).as("ts"))
    // Every doc re-delivered once, seconds apart — inside the horizon.
    docs.write.parquet(s"$dir/in/b0")
    docs.withColumn("ts", col("ts") + expr("INTERVAL 5 SECONDS"))
      .write.parquet(s"$dir/in/b1")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in/*")
    val q = StreamingIngest.dedupStream(stream, Seq("doc_id"), "ts", "10 minutes")
      .writeStream
      .format("memory").queryName("wm_dedup")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("wm_dedup").count() == docs.count())
    assert(spark.table("wm_dedup").select("doc_id").distinct().count()
      == docs.count())
  }

  test("streaming upsert applies batches as keyed merges, replay-safe") {
    import spark.implicits._
    val dir = tmpDir("supsert")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/in/b0")
    val schema = spark.read.parquet(s"$dir/in/b0").schema
    def drain(): Unit = StreamingIngest.upsertStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/layer", Seq("id"), s"$dir/ckpt")
    drain()
    // Second arrival corrects id 2 and adds id 3.
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").write.parquet(s"$dir/in/b1")
    drain()
    def state = spark.read.parquet(s"$dir/layer").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // Restart with the same checkpoint: nothing re-applied, state stable.
    drain()
    assert(state == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("stream-maintained pair index equals the batch rebuild") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("pairstream")
    val docs = graft.Tables.documents(spark, sf0001)
    // Three arrival slices, one file each, drained one per trigger —
    // the standing-ingest shape (bootstrap batch + two increments).
    for (m <- 0 to 2)
      docs.where(pmod(col("doc_id"), lit(3)) === m)
        .coalesce(1).write.parquet(s"$dir/in/slice$m")
    val schema = spark.read.parquet(s"$dir/in/slice0").schema
    StreamingIngest.pairIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/docs", s"$dir/sigs", s"$dir/pairs", s"$dir/ckpt")
    // Every arrival landed in the docs layer exactly once…
    assert(spark.read.parquet(s"$dir/docs").count() == docs.count())
    // …and the maintained index is bit-identical to rebuilding from
    // the full corpus in one pass (same proof shape as TextDedupSpec's
    // batch increment, now driven through micro-batches).
    val maintained = graft.operators.Dedup.pairTable(spark, s"$dir/pairs")
    val rebuilt = graft.operators.Dedup.ngramJaccard(spark, sf0001)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "micro-batch maintenance must reproduce the one-pass rebuild")
    // Replay proof (VERDICT r6 #3): re-apply the LAST batch exactly as
    // a checkpoint-window replay would — the foreachBatch body is
    // appendToPairTableBatch, so invoking it again with the same
    // (slice, batchId) models the crash-replay faithfully. The RAW
    // table (no serve-time distinct) must be bit-identical after:
    // batchId-keyed overwrite, zero appended duplicates.
    val docsLayer = spark.read.parquet(s"$dir/docs")
    val lastBatch = docsLayer.agg(max(col("batch_id"))).head()
      .getAs[Number](0).longValue
    val lastSlice = docsLayer.where(col("batch_id") === lastBatch)
      .select(docs.columns.map(col(_)).toIndexedSeq: _*)
    val all = docsLayer.select(docs.columns.map(col(_)).toIndexedSeq: _*)
    val rawBefore = spark.read.parquet(s"$dir/pairs").localCheckpoint()
    graft.operators.Dedup.appendToPairTableBatch(spark, lastSlice, all,
      s"$dir/sigs", s"$dir/pairs", lastBatch)
    val rawAfter = spark.read.parquet(s"$dir/pairs")
    assert(rawAfter.count() == rawBefore.count() &&
      rawAfter.exceptAll(rawBefore).isEmpty &&
      rawBefore.exceptAll(rawAfter).isEmpty,
      "a replayed batch must converge bit-identically, not append")
  }

  test("stream-maintained IVF index equals a fixed-centroid rebuild") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ivfstream")
    val emb = graft.Tables.embeddings(spark, sf0001)
    // Slice 0 bootstraps (it carries stride multiples, so centroids
    // train); slices 1-2 append against the then-fixed centroids.
    for (m <- 0 to 2)
      emb.where(pmod(col("vec_id"), lit(3)) === m)
        .coalesce(1).write.parquet(s"$dir/in/slice$m")
    val schema = spark.read.parquet(s"$dir/in/slice0").schema
    StreamingIngest.ivfIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val postingCols = Seq("cell", "vec_id", "v", "nv").map(col(_))
    def maintained = spark.read.parquet(s"$dir/idx/postings")
      .select(postingCols: _*)
    assert(maintained.count() == emb.count(), "every vector posted once")
    // Rebuild the full corpus against the STREAM's centroids (appends
    // never retrain — the batch contract): postings must be
    // bit-identical (modulo the stream layout's batch_id provenance
    // partition, excluded from the compare).
    ivfRebuildWith(s"$dir/idx", emb, s"$dir/rebuild")
    val rebuilt = spark.read.parquet(s"$dir/rebuild/postings")
      .select(postingCols: _*)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "stream maintenance must equal the fixed-centroid rebuild")
    // Replay proofs (VERDICT r6 #3 + ADVICE r6). Case 1 — the ADVICE
    // bootstrap window: crash AFTER the bootstrap's writes but BEFORE
    // the checkpoint commit; the replay finds centroids on disk and
    // takes the APPEND branch with batch 0's slice. Must converge, not
    // double-post.
    val b0vecs = spark.read.parquet(s"$dir/idx/postings")
      .where(col("batch_id") === 0).select(col("vec_id"))
    val slice0 = emb.join(b0vecs, "vec_id")
    val rawBefore = spark.read.parquet(s"$dir/idx/postings")
      .select(postingCols: _*).localCheckpoint()
    graft.operators.Similarity.appendToIvfIndexBatch(
      spark, slice0, s"$dir/idx", 0)
    assert(maintained.count() == emb.count() &&
      maintained.exceptAll(rawBefore).isEmpty &&
      rawBefore.exceptAll(maintained).isEmpty,
      "replayed bootstrap (append branch) must converge bit-identically")
    // Case 2 — a replayed LATER batch overwrites its own partition.
    val bmax = spark.read.parquet(s"$dir/idx/postings")
      .agg(max(col("batch_id"))).head().getAs[Number](0).longValue
    val sliceN = emb.join(spark.read.parquet(s"$dir/idx/postings")
      .where(col("batch_id") === bmax).select(col("vec_id")), "vec_id")
    graft.operators.Similarity.appendToIvfIndexBatch(
      spark, sliceN, s"$dir/idx", bmax)
    assert(maintained.count() == emb.count() &&
      maintained.exceptAll(rawBefore).isEmpty,
      "replayed append batch must converge bit-identically")
  }

  test("Metrics recorder captures scan and shuffle activity per action") {
    val rec = Metrics.attach(spark)
    try {
      graft.operators.TextOps.textStats(spark, sf0001).collect()
      // The listener bus is asynchronous — poll for the record.
      val deadline = System.currentTimeMillis() + 30000
      var snap = rec.snapshot
      while (snap.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); snap = rec.snapshot
      }
      assert(snap.nonEmpty, "no metric record arrived")
      val m = snap.head
      assert(!m.failed && m.scanRows > 0 && m.scanFiles > 0)
      assert(m.shuffleBytes > 0) // textStats aggregates -> one exchange
    } finally Metrics.detach(spark, rec)
  }

  test("stream-stream join with watermarks equals the batch join") {
    val dir = tmpDir("ssjoin")
    val events = graft.Tables.events(spark, sf0001)
    events.write.parquet(s"$dir/events")
    val q = StreamingIngest.clickPurchaseJoinStream(spark, s"$dir/events",
        events.schema)
      .writeStream
      .format("memory").queryName("ss_join")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ss_join").select("click_id", "purchase_id")
    val c = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val batch = c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("purchase_ts") <= col("click_ts"))
      .select("click_id", "purchase_id")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("E1: pipeline smoke at sf0.001 — every layer lands with rows") {
    val out = tmpDir("pipeline")
    val report = Pipeline.runReport(spark, sf0001, out, genRows = 200)
    val counts = report.counts
    // Per-stage breakdown: the ingest prefix and the closing counts are
    // ordered; the two concurrent DAG arms interleave in completion
    // order but each arm's own dependencies must hold.
    val names = report.stages.map(_.stage)
    assert(names.take(4) == Seq("generate_stage", "sense", "load_raw",
      "archive"))
    assert(names.last == "layer_counts")
    val bizSteps = Set(
      "business_b_performance_metrics", "business_b_product_performance",
      "business_b_profitability_kpi", "business_b_sales_kpi",
      "business_b_customer_retention")
    assert(names.drop(4).dropRight(1).toSet ==
      bizSteps ++ Set("master", "dq_gate", "curation", "assembly"))
    // warehouse arm: master completes before any business consumer
    assert(bizSteps.forall(b => names.indexOf("master") < names.indexOf(b)))
    // corpus arm: dq_gate → curation → assembly
    assert(names.indexOf("dq_gate") < names.indexOf("curation"))
    assert(names.indexOf("curation") < names.indexOf("assembly"))
    assert(report.stages.forall(_.seconds >= 0.0))
    assert(counts.raw.values.forall(_ == 200))
    assert(counts.master > 0)
    assert(counts.business.size == 5)
    assert(counts.business.values.forall(_ > 0))
    // Ingested files were archived (K5) — staging is empty.
    assert(!Ingest.filesExist(spark, s"$out/ingested/csv/campaigns/*.csv"))
    // Curated corpus landed beside the business layer.
    val curated = spark.read.parquet(s"$out/curated_layer/c_documents").count()
    assert(curated > 0)
    // DQ gate landed its report; the clean fixture quarantines nothing.
    val dq = spark.read.parquet(s"$out/dq_layer/dq_report")
    assert(dq.count() == graft.operators.Curation.documentRules.size)
    assert(dq.where(col("n_fail") =!= 0).isEmpty)
    // The master layer is hive-partitioned by country: a per-country
    // consumer's filter must become a PartitionFilter (directory
    // pruning), not a data filter over the whole layer.
    val perCountry = spark.read
      .parquet(s"$out/master_layer/m_data_model")
      .where(col("transaction_country") === "PERU")
    perCountry.collect()
    val plan = perCountry.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      s"country filter did not prune master partitions:\n$plan")
    // Assembly layer: every curated doc got a split; packs landed.
    val split = spark.read.parquet(s"$out/assembly_layer/a_split")
    assert(split.count() == curated)
    assert(split.select("split").distinct().count() >= 2)
    assert(spark.read.parquet(s"$out/assembly_layer/a_packs").count() > 0)
    // The one-fact-scan contract (VERDICT r7 #4): business consumers run
    // over the MATERIALIZED master — their plans scan exactly one
    // parquet source (the master layer), never re-joining the raw
    // tables. The expensive join DAG runs once per pipeline, not once
    // per consumer.
    val master = spark.read.parquet(s"$out/master_layer/m_data_model")
    Seq(Relational.performanceMetrics(master),
        Relational.productPerformance(master),
        Relational.profitabilityKpi(master)).foreach { consumer =>
      consumer.collect()
      // AQE prints "Final Plan" and "Initial Plan" sections — count
      // scans in the final section only.
      val cp = consumer.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val nScans = "Scan parquet".r.findAllIn(cp).length
      assert(nScans == 1 && cp.contains("m_data_model"),
        s"business consumer should scan only the materialized master " +
          s"(found $nScans parquet scans):\n$cp")
    }
  }
}
