package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Retrieval}

/** Semantic invariants of the ranked-retrieval tier (BM25 + RRF hybrid)
  * — the oracle rows pin exact values; these pin the properties that
  * must survive any refactor of the scoring plumbing. */
class RetrievalSpec extends SparkSpec {

  test("phrase search: alignment counts, overlaps, repeated-term slots") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "x hash join y hash join"), // two occurrences
      (2L, "hash y join"),             // both terms, never adjacent
      (3L, "a a a"),                   // overlapping self-phrase fodder
      (4L, "a b a b a")                // repeated-term phrase fodder
    ).toDF("doc_id", "text")
    val hj = Retrieval.phraseSearchOf(docs, Seq("hash", "join"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(hj == Map(1L -> ((2L, 1))),
      s"adjacency must be required and counted: $hj")
    // Overlapping matches each count: "a a a" contains "a a" at 0 and 1.
    val aa = Retrieval.phraseSearchOf(docs, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(aa == Map(3L -> ((2L, 0))), s"overlaps must both match: $aa")
    // Repeated-term phrase fills DISTINCT slots: "a b a" at 0 and 2.
    val aba = Retrieval.phraseSearchOf(docs, Seq("a", "b", "a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(aba == Map(4L -> ((2L, 0))), s"slot identity broke: $aba")
  }

  test("bm25: dense ranks, non-increasing scores, matched-term bounds") {
    val rows = Retrieval.bm25TopK(spark, sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.FinalK)
    // Ranks are exactly 1..n with no gaps (the deterministic tie-break
    // makes the cut stable, so a dense prefix is guaranteed).
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    // Scores never increase down the ranking.
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // Every scored doc matched between 1 and |query| distinct terms,
    // and every score is strictly positive (rational idf > 0 always —
    // the documented deviation from ln-idf).
    val nt = rows.map(_.getAs[Long]("n_terms"))
    assert(nt.forall(n => n >= 1 && n <= Retrieval.DefaultQuery.size))
    assert(scores.forall(_ > 0.0))
  }

  test("bm25: scored docs really contain a query term") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        concat(lit(" "), lower(col("text")), lit(" ")).as("padded"))
    val hits = Retrieval.bm25TopK(spark, sf0001).join(docs, "doc_id")
    val misses = hits.where(!Retrieval.DefaultQuery
        .map(t => col("padded").contains(s" $t "))
        .reduce(_ || _))
      .count()
    assert(misses == 0L)
  }

  test("rrf: fused scores match the member ranks exactly") {
    val rows = Retrieval.hybridRrf(spark, sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.FinalK)
    rows.foreach { r =>
      val lex = r.getAs[Int]("lex_rank")
      val vec = r.getAs[Int]("vec_rank")
      // A fused doc came from at least one arm, each within its
      // candidate depth.
      assert(lex > 0 || vec > 0)
      assert(lex <= Retrieval.CandidateK && vec <= Retrieval.CandidateK)
      // The rrf value is exactly the sum its member ranks imply.
      val expect =
        (if (lex > 0) 1.0 / (Retrieval.RrfK + lex) else 0.0) +
        (if (vec > 0) 1.0 / (Retrieval.RrfK + vec) else 0.0)
      assert(r.getAs[Double]("rrf") == expect)
    }
    // Two-arm members dominate: any doc present in BOTH arms at rank
    // <= CandidateK/2 must outscore every single-arm doc whose one
    // rank is worse than CandidateK/2 — spot-check monotonicity of the
    // final ordering instead of re-deriving it: scores non-increasing.
    val scores = rows.map(_.getAs[Double]("rrf"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("phrase served == inline; positional scan is partition-pruned") {
    import graft.operators.Retrieval
    val dir = tmpDir("pos_idx")
    Retrieval.buildPosIndexBatch(spark, Tables.documents(spark, sf0001),
      s"$dir/pos", Compaction.BootstrapBatchId)
    val served = Retrieval.phraseSearchServed(spark, s"$dir/pos")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty)
    // The serve path must touch only the phrase terms' partitions.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"positional read not partition-pruned:\n$p")
  }

  test("pos index batch-maintained == one-shot build; replay is a no-op") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val inc = tmpDir("pos_inc")
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/pos", batchId = 0L)
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 1), s"$inc/pos", batchId = 1L)
    val incremental = Retrieval.phraseSearchServed(spark, s"$inc/pos")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    assert(incremental.exceptAll(inline).isEmpty &&
      inline.exceptAll(incremental).isEmpty, "batched index drifted")
    // Replaying a committed batch overwrites itself — no double-index.
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/pos", batchId = 0L)
    val replayed = Retrieval.phraseSearchServed(spark, s"$inc/pos")
    assert(replayed.exceptAll(inline).isEmpty &&
      inline.exceptAll(replayed).isEmpty, "replay double-indexed")
  }

  test("hybrid rrf served == inline; lex arm partition-pruned") {
    import graft.operators.{Retrieval, Similarity}
    val dir = tmpDir("hybrid_idx")
    Retrieval.buildLexIndexBatch(spark, Tables.documents(spark, sf0001),
      s"$dir/lex", Compaction.BootstrapBatchId)
    Similarity.buildIvfIndexBatch(spark, Tables.embeddings(spark, sf0001),
      s"$dir/ivf", Compaction.BootstrapBatchId)
    val served = Retrieval.hybridRrfServed(spark, s"$dir/lex", s"$dir/ivf")
    val inline = Retrieval.hybridRrf(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty,
      "served hybrid drifted from the inline fusion")
    // The lex arm must touch only the query terms' partitions — the
    // bm25TopKServed pin, carried to the fused form.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"served hybrid's postings read not partition-pruned:\n$p")
  }

  test("pos index mixed lifecycle: bootstrap → stream maintenance on ONE " +
      "indexPath; replayed batch 0 never clobbers the bootstrap slice") {
    import graft.operators.Retrieval
    // The lifecycle the unified batch_id layout exists for (ADVICE r10
    // / VERDICT r11 #3): a one-shot build claims the bootstrap
    // batch_id=-1, a stream then attaches to the SAME indexPath and its
    // foreachBatch ids (0, 1) land beside it — one consistent partition
    // depth, and the bootstrap sits BELOW any replayable id.
    val docs = Tables.documents(spark, sf0001)
    val dir = tmpDir("pos_mixed")
    Retrieval.buildPosIndexBatch(spark, docs.where(col("doc_id") % 3 === 0),
      s"$dir/idx", Compaction.BootstrapBatchId)
    docs.where(col("doc_id") % 3 === 1)
      .coalesce(1).write.parquet(s"$dir/in/s1")
    docs.where(col("doc_id") % 3 === 2)
      .coalesce(1).write.parquet(s"$dir/in/s2")
    val schema = spark.read.parquet(s"$dir/in/s1").schema
    graft.streaming.StreamingIngest.posIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    val served = Retrieval.phraseSearchServed(spark, s"$dir/idx")
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, "mixed-lifecycle index drifted")
    // Crash-replay of stream batch 0 (whatever slice it carried):
    // overwrites ONLY batch_id=0 — the batch_id=-1 bootstrap survives
    // byte-identically and the serve stays converged.
    val b0docs = docs.join(
      spark.read.schema("doc_id BIGINT, pos INT, tok STRING")
        .parquet(s"$dir/idx/pos/batch_id=0").select("doc_id").distinct(),
      Seq("doc_id"))
    val bootBefore = spark.read
      .schema("doc_id BIGINT, pos INT, tok STRING")
      .parquet(s"$dir/idx/pos/batch_id=-1")
    val bootCount = bootBefore.count()
    Retrieval.buildPosIndexBatch(spark, b0docs, s"$dir/idx", batchId = 0L)
    val bootAfter = spark.read
      .schema("doc_id BIGINT, pos INT, tok STRING")
      .parquet(s"$dir/idx/pos/batch_id=-1")
    assert(bootAfter.count() == bootCount &&
      bootAfter.exceptAll(bootBefore).isEmpty,
      "replayed batch 0 clobbered the batch_id=-1 bootstrap slice")
    val replayed = Retrieval.phraseSearchServed(spark, s"$dir/idx")
    assert(replayed.exceptAll(inline).isEmpty &&
      inline.exceptAll(replayed).isEmpty, "replay drifted the serve")
  }

  test("positional serve survives numeric tokens (no partition inference)") {
    import spark.implicits._
    import graft.operators.Retrieval
    // A numeric token becomes a tok=007 partition directory; type
    // inference would read it back as the integer 7 and silently
    // de-match it from the phrase. The explicit reader schema pins it.
    val dir = tmpDir("pos_num")
    Retrieval.buildPosIndexBatch(spark,
      Seq((1L, "007 agent 007 agent"), (2L, "agent 7")).toDF("doc_id", "text"),
      s"$dir/pos", Compaction.BootstrapBatchId)
    val served = Retrieval
      .phraseSearchServed(spark, s"$dir/pos", Seq("007", "agent"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    assert(served == Map(1L -> ((2L, 0))),
      s"numeric token de-matched through the partition layout: $served")
  }

  test("bm25 served == inline; postings scan is partition-pruned") {
    val dir = tmpDir("lex_idx")
    Retrieval.buildLexIndexBatch(spark, Tables.documents(spark, sf0001),
      s"$dir/lex", Compaction.BootstrapBatchId)
    val served = graft.operators.Retrieval.bm25TopKServed(spark, s"$dir/lex")
    val inline = graft.operators.Retrieval.bm25TopK(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty)
    // The serve path must touch only the query terms' partitions —
    // the whole point of the term-partitioned layout.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"postings read not partition-pruned:\n$p")
  }

  test("bm25 batch-maintained index == one-shot build, replay is a no-op") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val oneShot = tmpDir("lex_full")
    Retrieval.buildLexIndexBatch(spark, docs, s"$oneShot/lex",
      Compaction.BootstrapBatchId)
    val expect = Retrieval.bm25TopKServed(spark, s"$oneShot/lex")
    // Two disjoint doc_id slices arriving as separate batches...
    val inc = tmpDir("lex_inc")
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/lex", batchId = 0L)
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 1), s"$inc/lex", batchId = 1L)
    val inc2 = Retrieval.bm25TopKServed(spark, s"$inc/lex")
    assert(inc2.exceptAll(expect).isEmpty && expect.exceptAll(inc2).isEmpty)
    // ...and a crash-replay of batch 0 overwrites itself: still
    // identical, never double-counted (the exactly-once contract).
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/lex", batchId = 0L)
    val replayed = Retrieval.bm25TopKServed(spark, s"$inc/lex")
    assert(replayed.exceptAll(expect).isEmpty &&
      expect.exceptAll(replayed).isEmpty)
  }

  test("bm25 stream-maintained index == one-shot build") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val oneShot = tmpDir("lex_full2")
    Retrieval.buildLexIndexBatch(spark, docs, s"$oneShot/lex",
      Compaction.BootstrapBatchId)
    val expect = Retrieval.bm25TopKServed(spark, s"$oneShot/lex")
    val dir = tmpDir("lex_stream")
    (0 to 2).foreach { m =>
      docs.where(pmod(col("doc_id"), lit(3)) === m)
        .coalesce(1).write.parquet(s"$dir/in/slice$m")
    }
    val schema = spark.read.parquet(s"$dir/in/slice0").schema
    graft.streaming.StreamingIngest.lexIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val served = Retrieval.bm25TopKServed(spark, s"$dir/idx")
    assert(served.exceptAll(expect).isEmpty &&
      expect.exceptAll(served).isEmpty)
  }

  test("fuzzy vocab: blocking == brute force on a crafted typo corpus") {
    import spark.implicits._
    // Engineered edit-distance structure: deletions, substitutions,
    // transpositions (lev 2), a 1-char token, and an unrelated word.
    val dir = tmpDir("fuzzy_corpus")
    Seq(
      (0L, "spark sprk spork park sparkle", "en", "web", 29L),
      (1L, "ab ba a zzzz spark", "en", "web", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.fuzzyVocabPairs(spark, dir)
      .select("tok_a", "tok_b", "lev").as[(String, String, Int)]
      .collect().toSet
    // Brute force over the same vocab — the SymSpell completeness
    // theorem, validated in-engine (the oracle row validates it
    // cross-engine on the fixture).
    val vocab = Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("tok"))
      .distinct()
    val brute = vocab.as("x").crossJoin(vocab.as("y"))
      .where(col("x.tok") < col("y.tok"))
      .select(col("x.tok"), col("y.tok"),
        levenshtein(col("x.tok"), col("y.tok")).as("lev"))
      .where(col("lev") <= 2)
      .as[(String, String, Int)].collect().toSet
    assert(got == brute)
    // Spot-pin the engineered cases, including the lev-2 transposition
    // pair that needs the INTERSECTING-deletions key (not containment).
    assert(got.contains(("spark", "sprk", 1)))
    assert(got.contains(("spark", "spork", 1)))
    assert(got.contains(("ab", "ba", 2)))
    assert(got.contains(("a", "ab", 1)))
    assert(!got.exists(p => p._1 == "zzzz" || p._2 == "zzzz"))
  }
}
