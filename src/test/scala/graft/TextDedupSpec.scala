package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Dedup, TextOps}

/** Unit coverage for the text-analysis and dedup operator families. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._
  import Dedup.{WideTables, wideKeyCol}

  /** REFERENCE BPE encoder — the literal replace-loop the DuckDB oracle
    * twin replays: find the min-rank pair present as adjacent pieces,
    * apply ONE single-pass left-to-right replace-all over the
    * space-delimited state, repeat to the fixpoint. O(k·L) per
    * iteration, ≤ L iterations. [[TextOps.encodePiecesFast]] computes
    * the identical result in O(L log L) independent of k — this form
    * is the executable spec both engines share. */
  private def encodePiecesRef(
      pieces: scala.collection.Seq[String], merges: Array[(String, String)]): String = {
    var st = if (pieces.isEmpty) " " else pieces.mkString(" ", " ", " ")
    var done = false
    while (!done) {
      merges.find { case (a, b) => st.contains(s" $a $b ") } match {
        case Some((a, b)) => st = st.replace(s" $a $b ", s" $a$b ")
        case None => done = true
      }
    }
    st.trim
  }

  test("tokens/shingles edge cases: empty, short, whitespace-heavy") {
    val df = Seq("", "   ", "one", "one two", "one two three",
      "  A  lot   OF   spaces here ").toDF("text")
      .select(TextOps.tokens($"text").as("t"))
      .withColumn("sh", TextOps.shingles($"t"))
      .select(size($"t").as("nt"), size($"sh").as("ns"))
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((0, 0), (0, 0), (1, 0), (2, 0), (3, 1), (5, 3)))
  }

  test("normText collapses case and whitespace") {
    val r = Seq("  Foo   BAR\tbaz  ").toDF("text")
      .select(TextOps.normText($"text")).head().getString(0)
    assert(r == "foo bar baz")
  }

  test("exact dedup: doubled corpus dedups to one row per text, min id kept") {
    val out = Dedup.exactDedup(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(out.count() == docs.count()) // all fixture texts are distinct
    assert(out.agg(min($"n_copies"), max($"n_copies")).head() ==
      org.apache.spark.sql.Row(2L, 2L))
  }

  test("identical texts collide in every band; jaccard 1.0") {
    // Two identical docs + one unrelated → exactly one candidate pair.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "s", 43L),
      (3L, "completely different words appear in this text here", "en", "s", 51L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("dedup")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashPairs(spark, dir).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Long]("n_band_matches") == Dedup.NumBands)
    val j = Dedup.ngramJaccard(spark, dir).head()
    assert(j.getAs[Double]("jaccard") == 1.0)
  }

  test("simhash: identical texts get identical signatures; halves recombine") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "alpha beta gamma delta", "en", "s", 22L),
      (3L, "omega psi chi phi", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("simhash")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.simhash(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("simhash"), r.getAs[Int]("simhash_hi"),
          r.getAs[Int]("simhash_lo"))).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    rows.values.foreach { case (s, hi, lo) =>
      assert(s == lo + hi * 256 && s >= 0 && s < 65536)
    }
  }

  test("lang-id scoring is deterministic and favors stopword-rich text") {
    val docs = Seq(
      (1L, "the cat and the dog in the house is it", "en", "s", 10L),
      (2L, "der hund und die katze ist nicht ein tier", "de", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("langid")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.langId(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
  }

  test("curation removes near-dup losers and low-quality docs") {
    // Two identical docs (near-dup pair) + one long clean doc + one tiny doc.
    val long = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, long, "en", "s", long.length.toLong),
      (2L, long, "en", "s", long.length.toLong),
      (3L, "too short", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("curation")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = graft.operators.Curation.curatedDocs(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L)) // 2 = dup loser, 3 = under minTokens
  }

  test("castQualityReport counts nulls introduced by normalization") {
    val raw = Seq(
      ("1", "12.50", "Peru", "2023-07-07 08:21:23"),
      ("2", "oops", "Peru", "not a date"),
      ("3", "7.25", "Peru", "2023-07-07 09:00:00"))
      .toDF("transaction_id", "income", "country", "date_time")
    val norm = graft.sources.Ingest.normalizeTransactions(raw)
    val r = graft.sources.Ingest
      .castQualityReport(raw, norm, "transaction_id").head()
    assert(r.getAs[Long]("rows") == 3)
    assert(r.getAs[Long]("nulled_income") == 1)
    assert(r.getAs[Long]("nulled_date_time") == 1)
    assert(r.getAs[Long]("nulled_country") == 0)
  }

  test("minhash completeness: exact copies are ALWAYS candidate pairs") {
    // Clone a sample of fixture docs under new ids: every (orig, clone)
    // pair must match on all bands (identical shingle sets -> identical
    // signatures), regardless of corpus content.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    val clones = docs.withColumn("doc_id", $"doc_id" + 100000L)
    val dir = tmpDir("complete")
    docs.union(clones).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minhashPairs(spark, dir)
      .where($"doc_b" === $"doc_a" + 100000L &&
        $"n_band_matches" === Dedup.NumBands)
    assert(pairs.count() == 20)
  }

  test("quality score stays in [0, 1] on the fixture corpus") {
    val mm = TextOps.qualityScore(spark, sf0001)
      .agg(min($"quality_score"), max($"quality_score")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("incremental pair maintenance equals the full rebuild, bit-identical") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("inc_pairs")
    val docs = Tables.documents(spark, sf0001)
    val base = docs.where(col("doc_id") % 5 =!= 0)
    val inc = docs.where(col("doc_id") % 5 === 0)
    // Bootstrap: the base corpus IS the bootstrap batch (no signature
    // table yet — the batch append bootstraps itself).
    Dedup.appendToPairTableBatch(spark, base, base, s"$dir/sigs",
      s"$dir/pairs", Compaction.BootstrapBatchId)
    // Arrival slice: new-vs-all candidates only; old-vs-old pairs are
    // never recomputed.
    Dedup.appendToPairTableBatch(spark, inc, docs, s"$dir/sigs",
      s"$dir/pairs", 0L)
    val incremental = Dedup.pairTable(spark, s"$dir/pairs")
    val full = Dedup.ngramJaccard(spark, sf0001)
    assert(incremental.exceptAll(full).isEmpty &&
      full.exceptAll(incremental).isEmpty,
      "bootstrap + increment must reproduce the full rebuild exactly")
    // A replay under the same batch id leaves the table unchanged —
    // checked on the RAW tables, without the serve-time distinct
    // defense: the slice overwrites its own partitions.
    def raw(t: String) = spark.read.parquet(s"$dir/$t").localCheckpoint()
    val (pairsBefore, sigsBefore) = (raw("pairs"), raw("sigs"))
    Dedup.appendToPairTableBatch(spark, inc, docs, s"$dir/sigs",
      s"$dir/pairs", 0L)
    Seq(pairsBefore -> raw("pairs"), sigsBefore -> raw("sigs")).foreach {
      case (before, after) =>
        assert(after.count() == before.count() &&
          after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
          "a replayed batch must leave the table unchanged")
    }
  }

  test("pair table build/serve is bit-identical to inline recompute") {
    val dir = tmpDir("pairs_spec")
    Dedup.buildPairTable(spark, sf0001, s"$dir/pairs")
    val served = Dedup.pairTable(spark, s"$dir/pairs")
    val inline = Dedup.ngramJaccard(spark, sf0001)
    // exceptAll both ways = multiset equality, doubles included
    // (parquet round-trips IEEE doubles and longs exactly)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty)
    // consumers served from the table match their inline twins
    val cServed = Dedup.dedupClustersFrom(served)
    val cInline = Dedup.dedupClusters(spark, sf0001)
    assert(cServed.exceptAll(cInline).isEmpty &&
      cInline.exceptAll(cServed).isEmpty)
  }

  test("simhash64 banding is COMPLETE to radius 3 vs brute force") {
    val sigs = Dedup.simhash64(spark, sf0001).collect()
      .map(r => (r.getLong(0), Array(r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4))))
    // Brute force every pair in Scala (the all-pairs plan the operator
    // must never run on the cluster — fine over the fixture here).
    val brute = (for {
      (ia, qa) <- sigs; (ib, qb) <- sigs if ia < ib
      h = (0 until 4).map(j => Integer.bitCount(qa(j) ^ qb(j))).sum
      if h <= 3
    } yield (ia, ib, h)).toSet
    val banded = Dedup.simhash64Neighbors(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute,
      s"banding missed ${(brute -- banded).size} pairs / " +
        s"invented ${(banded -- brute).size}")
  }

  test("simhash64 wide multi-index is result-identical to quarter banding") {
    // Both constructions are radius-3 complete and share the exact
    // Hamming verify, so the pair SETS must be identical — the widening
    // changes only the candidate-generation envelope (20 bands of 3-of-6
    // blocks, ~2³² domain vs 4 bands of 2¹⁶).
    val narrow = Dedup.simhash64Neighbors(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wide = Dedup.simhash64WideNeighbors(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wide == narrow,
      s"wide missed ${(narrow -- wide).size} / invented ${(wide -- narrow).size}")
  }

  /** The pre-r18 distinct-based pair fold, kept VERBATIM as the
    * equivalence twin the canonical-band rewrite is pinned against
    * (RelationalSpec's customerRetentionExpand discipline): same banded
    * candidate join, duplicates folded by a full exchange over the
    * verified pair stream instead of the per-row minBand filter. */
  private def simhash64NeighborsDistinct(sig: DataFrame,
      wide: Boolean, maxHamming: Int = 3): DataFrame = {
    val bands = if (wide) WideTables.map(wideKeyCol)
                else Seq(col("q0"), col("q1"), col("q2"), col("q3"))
    val quarters = sig.select(col("doc_id"), col("q0"), col("q1"),
      col("q2"), col("q3"),
      posexplode(array(bands: _*)).as(Seq("band_idx", "band_val")))
    val a = quarters.select(col("doc_id").as("doc_a"),
      col("q0").as("a0"), col("q1").as("a1"), col("q2").as("a2"),
      col("q3").as("a3"), col("band_idx"), col("band_val"))
    val b = quarters.select(col("doc_id").as("doc_b"),
      col("q0").as("b0"), col("q1").as("b1"), col("q2").as("b2"),
      col("q3").as("b3"), col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (0 until 4).map(q => bit_count(col(s"a$q").bitwiseXOR(col(s"b$q"))))
          .reduce(_ + _).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  test("canonical-band pair fold is bit-identical to the distinct twin " +
      "(quarter and wide)") {
    // r18: the shipped form keeps each candidate pair only in its FIRST
    // matching band table (a per-row expression — no distinct exchange,
    // one Hamming verify per pair); the pre-r18 twin folds duplicates
    // with a full distinct. Same pair set, and the shipped form must
    // also be duplicate-free WITHOUT the distinct.
    val sig = Dedup.simhash64(spark, sf0001)
    for (wide <- Seq(false, true)) {
      val shipped =
        if (wide) Dedup.simhash64WideNeighborsOf(sig)._1
        else Dedup.simhash64NeighborsOf(sig)._1
      val twin = simhash64NeighborsDistinct(sig, wide)
      assert(shipped.exceptAll(twin).isEmpty &&
        twin.exceptAll(shipped).isEmpty, s"wide=$wide pair set diverged")
      val rows = shipped.collect()
      assert(rows.length == rows.map(r => (r.getLong(0), r.getLong(1)))
        .distinct.length, s"wide=$wide emitted duplicate pairs")
      assert(rows.nonEmpty)
    }
  }

  test("wide multi-index pigeonhole: 3 flips in 3 DIFFERENT quarters still pair") {
    // The adversarial case for any pair-of-quarters banding: flips
    // touching 3 distinct quarters leave only ONE quarter clean, so no
    // PAIR of clean quarters exists — but ≤3 flips touch ≤3 of the 6
    // blocks, leaving ≥3 clean blocks, and the C(6,3) table on those
    // matches (q − t = 6 − 3 = 3 completeness). Flip the TOP bit of
    // q0, q1, q2 — signature bits 15/31/47, landing in blocks b1/b2/b4,
    // of which b1 (bits 11–21) and b4 (44–53) straddle quarter
    // boundaries, exercising the cross-quarter segment extraction.
    val base = (0x1234, 0x5678, 0x4abc, 0x2de0)
    val flipped = (base._1 ^ 0x8000, base._2 ^ 0x8000, base._3 ^ 0x8000, base._4)
    val sig = Seq(
      (1L, base._1, base._2, base._3, base._4),
      (2L, flipped._1, flipped._2, flipped._3, flipped._4))
      .toDF("doc_id", "q0", "q1", "q2", "q3")
    val (pairs, _) = Dedup.simhash64WideNeighborsOf(sig)
    val got = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 3)), s"wide index missed the radius-3 pair: $got")
    // Distance 4 must NOT be emitted by the ≤3 filter even when banded
    // together (flip q3's top bit too: all 4 quarters dirty).
    val sig4 = Seq(
      (1L, base._1, base._2, base._3, base._4),
      (2L, flipped._1, flipped._2, flipped._3, flipped._4 ^ 0x8000))
      .toDF("doc_id", "q0", "q1", "q2", "q3")
    assert(Dedup.simhash64WideNeighborsOf(sig4)._1.isEmpty)
  }

  test("CMS heavy hitters: hard overestimate guarantee, deterministic top-k") {
    val a = TextOps.cmsHeavyHitters(spark, sf0001).collect()
    assert(a.length == 20)
    // The CMS bound is one-sided and HARD: min-of-counters can never be
    // below the true count (every occurrence increments all d buckets).
    assert(a.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("n_exact")))
    assert(a.forall(_.getAs[Int]("never_under") == 1))
    // md5-seeded buckets ⇒ bit-identical across recomputation.
    val b = TextOps.cmsHeavyHitters(spark, sf0001).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("intra-doc dedup keeps first-occurrence order; corpus invariants") {
    // Crafted corpus: repeated tokens, empty doc, case/whitespace noise.
    val dir = tmpDir("intradoc")
    Seq((1L, "b a b c a b"), (2L, ""), (3L, "  X  x X "))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextOps.dedupWithinDoc(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Int]("n_units") == 6 &&
      rows(1L).getAs[Int]("n_unique") == 3 &&
      rows(1L).getAs[String]("dedup_md5") ==
        java.security.MessageDigest.getInstance("MD5")
          .digest("b a c".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    assert(rows(2L).getAs[Int]("n_units") == 0 && rows(2L).isNullAt(3))
    assert(rows(3L).getAs[Int]("n_unique") == 1) // lowercased collapse
    // Fixture-wide invariants: unique ≤ units, ratio ∈ (0, 1].
    val corpus = TextOps.dedupWithinDoc(spark, sf0001)
    assert(corpus.where(col("n_unique") > col("n_units")).isEmpty)
    assert(corpus.where(col("unique_ratio") <= 0 ||
      col("unique_ratio") > 1).isEmpty)
  }

  test("simhash64 bucket cap quarantines hot buckets on adversarial skew") {
    // 50 IDENTICAL signatures — every band bucket they occupy is a hot
    // bucket (the boilerplate-corpus degenerate case); plus one twin
    // pair in cool buckets and one pair joinable ONLY via band 1 at
    // exact Hamming distance 3 (the completeness boundary).
    val hot = (1L to 50L).map(i => (i, 7, 1, 2, 3))
    val twins = Seq((101L, 100, 200, 300, 400), (102L, 100, 200, 300, 400))
    val band1Only = Seq((201L, 8, 555, 16, 32), (202L, 9, 555, 17, 33))
    val sig = (hot ++ twins ++ band1Only).toDF("doc_id", "q0", "q1", "q2", "q3")
    val cap = 10L
    val (pairs, quarantine) =
      Dedup.simhash64NeighborsOf(sig, 3, Some(cap))
    val q = quarantine.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(q == Set((0, 7, 50L), (1, 1, 50L), (2, 2, 50L), (3, 3, 50L)),
      s"quarantine report wrong: $q")
    // Hot-clique pairs are spilled (reported, not silently joined);
    // cool-bucket pairs survive untouched.
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((101L, 102L), (201L, 202L)))
    // No surviving bucket exceeds the cap — recomputed independently.
    val counts = sig
      .selectExpr("posexplode(array(q0,q1,q2,q3)) as (band_idx, band_val)")
      .groupBy("band_idx", "band_val").count()
    val keptMax = counts
      .join(quarantine.select("band_idx", "band_val"),
        Seq("band_idx", "band_val"), "left_anti")
      .agg(max("count")).head().getLong(0)
    assert(keptMax <= cap, s"a kept bucket holds $keptMax > cap=$cap")
    // The uncapped twin pays the full C(50,2) hot clique — the quadratic
    // candidate volume the cap exists to stop — and quarantines nothing.
    val (uncapped, emptyQ) = Dedup.simhash64NeighborsOf(sig, 3, None)
    assert(uncapped.count() == 50L * 49 / 2 + 2 && emptyQ.count() == 0)
  }

  test("containment flags near-supersets that symmetric Jaccard misses") {
    // A 10-shingle doc fully inside a 100-shingle doc: jaccard = 0.1
    // (would never pass a 0.5 dedup gate) but containment_a = 1.0 —
    // exactly the quote/inclusion case the asymmetric ratio exists for.
    val contained = Seq((1L, 2L, 3L, 10, 100, 10))
      .toDF("doc_a", "doc_b", "n_band_matches", "n_a", "n_b", "n_inter")
      .withColumn("jaccard",
        $"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter"))
    val hit = Dedup.containmentFrom(contained, 0.5).collect()
    assert(hit.length == 1)
    assert(hit(0).getAs[Double]("containment_a") == 1.0 &&
      hit(0).getAs[Double]("containment_b") == 0.1 &&
      hit(0).getAs[Double]("jaccard") == 0.1)
    // A genuinely weak overlap (4/10, 4/100) stays filtered.
    val weak = Seq((1L, 2L, 3L, 10, 100, 4))
      .toDF("doc_a", "doc_b", "n_band_matches", "n_a", "n_b", "n_inter")
      .withColumn("jaccard",
        $"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter"))
    assert(Dedup.containmentFrom(weak, 0.5).isEmpty)
    // On the fixture surface: every emitted row satisfies the gate and
    // containment always dominates jaccard (A∩B ≤ A∪B).
    val fx = Dedup.containmentPairs(spark, sf0001)
    assert(fx.where(greatest($"containment_a", $"containment_b") < 0.5 ||
      $"containment_a" < $"jaccard" || $"containment_b" < $"jaccard")
      .isEmpty)
  }

  test("span dedup: shared 8-token blocks survive only in the earliest doc") {
    val X = "a b c d e f g h" // one exact 8-token block
    val docs = Seq(
      // earliest doc containing X — and containing it TWICE (blocks 0
      // and 2): within-canonical-doc repetition must survive untouched
      (1L, s"$X one two three four five six seven eight $X", "en", "s", 0L),
      // 7 tokens → a single short block, unique → untouched
      (3L, "totally fresh words nobody else ever uses", "en", "s", 0L),
      // later doc sharing X → loses it, keeps its unique tail block
      (5L, s"$X unique tail words", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("spandedup")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.dedupSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_blocks_kept"),
          r.getAs[Long]("n_blocks_removed"), r.getAs[String]("clean_text")))
      .toMap
    assert(out(1L) == ((3L, 3L, 0L,
      s"$X one two three four five six seven eight $X")))
    assert(out(3L) == ((1L, 1L, 0L, "totally fresh words nobody else ever uses")))
    assert(out(5L) == ((2L, 1L, 1L, "unique tail words")))
  }

  test("bpe encode: crafted corpus merges by rank to a hand-computed fixpoint") {
    // Pair counts force the rank order: (x,y)=3 → rank 1; (y,z)=(z,x)=2
    // → ranks 2,3 by pair-asc; (p,q)=(q,r)=1 → ranks 4,5.
    val docs = Seq(
      (1L, "x y z x y z x y", "en", "s", 0L),
      (2L, "p q r", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("bpeenc")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextOps.bpeEncode(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pieces"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("encoded_md5"))).toMap
    // doc 1: rank-1 (x,y) rewrites every occurrence → "xy z xy z xy";
    // no further pair applies (y and x are no longer standalone pieces).
    assert(out(1L) == ((8L, 5L, md5hex("xy z xy z xy"))))
    // doc 2: rank-4 (p,q) applies once; (q,r) can no longer match.
    assert(out(2L) == ((3L, 2L, md5hex("pq r"))))
  }

  test("bpe round-trip: decode is lossless over the piece stream") {
    // decode = strip the token delimiters (pieces never contain the
    // space the stream is delimited with), and the result must equal
    // the raw regex piece concat for EVERY document — the encode
    // fixpoint may move boundaries but never content. The crafted
    // corpus pins the hand-checkable case; the fixture corpus proves it
    // at scale where merges genuinely fire. (Chunked-encode
    // losslessness follows transitively from the chunked == whole
    // md5-identity test above.)
    val docs = Seq(
      (1L, "x y z x y z x y", "en", "s", 0L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("bpert")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val crafted = TextOps.bpeRoundtrip(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decoded_md5"))
      .toMap
    assert(crafted(1L) == md5hex("xyzxyzxy"))
    assert(crafted(2L) == md5hex(""))
    val expected = Tables.documents(spark, SparkSpec.Sf001)
      .select($"doc_id",
        md5(array_join(TextOps.bpePieces($"text"), "")).as("decoded_md5"))
    val rt = TextOps.bpeRoundtrip(spark, SparkSpec.Sf001)
      .select($"doc_id", $"decoded_md5")
    assert(rt.exceptAll(expected).isEmpty && expected.exceptAll(rt).isEmpty,
      "encode loop dropped or duplicated content")
  }

  test("bpe ids: crafted corpus ranks the vocab by (count DESC, tok ASC) " +
      "and UNKs past the cap") {
    // Token stream after the (x,y) merge: doc1 = xy z xy z xy,
    // doc2 = pq r → counts: xy=3, z=2, pq=1, r=1. With vocabSize=3 the
    // vocab is xy→0, z→1, pq→2 and r falls to UNK id 3.
    val docs = Seq(
      (1L, "x y z x y z x y", "en", "s", 0L),
      (2L, "p q r", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("bpeids")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextOps.bpeIds(spark, dir, vocabSize = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unk"),
          r.getAs[String]("ids_md5"))).toMap
    assert(out(1L) == ((5L, 0L, md5hex("0 1 0 1 0"))))
    assert(out(2L) == ((2L, 1L, md5hex("2 3"))))
  }

  test("bpe ids fixture invariants: per-doc counts track the encode, " +
      "UNK fires, deterministic") {
    val ids = TextOps.bpeIds(spark, SparkSpec.Sf001)
    val enc = TextOps.bpeEncode(spark, SparkSpec.Sf001)
      .select($"doc_id", $"n_tokens".as("n_enc"))
    // Same docs, same token counts as the encode the ids are minted
    // from; the fixture's distinct-token count exceeds the
    // BpeVocabSize cap (24) so the UNK path genuinely fires.
    val j = ids.join(enc, "doc_id")
    assert(j.count() == enc.count() &&
      j.where($"n_tokens" =!= $"n_enc").isEmpty)
    assert(ids.agg(sum($"n_unk")).head().getLong(0) > 0,
      "vocab cap did not bind — UNK path untested at this fixture")
    assert(ids.where($"n_unk" > $"n_tokens").isEmpty)
    val again = TextOps.bpeIds(spark, SparkSpec.Sf001)
    assert(ids.exceptAll(again).isEmpty && again.exceptAll(ids).isEmpty)
  }

  test("pack ids: crafted corpus packs by start offset and hashes the " +
      "concatenated id stream in (doc_id, pos) order") {
    // Same corpus as the bpe-ids crafted case: doc1 -> xy z xy z xy
    // (5 tokens, ids 0 1 0 1 0), doc2 -> pq r (2 tokens, ids 2 3).
    // Budget 4: doc1 starts at offset 0 -> pack 0; doc2 starts at 5 ->
    // pack 5 div 4 = 1 (spillover: a doc belongs to the pack where it
    // STARTS, so doc1's 5th token overhangs pack 0 rather than split).
    val docs = Seq(
      (1L, "x y z x y z x y", "en", "s", 0L),
      (2L, "p q r", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("packids")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextOps.packIds(spark, dir, vocabSize = 3, budget = 4)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("pack_id")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"),
          r.getAs[String]("ids_md5")))).toMap
    assert(out.size == 2)
    assert(out(("en", 0L)) == ((1L, 5L, 1L, 1L, md5hex("0 1 0 1 0"))))
    assert(out(("en", 1L)) == ((1L, 2L, 2L, 2L, md5hex("2 3"))))
  }

  test("pack ids fixture invariants: packs partition the corpus, token " +
      "totals track the encode, deterministic") {
    val packs = TextOps.packIds(spark, SparkSpec.Sf001)
    val enc = TextOps.bpeEncode(spark, SparkSpec.Sf001)
    // Every document lands in exactly one pack; no token invented or
    // dropped between the encode and the packed layout.
    assert(packs.agg(sum($"n_docs")).head().getLong(0) ==
      Tables.documents(spark, SparkSpec.Sf001).count())
    assert(packs.agg(sum($"n_tokens")).head().getLong(0) ==
      enc.agg(sum($"n_tokens")).head().getLong(0))
    // The budget genuinely binds at the fixture (multiple packs per
    // stratum) and doc ranges are coherent.
    assert(packs.groupBy($"lang").agg(max($"pack_id").as("m"))
      .where($"m" === 0).isEmpty, "budget never split a stratum")
    assert(packs.where($"first_doc" > $"last_doc" ||
      $"n_docs" <= 0 || $"n_tokens" < 0).isEmpty)
    val again = TextOps.packIds(spark, SparkSpec.Sf001)
    assert(packs.exceptAll(again).isEmpty && again.exceptAll(packs).isEmpty)
  }

  test("bpe fast encoder == reference replace-loop (800 generated cases)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Tight alphabet on purpose: overlapping occurrences ([a,a,a]),
    // adjacent same-pair runs, and merge-created tokens re-entering the
    // table must actually occur.
    val base = Seq("a", "b", "c", "x")
    val pool = base ++ (for (p <- base; q <- base) yield p + q) ++
      Seq("abc", "abx", "aab", "bba")
    val piecesGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(base)))
    val mergesGen = Gen.chooseNum(1, 12).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.oneOf(pool), Gen.oneOf(pool))))
    (1L to 800L).foreach { seed =>
      val pieces = piecesGen
        .pureApply(Gen.Parameters.default, Seed(seed)).toVector
      val merges = mergesGen
        .pureApply(Gen.Parameters.default, Seed(seed + 10000))
        .distinct.toArray
      val ref = encodePiecesRef(pieces, merges)
      val fast = TextOps.encodePiecesFast(pieces, merges)
      assert(fast == ref,
        s"seed $seed pieces=$pieces merges=${merges.toSeq}\n" +
          s"ref =$ref\nfast=$fast")
    }
  }

  test("bpe fast encoder implements PASS semantics, not one-at-a-time") {
    // Crafted divergence: merging the first (a,b) then greedily chasing
    // the best new pair would give "abxa b" (one-occurrence-at-a-time
    // preemption); the reference's whole-pass replace-all merges BOTH
    // (a,b) occurrences before (ab,x) ever applies, then (abx,a) finds
    // its 'a' already consumed → "abx ab".
    val pieces = Vector("a", "b", "x", "a", "b")
    val merges = Array(("abx", "a"), ("ab", "x"), ("a", "b"))
    assert(encodePiecesRef(pieces, merges) == "abx ab")
    assert(TextOps.encodePiecesFast(pieces, merges) == "abx ab")
    // And the adjacent-occurrence skip: one pass merges occurrences 1
    // and 3 of (a,b); the sandwiched occurrence 2 lost its delimiter
    // and only merges on the NEXT iteration.
    val run = Vector("a", "b", "a", "b", "a", "b")
    assert(encodePiecesRef(run, Array(("a", "b"))) == "ab ab ab")
    assert(TextOps.encodePiecesFast(run, Array(("a", "b"))) == "ab ab ab")
  }

  test("bpe encode fixture invariants: contraction, bounds, determinism") {
    val out = TextOps.bpeEncode(spark, SparkSpec.Sf001)
    assert(out.where($"n_tokens" > $"n_pieces" || $"n_tokens" < 0).isEmpty)
    assert(out.where($"compression" > 1.0 || $"compression" <= 0.0).isEmpty)
    // The mined merges genuinely contract the fixture corpus.
    val (p, t) = out.agg(sum($"n_pieces"), sum($"n_tokens")).head() match {
      case org.apache.spark.sql.Row(a: Long, b: Long) => (a, b)
    }
    assert(t < p, s"no merges applied: $p -> $t")
    // Deterministic under repartitioning (broadcast table, map-only).
    val again = TextOps.bpeEncode(spark, SparkSpec.Sf001)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("bpe chunk-first encode == whole-document encode (forced tiny segments)") {
    // The boundary-safe cut theorem, exercised: every fixture doc is
    // far longer than 8 pieces, so EVERY doc splits into many segments
    // — and the concatenated per-segment token streams must equal the
    // whole-doc encode byte for byte (encoded_md5 carries the proof).
    val whole = TextOps.bpeEncode(spark, SparkSpec.Sf001)
    val chunked = TextOps.bpeEncodeChunked(spark, SparkSpec.Sf001, maxPieces = 8)
    assert(whole.exceptAll(chunked).isEmpty && chunked.exceptAll(whole).isEmpty,
      "chunk-first encoding changed the token stream")
  }

  test("bpe chunk-first: cut defers past all-component runs, never splits unsafely") {
    // Merge table from this corpus ranks (a,b) first; doc 1 is a long
    // run where EVERY piece is a rule component (a or b) — a naive cut
    // at maxPieces would fall mid-run and break an (a,b) occurrence.
    // The safe splitter must defer to the 'z' (z is in no rule) and
    // still produce the whole-doc fixpoint.
    val run = (1 to 40).map(_ => "a b").mkString(" ") + " z " +
      (1 to 40).map(_ => "a b").mkString(" ")
    val docs = Seq(
      (1L, run, "en", "s", 0L),
      (2L, "a b a b a b", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("bpechunk")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val whole = TextOps.bpeEncode(spark, dir)
    // maxPieces=7 (odd, < the 80-piece component runs): every candidate
    // cut inside a run lands after a COMPONENT piece and must defer.
    val chunked = TextOps.bpeEncodeChunked(spark, dir, maxPieces = 7)
    assert(whole.exceptAll(chunked).isEmpty && chunked.exceptAll(whole).isEmpty)
  }

  test("pair-fanout envelope: broadcast storm tier is result-identical " +
      "to the shuffle tier on a crafted duplicate storm") {
    // 20 IDENTICAL docs — every pair of them collides on all bands, so
    // each has fanout 19 (C(20,2) = 190 pairs); plus one calm exact-dup
    // pair with fanout 1. At fanoutCap = 5 the 20 storm docs cross the
    // envelope and their pairs route through the broadcast tier while
    // the calm pair stays on the shuffle tier; at cap = Long.MaxValue
    // everything is calm. Both dispatches must produce the same rows.
    val template = "the quick brown fox jumps over the lazy dog again " +
      "and again while the cat watches from the warm windowsill"
    val calmText = "an entirely different document about spark shuffle " +
      "partitioning salting and adaptive execution at large scale"
    val docs = ((0L until 20L).map(i => (i, template)) ++
      Seq((100L, calmText), (101L, calmText))).toDF("doc_id", "text")
    val dir = tmpDir("pairstorm")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cand = Dedup.minhashPairs(spark, dir)
    assert(cand.count() == 191) // 190 storm + 1 calm
    val plain = Dedup.verifyPairs(cand, docs, fanoutCap = Long.MaxValue)
    val storm = Dedup.verifyPairs(cand, docs, fanoutCap = 5L)
    // The storm dispatch actually took the two-tier branch: its plan
    // unions the calm and storm tiers; the plain dispatch does not.
    assert(storm.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty)
    assert(plain.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty)
    // Row MULTISETS equal (collected and sorted — exceptAll would hide
    // a duplicated row drifting between branches only if it drifted in
    // both directions at once; a full sorted compare cannot).
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(plain) == rows(storm))
    assert(rows(plain).size == 191)
    // All 191 pairs are exact dups: jaccard 1.0 everywhere.
    assert(plain.where($"jaccard" =!= 1.0).isEmpty)
  }

  test("verify shingle contract: LSH candidates never reference a " +
      "shingle-less doc, and an out-of-contract pair fails loudly") {
    // Structural half: a corpus containing an empty doc produces no
    // candidate touching it (no shingles -> no minhash row -> no bands).
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (999L, "")).toDF("doc_id", "text")
    val dir = tmpDir("shinglecontract")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cand = Dedup.minhashPairs(spark, dir)
    assert(cand.where($"doc_a" === 999L || $"doc_b" === 999L).isEmpty)
    assert(cand.count() == 1)
    // Loud half (ADVICE r16): the old inner join silently DROPPED a
    // candidate referencing a signature-less doc; now it raises with
    // the offending doc_id named.
    val rogue = cand.select($"doc_a", $"doc_b", $"n_band_matches")
      .unionByName(Seq((1L, 999L, 12L))
        .toDF("doc_a", "doc_b", "n_band_matches"))
    val e = intercept[Throwable] {
      Dedup.verifyPairs(rogue, docs).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("no shingle signature") &&
      chain(e).contains("999"))
  }

  test("simhash pair table: auto-dispatched build serves the inline pair set") {
    // Build/serve split (r17 second serving pass): the standing table is
    // written THROUGH the envelope dispatcher, so one table serves
    // regardless of which radius-3-complete construction built it. The
    // serve read must be row-for-row the inline frame — same columns,
    // same dtypes, same pair set (parquet round-trips (long, long, int)
    // bit-exactly).
    val out = tmpDir("graft_simhash_spec") + "/pairs"
    Dedup.buildSimhashPairTable(spark, sf0001, out)
    val inline = Dedup.simhash64NeighborsAuto(spark, sf0001)
    val served = Dedup.simhashPairTable(spark, out)
    assert(served.schema.map(f => (f.name, f.dataType)) ==
      inline.schema.map(f => (f.name, f.dataType)),
      "served read must preserve the inline chain's columns and dtypes")
    val a = inline.collect().map(_.toSeq).toSet
    val b = served.collect().map(_.toSeq).toSet
    assert(a == b, "served pair set must equal the inline pair set")
    assert(served.count() == inline.count(),
      "no multiplicity drift through the parquet round-trip")
  }

  test("span dedup fixture invariants: conservation, reconstruction, effect") {
    val out = TextOps.dedupSpans(spark, SparkSpec.Sf001)
    // Block accounting conserves; the op does real work on the fixture.
    assert(out.where($"n_blocks_kept" + $"n_blocks_removed" =!= $"n_blocks")
      .isEmpty)
    assert(out.agg(sum($"n_blocks_removed")).head().getLong(0) > 0)
    // Untouched docs reconstruct EXACTLY their space-joined token stream.
    val docs = spark.read.parquet(s"${SparkSpec.Sf001}/documents.parquet")
      .select($"doc_id", array_join(TextOps.tokens($"text"), " ").as("orig"))
    val joined = out.join(docs, "doc_id")
    assert(joined.where($"n_blocks_removed" === 0 && $"clean_text" =!= $"orig")
      .isEmpty)
    // Touched docs' clean text is always a (proper) reduction.
    assert(joined.where($"n_blocks_removed" > 0 &&
      length($"clean_text") >= length($"orig")).isEmpty)
  }
}
