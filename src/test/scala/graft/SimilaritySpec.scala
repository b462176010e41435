package graft

import org.apache.spark.sql.functions._
import graft.expressions.DotProduct
import graft.operators.{Compaction, ScaleEnvelope, Similarity}

/** Unit coverage for similarity search: exact baseline sanity, LSH
  * bucketing determinism, and approximate-vs-exact recall. */
class SimilaritySpec extends SparkSpec {

  test("cosine top-k: scores in [-1, 1], k rows per query, rank ordered") {
    val out = Similarity.topkCosine(spark, sf0001).cache()
    try {
      val perQuery = out.groupBy(col("q_id")).count().collect()
      assert(perQuery.nonEmpty)
      perQuery.foreach(r => assert(r.getLong(1) == Similarity.TopK))
      val mm = out.agg(min(col("cosine")), max(col("cosine"))).head()
      assert(mm.getDouble(0) >= -1.0000001 && mm.getDouble(1) <= 1.0000001)
      // rank 1 has the max cosine within each query
      val bad = out.groupBy(col("q_id"))
        .agg(max(col("cosine")).as("mx"),
          max(when(col("rank") === 1, col("cosine"))).as("r1"))
        .where(col("mx") =!= col("r1")).count()
      assert(bad == 0)
    } finally out.unpersist()
  }

  test("MMR: k distinct picks, relevance-first opening, scores non-increasing") {
    val out = Similarity.mmrDiversify(spark, sf0001).cache()
    try {
      // Exactly MmrKeep DISTINCT picks per query.
      val counts = out.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n"), countDistinct(col("vec_id")).as("d"))
        .collect()
      assert(counts.nonEmpty)
      counts.foreach { r =>
        assert(r.getLong(1) == Similarity.MmrKeep && r.getLong(2) == r.getLong(1))
      }
      // With an empty picked set there is no penalty yet, so round 1
      // must agree with the pure relevance argmax.
      val top1 = Similarity.topkCosine(spark, sf0001)
        .where(col("rank") === 1)
        .select(col("q_id"), col("vec_id").as("best"))
      val disagree = out.where(col("mmr_rank") === 1)
        .join(top1, "q_id").where(col("vec_id") =!= col("best")).count()
      assert(disagree == 0, "round 1 must be the relevance argmax")
      // Each round maximizes over a subset with equal-or-larger
      // penalties than the last, so the greedy score sequence can
      // never increase.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("mmr_rank"))
      val rising = out
        .withColumn("prev", lag(col("score"), 1).over(w))
        .where(col("prev").isNotNull && col("score") > col("prev")).count()
      assert(rising == 0, "MMR scores must be non-increasing over rounds")
    } finally out.unpersist()
  }

  test("hard negatives: cross-group only, k per anchor, hardness ordering") {
    val out = Similarity.hardNegatives(spark, SparkSpec.Sf001).cache()
    try {
      val anchors = spark.read
        .parquet(s"${SparkSpec.Sf001}/embeddings.parquet")
        .where(col("vec_id") < Similarity.NumQueries)
        .select(col("vec_id"), col("label"))
        .collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
      val rows = out.collect()
      assert(rows.nonEmpty)
      // Every mined negative sits OUTSIDE its anchor's positive group.
      assert(rows.forall(r => r.getAs[Number]("label").longValue
        != anchors(r.getAs[Long]("q_id"))))
      // Exactly k per anchor, ranks dense, cosine non-increasing.
      rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
        assert(g.length == Similarity.TopK)
        val byRank = g.sortBy(_.getAs[Int]("rank"))
        assert(byRank.map(_.getAs[Int]("rank")).toSeq
          == (1 to Similarity.TopK))
        val cs = byRank.map(_.getAs[Double]("cosine"))
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      }
    } finally out.unpersist()
  }

  test("bitext mining: lang-pure sides, unique best per doc, margin gate") {
    import spark.implicits._
    val out = Similarity.bitextMine(spark, SparkSpec.Sf001).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty, "the margin gate must not be vacuous")
      // One best candidate per language-A doc.
      assert(out.select("a_id").distinct().count() == rows.length)
      // Every kept pair beats the neighborhood-relative bar.
      assert(rows.forall(_.getAs[Double]("margin") > 1.05))
      assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0))
      // Sides are language-pure: a-ids are en docs, b-ids are de docs.
      val langs = spark.read.parquet(s"${SparkSpec.Sf001}/documents.parquet")
        .select($"doc_id", $"lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.forall(r => langs(r.getAs[Long]("a_id")) == "en"
        && langs(r.getAs[Long]("b_id")) == "de"))
      // The micro-unit means make the whole report re-run-identical.
      val again = Similarity.bitextMine(spark, SparkSpec.Sf001).collect()
      assert(rows.toSet == again.toSet)
    } finally out.unpersist()
  }

  test("self-similarity is exactly 1 when the query meets itself") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(3)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val cos = df.select((dot($"v", $"v") /
      (sqrt(dot($"v", $"v")) * sqrt(dot($"v", $"v")))).as("c"))
      .collect().map(_.getDouble(0))
    cos.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("LSH buckets are deterministic across recomputation and partitioning") {
    val a = Similarity.topkCosineLsh(spark, sf0001).collect().toSet
    val b = Similarity.topkCosineLsh(spark, sf0001).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("LSH top-k is a subset-quality approximation of the exact top-k") {
    // sf0.01 (500 vectors) so the 2^6 buckets are actually populated.
    val exact = Similarity.topkCosine(spark, SparkSpec.Sf001)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.topkCosineLsh(spark, SparkSpec.Sf001)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Approximate results must overlap the exact set somewhat
    // (same-bucket ≈ similar hyperplane signs ≈ similar direction).
    assert(approx.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.0, s"LSH found nothing from the exact top-k ($recall)")
  }

  test("IVF top-k: every result's cell is among the query's probed cells") {
    val out = Similarity.topkCosineIvf(spark, SparkSpec.Sf001).cache()
    try {
      assert(out.count() > 0)
      // ≤ k per query, ranks contiguous from 1
      val bad = out.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
        .where(col("n") =!= col("mx")).count()
      assert(bad == 0)
      // IVF and exact top-k overlap (same scored universe, probed cells)
      val exact = Similarity.topkCosine(spark, SparkSpec.Sf001)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivf = out.select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((exact intersect ivf).nonEmpty)
    } finally out.unpersist()
  }

  test("trained centroids: Lloyd improves the spherical k-means objective") {
    // VERDICT r5 ask #4: the trained path must be the default build
    // because centroid QUALITY is what recall at scale rides on. The
    // theorem-backed measure of quality is the spherical k-means
    // objective — mean cosine of every vector to its nearest centroid —
    // which Lloyd monotonically improves (assignment maximizes each
    // term; recentering to the normalized mean maximizes the summed
    // cosine for a fixed assignment). recall@k on the 10-query fixture
    // sample is too noisy to order two centroid sets of similar
    // quality, so the objective is the pinned property; recall keeps a
    // sanity floor.
    val c = Similarity.normalizedCorpus(spark, SparkSpec.Sf001).cache()
    try {
      def objectiveOf(cents: org.apache.spark.sql.DataFrame): Double =
        c.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            (DotProduct.of(col("cv"), col("v")) /
              (col("cnv") * col("nv"))).as("ccos"))
          .groupBy(col("vec_id")).agg(max(col("ccos")).as("best"))
          .agg(avg(col("best"))).head().getDouble(0)
      val k = Similarity.centroidCountFor(c.count())
      val trained = objectiveOf(Similarity.trainedCentroidsOf(c))
      val seed = objectiveOf(Similarity.seedCentroidsOf(c, k))
      assert(trained >= seed - 1e-9,
        s"Lloyd refinement worsened the objective: $trained < $seed")
      // Sanity floor: the trained index still finds real neighbors.
      val exact = Similarity.topkCosine(spark, SparkSpec.Sf001)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivf = Similarity.topkCosineIvf(spark, SparkSpec.Sf001)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((exact intersect ivf).nonEmpty,
        "trained IVF found nothing from the exact top-k")
    } finally c.unpersist()
  }

  test("centroid count: sqrt regime below the cell-cap crossover") {
    import Similarity._
    assert(centroidCountFor(1) == MinCentroids)
    assert(centroidCountFor(256) == MinCentroids)       // sqrt = 16 exactly
    assert(centroidCountFor(257) == 17)                 // one past: ceil widens
    assert(centroidCountFor(500) == 23)
    assert(centroidCountFor(5000) == 71)
    assert(centroidCountFor(1000000) == 1000)
    // Past the ScaleEnvelope crossover (N = c*² = 10⁸) the derivation
    // is ⌈N/c*⌉ — cells capped at c* members, within-cell pair work
    // LINEAR in N (the r9 prose envelope, now code; the sqrt form
    // would hand 10⁹-vector cells 31623 members each, N^1.5 pairs).
    assert(centroidCountFor(1000000000L) == 100000) // exact: 10⁹/c*
    // k/N → 1/c* as N grows: the centroid table stays a vanishing
    // fraction of the corpus (broadcastable through ~10¹⁰ vectors;
    // past that the assignment moves to a shuffle join — documented
    // at trainedCentroidsOf).
    assert(centroidCountFor(1000000000L).toDouble / 1000000000L <= 1.1e-4)
    // And the trained set really carries k centroids at fixture scale.
    val c = Similarity.normalizedCorpus(spark, sf0001)
    val n = c.count()
    assert(Similarity.trainedCentroidsOf(c).count() == centroidCountFor(n))
  }

  test("dot_d: bit-identical to the HOF fold, null on mismatch/nulls") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sf0001).limit(200)
      .select(
        transform(col("embedding"), x => x.cast("double")).as("a"),
        transform(reverse(col("embedding")), x => x.cast("double")).as("b"))
    val fold = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    // Bit-exact equality, not tolerance: identical accumulation order.
    assert(vecs.where(DotProduct.of(col("a"), col("b")) =!= fold).isEmpty)
    val edge = spark.range(1).select(
      DotProduct.of(array(lit(1.0), lit(2.0)), array(lit(3.0)))
        .as("mismatch"),
      DotProduct.of(array(lit(1.0), lit(null).cast("double")),
        array(lit(3.0), lit(4.0))).as("nul"),
      DotProduct.of(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0)))
        .as("ok"))
      .head()
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) == 11.0)
  }

  test("dot_d over float32 arrays is bit-identical to the double cast " +
      "form (r18 widening pin)") {
    // The r18 rescore paths ship RAW float32 vectors through the join
    // and widen inside dot_d — sound only if widen-then-multiply equals
    // cast-the-array-then-multiply, elementwise and in accumulation
    // order. Pin it on real fixture vectors, both pure-float and the
    // MIXED (float, double) case the hyperplane dots use.
    val v = Tables.embeddings(spark, sf0001).limit(200)
      .select(col("embedding").as("f"),
        transform(col("embedding"), x => x.cast("double")).as("d"),
        reverse(col("embedding")).as("fr"),
        transform(reverse(col("embedding")), x => x.cast("double")).as("dr"))
    val got = v.select(
      DotProduct.of(col("f"), col("fr")).as("ff"),
      DotProduct.of(col("d"), col("dr")).as("dd"),
      DotProduct.of(col("f"), col("dr")).as("fd"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1),
        s"float/float dot diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(r.getDouble(2) == r.getDouble(1),
        s"mixed dot diverged: ${r.getDouble(2)} vs ${r.getDouble(1)}")
    }
    // Null / length-mismatch edges keep the zip_with semantics on the
    // float path too.
    val edge = spark.range(1).select(
      DotProduct.of(array(lit(1.0f), lit(2.0f)), array(lit(3.0f)))
        .as("mismatch"),
      DotProduct.of(array(lit(1.0f)), array(lit(null).cast("float")))
        .as("nul"))
      .head()
    assert(edge.isNullAt(0) && edge.isNullAt(1))
  }

  test("kmeansRefine: complete dims per cell, deterministic, moves centroids") {
    import org.apache.spark.sql.functions._
    val c = Similarity.normalizedCorpus(spark, sf0001)
    val nSeeds = Similarity.centroidCountFor(c.count())
    val refined = Similarity.kmeansRefineOf(c, 2, nSeeds)
    val dims = refined.groupBy("cell").count()
    // k stays k: every seed cell survives (empty-cluster guard), with
    // all of its dims.
    assert(dims.count() == nSeeds && nSeeds > 0 &&
      dims.where(col("count") =!= Similarity.Dim).isEmpty)
    // Deterministic: a second run returns identical components.
    val again = Similarity.kmeansRefineOf(
      Similarity.normalizedCorpus(spark, sf0001), 2, nSeeds)
    assert(refined.exceptAll(again).isEmpty && again.exceptAll(refined).isEmpty)
    // Refinement actually moved at least one centroid off its seed.
    val seeds = Similarity.seedCentroidsOf(c, nSeeds)
      .select(col("cent_id").as("cell"),
        posexplode(col("cv")).as(Seq("dim", "sx")))
    val moved = refined.join(seeds, Seq("cell", "dim"))
      .where(abs(col("mean_x") - col("sx")) > 1e-9)
    assert(moved.count() > 0)
  }

  test("quantization: codes span [0, levels-1], extremes map to the ends") {
    val q = Similarity.quantizeEmbeddings(spark, sf0001)
    assert(q.where(col("code") < 0 ||
      col("code") > Similarity.QuantLevels - 1).isEmpty)
    // Per dim, the corpus min encodes to 0 and the max to levels-1.
    val ends = q.groupBy(col("dim"))
      .agg(min(col("code")).as("lo"), max(col("code")).as("hi"))
    assert(ends.where(col("lo") =!= 0 ||
      col("hi") =!= Similarity.QuantLevels - 1).isEmpty)
    // Monotone within every dim: higher x never gets a lower code.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dim")).orderBy(col("x"))
    assert(q.withColumn("prev", lag(col("code"), 1).over(w))
      .where(col("prev").isNotNull && col("code") < col("prev")).isEmpty)
  }

  test("knnJoin: k per vector max, no self-pairs, banded-bucket-consistent") {
    val knn = Similarity.knnJoin(spark, sf0001).cache()
    try {
      assert(knn.count() > 0)
      assert(knn.where(col("vec_id") === col("nn_id")).isEmpty)
      assert(knn.groupBy(col("vec_id")).count()
        .where(col("count") > Similarity.KnnK).isEmpty)
      // Every (vec, neighbor) pair really collides in ≥ 1 banded table:
      // recompute the (tbl, sig) rows and anti-join the knn pairs
      // against the collision set.
      val n = Tables.embeddings(spark, sf0001).count()
      val sigs = Similarity.bandedSignatureRows(
        Similarity.normalizedCorpus(spark, sf0001),
        Similarity.tablePlanesFor(n))
      val collisions = sigs.as("a")
        .join(sigs.select(col("vec_id").as("nn_id"), col("tbl"),
          col("sig")).as("b"), Seq("tbl", "sig"))
        .select(col("vec_id"), col("nn_id")).distinct()
      assert(knn.select(col("vec_id"), col("nn_id"))
        .join(collisions, Seq("vec_id", "nn_id"), "left_anti").isEmpty,
        "knnJoin returned a neighbor that shares no banded bucket")
    } finally knn.unpersist()
  }

  test("banded width: integer-derived, occupancy-bounded, monotone") {
    import Similarity._
    // At or below TargetBucket·2^MinTablePlanes the width floors.
    assert(tablePlanesFor(1) == MinTablePlanes)
    assert(tablePlanesFor(TargetBucket.toLong << MinTablePlanes) == MinTablePlanes)
    // Expected occupancy n/2^h stays ≤ TargetBucket through the whole
    // scalable range — the property the fixed 64-bucket domain lacked.
    val probes = Seq(500L, 5000L, 1000000L, 100000000L,
      TargetBucket.toLong << MaxTablePlanes)
    probes.foreach { n =>
      val h = tablePlanesFor(n)
      assert(n.toDouble / (1L << h) <= TargetBucket,
        s"occupancy ${n.toDouble / (1L << h)} > $TargetBucket at n=$n")
    }
    // Boundary exactness: one vector past the cutoff widens by one bit.
    assert(tablePlanesFor((TargetBucket.toLong << 10)) == 10)
    assert(tablePlanesFor((TargetBucket.toLong << 10) + 1) == 11)
    // UNCAPPED past the old 24-plane ceiling (the §8.8 manual envelope,
    // now ScaleEnvelope code): one vector past TargetBucket·2²⁴ derives
    // 25 planes, and even Long.MaxValue derives h = 58 < AbsMaxPlanes —
    // occupancy stays bounded at every reachable corpus size.
    assert(tablePlanesFor(TargetBucket.toLong << MaxTablePlanes)
      == MaxTablePlanes)
    assert(tablePlanesFor((TargetBucket.toLong << MaxTablePlanes) + 1)
      == MaxTablePlanes + 1)
    assert(tablePlanesFor(Long.MaxValue) == 58)
    assert(tablePlanesFor(Long.MaxValue) <= ScaleEnvelope.AbsMaxPlanes)
  }

  test("banded near-dup recall ≥ the old fixed-64-bucket single table") {
    // Ground truth at sf0.01 (500 vectors): all pairs with cosine > τ
    // by brute force, τ = 0.2 so the truth set is populated (random
    // 64-dim vectors rarely exceed 0.5). The banded operator (B
    // tables, width from corpus size) must recall at least as many
    // true pairs as a single fixed 6-plane table — the VERDICT r6 bar
    // for replacing the domain.
    val tau = 0.2
    val c = Similarity.normalizedCorpus(spark, SparkSpec.Sf001).cache()
    try {
      val a = c.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nv").as("na"))
      val b = c.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nv").as("nb"))
      val truth = a.crossJoin(b).where(col("vec_a") < col("vec_b"))
        .where(DotProduct.of(col("va"), col("vb")) /
          (col("na") * col("nb")) > tau)
        .select(col("vec_a"), col("vec_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = Similarity.embeddingNearDup(spark, SparkSpec.Sf001, tau)
        .select(col("vec_a"), col("vec_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val old = {
        val bn = c.withColumn("bucket", Similarity.bucketOf(col("v")))
        // old shape: single 6-plane bucket equi-join
        val x = bn.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("nv").as("na"), col("bucket"))
        val y = bn.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("nv").as("nb"), col("bucket"))
        x.join(y, Seq("bucket")).where(col("vec_a") < col("vec_b"))
          .where(DotProduct.of(col("va"), col("vb")) /
            (col("na") * col("nb")) > tau)
          .select(col("vec_a"), col("vec_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(truth.nonEmpty && banded.subsetOf(truth))
      assert((truth intersect banded).size >= (truth intersect old).size,
        s"banding lost recall: ${(truth intersect banded).size} < " +
          s"${(truth intersect old).size} of ${truth.size} true pairs")
    } finally c.unpersist()
  }

  test("incremental IVF append equals a rebuild over the same centroid set") {
    val dir = tmpDir("ivf_inc")
    val emb = Tables.embeddings(spark, sf0001)
    val inc = emb.where(col("vec_id") % 7 === 3)
    val base = emb.join(inc.select("vec_id"), Seq("vec_id"), "left_anti")
    Similarity.buildIvfIndexBatch(spark, base, s"$dir/a",
      Compaction.BootstrapBatchId)
    Similarity.appendToIvfIndexBatch(spark, inc, s"$dir/a", 0L)
    // The rebuild must hold the centroid set FIXED (the production
    // contract: appends never retrain; cells retrain only on a full
    // rebuild). Since round 6 builds TRAIN their centroids, a full-corpus
    // training run would diverge from the base-only one by construction —
    // so rebuild b against index a's persisted centroids.
    ivfRebuildWith(s"$dir/a", emb, s"$dir/b")
    // batch_id is provenance (two batches in a, one in b), not content.
    val pa = spark.read.parquet(s"$dir/a/postings").drop("batch_id")
    val pb = spark.read.parquet(s"$dir/b/postings").drop("batch_id")
    assert(pa.count() == emb.count(), "every vector posted exactly once")
    assert(pa.exceptAll(pb).isEmpty && pb.exceptAll(pa).isEmpty,
      "append-maintained postings are bit-identical to the rebuild")
    // And serving from the maintained index answers identically.
    val queries = Similarity.queriesOf(emb)
    val sa = Similarity.queryIvfIndex(spark, s"$dir/a", queries)
    val sb = Similarity.queryIvfIndex(spark, s"$dir/b", queries)
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty)
  }

  test("IVF recall holds after k incremental appends (index-drift check)") {
    // The drift scenario the report exists to catch: centroids trained
    // on a 25% bootstrap corpus, then THREE append cycles triple the
    // index without ever retraining (the production append contract).
    // Recall against the exact full-corpus top-k must stay above the
    // floor — if appends degraded the cell geometry badly, it won't.
    val idx = tmpDir("ivf_drift")
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.buildIvfIndexBatch(spark, emb.where(col("vec_id") % 4 === 0),
      idx, Compaction.BootstrapBatchId)
    (1 to 3).foreach { r =>
      Similarity.appendToIvfIndexBatch(spark,
        emb.where(col("vec_id") % 4 === r), idx, r.toLong)
    }
    val queries = Similarity.queriesOf(emb)
    val exact = Similarity.topkCosine(spark, sf0001)
    def meanRecall(indexPath: String): Double =
      Similarity.recallReportOf(
        Similarity.queryIvfIndex(spark, indexPath, queries), exact,
        Similarity.TopK).agg(avg(col("recall"))).head().getDouble(0)
    // The comparison that actually measures DRIFT: the same corpus
    // served from a fresh full-corpus-trained index at identical
    // k/nprobe settings. Absolute recall at nprobe=2 is a geometry
    // constant, not a health signal; the maintained-vs-fresh gap is.
    val fresh = tmpDir("ivf_fresh")
    Similarity.buildIvfIndexBatch(spark, emb, fresh,
      Compaction.BootstrapBatchId)
    val maintained = meanRecall(idx)
    val freshRecall = meanRecall(fresh)
    assert(maintained >= 0.7 * freshRecall,
      f"maintained-index recall $maintained%.3f fell below 70%% of the " +
        f"fresh-build recall $freshRecall%.3f after 3 unretrained appends")
    assert(Similarity.recallReportOf(
      Similarity.queryIvfIndex(spark, idx, queries), exact,
      Similarity.TopK).count() == Similarity.NumQueries)
  }

  test("persisted IVF index serves results identical to the in-memory plan") {
    val idx = tmpDir("ivf_idx")
    Similarity.buildIvfIndexBatch(spark, Tables.embeddings(spark, sf0001),
      idx, Compaction.BootstrapBatchId)
    // Postings landed hive-partitioned by cell (the pruning layout).
    val cellDirs = new java.io.File(
        s"$idx/postings/batch_id=${Compaction.BootstrapBatchId}").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > 1)
    val queries = Similarity.queriesOf(Tables.embeddings(spark, sf0001))
    val served = Similarity.queryIvfIndex(spark, idx, queries)
      .select("q_id", "vec_id", "cell", "cosine", "rank")
    val inMem = Similarity.topkCosineIvf(spark, sf0001)
      .select("q_id", "vec_id", "cell", "cosine", "rank")
    assert(served.count() > 0)
    assert(served.exceptAll(inMem).isEmpty && inMem.exceptAll(served).isEmpty)
    // The probe scan prunes: the postings scan must carry a NON-EMPTY
    // PartitionFilters list (dynamic partition pruning from the probe
    // join). A bare plan.contains("cell") would be vacuously true —
    // cell is a column name everywhere in the plan.
    val pruned = Similarity.queryIvfIndex(spark, idx, queries)
    pruned.collect() // finalize the adaptive plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined ||
      plan.toLowerCase.contains("dynamicpruning"),
      s"postings scan shows no partition pruning:\n$plan")
  }

  test("semDedup served from the persisted index == in-query semDedup") {
    // The r10 build/serve split: zero training and zero assignment at
    // serve, yet bit-identical output — cells come from the postings
    // the shared assignCells wrote, cent_cos from the same IEEE
    // expression over parquet-exact operands.
    val idx = tmpDir("semdedup_idx")
    Similarity.buildIvfIndexBatch(spark, Tables.embeddings(spark, sf0001),
      idx, Compaction.BootstrapBatchId)
    val inQuery = Similarity.semDedup(spark, sf0001)
    val served = Similarity.semDedupServed(spark, idx)
    assert(served.count() == inQuery.count() && served.count() > 0)
    assert(served.exceptAll(inQuery).isEmpty &&
      inQuery.exceptAll(served).isEmpty,
      "served semDedup diverged from the in-query form")
    // And it genuinely dropped something (not a vacuous identity).
    assert(served.where(col("is_dropped")).count() > 0)
  }

  test("semDedup: partition of the corpus, drop rule honored, real drops") {
    import org.apache.spark.sql.functions._
    val out = Similarity.semDedup(spark, SparkSpec.Sf001)
    val n = spark.read.parquet(s"${SparkSpec.Sf001}/embeddings.parquet").count()
    // Every vector verdict-ed exactly once.
    assert(out.count() == n &&
      out.select("vec_id").distinct().count() == n)
    // The threshold does real work on the fixture, but never nukes the
    // corpus (cluster-scoped dedup keeps a survivor per dup group).
    val dropped = out.where(col("is_dropped")).count()
    assert(dropped > 0 && dropped < n / 2,
      s"semDedup dropped $dropped of $n at eps=${Similarity.SemDedupEps}")
    // Survivor-per-cell: no cell with members loses ALL of them —
    // within a cell the pairwise keep rule always leaves the member
    // with the minimum (cent_cos, -vec_id) standing (it cannot lose
    // any pairwise comparison).
    val cellsWithAllDropped = out.groupBy(col("cell"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("d"))
      .where(col("m") === col("d"))
    assert(cellsWithAllDropped.isEmpty)
    // Deterministic across recomputation (hash-sample seed + exact math).
    val again = Similarity.semDedup(spark, SparkSpec.Sf001)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("embedding pair table: EMPTY build round-trips schema and serves zero pairs") {
    // The sf0.001 corpus legitimately produces NO near-dup pair, so the
    // standing-table build writes an empty parquet — the one case the
    // sf0.01 oracle gate (non-empty there) cannot see. The serve path
    // must come back with the inline chain's exact column shape, not an
    // inference failure or a schemaless frame.
    val out = tmpDir("graft_embpairs_spec") + "/pairs"
    Similarity.buildEmbeddingPairTable(spark, sf0001, out)
    val inline = Similarity.embeddingNearDup(spark, sf0001)
    val served = Similarity.embeddingPairTable(spark, out)
    assert(inline.isEmpty, "fixture contract: sf0.001 has no near-dup pair")
    assert(served.isEmpty)
    assert(served.schema.map(f => (f.name, f.dataType)) ==
      inline.schema.map(f => (f.name, f.dataType)),
      "served read must preserve the inline chain's columns and dtypes")
  }

  test("hyperplanes are reproducible constants") {
    val w = Similarity.hyperplanes
    assert(w.length == Similarity.NumTables * ScaleEnvelope.AbsMaxPlanes &&
      w.head.length == Similarity.Dim)
    assert(w.flatten.forall(x => x >= -1.0 && x < 1.0))
    // spot value pinned: md5("w:0:0") first 4 hex digits
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("w:0:0".getBytes("UTF-8")).take(2).map(b => f"$b%02x").mkString
    assert(w(0)(0) == (Integer.parseInt(hex, 16) - 32768).toDouble / 32768.0)
  }
}
