package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Pq, Similarity, Takedown}

/** Product quantization: structure, determinism, and the property PQ
  * exists for — ADC ranking over 4-byte codes still finds real
  * neighbors found by exact search over full vectors. */
class PqSpec extends SparkSpec {

  test("codebooks: M×K entries, SubDim-wide, deterministic") {
    val c = Similarity.normalizedCorpus(spark, sf0001)
    val books = Pq.codebooksOf(c).cache()
    try {
      assert(books.count() == Pq.Subspaces * Pq.Codes)
      assert(books.where(size(col("cv")) =!= Pq.SubDim).isEmpty)
      assert(books.select(col("m")).distinct().count() == Pq.Subspaces)
      val again = Pq.codebooksOf(c)
      assert(books.exceptAll(again).isEmpty && again.exceptAll(books).isEmpty,
        "codebook training is not deterministic")
    } finally books.unpersist()
  }

  test("codes: every vector gets exactly M codes in [0, K)") {
    val c = Similarity.normalizedCorpus(spark, sf0001)
    val codes = Pq.encodeOf(c, Pq.codebooksOf(c)).cache()
    try {
      val n = c.count()
      assert(codes.count() == n * Pq.Subspaces)
      assert(codes.groupBy(col("vec_id")).count()
        .where(col("count") =!= Pq.Subspaces).isEmpty)
      assert(codes.where(col("code") < 0 ||
        col("code") >= Pq.Codes).isEmpty)
      // The codebooks are actually used non-trivially: more than one
      // code per subspace appears.
      assert(codes.select(col("m"), col("code")).distinct().count()
        > Pq.Subspaces)
    } finally codes.unpersist()
  }

  test("ADC top-k finds exact-search neighbors (compression keeps recall)") {
    val adc = Pq.adcTopk(spark, sf0001, k = 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.topkCosine(spark, sf0001, k = 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adc.nonEmpty)
    val recall = (adc intersect exact).size.toDouble / exact.size
    // 4 bytes against 256 float bytes: a weak bar on purpose, but a
    // broken LUT/encode degenerates to ~random (recall ≈ k/N ≈ 0.02)
    // and fails this hard.
    assert(recall >= 0.199, s"ADC recall collapsed: $recall")
  }

  test("ADC ranking is deterministic under repartitioning") {
    val a = Pq.adcTopk(spark, sf0001)
    val b = Pq.adcTopk(spark, sf0001)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("IVF-PQ: candidates come only from probed cells; served == in-query") {
    val ivfIdx = tmpDir("ivfpq_ivf")
    val pqIdx = tmpDir("ivfpq_pq")
    Similarity.buildIvfIndexBatch(spark, Tables.embeddings(spark, sf0001),
      ivfIdx, Compaction.BootstrapBatchId)
    Pq.buildPqIndex(spark, sf0001, pqIdx)
    val inQuery = Pq.ivfPqTopk(spark, sf0001)
    val served = Pq.ivfPqTopkServed(spark, sf0001, ivfIdx, pqIdx)
    assert(served.count() > 0)
    assert(served.exceptAll(inQuery).isEmpty &&
      inQuery.exceptAll(served).isEmpty,
      "served IVF-PQ diverged from the in-query composition")
    // Cell discipline: every result's vector must live in one of its
    // query's probed cells (the pruning IS the operator).
    val cells = spark.read.parquet(s"$ivfIdx/postings")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val resultCells = served.join(cells, "vec_id")
      .select(col("q_id"), col("cell"))
    // And IVF-PQ is a strict subset of flat ADC's candidate pool —
    // results agree with flat ADC wherever cells allow.
    val flat = Pq.adcTopk(spark, sf0001, k = 50)
      .select(col("q_id"), col("vec_id"), col("adc").as("adc_flat"))
    val joined = served.join(flat, Seq("q_id", "vec_id"))
    assert(joined.where(col("adc") =!= col("adc_flat")).isEmpty,
      "IVF-PQ scored a shared candidate differently than flat ADC")
    assert(resultCells.count() == served.count())
  }

  test("serving from the persisted PQ index == in-query train+serve") {
    val idx = tmpDir("pq_idx")
    Pq.buildPqIndex(spark, sf0001, idx)
    // The index is real: books and codes landed as parquet.
    assert(spark.read.parquet(s"$idx/books").count()
      == Pq.Subspaces * Pq.Codes)
    val inQuery = Pq.adcTopk(spark, sf0001)
    val served = Pq.adcTopkServed(spark, sf0001, idx)
    assert(served.count() == inQuery.count() && served.count() > 0)
    assert(served.exceptAll(inQuery).isEmpty &&
      inQuery.exceptAll(served).isEmpty,
      "served ADC diverged from the in-query pipeline")
  }

  test("a takedown recorded through the PQ kind leaves both served paths") {
    val ivfIdx = tmpDir("pqtd_ivf")
    val pqIdx = tmpDir("pqtd_pq")
    Similarity.buildIvfIndexBatch(spark, Tables.embeddings(spark, sf0001),
      ivfIdx, Compaction.BootstrapBatchId)
    Pq.buildPqIndex(spark, sf0001, pqIdx)
    def adc = Pq.adcTopkServed(spark, sf0001, pqIdx)
    def ivfPq = Pq.ivfPqTopkServed(spark, sf0001, ivfIdx, pqIdx)
    def vecIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // Take down every query's best hit on either path.
    val dead = vecIds(adc.where(col("rank") === 1)) ++
      vecIds(ivfPq.where(col("rank") === 1))
    assert(dead.nonEmpty, "no served rows — vacuous")
    import spark.implicits._
    // Through the orchestrator's PQ leg (a doc's vector is keyed by its
    // doc id), as a deployment records it.
    val targets = Takedown.TakedownTargets(pqIndexPath = Some(pqIdx))
    val manifest = tmpDir("pqtd_manifest")
    Takedown.takedownAll(spark, dead.toSeq.toDF("doc_id"), 0L, targets,
      manifest)
    assert(Takedown.manifestComplete(spark, manifest, 0L, targets))
    val cert = Takedown.erasureCertificate(spark,
      dead.toSeq.toDF("doc_id"), targets).collect()
    // One certificate row for the leg: codes still served, none dead.
    assert(cert.map(r => (r.getString(0), r.getLong(1) > 0L, r.getLong(2)))
      .toSeq == Seq(("pq", true, 0L)), s"PQ certificate: ${cert.toSeq}")
    val adcAfter = vecIds(adc)
    val ivfPqAfter = vecIds(ivfPq)
    assert(adcAfter.nonEmpty && ivfPqAfter.nonEmpty)
    assert((adcAfter intersect dead).isEmpty,
      "flat ADC served a vector taken down under the PQ index")
    assert((ivfPqAfter intersect dead).isEmpty,
      "IVF-PQ served a vector taken down under the PQ index")
  }
}
