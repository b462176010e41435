package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.DotProduct

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory side of
  * billion-scale ANN: a D-dim float vector compresses to M subspace
  * code bytes (here 64 dims → 8 codes over 32-centroid codebooks,
  * 32× smaller than float32), and queries score candidates WITHOUT
  * touching the original vectors via an asymmetric-distance lookup
  * table (ADC): approx⟨q, x⟩ = Σ_m LUT[m][code_m(x)], where LUT is the
  * query's dot product with every codebook centroid — M·K = 256 entries
  * per query, broadcast everywhere.
  *
  * Scale shape: codebook training touches K·M tiny centroids (a
  * build artifact, same tier as the IVF build); encoding is one
  * broadcast join + per-row argmin (map-only, linear); ADC serving
  * scans CODES (M longs/vector instead of D floats — the bandwidth
  * win IS the point) joined against a broadcast LUT, with the final
  * top-k through per-query heaps. At 100 TB of embeddings the codes
  * table is the only thing the query reads.
  *
  * Engine-exact determinism (house discipline): the k-means seed is
  * the hash-sample ranking ([[Similarity.seedCentroidsOf]]'s rule),
  * one Lloyd round refines with 9-dp-rounded means (the
  * [[Similarity]] k-means precedent), distances come from three
  * native dot products combined in a FIXED association
  * ((⟨x,x⟩ − 2⟨x,c⟩) + ⟨c,c⟩ — no per-element HOF lambdas on the hot
  * path), and every ADC table entry is micro-unit fixed-point rounded
  * BEFORE the per-candidate sum, so the ranking key is an
  * order-insensitive exact-long sum (the BM25/Learn lesson). The
  * DuckDB twin replays training, encoding, and serving bit-for-bit. */
object Pq {

  /** Subspaces (codes per vector). 64 dims / 8 = 8 dims each —
    * chosen over coarser (4×16-dim) books empirically: on the fixture
    * corpus the finer grid lifts ADC@10 recall from 0.11 to over 3×
    * the ~0.05 random floor while codes still pack into one long. */
  val Subspaces = 8
  val SubDim: Int = Similarity.Dim / Subspaces
  /** Centroids per codebook: codes fit 5 bits; K·M = 256 LUT entries. */
  val Codes = 32
  /** Lloyd rounds per codebook (seed → one refinement — the build-cost
    * vs quality balance at the fixture; a deployment raises it on the
    * build tier where it belongs). */
  val Iterations = 1
  /** Fixed-point scale for ADC table entries. */
  val Micro = 1000000L

  /** m-th subspace slice of a D-dim vector column (1-based slice). */
  private def sub(v: Column, m: Int): Column =
    slice(v, m * SubDim + 1, SubDim)

  /** Squared L2 distance from three exact dots, fixed association. */
  private def dist2(x: Column, c: Column): Column =
    DotProduct.of(x, x) - lit(2.0) * DotProduct.of(x, c) + DotProduct.of(c, c)

  /** Trained codebooks: (m, code, cv) — `code` ∈ [0, Codes) dense by
    * seed-centroid id order, `cv` a SubDim vector. The seed is the
    * SAME hash-sampled K vectors for every subspace (their m-slices),
    * then [[Iterations]] Lloyd rounds at subspace grain with the
    * keep-seed-on-empty-cell guard and 9-dp mean rounding. */
  def codebooksOf(c: DataFrame): DataFrame = {
    val seeds = Similarity.seedCentroidsOf(c, Codes)
      .withColumn("code",
        row_number().over(Window.orderBy(col("cent_id"))) - 1)
    var books = seeds.select(
      explode(array((0 until Subspaces).map(m =>
        struct(lit(m).as("m"), col("code"),
          sub(col("cv"), m).as("cv"))): _*)).as("b"))
      .select(col("b.m").as("m"), col("b.code").as("code"),
        col("b.cv").as("cv"))
    val slices = c.select(col("vec_id") +:
      (0 until Subspaces).map(m => sub(col("v"), m).as(s"s$m")): _*)
    for (_ <- 1 to Iterations) {
      val assigned = slices
        .select(col("vec_id"),
          explode(array((0 until Subspaces).map(m =>
            struct(lit(m).as("m"), col(s"s$m").as("x"))): _*)).as("sx"))
        .select(col("vec_id"), col("sx.m").as("m"), col("sx.x").as("x"))
        .join(broadcast(books), Seq("m"))
        .select(col("vec_id"), col("m"), col("code"), col("x"),
          dist2(col("x"), col("cv")).as("d2"))
        .withColumn("r", row_number().over(Window
          .partitionBy(col("vec_id"), col("m"))
          .orderBy(col("d2").asc, col("code").asc)))
        .where(col("r") === 1)
      val means = assigned
        .select(col("m"), col("code"),
          posexplode(col("x")).as(Seq("dim", "xv")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(round(avg(col("xv")), 9).as("cx"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
          .as("pairs"))
        .select(col("m"), col("code"),
          transform(col("pairs"), p => p.getField("cx")).as("cv"))
      // Empty-code guard: a codebook entry that attracted no vectors
      // keeps its previous centroid (the k-means precedent).
      books = books.as("old")
        .join(means.as("new"), Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("new.cv"), col("old.cv")).as("cv"))
    }
    books
  }

  /** PQ codes: (vec_id, m, code) — each vector's nearest codebook
    * entry per subspace, argmin tie-broken (d2 asc, code asc). */
  def encodeOf(c: DataFrame, books: DataFrame): DataFrame =
    c.select(col("vec_id"),
        explode(array((0 until Subspaces).map(m =>
          struct(lit(m).as("m"), sub(col("v"), m).as("x"))): _*)).as("sx"))
      .select(col("vec_id"), col("sx.m").as("m"), col("sx.x").as("x"))
      .join(broadcast(books), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        dist2(col("x"), col("cv")).as("d2"))
      .withColumn("r", row_number().over(Window
        .partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d2").asc, col("code").asc)))
      .where(col("r") === 1)
      .select(col("vec_id"), col("m"), col("code"))

  /** ADC top-k: the first [[Similarity.NumQueries]] vectors query the
    * PQ-coded corpus. Per query the LUT (m, code → micro-rounded
    * ⟨q_m, c⟩) is M·K rows, broadcast; each candidate's approximate
    * dot is the EXACT-LONG sum of its M table entries (micro-unit
    * rounding before the sum — order-insensitive), ranked desc with
    * vec_id tie-break. Emits (q_id, vec_id, adc, rank). */
  /** UNIT vectors (v/‖v‖) before any quantization: ADC then
    * approximates COSINE — the criterion the exact tier ranks by —
    * instead of a norm-polluted raw dot (which quietly costs recall
    * against the cosine ground truth). Element-wise division is
    * IEEE-exact and mirrored by the twin's list_transform. */
  private def unitCorpus(spark: SparkSession, dir: String): DataFrame =
    Similarity.normalizedCorpus(spark, dir)
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nv")).as("v"),
        lit(1.0).as("nv"))

  def adcTopk(spark: SparkSession, dir: String,
              k: Int = Similarity.TopK): DataFrame = {
    val c = unitCorpus(spark, dir)
    val books = codebooksOf(c)
    adcServe(c, codes = encodeOf(c, books), books = books, k = k)
  }

  /** Persist the PQ index: `books` (M·K centroid rows) + `codes` (M
    * longs per vector — the compressed corpus, THE thing a 100 TB
    * serving scan reads). Train once, serve many — the same
    * build-artifact policy as the IVF index. */
  def buildPqIndex(spark: SparkSession, dir: String,
                   indexPath: String): Unit = {
    val c = unitCorpus(spark, dir)
    val books = codebooksOf(c)
    require(!books.isEmpty,
      s"refusing to build PQ index at $indexPath with zero codebooks")
    books.write.mode("overwrite").parquet(s"$indexPath/books")
    encodeOf(c, books)
      .write.mode("overwrite").parquet(s"$indexPath/codes")
  }

  /** Serve ADC top-k from a persisted [[buildPqIndex]] index —
    * result-identical to the in-query [[adcTopk]] (parquet round-trips
    * the 9-dp codebook doubles and the code longs exactly, and the LUT
    * is recomputed from the same operands), so the two paths share one
    * DuckDB twin: build/serve identity is driver-hash-verified. Only
    * the QUERY vectors touch the raw corpus; candidates are scored
    * entirely from codes. */
  def adcTopkServed(spark: SparkSession, dir: String, indexPath: String,
                    k: Int = Similarity.TopK): DataFrame = {
    val root = Compaction.resolveRoot(spark, indexPath)
    adcServe(unitCorpus(spark, dir),
      // Takedown-aware (r13): taken-down vectors' codes leave the
      // candidate set (the PQ kind's deletes, vec_id-keyed like IVF's).
      codes = Compaction.Kind.Pq.live(
        spark.read.parquet(s"$root/codes"), root),
      books = spark.read.parquet(s"$root/books"), k = k)
  }

  /** The shared ADC serve tail: per-query LUT (m, code → micro-rounded
    * ⟨q_m, c⟩) broadcast against the codes table, candidate score =
    * exact-long sum of M entries, per-query rank (adc desc, vec_id
    * asc). ONE definition so in-query and served forms cannot drift. */
  private def adcServe(c: DataFrame, codes: DataFrame, books: DataFrame,
                       k: Int): DataFrame = {
    val lut = lutOf(c, books)
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lut_c")).as("adc"))
    rankTopk(scored, k)
  }

  /** The query ADC table: (q_id, m, code, lut_c) — micro-rounded
    * ⟨q_m, centroid⟩ for every codebook entry, M·K rows per query. */
  private def lutOf(c: DataFrame, books: DataFrame): DataFrame =
    c.where(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .select(col("q_id"),
        explode(array((0 until Subspaces).map(m =>
          struct(lit(m).as("m"), sub(col("qv"), m).as("qx"))): _*)).as("sq"))
      .select(col("q_id"), col("sq.m").as("m"), col("sq.qx").as("qx"))
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        round(DotProduct.of(col("qx"), col("cv")) * lit(Micro))
          .cast("long").as("lut_c"))

  private def rankTopk(scored: DataFrame, k: Int): DataFrame =
    Ranking.topK(scored, part = Seq(col("q_id")),
        ord = Seq(col("adc").desc, col("vec_id").asc), k = k)
      .select(col("q_id"), col("vec_id"), col("adc"),
        col("rank").cast("int").as("rank"))

  /** IVF-PQ (the FAISS IVFPQ composition, Jégou et al. §V): coarse IVF
    * cells bound WHO is scored, PQ codes bound WHAT scoring reads — a
    * query probes its [[Similarity.NumProbes]] nearest cells and
    * ADC-scores only their members, entirely from codes. At 100 TB
    * this composes the two scale levers: partition pruning cuts the
    * candidate set to NumProbes/k of the corpus, code compression cuts
    * the bytes per candidate 32× — neither alone carries
    * billion-vector serving. Cell ranking reuses the IVF tier's exact
    * derivation (same trained centroids, same (ccos desc, cent_id)
    * tie-break), so the twin shares ivfCellsCtes verbatim. */
  def ivfPqTopk(spark: SparkSession, dir: String,
                k: Int = Similarity.TopK): DataFrame = {
    val raw = Similarity.normalizedCorpus(spark, dir)
    val cents = Similarity.trainedCentroidsOf(raw)
    val ranked = Similarity.rankedCells(raw, cents)
    val cells = ranked.where(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val u = unitCorpus(spark, dir)
    val books = codebooksOf(u)
    ivfPqServeWith(u, ranked, cells, encodeOf(u, books), books, k)
  }

  /** IVF-PQ from the two persisted indexes: probes rank the QUERY
    * vectors against the IVF index's centroids (bounded), cell
    * membership comes from the index's cell-partitioned postings, and
    * candidates are ADC-scored from the PQ index's codes —
    * result-identical to [[ivfPqTopk]] (both indexes persist the same
    * trained artifacts the in-query path derives), sharing its twin. */
  def ivfPqTopkServed(spark: SparkSession, dir: String,
                      ivfIndexPath: String, pqIndexPath: String,
                      k: Int = Similarity.TopK): DataFrame = {
    val ivfRoot = Compaction.resolveRoot(spark, ivfIndexPath)
    val pqRoot = Compaction.resolveRoot(spark, pqIndexPath)
    val raw = Similarity.normalizedCorpus(spark, dir)
    val cents = spark.read.parquet(s"$ivfRoot/centroids")
    // Probe ranking only needs the QUERY vectors — the corpus-wide
    // assignment is already persisted in the postings layout.
    val ranked = Similarity.rankedCells(
      raw.where(col("vec_id") < Similarity.NumQueries), cents)
    // Takedown-aware (r13): honor deletes recorded against EITHER
    // index (the IVF cells and the PQ codes are views of one corpus).
    val cells = Compaction.Kind.Ivf.live(
        spark.read.parquet(s"$ivfRoot/postings"), ivfRoot)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    ivfPqServeWith(unitCorpus(spark, dir), ranked, cells,
      codes = Compaction.Kind.Pq.live(
        spark.read.parquet(s"$pqRoot/codes"), pqRoot),
      books = spark.read.parquet(s"$pqRoot/books"), k = k)
  }

  private def ivfPqServeWith(u: DataFrame, ranked: DataFrame,
                             cells: DataFrame, codes: DataFrame,
                             books: DataFrame, k: Int): DataFrame = {
    val probes = ranked
      .where(col("crank") <= Similarity.NumProbes &&
        col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val lut = lutOf(u, books)
    val cand = codes.join(cells, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
    val scored = cand
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lut_c")).as("adc"))
    rankTopk(scored, k)
  }
}
