package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.BoundedCollectLong

/** End-to-end training-data curation: the composition a 100 TB corpus
  * actually runs — quality gating plus near-duplicate removal — built
  * entirely from the already-verified operator families:
  *
  *   1. per-document quality metrics (TextOps.qualityScore),
  *   2. MinHash-LSH candidates → exact Jaccard (Dedup.ngramJaccard),
  *   3. near-dup losers (higher doc_id of any pair with J ≥ τ) removed
  *      via a LEFT ANTI join (losers frame ≪ corpus — broadcastable at
  *      any scale where the dup-rate is sane),
  *   4. token-count and punctuation-ratio gates.
  */
object Curation {

  def curatedDocs(spark: SparkSession, dir: String,
                  jaccardThreshold: Double = 0.5,
                  minTokens: Int = 20,
                  maxPunctRatio: Double = 0.2): DataFrame =
    curatedDocsFrom(spark, dir, Dedup.ngramJaccard(spark, dir),
      jaccardThreshold, minTokens, maxPunctRatio)

  /** [[curatedDocs]] served from a prebuilt [[Dedup.pairTable]] frame —
    * the standing-pipeline shape: the near-dup pair table is built once
    * per corpus version and every curation pass starts from it. */
  def curatedDocsFrom(spark: SparkSession, dir: String,
                      pairFrame: DataFrame,
                      jaccardThreshold: Double = 0.5,
                      minTokens: Int = 20,
                      maxPunctRatio: Double = 0.2): DataFrame = {
    val quality = TextOps.qualityScore(spark, dir)
    val losers = pairFrame
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("doc_b").as("doc_id"))
      .distinct()
    quality
      .join(losers, Seq("doc_id"), "left_anti")
      .where(col("n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio)
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("quality_score"))
  }

  /** Containment-aware curation: [[curatedDocsFrom]]'s quality gates and
    * symmetric-jaccard losers PLUS the asymmetric rule — a member
    * CONTAINED in its pair partner (containment ≥ cThreshold) loses
    * even when jaccard stays under the gate, the quote/inclusion case
    * symmetric dedup structurally misses (jaccard ≤ |A|/|B| however
    * complete the inclusion). The contained (shorter) member drops —
    * its content survives in the keeper; mutually-contained
    * near-identical pairs keep the lower doc_id, matching the
    * symmetric rule's convention. Same shape: loser frames ≪ corpus,
    * one LEFT ANTI join. Served from a prebuilt pair frame. */
  def curatedDocsContainmentFrom(spark: SparkSession, dir: String,
                                 pairFrame: DataFrame,
                                 jaccardThreshold: Double = 0.5,
                                 containmentThreshold: Double = 0.9,
                                 minTokens: Int = 20,
                                 maxPunctRatio: Double = 0.2): DataFrame = {
    val quality = TextOps.qualityScore(spark, dir)
    val jLosers = pairFrame
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("doc_b").as("doc_id"))
    val cLosers = Dedup.containmentFrom(pairFrame, containmentThreshold)
      .select(
        when(col("containment_a") >= containmentThreshold &&
            col("containment_b") >= containmentThreshold,
          greatest(col("doc_a"), col("doc_b")))
          .when(col("containment_a") >= containmentThreshold, col("doc_a"))
          .otherwise(col("doc_b")).as("doc_id"))
    val losers = jLosers.unionByName(cLosers).distinct()
    quality
      .join(losers, Seq("doc_id"), "left_anti")
      .where(col("n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio)
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("quality_score"))
  }

  /** Decontamination: find train-split documents whose n-gram content
    * overlaps an eval-split document (the GPT-3-style "remove training
    * docs sharing n-grams with the benchmark" step — training on eval
    * data silently inflates benchmarks, so this check is mandatory
    * corpus hygiene before packing). Emits (train_doc, eval_doc,
    * n_shared) for pairs with at least `minShared` shared distinct
    * shingles (exact duplicates surface naturally with n_shared = their
    * full shingle count).
    *
    * Shape: ONE spread corpus scan — the split is the same per-row
    * hash-bucket projection as Sampling.trainSplit (no join needed) —
    * into an inverted index keyed by the n-gram. `maxDf` caps the
    * document frequency of join-eligible shingles: an n-gram present in
    * many documents is boilerplate, not contamination evidence, and a
    * hot n-gram's posting list goes quadratic in pair generation — the
    * df gate is both the statistical and the shuffle fix (with spread,
    * 10 s → ~2 s at sf0.1). Production tunes it per corpus (absolute,
    * so the oracle is reproducible). */
  def decontaminate(spark: SparkSession, dir: String,
                    minShared: Int = 3, maxDf: Int = 20): DataFrame = {
    val sh = Spread(graft.Tables.documents(spark, dir))
      .select(col("doc_id"),
        Sampling.splitOf(Sampling.splitBucket(col("doc_id"))).as("split"),
        explode(TextOps.shingles(TextOps.tokens(col("text")))).as("sh"))
    // Inverted-index shape: ONE corpus scan, ONE shuffle, bounded
    // memory per key. The df cap and the posting lists come from the
    // SAME hash aggregate via [[graft.expressions.BoundedCollectLong]]:
    // the exact occurrence count rides next to an at-most-maxDf capped
    // list, so a Zipf-hot boilerplate shingle streams through at
    // counting cost (no unbounded collect_list buffer, no
    // count-over-window pinning the hot partition on one task — AQE
    // never splits a window exchange — and no second corpus scan for a
    // separate (sh, df) frame to join back). Groups passing df ≤ maxDf
    // have provably complete lists (true count ≤ cap), so the gate
    // BEFORE the pair explode keeps explosion ≤ maxDf² per shingle by
    // construction (shingles() is per-doc distinct, so count(*) = df).
    val postings = sh
      .groupBy(col("sh"))
      .agg(
        count(lit(1)).as("df"),
        BoundedCollectLong.of(
          when(col("split") === "train", col("doc_id")), maxDf).as("tr"),
        BoundedCollectLong.of(
          when(col("split") === "test", col("doc_id")), maxDf).as("ev"))
      .where(col("df") <= maxDf &&
        col("tr.n") > 0 && col("ev.n") > 0)
    postings
      .select(explode(col("tr.vals")).as("train_doc"),
        col("ev.vals").as("eval_docs"))
      .select(col("train_doc"), explode(col("eval_docs")).as("eval_doc"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Cross-split leakage audit at the NEAR-DUP tier — the complement of
    * [[decontaminate]]'s exact-shingle evidence: a verified near-dup
    * pair whose members landed on different sides of the train/val/test
    * split is contamination the split hash cannot prevent (hash splits
    * are content-blind; near-identical documents with different ids
    * split independently, and a test doc whose near-twin trains
    * silently inflates every eval built on it). Served from the
    * standing verified pair table, the audit is a PROJECTION: the split
    * is the same per-row hash-bucket expression as
    * [[Sampling.trainSplit]] computed inline on each pair member — no
    * corpus join, no shuffle, no recompute; at a standing deployment
    * this costs one scan of the (tiny relative to corpus) pair table.
    * Emits the offending pairs with both splits and the Jaccard
    * evidence; the curation remedy is dropping the non-train member
    * (or re-binning by content fingerprint, which exact dedup upstream
    * already handles for byte-identical twins). */
  def splitLeakage(pairFrame: DataFrame,
                   minJaccard: Double = 0.5): DataFrame = {
    def splitCol(c: org.apache.spark.sql.Column) =
      Sampling.splitOf(Sampling.splitBucket(c))
    pairFrame
      .where(col("jaccard") >= minJaccard)
      .withColumn("split_a", splitCol(col("doc_a")))
      .withColumn("split_b", splitCol(col("doc_b")))
      .where(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("n_inter"), col("jaccard"))
  }

  /** The standing data-quality contract for the documents corpus,
    * name → predicate. Rules are plain Columns, so they compile into
    * the scan like any filter. */
  def documentRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "text_present" -> (col("text").isNotNull && length(col("text")) > 0),
    "lang_known" -> col("lang").isInCollection(TextOps.StopWords.map(_._1)),
    "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
    "source_wellformed" -> col("source").rlike("^src[0-9]+$"))

  /** Data-quality expectation report: per rule, rows checked / passed /
    * failed (nulls count as failures — an unknown is not a pass). ONE
    * corpus scan no matter how many rules: each row explodes into
    * (rule, ok) pairs and a single hash aggregate rolls them up —
    * map-side combine reduces every partition to #rules rows before
    * the shuffle, so the exchange is O(rules), not O(rows). */
  def dqReport(spark: SparkSession, dir: String): DataFrame =
    dqReportOf(graft.Tables.documents(spark, dir), documentRules)

  def dqReportOf(df: DataFrame,
                 rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    df.select(explode(array(rules.map { case (name, cond) =>
        struct(lit(name).as("rule"),
          coalesce(cond, lit(false)).as("ok"))
      }: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.ok").as("ok"))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_fail"))

  /** Distribution drift between two corpus batches — the monitoring
    * gate a standing pipeline runs before admitting a new crawl slice
    * ("did today's batch change shape?"). Per feature, both slices'
    * values are histogrammed into FIXED integer buckets and compared
    * by total-variation distance TVD = ½·Σ|p_i − q_i|.
    *
    * Engine-exact by construction: the bucket edges are integer floor
    * divisions, the per-bucket comparison is the exact-long cross
    * product |ca·nb − cb·na| (no per-bucket float ratios), and the sum
    * of those longs is order-insensitive — so the ONLY float op is the
    * final single division, identical operand-for-operand in the twin.
    * TVD over fixed buckets replaces PSI deliberately: PSI needs ln(),
    * which is not cross-engine bit-stable (libm vs JVM), the rational-
    * sigmoid lesson from [[Learn]].
    *
    * Scale shape: one corpus scan (features explode from the same
    * row), map-side combine reduces every partition to
    * O(features × buckets) rows before the shuffle, and everything
    * after the first aggregate is bounded-size. Overflow bound:
    * |ca·nb| ≤ na·nb < 2⁶³ holds to ~3×10⁹ docs PER SLICE; past that,
    * pre-divide the bucket counts by a common factor (TVD is
    * scale-invariant in the counts). */
  def driftReport(spark: SparkSession, dir: String): DataFrame =
    driftTail(driftRows(graft.Tables.documents(spark, dir)
      .select((col("doc_id") % 2 === 0).as("in_a"), col("n_chars"),
        col("text"))))

  /** Drift between two document-shaped frames — the cross-VERSION form
    * ("did the rebuild change the corpus shape?"): pass
    * [[graft.sinks.Sinks.readVersion]] frames of a published corpus
    * table. Two scans instead of driftReport's one (the sides live in
    * different version directories), same shared feature/tail
    * definitions, so the two forms cannot drift from each other. */
  def driftBetween(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, inA: Boolean) =
      df.select(lit(inA).as("in_a"), col("n_chars"), col("text"))
    driftTail(driftRows(side(a, inA = true).unionAll(side(b, inA = false))))
  }

  /** The monitored features, exploded from one pass over
    * (in_a, n_chars, text) rows: fixed integer bucket edges (floor
    * division) so both engines and both drift forms histogram
    * identically. */
  private def driftRows(df: DataFrame): DataFrame =
    df.select(col("in_a"), col("n_chars"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .select(col("in_a"), explode(array(
        struct(lit("n_chars").as("feature"),
          expr("least(15L, n_chars DIV 128L)").as("bucket")),
        struct(lit("n_tokens").as("feature"),
          expr("least(15L, CAST(n_tokens AS BIGINT) DIV 32L)")
            .as("bucket")))).as("fb"))
      .select(col("in_a"), col("fb.feature").as("feature"),
        col("fb.bucket").as("bucket"))

  /** Shared TVD tail over (in_a, feature, bucket) rows. */
  private def driftTail(rows: DataFrame): DataFrame = {
    val cells = rows.groupBy(col("feature"), col("bucket")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(col("in_a"), 0L).otherwise(1L)).as("cb"))
    val totals = cells.groupBy(col("feature"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    cells.join(totals, "feature")
      .groupBy(col("feature"), col("na"), col("nb"))
      .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
        .as("l1_scaled"))
      .select(col("feature"), col("na").as("n_a"), col("nb").as("n_b"),
        col("l1_scaled"),
        when(col("na") > 0 && col("nb") > 0,
          col("l1_scaled").cast("double") /
            (lit(2.0) * col("na").cast("double") * col("nb").cast("double")))
          .as("tvd"))
  }

  /** One-row DATASET CARD — the governance summary a corpus release
    * ships: size (docs/chars/tokens), diversity (sources/langs/en
    * share), redundancy (exact-dup docs by normalized fingerprint,
    * verified near-dup pairs from the standing pair table), and the
    * length envelope. Everything is a compact aggregate (three one-row
    * frames cross-joined broadcast), all counts exact longs, so the
    * card is engine-exact and costs two corpus scans plus one
    * pair-table scan no matter the corpus size — the artifact a 100 TB
    * release regenerates per version and diffs against the last. */
  def datasetCard(spark: SparkSession, dir: String,
                  pairFrame: DataFrame): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"),
      sum(size(TextOps.tokens(col("text"))).cast("long"))
        .as("total_tokens"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
    val dups = docs
      .groupBy(md5(TextOps.normText(col("text"))).as("fp"))
      .agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L))
        .as("exact_dup_docs"))
    val pairs = pairFrame.where(col("jaccard") >= 0.5)
      .agg(count(lit(1)).as("near_dup_pairs"))
    base.crossJoin(broadcast(dups)).crossJoin(broadcast(pairs))
  }

  /** Quarantine split: rows passing EVERY rule vs rows failing any
    * (with nulls failing, the two frames partition the input exactly).
    * The good frame flows on; the bad frame lands in a quarantine
    * layer for inspection — the gate shape a pipeline puts between
    * ingest and the master layer. */
  def expectSplit(df: DataFrame,
                  rules: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, DataFrame) = {
    // Fail fast with a meaningful message: an empty rule set would
    // otherwise die inside a micro-batch as `empty.reduce`, pointing at
    // Scala collections instead of the misconfiguration.
    require(rules.nonEmpty, "expectSplit needs at least one DQ rule")
    val allOk = rules.map { case (_, c) => coalesce(c, lit(false)) }
      .reduce(_ && _)
    (df.where(allOk), df.where(!allOk))
  }
}
