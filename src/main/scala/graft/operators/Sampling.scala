package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import TextOps.tokens
import Hash.h8

/** Corpus-assembly operators for the LLM-data-pipeline tier: hash-based
  * train/val/test splitting, per-stratum (domain-mix) sampling, and
  * token-budget sequence packing — the steps between "curated corpus"
  * and "training batches".
  *
  * All randomness is md5-derived (same algorithm in DuckDB), so every
  * assignment is deterministic, partitioning-independent, and
  * oracle-checkable bit-for-bit. No `rand()`: a reshuffle or retry must
  * never change which split a document lands in.
  */
object Sampling {

  /** THE split assignment, as composable per-row projections (no
    * shuffle; any operator needing a doc's split computes it inline
    * instead of joining): bucket = h(doc_id) mod 100, <80 train /
    * <90 val / else test. */
  def splitBucket(id: Column): Column = h8("split", id) % 100
  def splitOf(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** Hash-based train/val/test assignment: stable under
    * re-partitioning, re-ingest and incremental appends (the property
    * `rand()` splits lack). */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))

  /** LEAKAGE-SAFE train/val/test split — the remedy for what
    * [[Curation.splitLeakage]] detects: assignment is keyed by the
    * near-dup CLUSTER label ([[Dedup.dedupClustersFrom]]'s propagated
    * min-doc_id), not the raw doc_id, so every member of a verified
    * near-dup family lands on the same side BY CONSTRUCTION — a test
    * document whose near-twin trains cannot exist under this split.
    * Documents in no verified pair key by their own doc_id, which is
    * exactly [[trainSplit]]'s assignment, so the unclustered bulk of
    * the corpus keeps its stable hash side and the split only moves
    * where near-dup evidence says it must (and stays append-stable
    * except where new evidence merges a family — the unavoidable
    * price of content-aware assignment). Scale: label-prop runs on
    * the pair-table-sized edge frame alone (tiny vs corpus); the
    * corpus-side cost is one joined map pass, broadcastable whenever
    * the clustered minority fits. */
  def clusterSafeSplit(spark: SparkSession, dir: String,
                       pairFrame: DataFrame,
                       minJaccard: Double = 0.5,
                       broadcastRows: Long =
                         ScaleEnvelope.BroadcastClusterRows): DataFrame = {
    // Measured broadcast dispatch ([[ScaleEnvelope.BroadcastClusterRows]]
    // carries the sizing argument): the cluster frame is a
    // localCheckpoint LogicalRDD — no Catalyst stats, so an unhinted
    // join plans a two-exchange sort-merge and a blind hint would OOM
    // on a pathological all-near-dup corpus. The label-prop already
    // materialized the frame, so counting it is a cheap driver scalar:
    // broadcast the usual tiny minority, shuffle the pathological one.
    // (The checkpoint blocks stay pinned for the returned frame's
    // lifetime — the construction-time-iteration class every iterative
    // operator here shares.)
    val clusters = Dedup.dedupClustersFrom(pairFrame, minJaccard)
    val mapSide =
      if (clusters.count() <= broadcastRows) broadcast(clusters)
      else clusters
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(mapSide, Seq("doc_id"), "left")
      .select(col("doc_id"),
        splitOf(splitBucket(coalesce(col("cluster_id"), col("doc_id"))))
          .as("split"))
  }

  /** Per-stratum sampling rates in parts-per-million (domain-mix
    * weighting: downsample the over-represented stratum). */
  val SampleRatesPpm: Seq[(String, Int)] =
    Seq("en" -> 150000, "de" -> 400000, "es" -> 400000,
      "fr" -> 400000, "zh" -> 400000)
  val DefaultRatePpm = 250000

  /** Weighted per-stratum Bernoulli sample: keep a document iff its
    * 32-bit hash mod 10^6 falls under the stratum's ppm rate. Pure
    * integer compare (no float thresholds to diverge cross-engine), one
    * codegen'd filter, no shuffle — the 100 TB shape for domain mixing;
    * the exact-k variant is [[exactSample]]. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRatesPpm.tail.foldLeft(
      when(col("lang") === SampleRatesPpm.head._1,
        lit(SampleRatesPpm.head._2))) { case (acc, (l, r)) =>
      acc.when(col("lang") === l, lit(r))
    }.otherwise(lit(DefaultRatePpm))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        (h8("sample", col("doc_id")) % 1000000).as("u_ppm"),
        rate.as("rate_ppm"))
      .where(col("u_ppm") < col("rate_ppm"))
  }

  /** Exact-k per stratum for [[exactSample]]. */
  val ExactK = 40

  /** Exact-k uniform sample per stratum (the distributed reservoir-sample
    * analog): the k documents with the smallest deterministic hash draw
    * win — every run, partitioning, and engine agrees on the same k.
    * Via the shared [[Ranking.topK]]; ties are impossible on the
    * (u, doc_id) ordering since doc_id is unique. */
  def exactSample(spark: SparkSession, dir: String,
                  k: Int = ExactK): DataFrame =
    Ranking.topK(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          h8("exact", col("doc_id")).as("u")),
      part = Seq(col("lang")),
      ord = Seq(col("u").asc, col("doc_id").asc), k = k)

  /** Shard count for [[shuffleShards]] (demo-sized; production uses
    * O(total size / shard-file size)). */
  val NumShards = 16

  /** Deterministic global shuffle for training order, expressed as
    * shuffled sharding: every document gets a shard (hash mod N) and a
    * rank within its shard (ordered by a second, independent hash) — a
    * reader consuming shards in order sees a reproducible pseudo-random
    * permutation. This is the scale shape for "shuffle 100 TB": the
    * only sort is per-shard (the window partitions by shard), no global
    * ORDER BY ever materializes a single-task total order. */
  def shuffleShards(spark: SparkSession, dir: String,
                    shards: Int = NumShards): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("pos"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (h8("shard", col("doc_id")) % shards).as("shard"),
        h8("pos", col("doc_id")).as("pos"))
      .withColumn("rank_in_shard", row_number().over(w))
  }

  /** Sample size per source for [[weightedSample]]. */
  val WeightedK = 10

  /** Deterministic weighted sampling without replacement (priority
    * sampling): each document draws priority = h(doc_id) / weight with
    * the shared md5 uniform and weight = n_chars, and the k smallest
    * priorities per source win — longer documents are proportionally
    * likelier to be kept. Both the draw and the IEEE division are
    * bit-identical in DuckDB, so the winner set is engine- and
    * partitioning-independent (a `rand()`-keyed reservoir is neither).
    * Selection runs through the shared [[Ranking.topK]], whose map-side
    * group limit means no task ever sorts a whole source's candidate
    * list. */
  def weightedSample(spark: SparkSession, dir: String,
                     k: Int = WeightedK): DataFrame =
    Ranking.topK(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (h8("wsample", col("doc_id")).cast("double") / col("n_chars"))
            .as("priority")),
      part = Seq(col("source")),
      ord = Seq(col("priority").asc, col("doc_id").asc), k = k)

  /** Domain-mix accounting: per-source doc/token totals, each source's
    * token share, and the resampling multiplier that would equalize the
    * mix (target = uniform across sources). The multiplier is what a
    * data-recipe step feeds into [[stratifiedSample]]-style rates.
    * Shape: one hash aggregate collapses the corpus to one row per
    * source; the corpus-total window then runs over that #sources-row
    * frame (a single tiny partition post-aggregation, not a
    * low-cardinality window over raw documents). */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    val all = Window.partitionBy()
    per
      .withColumn("corpus_tokens", sum(col("total_tokens")).over(all))
      .withColumn("n_sources", count(lit(1)).over(all))
      .withColumn("token_share",
        col("total_tokens").cast("double") / col("corpus_tokens"))
      .withColumn("uniform_multiplier",
        (col("corpus_tokens").cast("double") / col("n_sources")) /
          col("total_tokens"))
  }

  /** Temperature-flattened domain mix — the standard pretraining
    * data-recipe step (sampling share ∝ natural share^α, α = 1/T):
    * α < 1 upsamples small domains and downsamples dominant ones
    * without inverting the order; α = 1 is the natural mix, α → 0 the
    * uniform one. Emits each source's natural token share, its
    * temperature share, and the resampling multiplier that hits the
    * temperature mix at unchanged corpus size (feed it into
    * [[stratifiedSample]]-style ppm rates).
    *
    * Cross-engine exactness (the reason α defaults to 0.5): share^0.5
    * is `sqrt`, which IEEE 754 requires correctly rounded — bit-exact
    * on both engines — while general `pow` is transcendental and
    * engine-local (§8.5 discipline; same reason tf-idf uses linear
    * idf). The only order-sensitive value is the share_pow
    * normalizer, rounded to 9 dp (error ~1e-15 ≪ granule); every
    * later expression is quotients/products of identical operands.
    * Shape: one corpus-collapsing hash aggregate; both windows run
    * over the #sources-row frame, never the raw corpus. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixOf(Tables.documents(spark, dir))

  /** [[temperatureMix]] over an arbitrary (source, text) frame — the
    * form the composed pipeline feeds its curation SURVIVORS through
    * (the recipe reweights what will actually be trained on, not the
    * raw corpus). */
  def temperatureMixOf(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    val all = Window.partitionBy()
    per
      .withColumn("corpus_tokens", sum(col("total_tokens")).over(all))
      .withColumn("token_share",
        col("total_tokens").cast("double") / col("corpus_tokens"))
      .withColumn("share_pow", sqrt(col("token_share")))
      .withColumn("z", round(sum(col("share_pow")).over(all), 9))
      .select(
        col("source"), col("n_docs"), col("total_tokens"),
        col("corpus_tokens"), col("token_share"),
        (col("share_pow") / col("z")).as("temp_share"),
        (col("share_pow") / col("z") * col("corpus_tokens").cast("double")
          / col("total_tokens")).as("temp_multiplier"))
  }

  /** The [[temperatureMix]] accounting APPLIED, in the same plan
    * (VERDICT r6 #7): per-source multipliers become integer ppm keep
    * rates (rate = min(10⁶, ⌊multiplier·10⁶⌋) — a Bernoulli thinning
    * can only DOWNsample, so under-represented sources clamp to
    * keep-everything; true upsampling is epoch repetition at the
    * reader) and gate the same md5 draw as [[stratifiedSample]]. The
    * mix table is a #sources-row aggregate broadcast back onto the
    * corpus — no driver round-trip hand-carries rates, so Catalyst
    * sees account → rate → sample as ONE plan. The corpus IS scanned
    * twice (accounting pass + sampling pass), like quantize's
    * calibrate/encode: the rates cannot be known mid-scan, and a
    * standing pipeline persists the tiny mix table anyway. floor of
    * multiplier·10⁶ is cross-engine exact: the multiplier is sqrt and
    * quotients of identical operands (bit-exact), and IEEE ×/floor on
    * identical doubles are deterministic. */
  def temperatureSampleOf(docs: DataFrame): DataFrame = {
    val rates = temperatureMixOf(docs)
      .select(col("source"),
        least(lit(1000000L), floor(col("temp_multiplier") * lit(1000000.0)))
          .as("rate_ppm"))
    docs.join(broadcast(rates), "source")
      .where(h8("tsample", col("doc_id")) % 1000000 < col("rate_ppm"))
  }

  /** Token budget per packed training sequence (demo-sized; the operator
    * shape is budget-agnostic). */
  val PackBudget = 512

  /** Sequence packing, concatenate-and-chunk style: within each lang
    * stratum, documents are laid out in doc_id order, each starting at
    * the running token offset; pack_id = start offset div budget (a
    * document belongs to the pack where it starts — the standard
    * spillover convention). Emits per-pack composition. Scale: the
    * window sort is per-stratum; a production run range-partitions by
    * (lang, doc_id) so each executor packs a contiguous shard — same
    * result, no global sort (offsets would come from a two-pass
    * per-shard prefix sum, the classic distributed scan). */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOf(Tables.documents(spark, dir))

  /** Pack an arbitrary document frame (doc_id, lang, text) — the form
    * the pipeline driver uses to pack only curation survivors. */
  def packSequencesOf(docs: DataFrame): DataFrame =
    packSequencesOfCounts(tokenCountsOf(docs))

  /** The packer's tokenize pass, exposed so multi-leg consumers (the
    * erasure certificate runs the packer arithmetic over the same
    * corpus more than once) can pay it ONCE and pin the compact
    * (doc_id, lang, n_tokens) frame — token counting is the packer's
    * dominant cost; everything after it is windows and aggregates over
    * three columns. `private[graft]` (r16): the erasure fixture stages
    * this frame as a STANDING table next to the pack table so the
    * certificate reads counts instead of re-tokenizing per audit. */
  private[graft] def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))

  /** [[packSequencesOf]] over a precomputed token-count frame — ONE
    * offset/pack tail for every entry point (the packTail
    * discipline). */
  private[graft] def packSequencesOfCounts(counts: DataFrame): DataFrame =
    packTail(
      counts.withColumn("start_offset",
        sum(col("n_tokens")).over(strataRunningWindow) - col("n_tokens")))

  /** The per-stratum running-offset window packing orders by — shared
    * with [[graft.operators.Takedown.repackSuffix]], whose seeded
    * offsets must use the identical partitioning/ordering or the
    * suffix-repack identity drifts. */
  private[operators] def strataRunningWindow =
    Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** The ONE offset→pack aggregation both the full pack and the
    * takedown suffix-repack share (pack_id = start_offset div budget
    * — INTEGER div on both paths, matching DuckDB `//`; ADVICE r13
    * flagged a true-division twin that rounds past 2^53): one
    * definition so the repack's bit-identity to a full repack cannot
    * drift. Input: (doc_id, lang, n_tokens, start_offset). */
  private[operators] def packTail(withOffsets: DataFrame): DataFrame =
    withOffsets
      .withColumn("pack_id", expr(s"start_offset div $PackBudget"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
}
