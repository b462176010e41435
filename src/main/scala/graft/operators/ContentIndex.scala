package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDING CONTENT INDEX (r15, VERDICT r14 next #1): the persisted
  * structure that lets content-addressed takedown
  * ([[Takedown.resolveTakedownContentServed]]) serve from partition-
  * pruned index probes instead of re-deriving
  * `explode(shingles(tokens(text)))` over the whole corpus per request
  * batch — the one remaining corpus-order cost of the r14 resolver.
  *
  * Two subdirectories, both in the lex-postings lifecycle (batch_id
  * partitions, `_folded` ledger, generation compaction via
  * [[Compaction.compactContentIndex]], takedown deletes under
  * `deletes/`):
  *
  *  - `shingles/` — one row per DISTINCT (doc_id, 3-token shingle),
  *    hash-BUCKETED on the shingle into [[ShingleBuckets]] partition
  *    directories (`sb=<n>/`). Partition-per-shingle would mint a
  *    directory per distinct n-gram (≈ corpus token count) — bucketing
  *    is the standard fix the lex index's own scaladoc names for
  *    10⁹-term vocabularies: a probe prunes to its shingles' buckets
  *    (|request| dirs of 1/[[ShingleBuckets]] of the index each), then
  *    equi-joins the exact shingle inside them.
  *  - `docstore/` — (doc_id, norm_text), the search-engine stored-field
  *    tier, bucketed by doc_id (`db=<n>/`). The containment VERIFY
  *    reads candidate texts from here, so a serve never touches the
  *    `documents` table at all (PlanAuditSpec pins it): at 100 TB the
  *    corpus scan is the cost, and an index that still needs the corpus
  *    for its verify tier has only moved the problem.
  *
  * Exactly-once: each ingest slice lands under its own
  * `batch_id=N` with mode=overwrite (a replayed batch overwrites
  * itself); [[Compaction.isFolded]] no-ops slices a fold already
  * consolidated. Contract (shared with every batch-maintained index):
  * batches carry disjoint doc_id slices. */
object ContentIndex {

  /** Shingle-hash bucket count. Sized so one bucket of a 100 TB corpus
    * is ~1/256 of the shingle stream — a probe touching b distinct
    * buckets scans b/256 of the index; raise for bigger clusters (the
    * layout idea is unchanged, same as lex's bucket-by-term-hash
    * note). */
  val ShingleBuckets = 256

  /** Docstore bucket count — doc_id-keyed, so a candidate fetch can
    * prune (statically by collected bucket values, or via DPP when the
    * candidate side broadcasts). */
  val DocBuckets = 64

  /** The ONE bucket function both build and probe use — xxhash64 is a
    * Catalyst built-in (codegen'd, engine-stable across the build and
    * every serve). */
  def shingleBucket(sh: Column): Column =
    pmod(xxhash64(sh), lit(ShingleBuckets.toLong))

  def docBucket(id: Column): Column = pmod(id, lit(DocBuckets.toLong))

  /** Index one document slice, batch_id-keyed exactly-once (the
    * [[Retrieval.buildLexIndexBatch]] pattern verbatim). */
  def buildBatch(spark: SparkSession, docs: DataFrame,
                 indexPath: String, batchId: Long): Unit = {
    if (Compaction.isFolded(spark, indexPath, batchId)) return
    val root = Compaction.resolveRoot(spark, indexPath)
    docs.select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")))).as("sh"))
      .withColumn("sb", shingleBucket(col("sh")))
      .write.partitionBy("sb").mode("overwrite")
      .parquet(s"$root/shingles/batch_id=$batchId")
    // Docstore files are SORTED by doc_id within each bucket: the
    // verify tier pushes a candidate-id IN-list into this scan, and
    // tight row-group min/max stats turn that into row-group pruning —
    // a point lookup reads ~one row group per candidate instead of the
    // bucket's whole stored-text column (r15 ×100 measurement).
    docs.select(col("doc_id"), TextOps.normText(col("text")).as("norm_text"))
      .withColumn("db", docBucket(col("doc_id")))
      .repartition(col("db"))
      .sortWithinPartitions(col("db"), col("doc_id"))
      .write.partitionBy("db").mode("overwrite")
      .parquet(s"$root/docstore/batch_id=$batchId")
  }

  /** The takedown-aware shingle-posting reader, pruned to `buckets`
    * (partition pruning: `sb` is a directory column, so the scan
    * touches only the probes' buckets). Schema pinned — partition-value
    * inference must never retype `sh`'s bucket or a numeric batch
    * dir. */
  def shinglePostings(spark: SparkSession, root: String,
                      buckets: Seq[Long]): DataFrame =
    Compaction.Kind.Content.live(
      spark.read.schema("doc_id BIGINT, sh STRING")
        .parquet(s"$root/shingles")
        .where(col("sb").isin(buckets: _*))
        .select(col("doc_id"), col("sh")),
      root)

  /** The takedown-aware docstore reader: (db, doc_id, norm_text) — `db`
    * kept so a candidate join on (db, doc_id) gives dynamic partition
    * pruning a handle. */
  def docstore(spark: SparkSession, root: String): DataFrame =
    Compaction.Kind.Content.live(
      spark.read.schema("doc_id BIGINT, norm_text STRING")
        .parquet(s"$root/docstore")
        .select(col("db"), col("doc_id"), col("norm_text")),
      root)
}
