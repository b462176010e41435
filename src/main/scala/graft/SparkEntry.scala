package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB twin in [[oracleSql]] built from
  * the exact same arithmetic (see Relational's determinism discipline) so
  * the driver's sort-columns-then-hash compare is bit-stable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_performance_metrics")(spark, "/root/testdata/sf0.001")

  private def master(s: SparkSession, d: String): DataFrame =
    Relational.masterModel(s, d)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_master_model" -> ((s, d) => Relational.masterModel(s, d)),
    "q_performance_metrics" -> ((s, d) => Relational.performanceMetrics(master(s, d))),
    "q_product_performance" -> ((s, d) => Relational.productPerformance(master(s, d))),
    "q_profitability_kpi" -> ((s, d) => Relational.profitabilityKpi(master(s, d))),
    "q_sales_kpi" -> ((s, d) => Relational.salesKpi(master(s, d))),
    // The two campaign-blind rollups read the cost-join-free master
    // (r18, VERDICT r17 #1/#5): neither consumes a campaign column, and
    // masterModelCampaignBlind is row-identical minus those columns
    // UNCONDITIONALLY (its scaladoc; RelationalSpec pins both
    // consumers), so they skip the second orders⨝customer⨝nation pass
    // Catalyst plans for the campaignCosts aggregate's input.
    "q_customer_retention" -> ((s, d) =>
      Relational.customerRetention(Relational.masterModelCampaignBlind(s, d))),
    "q_rollup" -> ((s, d) => Relational.rollup(s, d)),
    "q_top_products" -> ((s, d) => Relational.topProductsPerCountry(
      Relational.masterModelCampaignBlind(s, d))),
    "q_select_star" -> ((s, d) => Relational.selectStar(s, d, "supplier")),
    // transactional keyed MERGE over the versioned publish (r10): reads
    // the staged table's LATEST through the monotone marker pointer —
    // the driver hash certifies the merge semantics end to end.
    "q_merge_publish" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedMergeTable(s, d))),
    // the same MERGE maintained by the STREAMING CDC path (r12): two
    // checkpointed foreachBatch triggers through the versioned publish
    // + a ledger-detected micro-batch replay; shares q_merge_publish's
    // twin — stream ≡ batch ≡ oracle.
    "q_merge_publish_stream" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedStreamMergeTable(s, d))),
    // time travel (r10): the same table read AT v=1 — the pre-MERGE
    // state must still be served verbatim after v=2 published (version
    // dirs are immutable; the pointer, not the data, advanced).
    "q_time_travel" -> ((s, d) =>
      graft.sinks.Sinks.readVersion(s, stagedMergeTable(s, d), 1)),
    // keyed version diff (r10): the review artifact between v1 and v2 —
    // one full-outer exchange, output proportional to the CHANGE (the
    // MERGE batch), never the corpus.
    "q_version_diff" -> ((s, d) =>
      graft.sinks.Sinks.diffVersions(s, stagedMergeTable(s, d), 1, 2,
        Seq("o_orderkey"))),
    // incremental aggregate maintenance (r10): a standing rollup
    // absorbed two delta batches via key-wise re-aggregation; the
    // oracle rebuilds from the full table — incremental == rebuild,
    // exactly, because the measures are integer sums.
    "q_rollup_incremental" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedAggTable(s, d))),
    // the same standing rollup maintained by the STREAM (r12):
    // checkpointed foreachBatch deltas through mergeAggPublish with
    // the micro-batch id riding the applied-batch ledger — replay
    // no-ops instead of double-counting; shares the full-rebuild twin.
    "q_rollup_incremental_stream" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedStreamAggTable(s, d))),
    // rollback (r10): after v2 published, rollbackTo(1) — readers must
    // resolve the PRE-merge base again (marker-only, no data moved).
    "q_rollback_read" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedLifecycleTable(s, d, "rollback"))),
    // vacuum (r10): after v1 reclaimed, readers still resolve the
    // merged v2 — retention cleanup never perturbs the current state.
    "q_vacuum_read" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedLifecycleTable(s, d, "vacuum"))),
    // delete-aware CDC MERGE (r13, VERDICT r12 missing #1): one I/U/D
    // batch through the versioned publish — updates re-state, inserts
    // land, deletes really REMOVE keys; a ledger-keyed replay of the
    // whole CDC batch no-ops (required in the fixture, hash-checked
    // here).
    "q_merge_publish_cdc" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedCdcTable(s, d))),
    // and the version diff across a delete-carrying CDC batch now
    // classifies all three ways — added / changed / REMOVED.
    "q_version_diff_cdc" -> ((s, d) =>
      graft.sinks.Sinks.diffVersions(s, stagedCdcTable(s, d), 1, 2,
        Seq("o_orderkey"))),
    // the same I/U/D fold maintained by the STREAM (checkpointed
    // triggers + a ledger-detected replay); shares the batch row's
    // oracle — stream ≡ batch ≡ recompute.
    "q_merge_publish_cdc_stream" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedStreamCdcTable(s, d))),
    // corpus takedown (r13): the versioned documents corpus after a
    // takedown D-batch (doc_id % 5 == 2, the SAME id set the index
    // takedown rows use) — one story end to end: this row is the
    // corpus leg, q_bm25_takedown/_compacted are the derived-index
    // legs, and the oracle recomputes each from the filtered raw
    // documents.
    "q_takedown_corpus" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedTakedownCorpus(s, d))),
    // r14 (VERDICT r13 #2): ONE orchestrated takedown across every
    // derived artifact (corpus CDC D-batch, lex, pos, IVF, pair table)
    // with a per-artifact completion manifest, then the erasure
    // CERTIFICATE — per artifact, rows a consumer is served vs rows
    // still referencing a taken-down id (computed, must be 0) — which
    // the oracle recomputes from the filtered raw tables.
    "q_erasure_certificate" -> ((s, d) => {
      val env = stagedErasureEnv(s, d)
      // Both standing tables are READ (staged once by the fixture),
      // never recomputed per certificate — the deployment shape: the
      // pack table (×100 the difference between auditing and
      // re-packing, r15) AND the (doc_id, lang, n_tokens) counts it
      // derives from (r16, VERDICT r15 #4 — the per-audit corpus
      // tokenize was the certificate's dominant fixed cost). Paths
      // carried explicitly from the staging env (ADVICE r15: no
      // sibling-dir string surgery).
      Takedown.erasureCertificate(s, takedownDocIds(s, d), env.targets,
        packSource = Some((s.read.parquet(env.countsDir),
          s.read.parquet(env.packsDir))))
    }),
    // r14 (VERDICT r13 #4): CONTENT-addressed takedown — a quoted
    // passage resolves to the documents containing it (token-boundary
    // containment: shingle-probe candidates, exact padded-contains
    // verify) plus near-dup cluster expansion through the standing
    // pair table; the resolved set feeds takedownAll.
    "q_takedown_by_content" -> ((s, d) => {
      val targets = stagedErasureEnv(s, d).targets
      val served =
        graft.sinks.Sinks.readLatest(s, targets.corpusTableDir.get)
      Takedown.resolveTakedownContent(served, contentProbePassages(s, d),
        targets.pairTablePath)
    }),
    // r15 (VERDICT r14 next #1): the SAME content resolution answered
    // ENTIRELY from the standing content index — shingle-probe
    // candidates partition-pruned to the probes' hash buckets, the
    // verify tier reading candidate texts from the index docstore
    // (never the documents table; PlanAuditSpec pins the plan
    // corpus-scan-free). Shares q_takedown_by_content's twin verbatim
    // — the build/serve identity statement, same as q_ann_ivf_served.
    // The index was taken down by the SAME orchestrated call as every
    // other artifact in the erasure constellation.
    "q_takedown_by_content_served" -> ((s, d) => {
      val targets = stagedErasureEnv(s, d).targets
      Takedown.resolveTakedownContentServed(s, targets.contentIndexPath.get,
        contentProbePassages(s, d), targets.pairTablePath)
    }),
    // LLM-data-pipeline tier (north star): text analysis
    "q_text_stats" -> ((s, d) => TextOps.textStats(s, d)),
    "q_token_count" -> ((s, d) => TextOps.tokenCounts(s, d)),
    // intra-document dedup (r8): first-occurrence-order unit dedup
    "q_intradoc_dedup" -> ((s, d) => TextOps.dedupWithinDoc(s, d)),
    // corpus-level exact-span dedup (r9): C4-style keep-one-occurrence
    // removal of k-token blocks shared across documents, with the
    // cleaned text REBUILT (not just flagged)
    "q_span_dedup" -> ((s, d) => TextOps.dedupSpans(s, d)),
    // Count-Min sketch heavy hitters (r8): deterministic overestimate,
    // exact-twin oracle rebuilds the identical counter table
    "q_cms_heavy_hitters" -> ((s, d) => TextOps.cmsHeavyHitters(s, d)),
    "q_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "q_quality_score" -> ((s, d) => TextOps.qualityScore(s, d)),
    // LEARNED quality gate (r10): distributed full-batch GD, 3 epochs,
    // micro-unit exact gradients + rational sigmoid — the whole
    // training loop is engine-exact, so the driver hash pins training,
    // not just scoring.
    "q_quality_lr" -> ((s, d) => Learn.qualityLr(s, d)),
    "q_fingerprint" -> ((s, d) => TextOps.fingerprints(s, d)),
    // dedup
    "q_dedup_exact" -> ((s, d) => Dedup.exactDedup(s, d)),
    "q_dedup_incremental" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "q_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(s, d)),
    "q_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // Served twin (r17, VERDICT r16 #1): the ×100 run showed the inline
    // form (46.2 s) recomputing the whole minhash→LSH→verify chain that
    // the standing pair table already holds — containmentFrom is a pure
    // projection over the pair frame, so the served row reads the staged
    // table (the q_source_overlap pattern, 7.5 s at ×100) and shares the
    // inline row's twin verbatim: build/serve identity stays hash-proven.
    "q_containment_served" ->
      ((s, d) => Dedup.containmentFrom(stagedPairTable(s, d), 0.5)),
    "q_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    // The 16-bit signature has no neighbour join: its 4-bit bands are
    // quadratic buckets. q_simhash64_neighbors below is the one
    // near-dup join over simhash signatures.
    // similarity search
    "q_topk_similarity" -> ((s, d) => Similarity.topkCosine(s, d)),
    "q_ann_lsh" -> ((s, d) => Similarity.topkCosineLsh(s, d)),
    "q_ann_ivf" -> ((s, d) => Similarity.topkCosineIvf(s, d)),
    // Same answer from the PERSISTED trained index (built once per JVM):
    // the production build/serve split, with cell-partition pruning.
    "q_ann_ivf_served" -> ((s, d) => Similarity.queryIvfIndex(s,
      stagedIvfIndex(s, d),
      Similarity.queriesOf(graft.Tables.embeddings(s, d)))),
    "q_embedding_stats" -> ((s, d) => Similarity.embeddingStats(s, d)),
    // MMR diversification (r10): greedy relevance-vs-redundancy
    // re-rank of each query's candidate pool — the RAG serving step
    // between ANN and the prompt. The twin unrolls the greedy rounds,
    // so the hash pins selection ORDER.
    "q_mmr_rerank" -> ((s, d) => Similarity.mmrDiversify(s, d)),
    // margin-based bitext mining (r10): Artetxe–Schwenk neighborhood-
    // relative criterion over the en/de embedding slices — the
    // parallel-corpus extraction step; micro-unit neighborhood means
    // keep the margin engine-exact.
    "q_bitext_mine" -> ((s, d) => Similarity.bitextMine(s, d)),
    // hard-negative mining (r10): per-anchor top-k highest-cosine
    // vectors OUTSIDE the anchor's positive group — the contrastive-
    // training counterpart to the mined positives.
    "q_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // ANN health check: per-query LSH recall vs the exact top-k.
    "q_ann_recall" -> ((s, d) => Similarity.lshRecallReport(s, d)),
    // r15 (VERDICT r14 next #4): POST-TAKEDOWN ANN health — per-query
    // recall of the takedown-aware IVF serve (stale never-retrained
    // centroids, purged postings) against the exact top-k over the
    // purged corpus; the oracle recomputes BOTH arms from the filtered
    // embeddings. This is the drift measurement behind the takedown
    // stream's retrain-due flag.
    "q_ann_recall_takedown" -> ((s, d) => {
      val targets = stagedErasureEnv(s, d).targets
      Similarity.recallAfterTakedown(s, targets.ivfIndexPath.get, d)
    }),
    "q_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    "q_embedding_neardup" -> ((s, d) => Similarity.embeddingNearDup(s, d)),
    // Served twin (r17, second serving pass): the near-dup pair set as
    // a standing artifact (the pair-table pattern over embeddings).
    // Shares the inline twin verbatim — parquet-exact round-trip.
    "q_embedding_neardup_served" -> ((s, d) =>
      Similarity.embeddingPairTable(s, stagedEmbPairTable(s, d))),
    // SemDeDup (r9): cluster-scoped semantic dedup — within-IVF-cell
    // pairs at cosine >= eps drop their more-cluster-typical member
    "q_semdedup" -> ((s, d) => Similarity.semDedup(s, d)),
    // build/serve split (r10, mirroring q_ann_ivf_served): semantic
    // dedup answered from the persisted cell-partitioned IVF index —
    // zero training AND zero assignment at serve; shares q_semdedup's
    // twin (bit-identical by shared sweep + exact parquet round-trip).
    "q_semdedup_served" -> ((s, d) =>
      Similarity.semDedupServed(s, stagedIvfIndex(s, d))),
    // event-time aggregation (batch twins of the streaming queries)
    "q_event_windows" -> ((s, d) => Events.hourlyWindows(s, d)),
    // typed JSON property extraction (r8): single-parse from_json
    "q_event_props" -> ((s, d) => Events.propsKpis(s, d)),
    "q_event_sessions" -> ((s, d) => Events.userSessions(s, d)),
    "q_event_sliding" -> ((s, d) => Events.slidingWindows(s, d)),
    // end-to-end corpus curation (quality gate + near-dup removal),
    // served from the once-per-corpus-version pair table (VERDICT r4
    // fix #6) — result-identical to recomputing the chain inline.
    "q_curation" -> ((s, d) =>
      Curation.curatedDocsFrom(s, d, stagedPairTable(s, d))),
    "q_curation_containment" -> ((s, d) =>
      Curation.curatedDocsContainmentFrom(s, d, stagedPairTable(s, d))),
    // train/eval n-gram contamination check over the hash split
    "q_decontaminate" -> ((s, d) => Curation.decontaminate(s, d)),
    // cross-split leakage at the NEAR-DUP tier (r12): verified pairs
    // straddling the train/val/test split, served from the standing
    // pair table — the audit is a shuffle-free projection (split =
    // inline hash-bucket of each member id).
    "q_split_leakage" -> ((s, d) =>
      Curation.splitLeakage(stagedPairTable(s, d))),
    // ...and the REMEDY (r12): a split keyed by near-dup cluster label
    // instead of raw doc_id — near-twins co-assigned by construction,
    // singletons identical to q_train_split's stable hash side.
    "q_cluster_split" -> ((s, d) =>
      Sampling.clusterSafeSplit(s, d, stagedPairTable(s, d))),
    // sources: seeded generator (S9) and schema-on-read ingest (S1/S5)
    "q_generator" -> ((s, _) => sources.Generator.campaigns(s, 1000)),
    "q_ingest_roundtrip_csv" -> ((s, d) => ingestRoundtrip(s, d, "csv")),
    // S3 (r10): the headerless schema-typed CSV reader on the driver
    // hash surface — was spec-only through r9.
    "q_ingest_roundtrip_csv_noheader" ->
      ((s, d) => ingestRoundtrip(s, d, "csv_nohdr")),
    // K4+K5 (r10): staged CSV object write, then the archival move,
    // read back FROM THE ARCHIVE — one row certifies both sinks.
    "q_sink_archive_roundtrip" ->
      ((s, d) => ingestRoundtrip(s, d, "archive")),
    // additive schema migration (r10): two parquet generations, the
    // older missing a column — ONE mergeSchema read serves the union
    // schema, old rows null-filled, then the shared normalization.
    "q_ingest_schema_evolution" ->
      ((s, d) => ingestRoundtrip(s, d, "evolve")),
    "q_ingest_roundtrip_tsv" -> ((s, d) => ingestRoundtrip(s, d, "tsv")),
    "q_ingest_roundtrip_jsonl" -> ((s, d) => ingestRoundtrip(s, d, "jsonl")),
    "q_ingest_roundtrip_orc" -> ((s, d) => ingestRoundtrip(s, d, "orc")),
    // multimodal binary-payload accounting
    "q_multimodal_meta" -> ((s, d) => multimodal.Multimodal.mediaStats(s, d)),
    // REAL audio decode (r8): mint WAV bytes from the closed-form PCM
    // generator, decode them back executor-side, emit sample stats; the
    // oracle regenerates the same samples from the formula in SQL, so a
    // hash match proves decode∘encode identity on the stats surface.
    "q_audio_stats" -> ((s, d) => multimodal.Multimodal.audioStats(
      multimodal.Multimodal.withWavPayload(s, d))),
    // Video container metadata (r16, VERDICT r15 #8): mint REAL MP4
    // bytes (ftyp + moov[mvhd + tkhd per track] + mdat) from closed
    // forms, parse them back with the JDK-only ISO-BMFF box walker,
    // report brand/timescale/duration/tracks/dims/bytes. The oracle
    // restates every field from doc_id arithmetic, so a hash match
    // proves mint∘parse identity on the container-header surface —
    // narrowing the §7.4.7 video deviation to codec/sample decode.
    "q_video_meta" -> ((s, d) => multimodal.Multimodal.videoMeta(
      multimodal.Multimodal.withMp4Payload(s, d))),
    // Mixed-modality corpus report (r8): doc_id%3 routes each row to a
    // real solid-color PNG, a real WAV, or raw text bytes; one total
    // decode pass reports modality + decoded stats. The oracle predicts
    // every column from the closed-form generators, certifying both
    // decoders AND the routing.
    "q_mixed_modality" -> ((s, d) => multimodal.Multimodal.modalityStats(
      multimodal.Multimodal.withTypedPayload(s, d))),
    // Perceptual image near-dup (r14, VERDICT r13 stretch): 56-bit
    // dHash over the real decode+box-filter path, fed through the
    // simhash64 quarter-banded neighbor machinery verbatim. The
    // structured-grid fixture's consecutive doc pairs share content
    // under a +1 global tone shift (different PNG bytes, identical
    // dHash); the oracle predicts every signature closed-form and
    // recomputes the radius-3-complete pair set by brute force.
    "q_image_neardup" -> ((s, d) => multimodal.Multimodal.imageNearDup(
      s.read.parquet(stagedImageCorpus(s, d)))),
    // r15 (VERDICT r14 next #7): the envelope-dispatched form — the
    // image tier's q_simhash64_auto. Below the 2²⁶-image trigger it
    // resolves to the same quarter-banded plan, so it shares
    // q_image_neardup's twin verbatim; ScaleEnvelopeSpec forces the
    // boundary and proves pair-set identity across the switch.
    "q_image_neardup_auto" -> ((s, d) =>
      multimodal.Multimodal.imageNearDupAuto(
        s.read.parquet(stagedImageCorpus(s, d)))),
    // corpus assembly: PII scrub, repetition quality signals,
    // deterministic split/sampling/packing
    "q_pii_redact" -> ((s, d) => Privacy.piiRedact(s, d)),
    // Luhn-gated card redaction (r8): per-match validation, not shape
    // matching — only checksum-valid candidates are scrubbed.
    "q_pii_card" -> ((s, d) => Privacy.cardRedact(s, d)),
    "q_repetition" -> ((s, d) => TextOps.repetition(s, d)),
    "q_train_split" -> ((s, d) => Sampling.trainSplit(s, d)),
    "q_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    "q_seq_pack" -> ((s, d) => Sampling.packSequences(s, d)),
    "q_exact_sample" -> ((s, d) => Sampling.exactSample(s, d)),
    "q_shuffle_shards" -> ((s, d) => Sampling.shuffleShards(s, d)),
    // temporal joins composed from equi-join primitives
    "q_asof_join" -> ((s, d) => Joins.asofClickPurchase(s, d)),
    "q_range_join" -> ((s, d) => Joins.rangePairs(s, d)),
    // connected components over the PERSISTED verified near-dup pairs
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.dedupClustersFrom(stagedPairTable(s, d))),
    // salted fact⨝dim join rolled up by brand — row-identical to the
    // plain join (the oracle IS the plain join), only the shuffle
    // distribution changes; proves the skew mitigation is semantics-free
    "q_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val li = graft.Tables.lineitem(s, d).select(
        col("l_partkey").as("partkey"), col("l_orderkey"),
        col("l_extendedprice"))
      val p = graft.Tables.part(s, d).select(
        col("p_partkey").as("partkey"), col("p_brand"))
      Skew.saltedJoin(li, p, Seq("partkey"), col("l_orderkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_items"),
          Relational.rsum2(col("l_extendedprice")).as("total_price"))
    }),
    // A4 scale swap-in: HLL approx distinct next to exact. DuckDB's HLL
    // differs from Spark's, so the approximate VALUE can't hash-compare;
    // instead the dumped frame carries the exact count plus a tolerance
    // verdict (rel_err ≤ 0.05 — rsd is 0.01, so 5× headroom) and the
    // oracle asserts the verdict is 1 for every group (VERDICT r4 fix
    // #8: no more rows-only entries).
    "q_approx_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Relational.approxDistinct(s, d)
        .select(col("country"), col("n_exact"),
          when(col("rel_err") <= 0.05, 1).otherwise(0).as("approx_ok"))
    }),
    // A9: GROUP BY ordinal through Spark SQL (groupByOrdinal is on by
    // default), positions referencing select-list expressions.
    "q_group_by_ordinal" -> ((s, d) => {
      Relational.transactions(s, d).createOrReplaceTempView("txn_v")
      s.sql("""SELECT transaction_country AS country,
               |       CAST(CAST(transaction_datetime AS DATE) AS STRING) AS date,
               |       ROUND(SUM(income), 2) AS income,
               |       COUNT(transaction_id) AS n
               |FROM txn_v
               |GROUP BY 1, 2""".stripMargin)
    }),
    // corpus analysis (round 4): boilerplate signal, exact histogram
    // quantiles, tf-idf terms, weighted sampling, RAG chunking,
    // domain-mix accounting
    "q_boilerplate" -> ((s, d) => TextOps.boilerplateFraction(s, d)),
    "q_length_quantiles" -> ((s, d) => TextOps.lengthQuantiles(s, d)),
    "q_tfidf_terms" -> ((s, d) => TextOps.tfidfTerms(s, d)),
    "q_weighted_sample" -> ((s, d) => Sampling.weightedSample(s, d)),
    "q_chunk" -> ((s, d) => TextOps.chunkDocs(s, d)),
    "q_domain_mix" -> ((s, d) => Sampling.domainMix(s, d)),
    "q_temperature_mix" -> ((s, d) => Sampling.temperatureMix(s, d)),
    // all-rows kNN join, scalar quantization, DQ expectation report
    "q_knn_join" -> ((s, d) => Similarity.knnJoin(s, d)),
    // Served twin (r17, VERDICT r16 #7): the kNN graph as a standing
    // once-per-corpus-version artifact — built once per JVM, read back
    // by consumers (hard-negative mining per epoch, neighborhood
    // stats). Shares q_knn_join's twin verbatim: parquet round-trips
    // the (long, long, double, int) rows bit-exactly.
    "q_knn_join_served" -> ((s, d) => Similarity.knnTable(s, stagedKnnTable(s, d))),
    "q_quantize" -> ((s, d) => Similarity.quantizeEmbeddings(s, d)),
    // Product quantization (r10): train 8×32 codebooks, encode the
    // corpus to 8 codes/vector, serve cosine top-k from the broadcast
    // ADC lookup table — the whole train→encode→serve pipeline is
    // engine-exact (micro-rounded LUT, exact-long ranking key).
    "q_pq_topk" -> ((s, d) => Pq.adcTopk(s, d)),
    // the serve half of the split: same answer from the persisted
    // books+codes, candidates scored WITHOUT touching raw vectors.
    "q_pq_topk_served" -> ((s, d) =>
      Pq.adcTopkServed(s, d, stagedPqIndex(s, d))),
    // IVF-PQ composition (r10): probe coarse cells, ADC-score only
    // their members from codes — partition pruning × 32× compression,
    // the billion-vector serving shape. In-query row trains both
    // tiers (oracle-checked end to end); served row answers from the
    // two persisted indexes, same twin.
    "q_ann_ivfpq" -> ((s, d) => Pq.ivfPqTopk(s, d)),
    // PQ health check (r10, mirroring q_ann_recall): per-query recall
    // of the SERVED ADC index against exact cosine top-k — the
    // standing is-the-compressed-index-still-good diagnostic.
    "q_pq_recall" -> ((s, d) => Similarity.recallReportOf(
      Pq.adcTopkServed(s, d, stagedPqIndex(s, d)),
      Similarity.topkCosine(s, d), Similarity.TopK)),
    "q_ann_ivfpq_served" -> ((s, d) =>
      Pq.ivfPqTopkServed(s, d, stagedIvfIndex(s, d), stagedPqIndex(s, d))),
    "q_dq_report" -> ((s, d) => Curation.dqReport(s, d)),
    // batch-shape drift monitor (r10): fixed-bucket total-variation
    // distance between the corpus' even/odd doc_id slices — exact-long
    // inner sums, ONE final IEEE division (PSI's ln() is not
    // cross-engine stable).
    "q_drift_report" -> ((s, d) => Curation.driftReport(s, d)),
    // one-row dataset card (r10): the per-release governance summary —
    // size, diversity, redundancy (exact + verified near-dup), length
    // envelope; compact aggregates only, exact longs.
    "q_dataset_card" -> ((s, d) =>
      Curation.datasetCard(s, d, stagedPairTable(s, d))),
    // cross-VERSION drift (r10): the shape report between two PUBLISHED
    // corpus versions (v1 = even docs, v2 = full), read back through
    // the versioned layout — the rebuild-review form of the monitor.
    "q_drift_versions" -> ((s, d) => {
      val t = stagedDocVersions(s, d)
      Curation.driftBetween(
        graft.sinks.Sinks.readVersion(s, t, 1),
        graft.sinks.Sinks.readVersion(s, t, 2))
    }),
    // unigram-LM fluency, one-pass multi-grain rollup, running totals
    "q_lm_score" -> ((s, d) => TextOps.lmScore(s, d)),
    // Ranked retrieval (r9): BM25 lexical top-k and reciprocal-rank-
    // fusion hybrid search (BM25 arm + embedding-cosine arm).
    "q_bm25" -> ((s, d) => Retrieval.bm25TopK(s, d)),
    // positional phrase search (r10): slot-vote alignment — one hash
    // aggregate keyed (doc, start), shuffle cut to the phrase's own
    // postings by a broadcast vocabulary join.
    "q_phrase_search" -> ((s, d) => Retrieval.phraseSearch(s, d)),
    // the same phrase answered from the PERSISTED positional index
    // (partition-pruned to the phrase terms' dirs, tokenize never
    // re-runs) — shares the inline row's twin: build/serve identity
    // is driver-hash-verified.
    "q_phrase_search_served" -> ((s, d) =>
      Retrieval.phraseSearchServed(s, stagedPosIndex(s, d))),
    "q_hybrid_rrf" -> ((s, d) => Retrieval.hybridRrf(s, d)),
    // The same fused query answered ENTIRELY from the two persisted
    // indexes (r12): lex arm from the term-partitioned postings, vector
    // arm from the IVF postings (which carry the complete normalized
    // corpus) — closing the serving story the _served ANN/BM25 rows
    // opened. Hash-identical to q_hybrid_rrf: shared fusion tail +
    // shared twin.
    "q_hybrid_rrf_served" -> ((s, d) =>
      Retrieval.hybridRrfServed(s, stagedLexIndex(s, d),
        stagedIvfIndex(s, d))),
    // Same answer from the PERSISTED term-partitioned lexical index
    // (built once per JVM): the retrieval build/serve split — postings
    // partition-pruned to the query terms, no corpus explode at serve
    // time; hash-identical to q_bm25 (shared score tail + shared
    // oracle SQL).
    "q_bm25_served" -> ((s, d) =>
      Retrieval.bm25TopKServed(s, stagedLexIndex(s, d))),
    // takedown propagation (r13, VERDICT r12 missing #1): the standing
    // lex index after a LOGICAL takedown (deletion vectors + negative
    // stats partial, O(|ids|) writes) must serve BM25 bit-identical to
    // a rebuild over the purged corpus — the oracle IS that rebuild.
    "q_bm25_takedown" -> ((s, d) =>
      Retrieval.bm25TopKServed(s, stagedTakedownLexIndex(s, d))),
    // index compaction (r13, VERDICT r12 missing #2): the same index
    // after the batch partitions AND the deletes are folded physically
    // (ledgered, exactly-once) — plus in-fixture REPLAYS of a folded
    // ingest batch and the folded takedown, which must both no-op or
    // this hash breaks.
    "q_bm25_compacted" -> ((s, d) =>
      Retrieval.bm25TopKServed(s, stagedCompactedLexIndex(s, d))),
    // takedown delivered as a STREAM (r13): the id set arrives through
    // StreamingIngest.takedownAllStream (checkpointed trigger, id-keyed
    // exactly-once, completion manifest) instead of a direct call —
    // shares the purged-corpus oracle: stream-takedown ≡
    // batch-takedown ≡ rebuild.
    "q_bm25_takedown_stream" -> ((s, d) =>
      Retrieval.bm25TopKServed(s, stagedStreamTakedownLexIndex(s, d))),
    // SymSpell fuzzy vocab matching (r9): deletion-neighborhood
    // blocking + exact levenshtein verify; the oracle is brute-force
    // all-pairs, so equality proves the blocking lost nothing.
    "q_fuzzy_vocab" -> ((s, d) => TextOps.fuzzyVocabPairs(s, d)),
    "q_corpus_rollup" -> ((s, d) => TextOps.corpusRollup(s, d)),
    "q_event_cumulative" -> ((s, d) => Events.cumulativeUserValue(s, d)),
    // outer-join semantics (semi + anti complements in one report)
    "q_customer_coverage" -> ((s, d) => Relational.customerCoverage(s, d)),
    // TPC-H Q1/Q5 classics over the fixture tables, integer-cents (r8)
    "q_tpch_q1" -> ((s, d) => Relational.tpchQ1(s, d)),
    "q_tpch_q3" -> ((s, d) => Relational.tpchQ3(s, d)),
    "q_tpch_q6" -> ((s, d) => Relational.tpchQ6(s, d)),
    "q_tpch_q18" -> ((s, d) => Relational.tpchQ18(s, d)),
    "q_tpch_q5" -> ((s, d) => Relational.tpchQ5(s, d)),
    "q_tpch_q4" -> ((s, d) => Relational.tpchQ4(s, d)),
    "q_tpch_q13" -> ((s, d) => Relational.tpchQ13(s, d)),
    "q_tpch_q7" -> ((s, d) => Relational.tpchQ7(s, d)),
    "q_tpch_q8" -> ((s, d) => Relational.tpchQ8(s, d)),
    "q_tpch_q10" -> ((s, d) => Relational.tpchQ10(s, d)),
    "q_tpch_q14" -> ((s, d) => Relational.tpchQ14(s, d)),
    "q_tpch_q15" -> ((s, d) => Relational.tpchQ15(s, d)),
    "q_tpch_q17" -> ((s, d) => Relational.tpchQ17(s, d)),
    "q_tpch_q22" -> ((s, d) => Relational.tpchQ22(s, d)),
    // r9: the remaining eight TPC-H shapes — full 22-query suite
    // (fixture-adapted per Tpch.scala's header; partsupp derived from
    // lineitem, late ≙ returnflag='R', supplier cuts by region).
    "q_tpch_q2" -> ((s, d) => Tpch.tpchQ2(s, d)),
    "q_tpch_q9" -> ((s, d) => Tpch.tpchQ9(s, d)),
    "q_tpch_q11" -> ((s, d) => Tpch.tpchQ11(s, d)),
    "q_tpch_q12" -> ((s, d) => Tpch.tpchQ12(s, d)),
    "q_tpch_q16" -> ((s, d) => Tpch.tpchQ16(s, d)),
    "q_tpch_q19" -> ((s, d) => Tpch.tpchQ19(s, d)),
    "q_tpch_q20" -> ((s, d) => Tpch.tpchQ20(s, d)),
    "q_tpch_q21" -> ((s, d) => Tpch.tpchQ21(s, d)),
    // SCD Type 2 (r9): change stream → versioned dimension with
    // half-open validity windows; one key-partitioned exchange.
    "q_scd2" -> ((s, d) => Scd.scd2(s, d)),
    // the same dimension maintained by the STREAMING CDC path (r12):
    // bootstrap + incremental scd2Apply micro-batches through the
    // versioned publish (ledger-keyed — scd2Apply is not content-
    // idempotent, so replay detection is the correctness condition);
    // shares q_scd2's twin: stream ≡ rebuild.
    "q_scd2_stream" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.sinks.Sinks.readLatest(s, stagedScdStreamTable(s, d))
        .drop("event_id")
        .select(col("user_id"), col("version_no"), col("status"),
          col("valid_from_us"), col("valid_to_us"), col("is_current"))
    }),
    // Point-in-time fact⨝dim join over the SCD2 windows, with two
    // self-certifying audit columns (tiling ⇒ one match per fact row).
    "q_scd2_join" -> ((s, d) => Scd.factAsOfDim(s, d)),
    // SCD2 over a DELETE-CARRYING CDC stream (r13): a D event closes
    // the key's open version and opens nothing; version_no counts live
    // versions. Deletes derived deterministically (event_id % 11 == 3)
    // so the DuckDB twin replays the same sentinel build.
    "q_scd2_cdc" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, when}
      val cdc = Scd.changeStream(s, d)
        .withColumn("op",
          when(col("event_id") % 11 === 3, "D").otherwise("U"))
      Scd.scd2FromCdc(cdc).drop("event_id", "last_seen_us")
    }),
    // the same delete-carrying dim maintained by the STREAM
    // (checkpointed triggers through scd2ApplyCdc + a ledger-detected
    // replay of the delete-carrying slice); shares q_scd2_cdc's twin.
    "q_scd2_cdc_stream" -> ((s, d) =>
      graft.sinks.Sinks.readLatest(s, stagedScdCdcStreamTable(s, d))
        .drop("event_id", "last_seen_us")),
    // Z-order layout (r9): Morton interleave of normalized
    // (l_partkey, l_suppkey) — the clustering key zorderWrite sorts by;
    // closed-form integer arithmetic, exact twin in DuckDB.
    "q_zorder" -> ((s, d) => Layout.zorderFrame(s, d)),
    // Mergeable-sketch audience overlap (r9): per-segment HLL sketches
    // + inclusion–exclusion intersections, tolerance-verdict columns
    // beside the hash-compared exact counts (q_approx_distinct pattern).
    "q_sketch_overlap" -> ((s, d) => Sketches.audienceOverlap(s, d)),
    // Bloom-pruned join (r9): explicit runtime-filter semi-reduction;
    // result identical to the plain join at any fpp by construction.
    "q_bloom_join" -> ((s, d) => Joins.bloomJoinRevenue(s, d)),
    // BPE merge mining and the cross-source duplication matrix
    "q_bpe_merges" -> ((s, d) => TextOps.bpeMergeCandidates(s, d)),
    // BPE ENCODE (r9): apply the mined merges — iterative min-rank
    // piece-pair rewriting to a fixpoint, md5-pinned full encoding
    "q_bpe_encode" -> ((s, d) => TextOps.bpeEncode(s, d)),
    // chunk-first encode, segments forced tiny (64 pieces) so fixture
    // docs genuinely split — shares q_bpe_encode's twin: the
    // boundary-safe cut must leave the token stream bit-identical.
    "q_bpe_encode_chunked" ->
      ((s, d) => TextOps.bpeEncodeChunked(s, d, maxPieces = 64)),
    // DECODE round-trip (r12): the losslessness proof — decode of the
    // full mine→encode chain must reproduce the original piece stream;
    // the twin computes the piece-concat md5 straight from text, so any
    // content the encode loop drops or doubles hash-mismatches.
    "q_bpe_roundtrip" -> ((s, d) => TextOps.bpeRoundtrip(s, d)),
    // TOKEN IDS (r12): bounded top-V vocab (dense ids by count DESC,
    // token ASC; broadcastable BY CONSTRUCTION) + reserved UNK id —
    // each doc's ordered id sequence md5-pinned, values AND order.
    "q_bpe_ids" -> ((s, d) => TextOps.bpeIds(s, d)),
    // PACKED id sequences (r12): the per-doc id streams laid out into
    // fixed-budget training sequences under q_seq_pack's conventions,
    // each pack's concatenated id stream md5-pinned in (doc_id, pos)
    // order — the bytes a training loader would consume.
    "q_pack_ids" -> ((s, d) => TextOps.packIds(s, d)),
    // Build/serve identity on the oracle surface for the minhash tier
    // (VERDICT r6 #4, mirroring q_ann_ivf_served): the SERVED form
    // reads the once-per-JVM staged pair table, the INLINE form
    // recomputes the whole minhash→LSH→exact-Jaccard chain in-query;
    // both hash-match the SAME DuckDB twin.
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapFrom(s, d, stagedPairTable(s, d))),
    "q_source_overlap_inline" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    // source-authority PageRank (r10): fixed-point integer power
    // iteration over the cross-source syndication graph — the
    // domain-quality weighting signal. r18 (VERDICT r17 #4): served
    // from the standing OVERLAP matrix (built once per corpus version
    // from the pair table — the rollup itself stays benched as
    // q_source_overlap) instead of re-deriving the two doc→source
    // joins per run.
    "q_source_authority" -> ((s, d) =>
      graft.operators.Graph.sourceAuthorityFromOverlap(s, d,
        stagedOverlapTable(s, d))),
    // ordered funnel (sequential event pattern, chained windows)
    "q_funnel" -> ((s, d) => Events.funnel(s, d)),
    // production-width 64-bit simhash (quarters ARE the radius-3 bands)
    "q_simhash64" -> ((s, d) => Dedup.simhash64(s, d)),
    "q_simhash64_neighbors" -> ((s, d) => Dedup.simhash64Neighbors(s, d)),
    // §8.8 multi-index widening (r9): 20 bands of 3-of-6 blocks (~2³²
    // domain) — the >10⁸-doc form; result-identical to the quarter
    // banding (both radius-3 complete), candidate envelope 2¹⁶× wider.
    "q_simhash64_wide" -> ((s, d) => Dedup.simhash64WideNeighbors(s, d)),
    // ScaleEnvelope dispatch (r10): quarter vs wide derived from the
    // corpus COUNT(*) — the production entry point; at fixture scale it
    // resolves to the quarter form, and both forms share one oracle
    // (identical pair sets — radius-3 complete either way).
    "q_simhash64_auto" -> ((s, d) => Dedup.simhash64NeighborsAuto(s, d)),
    // Served twin (r17, second serving pass): the simhash pair set as
    // a standing once-per-corpus-version artifact — built through the
    // auto dispatcher, read back by consumers. Shares the neighbor
    // twin verbatim: parquet round-trips (long, long, int) bit-exactly.
    "q_simhash64_neighbors_served" ->
      ((s, d) => Dedup.simhashPairTable(s, stagedSimhashTable(s, d))),
    // vocabulary table (tokenizer-prep artifact)
    "q_vocab" -> ((s, d) => TextOps.vocabulary(s, d)),
    // cohort retention matrix (first-seen cohorts x hour age)
    "q_retention" -> ((s, d) => Events.cohortRetention(s, d)),
    // S6 as a LIVE database read: the transactions fixture is staged
    // once into an in-process Derby and read back over JDBC with a
    // range-partitioned scan (8 parallel connections), then normalized
    // through the same raw→master casts as the text formats.
    "q_ingest_roundtrip_jdbc" -> ((s, d) => ingestRoundtrip(s, d, "jdbc")),
    // analytic-window surface: LAG/LEAD/NTILE/PERCENT_RANK in one
    // user-partitioned pass
    "q_event_leadlag" -> ((s, d) => Events.leadLagAnalytics(s, d)),
    // pivot with an EXPLICIT value domain (no eager distinct-values job)
    "q_event_pivot" -> ((s, d) => Events.typePivot(s, d)),
    // unpivot (melt) — the pivot's inverse; round-trips to the plain agg
    "q_event_unpivot" -> ((s, d) => Events.typeUnpivot(s, d)),
    // CUBE: all four (type × date) grains in one Expand pass
    "q_event_cube" -> ((s, d) => Events.typeCube(s, d)),
    // per-type daily z-score outliers from exact integer moment sums
    "q_event_anomaly" -> ((s, d) => Events.valueAnomalies(s, d)),
    // single-pass quantile sketch next to the exact histogram path,
    // rank-tolerance-verified like q_approx_distinct
    "q_approx_quantiles" -> ((s, d) => TextOps.approxLengthQuantiles(s, d)),
    // frequent-items sketch (approx_top_k) next to the exact top-k,
    // additive-error-verified — completes the verified-sketch tier
    "q_heavy_hitters" -> ((s, d) => TextOps.heavyHitters(s, d)),
    // the composed end-to-end chain — curation (pair-table near-dup
    // removal + quality gate) → hash train-split → token-budget
    // packing — as ONE Catalyst plan: the split is a per-row
    // projection (no join), packing's per-lang window runs on the
    // already-thinned survivors, and Catalyst prunes/pushes through
    // the whole composition. Proves the operators are an ENGINE, not
    // isolated demos.
    "q_corpus_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val curated = Curation.curatedDocsFrom(s, d, stagedPairTable(s, d))
        .select(col("doc_id"))
      val kept = graft.Tables.documents(s, d)
        .join(curated, "doc_id")
        .where(Sampling.splitBucket(col("doc_id")) < 80)
      Sampling.packSequencesOf(kept)
    }),
    // The composed chain WITH the data-recipe stage (VERDICT r6 #7):
    // curation → temperature-weighted per-source resample (the
    // temperatureMix accounting applied as ppm rates IN the plan, a
    // #sources-row broadcast) → hash train-split → token packing.
    "q_corpus_pipeline_temp" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val curated = Curation.curatedDocsFrom(s, d, stagedPairTable(s, d))
        .select(col("doc_id"))
      val kept = graft.Tables.documents(s, d).join(curated, "doc_id")
      val sampled = Sampling.temperatureSampleOf(kept)
        .where(Sampling.splitBucket(col("doc_id")) < 80)
      Sampling.packSequencesOf(sampled)
    }),
    // INTERSECT/EXCEPT completeness rows: sources publishing in both /
    // only the first of two language slices of the corpus.
    "q_set_ops" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, d)
      Relational.setReport(
        docs.where(col("lang") === "en").select(col("source")),
        docs.where(col("lang") === "de").select(col("source")))
    }),
    // Standalone global ORDER BY … LIMIT (VERDICT r5 ask #5): plans as
    // TakeOrderedAndProject — per-partition heaps, no global sort.
    "q_order_limit" -> ((s, d) => Ranking.orderLimit(s, d)),
  )

  /** S1/S5 + F1-F4 exercised end-to-end: shape the fixture transactions
    * into the reference's raw text format, stage it as CSV-with-header
    * (or headerless TSV), re-read with the all-STRING raw schema, and
    * normalize through the raw→master casts. The oracle reads the
    * parquet directly — a hash match proves the text round-trip is
    * lossless. Staged once per (sfDir, format) per JVM: the
    * previous per-construction staging leaked several temp copies per
    * Bench/Verify run and billed the staging write to the query's bench
    * time. */
  private def stagedDir(s: SparkSession, d: String, fmt: String): String =
    Staged.once(s"rt_$fmt", d) { dir =>
      import org.apache.spark.sql.functions._
      val shaped = Relational.transactions(s, d).select(
        col("transaction_id").cast("string").as("transaction_id"),
        col("income").cast("string").as("income"),
        col("transaction_country").as("country"),
        date_format(col("transaction_datetime"), "yyyy-MM-dd HH:mm:ss")
          .as("date_time"))
      fmt match {
        case "tsv" =>
          shaped.select(concat_ws("\t", col("transaction_id"), col("income"),
            col("country"), col("date_time")).as("line"))
            .write.mode("overwrite").text(s"$dir/stage")
        case "jsonl" => // gzipped JSON Lines — the LLM-corpus wire format
          shaped.select(to_json(struct(col("transaction_id"), col("income"),
            col("country"), col("date_time"))).as("line"))
            .write.mode("overwrite").option("compression", "gzip")
            .text(s"$dir/stage")
        case "orc" =>
          shaped.write.mode("overwrite").orc(s"$dir/stage")
        case "csv_nohdr" => // S3: the Cloud-SQL-export flow skips no rows
          shaped.write.mode("overwrite").csv(s"$dir/stage")
        case "evolve" =>
          // Schema evolution: generation 1 landed BEFORE the datetime
          // column existed; generation 2 added it. A mergeSchema read
          // over both generations yields the union schema with nulls
          // for the old files — the lake-standard additive migration.
          shaped.where(col("transaction_id").cast("long") % 2 === 0)
            .drop("date_time")
            .write.mode("overwrite").parquet(s"$dir/stage/gen=1")
          shaped.where(col("transaction_id").cast("long") % 2 === 1)
            .write.mode("overwrite").parquet(s"$dir/stage/gen=2")
        case "archive" =>
          // K4 staged CSV object write → K5 archival move: the files
          // are STAGED by the whitespace-exact writer, then RELOCATED
          // file-by-file; the round-trip row reads the archive, so a
          // hash match certifies both sink operators on real bytes.
          graft.sinks.Sinks.writeCsvObjects(shaped, s"$dir/out")
          val moved = graft.sinks.Sinks.archive(s,
            s"$dir/out/part-*.csv", s"$dir/stage")
          require(moved > 0, s"K5 archive moved no files under $dir/out")
        case _ =>
          shaped.write.mode("overwrite").option("header", "true")
            .csv(s"$dir/stage")
      }
      dir
    }

  /** The orders fixture slices every versioned-orders table shares —
    * one definition each, so the batch, stream and lifecycle fixtures
    * that share one oracle can never drift apart: the v1 base (every
    * orderkey not %4), the update-or-insert batch (every %3 orderkey
    * re-stated with status 'M' and price+1.0) and the CDC batch (that
    * update set as U rows plus every %7-but-not-%3 orderkey as D). */
  private def ordersBase(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    orders.where(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  private def ordersUpdate(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
  }

  private def ordersCdc(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    ordersUpdate(orders).withColumn("op", lit("U"))
      .unionByName(orders
        .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), lit("D").as("op")))
  }

  /** Versioned MERGE table staged once per (sfDir, JVM) — the
    * q_merge_publish fixture: v1 = a deterministic orders slice
    * published through the full [[graft.sinks.Sinks.mergePublish]]
    * path, v2 = a keyed MERGE of an update+insert batch (every %3
    * orderkey re-stated with status 'M' and price+1.0 — updates where
    * the key exists in v1, inserts where it does not). The oracle
    * computes the same merged state straight from the orders parquet,
    * so a hash match certifies the whole MERGE-then-publish machinery
    * (latest-wins, anti-join carry, marker-pointer read) end to end. */
  private def stagedMergeTable(s: SparkSession, d: String): String =
    Staged.once("merge", d) { dir =>
      val orders = graft.Tables.orders(s, d)
      graft.sinks.Sinks.mergePublish(s, ordersBase(orders), s"$dir/t",
        Seq("o_orderkey"))
      graft.sinks.Sinks.mergePublish(s, ordersUpdate(orders), s"$dir/t",
        Seq("o_orderkey"))
      s"$dir/t"
    }

  /** Delete-aware CDC fixture (r13): v1 = the merge fixture's base
    * slice; v2 = ONE I/U/D batch through
    * [[graft.sinks.Sinks.mergePublishCdc]] — every %3 orderkey
    * re-stated (update-or-insert, the merge fixture's change set) AND
    * every %7-but-not-%3 orderkey DELETED (including keys outside the
    * base, which must no-op). The batch then REPLAYS under its ledger
    * id and must return v2 untouched. Oracle recomputes the final
    * state from raw orders. */
  private def stagedCdcTable(s: SparkSession, d: String): String =
    Staged.once("cdc", d) { dir =>
      val orders = graft.Tables.orders(s, d)
      graft.sinks.Sinks.mergePublish(s, ordersBase(orders), s"$dir/t",
        Seq("o_orderkey"))
      val cdc = ordersCdc(orders)
      require(graft.sinks.Sinks.mergePublishCdc(s, cdc, s"$dir/t",
        Seq("o_orderkey"), batchId = Some(1L)) == 2,
        "CDC batch did not publish v2")
      val replayed = graft.sinks.Sinks.mergePublishCdc(s, cdc, s"$dir/t",
        Seq("o_orderkey"), batchId = Some(1L))
      require(replayed == 2, s"replayed CDC batch minted version $replayed")
      s"$dir/t"
    }

  /** Stream-delivered takedown fixture (r13): the same two-batch lex
    * index as [[stagedTakedownLexIndex]], but the takedown id set
    * arrives through [[graft.streaming.StreamingIngest.takedownAllStream]]
    * with the lex index as its only target (one checkpointed trigger;
    * the micro-batch id keys the deletes partition, the stats
    * correction and the manifest), then a re-drain on the same
    * checkpoint (no new request files → no-op restart) and the
    * manifest's completion check. */
  private def stagedStreamTakedownLexIndex(s: SparkSession,
                                           d: String): String =
    Staged.once("lex_td_stream", d) { dir =>
      val idx = s"$dir/lex"
      buildTwoBatchLex(s, d, idx)
      takedownDocIds(s, d).write.parquet(s"$dir/req/b0")
      val targets = Takedown.TakedownTargets(lexIndexPath = Some(idx))
      def drain(): Unit = graft.streaming.StreamingIngest.takedownAllStream(
        s.readStream.schema("doc_id BIGINT").parquet(s"$dir/req/*"),
        targets, s"$dir/manifest", s"$dir/ckpt")
      drain()
      drain() // exactly-once restart: nothing new to process
      require(Takedown.manifestComplete(s, s"$dir/manifest", 0L, targets),
        "stream takedown manifest incomplete after the re-drain")
      idx
    }

  /** Corpus-takedown fixture (r13): the documents table published
    * versioned (v1), then the takedown id set (doc_id % 5 == 2 — the
    * same set the index-takedown fixtures use) applied as a CDC
    * D-batch (v2). Replay of the takedown batch must no-op against the
    * ledger. */
  private def stagedTakedownCorpus(s: SparkSession, d: String): String =
    Staged.once("corpus_td", d) { dir =>
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, d)
      require(graft.sinks.Sinks.mergePublish(s, docs, s"$dir/t",
        Seq("doc_id")) == 1)
      val dels = takedownDocIds(s, d)
        .join(docs, Seq("doc_id"))
        .withColumn("op", lit("D"))
      require(graft.sinks.Sinks.mergePublishCdc(s, dels, s"$dir/t",
        Seq("doc_id"), batchId = Some(0L)) == 2)
      val replayed = graft.sinks.Sinks.mergePublishCdc(s, dels, s"$dir/t",
        Seq("doc_id"), batchId = Some(0L))
      require(replayed == 2,
        s"replayed corpus takedown minted version $replayed")
      s"$dir/t"
    }

  /** The passage-source doc for the content-addressed takedown row:
    * alive under the fixture takedown set (8 % 5 != 2) AND carrying a
    * live near-dup neighbor in the sf0.01 pair table, so the
    * expansion tier produces real `neardup` rows. */
  private val ContentProbeDoc = 8L

  /** The shared request fixture for both content-takedown rows: one
    * passage — tokens 2..6 of the probe doc (an interior slice, so
    * containment is non-trivial). */
  private def contentProbePassages(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.documents(s, d)
      .where(col("doc_id") === ContentProbeDoc)
      .select(lit(0L).as("passage_id"),
        concat_ws(" ",
          slice(TextOps.tokens(col("text")), 2, 5)).as("passage"))
  }

  /** The structured-PNG corpus staged once per (sfDir, JVM): payload
    * MINTING is corpus generation, not operator cost — a deployment
    * reads stored image bytes, so the benched q_image_neardup row pays
    * decode + dHash + banded join (the serving-shaped work) over
    * parquet-stored payloads, the q_bm25_served staging discipline. */
  private def stagedImageCorpus(s: SparkSession, d: String): String =
    Staged.once("imgcorpus", d) { dir =>
      multimodal.Multimodal.imageCorpus(s, d)
        .write.mode("overwrite").parquet(s"$dir/images")
      s"$dir/images"
    }

  /** The staged erasure constellation: the takedown targets, the
    * orchestration manifest dir, and the two STANDING audit tables the
    * certificate reads (pack table + its token-count source) — paths
    * carried explicitly (ADVICE r15: the packs path used to be
    * reconstructed by string surgery on the corpus dir, which silently
    * reads a wrong location under a trailing slash or a renamed corpus
    * dir). */
  private final case class ErasureEnv(
      targets: graft.operators.Takedown.TakedownTargets,
      manifestDir: String, packsDir: String, countsDir: String)

  /** End-to-end erasure fixture: the full
    * artifact constellation one corpus feeds — versioned corpus (v1),
    * two-batch lex + pos indexes, a bootstrap IVF batch, and the
    * stream-shaped pair + signature tables — taken down in ONE
    * [[graft.operators.Takedown.takedownAll]] call (the fixture id
    * set, takedownId 0) with its completion manifest, then the WHOLE
    * orchestration replayed: every leg must no-op against the manifest
    * (and each artifact's own idempotence underneath) or the
    * certificate hash breaks (lex stats would double-subtract). */
  private def stagedErasureEnv(s: SparkSession, d: String): ErasureEnv =
    Staged.once("erasure", d) { dir =>
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, d)
      require(graft.sinks.Sinks.mergePublish(s, docs, s"$dir/corpus",
        Seq("doc_id")) == 1)
      buildTwoBatchLex(s, d, s"$dir/lex")
      Retrieval.buildPosIndexBatch(s,
        docs.where(col("doc_id") % 2 === 0), s"$dir/pos", 0L)
      Retrieval.buildPosIndexBatch(s,
        docs.where(col("doc_id") % 2 === 1), s"$dir/pos", 1L)
      Similarity.buildIvfIndexBatch(s, graft.Tables.embeddings(s, d),
        s"$dir/ivf", 0L)
      val half0 = docs.where(col("doc_id") % 2 === 0)
      Dedup.appendToPairTableBatch(s, half0, half0,
        s"$dir/sigs", s"$dir/pairs", 0L)
      Dedup.appendToPairTableBatch(s,
        docs.where(col("doc_id") % 2 === 1), docs,
        s"$dir/sigs", s"$dir/pairs", 1L)
      // r15: the standing content index joins the constellation — two
      // incremental batches (the lex-index lifecycle), taken down by
      // the same orchestrated call below, served by
      // q_takedown_by_content_served.
      ContentIndex.buildBatch(s, docs.where(col("doc_id") % 2 === 0),
        s"$dir/content", 0L)
      ContentIndex.buildBatch(s, docs.where(col("doc_id") % 2 === 1),
        s"$dir/content", 1L)
      // The standing pack table AND its (doc_id, lang, n_tokens)
      // token-count source — both built once per corpus version like
      // every other standing artifact, from ONE tokenize (r16, VERDICT
      // r15 #4: the certificate READS counts instead of re-tokenizing
      // the corpus per audit; staging both from the same pinned frame
      // also makes the two tables consistent by construction).
      val counts = Sampling.tokenCountsOf(docs).localCheckpoint()
      counts.write.mode("overwrite").parquet(s"$dir/counts")
      Sampling.packSequencesOfCounts(counts).write.mode("overwrite")
        .parquet(s"$dir/packs")
      val targets = Takedown.TakedownTargets(
        corpusTableDir = Some(s"$dir/corpus"),
        lexIndexPath = Some(s"$dir/lex"),
        posIndexPath = Some(s"$dir/pos"),
        ivfIndexPath = Some(s"$dir/ivf"),
        pairTablePath = Some(s"$dir/pairs"),
        contentIndexPath = Some(s"$dir/content"))
      Takedown.takedownAll(s, takedownDocIds(s, d), 0L, targets,
        s"$dir/manifest")
      Takedown.takedownAll(s, takedownDocIds(s, d), 0L, targets,
        s"$dir/manifest") // full replay: manifest no-ops every leg
      require(Takedown.manifestComplete(s, s"$dir/manifest", 0L, targets),
        "erasure manifest incomplete after orchestrated takedown")
      // COMPACT every index generation (r17): the standing shape a
      // deployment's compaction cadence maintains (StreamingIngest
      // folds on these same entry points after appends/takedowns).
      // Content-preserving by the compaction contract — every consumer
      // row of this env stays oracle-hash-green — and the serve scans
      // the certificate audits drop their small-file/batch overhead
      // (sf10 same-JVM A/B: certificate 17.6 → 14.7 s, every leg
      // improves; PLANS.md r17 ch.10).
      Compaction.compactLexIndex(s, s"$dir/lex")
      Compaction.compactPosIndex(s, s"$dir/pos")
      Compaction.compactIvfIndex(s, s"$dir/ivf")
      Compaction.compactPairTable(s, s"$dir/pairs", s"$dir/sigs")
      Compaction.compactContentIndex(s, s"$dir/content")
      ErasureEnv(targets, s"$dir/manifest", s"$dir/packs", s"$dir/counts")
    }

  /** Delete-carrying SCD2 dim maintained by the STREAM (r13): the
    * q_scd2_cdc change stream (event_id % 11 == 3 → D) split at its
    * median ts into two append-only-per-key slices, delivered as
    * checkpointed triggers through
    * [[graft.streaming.StreamingIngest.scd2CdcMaintenanceStream]]
    * (bootstrap scd2FromCdc, then scd2ApplyCdc with the tombstone
    * reconstruction), plus a crash-replay of micro-batch 0 the
    * applied-batch ledger must no-op — a replayed D-slice re-applied
    * after later re-inserts would wrongly re-close keys. Shares
    * q_scd2_cdc's from-scratch twin. */
  private def stagedScdCdcStreamTable(s: SparkSession, d: String): String =
    Staged.once("scdcdcstream", d) { dir =>
      import org.apache.spark.sql.functions.{col, when}
      val ev = Scd.changeStream(s, d)
        .withColumn("op",
          when(col("event_id") % 11 === 3, "D").otherwise("U"))
      val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
      def run(): Unit =
        graft.streaming.StreamingIngest.scd2CdcMaintenanceStream(
          s.readStream.schema(ev.schema).parquet(s"$dir/in/*"),
          s"$dir/t", s"$dir/ckpt")
      ev.where(col("ts_us") <= cut).write.parquet(s"$dir/in/b0")
      run()
      ev.where(col("ts_us") > cut).write.parquet(s"$dir/in/b1")
      run()
      val replayed = graft.sinks.Publish.publishLoop(s, s"$dir/t", {
        case Some(dim) =>
          Scd.scd2ApplyCdc(dim, ev.where(col("ts_us") <= cut))
        case None => throw new IllegalStateException("empty scd table")
      }, batchId = Some(0L))
      require(replayed == 2,
        s"replayed SCD-CDC micro-batch minted version $replayed")
      s"$dir/t"
    }

  /** The delete-aware CDC fixture maintained by the STREAM (r13): the
    * SAME base and I/U/D slices as [[stagedCdcTable]], delivered as
    * two checkpointed triggers through
    * [[graft.streaming.StreamingIngest.mergePublishCdcStream]] (the
    * second trigger re-attaches to the checkpoint), then a
    * crash-replay of micro-batch 1 that the ledger must no-op. Shares
    * q_merge_publish_cdc's oracle: stream ≡ batch ≡ recompute. */
  private def stagedStreamCdcTable(s: SparkSession, d: String): String =
    Staged.once("cdcstream", d) { dir =>
      import org.apache.spark.sql.functions.lit
      val orders = graft.Tables.orders(s, d)
      val base = ordersBase(orders).withColumn("op", lit("I"))
      val cdc = ordersCdc(orders)
      def run(): Unit =
        graft.streaming.StreamingIngest.mergePublishCdcStream(
          s.readStream.schema(base.schema).parquet(s"$dir/in/*"),
          s"$dir/t", Seq("o_orderkey"), s"$dir/ckpt")
      base.write.parquet(s"$dir/in/b0")
      run()
      cdc.write.parquet(s"$dir/in/b1")
      run()
      val replayed = graft.sinks.Sinks.mergePublishCdc(s, cdc, s"$dir/t",
        Seq("o_orderkey"), batchId = Some(1L))
      require(replayed == 2,
        s"replayed CDC micro-batch minted version $replayed")
      s"$dir/t"
    }

  /** The MERGE-then-publish fixture maintained by the STREAMING CDC
    * path (r12, VERDICT r11 #7): the SAME base and MERGE slices as
    * [[stagedMergeTable]], delivered as two file-stream triggers
    * through [[graft.streaming.StreamingIngest.mergePublishStream]]
    * (the second trigger RE-ATTACHES to the checkpoint — the standing
    * stream lifecycle), followed by a crash-replay of micro-batch 0
    * that the applied-batch ledger must detect as a no-op. The row
    * shares mergedStateOracle with q_merge_publish: stream-maintained
    * ≡ batch-maintained ≡ oracle, and the versioned layout gives the
    * CDC stream time travel / rollback / diff for free. */
  private def stagedStreamMergeTable(s: SparkSession, d: String): String =
    Staged.once("mergestream", d) { dir =>
      val orders = graft.Tables.orders(s, d)
      val base = ordersBase(orders)
      val inc = ordersUpdate(orders)
      def run(): Unit = graft.streaming.StreamingIngest.mergePublishStream(
        s.readStream.schema(base.schema).parquet(s"$dir/in/*"),
        s"$dir/t", Seq("o_orderkey"), s"$dir/ckpt")
      base.write.parquet(s"$dir/in/b0")
      run()
      inc.write.parquet(s"$dir/in/b1")
      run()
      val replayed = graft.sinks.Sinks.mergePublish(s, base, s"$dir/t",
        Seq("o_orderkey"), batchId = Some(0L))
      require(replayed == 2,
        s"replayed micro-batch minted version $replayed")
      s"$dir/t"
    }

  /** SCD2 dimension maintained by the STREAMING path (r12): the
    * fixture change stream split at its median ts into two append-only
    * slices, delivered as checkpointed triggers through
    * [[graft.streaming.StreamingIngest.scd2MaintenanceStream]]
    * (bootstrap build, then incremental scd2Apply), plus a crash-replay
    * of micro-batch 0 that the applied-batch ledger must no-op —
    * scd2Apply re-unions a replayed slice's change points into the
    * touched keys' histories, so WITHOUT the ledger the replay corrupts
    * the dim (content idempotence does not hold). Shares q_scd2's
    * from-scratch twin. */
  private def stagedScdStreamTable(s: SparkSession, d: String): String =
    Staged.once("scdstream", d) { dir =>
      import org.apache.spark.sql.functions.col
      val ev = Scd.changeStream(s, d)
      val cut = ev.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
      def run(): Unit =
        graft.streaming.StreamingIngest.scd2MaintenanceStream(
          s.readStream.schema(ev.schema).parquet(s"$dir/in/*"),
          s"$dir/t", s"$dir/ckpt")
      ev.where(col("ts_us") <= cut).write.parquet(s"$dir/in/b0")
      run()
      ev.where(col("ts_us") > cut).write.parquet(s"$dir/in/b1")
      run()
      val replayed = graft.sinks.Publish.publishLoop(s, s"$dir/t", {
        case Some(dim) => Scd.scd2Apply(dim, ev.where(col("ts_us") <= cut))
        case None => throw new IllegalStateException("empty scd table")
      }, batchId = Some(0L))
      require(replayed == 2,
        s"replayed SCD micro-batch minted version $replayed")
      s"$dir/t"
    }

  /** Lifecycle tables for the rollback / vacuum oracle rows — each its
    * own directory because the operations MUTATE version state:
    * rollback drops markers above the target (readers resolve v=1, the
    * pre-MERGE base, again — the v=2 data dir survives for forensics),
    * vacuum reclaims versions below current (readers still resolve the
    * merged v=2). Both rows hash-match states recomputed from raw
    * orders, so marker-only rollback and data-reclaiming vacuum are
    * driver-verified, not just spec-verified. */
  private def stagedLifecycleTable(s: SparkSession, d: String,
                                   op: String): String =
    Staged.once(op, d) { dir =>
      val orders = graft.Tables.orders(s, d)
      graft.sinks.Sinks.mergePublish(s, ordersBase(orders), s"$dir/t",
        Seq("o_orderkey"))
      graft.sinks.Sinks.mergePublish(s, ordersUpdate(orders), s"$dir/t",
        Seq("o_orderkey"))
      op match {
        case "rollback" => graft.sinks.Sinks.rollbackTo(s, s"$dir/t", 1)
        case "vacuum" =>
          val gone = graft.sinks.Sinks.vacuumVersions(s, s"$dir/t")
          require(gone == Seq(1), s"vacuum should reclaim v=1, got $gone")
      }
      s"$dir/t"
    }

  /** Versioned documents table for the cross-version drift row: v=1 is
    * the even-doc_id half (the "yesterday" corpus), v=2 the full
    * corpus — both served back through the marker-pointer layout, so
    * the drift row also exercises readVersion on document-shaped
    * data. */
  private def stagedDocVersions(s: SparkSession, d: String): String =
    Staged.once("docver", d) { dir =>
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(s, d)
      graft.sinks.Sinks.publishVersioned(
        docs.where(col("doc_id") % 2 === 0), s"$dir/t")
      graft.sinks.Sinks.publishVersioned(docs, s"$dir/t")
      s"$dir/t"
    }

  /** The lineitem (sum_qty, n_rows) delta for orderkey parity `m` —
    * the one slice definition the batch and stream rollup fixtures
    * share. */
  private def lineitemDelta(s: SparkSession, d: String, m: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    graft.Tables.lineitem(s, d).where(col("l_orderkey") % 2 === m).select(
      col("l_returnflag"), col("l_linestatus"),
      col("l_quantity").cast("long").as("sum_qty"), lit(1L).as("n_rows"))
  }

  /** Standing rollup maintained by TWO delta applications (even-key
    * lineitems, then odd) through [[graft.sinks.Sinks.mergeAggPublish]]
    * — the oracle recomputes the rollup from the FULL table, so the
    * hash certifies that incremental additive maintenance equals the
    * rebuild exactly (integer sums are order-insensitive). */
  private def stagedAggTable(s: SparkSession, d: String): String =
    Staged.once("agg", d) { dir =>
      Seq(0, 1).foreach { slice =>
        graft.sinks.Sinks.mergeAggPublish(s, lineitemDelta(s, d, slice),
          s"$dir/t", Seq("l_returnflag", "l_linestatus"),
          Seq("sum_qty", "n_rows"), batchId = Some(slice.toLong))
      }
      // REPLAY delta 0 (r12): the applied-batch ledger must make it a
      // no-op — any double count breaks the full-rebuild oracle hash,
      // so the exactly-once guarantee is driver-verified, not just
      // spec-verified.
      val replayed = graft.sinks.Sinks.mergeAggPublish(s,
        lineitemDelta(s, d, 0), s"$dir/t",
        Seq("l_returnflag", "l_linestatus"), Seq("sum_qty", "n_rows"),
        batchId = Some(0L))
      require(replayed == 2, s"replayed delta minted version $replayed")
      s"$dir/t"
    }

  /** The standing rollup maintained by the STREAMING path (r12): the
    * same two lineitem delta slices as [[stagedAggTable]], delivered
    * as checkpointed file-stream triggers through
    * [[graft.streaming.StreamingIngest.mergeAggPublishStream]], plus a
    * crash-replay of micro-batch 0 that the applied-batch ledger must
    * no-op (for an ADDITIVE merge that detection is the correctness
    * condition — a replay double-counts, unlike the keyed merge's
    * content convergence). Shares q_rollup_incremental's full-rebuild
    * twin: stream ≡ incremental ≡ rebuild, exactly. */
  private def stagedStreamAggTable(s: SparkSession, d: String): String =
    Staged.once("aggstream", d) { dir =>
      val (b0, b1) = (lineitemDelta(s, d, 0), lineitemDelta(s, d, 1))
      def run(): Unit =
        graft.streaming.StreamingIngest.mergeAggPublishStream(
          s.readStream.schema(b0.schema).parquet(s"$dir/in/*"),
          s"$dir/t", Seq("l_returnflag", "l_linestatus"),
          Seq("sum_qty", "n_rows"), s"$dir/ckpt")
      b0.write.parquet(s"$dir/in/b0")
      run()
      b1.write.parquet(s"$dir/in/b1")
      run()
      val replayed = graft.sinks.Sinks.mergeAggPublish(s, b0,
        s"$dir/t", Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty", "n_rows"), batchId = Some(0L))
      require(replayed == 2,
        s"replayed rollup micro-batch minted version $replayed")
      s"$dir/t"
    }

  /** Once-per-corpus-version near-dup pair table:
    * the minhash→LSH→exact-Jaccard chain materializes ONE compact
    * parquet table per (sfDir) per JVM; q_source_overlap,
    * q_dedup_clusters and q_curation serve from it instead of each
    * re-deriving the chain (three shingle pipelines collapse into one
    * build + three compact scans). Deleted on JVM exit. */
  private def stagedPairTable(s: SparkSession, d: String): DataFrame = {
    val path = Staged.once("pairs", d) { dir =>
      operators.Dedup.buildPairTable(s, d, s"$dir/pairs")
      s"$dir/pairs"
    }
    operators.Dedup.pairTable(s, path)
  }

  /** Once-per-corpus-version source-overlap matrix (r18, VERDICT r17
    * #4): the cross-source duplication rollup — two doc_id→source
    * joins + the source-pair aggregate over the standing pair table —
    * materializes once per (sfDir, JVM); `q_source_authority` reads
    * it instead of re-deriving it per run, the same one-level-up
    * serving step the pair table itself took in r10. The BUILD stays
    * benched: `q_source_overlap` computes verbatim this staging
    * derivation every run. (string, string, long) rows round-trip
    * parquet bit-exactly. Deleted on JVM exit. */
  private def stagedOverlapTable(s: SparkSession, d: String): DataFrame = {
    val path = Staged.once("overlap", d) { dir =>
      operators.Dedup.sourceOverlapFrom(s, d, stagedPairTable(s, d))
        .write.mode("overwrite").parquet(s"$dir/overlap")
      s"$dir/overlap"
    }
    s.read.parquet(path)
  }

  /** Once-per-corpus-version kNN graph (r17, VERDICT r16 #7): the
    * band-join + rescore + top-k chain materializes ONE compact
    * parquet table per (sfDir, JVM); `q_knn_join_served` reads it —
    * the standing-artifact shape for the last expensive family
    * without a build/serve split. Deleted on JVM exit. */
  private def stagedKnnTable(s: SparkSession, d: String): String =
    Staged.once("knn", d) { dir =>
      operators.Similarity.buildKnnTable(s, d, s"$dir/knn")
      s"$dir/knn"
    }

  /** Once-per-corpus-version embedding near-dup pairs (r17, second
    * serving pass): the banded-collision + exact-cosine chain
    * materializes once per (sfDir, JVM); `q_embedding_neardup_served`
    * reads it. Deleted on JVM exit. */
  private def stagedEmbPairTable(s: SparkSession, d: String): String =
    Staged.once("embpairs", d) { dir =>
      operators.Similarity.buildEmbeddingPairTable(s, d, s"$dir/pairs")
      s"$dir/pairs"
    }

  /** Once-per-corpus-version SimHash neighbor pairs (r17, second
    * serving pass), built through the envelope-dispatched auto form;
    * `q_simhash64_neighbors_served` reads it. Deleted on JVM exit. */
  private def stagedSimhashTable(s: SparkSession, d: String): String =
    Staged.once("simhash", d) { dir =>
      operators.Dedup.buildSimhashPairTable(s, d, s"$dir/pairs")
      s"$dir/pairs"
    }

  /** Persisted IVF index, built (centroids TRAINED) once per (sfDir,
    * JVM) — the production build/serve split on the oracle surface:
    * `q_ann_ivf` carries training in-query so the WHOLE pipeline is
    * oracle-checked; `q_ann_ivf_served` answers the same query from
    * this staged index (identical results — same trained centroids,
    * same tie-breaks — so the TWO paths share one DuckDB twin) at
    * serve-path cost, with cell-partition pruning doing the work. */
  /** One DuckDB twin for BOTH q_bm25 and q_bm25_served — the shared SQL
    * is itself the build/serve identity statement. Every constant is
    * CAST(... AS DOUBLE) (bare DuckDB decimal literals would pull the
    * arithmetic into DECIMAL, off the IEEE path Spark computes on); the
    * per-(doc,term) contribution is micro-unit fixed-point rounded
    * BEFORE the per-doc sum so the aggregate is an order-insensitive
    * exact-long sum. */
  /** One DuckDB twin for q_scd2 AND its stream-maintained form
    * (r12): the from-scratch SCD2 build both must equal. */
  private lazy val scd2Sql: String =
    """WITH ev AS (
        |  SELECT user_id, event_id, event_type AS status,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), changes AS (
        |  SELECT user_id, event_id, status, ts_us
        |  FROM (SELECT *, LAG(status, 1) OVER w AS prev_status
        |        FROM ev WINDOW w AS (PARTITION BY user_id
        |                             ORDER BY ts_us, event_id))
        |  WHERE prev_status IS NULL OR prev_status <> status
        |)
        |SELECT user_id, version_no, status, valid_from_us, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM (
        |  SELECT user_id, status, ts_us AS valid_from_us,
        |         LEAD(ts_us, 1) OVER w AS valid_to_us,
        |         CAST(ROW_NUMBER() OVER w AS INT) AS version_no
        |  FROM changes WINDOW w AS (PARTITION BY user_id
        |                            ORDER BY ts_us, event_id)
        |)""".stripMargin

  /** One DuckDB twin for q_rollup_incremental AND its stream-
    * maintained form (r12): the full-table rebuild both maintenance
    * paths must equal exactly (integer sums are order-insensitive). */
  private lazy val rollupRebuildSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** One DuckDB twin for BOTH q_image_neardup and its envelope-
    * dispatched _auto form (r15): the closed-form dHash prediction +
    * brute-force hamming≤3 join; below the trigger the dispatch is
    * plan-identical, above it the wide form is pair-set-identical
    * (radius-3 complete both ways, ScaleEnvelopeSpec). */
  private lazy val imageNearDupSql: String =
    """WITH ids AS (
      |  SELECT doc_id, doc_id // 2 AS v FROM documents
      |), bits AS (
      |  SELECT doc_id,
      |         CAST(COALESCE(SUM(CASE WHEN
      |               ((v*(2654435761 + (r*8+c+1)*40503)) % 1000003) % 255
      |             > ((v*(2654435761 + (r*8+c)*40503)) % 1000003) % 255
      |             THEN CAST(1 AS BIGINT) << CAST(r*7 + c AS INT)
      |             ELSE CAST(0 AS BIGINT) END), 0) AS BIGINT) AS h
      |  FROM ids, unnest(range(0, 8)) AS tr(r), unnest(range(0, 7)) AS tc(c)
      |  GROUP BY doc_id
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin

  /** One DuckDB twin for BOTH q_takedown_by_content and its _served
    * form (r15) — the shared SQL is the build/serve identity
    * statement, the hybridRrfSql pattern. */
  private lazy val takedownByContentSql: String =
    s"""$ToksCte, $minhashCtes, live AS (
       |  SELECT doc_id, t FROM toks WHERE doc_id % 5 <> 2
       |), pass AS (
       |  SELECT CAST(0 AS BIGINT) AS passage_id,
       |         array_to_string(t[2:6], ' ') AS p_norm
       |  FROM toks WHERE doc_id = $ContentProbeDoc
       |), ex AS (
       |  SELECT p.passage_id, d.doc_id
       |  FROM live d, pass p
       |  WHERE contains(' ' || array_to_string(d.t, ' ') || ' ',
       |                 ' ' || p.p_norm || ' ')
       |)
       |SELECT passage_id, doc_id, 'exact' AS via FROM ex
       |UNION ALL
       |SELECT passage_id, doc_id, 'neardup' AS via FROM (
       |  SELECT DISTINCT e.passage_id,
       |         CASE WHEN pr.doc_a = e.doc_id THEN pr.doc_b
       |              ELSE pr.doc_a END AS doc_id
       |  FROM ex e JOIN pairs pr
       |    ON pr.doc_a = e.doc_id OR pr.doc_b = e.doc_id
       |  WHERE pr.doc_a % 5 <> 2 AND pr.doc_b % 5 <> 2
       |) x
       |WHERE NOT EXISTS (SELECT 1 FROM ex
       |                  WHERE ex.passage_id = x.passage_id
       |                    AND ex.doc_id = x.doc_id)""".stripMargin

  /** One DuckDB twin for BOTH q_hybrid_rrf and q_hybrid_rrf_served
    * (r12) — the shared SQL is the build/serve identity statement,
    * the bm25Sql pattern.  */
  private lazy val hybridRrfSql: String =
    s"""$EmbCte, toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
         |  FROM documents
         |), stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len(t)) AS BIGINT) AS sum_dl
         |  FROM toks
         |), dl AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
         |), occ AS (
         |  SELECT doc_id, unnest(t) AS tok FROM toks
         |), tf AS (
         |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM occ WHERE tok IN ${inList(Retrieval.DefaultQuery)}
         |  GROUP BY 1, 2
         |), dfq AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), contrib AS (
         |  SELECT tf.doc_id,
         |         CAST(round((
         |             ((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |               / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |           * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |               / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |                  * (CAST(0.25 AS DOUBLE)
         |                     + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
         |                       / (CAST(sum_dl AS DOUBLE)
         |                          / CAST(n_docs AS DOUBLE)))))
         |           ) * ${Retrieval.ScoreScale}) AS BIGINT) AS contrib_fp
         |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN dfq ON tf.tok = dfq.tok
         |  CROSS JOIN stats
         |), lex_scored AS (
         |  SELECT doc_id, SUM(contrib_fp) AS score_fp
         |  FROM contrib GROUP BY 1
         |), lexr AS (
         |  SELECT doc_id, lex_rank FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (
         |      ORDER BY score_fp DESC, doc_id ASC) AS lex_rank
         |    FROM lex_scored)
         |  WHERE lex_rank <= ${Retrieval.CandidateK}
         |), q AS (
         |  SELECT v AS qv, nv AS nq FROM n WHERE vec_id = 0
         |), vec_scored AS (
         |  SELECT n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, q WHERE n.vec_id <> 0
         |), vecr AS (
         |  SELECT vec_id, vec_rank FROM (
         |    SELECT vec_id, ROW_NUMBER() OVER (
         |      ORDER BY cosine DESC, vec_id ASC) AS vec_rank
         |    FROM vec_scored)
         |  WHERE vec_rank <= ${Retrieval.CandidateK}
         |), fused AS (
         |  SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
         |         coalesce(l.lex_rank, 0) AS lex_rank,
         |         coalesce(v.vec_rank, 0) AS vec_rank
         |  FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.vec_id
         |), rr AS (
         |  SELECT doc_id, lex_rank, vec_rank,
         |         (CASE WHEN lex_rank > 0
         |               THEN CAST(1.0 AS DOUBLE) / (${Retrieval.RrfK} + lex_rank)
         |               ELSE CAST(0.0 AS DOUBLE) END)
         |       + (CASE WHEN vec_rank > 0
         |               THEN CAST(1.0 AS DOUBLE) / (${Retrieval.RrfK} + vec_rank)
         |               ELSE CAST(0.0 AS DOUBLE) END) AS rrf
         |  FROM fused
         |)
         |SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
         |       CAST(vec_rank AS INT) AS vec_rank, rrf,
         |       CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (
         |        ORDER BY rrf DESC, doc_id ASC) AS rank FROM rr)
         |WHERE rank <= ${Retrieval.FinalK}""".stripMargin

  private lazy val bm25Sql: String = bm25SqlOver("")

  /** [[bm25Sql]] over a RESTRICTED corpus — `docWhere` is a WHERE
    * clause on the documents scan (empty = full corpus). The takedown
    * rows reuse the whole scoring twin with the taken-down docs
    * filtered out: served-after-takedown ≡ rebuild-over-purged is then
    * driver-hash-certified, not just spec-asserted. */
  private def bm25SqlOver(docWhere: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
       |  FROM documents $docWhere
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len(t)) AS BIGINT) AS sum_dl
       |  FROM toks
       |), dl AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
       |), occ AS (
       |  SELECT doc_id, unnest(t) AS tok FROM toks
       |), tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM occ WHERE tok IN ${inList(operators.Retrieval.DefaultQuery)}
       |  GROUP BY 1, 2
       |), dfq AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), contrib AS (
       |  SELECT tf.doc_id,
       |         CAST(round((
       |             ((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |               / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |           * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |               / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |                  * (CAST(0.25 AS DOUBLE)
       |                     + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE))
       |                       / (CAST(sum_dl AS DOUBLE)
       |                          / CAST(n_docs AS DOUBLE)))))
       |           ) * ${operators.Retrieval.ScoreScale}) AS BIGINT)
       |           AS contrib_fp
       |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN dfq ON tf.tok = dfq.tok
       |  CROSS JOIN stats
       |), scored AS (
       |  SELECT doc_id, SUM(contrib_fp) AS score_fp,
       |         CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM contrib GROUP BY 1
       |)
       |SELECT doc_id, n_terms,
       |       CAST(score_fp AS DOUBLE) / ${operators.Retrieval.ScoreScale}
       |         AS bm25,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (
       |        ORDER BY score_fp DESC, doc_id ASC) AS rank FROM scored)
       |WHERE rank <= ${operators.Retrieval.FinalK}""".stripMargin

  /** Lexical (BM25) index staged once per (sfDir) per JVM — the
    * retrieval twin of [[stagedIvfIndex]]: `q_bm25` carries the corpus
    * explode in-query so the whole pipeline is oracle-checked;
    * `q_bm25_served` answers the identical query from this index at
    * serve cost (partition-pruned postings), sharing q_bm25's DuckDB
    * twin because the two paths share one score tail. */
  private def stagedLexIndex(s: SparkSession, d: String): String =
    Staged.once("lex", d) { dir =>
      operators.Retrieval.buildLexIndexBatch(s, graft.Tables.documents(s, d),
        s"$dir/lex", operators.Compaction.BootstrapBatchId)
      s"$dir/lex"
    }

  private def takedownDocIds(s: SparkSession, d: String) = {
    import org.apache.spark.sql.functions.col
    graft.Tables.documents(s, d).where(col("doc_id") % 5 === 2)
      .select(col("doc_id"))
  }

  /** The ONE two-batch lex-index recipe every takedown/compaction
    * fixture shares (batch 0 = even doc_ids, batch 1 = odd) — one
    * definition so the stream-takedown fixture can never silently
    * diverge from the batch fixtures it mirrors (r13 review). */
  private def buildTwoBatchLex(s: SparkSession, d: String,
                               idx: String): Unit = {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(s, d)
    operators.Retrieval.buildLexIndexBatch(s,
      docs.where(col("doc_id") % 2 === 0), idx, 0L)
    operators.Retrieval.buildLexIndexBatch(s,
      docs.where(col("doc_id") % 2 === 1), idx, 1L)
  }

  private def buildTakedownLex(s: SparkSession, d: String,
                               idx: String): Unit = {
    buildTwoBatchLex(s, d, idx)
    operators.Takedown.takedownLex(s, idx, takedownDocIds(s, d), 0L)
  }

  /** Batch-maintained lex index (two ingest slices — the accreting
    * layout) with a LOGICAL takedown of doc_id % 5 == 2 applied: the
    * `q_bm25_takedown` fixture. The oracle rebuilds BM25 over the
    * purged corpus, so the hash certifies deletion vectors + the
    * negative stats partial end to end. */
  private def stagedTakedownLexIndex(s: SparkSession, d: String): String =
    Staged.once("lex_td", d) { dir =>
      buildTakedownLex(s, d, s"$dir/lex")
      s"$dir/lex"
    }

  /** The same takedown fixture COMPACTED (batches + deletes folded
    * physically, ledgered), then a replay of folded ingest batch 0 and
    * of the folded takedown — both must no-op against the ledgers or
    * the shared purged-corpus oracle hash breaks (`q_bm25_compacted`). */
  private def stagedCompactedLexIndex(s: SparkSession, d: String): String =
    Staged.once("lex_fold", d) { dir =>
      import org.apache.spark.sql.functions.col
      val idx = s"$dir/lex"
      buildTakedownLex(s, d, idx)
      operators.Compaction.compactLexIndex(s, idx)
      operators.Retrieval.buildLexIndexBatch(s,
        graft.Tables.documents(s, d).where(col("doc_id") % 2 === 0),
        idx, 0L)
      operators.Takedown.takedownLex(s, idx, takedownDocIds(s, d), 0L)
      idx
    }

  private def stagedPosIndex(s: SparkSession, d: String): String =
    Staged.once("pos", d) { dir =>
      operators.Retrieval.buildPosIndexBatch(s, graft.Tables.documents(s, d),
        s"$dir/pos", operators.Compaction.BootstrapBatchId)
      s"$dir/pos"
    }

  private def stagedIvfIndex(s: SparkSession, d: String): String =
    Staged.once("ivf", d) { dir =>
      operators.Similarity.buildIvfIndexBatch(s,
        graft.Tables.embeddings(s, d), s"$dir/ivf",
        operators.Compaction.BootstrapBatchId)
      s"$dir/ivf"
    }

  /** Persisted PQ index (books + codes), built once per (sfDir, JVM) —
    * the build/serve split for the ADC tier, mirroring
    * [[stagedIvfIndex]]: `q_pq_topk` trains in-query so the whole
    * train→encode→serve pipeline is oracle-checked; `q_pq_topk_served`
    * answers the identical query from this index at serve cost
    * (codes-only candidate scan) and shares the same twin. */
  private def stagedPqIndex(s: SparkSession, d: String): String =
    Staged.once("pq", d) { dir =>
      operators.Pq.buildPqIndex(s, d, s"$dir/pq")
      s"$dir/pq"
    }

  /** In-process Derby holding the transactions fixture — the hermetic
    * stand-in for the reference's operational Cloud SQL MySQL (S6,
    * `cloud_composer/datapipeline_gcp.py:33-36,85-93`). Staged once per
    * (sfDir) per JVM through Spark's own JDBC writer; the raw layer is
    * deliberately string-typed except the BIGINT key (the reference's
    * export lands all-string too), so the read path exercises the same
    * raw→master casts as the text formats. Returns the JDBC url. */
  private def stagedJdbc(s: SparkSession, d: String): String =
    Staged.once("derby", d) { dir =>
      import org.apache.spark.sql.functions._
      // NO derby.system.home mutation: the property is read once at
      // Derby boot, so setting it here is a no-op if anything booted
      // Derby earlier (a metastore-enabled session) and, worse, would
      // silently reroot any LATER relative-path Derby DB into this
      // doomed temp dir. The DB path below is absolute; derby.log
      // lands in CWD (gitignored) — harmless, and no global state.
      val url = s"jdbc:derby:$dir/txndb;create=true"
      val shaped = Relational.transactions(s, d).select(
        col("transaction_id").cast("long").as("transaction_id"),
        col("income").cast("string").as("income"),
        col("transaction_country").as("country"),
        date_format(col("transaction_datetime"), "yyyy-MM-dd HH:mm:ss")
          .as("date_time"))
      shaped.repartition(4).write.mode("overwrite")
        .option("createTableColumnTypes",
          "transaction_id BIGINT, income VARCHAR(32), country VARCHAR(64), " +
            "date_time VARCHAR(32)")
        .jdbc(url, "transactions", new java.util.Properties())
      url
    }

  private def ingestRoundtrip(s: SparkSession, d: String, fmt: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = fmt match {
      case "jdbc" =>
        // Bounds come from the source itself (readJdbcAutoBounds probes
        // MIN/MAX), not from staged literals — the standing contract for
        // an operational table whose key range grows.
        val url = stagedJdbc(s, d)
        sources.Ingest
          .readJdbcAutoBounds(s, url, "transactions", "transaction_id", 8)
          .select(col("transaction_id").cast("string").as("transaction_id"),
            col("income"), col("country"), col("date_time"))
      case "tsv" =>
        sources.Ingest.readTsv(s, s"${stagedDir(s, d, fmt)}/stage/*.txt",
          sources.Ingest.transactionsSchema)
      case "jsonl" =>
        sources.Ingest.readJsonl(s, s"${stagedDir(s, d, fmt)}/stage/*.txt.gz",
          sources.Ingest.transactionsSchema)
      case "orc" =>
        sources.Ingest.readOrc(s, s"${stagedDir(s, d, fmt)}/stage/*.orc",
          sources.Ingest.transactionsSchema)
      case "csv_nohdr" =>
        sources.Ingest.readCsvNoHeader(s,
          s"${stagedDir(s, d, fmt)}/stage/*.csv",
          sources.Ingest.transactionsSchema)
      case "evolve" =>
        // Additive schema migration: ONE mergeSchema read over both
        // parquet generations serves the union schema — gen=1 files
        // (written before the date_time column existed) are null-filled
        // by the reader, never rewritten. At 100 TB this is the only
        // viable migration: footers carry per-file schemas, the union
        // is computed from footers alone, and no historical bytes move.
        s.read.option("mergeSchema", "true")
          .parquet(s"${stagedDir(s, d, fmt)}/stage")
          .select(col("transaction_id"), col("income"), col("country"),
            col("date_time"))
      case _ =>
        sources.Ingest.readCsv(s, s"${stagedDir(s, d, fmt)}/stage/*.csv",
          sources.Ingest.transactionsSchema)
    }
    // ONE raw→master normalization for all five formats — text and
    // JDBC must stay in lockstep against the shared oracle. The F1/F2
    // date and time parts come from the raw string, before the parse.
    sources.Ingest.withDateParts(raw, col("date_time")).select(
      col("transaction_id"),
      col("income").cast("double").as("income"),
      col("country"),
      to_timestamp(col("date_time"), "yyyy-MM-dd HH:mm:ss").as("date_time"),
      col("date"),
      col("time"))
  }

  // ---- oracle SQL fragments shared by the LLM-pipeline queries ----

  /** Tokenized documents CTE (DuckDB) — twin of TextOps.tokens. */
  private val ToksCte: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, n_chars, text,
      |         regexp_extract_all(lower(text), '\S+') AS t
      |  FROM documents
      |)""".stripMargin

  /** Distinct 3-gram shingles (DuckDB) — twin of TextOps.shingles. */
  private val ShinglesExpr: String =
    "CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(" +
      "range(1, len(t) - 1), i -> concat_ws(' ', t[i], t[i+1], t[i+2])))" +
      " ELSE [] END"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def hitsExpr(words: Seq[String]): String =
    s"len(list_filter(t, x -> x IN ${inList(words)}))"

  /** Twin of Learn.qualityLr: the feature CTE shares q_quality_score's
    * exact derivations, then [[graft.operators.Learn.Iterations]] GD
    * epochs unroll as chained CTEs — micro-unit exact-long gradient
    * sums, the rational sigmoid (no exp — not cross-engine
    * bit-stable), weight update w + (g/1e6)/n with the same
    * association Spark's driver loop computes. Weights, scores, and
    * verdicts land bit-identical by construction. */
  private lazy val qualityLrOracle: String = {
    val sigOf = (z: String) => s"0.5 * (1.0 + ($z) / (1.0 + abs($z)))"
    val zOf = (wt: String) =>
      s"$wt.w0 * 1.0 + $wt.w1 * x1 + $wt.w2 * x2 + $wt.w3 * x3"
    val xcols = Seq("1.0", "x1", "x2", "x3")
    val epochs = (1 to Learn.Iterations).map { i =>
      val prev = s"wt${i - 1}"
      val err = s"(y - ${sigOf(zOf(prev))})"
      val gs = xcols.zipWithIndex.map { case (x, j) =>
        s"SUM(CAST(round($err * $x * ${Learn.Micro}) AS BIGINT)) AS g$j"
      }.mkString(",\n         ")
      val ws = (0 to 3).map(j =>
        s"$prev.w$j + (CAST(g$j AS DOUBLE) / 1000000.0) / n AS w$j")
        .mkString(",\n         ")
      s""", grad$i AS (
         |  SELECT $gs,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM feats, $prev
         |), wt$i AS (
         |  SELECT $ws
         |  FROM grad$i, $prev
         |)"""
    }.mkString
    val wFin = s"wt${Learn.Iterations}"
    s"""$ToksCte, base AS (
       |  SELECT doc_id, lang,
       |         len(text) AS n_chars,
       |         len(t) AS n_tokens,
       |         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
       |         ${hitsExpr(TextOps.StopWords.head._2)} AS n_stop
       |  FROM toks
       |), feats AS (
       |  SELECT doc_id,
       |         CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(0.0 AS DOUBLE) END AS y,
       |         least(CAST(1.0 AS DOUBLE),
       |               CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) AS x1,
       |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
       |              ELSE CAST(0.0 AS DOUBLE) END AS x2,
       |         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens
       |              ELSE CAST(0.0 AS DOUBLE) END AS x3
       |  FROM base
       |), wt0 AS (
       |  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
       |)$epochs
       |SELECT doc_id, y = 1.0 AS is_en,
       |       ${sigOf(zOf(wFin))} AS score,
       |       ${sigOf(zOf(wFin))} >= 0.5 AS predicted
       |FROM feats, $wFin""".stripMargin
  }

  /** MinHash banded-signature CTEs (DuckDB) — twin of
    * Dedup.bandedSignaturesOf + minhashPairs (one md5 per shingle, then
    * the (a·x+b) mod p universal-hash family). */
  private def minhashCtes: String = {
    val a = Dedup.HashA.mkString("[", ", ", "]")
    val b = Dedup.HashB.mkString("[", ", ", "]")
    val sigComp =
      s"[list_min(list_transform(xs, x -> (($a)[h+1] * x + ($b)[h+1]) % ${Dedup.HashP})) " +
        s"FOR h IN range(${Dedup.NumHashes})]"
    val bandKey = (0 until Dedup.BandRows)
      .map(r => s"sig[${Dedup.BandRows}*b+${r + 1}]::VARCHAR")
      .mkString(" || '|' || ")
    s"""docs AS (
       |  SELECT doc_id, $ShinglesExpr AS sh
       |  FROM toks WHERE len(t) >= 3
       |), sigs AS (
       |  SELECT doc_id, $sigComp AS sig
       |  FROM (SELECT doc_id, list_transform(sh,
       |          s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS xs
       |        FROM docs)
       |), bands AS (
       |  SELECT doc_id, b AS band_idx, md5($bandKey) AS band_key
       |  FROM sigs, unnest(range(${Dedup.NumBands})) AS u(b)
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_band_matches
       |  FROM bands a JOIN bands b USING (band_idx, band_key)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** Embedding corpus CTEs with exact left-to-right double dot products
    * (DuckDB) — twin of Similarity.corpus. */
  private val EmbCte: String = {
    val dim = Similarity.Dim
    s"""WITH c AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, label, v,
       |         sqrt(list_sum(list_transform(range(1, ${dim + 1}),
       |           i -> v[i] * v[i]))) AS nv
       |  FROM c
       |)""".stripMargin
  }

  /** q_ann_ivf twin: trains KmIterations Lloyd rounds from the
    * hash-sample seed — k = GREATEST(16, ⌈√COUNT(*)⌉) vectors ranking
    * first by (md5(vec_id), vec_id), exactly
    * Similarity.{centroidCountFor,seedCentroidsOf} (sqrt/ceil of an
    * exact-integer double are correctly-rounded IEEE ops, so both
    * engines land on the identical k) — unrolled as aN = assignment
    * (argmax cosine, cell-asc tie-break), mN = 9-dp member means per
    * (cell, dim), kN = empty-cell guard (keep previous), cN = rebuilt
    * centroid vectors. Must track kmeansRefineOf exactly. Shared by
    * q_ann_ivf (in-query training) and q_ann_ivf_served (persisted
    * index) — identical results by construction. */
  /** Shared IVF prefix: deterministic hash-sample seed → KmIterations
    * Lloyd rounds → final `cents` → every vector's `cells` assignment.
    * annIvfSql's probe/score tail and semDedupSql's within-cell pair
    * tail both sit on this one derivation, so the two operators cannot
    * drift in how cells are trained or assigned. */
  private lazy val ivfCellsCtes: String =
      s"""$EmbCte, kp AS (
         |  SELECT CASE WHEN COUNT(*) <= ${ScaleEnvelope.CentroidSqrtCrossover}
         |           THEN GREATEST(${Similarity.MinCentroids},
         |                  CAST(ceil(sqrt(COUNT(*))) AS BIGINT))
         |           ELSE (COUNT(*) + ${ScaleEnvelope.TargetCellCap - 1})
         |                  // ${ScaleEnvelope.TargetCellCap} END AS k
         |  FROM n
         |), c0 AS (
         |  SELECT vec_id AS cell, v AS cv, nv AS cnv
         |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY
         |          md5(CAST(vec_id AS VARCHAR)), vec_id) AS rs FROM n), kp
         |  WHERE rs <= k
         |)${(1 to Similarity.KmIterations).map { it =>
             val prev = s"c${it - 1}"
             s""", a$it AS (
         |  SELECT n.vec_id, $prev.cell, n.v,
         |         ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |           list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |             i -> cv[i] * v[i])) / (cnv * nv) DESC, $prev.cell ASC) AS r
         |  FROM n, $prev
         |), m$it AS (
         |  SELECT cell, i - 1 AS dim, round(avg(v[i]), 9) AS cx
         |  FROM a$it, range(1, ${Similarity.Dim + 1}) AS t(i)
         |  WHERE r = 1
         |  GROUP BY cell, i
         |), k$it AS (
         |  SELECT cell, i - 1 AS dim, cv[i] AS cx
         |  FROM $prev, range(1, ${Similarity.Dim + 1}) AS t(i)
         |  WHERE cell NOT IN (SELECT DISTINCT cell FROM m$it)
         |), l$it AS (
         |  SELECT * FROM m$it UNION ALL SELECT * FROM k$it
         |), r$it AS (
         |  SELECT cell, list(cx ORDER BY dim) AS cv FROM l$it GROUP BY cell
         |), c$it AS (
         |  SELECT cell, cv,
         |         sqrt(list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> cv[i] * cv[i]))) AS cnv
         |  FROM r$it
         |)"""
           }.mkString}, cents AS (
         |  SELECT cell AS cent_id, cv, cnv FROM c${Similarity.KmIterations}
         |), ranked AS (
         |  SELECT n.vec_id, cents.cent_id,
         |         ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |           list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |             i -> cv[i] * v[i])) / (cnv * nv) DESC, cent_id ASC) AS crank
         |  FROM n, cents
         |), cells AS (
         |  SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1
         |)""".stripMargin

  /** Twin of Pq.adcTopk: unit-normalize, hash-sample seed slices per
    * subspace, Pq.Iterations Lloyd rounds (9-dp means, keep-seed on
    * empty code), nearest-code encode, micro-rounded ADC LUT, exact
    * long sum, per-query rank. Every dot is the ascending-range LTR
    * list_sum fold, every distance the same ((xx − 2·xc) + cc)
    * association the Spark side computes. */
  private lazy val pqCtes: String = {
    val P = graft.operators.Pq
    val sd = P.SubDim
    def dotSql(a: String, b: String): String =
      s"list_sum(list_transform(range(1, ${sd + 1}), i -> $a[i] * $b[i]))"
    def dist2Sql(x: String, c: String): String =
      s"${dotSql(x, x)} - 2.0 * ${dotSql(x, c)} + ${dotSql(c, c)}"
    val lloyd = (1 to P.Iterations).map { it =>
      val prev = s"books${it - 1}"
      s""", asg$it AS (
         |  SELECT sl.vec_id, sl.m, b.code, sl.x,
         |         ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.m
         |           ORDER BY ${dist2Sql("x", "cv")} ASC, b.code ASC) AS r
         |  FROM sl JOIN $prev b ON sl.m = b.m
         |), mm$it AS (
         |  SELECT m, code, i - 1 AS dim, round(avg(x[i]), 9) AS cx
         |  FROM asg$it, range(1, ${sd + 1}) AS t(i)
         |  WHERE r = 1 GROUP BY m, code, i
         |), kk$it AS (
         |  SELECT b.m, b.code, i - 1 AS dim, cv[i] AS cx
         |  FROM $prev b, range(1, ${sd + 1}) AS t(i)
         |  WHERE NOT EXISTS (SELECT 1 FROM mm$it
         |                    WHERE mm$it.m = b.m AND mm$it.code = b.code)
         |), ll$it AS (
         |  SELECT * FROM mm$it UNION ALL SELECT * FROM kk$it
         |), books$it AS (
         |  SELECT m, code, list(cx ORDER BY dim) AS cv
         |  FROM ll$it GROUP BY m, code
         |)"""
    }.mkString
    val fin = s"books${P.Iterations}"
    s""", u AS (
       |  SELECT vec_id, list_transform(v, x -> x / nv) AS v FROM n
       |), seeds AS (
       |  SELECT vec_id AS cent_id, v AS cv,
       |         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY
       |          md5(CAST(vec_id AS VARCHAR)), vec_id) AS rs FROM u)
       |  WHERE rs <= ${P.Codes}
       |), books0 AS (
       |  SELECT m, code,
       |         list_transform(range(1, ${sd + 1}), i -> cv[m * $sd + i]) AS cv
       |  FROM seeds, range(0, ${P.Subspaces}) AS tm(m)
       |), sl AS (
       |  SELECT vec_id, m,
       |         list_transform(range(1, ${sd + 1}), i -> v[m * $sd + i]) AS x
       |  FROM u, range(0, ${P.Subspaces}) AS tm(m)
       |)$lloyd, enc AS (
       |  SELECT sl.vec_id, sl.m, b.code,
       |         ROW_NUMBER() OVER (PARTITION BY sl.vec_id, sl.m
       |           ORDER BY ${dist2Sql("x", "cv")} ASC, b.code ASC) AS r
       |  FROM sl JOIN $fin b ON sl.m = b.m
       |), lutq AS (
       |  SELECT q.vec_id AS q_id, b.m, b.code,
       |         CAST(round(${dotSql("qx", "cv")} * ${P.Micro}) AS BIGINT)
       |           AS lut_c
       |  FROM (SELECT vec_id, m, x AS qx FROM sl
       |        WHERE vec_id < ${Similarity.NumQueries}) q
       |  JOIN $fin b ON q.m = b.m
       |)""".stripMargin
  }

  private lazy val pqTopkSql: String =
    s"""$EmbCte$pqCtes, sc AS (
       |  SELECT l.q_id, e.vec_id, CAST(SUM(lut_c) AS BIGINT) AS adc
       |  FROM (SELECT vec_id, m, code FROM enc WHERE r = 1) e
       |  JOIN lutq l ON e.m = l.m AND e.code = l.code
       |  WHERE e.vec_id <> l.q_id
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, vec_id, adc, CAST(rank AS INT) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc DESC, vec_id ASC) AS rank FROM sc)
       |WHERE rank <= ${Similarity.TopK}""".stripMargin

  /** Twin of Pq.ivfPqTopk AND its served form (one SQL — the
    * build/serve identity statement): the shared IVF cells prefix
    * (ivfCellsCtes) supplies cells + probe ranking, the shared PQ
    * prefix (pqCtes) supplies codes + the query LUT, and candidates
    * are ADC-scored ONLY within probed cells. */
  private lazy val ivfPqTopkSql: String =
    s"""$ivfCellsCtes$pqCtes, probes AS (
       |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
       |  WHERE crank <= ${Similarity.NumProbes}
       |    AND vec_id < ${Similarity.NumQueries}
       |), cand AS (
       |  SELECT p.q_id, e.vec_id, e.m, e.code
       |  FROM (SELECT vec_id, m, code FROM enc WHERE r = 1) e
       |  JOIN cells ON e.vec_id = cells.vec_id
       |  JOIN probes p ON cells.cell = p.cell
       |  WHERE e.vec_id <> p.q_id
       |), sc AS (
       |  SELECT cd.q_id, cd.vec_id, CAST(SUM(l.lut_c) AS BIGINT) AS adc
       |  FROM cand cd JOIN lutq l
       |    ON cd.q_id = l.q_id AND cd.m = l.m AND cd.code = l.code
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, vec_id, adc, CAST(rank AS INT) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc DESC, vec_id ASC) AS rank FROM sc)
       |WHERE rank <= ${Similarity.TopK}""".stripMargin

  private lazy val annIvfSql: String =
      s"""$ivfCellsCtes, probes AS (
         |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
         |  WHERE crank <= ${Similarity.NumProbes} AND vec_id < ${Similarity.NumQueries}
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), scored AS (
         |  SELECT q.q_id, n.vec_id, cells.cell,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n
         |  JOIN cells ON n.vec_id = cells.vec_id
         |  JOIN probes ON cells.cell = probes.cell
         |  JOIN q ON probes.q_id = q.q_id
         |  WHERE n.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cell, cosine, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin

  /** Twin of Similarity.semDedup: the shared IVF cells prefix, then the
    * within-cell pair sweep. cent_cos recomputes the argmax centroid's
    * cosine through the SAME fold expression over the same operands the
    * assignment ranked by, so the emitted double is bit-identical. */
  private lazy val semDedupSql: String =
      s"""$ivfCellsCtes, memb AS (
         |  SELECT n.vec_id, cells.cell,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> cv[i] * v[i])) / (cnv * nv) AS cent_cos,
         |         n.v, n.nv
         |  FROM n
         |  JOIN cells ON n.vec_id = cells.vec_id
         |  JOIN cents ON cells.cell = cents.cent_id
         |), spairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         a.cent_cos AS cc_a, b.cent_cos AS cc_b,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> a.v[i] * b.v[i])) / (a.nv * b.nv) AS cosine
         |  FROM memb a JOIN memb b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |), losers AS (
         |  SELECT DISTINCT CASE WHEN cc_a > cc_b
         |           OR (cc_a = cc_b AND id_a > id_b) THEN id_a
         |         ELSE id_b END AS vec_id
         |  FROM spairs WHERE cosine >= ${Similarity.SemDedupEps}
         |)
         |SELECT m.vec_id, m.cell, m.cent_cos,
         |       (l.vec_id IS NOT NULL) AS is_dropped
         |FROM memb m LEFT JOIN losers l ON m.vec_id = l.vec_id""".stripMargin

  /** DuckDB literal for one LSH hyperplane (exact round-trip doubles). */
  private def planeSql(h: Int): String =
    Similarity.hyperplanes(h).map(_.toString).mkString("[", ", ", "]")

  /** Banded-LSH CTE block (DuckDB) — twin of
    * Similarity.bandedSignatureRows. `params` derives the per-table
    * width h from COUNT(*) with the SAME integer inequalities as
    * Similarity.tablePlanesFor (no float log2 — cross-engine exact);
    * `planes` recomputes the md5-derived hyperplane components in SQL
    * ((hex4(md5('w:p:i')) − 32768) / 32768 — a 16-bit numerator over
    * 2^15, exactly representable, identical to the Scala derivation);
    * `sigs` sets bit j of table t's signature when the projection onto
    * plane t·MaxTablePlanes+j is positive, for j < h (the per-plane
    * dot is the same LTR list_sum fold as every other vector twin). */
  private def bandedLshCtes: String = {
    val S = Similarity
    // Width whens now run UNCAPPED to AbsMaxPlanes (the ScaleEnvelope
    // policy — the 24-plane cap was the §8.8 manual envelope). Bounds
    // beyond h=57 exceed Long, so they are emitted from the same
    // BigInt arithmetic lshPlanesFor compares with (DuckDB parses the
    // wide literals as HUGEINT; cnt <= HUGEINT is exact).
    val whens = (S.MinTablePlanes until ScaleEnvelope.AbsMaxPlanes)
      .map(hh => s"WHEN cnt <= ${BigInt(S.TargetBucket.toLong) << hh} THEN $hh")
      .mkString("\n       |              ")
    val pow2 = (0 until ScaleEnvelope.AbsMaxPlanes).map(1L << _)
      .mkString("[", ", ", "]")
    // Twin of Similarity.planeIndexFor: base layout t*24+j for j<24
    // (bit-identical to the pre-envelope oracle), extension region
    // beyond — pure integer arithmetic in both engines.
    val ext = S.NumTables * S.MaxTablePlanes
    val stride = ScaleEnvelope.AbsMaxPlanes - S.MaxTablePlanes
    val planeIdx =
      s"CASE WHEN j < ${S.MaxTablePlanes} THEN tbl * ${S.MaxTablePlanes} + j" +
      s" ELSE $ext + tbl * $stride + (j - ${S.MaxTablePlanes}) END"
    s""", params AS (
       |  SELECT CASE $whens
       |              ELSE ${ScaleEnvelope.AbsMaxPlanes} END AS h
       |  FROM (SELECT COUNT(*) AS cnt FROM n)
       |), planes AS (
       |  SELECT p, list_transform(range(0, ${S.Dim}), i ->
       |    (CAST('0x' || substr(md5('w:' || CAST(p AS VARCHAR) || ':' ||
       |       CAST(i AS VARCHAR)), 1, 4) AS INT) - 32768) / 32768.0) AS pw
       |  FROM range(0, ${S.NumTables * ScaleEnvelope.AbsMaxPlanes}) AS tp(p)
       |), sigs AS (
       |  SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS sig FROM (
       |    SELECT n.vec_id, tbl, j,
       |           CASE WHEN list_sum(list_transform(range(1, ${S.Dim + 1}),
       |                  i -> pw[i] * v[i])) > 0
       |                THEN ($pow2)[j + 1] ELSE 0 END AS bit
       |    FROM n, params, range(0, ${S.NumTables}) AS tt(tbl),
       |         range(0, ${ScaleEnvelope.AbsMaxPlanes}) AS tj(j), planes
       |    WHERE j < h AND planes.p = $planeIdx
       |  ) GROUP BY vec_id, tbl
       |)""".stripMargin
  }

  /** 64-bit simhash vote columns (DuckDB) — twin of Dedup.simhash64:
    * bit k votes on md5 hex digit (k mod 32), 8-bit for k<32, 4-bit
    * for k≥32. */
  private def simhash64VotesSql: String =
    (0 until 64).map { k =>
      val mask = if (k < 32) 8 else 4
      s"list_sum(list_transform(t, s -> CASE WHEN " +
        s"(CAST('0x' || substr(md5(s), ${k % 32 + 1}, 1) AS INT) & $mask) " +
        s"<> 0 THEN 1 ELSE -1 END)) AS v$k"
    }.mkString(",\n         ")

  /** Quarter j of the 64-bit signature (DuckDB) — twin of the Spark
    * quarter() builder in Dedup.simhash64. */
  private def simhash64QuarterSql(j: Int): String =
    (0 until 16).map(b =>
      s"(CASE WHEN v${16 * j + b} > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")

  /** Twin of Dedup.simhash64Neighbors — and, verbatim, of
    * q_simhash64_auto (the ScaleEnvelope dispatcher resolves to the
    * quarter form at every fixture SF, and the two banding forms are
    * pair-set-identical anyway): quarter bands, band-bucket self-join,
    * exact 64-bit Hamming verify at radius 3. */
  private lazy val simhash64NeighborsOracle: String =
      s"""$ToksCte, votes AS (
         |  SELECT doc_id,
         |         ${simhash64VotesSql}
         |  FROM toks WHERE len(t) > 0
         |), sigs AS (
         |  SELECT doc_id,
         |         ${(0 until 4).map(j => s"${simhash64QuarterSql(j)} AS q$j")
                     .mkString(",\n         ")}
         |  FROM votes
         |), quarters AS (
         |  SELECT doc_id, q0, q1, q2, q3, i AS band_idx,
         |         [q0, q1, q2, q3][i + 1] AS band_val
         |  FROM sigs, unnest([0, 1, 2, 3]) AS t(i)
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(CAST(xor(a.q0, b.q0) AS BIGINT))
         |          + bit_count(CAST(xor(a.q1, b.q1) AS BIGINT))
         |          + bit_count(CAST(xor(a.q2, b.q2) AS BIGINT))
         |          + bit_count(CAST(xor(a.q3, b.q3) AS BIGINT)) AS INT)
         |         AS hamming
         |FROM quarters a JOIN quarters b USING (band_idx, band_val)
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(CAST(xor(a.q0, b.q0) AS BIGINT))
         |    + bit_count(CAST(xor(a.q1, b.q1) AS BIGINT))
         |    + bit_count(CAST(xor(a.q2, b.q2) AS BIGINT))
         |    + bit_count(CAST(xor(a.q3, b.q3) AS BIGINT)) <= 3""".stripMargin

  /** Wide-index block b of the 64-bit signature (DuckDB) — generated
    * from the SAME [[Dedup.WideBlockSegments]] data the Spark side cuts
    * blocks from, so both engines derive identical bands by
    * construction (integer // and % only — exact in both engines). */
  private def wideBlockSql(b: Int): String =
    Dedup.WideBlockSegments(b).map { case (qi, inShift, w, outShift) =>
      s"(((q$qi // ${1 << inShift}) % ${1 << w}) * ${1L << outShift})"
    }.mkString(" + ")

  /** Band key for wide-index table t (DuckDB) — twin of the Spark
    * wideKeyCol: blocks concatenated as b·2²² + b'·2¹¹ + b'' in BIGINT. */
  private def wideKeySql(t: Seq[Int]): String =
    t.zipWithIndex.map { case (b, pos) =>
      s"CAST(${wideBlockSql(b)} AS BIGINT) * ${1L << (11 * (2 - pos))}"
    }.mkString(" + ")

  /** Bucket id expression (DuckDB) — twin of Similarity.bucketOf. */
  private def bucketSql(v: String): String =
    (0 until Similarity.NumPlanes).map { h =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${Similarity.Dim + 1}), " +
        s"i -> (${planeSql(h)})[i] * $v[i])) > 0 THEN ${1 << h} ELSE 0 END)"
    }.mkString(" + ")

  /** q_source_overlap twin — shared VERBATIM by the served form
    * (staged pair table) and q_source_overlap_inline (in-query chain):
    * the two Spark paths are result-identical by construction
    * (parquet round-trips longs/doubles exactly), so one SQL covers
    * both, exactly like annIvfSql for the IVF build/serve split. */
  /** q_knn_join / q_knn_join_served twin (shared verbatim — the
    * served form reads the staged kNN table, a bit-exact parquet
    * round-trip of the inline chain's output). */
  private lazy val knnJoinSql: String =
      s"""$EmbCte$bandedLshCtes, cand AS (
         |  SELECT DISTINCT a.vec_id, b.vec_id AS nn_id
         |  FROM sigs a JOIN sigs b
         |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id <> b.vec_id
         |), scored AS (
         |  SELECT cand.vec_id, cand.nn_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> x.v[i] * y.v[i])) / (x.nv * y.nv) AS cosine
         |  FROM cand
         |  JOIN n x ON cand.vec_id = x.vec_id
         |  JOIN n y ON cand.nn_id = y.vec_id
         |)
         |SELECT vec_id, nn_id, cosine, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY cosine DESC, nn_id ASC) AS rank FROM scored)
         |WHERE rank <= ${Similarity.KnnK}""".stripMargin

  /** q_embedding_neardup / q_embedding_neardup_served twin (shared
    * verbatim — the served form reads the staged pair table, which
    * persists the inline chain's output bit-exactly). */
  private lazy val embeddingNearDupSql: String =
      s"""$EmbCte$bandedLshCtes, cand AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_tables
         |  FROM sigs a JOIN sigs b
         |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2
         |)
         |SELECT * FROM (
         |  SELECT cand.vec_a, cand.vec_b, cand.n_tables,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> x.v[i] * y.v[i])) / (x.nv * y.nv) AS cosine
         |  FROM cand
         |  JOIN n x ON cand.vec_a = x.vec_id
         |  JOIN n y ON cand.vec_b = y.vec_id
         |) WHERE cosine > 0.5""".stripMargin

  /** q_containment / q_containment_served twin (shared verbatim —
    * the served form is a pure projection over the staged pair table,
    * which persists the ngram_jaccard frame bit-exactly). */
  private lazy val containmentSql: String =
      s"""$ToksCte, $minhashCtes, verified AS (
         |  SELECT p.doc_a, p.doc_b, p.n_band_matches,
         |         len(a.sh) AS n_a,
         |         len(b.sh) AS n_b,
         |         len(list_intersect(a.sh, b.sh)) AS n_inter,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |)
         |SELECT *,
         |       CAST(n_inter AS DOUBLE) / n_a AS containment_a,
         |       CAST(n_inter AS DOUBLE) / n_b AS containment_b
         |FROM verified
         |WHERE greatest(CAST(n_inter AS DOUBLE) / n_a,
         |               CAST(n_inter AS DOUBLE) / n_b) >= 0.5""".stripMargin

  /** The verified cross-source overlap graph as a CTE block ending in
    * `ov` — shared verbatim by the overlap report and the PageRank
    * twin (the edge weights must be ONE definition or the authority
    * oracle could drift from the overlap oracle). */
  private lazy val sourceOverlapCtes: String =
      s"""$ToksCte, $minhashCtes, verified AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= CAST(0.5 AS DOUBLE)
         |), ov AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
         |  FROM verified v
         |  JOIN documents da ON v.doc_a = da.doc_id
         |  JOIN documents db ON v.doc_b = db.doc_id
         |  GROUP BY 1, 2
         |)""".stripMargin

  private lazy val sourceOverlapSql: String =
    s"$sourceOverlapCtes\nSELECT * FROM ov"

  /** Twin of [[graft.operators.Graph.authorityFrom]]: the same
    * fixed-point integer PageRank unrolled as CTEs — all-BIGINT
    * recurrence (DuckDB `//` == Spark `DIV` on non-negative operands),
    * so the iterations land on bit-identical ranks; the driver hash
    * pins the ITERATION, not just a final score. */
  /** The ONE drift tail in SQL — (in_a, n_chars, n_tokens) base rows →
    * fixed buckets → exact-long L1 → single IEEE division — shared by
    * the slice monitor and the cross-version row so the twins cannot
    * drift from each other any more than the Scala forms can. */
  private def driftOracleOver(baseCte: String): String =
    s"""WITH base AS (
       |$baseCte
       |), fb AS (
       |  SELECT in_a, 'n_chars' AS feature,
       |         least(15, n_chars // 128) AS bucket FROM base
       |  UNION ALL
       |  SELECT in_a, 'n_tokens', least(15, n_tokens // 32) FROM base
       |), cells AS (
       |  SELECT feature, bucket,
       |         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
       |  FROM fb GROUP BY 1, 2
       |), tot AS (
       |  SELECT feature, CAST(SUM(ca) AS BIGINT) AS na,
       |         CAST(SUM(cb) AS BIGINT) AS nb
       |  FROM cells GROUP BY 1
       |), l1 AS (
       |  SELECT cells.feature, na, nb,
       |         CAST(SUM(abs(ca * nb - cb * na)) AS BIGINT) AS l1_scaled
       |  FROM cells JOIN tot ON cells.feature = tot.feature
       |  GROUP BY 1, 2, 3
       |)
       |SELECT feature, na AS n_a, nb AS n_b, l1_scaled,
       |       CASE WHEN na > 0 AND nb > 0
       |            THEN CAST(l1_scaled AS DOUBLE)
       |                 / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
       |       END AS tvd
       |FROM l1""".stripMargin

  /** The merge fixture's two table states, each serving several
    * lifecycle rows: the merged current (MERGE result / post-vacuum
    * read) and the pre-MERGE base (time travel / post-rollback read). */
  private val mergedStateOracle: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 4 <> 0
      |), inc AS (
      |  SELECT o_orderkey, 'M' AS o_orderstatus,
      |         o_totalprice + 1.0 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 0
      |)
      |SELECT * FROM base
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
      |UNION ALL SELECT * FROM inc""".stripMargin

  private val baseStateOracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 4 <> 0""".stripMargin

  /** Twin of [[graft.operators.Retrieval.phraseSearch]] AND its served
    * form (one definition — build/serve identity rides on it). */
  private lazy val phraseOracle: String = {
    val ph = graft.operators.Retrieval.DefaultPhrase
    val vals = ph.zipWithIndex
      .map { case (t, i) => s"SELECT $i AS sl, '$t' AS ptok" }
      .mkString(" UNION ALL ")
    s"""$ToksCte, occ AS (
       |  SELECT doc_id, r.i - 1 AS pos, t[r.i] AS tok
       |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
       |), ph AS (
       |  $vals
       |), hits AS (
       |  SELECT doc_id, pos - sl AS start, sl
       |  FROM occ JOIN ph ON tok = ptok
       |), m AS (
       |  SELECT doc_id, start FROM hits
       |  GROUP BY doc_id, start
       |  HAVING COUNT(DISTINCT sl) = ${ph.length}
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       |       CAST(MIN(start) AS INT) AS first_pos
       |FROM m GROUP BY doc_id""".stripMargin
  }

  /** Twin of [[graft.operators.Similarity.bitextMine]]: the same
    * forward/backward k-NN cut, micro-unit neighborhood means, and
    * identically-associated margin division chain. */
  private lazy val bitextOracle: String = {
    import graft.operators.Similarity
    val dotE = (x: String, y: String) =>
      s"list_sum(list_transform(range(1, ${Similarity.Dim + 1}), i -> $x[i] * $y[i]))"
    s"""$EmbCte, la AS (
       |  SELECT vec_id AS a_id, v AS av, nv AS na
       |  FROM n JOIN documents d ON n.vec_id = d.doc_id
       |  WHERE d.lang = 'en'
       |), lb AS (
       |  SELECT vec_id AS b_id, v AS bv, nv AS nb
       |  FROM n JOIN documents d ON n.vec_id = d.doc_id
       |  WHERE d.lang = 'de'
       |), ab AS (
       |  SELECT a_id, b_id, ${dotE("av", "bv")} / (na * nb) AS cos
       |  FROM la, lb
       |), fa AS (
       |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY cos DESC, b_id ASC) AS rn FROM ab)
       |  WHERE rn <= ${Similarity.MineK}
       |), fb AS (
       |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id
       |    ORDER BY cos DESC, a_id ASC) AS rn FROM ab)
       |  WHERE rn <= ${Similarity.MineK}
       |), ka AS (
       |  SELECT a_id,
       |         CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT) AS sa,
       |         CAST(COUNT(*) AS BIGINT) AS ca
       |  FROM fa GROUP BY a_id
       |), kb AS (
       |  SELECT b_id,
       |         CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT) AS sb,
       |         CAST(COUNT(*) AS BIGINT) AS cb
       |  FROM fb GROUP BY b_id
       |), m AS (
       |  SELECT fa.a_id, fa.b_id, fa.cos,
       |         fa.cos / (((CAST(sa AS DOUBLE) / ca / 1000000.0)
       |           + (CAST(sb AS DOUBLE) / cb / 1000000.0)) / 2.0) AS margin
       |  FROM fa JOIN ka ON fa.a_id = ka.a_id JOIN kb ON fa.b_id = kb.b_id
       |), best AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
       |    ORDER BY margin DESC, b_id ASC) AS brn FROM m
       |)
       |SELECT a_id, b_id, cos AS cosine, margin
       |FROM best WHERE brn = 1 AND margin > 1.05""".stripMargin
  }

  /** Twin of [[graft.operators.Similarity.mmrDiversify]]: K greedy
    * rounds unrolled as CTEs — pick (windowed argmax of
    * 0.7·rel − 0.3·pen, vec_id tiebreak), then advance the standing
    * penalty with the similarity to the latest pick. The 0.7/0.3
    * weights appear as decimal LITERALS on both sides. */
  private lazy val mmrOracle: String = {
    import graft.operators.Similarity
    val dotE = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, ${Similarity.Dim + 1}), i -> $a[i] * $b[i]))"
    val steps = (1 to Similarity.MmrKeep).map { t =>
      val prev = s"c${t - 1}"
      val pick =
        s""", p$t AS (
           |  SELECT *, 0.7 * rel - 0.3 * pen AS score,
           |         ROW_NUMBER() OVER (PARTITION BY q_id
           |           ORDER BY (0.7 * rel - 0.3 * pen) DESC, vec_id ASC)
           |           AS rn
           |  FROM $prev
           |), s$t AS (
           |  SELECT q_id, vec_id, score, v AS sv, nv AS snv
           |  FROM p$t WHERE rn = 1
           |)"""
      val advance =
        if (t < Similarity.MmrKeep)
          s""", c$t AS (
             |  SELECT c.q_id, c.vec_id, c.rel, c.v, c.nv,
             |         greatest(c.pen,
             |           ${dotE("c.v", "s.sv")} / (c.nv * s.snv)) AS pen
             |  FROM $prev c JOIN s$t s
             |    ON c.q_id = s.q_id AND c.vec_id <> s.vec_id
             |)"""
        else ""
      pick + advance
    }.mkString
    val out = (1 to Similarity.MmrKeep).map(t =>
      s"SELECT q_id, vec_id, CAST($t AS INT) AS mmr_rank, score FROM s$t")
      .mkString("\n|UNION ALL\n|")
    s"""$EmbCte, q AS (
       |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
       |  WHERE vec_id < ${Similarity.NumQueries}
       |), mscored AS (
       |  SELECT q.q_id, n.vec_id,
       |         ${dotE("qv", "v")} / (nq * nv) AS rel, n.v, n.nv
       |  FROM n, q WHERE n.vec_id <> q.q_id
       |), c0 AS (
       |  SELECT q_id, vec_id, rel, v, nv, 0.0 AS pen
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY rel DESC, vec_id ASC) AS rnk FROM mscored)
       |  WHERE rnk <= ${Similarity.MmrPool}
       |)$steps
       |$out""".stripMargin
  }

  private lazy val sourceAuthorityOracle: String = {
    import graft.operators.Graph
    val damp = (c: String) => s"(($c * ${Graph.DampNum}) // ${Graph.DampDen})"
    val iters = (1 to Graph.Iterations).map { i =>
      val prev = s"r${i - 1}"
      s""", d$i AS (
         |  SELECT CAST(COALESCE(SUM(${damp("r")}), 0) AS BIGINT) AS dm
         |  FROM $prev WHERE dangling
         |), c$i AS (
         |  SELECT dst,
         |         CAST(SUM((${damp("r")} * share) // ${Graph.ShareScale})
         |              AS BIGINT) AS m
         |  FROM sh JOIN $prev ON sh.src = $prev.source
         |  GROUP BY dst
         |), r$i AS (
         |  SELECT nodes.source, nodes.dangling,
         |         ((${Graph.Scale} * ${Graph.DampDen - Graph.DampNum})
         |            // ${Graph.DampDen}) // n
         |           + COALESCE(m, 0) + dm // n AS r
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i ON nodes.source = c$i.dst
         |)"""
    }.mkString
    s"""$sourceOverlapCtes, ov2 AS (
       |  SELECT * FROM ov WHERE source_a <> source_b
       |), ed AS (
       |  SELECT source_a AS src, source_b AS dst, n_dup_pairs AS w FROM ov2
       |  UNION ALL
       |  SELECT source_b AS src, source_a AS dst, n_dup_pairs AS w FROM ov2
       |), outw AS (
       |  SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM ed GROUP BY src
       |), sh AS (
       |  SELECT ed.src, ed.dst, (w * ${Graph.ShareScale}) // ow AS share
       |  FROM ed JOIN outw ON ed.src = outw.src
       |), nodes AS (
       |  SELECT source,
       |         source NOT IN (SELECT src FROM ed) AS dangling
       |  FROM (SELECT DISTINCT source FROM documents)
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
       |), r0 AS (
       |  SELECT source, dangling, ${Graph.Scale} // n AS r FROM nodes, nn
       |)$iters
       |SELECT source, r AS rank_micro,
       |       CAST(r AS DOUBLE) / ${Graph.Scale}.0 AS authority
       |FROM r${Graph.Iterations}""".stripMargin
  }

  /** Curation CTE block (jac → losers → base → ratios → curated)
    * shared VERBATIM by q_corpus_pipeline and q_corpus_pipeline_temp
    * (r7 review): the jaccard expression shape, punct regex, and gate
    * constants are load-bearing cross-engine arithmetic — two copies
    * could drift apart silently, surfacing only as a hash mismatch.
    * `base` carries only the gates `curated` filters on (the stopword
    * signal feeds quality_score, which the pipelines do not
    * re-emit). */
  private lazy val pipelineCurationCtes: String =
    """, jac AS (
      |  SELECT p.doc_a, p.doc_b,
      |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM pairs p
      |  JOIN docs a ON p.doc_a = a.doc_id
      |  JOIN docs b ON p.doc_b = b.doc_id
      |), losers AS (
      |  SELECT DISTINCT doc_b FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
      |), base AS (
      |  SELECT doc_id,
      |         len(text) AS n_chars,
      |         len(t) AS n_tokens,
      |         len(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
      |  FROM toks
      |), ratios AS (
      |  SELECT *,
      |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
      |              ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio
      |  FROM base
      |), curated AS (
      |  SELECT doc_id FROM ratios
      |  WHERE doc_id NOT IN (SELECT doc_b FROM losers)
      |    AND n_tokens >= 20 AND punct_ratio <= CAST(0.2 AS DOUBLE)
      |)""".stripMargin

  /** Shared CTE prefix mirroring Relational.{transactions,masterModel}
    * — token-for-token the same arithmetic as the DataFrame side
    * (campaign_cost as a window sum over the single txn frame; campaign_id
    * encodes nation+year+month per ADVICE r1). */
  private val MasterCte: String =
    """WITH txn AS (
      |  SELECT o_orderkey AS transaction_id, o_totalprice AS income,
      |         n_name AS transaction_country, n_nationkey,
      |         o_orderdate AS transaction_datetime, o_custkey AS customer_id,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS tmonth
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |), txnc AS (
      |  SELECT *,
      |         CAST(n_nationkey * 1000000 + year(tmonth) * 100 + month(tmonth) AS BIGINT) AS campaign_id,
      |         ROUND(ROUND(SUM(income) OVER (PARTITION BY n_nationkey, transaction_country, tmonth), 2) * CAST(0.1 AS DOUBLE), 3) AS campaign_cost
      |  FROM txn
      |), master AS (
      |  SELECT t.campaign_id, t.campaign_cost, t.transaction_id, t.income,
      |         t.transaction_country, t.customer_id,
      |         l.l_partkey AS product_id, l.l_quantity AS quantity,
      |         l.l_extendedprice AS price, p.p_brand AS category,
      |         t.transaction_datetime
      |  FROM txnc t
      |  JOIN lineitem l ON t.transaction_id = l.l_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |)""".stripMargin

  /** Twin of TextOps.bpeEncode — and, verbatim, of
    * q_bpe_encode_chunked: boundary-safe chunk-first encoding is
    * result-IDENTICAL to the whole-document encode (a merge can
    * never cross a cut placed after a non-component piece), so the
    * chunked row hash-matching this same recursive-CTE replay IS
    * the driver-verified equivalence proof. */
  private lazy val bpeEncodeOracle: String =
      s"""$bpeEncodeCtes
         |SELECT p.doc_id AS doc_id,
         |       CAST(len(p.p) AS BIGINT) AS n_pieces,
         |       CAST(CASE WHEN f.enc_text IS NULL OR f.enc_text = '' THEN 0
         |            ELSE len(string_split(f.enc_text, ' ')) END AS BIGINT)
         |         AS n_tokens,
         |       CASE WHEN len(p.p) > 0 THEN
         |         CAST(CASE WHEN f.enc_text IS NULL OR f.enc_text = ''
         |              THEN 0 ELSE len(string_split(f.enc_text, ' ')) END
         |           AS DOUBLE) / len(p.p) END AS compression,
         |       md5(coalesce(f.enc_text, '')) AS encoded_md5
         |FROM pieces p
         |LEFT JOIN fin f ON p.doc_id = f.doc_id""".stripMargin

  /** [[bpeEncodeCtes]] extended with the token/position stream
    * (`etoks`) and the ranked top-V vocab (`vocab`) — shared prefix of
    * the bpe_ids and pack_ids twins, mirroring TextOps.bpeIdStream. */
  private lazy val bpeIdsCtes: String =
    s"""$bpeEncodeCtes, etoks AS (
       |  SELECT doc_id, t.tok, t.pos
       |  FROM fin, LATERAL (
       |    SELECT unnest(string_split(enc_text, ' ')) AS tok,
       |           unnest(range(1, len(string_split(enc_text, ' ')) + 1)) AS pos) t
       |  WHERE enc_text <> ''
       |), vocab AS (
       |  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) - 1 AS id
       |  FROM etoks GROUP BY tok
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC)
       |    <= ${TextOps.BpeVocabSize}
       |)""".stripMargin

  /** The shared mine→encode replay (through per-doc `enc_text` in
    * `fin`) — prefix of [[bpeEncodeOracle]] and the bpe_ids twin. */
  private lazy val bpeEncodeCtes: String =
      s"""WITH RECURSIVE pieces AS (
         |  SELECT doc_id, regexp_extract_all(lower(text),
         |           '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS p
         |  FROM documents
         |), bpairs AS (
         |  SELECT unnest(CASE WHEN len(p) >= 2
         |           THEN list_transform(range(1, len(p)),
         |                  i -> p[i] || chr(9) || p[i+1])
         |           ELSE [] END) AS pair
         |  FROM pieces
         |), counted AS (
         |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM bpairs GROUP BY 1
         |), mr AS (
         |  SELECT string_split(pair, chr(9))[1] AS a,
         |         string_split(pair, chr(9))[2] AS b, rnk FROM (
         |    SELECT pair, ROW_NUMBER() OVER (
         |      ORDER BY n DESC, pair ASC) AS rnk FROM counted
         |  ) WHERE rnk <= ${TextOps.BpeTopK}
         |), init AS (
         |  SELECT doc_id, ' ' || array_to_string(p, ' ') || ' ' AS st
         |  FROM pieces WHERE len(p) >= 1
         |), enc AS (
         |  SELECT doc_id, st FROM init
         |  UNION ALL
         |  SELECT e.doc_id,
         |         replace(e.st, ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' ')
         |  FROM enc e JOIN LATERAL (
         |    SELECT a, b FROM mr
         |    WHERE contains(e.st, ' '||a||' '||b||' ')
         |    ORDER BY rnk LIMIT 1) m ON true
         |), fin AS (
         |  SELECT doc_id, trim(st) AS enc_text FROM enc e
         |  WHERE NOT EXISTS (SELECT 1 FROM mr
         |                    WHERE contains(e.st, ' '||mr.a||' '||mr.b||' '))
         |)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_master_model" ->
      s"""$MasterCte
         |SELECT * FROM master""".stripMargin,

    "q_performance_metrics" ->
      s"""$MasterCte
         |SELECT transaction_country AS country,
         |       CAST(CAST(transaction_datetime AS DATE) AS VARCHAR) AS date,
         |       COUNT(DISTINCT transaction_id) AS transaction_count,
         |       ROUND(SUM(income), 2) AS total_income,
         |       ROUND(SUM(campaign_cost), 3) AS total_campaign_cost,
         |       ROUND(SUM(income), 2) / COUNT(income) AS average_income,
         |       ROUND(SUM(campaign_cost), 3) / COUNT(campaign_cost) AS average_campaign_cost,
         |       ROUND(SUM(income - campaign_cost), 3) AS total_profit,
         |       ROUND(SUM(income), 2) / COUNT(DISTINCT transaction_id) AS average_transaction_value
         |FROM master
         |GROUP BY 1, 2""".stripMargin,

    "q_product_performance" ->
      s"""$MasterCte
         |SELECT product_id,
         |       transaction_country AS country,
         |       CAST(CAST(transaction_datetime AS DATE) AS VARCHAR) AS date,
         |       COUNT(DISTINCT transaction_id) AS transaction_count,
         |       ROUND(SUM(quantity), 2) AS total_quantity,
         |       ROUND(SUM(income), 2) AS total_income,
         |       ROUND(SUM(income), 2) / COUNT(income) AS average_income,
         |       ROUND(SUM(income - campaign_cost), 3) AS total_profit,
         |       ROUND(SUM(income), 2) / COUNT(DISTINCT transaction_id) AS average_transaction_value
         |FROM master
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_profitability_kpi" ->
      s"""$MasterCte
         |SELECT product_id,
         |       transaction_country AS country,
         |       ROUND(SUM(quantity), 2) AS total_quantity,
         |       ROUND(SUM(income), 2) AS total_income,
         |       ROUND(SUM(income), 2) / COUNT(income) AS average_income,
         |       ROUND(SUM(income - campaign_cost), 3) AS total_profit
         |FROM master
         |GROUP BY 1, 2""".stripMargin,

    "q_sales_kpi" ->
      s"""$MasterCte
         |SELECT transaction_country AS country,
         |       CAST(CAST(transaction_datetime AS DATE) AS VARCHAR) AS date,
         |       COUNT(DISTINCT transaction_id) AS transaction_count,
         |       ROUND(SUM(income), 2) AS total_income,
         |       ROUND(SUM(income), 2) / COUNT(income) AS average_income,
         |       ROUND(SUM(income - campaign_cost), 3) AS total_profit
         |FROM master
         |GROUP BY 1, 2""".stripMargin,

    "q_customer_retention" ->
      s"""$MasterCte
         |SELECT transaction_country AS country,
         |       CAST(CAST(transaction_datetime AS DATE) AS VARCHAR) AS date,
         |       COUNT(DISTINCT customer_id) AS unique_customers,
         |       COUNT(DISTINCT CASE WHEN income > 0 THEN customer_id ELSE NULL END) AS paying_customers,
         |       COUNT(DISTINCT CASE WHEN income = 0 THEN customer_id ELSE NULL END) AS non_paying_customers
         |FROM master
         |GROUP BY 1, 2""".stripMargin,

    "q_rollup" ->
      s"""$MasterCte, camp AS (
         |  SELECT ROUND(ROUND(SUM(income), 2) * CAST(0.1 AS DOUBLE), 3) AS campaign_cost,
         |         transaction_country AS campaign_country,
         |         tmonth AS campaign_month
         |  FROM txn
         |  GROUP BY n_nationkey, transaction_country, tmonth
         |), tranx_agg AS (
         |  SELECT transaction_country AS country,
         |         ROUND(SUM(income), 2) AS income,
         |         COUNT(transaction_id) AS transaction_count,
         |         CAST(0.00 AS DOUBLE) AS cost,
         |         CAST(0 AS BIGINT) AS campaign_count,
         |         SUBSTR(CAST(transaction_datetime AS VARCHAR), 1, 10) AS date
         |  FROM txn
         |  GROUP BY 1, 6
         |), campaigns_agg AS (
         |  SELECT campaign_country AS country,
         |         CAST(0.00 AS DOUBLE) AS income,
         |         CAST(0 AS BIGINT) AS transaction_count,
         |         ROUND(SUM(campaign_cost), 3) AS cost,
         |         COUNT(campaign_cost) AS campaign_count,
         |         SUBSTR(CAST(campaign_month AS VARCHAR), 1, 10) AS date
         |  FROM camp
         |  GROUP BY 1, 6
         |), unionall AS (
         |  SELECT * FROM tranx_agg
         |  UNION ALL
         |  SELECT * FROM campaigns_agg
         |), unionall_agg AS (
         |  SELECT country,
         |         ROUND(SUM(income), 2) AS income,
         |         CAST(SUM(transaction_count) AS BIGINT) AS transaction_count,
         |         ROUND(SUM(cost), 3) AS cost,
         |         CAST(SUM(campaign_count) AS BIGINT) AS campaign_count,
         |         date
         |  FROM unionall
         |  GROUP BY 1, 6
         |)
         |SELECT country, transaction_count, income, cost,
         |       ROUND(income - cost, 3) AS revenue, campaign_count, date
         |FROM unionall_agg""".stripMargin,

    "q_top_products" ->
      s"""$MasterCte, by_country AS (
         |  SELECT transaction_country AS country, product_id,
         |         ROUND(SUM(income), 2) AS total_income
         |  FROM master
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT country, product_id, total_income,
         |         ROW_NUMBER() OVER (PARTITION BY country
         |           ORDER BY total_income DESC, product_id ASC) AS rank
         |  FROM by_country
         |)
         |SELECT * FROM ranked WHERE rank <= 5""".stripMargin,

    "q_select_star" -> "SELECT * FROM supplier",

    // Twin of the staged MERGE-then-publish table: the merged state
    // recomputed straight from orders — matched keys take the incoming
    // row (status 'M', price+1.0: IEEE add of identical parquet
    // operands, bit-stable), unmatched base rows carry, unmatched
    // incoming keys insert.
    "q_merge_publish" -> mergedStateOracle,
    // Stream-maintained twin (r12): the CDC stream through the
    // versioned publish must land the IDENTICAL merged state.
    "q_merge_publish_stream" -> mergedStateOracle,

    // v=1 of the staged merge table is the pre-MERGE base slice — a
    // hash match proves the published version directory is immutable
    // under the later v=2 publish (time travel serves history, not a
    // reconstruction).
    "q_time_travel" -> baseStateOracle,
    // After rollbackTo(1), readers resolve the base again; after
    // vacuum, readers still resolve the merged current — the lifecycle
    // operations share the merge fixture's two state oracles.
    "q_rollback_read" -> baseStateOracle,
    "q_vacuum_read" -> mergedStateOracle,

    // The keyed v1→v2 diff recomputed from raw orders: the MERGE batch
    // is every %3 key; those also in the base (%4 <> 0) CHANGED (price
    // +1.0 always differs), the rest were ADDED; a MERGE removes
    // nothing.
    "q_version_diff" ->
      """SELECT o_orderkey, 'added' AS change FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 = 0
        |UNION ALL
        |SELECT o_orderkey, 'changed' AS change FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 <> 0""".stripMargin,

    // Delete-aware CDC (r13): final state = base, minus deleted keys,
    // with the update set re-stated; deletes of keys outside the base
    // are no-ops by construction of the NOT IN.
    "q_merge_publish_cdc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 <> 0
        |), upd AS (
        |  SELECT o_orderkey, 'M' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |), del AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        |)
        |SELECT * FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
        |UNION ALL SELECT * FROM upd""".stripMargin,

    // stream-maintained twin of the row above (one oracle, three
    // equal states: stream-folded, batch-folded, recomputed).
    "q_merge_publish_cdc_stream" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 <> 0
        |), upd AS (
        |  SELECT o_orderkey, 'M' AS o_orderstatus,
        |         o_totalprice + 1.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |), del AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        |)
        |SELECT * FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM del)
        |UNION ALL SELECT * FROM upd""".stripMargin,

    // The CDC diff adds the third class: a delete that removed a live
    // base key is `removed` (deletes of absent keys diff as nothing).
    "q_version_diff_cdc" ->
      """SELECT o_orderkey, 'added' AS change FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 = 0
        |UNION ALL
        |SELECT o_orderkey, 'changed' AS change FROM orders
        |WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'removed' AS change FROM orders
        |WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 <> 0
        |  AND o_orderkey % 4 <> 0""".stripMargin,

    // The standing rollup after two delta applications must equal the
    // from-scratch rollup over the full table — exactly (long sums).
    // The stream-maintained row (r12) shares it verbatim: stream ≡
    // incremental ≡ rebuild.
    "q_rollup_incremental" -> rollupRebuildSql,
    "q_rollup_incremental_stream" -> rollupRebuildSql,

    "q_text_stats" ->
      s"""$ToksCte
         |SELECT lang, source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |       CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avg_tokens,
         |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
         |       MIN(n_chars) AS min_chars,
         |       MAX(n_chars) AS max_chars
         |FROM toks
         |GROUP BY 1, 2""".stripMargin,

    "q_intradoc_dedup" ->
      s"""$ToksCte, u AS (
         |  SELECT doc_id, r.i AS i, t[r.i] AS tok
         |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
         |), f AS (
         |  SELECT doc_id, tok, MIN(i) AS fi FROM u GROUP BY doc_id, tok
         |), d AS (
         |  SELECT doc_id,
         |         string_agg(tok, ' ' ORDER BY fi) AS dedup_text,
         |         COUNT(*) AS n_unique
         |  FROM f GROUP BY doc_id
         |)
         |SELECT toks.doc_id,
         |       CAST(len(t) AS INT) AS n_units,
         |       CAST(coalesce(d.n_unique, 0) AS INT) AS n_unique,
         |       CASE WHEN len(t) > 0
         |            THEN CAST(d.n_unique AS DOUBLE) / len(t) END
         |         AS unique_ratio,
         |       md5(coalesce(d.dedup_text, '')) AS dedup_md5
         |FROM toks LEFT JOIN d ON toks.doc_id = d.doc_id""".stripMargin,

    // Twin of TextOps.dedupSpans (k=8, maxDf=1): both engines cut the
    // SAME non-overlapping 8-token blocks, count distinct-doc frequency,
    // keep duplicated blocks only inside their earliest document (packed
    // (doc_id, block_no) key, min'd), and rebuild the text in block
    // order — the clean_text hash pins the reconstruction, not just the
    // counts.
    "q_span_dedup" ->
      s"""$ToksCte, nb AS (
         |  SELECT doc_id, t,
         |         CAST(floor((len(t) + 7) / 8.0) AS BIGINT) AS n_blocks
         |  FROM toks
         |), blocks AS (
         |  SELECT doc_id, r.b AS block_no,
         |         array_to_string(t[CAST(r.b * 8 + 1 AS BIGINT):
         |                           CAST(r.b * 8 + 8 AS BIGINT)], ' ')
         |           AS block
         |  FROM nb, unnest(range(0, n_blocks)) AS r(b)
         |), stats AS (
         |  SELECT block, COUNT(DISTINCT doc_id) AS df,
         |         MIN(doc_id * 2097152 + block_no) AS first_occ
         |  FROM blocks GROUP BY block
         |), kept AS (
         |  SELECT b.doc_id, b.block_no, b.block
         |  FROM blocks b JOIN stats USING (block)
         |  WHERE df <= 1 OR b.doc_id = first_occ // 2097152
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |         string_agg(block, ' ' ORDER BY block_no) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT nb.doc_id, nb.n_blocks,
         |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_blocks_kept,
         |       nb.n_blocks - CAST(coalesce(a.n_kept, 0) AS BIGINT)
         |         AS n_blocks_removed,
         |       coalesce(a.clean_text, '') AS clean_text
         |FROM nb LEFT JOIN agg a ON nb.doc_id = a.doc_id""".stripMargin,

    "q_token_count" ->
      s"""$ToksCte
         |SELECT doc_id,
         |       len(t) AS n_tokens,
         |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_pieces,
         |       len(text) AS n_chars,
         |       CASE WHEN len(t) > 0
         |            THEN CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / len(t)
         |       END AS avg_token_len
         |FROM toks""".stripMargin,

    "q_lang_id" -> {
      val hitCols = TextOps.StopWords
        .map { case (l, ws) => s"${hitsExpr(ws)} AS hits_$l" }
        .mkString(",\n         ")
      val g = TextOps.StopWords.map { case (l, _) => s"hits_$l" }
        .mkString("greatest(", ", ", ")")
      val pred = TextOps.StopWords
        .map { case (l, _) => s"WHEN hits_$l = g THEN '$l'" }
        .mkString("CASE ", " ", "END")
      s"""$ToksCte, scored AS (
         |  SELECT doc_id, lang,
         |         $hitCols
         |  FROM toks
         |), withg AS (
         |  SELECT *, $g AS g FROM scored
         |)
         |SELECT doc_id, lang,
         |       ${TextOps.StopWords.map { case (l, _) => s"hits_$l" }.mkString(", ")},
         |       $pred AS predicted_lang,
         |       ($pred = lang) AS correct
         |FROM withg""".stripMargin
    },

    "q_quality_lr" -> qualityLrOracle,
    "q_pq_topk" -> pqTopkSql,
    "q_pq_topk_served" -> pqTopkSql,
    "q_ann_ivfpq" -> ivfPqTopkSql,
    "q_ann_ivfpq_served" -> ivfPqTopkSql,

    // Twin of q_pq_recall: the PQ serve pipeline (shared pqCtes) ranked
    // to approx top-k, the exact cosine top-k, and the per-query
    // left-join recall report — same report tail as q_ann_recall.
    "q_pq_recall" ->
      s"""$EmbCte$pqCtes, sc AS (
         |  SELECT l.q_id, e.vec_id, CAST(SUM(lut_c) AS BIGINT) AS adc
         |  FROM (SELECT vec_id, m, code FROM enc WHERE r = 1) e
         |  JOIN lutq l ON e.m = l.m AND e.code = l.code
         |  WHERE e.vec_id <> l.q_id
         |  GROUP BY 1, 2
         |), approx AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY adc DESC, vec_id ASC) AS rank FROM sc)
         |  WHERE rank <= ${Similarity.TopK}
         |), qe AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), escore AS (
         |  SELECT qe.q_id, n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, qe WHERE n.vec_id <> qe.q_id
         |), exact AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id ASC) AS rank FROM escore)
         |  WHERE rank <= ${Similarity.TopK}
         |)
         |SELECT a.q_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_returned,
         |       CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits,
         |       COUNT(e.vec_id) / CAST(${Similarity.TopK} AS DOUBLE) AS recall
         |FROM approx a
         |LEFT JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY 1""".stripMargin,

    "q_quality_score" ->
      s"""$ToksCte, base AS (
         |  SELECT doc_id,
         |         len(text) AS n_chars,
         |         len(t) AS n_tokens,
         |         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         |         ${hitsExpr(TextOps.StopWords.head._2)} AS n_stop
         |  FROM toks
         |), ratios AS (
         |  SELECT *,
         |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
         |              ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens
         |              ELSE CAST(0.0 AS DOUBLE) END AS stop_ratio
         |  FROM base
         |)
         |SELECT doc_id, n_chars, n_tokens, n_punct, n_stop, punct_ratio, stop_ratio,
         |       least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
         |         + (CAST(1.0 AS DOUBLE) - punct_ratio) * CAST(0.3 AS DOUBLE)
         |         + least(CAST(1.0 AS DOUBLE), stop_ratio * CAST(5.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE)
         |         AS quality_score
         |FROM ratios""".stripMargin,

    "q_fingerprint" ->
      s"""$ToksCte, sh_docs AS (
         |  SELECT doc_id, text, $ShinglesExpr AS sh FROM toks
         |)
         |SELECT doc_id,
         |       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint,
         |       CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, s -> md5(s))) END AS shingle_min,
         |       CASE WHEN len(sh) > 0 THEN list_max(list_transform(sh, s -> md5(s))) END AS shingle_max,
         |       len(sh) AS n_shingles
         |FROM sh_docs""".stripMargin,

    "q_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT * FROM documents UNION ALL SELECT * FROM documents
        |)
        |SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       MIN(doc_id) AS doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies,
        |       MIN(lang) AS lang,
        |       MIN(n_chars) AS n_chars
        |FROM all_docs
        |GROUP BY 1""".stripMargin,

    "q_dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, n_chars,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        |  FROM documents
        |)
        |SELECT fingerprint, doc_id, lang, n_chars
        |FROM fp
        |WHERE fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id < 250)""".stripMargin,

    "q_minhash_pairs" ->
      s"""$ToksCte, $minhashCtes
         |SELECT doc_a, doc_b, n_band_matches FROM pairs""".stripMargin,

    "q_ngram_jaccard" ->
      s"""$ToksCte, $minhashCtes
         |SELECT p.doc_a, p.doc_b, p.n_band_matches,
         |       len(a.sh) AS n_a,
         |       len(b.sh) AS n_b,
         |       len(list_intersect(a.sh, b.sh)) AS n_inter,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM pairs p
         |JOIN docs a ON p.doc_a = a.doc_id
         |JOIN docs b ON p.doc_b = b.doc_id""".stripMargin,

    // Containment = the ngram_jaccard frame plus the two asymmetric
    // ratios, filtered on max(c_a, c_b) ≥ 0.5 — integer/SIZE division,
    // no rounding needed. Inline and served forms share the twin
    // verbatim (r17 — the sourceOverlapSql pattern): parquet
    // round-trips longs/doubles bit-exactly, so the staged-pair-table
    // read is result-identical to the in-query chain.
    "q_containment" -> containmentSql,
    "q_containment_served" -> containmentSql,

    "q_simhash" -> {
      val votes = (0 until 16).map { k =>
        s"list_sum(list_transform(t, s -> CASE WHEN CAST('0x' || substr(md5(s), ${k + 1}, 1) AS INT) >= 8 THEN 1 ELSE -1 END)) AS v$k"
      }.mkString(",\n         ")
      def bits(lo: Int, hi: Int): String =
        (lo until hi).map(k =>
          s"(CASE WHEN v$k > 0 THEN ${1 << (k - lo)} ELSE 0 END)")
          .mkString(" + ")
      s"""$ToksCte, votes AS (
         |  SELECT doc_id,
         |         $votes
         |  FROM toks WHERE len(t) > 0
         |), halves AS (
         |  SELECT doc_id,
         |         ${bits(0, 8)} AS simhash_lo,
         |         ${bits(8, 16)} AS simhash_hi
         |  FROM votes
         |)
         |SELECT doc_id,
         |       simhash_lo + simhash_hi * 256 AS simhash,
         |       simhash_hi, simhash_lo
         |FROM halves""".stripMargin
    },

    "q_topk_similarity" ->
      s"""$EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), scored AS (
         |  SELECT q.q_id, n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, q WHERE n.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin,

    "q_mmr_rerank" -> mmrOracle,
    "q_bitext_mine" -> bitextOracle,

    // Twin of Similarity.hardNegatives: cross-group top-k; the anchor
    // excludes itself WITH its positive group, so no self-pair filter.
    "q_hard_negatives" ->
      s"""$EmbCte, q AS (
         |  SELECT vec_id AS q_id, label AS q_label, v AS qv, nv AS nq
         |  FROM n WHERE vec_id < ${Similarity.NumQueries}
         |), hscored AS (
         |  SELECT q.q_id, n.vec_id, n.label,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, q WHERE n.label <> q.q_label
         |)
         |SELECT q_id, vec_id, label, cosine, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cosine DESC, vec_id ASC) AS rank FROM hscored)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin,

    "q_ann_lsh" ->
      s"""$EmbCte, bn AS (
         |  SELECT *, ${bucketSql("v")} AS bucket FROM n
         |), q0 AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq, bucket FROM bn
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), q AS (
         |  SELECT q_id, qv, nq, CAST(xor(bucket, m) AS INT) AS bucket
         |  FROM q0, unnest(${Similarity.ProbeMasks.mkString("[", ", ", "]")}) AS t(m)
         |), scored AS (
         |  SELECT q.q_id, bn.vec_id, bn.bucket,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM bn JOIN q USING (bucket) WHERE bn.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, bucket, cosine, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |        ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
         |WHERE rank <= ${Similarity.TopK}""".stripMargin,

    // Per-query LSH recall vs exact: both chains rebuilt as CTEs (the
    // lsh side renamed q0/qp/ascore to dodge the exact side's names),
    // joined on (q_id, vec_id); recall = n_hits / k is an int/const
    // IEEE quotient, bit-exact both engines.
    "q_ann_recall" ->
      s"""$EmbCte, q AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), escore AS (
         |  SELECT q.q_id, n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, q WHERE n.vec_id <> q.q_id
         |), exact AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id ASC) AS rank FROM escore)
         |  WHERE rank <= ${Similarity.TopK}
         |), bn AS (
         |  SELECT *, ${bucketSql("v")} AS bucket FROM n
         |), q0 AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq, bucket FROM bn
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), qp AS (
         |  SELECT q_id, qv, nq, CAST(xor(bucket, m) AS INT) AS bucket
         |  FROM q0, unnest(${Similarity.ProbeMasks.mkString("[", ", ", "]")}) AS t(m)
         |), ascore AS (
         |  SELECT qp.q_id, bn.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM bn JOIN qp USING (bucket) WHERE bn.vec_id <> qp.q_id
         |), approx AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id ASC) AS rank FROM ascore)
         |  WHERE rank <= ${Similarity.TopK}
         |)
         |SELECT a.q_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_returned,
         |       CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits,
         |       COUNT(e.vec_id) / CAST(${Similarity.TopK} AS DOUBLE) AS recall
         |FROM approx a
         |LEFT JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY 1""".stripMargin,

    // Post-takedown ANN health (r15): the IVF serve arm reuses the
    // q_ann_ivf_served CTEs (same trained centroids — the fixture
    // index bootstrapped on the full corpus and was never retrained —
    // same probe ranking, same tie-breaks) with the corpus side
    // filtered to the live vectors (the fixture takedown set); the
    // exact arm is brute force over the same live corpus; the report
    // tail is q_ann_recall's verbatim.
    "q_ann_recall_takedown" ->
      s"""$ivfCellsCtes, probes AS (
         |  SELECT vec_id AS q_id, cent_id AS cell FROM ranked
         |  WHERE crank <= ${Similarity.NumProbes}
         |    AND vec_id < ${Similarity.NumQueries}
         |), q AS (
         |  SELECT vec_id AS q_id, v AS qv, nv AS nq FROM n
         |  WHERE vec_id < ${Similarity.NumQueries}
         |), ascore AS (
         |  SELECT q.q_id, n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n
         |  JOIN cells ON n.vec_id = cells.vec_id
         |  JOIN probes ON cells.cell = probes.cell
         |  JOIN q ON probes.q_id = q.q_id
         |  WHERE n.vec_id <> q.q_id AND n.vec_id % 5 <> 2
         |), approx AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id ASC) AS rank FROM ascore)
         |  WHERE rank <= ${Similarity.TopK}
         |), escore AS (
         |  SELECT q.q_id, n.vec_id,
         |         list_sum(list_transform(range(1, ${Similarity.Dim + 1}),
         |           i -> qv[i] * v[i])) / (nq * nv) AS cosine
         |  FROM n, q WHERE n.vec_id <> q.q_id AND n.vec_id % 5 <> 2
         |), exact AS (
         |  SELECT q_id, vec_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY cosine DESC, vec_id ASC) AS rank FROM escore)
         |  WHERE rank <= ${Similarity.TopK}
         |)
         |SELECT a.q_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_returned,
         |       CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits,
         |       COUNT(e.vec_id) / CAST(${Similarity.TopK} AS DOUBLE)
         |         AS recall
         |FROM approx a
         |LEFT JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY 1""".stripMargin,

    // q_ann_ivf trains KmIterations Lloyd rounds from the hash-sample
    // seed (Similarity.trainedCentroidsOf); the twin unrolls them: aN =
    // assignment (argmax cosine, cell-asc tie-break), mN = 9-dp member
    // means per (cell, dim), kN = empty-cell guard (keep previous),
    // cN = rebuilt centroid vectors. Must track kmeansRefineOf exactly.
    "q_ann_ivf" -> annIvfSql,
    "q_semdedup" -> semDedupSql,
    "q_semdedup_served" -> semDedupSql,
    // The served path answers from the SAME trained centroids with the
    // same tie-breaks, so it shares the twin verbatim.
    "q_ann_ivf_served" -> annIvfSql,

    // Inline and served forms share the twin verbatim (r17): the
    // served row reads the staged pair table, a bit-exact parquet
    // round-trip of the inline chain's output.
    "q_embedding_neardup" -> embeddingNearDupSql,
    "q_embedding_neardup_served" -> embeddingNearDupSql,

    "q_label_centroids" ->
      s"""$EmbCte
         |SELECT label, CAST(i - 1 AS INT) AS dim,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ROUND(AVG(v[i]), 6) AS mean_x
         |FROM n, unnest(range(1, ${Similarity.Dim + 1})) AS t(i)
         |GROUP BY 1, 2""".stripMargin,

    "q_embedding_stats" ->
      s"""$EmbCte
         |SELECT label,
         |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |       ROUND(SUM(nv), 6) AS total_norm,
         |       ROUND(MIN(nv), 6) AS min_norm,
         |       ROUND(MAX(nv), 6) AS max_norm
         |FROM n
         |GROUP BY 1""".stripMargin,

    "q_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q_event_props" ->
      """SELECT event_type,
        |       strftime(ts, '%Y-%m-%d') AS date,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
        |         AS sum_k,
        |       MIN(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
        |       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS DOUBLE)
        |         / COUNT(*) AS avg_k
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q_event_sliding" ->
      """WITH contrib AS (
        |  SELECT event_type, value,
        |         unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                 date_trunc('hour', ts)]) AS w
        |  FROM events
        |)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM contrib
        |GROUP BY 1, 2""".stripMargin,

    "q_event_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(MAX(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM sess
        |GROUP BY user_id, sid""".stripMargin,

    "q_curation" ->
      s"""$ToksCte, $minhashCtes, jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |), losers AS (
         |  SELECT DISTINCT doc_b FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |), base AS (
         |  SELECT doc_id,
         |         len(text) AS n_chars,
         |         len(t) AS n_tokens,
         |         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         |         ${hitsExpr(TextOps.StopWords.head._2)} AS n_stop
         |  FROM toks
         |), ratios AS (
         |  SELECT *,
         |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
         |              ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens
         |              ELSE CAST(0.0 AS DOUBLE) END AS stop_ratio
         |  FROM base
         |)
         |SELECT doc_id, n_tokens, punct_ratio,
         |       least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
         |         + (CAST(1.0 AS DOUBLE) - punct_ratio) * CAST(0.3 AS DOUBLE)
         |         + least(CAST(1.0 AS DOUBLE), stop_ratio * CAST(5.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE)
         |         AS quality_score
         |FROM ratios
         |WHERE doc_id NOT IN (SELECT doc_b FROM losers)
         |  AND n_tokens >= 20 AND punct_ratio <= CAST(0.2 AS DOUBLE)""".stripMargin,

    // q_curation plus the asymmetric rule: a member contained in its
    // partner (containment ≥ 0.9) loses even under the jaccard gate;
    // mutual containment keeps the lower doc_id.
    "q_curation_containment" ->
      s"""$ToksCte, $minhashCtes, jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |         len(a.sh) AS n_a, len(b.sh) AS n_b,
         |         len(list_intersect(a.sh, b.sh)) AS n_inter,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |), losers AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM jac
         |  WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |  UNION
         |  SELECT DISTINCT CASE
         |    WHEN CAST(n_inter AS DOUBLE) / n_a >= CAST(0.9 AS DOUBLE)
         |     AND CAST(n_inter AS DOUBLE) / n_b >= CAST(0.9 AS DOUBLE)
         |      THEN greatest(doc_a, doc_b)
         |    WHEN CAST(n_inter AS DOUBLE) / n_a >= CAST(0.9 AS DOUBLE)
         |      THEN doc_a
         |    ELSE doc_b END AS doc_id
         |  FROM jac
         |  WHERE greatest(CAST(n_inter AS DOUBLE) / n_a,
         |                 CAST(n_inter AS DOUBLE) / n_b) >= CAST(0.9 AS DOUBLE)
         |), base AS (
         |  SELECT doc_id,
         |         len(text) AS n_chars,
         |         len(t) AS n_tokens,
         |         len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         |         ${hitsExpr(TextOps.StopWords.head._2)} AS n_stop
         |  FROM toks
         |), ratios AS (
         |  SELECT *,
         |         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
         |              ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens
         |              ELSE CAST(0.0 AS DOUBLE) END AS stop_ratio
         |  FROM base
         |)
         |SELECT doc_id, n_tokens, punct_ratio,
         |       least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
         |         + (CAST(1.0 AS DOUBLE) - punct_ratio) * CAST(0.3 AS DOUBLE)
         |         + least(CAST(1.0 AS DOUBLE), stop_ratio * CAST(5.0 AS DOUBLE)) * CAST(0.2 AS DOUBLE)
         |         AS quality_score
         |FROM ratios
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND n_tokens >= 20 AND punct_ratio <= CAST(0.2 AS DOUBLE)""".stripMargin,

    "q_decontaminate" ->
      s"""$ToksCte, split AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8)
         |           AS BIGINT) % 100 AS bucket
         |  FROM documents
         |), sh AS (
         |  SELECT toks.doc_id, split.bucket, unnest($ShinglesExpr) AS sh
         |  FROM toks JOIN split ON toks.doc_id = split.doc_id
         |), rare AS (
         |  SELECT s.* FROM sh s
         |  JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1) d USING (sh)
         |  WHERE d.df <= 20
         |)
         |SELECT a.doc_id AS train_doc, b.doc_id AS eval_doc,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM rare a JOIN rare b USING (sh)
         |WHERE a.bucket < 80 AND b.bucket >= 90
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 3""".stripMargin,

    // Near-dup-tier leakage: the verified pair frame (the ngram_jaccard
    // twin's CTE) with each member's split computed by the same
    // md5-bucket expression as q_train_split, kept where the splits
    // differ — replayed from scratch here, served from the standing
    // pair table on the Spark side (another build/serve identity).
    "q_split_leakage" ->
      s"""$ToksCte, $minhashCtes, verified AS (
         |  SELECT p.doc_a, p.doc_b,
         |         len(list_intersect(a.sh, b.sh)) AS n_inter,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |), sp AS (
         |  SELECT doc_a, doc_b, n_inter, jaccard,
         |         CASE WHEN CAST('0x' || substr(md5('split:' || doc_a::VARCHAR), 1, 8)
         |                AS BIGINT) % 100 < 80 THEN 'train'
         |              WHEN CAST('0x' || substr(md5('split:' || doc_a::VARCHAR), 1, 8)
         |                AS BIGINT) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split_a,
         |         CASE WHEN CAST('0x' || substr(md5('split:' || doc_b::VARCHAR), 1, 8)
         |                AS BIGINT) % 100 < 80 THEN 'train'
         |              WHEN CAST('0x' || substr(md5('split:' || doc_b::VARCHAR), 1, 8)
         |                AS BIGINT) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split_b
         |  FROM verified WHERE jaccard >= 0.5
         |)
         |SELECT doc_a, doc_b, split_a, split_b, n_inter, jaccard
         |FROM sp WHERE split_a <> split_b""".stripMargin,

    // The remedy twin: the q_dedup_clusters recursive label walk gives
    // each clustered doc its min-doc_id label; the split hash keys on
    // coalesce(cluster_id, doc_id) — q_train_split's expression exactly,
    // with the family label substituted where one exists.
    "q_cluster_split" ->
      s"""${ToksCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $minhashCtes, jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |), walk AS (
         |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, w.lbl AS lbl
         |  FROM walk w JOIN edges e ON w.doc_id = e.src
         |), clusters AS (
         |  SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY 1
         |), keyed AS (
         |  SELECT d.doc_id,
         |         CAST('0x' || substr(md5('split:' ||
         |             coalesce(c.cluster_id, d.doc_id)::VARCHAR), 1, 8)
         |           AS BIGINT) % 100 AS bucket
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |)
         |SELECT doc_id,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM keyed""".stripMargin,

    "q_generator" -> {
      def h8(tag: String) =
        s"CAST('0x' || substr(md5('$tag:' || id::VARCHAR), 1, 8) AS BIGINT)"
      val countries = sources.Generator.Countries
        .map(c => s"'$c'").mkString("[", ", ", "]")
      s"""WITH g AS (SELECT id FROM range(1000) t(id)),
         |cents AS (SELECT id, ${h8("cost")} % 99000 + 1000 AS c FROM g)
         |SELECT CAST(${h8("id")} % 90000000 + 10000000 AS VARCHAR) AS campaign_id,
         |       (c // 100)::VARCHAR || '.' || lpad((c % 100)::VARCHAR, 2, '0') AS cost,
         |       ($countries)[CAST(${h8("country")} % ${sources.Generator.Countries.size} AS INT) + 1] AS country,
         |       strftime(TIMESTAMP '${sources.Generator.Epoch}'
         |         - to_seconds(${h8("ts")} % 10800), '%Y-%m-%d %H:%M:%S') AS date_time
         |FROM cents JOIN g USING (id)""".stripMargin
    },

    "q_ingest_roundtrip_csv" -> IngestRoundtripOracle,
    "q_ingest_roundtrip_csv_noheader" -> IngestRoundtripOracle,
    "q_sink_archive_roundtrip" -> IngestRoundtripOracle,
    // The evolved read: odd keys carry the new column, even keys are
    // pre-migration rows whose datetime (and its derivations) is NULL.
    "q_ingest_schema_evolution" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS transaction_id,
        |       o_totalprice AS income,
        |       n_name AS country,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderdate END AS date_time,
        |       CASE WHEN o_orderkey % 2 = 1
        |            THEN strftime(o_orderdate, '%Y-%m-%d') END AS date,
        |       CASE WHEN o_orderkey % 2 = 1
        |            THEN strftime(o_orderdate, '%H:%M:%S') END AS time
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_ingest_roundtrip_tsv" -> IngestRoundtripOracle,
    "q_ingest_roundtrip_jsonl" -> IngestRoundtripOracle,
    "q_ingest_roundtrip_orc" -> IngestRoundtripOracle,
    "q_ingest_roundtrip_jdbc" -> IngestRoundtripOracle,
    // HLL entry: approx VALUE can't cross engines (different sketches),
    // so the oracle pins the exact count and asserts Spark's 1%-rsd HLL
    // landed within 5% of it (approx_ok carries the verdict).
    "q_approx_distinct" ->
      """SELECT n_name AS country,
        |       COUNT(DISTINCT o_custkey) AS n_exact,
        |       1 AS approx_ok
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_event_leadlag" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |       strftime(make_timestamp(ts_us), '%Y-%m-%d %H:%M:%S') AS ts,
        |       event_type,
        |       ts_us - LAG(ts_us, 1) OVER wt AS prev_gap_us,
        |       LEAD(ts_us, 1) OVER wt - ts_us AS next_gap_us,
        |       CAST(NTILE(4) OVER wv AS INT) AS value_quartile,
        |       ROUND(PERCENT_RANK() OVER wv, 6) AS value_pct_rank
        |FROM ev
        |WINDOW wt AS (PARTITION BY user_id ORDER BY ts_us, event_id),
        |       wv AS (PARTITION BY user_id
        |              ORDER BY value NULLS FIRST, event_id)""".stripMargin,

    "q_event_pivot" -> {
      val cols = operators.Events.EventTypes.map { t =>
        s"""NULLIF(CAST(COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT), 0) AS ${t}_n,
           |       ROUND(SUM(CASE WHEN event_type = '$t' THEN value END), 2) AS ${t}_value""".stripMargin
      }.mkString(",\n       ")
      s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
         |       $cols
         |FROM events
         |GROUP BY 1""".stripMargin
    },

    "q_heavy_hitters" ->
      s"""$ToksCte, counts AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
         |  FROM (SELECT unnest(t) AS tok FROM toks)
         |  GROUP BY 1
         |)
         |SELECT tok, n_tok, 1 AS approx_ok
         |FROM counts
         |ORDER BY n_tok DESC, tok
         |LIMIT 20""".stripMargin,

    "q_corpus_pipeline" ->
      s"""$ToksCte, $minhashCtes$pipelineCurationCtes, kept AS (
         |  SELECT toks.doc_id AS doc_id, lang,
         |         CAST(len(t) AS BIGINT) AS n_tokens
         |  FROM toks JOIN curated ON toks.doc_id = curated.doc_id
         |  WHERE CAST('0x' || substr(md5('split:' || toks.doc_id::VARCHAR), 1, 8)
         |          AS BIGINT) % 100 < 80
         |), off AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_offset
         |  FROM kept
         |)
         |SELECT lang,
         |       start_offset // ${operators.Sampling.PackBudget} AS pack_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc,
         |       MAX(doc_id) AS last_doc
         |FROM off GROUP BY 1, 2""".stripMargin,

    // The temperature-weighted composed chain: same curation CTEs, then
    // the temperatureMix accounting over the SURVIVORS (identical IEEE
    // expression shape as q_temperature_mix: double-share, sqrt,
    // 9-dp-rounded normalizer, LTR multiplier), integer ppm gate on the
    // shared md5 draw, split gate, packing.
    "q_corpus_pipeline_temp" ->
      s"""$ToksCte, $minhashCtes$pipelineCurationCtes, kept0 AS (
         |  SELECT toks.doc_id AS doc_id, lang, source,
         |         CAST(len(t) AS BIGINT) AS n_tokens
         |  FROM toks JOIN curated ON toks.doc_id = curated.doc_id
         |), mix AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |  FROM kept0 GROUP BY 1
         |), mix2 AS (
         |  SELECT source, total_tokens,
         |         CAST(SUM(total_tokens) OVER () AS BIGINT) AS corpus_tokens,
         |         sqrt(CAST(total_tokens AS DOUBLE)
         |           / CAST(SUM(total_tokens) OVER () AS BIGINT)) AS share_pow
         |  FROM mix
         |), rates AS (
         |  SELECT source,
         |         LEAST(1000000, CAST(floor(
         |           share_pow / round(SUM(share_pow) OVER (), 9)
         |             * CAST(corpus_tokens AS DOUBLE) / total_tokens
         |             * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS rate_ppm
         |  FROM mix2
         |), kept AS (
         |  SELECT k.doc_id, lang, n_tokens
         |  FROM kept0 k JOIN rates USING (source)
         |  WHERE CAST('0x' || substr(md5('tsample:' || k.doc_id::VARCHAR), 1, 8)
         |          AS BIGINT) % 1000000 < rate_ppm
         |    AND CAST('0x' || substr(md5('split:' || k.doc_id::VARCHAR), 1, 8)
         |          AS BIGINT) % 100 < 80
         |), off AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_offset
         |  FROM kept
         |)
         |SELECT lang,
         |       start_offset // ${operators.Sampling.PackBudget} AS pack_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc,
         |       MAX(doc_id) AS last_doc
         |FROM off GROUP BY 1, 2""".stripMargin,

    "q_event_unpivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, event_type,
        |       ROUND(SUM(value), 2) AS daily_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q_event_cube" ->
      """SELECT event_type,
        |       CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
        |       CAST(GROUPING(event_type) AS INT) AS g_type,
        |       CAST(GROUPING(CAST(CAST(ts AS DATE) AS VARCHAR)) AS INT) AS g_date,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 2) AS total_value
        |FROM events
        |GROUP BY CUBE (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))""".stripMargin,

    "q_event_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
        |         ROUND(SUM(value), 2) AS daily_value
        |  FROM events GROUP BY 1, 2
        |), d2 AS (
        |  SELECT *, CAST(ROUND(daily_value * 100) AS BIGINT) AS cents
        |  FROM daily
        |), stats AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(cents) AS BIGINT) AS s1,
        |         CAST(SUM(cents * cents) AS BIGINT) AS s2
        |  FROM d2 GROUP BY 1
        |), m AS (
        |  SELECT d2.event_type AS event_type, d2.date AS date,
        |         d2.daily_value AS daily_value, d2.cents AS cents,
        |         CAST(s.s1 AS DOUBLE) / s.n AS mean_c,
        |         CASE WHEN s.n > 1 THEN
        |           (CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n)
        |             / (s.n - 1)
        |         ELSE 0.0 END AS var_c
        |  FROM d2 JOIN stats s ON d2.event_type = s.event_type
        |), z AS (
        |  SELECT event_type, date, daily_value,
        |         CASE WHEN var_c > 0
        |           THEN ROUND((cents - mean_c) / sqrt(var_c), 6)
        |           ELSE 0.0 END AS z
        |  FROM m
        |)
        |SELECT event_type, date, daily_value, z,
        |       CASE WHEN abs(z) >= 2.0 THEN 1 ELSE 0 END AS anomaly
        |FROM z""".stripMargin,

    "q_approx_quantiles" ->
      s"""WITH hist AS (
        |  SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2
        |), cum AS (
        |  SELECT lang, n_chars, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
        |  FROM hist
        |), pcts AS (SELECT UNNEST([${operators.TextOps.QuantilePcts.mkString(", ")}]) AS pct)
        |SELECT lang, pct, MAX(n_docs) AS n_docs,
        |       MIN(CASE WHEN cum >= (n_docs * pct + 99) // 100
        |         THEN n_chars END) AS exact_chars,
        |       1 AS approx_ok
        |FROM cum CROSS JOIN pcts
        |GROUP BY 1, 2""".stripMargin,

    "q_set_ops" ->
      """SELECT source, 'intersect' AS op FROM
        |  (SELECT source FROM documents WHERE lang = 'en'
        |   INTERSECT
        |   SELECT source FROM documents WHERE lang = 'de')
        |UNION ALL
        |SELECT source, 'except' AS op FROM
        |  (SELECT source FROM documents WHERE lang = 'en'
        |   EXCEPT
        |   SELECT source FROM documents WHERE lang = 'de')""".stripMargin,

    "q_order_limit" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |ORDER BY n_chars DESC, doc_id ASC
        |LIMIT 100""".stripMargin,

    "q_pii_card" -> {
      // Oracle constructs the same varied card corpus from CardPrimes
      // and computes the Luhn check digit INDEPENDENTLY, then predicts
      // the validator's verdict closed-form: even doc_ids carry a valid
      // card (redacted), odd ones a guaranteed-invalid twin (kept).
      val ds = graft.operators.Privacy.CardPrimes
        .map(p => s"((doc_id * $p) % 10)")
      val part = ds.zipWithIndex.map { case (d, idx) =>
        if (idx % 2 == 0) s"(CASE WHEN 2*$d > 9 THEN 2*$d - 9 ELSE 2*$d END)"
        else d
      }.mkString(" + ")
      def grp(s: Seq[String]): String =
        s.map(d => s"CAST($d AS VARCHAR)").mkString(" || ")
      val g = ds.grouped(4).toSeq
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |         (10 - ($part) % 10) % 10 AS cv
         |  FROM documents
         |), t AS (
         |  SELECT doc_id, text,
         |         ${grp(g(0))} || ' ' || ${grp(g(1))} || ' ' || ${grp(g(2))}
         |           || ' ' || ${grp(g(3))} || CAST(
         |             CASE WHEN doc_id % 2 = 0 THEN cv
         |                  ELSE (cv + 5) % 10 END AS VARCHAR) AS card
         |  FROM b
         |), r AS (
         |  SELECT doc_id,
         |         text || ' Pay to card '
         |           || CASE WHEN doc_id % 2 = 0 THEN '[CARD]' ELSE card END
         |           || ' today.' AS redacted
         |  FROM t
         |)
         |SELECT doc_id,
         |       1 AS n_card_candidates,
         |       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
         |         AS n_cards_valid,
         |       md5(redacted) AS redacted_md5,
         |       CAST(len(redacted) AS INT) AS n_chars_redacted
         |FROM r""".stripMargin
    },

    "q_pii_redact" -> {
      import graft.operators.Privacy.{EmailRe, IpRe, PhoneRe}
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || ' Contact user' || doc_id::VARCHAR
         |           || '@mail.example.com, call 555-'
         |           || lpad(((doc_id * 7) % 1000)::VARCHAR, 3, '0') || '-'
         |           || lpad(((doc_id * 13) % 10000)::VARCHAR, 4, '0')
         |           || ' or ping 10.' || (doc_id % 256)::VARCHAR
         |           || '.0.' || ((doc_id * 3) % 256)::VARCHAR || ' now.' AS text
         |  FROM documents
         |), red AS (
         |  SELECT doc_id, text,
         |         regexp_replace(regexp_replace(regexp_replace(text,
         |           '$EmailRe', '[EMAIL]', 'g'),
         |           '$IpRe', '[IP]', 'g'),
         |           '$PhoneRe', '[PHONE]', 'g') AS redacted
         |  FROM aug
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
         |       CAST(len(regexp_extract_all(text, '$IpRe')) AS INT) AS n_ips,
         |       md5(redacted) AS redacted_md5,
         |       CAST(len(redacted) AS INT) AS n_chars_redacted
         |FROM red""".stripMargin
    },

    "q_repetition" ->
      s"""$ToksCte, bg AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) >= 2
         |              THEN list_transform(range(1, len(t)),
         |                     i -> concat_ws(' ', t[i], t[i+1]))
         |              ELSE [] END AS bgs
         |  FROM toks
         |), per_gram AS (
         |  SELECT doc_id, g, COUNT(*) AS n
         |  FROM (SELECT doc_id, unnest(bgs) AS g FROM bg)
         |  GROUP BY 1, 2
         |), per_doc AS (
         |  SELECT doc_id,
         |         CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         |         CAST(MAX(n) AS BIGINT) AS top_bigram_n
         |  FROM per_gram GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
         |       coalesce(top_bigram_n, 0) AS top_bigram_n,
         |       CASE WHEN coalesce(n_bigrams, 0) > 0
         |            THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
         |            ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac,
         |       CASE WHEN coalesce(n_bigrams, 0) > 0
         |            THEN CAST(top_bigram_n AS DOUBLE) / n_bigrams
         |            ELSE CAST(0.0 AS DOUBLE) END AS top_bigram_frac
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin,

    "q_train_split" ->
      """SELECT doc_id, lang, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8)
        |           AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)""".stripMargin,

    "q_stratified_sample" -> {
      val cases = graft.operators.Sampling.SampleRatesPpm
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString(" ")
      s"""SELECT * FROM (
         |  SELECT doc_id, lang, source,
         |         CAST('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 8)
         |           AS BIGINT) % 1000000 AS u_ppm,
         |         CASE $cases
         |              ELSE ${graft.operators.Sampling.DefaultRatePpm}
         |         END AS rate_ppm
         |  FROM documents
         |) WHERE u_ppm < rate_ppm""".stripMargin
    },

    "q_seq_pack" ->
      s"""$ToksCte, base AS (
         |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
         |), off AS (
         |  SELECT doc_id, lang, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_offset
         |  FROM base
         |)
         |SELECT lang,
         |       start_offset // ${graft.operators.Sampling.PackBudget} AS pack_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(doc_id) AS first_doc,
         |       MAX(doc_id) AS last_doc
         |FROM off GROUP BY 1, 2""".stripMargin,

    "q_shuffle_shards" ->
      s"""SELECT doc_id, lang, shard, pos,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |         ORDER BY pos, doc_id) AS INT) AS rank_in_shard
         |FROM (
         |  SELECT doc_id, lang,
         |         CAST('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 8)
         |           AS BIGINT) % ${graft.operators.Sampling.NumShards} AS shard,
         |         CAST('0x' || substr(md5('pos:' || doc_id::VARCHAR), 1, 8)
         |           AS BIGINT) AS pos
         |  FROM documents
         |)""".stripMargin,

    "q_exact_sample" ->
      s"""SELECT doc_id, lang, u, CAST(rank AS INT) AS rank FROM (
         |  SELECT doc_id, lang, u,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |           ORDER BY u ASC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT doc_id, lang,
         |           CAST('0x' || substr(md5('exact:' || doc_id::VARCHAR), 1, 8)
         |             AS BIGINT) AS u
         |    FROM documents
         |  )
         |) WHERE rank <= ${graft.operators.Sampling.ExactK}""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), c AS (
        |  SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT c.event_id, c.user_id, c.ts_us,
        |         p.event_id AS asof_event_id, p.ts_us AS asof_ts_us,
        |         ROW_NUMBER() OVER (PARTITION BY c.event_id
        |           ORDER BY p.ts_us DESC, p.event_id DESC) AS rn
        |  FROM c LEFT JOIN p
        |    ON p.user_id = c.user_id AND p.ts_us <= c.ts_us
        |)
        |SELECT event_id, user_id, ts_us, asof_event_id, asof_ts_us,
        |       ts_us - asof_ts_us AS gap_us
        |FROM m WHERE rn = 1""".stripMargin,

    "q_range_join" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
         |  FROM events
         |)
         |SELECT a.event_type AS a_type, b.event_type AS b_type,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(b.ts_us - a.ts_us) AS BIGINT) AS total_gap_us,
         |       CAST(SUM(b.ts_us - a.ts_us) AS DOUBLE) / COUNT(*) AS avg_gap_us
         |FROM ev a JOIN ev b
         |  ON a.user_id = b.user_id
         | AND b.ts_us > a.ts_us
         | AND b.ts_us <= a.ts_us + ${graft.operators.Joins.RangeUs}
         |GROUP BY 1, 2""".stripMargin,

    "q_salted_join" ->
      """SELECT p_brand AS brand,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       ROUND(SUM(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    "q_dedup_clusters" ->
      s"""${ToksCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $minhashCtes, jac AS (
         |  SELECT p.doc_a, p.doc_b,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |  FROM pairs p
         |  JOIN docs a ON p.doc_a = a.doc_id
         |  JOIN docs b ON p.doc_b = b.doc_id
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |), walk AS (
         |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, w.lbl AS lbl
         |  FROM walk w JOIN edges e ON w.doc_id = e.src
         |)
         |SELECT doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY 1""".stripMargin,

    "q_group_by_ordinal" ->
      s"""$MasterCte
         |SELECT transaction_country AS country,
         |       CAST(CAST(transaction_datetime AS DATE) AS VARCHAR) AS date,
         |       ROUND(SUM(income), 2) AS income,
         |       COUNT(transaction_id) AS n
         |FROM txn
         |GROUP BY 1, 2""".stripMargin,

    "q_multimodal_meta" -> {
      def h8(tag: String) =
        s"CAST('0x' || substr(md5('$tag:' || doc_id::VARCHAR), 1, 8) AS BIGINT)"
      s"""SELECT doc_id,
         |       CASE doc_id % 3 WHEN 0 THEN 'image/png'
         |            WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
         |       CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
         |       md5(text) AS payload_md5,
         |       CAST(${h8("w")} % 1024 + 64 AS INT) AS width,
         |       CAST(${h8("h")} % 1024 + 64 AS INT) AS height,
         |       CAST(${h8("f")} % 240 + 1 AS INT) AS n_frames,
         |       CAST(len(range(0, CAST(${h8("f")} % 240 + 1 AS INT),
         |         greatest(1, CAST(${h8("f")} % 240 + 1 AS INT) // 8))) AS INT)
         |         AS n_sampled_frames
         |FROM documents""".stripMargin
    },

    "q_audio_stats" ->
      """WITH f AS (
        |  SELECT d.doc_id AS doc_id, u.i AS i,
        |         CAST(((d.doc_id * 7919 + u.i * 104729) % 65536) - 32768
        |           AS BIGINT) AS v
        |  FROM documents d,
        |       unnest(range(0, 64 + CAST(d.doc_id % 129 AS INT))) AS u(i)
        |), g AS (
        |  SELECT doc_id, i, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM f
        |)
        |SELECT doc_id,
        |       1 AS n_channels,
        |       CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |       16 AS bit_depth,
        |       COUNT(*) AS n_frames,
        |       CAST(MAX(abs(v)) AS INT) AS peak_abs,
        |       CAST(SUM(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS zero_crossings,
        |       sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms,
        |       CAST(COUNT(*) AS DOUBLE) / (8000 + (doc_id % 3) * 4000)
        |         AS duration_s
        |FROM g GROUP BY doc_id""".stripMargin,

    // q_video_meta: every column restated from the closed-form MP4
    // parameter generators (Multimodal.mp4*For); n_bytes is the
    // writer's byte-layout identity: 24 (ftyp) + 8 + 108 + 100·tracks
    // (moov) + 8 + mdat.
    "q_video_meta" ->
      """SELECT doc_id,
        |       'isom' AS major_brand,
        |       600 + (doc_id % 5) * 300 AS timescale,
        |       1000 + (doc_id % 2401) * 7 AS duration_ticks,
        |       CAST(1000 + (doc_id % 2401) * 7 AS DOUBLE)
        |         / (600 + (doc_id % 5) * 300) AS duration_s,
        |       CAST(1 + doc_id % 3 AS INT) AS n_tracks,
        |       CAST(160 + (doc_id % 28) * 8 AS INT) AS width,
        |       CAST(120 + (doc_id % 16) * 8 AS INT) AS height,
        |       CAST(148 + (1 + doc_id % 3) * 100 + 16 + doc_id % 49
        |         AS INT) AS n_bytes
        |FROM documents""".stripMargin,

    "q_mixed_modality" ->
      """WITH f AS (
        |  SELECT d.doc_id AS doc_id,
        |         CAST(((d.doc_id * 7919 + u.i * 104729) % 65536) - 32768
        |           AS BIGINT) AS v
        |  FROM documents d,
        |       unnest(range(0, 64 + CAST(d.doc_id % 129 AS INT))) AS u(i)
        |  WHERE d.doc_id % 3 = 1
        |), a AS (
        |  SELECT doc_id, COUNT(*) AS n_frames,
        |         sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms
        |  FROM f GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CASE WHEN d.doc_id % 3 = 0 THEN 'image'
        |            WHEN d.doc_id % 3 = 1 THEN 'audio'
        |            WHEN d.doc_id % 6 = 2 THEN 'video'
        |            ELSE 'binary' END AS modality,
        |       CASE WHEN d.doc_id % 3 = 0
        |            THEN CAST(8 + d.doc_id % 25 AS INT)
        |            WHEN d.doc_id % 6 = 2
        |            THEN CAST(160 + (d.doc_id % 28) * 8 AS INT) END AS width,
        |       CASE WHEN d.doc_id % 3 = 0
        |            THEN CAST(8 + d.doc_id % 17 AS INT)
        |            WHEN d.doc_id % 6 = 2
        |            THEN CAST(120 + (d.doc_id % 16) * 8 AS INT) END AS height,
        |       CASE WHEN d.doc_id % 3 = 0
        |            THEN CAST((d.doc_id * 13) % 256 AS DOUBLE) END AS mean_r,
        |       CASE WHEN d.doc_id % 3 = 0
        |            THEN CAST((d.doc_id * 29) % 256 AS DOUBLE) END AS mean_g,
        |       CASE WHEN d.doc_id % 3 = 0
        |            THEN CAST((d.doc_id * 53) % 256 AS DOUBLE) END AS mean_b,
        |       a.n_frames AS n_frames,
        |       a.rms AS rms,
        |       CASE WHEN d.doc_id % 6 = 2
        |            THEN CAST(1000 + (d.doc_id % 2401) * 7 AS DOUBLE)
        |              / (600 + (d.doc_id % 5) * 300) END AS duration_s
        |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin,

    // Twin of Multimodal.imageNearDup over the grid fixture: the 3×2
    // solid blocks box-filter to themselves, so the 8×8 resample IS
    // the gray generator and the dHash bits are pure integer
    // comparisons of the closed form (the +1 tone shift on odd docs
    // preserves every comparison, so it never appears here). Banding
    // is radius-3 complete, so the served pair set equals the
    // brute-force hamming<=3 join.
    "q_image_neardup" -> imageNearDupSql,
    // The AUTO-dispatched form resolves to the identical quarter-banded
    // construction below the 2²⁶-image trigger (ScaleEnvelopeSpec pins
    // both sides of the boundary), so it shares the twin verbatim —
    // the q_simhash64_auto pattern.
    "q_image_neardup_auto" -> imageNearDupSql,

    "q_boilerplate" ->
      s"""$ToksCte, sh AS (
         |  SELECT doc_id, unnest($ShinglesExpr) AS s FROM toks
         |), ann AS (
         |  SELECT doc_id, COUNT(*) OVER (PARTITION BY s) AS df FROM sh
         |), per_doc AS (
         |  SELECT doc_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN df >= ${TextOps.BoilerplateMinDf}
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent
         |  FROM ann GROUP BY 1
         |)
         |SELECT d.doc_id, d.lang,
         |       coalesce(n_shingles, 0) AS n_shingles,
         |       coalesce(n_frequent, 0) AS n_frequent,
         |       CASE WHEN coalesce(n_shingles, 0) > 0
         |            THEN CAST(n_frequent AS DOUBLE) / n_shingles
         |            ELSE CAST(0.0 AS DOUBLE) END AS boilerplate_frac
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""".stripMargin,

    "q_length_quantiles" -> {
      val qCols = TextOps.QuantilePcts.map { p =>
        s"MIN(CASE WHEN cum >= (n_docs * $p + 99) // 100 THEN n_chars END) AS p${p}_chars"
      }.mkString(",\n       ")
      s"""WITH hist AS (
         |  SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 1, 2
         |), cum AS (
         |  SELECT lang, n_chars, cnt,
         |         CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
         |  FROM hist
         |)
         |SELECT lang, MAX(n_docs) AS n_docs,
         |       MIN(n_chars) AS min_chars,
         |       MAX(n_chars) AS max_chars,
         |       $qCols
         |FROM cum GROUP BY 1""".stripMargin
    },

    "q_tfidf_terms" ->
      s"""$ToksCte, postings AS (
         |  SELECT doc_id, lang, term, CAST(COUNT(*) AS BIGINT) AS tf_doc
         |  FROM (SELECT doc_id, lang, unnest(t) AS term FROM toks)
         |  GROUP BY 1, 2, 3
         |), tf AS (
         |  SELECT lang, term, CAST(SUM(tf_doc) AS BIGINT) AS tf
         |  FROM postings GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY 1
         |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents),
         |scored AS (
         |  SELECT lang, term, tf, df,
         |         CAST(tf AS DOUBLE) * n_corpus / df AS score
         |  FROM tf JOIN dfreq USING (term), nn
         |)
         |SELECT lang, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY score DESC, term ASC) AS rank FROM scored
         |) WHERE rank <= ${TextOps.TfidfK}""".stripMargin,

    "q_weighted_sample" ->
      s"""SELECT doc_id, source, n_chars, priority, CAST(rank AS INT) AS rank
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
         |    ORDER BY priority ASC, doc_id ASC) AS rank
         |  FROM (
         |    SELECT doc_id, source, n_chars,
         |           CAST(CAST('0x' || substr(md5('wsample:' || doc_id::VARCHAR),
         |             1, 8) AS BIGINT) AS DOUBLE) / n_chars AS priority
         |    FROM documents
         |  )
         |) WHERE rank <= ${graft.operators.Sampling.WeightedK}""".stripMargin,

    "q_chunk" -> {
      val overlap = TextOps.ChunkSize - TextOps.ChunkStride
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |         CAST((greatest(len(text) - $overlap, 1) + ${TextOps.ChunkStride - 1})
         |           // ${TextOps.ChunkStride} AS BIGINT) AS n_chunks
         |  FROM documents
         |)
         |SELECT doc_id, n_chunks, CAST(i AS INT) AS chunk_idx,
         |       substr(text, CAST(i AS INT) * ${TextOps.ChunkStride} + 1,
         |         ${TextOps.ChunkSize}) AS chunk_text,
         |       len(substr(text, CAST(i AS INT) * ${TextOps.ChunkStride} + 1,
         |         ${TextOps.ChunkSize})) AS n_chunk_chars
         |FROM base, unnest(range(n_chunks)) AS u(i)""".stripMargin
    },

    "q_domain_mix" ->
      s"""$ToksCte, per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len(t)) AS BIGINT) AS total_tokens
         |  FROM toks GROUP BY 1
         |), w AS (
         |  SELECT *, CAST(SUM(total_tokens) OVER () AS BIGINT) AS corpus_tokens,
         |         CAST(COUNT(*) OVER () AS BIGINT) AS n_sources
         |  FROM per
         |)
         |SELECT source, n_docs, total_tokens, corpus_tokens, n_sources,
         |       CAST(total_tokens AS DOUBLE) / corpus_tokens AS token_share,
         |       (CAST(corpus_tokens AS DOUBLE) / n_sources) / total_tokens
         |         AS uniform_multiplier
         |FROM w""".stripMargin,

    // α = 0.5 by design: share^0.5 is sqrt — IEEE-correctly-rounded on
    // both engines — where a general pow would be engine-local. Only the
    // normalizer z is order-sensitive; round(·, 9) absorbs it, and every
    // later term is quotients/products of identical operands.
    "q_temperature_mix" ->
      s"""$ToksCte, per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len(t)) AS BIGINT) AS total_tokens
         |  FROM toks GROUP BY 1
         |), w AS (
         |  SELECT *, CAST(SUM(total_tokens) OVER () AS BIGINT) AS corpus_tokens
         |  FROM per
         |), s AS (
         |  SELECT *, CAST(total_tokens AS DOUBLE) / corpus_tokens AS token_share,
         |         sqrt(CAST(total_tokens AS DOUBLE) / corpus_tokens) AS share_pow
         |  FROM w
         |), zz AS (
         |  SELECT *, round(SUM(share_pow) OVER (), 9) AS z FROM s
         |)
         |SELECT source, n_docs, total_tokens, corpus_tokens, token_share,
         |       share_pow / z AS temp_share,
         |       share_pow / z * CAST(corpus_tokens AS DOUBLE) / total_tokens
         |         AS temp_multiplier
         |FROM zz""".stripMargin,

    // Inline and served forms share the twin verbatim (r17): the
    // served row reads the staged kNN table, which parquet round-trips
    // bit-exactly from the inline chain's output.
    "q_knn_join" -> knnJoinSql,
    "q_knn_join_served" -> knnJoinSql,

    "q_quantize" ->
      s"""$EmbCte, ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS dim, v[i] AS x
         |  FROM n, unnest(range(1, ${Similarity.Dim + 1})) AS t(i)
         |), params AS (
         |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY 1
         |)
         |SELECT vec_id, ex.dim, x,
         |       CASE WHEN mx > mn
         |            THEN CAST(floor((x - mn) * CAST(${Similarity.QuantLevels - 1}
         |              AS DOUBLE) / (mx - mn)) AS INT)
         |            ELSE 0 END AS code
         |FROM ex JOIN params ON ex.dim = params.dim""".stripMargin,

    "q_dq_report" -> {
      val langs = graft.operators.TextOps.StopWords.map(_._1)
        .map(l => s"'$l'").mkString("(", ", ", ")")
      s"""WITH checks AS (
         |  SELECT 'text_present' AS rule,
         |         coalesce(text IS NOT NULL AND len(text) > 0, false) AS ok
         |  FROM documents
         |  UNION ALL
         |  SELECT 'lang_known', coalesce(lang IN $langs, false) FROM documents
         |  UNION ALL
         |  SELECT 'n_chars_consistent', coalesce(n_chars = len(text), false)
         |  FROM documents
         |  UNION ALL
         |  SELECT 'source_wellformed',
         |         coalesce(regexp_matches(source, '^src[0-9]+$$'), false)
         |  FROM documents
         |)
         |SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |       CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_fail
         |FROM checks GROUP BY 1""".stripMargin
    },

    // Twin of Curation.driftReport: same fixed integer buckets, same
    // exact-long |ca·nb − cb·na| inner sums, same single final IEEE
    // division (2.0 · na · nb, left-associated in both engines).
    "q_drift_report" -> driftOracleOver(
      """  SELECT doc_id % 2 = 0 AS in_a, n_chars,
        |         len(regexp_extract_all(lower(text), '\S+')) AS n_tokens
        |  FROM documents""".stripMargin),

    // Cross-VERSION drift: side A = the v=1 slice (even doc_ids, the
    // staged publish), side B = the full v=2 corpus — the same tail.
    "q_drift_versions" -> driftOracleOver(
      """  SELECT TRUE AS in_a, n_chars,
        |         len(regexp_extract_all(lower(text), '\S+')) AS n_tokens
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT FALSE AS in_a, n_chars,
        |         len(regexp_extract_all(lower(text), '\S+')) AS n_tokens
        |  FROM documents""".stripMargin),


    "q_lm_score" ->
      s"""$ToksCte, occ AS (
         |  SELECT doc_id, unnest(t) AS tok FROM toks
         |), ann AS (
         |  SELECT doc_id, COUNT(*) OVER (PARTITION BY tok) AS tf_corpus
         |  FROM occ
         |), per_doc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |         SUM(CAST(tf_corpus AS DOUBLE)) AS lm_mass
         |  FROM ann GROUP BY 1
         |), base AS (
         |  SELECT d.doc_id, d.lang,
         |         coalesce(n_tokens, 0) AS n_tokens,
         |         coalesce(lm_mass, CAST(0.0 AS DOUBLE)) AS lm_mass
         |  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         |), tot AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
         |  FROM base
         |)
         |SELECT doc_id, lang, n_tokens, lm_mass, total_tokens,
         |       CASE WHEN n_tokens > 0
         |            THEN CAST(lm_mass AS DOUBLE) / n_tokens / total_tokens
         |            ELSE CAST(0.0 AS DOUBLE) END AS mean_token_prob
         |FROM tot""".stripMargin,

    // Twin of TextOps.fuzzyVocabPairs — deliberately BRUTE FORCE
    // all-pairs over the vocab: matching it proves the deletion-
    // neighborhood blocking found every pair (the SymSpell
    // completeness theorem, validated not assumed). levenshtein is
    // built-in classic Wagner-Fischer in both engines.
    "q_fuzzy_vocab" ->
      s"""$ToksCte, v AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
         |)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |       CAST(levenshtein(a.tok, b.tok) AS INT) AS lev,
         |       a.n AS n_a, b.n AS n_b
         |FROM v a, v b
         |WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2""".stripMargin,

    // Twin of Retrieval.bm25TopK: every constant is CAST(... AS DOUBLE)
    // (bare DuckDB decimal literals would pull the arithmetic into
    // DECIMAL, off the IEEE path Spark computes on); the per-(doc,term)
    // contribution is micro-unit fixed-point rounded BEFORE the per-doc
    // sum so the aggregate is an order-insensitive exact-long sum.
    "q_bm25" -> bm25Sql,

    // Twin of Retrieval.phraseSearch: the same slot-vote alignment —
    // term i at position p votes for start p − i; a start collecting
    // every slot is a phrase match. The served row shares it verbatim:
    // build/serve identity is driver-hash-verified.
    "q_phrase_search" -> phraseOracle,
    "q_phrase_search_served" -> phraseOracle,
    // The served path answers the IDENTICAL query from the persisted
    // term-partitioned index — one shared twin proves build/serve
    // hash-identity (the q_ann_ivf / q_ann_ivf_served pattern).
    "q_bm25_served" -> bm25Sql,
    // Takedown + compaction rows (r13): BOTH must equal a from-scratch
    // BM25 over the corpus minus the taken-down docs — the takedown
    // row through deletion vectors + the negative stats partial, the
    // compacted row after the physical fold AND ledgered replays of a
    // folded ingest batch and the folded takedown.
    "q_bm25_takedown" -> bm25SqlOver("WHERE doc_id % 5 <> 2"),
    "q_bm25_compacted" -> bm25SqlOver("WHERE doc_id % 5 <> 2"),
    "q_bm25_takedown_stream" -> bm25SqlOver("WHERE doc_id % 5 <> 2"),
    "q_takedown_corpus" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents WHERE doc_id % 5 <> 2""".stripMargin,

    // Erasure certificate (r14): every artifact leg recomputed from
    // the FILTERED raw tables — live row counts must match what the
    // takedown-aware serve paths return, and every n_dead is 0. The
    // pairs leg reuses the minhash CTEs (pair existence depends only
    // on the two docs' signatures, so pairs(full) ∩ live×live =
    // pairs(purged)); the packs leg counts packed doc slots, which on
    // a correct stitched repack equals the purged doc count; the
    // content leg (r15) counts live docstore rows — one per live doc.
    "q_erasure_certificate" ->
      s"""$ToksCte, $minhashCtes, live AS (
         |  SELECT doc_id, t FROM toks WHERE doc_id % 5 <> 2
         |), occ AS (
         |  SELECT DISTINCT doc_id, unnest(t) AS tok FROM live
         |)
         |SELECT 'corpus' AS artifact, CAST(COUNT(*) AS BIGINT) AS n_live,
         |       CAST(0 AS BIGINT) AS n_dead FROM live
         |UNION ALL
         |SELECT 'lex', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT) FROM occ
         |UNION ALL
         |SELECT 'pos', CAST(COALESCE(SUM(len(t)), 0) AS BIGINT),
         |       CAST(0 AS BIGINT) FROM live
         |UNION ALL
         |SELECT 'ivf', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
         |FROM embeddings
         |WHERE vec_id NOT IN (SELECT doc_id FROM documents
         |                     WHERE doc_id % 5 = 2)
         |UNION ALL
         |SELECT 'pairs', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
         |FROM pairs WHERE doc_a % 5 <> 2 AND doc_b % 5 <> 2
         |UNION ALL
         |SELECT 'content', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
         |FROM live
         |UNION ALL
         |SELECT 'packs', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT)
         |FROM live""".stripMargin,

    // Content-addressed takedown (r14): token-boundary containment of
    // the probe passage (tokens 2..6 of the probe doc) over the LIVE
    // corpus, padded-contains on the space-joined token stream (≡
    // normText), plus near-dup expansion through the pair CTEs with
    // both sides live — exactly the two tiers the Spark resolver runs.
    // The SERVED row (r15) shares the twin verbatim: answering from
    // the standing content index is hash-identical to the inline
    // resolver over the same live corpus — the build/serve identity
    // statement, same as q_bm25/q_bm25_served.
    "q_takedown_by_content" -> takedownByContentSql,
    "q_takedown_by_content_served" -> takedownByContentSql,

    // Twin of Retrieval.hybridRrf: both arms cut to their top-CandidateK
    // lists, rank within the compact lists, FULL OUTER fuse on
    // doc_id ≡ vec_id, rrf = Σ CAST(1.0 AS DOUBLE)/(60+rank) over
    // present arms (absent rank crosses as 0). The SERVED row shares
    // it verbatim (r12): answering from the persisted lex + IVF
    // indexes is hash-identical to the inline twin — the build/serve
    // identity statement, same as q_bm25/q_bm25_served.
    "q_hybrid_rrf" -> hybridRrfSql,
    "q_hybrid_rrf_served" -> hybridRrfSql,

    "q_corpus_rollup" ->
      s"""$ToksCte
         |SELECT lang, source,
         |       CAST(GROUPING(lang) AS INT) AS g_lang,
         |       CAST(GROUPING(source) AS INT) AS g_source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM toks
         |GROUP BY ROLLUP (lang, source)""".stripMargin,

    "q_event_cumulative" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |       strftime(make_timestamp(ts_us), '%Y-%m-%d %H:%M:%S') AS ts,
        |       event_type,
        |       CAST(ROW_NUMBER() OVER w AS INT) AS n_so_far,
        |       ROUND(SUM(value) OVER (PARTITION BY user_id
        |         ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING), 6)
        |         AS cum_value
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,

    "q_customer_coverage" ->
      """SELECT n_name AS nation,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_with_orders,
        |       CAST(SUM(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_without_orders
        |FROM (
        |  SELECT c.c_custkey, c.c_nationkey,
        |         o.o_custkey IS NOT NULL AS has_o
        |  FROM customer c
        |  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |    ON c.c_custkey = o.o_custkey
        |) x JOIN nation ON x.c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q_cms_heavy_hitters" -> {
      val seeds = (0 until TextOps.CmsDepth)
        .map(s => s"($s)").mkString("(VALUES ", ", ", ") s(seed)")
      val bucket =
        s"CAST('0x' || substr(md5('cms' || seed || ':' || tok), 1, 8) " +
          s"AS BIGINT) % ${TextOps.CmsWidth}"
      s"""$ToksCte, tk AS (
         |  SELECT unnest(t) AS tok FROM toks
         |), bkt AS (
         |  SELECT tok, seed, $bucket AS bucket FROM tk, $seeds
         |), counters AS (
         |  SELECT seed, bucket, COUNT(*) AS cnt FROM bkt GROUP BY 1, 2
         |), items AS (
         |  SELECT tok, COUNT(*) AS n_exact FROM tk GROUP BY tok
         |), ib AS (
         |  SELECT i.tok AS tok, i.n_exact AS n_exact, seed,
         |         $bucket AS bucket
         |  FROM items i, $seeds
         |), est AS (
         |  SELECT ib.tok AS tok, ib.n_exact AS n_exact,
         |         MIN(c.cnt) AS est
         |  FROM ib JOIN counters c
         |    ON ib.seed = c.seed AND ib.bucket = c.bucket
         |  GROUP BY 1, 2
         |)
         |SELECT tok, CAST(est AS BIGINT) AS est,
         |       CAST(n_exact AS BIGINT) AS n_exact,
         |       CAST(est >= n_exact AS INT) AS never_under
         |FROM est
         |ORDER BY est DESC, tok ASC
         |LIMIT 20""".stripMargin
    },

    "q_tpch_q1" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |         CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |         CAST(round(l_tax * 100) AS BIGINT) AS tc
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
        |)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |       CAST(SUM(pc) AS DOUBLE) / 100 AS sum_base_price,
        |       CAST(SUM(pc * (100 - dc)) AS DOUBLE) / 10000
        |         AS sum_disc_price,
        |       CAST(SUM(pc * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000
        |         AS sum_charge,
        |       CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       CAST(SUM(pc) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
        |       CAST(SUM(dc) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM c
        |GROUP BY 1, 2""".stripMargin,

    "q_tpch_q3" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |)
        |SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(rev4) AS DOUBLE) / 10000 AS revenue
        |FROM li
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT))
        |       AS DOUBLE) / 10000 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.045 AND l_discount <= 0.075
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 300
        |)
        |SELECT c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority,
        |       COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name AS nation,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) / 10000 AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    // Twin of Joins.bloomJoinRevenue — deliberately the PLAIN join: the
    // bloom prune is a semi-reduction that cannot change the result
    // (false positives are dropped by the exact join), so the oracle
    // proves fpp-independence rather than mirroring the sketch.
    "q_bloom_join" ->
      """SELECT o_orderpriority,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) / 10000 AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    // Twin of Relational.tpchQ7: same pair-of-nations disjunction, same
    // exact ×10⁴ cents discipline, one IEEE division per group.
    "q_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) / 10000 AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,

    // Twin of Relational.tpchQ8: share = ratio of two exact cents sums
    // over the identical joined frame — one IEEE division per year.
    "q_tpch_q8" ->
      """WITH share_key AS (
        |  SELECT n_nationkey AS k FROM nation WHERE n_name = 'NATION_3'
        |)
        |SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |       CAST(SUM(CASE WHEN s_nationkey = (SELECT k FROM share_key)
        |             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |                  * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |             ELSE 0 END) AS DOUBLE)
        |         / CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |           AS DOUBLE) AS mkt_share,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_type = 'STANDARD')
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    JOIN nation ON c_nationkey = n_nationkey
        |                    JOIN region ON n_regionkey = r_regionkey
        |                    WHERE r_name = 'ASIA')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    // Twin of Relational.tpchQ10: deterministic top-20 cut on
    // (revenue DESC, c_custkey ASC).
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) / 10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    // Twin of Relational.tpchQ14: 100·promo/total on identical exact
    // operands — the ×100 is exact, the division is the only IEEE op.
    "q_tpch_q14" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |              * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         ELSE 0 END) AS DOUBLE)
        |       / CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) AS promo_revenue_pct,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    // Twin of Relational.tpchQ15: max-equality on the exact ×10⁴ LONG.
    "q_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |           AS rev4_total
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name,
        |       CAST(rev4_total AS DOUBLE) / 10000 AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE rev4_total = (SELECT MAX(rev4_total) FROM revenue)""".stripMargin,

    // Twin of Relational.tpchQ17: the correlated 0.2·avg threshold in
    // cross-multiplied all-integer form (5·qty·n < Σqty).
    "q_tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_brand = 'Brand#23')
        |), stats AS (
        |  SELECT l_partkey AS s_partkey, SUM(qty) AS sum_qty,
        |         COUNT(*) AS n_lines
        |  FROM li GROUP BY 1
        |)
        |SELECT CAST(SUM(price_c) AS DOUBLE) / 100 / 7.0 AS avg_yearly,
        |       COUNT(*) AS n_items
        |FROM li JOIN stats ON l_partkey = s_partkey
        |WHERE qty * 5 * n_lines < sum_qty""".stripMargin,

    // Twin of Relational.tpchQ22: rich = bal_c·n > Σbal_c over positive
    // balances (all-integer cents), dormant = NOT IN the recent-buyer
    // set (no order since 2000-01-01 — the fixture has no never-buyers).
    "q_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer
        |), avg_pos AS (
        |  SELECT SUM(bal_c) AS sum_bal, COUNT(*) AS n_pos
        |  FROM c WHERE bal_c > 0
        |)
        |SELECT n_name AS nation, COUNT(*) AS numcust,
        |       CAST(SUM(bal_c) AS DOUBLE) / 100 AS totacctbal
        |FROM c CROSS JOIN avg_pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_c * n_pos > sum_bal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    // Twin of Scd.scd2: identical change-suppression + validity windows
    // (ties broken by the unique event_id in both engines). The
    // STREAM-maintained row (r12) shares it verbatim: the dimension
    // maintained by checkpointed scd2Apply micro-batches through the
    // versioned publish must equal the from-scratch build exactly.
    "q_scd2" -> scd2Sql,

    // Delete-carrying SCD2 (r13): the same change-stream build with
    // event_id % 11 == 3 mapped to a sentinel status, sentinel
    // versions dropped post-lead (they still CLOSE their
    // predecessors), survivors densely renumbered.
    "q_scd2_cdc" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_id % 11 = 3 THEN ' __deleted__'
        |              ELSE event_type END AS status,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), changes AS (
        |  SELECT user_id, event_id, status, ts_us
        |  FROM (SELECT *, LAG(status, 1) OVER w AS prev_status
        |        FROM ev WINDOW w AS (PARTITION BY user_id
        |                             ORDER BY ts_us, event_id))
        |  WHERE prev_status IS NULL OR prev_status <> status
        |), vers AS (
        |  SELECT user_id, event_id, status, ts_us AS valid_from_us,
        |         LEAD(ts_us, 1) OVER w AS valid_to_us
        |  FROM changes WINDOW w AS (PARTITION BY user_id
        |                            ORDER BY ts_us, event_id)
        |)
        |SELECT user_id, CAST(ROW_NUMBER() OVER w2 AS INT) AS version_no,
        |       status, valid_from_us, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM vers WHERE status <> ' __deleted__'
        |WINDOW w2 AS (PARTITION BY user_id
        |              ORDER BY valid_from_us, event_id)""".stripMargin,
    // stream-maintained twin: same delete-carrying build.
    "q_scd2_cdc_stream" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |         CASE WHEN event_id % 11 = 3 THEN ' __deleted__'
        |              ELSE event_type END AS status,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), changes AS (
        |  SELECT user_id, event_id, status, ts_us
        |  FROM (SELECT *, LAG(status, 1) OVER w AS prev_status
        |        FROM ev WINDOW w AS (PARTITION BY user_id
        |                             ORDER BY ts_us, event_id))
        |  WHERE prev_status IS NULL OR prev_status <> status
        |), vers AS (
        |  SELECT user_id, event_id, status, ts_us AS valid_from_us,
        |         LEAD(ts_us, 1) OVER w AS valid_to_us
        |  FROM changes WINDOW w AS (PARTITION BY user_id
        |                            ORDER BY ts_us, event_id)
        |)
        |SELECT user_id, CAST(ROW_NUMBER() OVER w2 AS INT) AS version_no,
        |       status, valid_from_us, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM vers WHERE status <> ' __deleted__'
        |WINDOW w2 AS (PARTITION BY user_id
        |              ORDER BY valid_from_us, event_id)""".stripMargin,
    "q_scd2_stream" -> scd2Sql,

    // Twin of Scd.factAsOfDim: dim rebuilt by the q_scd2 SQL, then the
    // same equi-join + validity band + audit aggregates.
    "q_scd2_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type AS status,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), changes AS (
        |  SELECT user_id, event_id, status, ts_us
        |  FROM (SELECT *, LAG(status, 1) OVER w AS prev_status
        |        FROM ev WINDOW w AS (PARTITION BY user_id
        |                             ORDER BY ts_us, event_id))
        |  WHERE prev_status IS NULL OR prev_status <> status
        |), dim AS (
        |  SELECT user_id, status, ts_us AS valid_from_us,
        |         LEAD(ts_us, 1) OVER w AS valid_to_us,
        |         CAST(ROW_NUMBER() OVER w AS INT) AS version_no
        |  FROM changes WINDOW w AS (PARTITION BY user_id
        |                            ORDER BY ts_us, event_id)
        |)
        |SELECT d.user_id,
        |       COUNT(*) AS n_joined,
        |       CAST(COUNT(DISTINCT d.version_no) AS BIGINT)
        |         AS n_versions_hit,
        |       MAX(d.version_no) AS max_version,
        |       CAST(SUM(CASE WHEN f.status <> d.status THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_status_mismatch
        |FROM ev f
        |JOIN dim d ON f.user_id = d.user_id
        |  AND d.valid_from_us <= f.ts_us
        |  AND (d.valid_to_us IS NULL OR d.valid_to_us > f.ts_us)
        |GROUP BY 1""".stripMargin,

    // Twin of Layout.zorderFrame: identical normalize-then-interleave in
    // DuckDB lambdas — `//` integer division matches Spark's proven-exact
    // floor division; shifts/masks are plain bigint ops.
    "q_zorder" ->
      """WITH b AS (
        |  SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
        |         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
        |  FROM lineitem
        |), n AS (
        |  SELECT l_orderkey, l_linenumber,
        |         ((l_partkey - pmin) * 65535)
        |           // GREATEST(1, pmax - pmin) AS x16,
        |         ((l_suppkey - smin) * 65535)
        |           // GREATEST(1, smax - smin) AS y16
        |  FROM lineitem CROSS JOIN b
        |)
        |SELECT l_orderkey, l_linenumber,
        |       CAST(list_sum(list_transform(range(0, 16), i ->
        |         (x16 & (1::BIGINT << i)) * (1::BIGINT << i) +
        |         (y16 & (1::BIGINT << i)) * (2::BIGINT << i)))
        |         AS BIGINT) AS zval
        |FROM n""".stripMargin,

    // Twin of Sketches.audienceOverlap: exact counts recomputed in SQL;
    // the sketch estimates can't cross engines (DuckDB's HLL is a
    // different implementation), so they surface as tolerance verdicts
    // the oracle asserts are 1 — same contract as q_approx_distinct.
    "q_sketch_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, COUNT(*) AS n_users FROM tu GROUP BY 1),
        |inter AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |         COUNT(*) AS n_inter_exact
        |  FROM tu x JOIN tu y ON x.user_id = y.user_id
        |   AND x.event_type < y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       a.n_users AS n_users_a, b.n_users AS n_users_b,
        |       COALESCE(i.n_inter_exact, 0) AS n_inter_exact,
        |       1 AS union_ok, 1 AS inter_ok
        |FROM n a
        |JOIN n b ON a.event_type < b.event_type
        |LEFT JOIN inter i ON i.type_a = a.event_type
        |  AND i.type_b = b.event_type""".stripMargin,

    // Twin of Tpch.tpchQ2: the correlated MIN decorrelated identically —
    // pair mins and the per-part min both on exact cents LONGs; the
    // 100-cut over the total (s_acctbal desc, n_name, s_name, p_partkey)
    // order is deterministic in both engines.
    "q_tpch_q2" ->
      """WITH rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |), pairs AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_size <= 25 AND p_type = 'STANDARD')
        |    AND l_suppkey IN (SELECT s_suppkey FROM rs)
        |  GROUP BY 1, 2
        |), mn AS (
        |  SELECT l_partkey AS m_partkey, MIN(cost_c) AS min_cost_c
        |  FROM pairs GROUP BY 1
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       CAST(cost_c AS DOUBLE) / 100 AS supply_cost
        |FROM pairs
        |JOIN mn ON l_partkey = m_partkey AND cost_c = min_cost_c
        |JOIN rs ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 100""".stripMargin,

    // Twin of Tpch.tpchQ9: profit4 = rev4 − retail_c·qty·100, exact
    // ×10⁴ longs, one trailing division.
    "q_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       CAST(SUM(
        |         CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         - CAST(round(p_retailprice * 100) AS BIGINT)
        |           * CAST(l_quantity AS BIGINT) * 100
        |       ) AS DOUBLE) / 10000 AS sum_profit,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,

    // Twin of Tpch.tpchQ11: scale-free threshold (> 2× the average part
    // value) in cross-multiplied all-integer form (value_c·n > 2·total_c).
    "q_tpch_q11" ->
      """WITH vals AS (
        |  SELECT l_partkey AS p_partkey,
        |         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * CAST(l_quantity AS BIGINT)) AS value_c
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY 1
        |), total AS (
        |  SELECT SUM(value_c) AS total_c, COUNT(*) AS n_parts FROM vals
        |)
        |SELECT p_partkey, CAST(value_c AS DOUBLE) / 100 AS value
        |FROM vals CROSS JOIN total
        |WHERE value_c * n_parts > total_c * 2""".stripMargin,

    // Twin of Tpch.tpchQ12 (l_linestatus ≙ shipmode, returnflag='R' ≙
    // late — Q4's ratified mapping).
    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    // Twin of Tpch.tpchQ16: supply pairs derived from lineitem;
    // blacklist = negative-balance suppliers (NOT IN ≙ anti join).
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    // Twin of Tpch.tpchQ19: identical OR-of-ANDs disjunction (the
    // relaxed pushdown bounds are implied, so listing only the
    // disjunction is equivalent).
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS DOUBLE) / 10000 AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // Twin of Tpch.tpchQ20: the 2·qty97 > total threshold all-integer.
    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small%')
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING 2 * SUM(CASE WHEN year(l_shipdate) = 1997
        |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |           > SUM(CAST(l_quantity AS BIGINT)))""".stripMargin,

    // Twin of Tpch.tpchQ21: the exists/not-exists pair decorrelated into
    // the same per-order (n_supps, n_late_supps) aggregate.
    "q_tpch_q21" ->
      """WITH f AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |), per_order AS (
        |  SELECT l_orderkey AS a_orderkey
        |  FROM lineitem JOIN f ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |  HAVING COUNT(DISTINCT l_suppkey) > 1
        |     AND COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
        |           THEN l_suppkey END) = 1
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem
        |JOIN per_order ON l_orderkey = a_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE l_returnflag = 'R' AND r_name = 'EUROPE'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 100""".stripMargin,

    "q_bpe_merges" ->
      s"""WITH pieces AS (
         |  SELECT regexp_extract_all(lower(text),
         |           '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS p
         |  FROM documents
         |), pairs AS (
         |  SELECT unnest(CASE WHEN len(p) >= 2
         |           THEN list_transform(range(1, len(p)),
         |                  i -> p[i] || chr(9) || p[i+1])
         |           ELSE [] END) AS pair
         |  FROM pieces
         |), counted AS (
         |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |  FROM pairs GROUP BY 1
         |)
         |SELECT pair, n_occurrences, CAST(rank AS INT) AS rank FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    ORDER BY n_occurrences DESC, pair ASC) AS rank FROM counted
         |) WHERE rank <= ${TextOps.BpeTopK}""".stripMargin,

    // Twin of TextOps.bpeEncode: the same mined top-k merge table
    // (rank = (count DESC, pair ASC) row numbers), then the SAME encode
    // loop as a recursive CTE — each step applies the min-rank pair
    // contained in the state via replace(), whose single-pass
    // left-to-right replace-all semantics match Java String.replace
    // exactly; terminal states are the rows where no merge applies.
    // encoded_md5 pins the full encoding byte-for-byte.
    "q_bpe_encode" -> bpeEncodeOracle,
    // Forced-small segments at fixture scale (maxPieces=64), same
    // twin: chunk-first must be invisible in the result.
    "q_bpe_encode_chunked" -> bpeEncodeOracle,

    // Losslessness twin: the piece-concat md5 computed directly from
    // text — deliberately NOT the recursive encode CTE, because the
    // invariant (decode ∘ encode = piece stream) holds for EVERY merge
    // set; the Spark side still runs the full mine→encode→decode chain,
    // so a content-eating merge loop cannot pass.
    "q_bpe_roundtrip" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(lower(text),
         |         '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_pieces,
         |       md5(array_to_string(regexp_extract_all(lower(text),
         |         '[a-z]+|[0-9]+|[^a-z0-9\\s]'), '')) AS decoded_md5
         |FROM documents""".stripMargin,

    // Token-id twin: replay the encode to per-doc enc_text, rank the
    // top-V vocab (count DESC, token ASC), left-join ids over the
    // zip-unnested token/position stream (UNK = V for misses), and
    // string_agg the ids in position order under the md5.
    "q_bpe_ids" ->
      s"""$bpeIdsCtes
         |SELECT e.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_unk,
         |       md5(string_agg(coalesce(v.id, ${TextOps.BpeVocabSize})::VARCHAR,
         |         ' ' ORDER BY e.pos)) AS ids_md5
         |FROM etoks e LEFT JOIN vocab v USING (tok)
         |GROUP BY e.doc_id""".stripMargin,

    // Packed-sequence twin: the q_seq_pack layout (lang strata, doc_id
    // order, start-offset spillover) applied to the ENCODE's token
    // counts, with each pack's concatenated id stream (UNK = V) hashed
    // in (doc_id, pos) order — membership, values, and order one md5.
    "q_pack_ids" ->
      s"""$bpeIdsCtes, doc AS (
         |  SELECT p.doc_id, d.lang,
         |         CAST(CASE WHEN f.enc_text IS NULL OR f.enc_text = '' THEN 0
         |              ELSE len(string_split(f.enc_text, ' ')) END AS BIGINT)
         |           AS n_tokens
         |  FROM pieces p
         |  LEFT JOIN fin f ON p.doc_id = f.doc_id
         |  JOIN documents d ON p.doc_id = d.doc_id
         |), dg AS (
         |  SELECT doc_id, lang, n_tokens,
         |         (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
         |           // ${graft.operators.Sampling.PackBudget} AS pack_id
         |  FROM doc
         |), pid AS (
         |  SELECT e.doc_id, e.pos,
         |         coalesce(v.id, ${TextOps.BpeVocabSize})::VARCHAR AS id
         |  FROM etoks e LEFT JOIN vocab v USING (tok)
         |), agg AS (
         |  SELECT g.lang, g.pack_id,
         |         md5(string_agg(i.id, ' ' ORDER BY i.doc_id, i.pos)) AS ids_md5
         |  FROM pid i JOIN dg g ON i.doc_id = g.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT g.lang, g.pack_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(g.n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(g.doc_id) AS first_doc, MAX(g.doc_id) AS last_doc,
         |       coalesce(MIN(a.ids_md5), md5('')) AS ids_md5
         |FROM dg g LEFT JOIN agg a
         |  ON g.lang = a.lang AND g.pack_id = a.pack_id
         |GROUP BY g.lang, g.pack_id""".stripMargin,

    // Served (from the staged pair table) and inline (recomputing the
    // minhash→LSH→verify chain in-query) forms SHARE one twin — the
    // build/serve identity proof for the minhash tier on the oracle
    // surface, mirroring q_ann_ivf / q_ann_ivf_served (VERDICT r6 #4).
    "q_source_overlap" -> sourceOverlapSql,
    "q_source_overlap_inline" -> sourceOverlapSql,
    "q_source_authority" -> sourceAuthorityOracle,

    // One-row dataset card: size/diversity aggregates straight off
    // documents, exact-dup docs by the normalized md5 fingerprint, and
    // the verified near-dup pair count replayed through the minhash
    // chain (the `verified` CTE the overlap family already pins).
    "q_dataset_card" ->
      s"""$sourceOverlapCtes, base AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |         CAST(SUM(len(regexp_extract_all(lower(text), '\\S+')))
         |              AS BIGINT) AS total_tokens,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_en,
         |         MIN(n_chars) AS min_chars,
         |         MAX(n_chars) AS max_chars
         |  FROM documents
         |), dup AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0)
         |              AS BIGINT) AS exact_dup_docs
         |  FROM (SELECT COUNT(*) AS cnt FROM documents
         |        GROUP BY md5(regexp_replace(trim(lower(text)),
         |                                    '\\s+', ' ', 'g')))
         |), np AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS near_dup_pairs FROM verified
         |)
         |SELECT * FROM base, dup, np""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events
        |), w1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
        |    OVER (PARTITION BY user_id) AS t_view FROM ev
        |), w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > t_view
        |    THEN ts_us END) OVER (PARTITION BY user_id) AS t_click FROM w1
        |), w3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > t_click
        |    THEN ts_us END) OVER (PARTITION BY user_id) AS t_purchase FROM w2
        |), per_user AS (
        |  SELECT user_id, MAX(t_view) AS tv, MAX(t_click) AS tc,
        |         MAX(t_purchase) AS tp
        |  FROM w3 GROUP BY 1
        |), agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_view,
        |         CAST(SUM(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_click_after_view,
        |         CAST(SUM(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_purchase_after_click
        |  FROM per_user
        |)
        |SELECT *,
        |       CASE WHEN n_view > 0
        |            THEN CAST(n_click_after_view AS DOUBLE) / n_view
        |            ELSE CAST(0.0 AS DOUBLE) END AS view_to_click,
        |       CASE WHEN n_click_after_view > 0
        |            THEN CAST(n_purchase_after_click AS DOUBLE)
        |              / n_click_after_view
        |            ELSE CAST(0.0 AS DOUBLE) END AS click_to_purchase
        |FROM agg""".stripMargin,

    "q_simhash64" ->
      s"""$ToksCte, votes AS (
         |  SELECT doc_id,
         |         ${simhash64VotesSql}
         |  FROM toks WHERE len(t) > 0
         |)
         |SELECT doc_id,
         |       ${(0 until 4).map(j => s"${simhash64QuarterSql(j)} AS q$j")
                   .mkString(",\n       ")}
         |FROM votes""".stripMargin,

    // Shared verbatim with q_simhash64_auto (the ScaleEnvelope
    // dispatcher): both banding forms are radius-3 complete, so the
    // pair set — and therefore the twin — is form-independent.
    "q_simhash64_auto" -> simhash64NeighborsOracle,
    "q_simhash64_neighbors" -> simhash64NeighborsOracle,
    // The served row reads the standing pair table the auto-dispatched
    // build wrote — same pair set (radius-3 completeness of both
    // constructions), parquet-exact round-trip, one twin verbatim.
    "q_simhash64_neighbors_served" -> simhash64NeighborsOracle,
    "q_simhash64_wide" ->
      s"""$ToksCte, votes AS (
         |  SELECT doc_id,
         |         ${simhash64VotesSql}
         |  FROM toks WHERE len(t) > 0
         |), sigs AS (
         |  SELECT doc_id,
         |         ${(0 until 4).map(j => s"${simhash64QuarterSql(j)} AS q$j")
                     .mkString(",\n         ")}
         |  FROM votes
         |), banded AS (
         |  SELECT doc_id, q0, q1, q2, q3, i AS band_idx,
         |         [${Dedup.WideTables.map(wideKeySql).mkString(",\n          ")}
         |         ][i + 1] AS band_val
         |  FROM sigs, unnest(range(0, ${Dedup.WideTables.size})) AS t(i)
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(CAST(xor(a.q0, b.q0) AS BIGINT))
         |          + bit_count(CAST(xor(a.q1, b.q1) AS BIGINT))
         |          + bit_count(CAST(xor(a.q2, b.q2) AS BIGINT))
         |          + bit_count(CAST(xor(a.q3, b.q3) AS BIGINT)) AS INT)
         |         AS hamming
         |FROM banded a JOIN banded b USING (band_idx, band_val)
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(CAST(xor(a.q0, b.q0) AS BIGINT))
         |    + bit_count(CAST(xor(a.q1, b.q1) AS BIGINT))
         |    + bit_count(CAST(xor(a.q2, b.q2) AS BIGINT))
         |    + bit_count(CAST(xor(a.q3, b.q3) AS BIGINT)) <= 3""".stripMargin,

    "q_vocab" ->
      s"""$ToksCte, postings AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf_doc
         |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
         |  GROUP BY 1, 2
         |), vocab AS (
         |  SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf,
         |         CAST(COUNT(*) AS BIGINT) AS df
         |  FROM postings GROUP BY 1
         |), tot AS (
         |  SELECT CAST(SUM(tf) AS BIGINT) AS total_occurrences FROM vocab
         |)
         |SELECT term, tf, df, total_occurrences,
         |       CAST(tf AS DOUBLE) / total_occurrences AS tf_share
         |FROM vocab, tot""".stripMargin,

    "q_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_bucket
        |  FROM events
        |), first_seen AS (
        |  SELECT user_id, MIN(hour_bucket) AS cohort_bucket
        |  FROM activity GROUP BY 1
        |)
        |SELECT strftime(make_timestamp(cohort_bucket * 3600000000),
        |         '%Y-%m-%d %H:00') AS cohort_hour,
        |       a.hour_bucket - f.cohort_bucket AS age_hours,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM activity a JOIN first_seen f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
  )

  /** Shared oracle for both text round-trips: read the parquet source
    * directly — the engine result must be byte-identical after its
    * stage-to-text → re-read → cast cycle. */
  private val IngestRoundtripOracle: String =
    """SELECT CAST(o_orderkey AS VARCHAR) AS transaction_id,
      |       o_totalprice AS income,
      |       n_name AS country,
      |       o_orderdate AS date_time,
      |       strftime(o_orderdate, '%Y-%m-%d') AS date,
      |       strftime(o_orderdate, '%H:%M:%S') AS time
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey""".stripMargin
}
