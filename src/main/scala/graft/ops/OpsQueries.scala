package graft.ops

import graft.queries.BatchQueries.QueryFn

/**
 * Registry of the north-star operator queries (dedup, similarity search,
 * text analysis, multimodal) — the LLM-training-data-pipeline surface that
 * complements the relational inventory in [[graft.queries.BatchQueries]].
 *
 * Oracle-backed wherever DuckDB can express the computation exactly; the
 * hash/seed-dependent paths (SimHash, LSH-ANN, IVF) are rows-only checked by
 * the driver and recall-asserted in the test suite.
 */
object OpsQueries {

  val queries: Map[String, QueryFn] = Map(
    "n01_dedup_fingerprint" -> (Dedup.exactDedupQuery _),
    "n02_dedup_minhash_lsh" -> (Dedup.minHashDedupQuery _),
    "n03_ngram_jaccard" -> (Dedup.ngramJaccardQuery _),
    "n04_dedup_simhash" -> (Dedup.simHashDedupQuery _),
    "n05_dedup_embedding" -> (Dedup.embeddingNearDupQuery _),
    "n06_ann_lsh" -> (Similarity.annLshQuery _),
    "n07_ann_ivf" -> (Similarity.ivfQuery _),
    "n08_lang_id" -> (TextAnalysis.langIdQuery _),
    "n09_quality_score" -> (TextAnalysis.qualityScoreQuery _),
    "n10_token_count" -> (TextAnalysis.tokenCountQuery _),
    "n11_fingerprint" -> (TextAnalysis.fingerprintQuery _),
    "n12_multimodal_meta" -> (Multimodal.multimodalQuery _),
    "n13_tfidf_top_term" -> (TextAnalysis.tfidfQuery _),
    "n14_hash_sample" -> (Sampling.hashSampleQuery _),
    "n15_seq_packing" -> ((s, d) => Sampling.seqPackingQuery(s, d)),
    "n16_repetition_stats" -> (TextAnalysis.repetitionStatsQuery _),
    "n17_multimodal_frames" -> (Multimodal.frameSampleQuery _),
    "n18_stratified_sample" -> (Sampling.stratifiedSampleQuery _),
    "n19_chunking" -> ((s, d) => Corpus.chunkingQuery(s, d)),
    "n20_contamination" -> (Corpus.contaminationQuery _),
    "n21_vocab_coverage" -> (Corpus.vocabCoverageQuery _),
    "n22_mixing_weights" -> (Corpus.mixingWeightsQuery _),
    "n23_pii_redact" -> (Corpus.piiRedactQuery _),
    "n24_domain_extract" -> (Corpus.domainExtractQuery _),
    "n25_edit_distance" -> (Dedup.editDistanceQuery _),
    "n26_embedding_lsh" -> (Dedup.embeddingLshDedupQuery _),
    "n27_dedup_clusters" -> (Dedup.nearDupClustersQuery _),
    "n28_dup_span_stats" -> (TextAnalysis.dupSpanStatsQuery _),
    "n29_quality_quantile" -> (TextAnalysis.qualityQuantileQuery _),
    "n30_boilerplate" -> (Corpus.boilerplateStatsQuery _),
    "n31_temperature_mix" -> ((s, d) => Corpus.temperatureMixingQuery(s, d)),
    "n32_host_canonical" -> (Pipeline.hostCanonicalQuery _),
    "n33_pipeline_e2e" -> (Pipeline.pipelineQuery _),
    "n34_novelty" -> (TextAnalysis.noveltyQuery _),
    "n35_label_centroid" -> (Similarity.labelCentroidQuery _),
    "n36_dedup_corpus" -> (Dedup.dedupedCorpusQuery _),
    "n37_embedding_clusters" -> (Dedup.embeddingClustersQuery _),
    "n38_dedup_manifest" -> (Dedup.dedupManifestQuery _),
    "n39_knn_graph" -> ((s, d) => Similarity.knnGraphQuery(s, d)),
    "n40_source_overlap" -> ((s, d) => Corpus.sourceOverlapQuery(s, d)),
    "n41_streaming_manifest" -> ((s, d) => IncrementalDedup.streamingManifestQuery(s, d)),
    // seed-dependent (KMeans centroids): rows-only; recall-vs-n39 in OpsSpec
    "n42_knn_join" -> (Similarity.knnJoinQuery _),
    "n43_bigram_lm" -> (TextAnalysis.bigramLmQuery _),
    "n44_bloom_decontam" -> ((s, d) => Corpus.bloomDecontamQuery(s, d)),
    "n45_segment_dedup" -> ((s, d) => TextAnalysis.segmentDedupQuery(s, d)),
    "n46_snapshot_drift" -> (Corpus.snapshotDriftQuery _),
    "n47_cdc_chunks" -> (Corpus.cdcChunkQuery _),
    "n48_streaming_drift" -> ((s, d) => IncrementalDrift.streamingDriftQuery(s, d)),
    "n49_quality_mixing" -> ((s, d) => Corpus.qualityMixingQuery(s, d)),
    "n50_inner_segment_dedup" -> ((s, d) => TextAnalysis.innerSegmentDedupQuery(s, d)),
    "n51_dup_segment_top" -> ((s, d) => TextAnalysis.dupSegmentTopQuery(s, d)),
    "n52_streaming_embedding_clusters" ->
      ((s, d) => IncrementalEmbedDedup.streamingEmbeddingClustersQuery(s, d)),
    "n53_embedding_dedup_corpus" -> (Dedup.dedupedEmbeddingCorpusQuery _),
    "n54_media_resize" -> (Multimodal.resizeQuery _),
    "n55_media_features" -> (Multimodal.featureQuery _),
    "n56_media_dedup" -> (Multimodal.mediaDedupManifestQuery _),
    "n57_media_dedup_corpus" -> (Multimodal.mediaDedupCorpusQuery _),
    "n58_streaming_media_clusters" ->
      ((s, d) => Multimodal.streamingMediaClustersQuery(s, d)),
    "n59_media_pipeline" -> (Multimodal.mediaPipelineQuery _),
    // the deterministic-quantizer twin of n42: same probeCut →
    // knnJoinVerify plan, md5-derived cells instead of trained KMeans ⇒
    // hash-checked
    "n60_knn_join_det" -> (Similarity.knnJoinDetQuery _),
    // IVF-PQ: the memory-bounded ANN scan (codes + integer ADC ranking)
    "n61_ivf_pq" -> (Similarity.ivfPqQuery _),
    // per-domain quota on the TopKPerKey whole-operator
    "n62_domain_cap" -> ((s, d) => Pipeline.domainCapQuery(s, d)),
    // the incremental twin of n61: foreachBatch encode, cell-bucketed levels
    "n63_streaming_ivf_pq" -> ((s, d) => IncrementalAnn.streamingIvfPqQuery(s, d)),
    // split-aware decontamination: n02 near-dup pairs straddling the n14 split
    "n64_split_leakage" -> (Pipeline.splitLeakageQuery _),
    // the batched many-query PQ ranking: n60's join scanning codes via SDC
    "n65_pq_knn_join" -> (Similarity.pqKnnJoinQuery _),
    // trained-codebook IVF-PQ (Lloyd's, SQL-inexpressible): rows-only,
    // recall-gated in PqRecallSpec — the n42/n60 pairing beside n61
    "n66_ivf_pq_trained" -> (Similarity.ivfPqTrainedQuery _),
    // the incremental twin of n62: batch-local TopKPerKey cuts appended,
    // host-bucketed levels, selection associativity ⇒ batch answer
    "n67_streaming_domain_cap" ->
      ((s, d) => IncrementalQuota.streamingDomainCapQuery(s, d)),
    // int8 scalar-quantized kNN join: the n60 plan scanning 64-byte SQ8
    // codes — ×8 smaller exchange at near-exact ranking fidelity
    "n68_sq8_knn_join" -> (Similarity.sq8KnnJoinQuery _),
    // the ingest-gate twin of n44: per-batch Bloom screen + exact verify
    // against the static benchmark grams; verdicts are per-row functions
    "n69_streaming_decontam" ->
      ((s, d) => IncrementalDecontam.streamingDecontamQuery(s, d)),
    // the per-source dataset card: n10/n09/n01's shared expressions
    // rolled up into the corpus report a training run publishes
    "n70_dataset_card" -> (Corpus.datasetCardQuery _),
    // the incremental twin of n68: SQ8 codes + precomputed probe sets
    // ingested per batch, cell-bucketed levels — the ×8-narrower state
    "n71_streaming_sq8_knn" ->
      ((s, d) => IncrementalSq8.streamingSq8KnnQuery(s, d)),
    // residual IVF-PQ (Jégou §IV-A): codes on q − centroid(cell), LUT
    // rebuilt per probed cell — md5 codebook ⇒ hash-checked plumbing
    "n72_ivf_pq_residual" -> (Similarity.ivfPqResidualQuery _),
    // the residual plan on a Lloyd-trained codebook at the canonical
    // k*=256 resolution: recall 0.31 vs n66's 0.12 / n61's 0.04
    // (ProbePqRecall sf0.1; gated in PqRecallSpec) — rows-only like n66
    "n73_ivf_pq_residual_trained" -> (Similarity.ivfPqResidualTrainedQuery _),
    // the n70 card + the near-dup rate from the n38 manifest verdicts,
    // reduced to S per-source counts before a broadcast join
    "n74_card_neardup" -> (Corpus.datasetCardNearDupQuery _),
    // IVFADC-R (Jégou §V): ADC shortlist at R=100, exact integer re-rank
    // of only those R vectors — integer end to end ⇒ hash-checked
    "n75_ivf_pq_rerank" -> (Similarity.ivfPqRerankQuery _),
    // the re-rank over the trained-residual-256 shortlist: recall@5 0.71
    // vs the 0.72 IVF probe ceiling at sf0.1 (gated in PqRecallSpec)
    "n76_ivf_pq_rerank_trained" -> (Similarity.ivfPqResidualTrainedRerankQuery _),
    // IVFADC-R on streaming state: codes shortlist from the pruned n63
    // index read, vectors fetched from the source table by id
    "n77_streaming_ivf_pq_rerank" ->
      ((s, d) => IncrementalAnn.streamingIvfPqRerankQuery(s, d)),
    // batched IVFADC-R: the n65 SDC join cut at R per probe row, then
    // only shortlist ids fetch vectors (shuffle-hash) for the exact
    // integer re-rank — join-scale recall escapes the code ceiling
    "n78_pq_knn_rerank" -> (Similarity.pqKnnJoinRerankQuery _),
    // the n77 ingest on the TRAINED residual-256 quantizer (persisted
    // beside the state for restart stability): the n76 quality rung
    // served from streaming state — rows-only, equality-to-n76 gated
    "n79_streaming_ivf_pq_trained" ->
      ((s, d) => IncrementalAnn.streamingIvfPqTrainedRerankQuery(s, d)),
    // the n78 plan on a trained k*=256 codebook: join-scale recall@3
    // 0.653 vs n78's 0.227 (90% of the probe ceiling) at identical plan
    // shape and fetch bill — rows-only like n66 (Lloyd training)
    "n80_pq_knn_rerank_trained" -> (Similarity.pqKnnJoinRerankTrainedQuery _),
    // the ASYMMETRIC-shortlist two-stage join (round-18): stage 1 ranks
    // candidates by the direct query-vector-vs-codes ADC kernel
    // (PqAdcQExpr) instead of SDC — the query side stays exact, closing
    // the shortlist-capture gap the round-17 verdict isolated; integer
    // end to end ⇒ hash-checked like n78
    "n81_pq_knn_rerank_adc" -> (Similarity.pqKnnJoinRerankAdcQuery _),
    // the n61 scan at the FINER IVF geometry (nlist=64/nProbe=8): the
    // rung the 100 TB design wants (nlist ~ sqrt(N); +10.6 recall points
    // at equal scan in the round-17 sweep) pushed through the oracle
    // gate — the md5 direction namespace extends, so the default
    // geometry's hash-matched plans are untouched
    "n82_ivf_pq_geo64" -> (Similarity.ivfPqGeo64Query _),
    // the n80 trained two-stage join served from streaming state: stored
    // probe sets + stored codes (raw trained codebook as a zero-centroid
    // quantizer), SDC shortlist, exact re-rank fetch from the source
    // table — rows-only (trained codebook), equality-to-n80 gated
    "n83_streaming_pq_knn_rerank_trained" ->
      ((s, d) => IncrementalAnn.streamingPqKnnRerankTrainedQuery(s, d)),
    // the asymmetric join on the raw trained k*=256 codebook: join-scale
    // recall 0.7177 = 98.9% of the probe ceiling (vs n80's 0.6533) at
    // identical fetch bill — rows-only (trained codebook), driver-twin
    // equality + planted-floor gated
    "n84_pq_knn_rerank_adc_trained" ->
      (Similarity.pqKnnJoinRerankAdcTrainedQuery _),
  )

  val oracles: Map[String, String] = Map(
    "n01_dedup_fingerprint" -> Dedup.exactDedupOracle,
    "n02_dedup_minhash_lsh" -> Dedup.jaccardPairsOracle,
    "n03_ngram_jaccard" -> Dedup.jaccardPairsOracle,
    // round 8: n04's word hash is md5-derived, so DuckDB recomputes the
    // exact SimHash fingerprints; round 9 extended the trick to n06's LSH
    // planes and n07's IVF cell directions. Only n42 (trained KMeans
    // quantizer) remains rows-only among the ANN family.
    "n04_dedup_simhash" -> Dedup.simHashPairsOracle,
    "n06_ann_lsh" -> Similarity.annLshOracle,
    "n07_ann_ivf" -> Similarity.ivfOracle,
    "n05_dedup_embedding" -> Dedup.embeddingNearDupOracle,
    "n08_lang_id" -> TextAnalysis.langIdOracle,
    "n09_quality_score" -> TextAnalysis.qualityScoreOracle,
    "n10_token_count" -> TextAnalysis.tokenCountOracle,
    "n11_fingerprint" -> TextAnalysis.fingerprintOracle,
    "n12_multimodal_meta" -> Multimodal.multimodalOracle,
    "n13_tfidf_top_term" -> TextAnalysis.tfidfOracle,
    "n14_hash_sample" -> Sampling.hashSampleOracle,
    "n15_seq_packing" -> Sampling.seqPackingOracle,
    "n16_repetition_stats" -> TextAnalysis.repetitionStatsOracle,
    "n17_multimodal_frames" -> Multimodal.frameSampleOracle,
    "n18_stratified_sample" -> Sampling.stratifiedSampleOracle,
    "n19_chunking" -> Corpus.chunkingOracle(),
    "n20_contamination" -> Corpus.contaminationOracle,
    "n21_vocab_coverage" -> Corpus.vocabCoverageOracle,
    "n22_mixing_weights" -> Corpus.mixingWeightsOracle,
    "n23_pii_redact" -> Corpus.piiRedactOracle,
    "n24_domain_extract" -> Corpus.domainExtractOracle,
    "n25_edit_distance" -> Dedup.editDistanceOracle(),
    "n26_embedding_lsh" -> Dedup.embeddingLshOracle,
    "n27_dedup_clusters" -> Dedup.nearDupClustersOracle,
    "n28_dup_span_stats" -> TextAnalysis.dupSpanStatsOracle,
    "n29_quality_quantile" -> TextAnalysis.qualityQuantileOracle,
    "n30_boilerplate" -> Corpus.boilerplateStatsOracle,
    "n31_temperature_mix" -> Corpus.temperatureMixingOracle,
    "n32_host_canonical" -> Pipeline.hostCanonicalOracle,
    "n33_pipeline_e2e" -> Pipeline.pipelineOracle,
    "n34_novelty" -> TextAnalysis.noveltyOracle,
    "n35_label_centroid" -> Similarity.labelCentroidOracle,
    "n36_dedup_corpus" -> Dedup.dedupedCorpusOracle,
    "n37_embedding_clusters" -> Dedup.embeddingClustersOracle,
    "n38_dedup_manifest" -> Dedup.dedupManifestOracle,
    "n39_knn_graph" -> Similarity.knnGraphOracle,
    "n40_source_overlap" -> Corpus.sourceOverlapOracle,
    // incremental maintenance must converge to the batch answer: same SQL
    "n41_streaming_manifest" -> Dedup.dedupManifestOracle,
    "n43_bigram_lm" -> TextAnalysis.bigramLmOracle,
    // exact result: the Bloom stage is a prefilter, not an approximation
    "n44_bloom_decontam" -> Corpus.bloomDecontamOracle,
    "n45_segment_dedup" -> TextAnalysis.segmentDedupOracle,
    "n46_snapshot_drift" -> Corpus.snapshotDriftOracle,
    "n47_cdc_chunks" -> Corpus.cdcChunkOracle,
    // incremental maintenance must converge to the batch answer: same SQL
    "n48_streaming_drift" -> Corpus.snapshotDriftOracle,
    "n49_quality_mixing" -> Corpus.qualityMixingOracle,
    "n50_inner_segment_dedup" -> TextAnalysis.innerSegmentDedupOracle,
    "n51_dup_segment_top" -> TextAnalysis.dupSegmentTopOracle,
    // incremental maintenance converges to the batch n37 answer, so the
    // batch oracle applies verbatim (the n41/n48 pattern)
    "n52_streaming_embedding_clusters" -> Dedup.embeddingClustersOracle,
    "n53_embedding_dedup_corpus" -> Dedup.dedupedEmbeddingCorpusOracle,
    "n54_media_resize" -> Multimodal.resizeOracle,
    "n55_media_features" -> Multimodal.featureOracle,
    "n56_media_dedup" -> Multimodal.mediaDedupManifestOracle,
    "n57_media_dedup_corpus" -> Multimodal.mediaDedupCorpusOracle,
    // incremental maintenance converges to the batch n56 closure: same SQL
    "n58_streaming_media_clusters" -> Multimodal.streamingMediaClustersOracle,
    "n59_media_pipeline" -> Multimodal.mediaPipelineOracle,
    // the md5-quantizer twin closes the ANN family's oracle gap: only n42
    // (trained KMeans) stays rows-only, and n60 hash-checks its plan shape
    "n60_knn_join_det" -> Similarity.knnJoinDetOracle,
    // integer codes + integer LUT: PQ ranking hash-matches cross-engine
    "n61_ivf_pq" -> Similarity.ivfPqOracle,
    "n62_domain_cap" -> Pipeline.domainCapOracle,
    // encode/cell are per-row deterministic ⇒ the incremental index equals
    // the batch n61 index exactly for any batching: the batch oracle verbatim
    "n63_streaming_ivf_pq" -> Similarity.ivfPqOracle,
    "n64_split_leakage" -> Pipeline.splitLeakageOracle,
    // codes, pair table, and SDC sums are all integer: hash-matched
    "n65_pq_knn_join" -> Similarity.pqKnnJoinOracle,
    // n66 omitted: Lloyd-trained codebook is SQL-inexpressible (rows-only;
    // recall and planted-floor bounded by PqRecallSpec)
    // bounded selection is associative ⇒ the incremental quota equals the
    // batch n62 answer exactly for any batching: the batch oracle verbatim
    "n67_streaming_domain_cap" -> Pipeline.domainCapOracle,
    // clamped int8 codes + integer dots: hash-matched like n60/n65
    "n68_sq8_knn_join" -> Similarity.sq8KnnJoinOracle,
    // per-row verdicts ⇒ the gate equals the batch n44 answer for any
    // batching: the batch oracle verbatim
    "n69_streaming_decontam" -> Corpus.bloomDecontamOracle,
    // integer counts/sums + two exact final divisions: hash-matched
    "n70_dataset_card" -> Corpus.datasetCardOracle,
    // codes/cells/probe sets are per-row functions ⇒ the incremental
    // index equals the batch n68 join for any batching: oracle verbatim
    "n71_streaming_sq8_knn" -> Similarity.sq8KnnJoinOracle,
    // centroids/residuals/codes/per-cell LUTs all integer ⇒ hash-matched
    "n72_ivf_pq_residual" -> Similarity.ivfPqResidualOracle,
    // n73 omitted: Lloyd-trained codebook is SQL-inexpressible (rows-only;
    // recall floor + planted-duplicate theorem gated in PqRecallSpec)
    // the n70 and n38 oracles composed as CTEs: hash-matched
    "n74_card_neardup" -> Corpus.datasetCardNearDupOracle,
    // shortlist boundary and re-rank scores both integer: hash-matched
    "n75_ivf_pq_rerank" -> Similarity.ivfPqRerankOracle,
    // index state == batch encode per row (the n63 theorem) ⇒ the
    // streaming two-stage query equals batch n75: oracle verbatim
    "n77_streaming_ivf_pq_rerank" -> Similarity.ivfPqRerankOracle,
    // n76 omitted: trained codebook (rows-only; recall ceiling gated in
    // PqRecallSpec — the re-rank mechanics are n75's, hash-matched there)
    // shortlist boundary, fetch membership, and re-rank order all integer
    "n78_pq_knn_rerank" -> Similarity.pqKnnJoinRerankOracle,
    // n79 omitted: trained quantizer (rows-only, the n66/n73/n76 class);
    // bounded by IncrementalAnnSpec's equality-to-batch-n76 assertion
    // n80 omitted: trained codebook (rows-only); bounded by
    // PqJoinRerankSpec's driver-twin equality + planted-floor gates —
    // the plan shape is the hash-matched n78's verbatim
    // the asymmetric per-pair distance is the query's own d2 table looked
    // up at the candidate's codes — integer end to end: hash-matched
    "n81_pq_knn_rerank_adc" -> Similarity.pqKnnJoinRerankAdcOracle,
    // the n61 oracle CTE chain with range(64)/LIMIT 8 — the geometry
    // parameterizes straight through the md5 digit arithmetic
    "n82_ivf_pq_geo64" -> Similarity.ivfPqGeo64Oracle,
  )
}
