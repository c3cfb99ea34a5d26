package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 gets a `queries` entry; where the
  * semantics are SQL-expressible, a matching DuckDB oracle in `oracleSql`
  * (same column names — the driver hash-compares after sorting columns by
  * name). Non-SQL-expressible operators (stateful folds, LSH) get rows-only
  * checks.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TradeAggregates.windowAgg5m(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A `val`: built
    * once, so the per-query lookups of Bench and Prof are map reads. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2: flagship 5-min window aggregate
    "q_a1_window_agg_5m" -> ((s, d) => TradeAggregates.windowAgg5m(s, d)),
    // P1/P2/S2: CDC envelope parse (all flatMap branches)
    "q_p1_cdc_parse" -> ((s, d) => CdcParser.cdcParseRoundtripSorted(s, d)),
    // P3/P4/P5: op filters + changed-rows predicate
    "q_p5_changed_rows" -> ((s, d) => CdcParser.changedRowCounts(s, d)),
    // A3: minute rollup (materialized-view analogue)
    "q_a3_minute_rollup" -> ((s, d) => DashboardQueries.minuteRollup(s, d)),
    // A4: stat panels
    "q_a4_stat_panels" -> ((s, d) => DashboardQueries.statPanels(s, d)),
    // A5: distinct (exact for oracle; approx variant rows-only)
    "q_a5_distinct_users" -> ((s, d) => DashboardQueries.distinctUsers(s, d)),
    "q_a5_approx_distinct" -> ((s, d) => DashboardQueries.approxDistinctUsers(s, d)),
    "q_a5_sketch_union" -> ((s, d) => DashboardQueries.sketchUnionUsers(s, d)),
    // A6: liveness conditional on aggregate
    "q_a6_liveness" -> ((s, d) => DashboardQueries.liveness(s, d)),
    // A7: grouped time-series
    "q_a7_price_timeseries" -> ((s, d) => DashboardQueries.priceTimeseries(s, d)),
    // A8 + O4: group-by with computed sort key
    "q_a8_bid_ask_by_user" -> ((s, d) => DashboardQueries.bidAskByUser(s, d)),
    // P6: dashboard recent-window predicate
    "q_p6_recent_hour" -> ((s, d) => DashboardQueries.recentHourCount(s, d)),
    // O1/O2/O3: top-N / ordered outputs
    "q_o1_recent_top50" -> ((s, d) => DashboardQueries.recentTop50(s, d)),
    "q_o2_recent_purchases" -> ((s, d) => DashboardQueries.recentPurchases30(s, d)),
    "q_o3_minute_counts" -> ((s, d) => DashboardQueries.minuteCounts(s, d)),
    // Relational additive surface (joins, windows)
    "q_r1_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q_r2_revenue_by_brand" -> ((s, d) => Relational.revenueByBrand(s, d)),
    "q_r3_top_customers" -> ((s, d) => Relational.topCustomers(s, d)),
    "q_r4_revenue_by_nation" -> ((s, d) => Relational.revenueByNation(s, d)),
    "q_r5_customers_no_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q_r6_running_totals" -> ((s, d) => Relational.supplierRunningTotals(s, d)),
    "q_r7_asof_join" -> ((s, d) => Relational.asofJoin(s, d)),
    "q_r7b_asof_native" -> ((s, d) => Relational.asofJoinNative(s, d)),
    "q_r8_rollup" -> ((s, d) => Relational.rollupSummary(s, d)),
    "q_r9_setops" -> ((s, d) => Relational.setOps(s, d)),
    "q_r10_pivot" -> ((s, d) => Relational.pivotRevenue(s, d)),
    "q_r11_unpivot" -> ((s, d) => Relational.unpivotSummary(s, d)),
    "q_r12_range_join" -> ((s, d) => Relational.rangeJoinBinned(s, d)),
    "q_r13_cube" -> ((s, d) => Relational.cubeSummary(s, d)),
    "q_r14_outer_join" -> ((s, d) => Relational.outerJoinNations(s, d)),
    "q_r15_semi_anti" -> ((s, d) => Relational.semiAntiSuppliers(s, d)),
    "q_r16_subqueries" -> ((s, d) => Relational.subqueryRichCustomers(s, d)),
    // A9/W5 additive: session windows + approx quantiles
    "q_a9_session_windows" -> ((s, d) => TradeAggregates.sessionWindows(s, d)),
    "q_a10_approx_quantiles" -> ((s, d) => DashboardQueries.approxQuantiles(s, d)),
    "q_a10_exact_percentiles" -> ((s, d) => DashboardQueries.exactPercentiles(s, d)),
    "q_t5_top_terms" -> ((s, d) => TextAnalysis.topTerms(s, d)),
    // D1-D4: stateful anomaly detection (batch deterministic fold)
    "q_d1_large_trades" -> ((s, d) => AnomalyDetection.largeTrades(s, d)),
    "q_d2_price_spikes" -> ((s, d) => AnomalyDetection.priceSpikes(s, d)),
    "q_d3d4_alert_counts" -> ((s, d) => AnomalyDetection.alertCounts(s, d)),
    // S3/K5 + dedup family
    "q_s3_dedup_redelivery" -> ((s, d) => Dedup.dedupRedelivery(s, d)),
    "q_x1_dedup_exact" -> ((s, d) => Dedup.dedupExact(s, d)),
    "q_x2_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    "q_x2b_minhash_checked" -> ((s, d) => Dedup.minhashLshPairsChecked(s, d)),
    "q_x3_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "q_x3b_simhash30" -> ((s, d) => Dedup.simhash30(s, d)),
    "q_x3c_simhash_neardup" -> ((s, d) => Dedup.sharedNearDupPairs(s, d)),
    "q_x4_jaccard_3gram" -> ((s, d) => Dedup.jaccard3gramPairs(s, d)),
    // Similarity search
    "q_y1_knn_bruteforce" -> ((s, d) => Similarity.knnBruteForce(s, d)),
    "q_y2_knn_ivf" -> ((s, d) => Similarity.knnIvf(s, d)),
    "q_y3_embed_neardup" -> ((s, d) => Similarity.embeddingNearDups(s, d)),
    "q_y4_lsh_neardup" -> ((s, d) => Similarity.lshNearDups(s, d)),
    "q_y4b_signlsh_checked" -> ((s, d) => Similarity.lshNearDupsChecked(s, d)),
    // Text analysis
    "q_t1_lang_id" -> ((s, d) => TextAnalysis.langId(s, d)),
    "q_t2_quality" -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q_t3_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q_t4_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "q_t6_normalize" -> ((s, d) => TextAnalysis.normalize(s, d)),
    "q_t7_bigram_novelty" -> ((s, d) => TextAnalysis.bigramNovelty(s, d)),
    // Corpus-curation family (training-data pipeline north-star)
    "q_c1_hash_sample" -> ((s, d) => Curation.hashSample(s, d)),
    "q_c2_source_caps" -> ((s, d) => Curation.sourceCaps(s, d)),
    "q_c3_chunking" -> ((s, d) => Curation.chunk(s, d)),
    "q_c4_bigram_stats" -> ((s, d) => Curation.bigramStats(s, d)),
    "q_c5_curation_pipeline" -> ((s, d) => Curation.curationPipeline(s, d)),
    "q_c6_decontaminate" -> ((s, d) => Curation.decontaminate(s, d)),
    "q_c7_pack_shards" -> ((s, d) => Curation.packShards(s, d)),
    "q_c8_mix_rebalance" -> ((s, d) => Curation.mixRebalance(s, d)),
    // spark.sql serving surface (SURVEY §3.3 entry point 3)
    "q_sql_scalar_panels" -> ((s, d) => SqlSurface.scalarPanels(s, d)),
    "q_sql_concurrent" -> ((s, d) => SqlSurface.concurrentPanels(s, d)),
    // Multimodal binary-column plumbing (decode stubbed)
    "q_m1_media_metadata" -> ((s, d) => Multimodal.mediaMetadata(s, d)),
    "q_m2_extract_features" -> ((s, d) => Multimodal.extractFeatures(s, d)),
    "q_m3_sample_frames" -> ((s, d) => Multimodal.sampleFrames(s, d)),
    "q_m4_resize" -> ((s, d) => Multimodal.resize(s, d)),
    "q_m5_media_embed_join" -> ((s, d) => Multimodal.mediaEmbeddingJoin(s, d)),
    // Round 3: analytic windows, grouping sets, stratified sampling,
    // PII redaction, embedding quantization
    "q_r17_window_funcs" -> ((s, d) => Relational.windowFunctions(s, d)),
    "q_r18_grouping_sets" -> ((s, d) => Relational.groupingSets(s, d)),
    "q_c9_stratified_sample" -> ((s, d) => Curation.stratifiedSample(s, d)),
    "q_t8_pii_redact" -> ((s, d) => TextAnalysis.piiRedact(s, d)),
    "q_y5_quantize_int8" -> ((s, d) => Similarity.quantizeInt8(s, d)),
    "q_c10_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    "q_y6_ivf_build" -> ((s, d) => Similarity.ivfBuild(s, d)),
    "q_t9_repetition" -> ((s, d) => TextAnalysis.repetitionMetrics(s, d)),
    "q_p7_snapshot_apply" -> ((s, d) => CdcParser.snapshotApply(s, d)),
    "q_a12_incremental_mv" -> ((s, d) => DashboardQueries.incrementalMvMerge(s, d)),
    "q_r19_recursive_rollup" -> ((s, d) => Relational.recursiveSubtreeRollup(s, d)),
    "q_x5_substring_dup" -> ((s, d) => Dedup.substringDupStats(s, d)),
    // T1/W1/K2 streaming spine, materialized end-to-end (file-stream
    // source -> parse -> foreachBatch fan-out -> agg sink read-back)
    "q_stream_a1" -> ((s, d) => graft.streaming.StreamingJobs.fanOutReplay(s, d)),
    // Round 6: the fan-out's other two sinks (K1 raw, K3 alerts) read back
    // from the SAME replay run as q_stream_a1, plus the stateful
    // flatMapGroupsWithState detector replayed end-to-end (D1-D4 streaming)
    "q_stream_raw" -> ((s, d) => graft.streaming.StreamingJobs.fanOutRawReplay(s, d)),
    "q_stream_alerts" -> ((s, d) => graft.streaming.StreamingJobs.fanOutAlertsReplay(s, d)),
    "q_stream_d3d4" -> ((s, d) => graft.streaming.StreamingJobs.detectorReplay(s, d)),
    // Round 5: BM25 retrieval scoring + weight-proportional sampling
    "q_t10_bm25" -> ((s, d) => TextAnalysis.bm25(s, d)),
    // log-idf production scorer, rows-only; deterministic twin = q_t10
    "q_t10b_bm25_log" -> ((s, d) => TextAnalysis.bm25LogIdf(s, d)),
    // product quantization: per-subspace codebook build + ADC code search
    "q_y7_pq_build" -> ((s, d) => Similarity.pqBuild(s, d)),
    "q_y8_pq_search" -> ((s, d) => Similarity.pqSearch(s, d)),
    // fuzzy (near-dup) benchmark decontamination, bench side broadcast
    "q_c12_fuzzy_decontam" -> ((s, d) => Curation.fuzzyDecontaminate(s, d)),
    "q_c11_weighted_sample" -> ((s, d) => Curation.weightedSample(s, d)),
    // Round 6 second wave: batch multi-query retrieval, streaming
    // INSERT-IGNORE dedup replayed across micro-batches, SemDeDup
    // semantic near-dup removal, and the salted skew join as a checked
    // query
    "q_t11_batch_retrieve" -> ((s, d) => TextAnalysis.batchRetrieve(s, d)),
    "q_stream_dedup" -> ((s, d) => graft.streaming.StreamingJobs.dedupReplay(s, d)),
    "q_y9_semdedup" -> ((s, d) => Similarity.semDedup(s, d)),
    "q_r20_salted_join" -> ((s, d) => Relational.saltedSupplierRevenue(s, d)),
    // stream-stream event-time interval join (trades x quotes), replayed
    "q_stream_join" -> ((s, d) => graft.streaming.StreamingJobs.tradeQuoteJoinReplay(s, d)),
    // stream-static broadcast enrichment join, replayed + hash-checked
    "q_stream_enrich" -> ((s, d) => graft.streaming.StreamingJobs.enrichReplay(s, d)),
    // CSV/JSON/ORC interchange round-trip, hash-checked vs the parquet
    "q_src_roundtrip" -> ((s, d) => graft.sources.Formats.roundTrip(s, d)),
    // stream-stream LEFT OUTER interval join: watermark-expiry null rows
    "q_stream_outer" -> ((s, d) => graft.streaming.StreamingJobs.tradeQuoteOuterReplay(s, d)),
    // streaming OHLC candles, hash-checked against the batch a18 oracle
    "q_stream_ohlc" -> ((s, d) => graft.streaming.StreamingJobs.ohlcReplay(s, d)),
    // incremental join-view maintenance (delta decomposition in foreachBatch)
    "q_stream_ivm" -> ((s, d) => graft.streaming.StreamingJobs.ivmJoinReplay(s, d)),
    // z-order (Morton) clustering value, the ST2 sort key in 2-D
    "q_st5_zorder" -> ((s, d) => Tables.zorderStats(s, d)),
    // data-quality gates: per-column profile + named constraint rules
    "q_v1_profile" -> ((s, d) => Validation.profile(s, d)),
    "q_v2_constraints" -> ((s, d) => Validation.constraints(s, d)),
    // A9 session windows through the watermarked streaming machinery
    "q_stream_sessions" -> ((s, d) => graft.streaming.StreamingJobs.sessionReplay(s, d)),
    // W1/A1 append-mode tumbling windows, watermark-emitted
    "q_stream_w1" -> ((s, d) => graft.streaming.StreamingJobs.windowAggReplay(s, d)),
    // Round 6 third wave: SCD Type-2 history from the CDC changelog, a
    // bigram-LM quality scorer, and SpaceSaving heavy hitters (custom
    // mergeable Aggregator; deterministic twin = q_c4 over the same stream)
    "q_p8_scd2" -> ((s, d) => CdcParser.scd2History(s, d)),
    "q_p9_pit_lookup" -> ((s, d) => CdcParser.pitLookup(s, d)),
    "q_p10_drop_audit" -> ((s, d) => CdcParser.dropAudit(s, d)),
    "q_a19_sliding_distinct" -> ((s, d) => DashboardQueries.slidingDistinct(s, d)),
    // incremental SCD2 maintenance through foreachBatch + versioned
    // parquet state, hash-checked against the SAME oracle as batch q_p8
    "q_stream_scd2" -> ((s, d) => graft.streaming.StreamingJobs.scd2Replay(s, d)),
    "q_t12_lm_score" -> ((s, d) => TextAnalysis.lmScore(s, d)),
    "q_c13_heavy_hitters" -> ((s, d) => Curation.heavyHitters(s, d)),
    // time-RANGE window frame: trailing-10-minute per-user moving average
    "q_r21_sliding_window" -> ((s, d) => Relational.slidingTimeWindow(s, d)),
    // Count-Min point estimates (deterministic cell-wise merge); exact cnt
    // rides along from the q_c4 twin — rows-only (no CMS in DuckDB)
    "q_c14_cms_counts" -> ((s, d) => Curation.cmsCounts(s, d)),
    // bloom-filtered join: semi-join reduction before the shuffle; result
    // is exactly the plain join (bloom false positives die in the join)
    "q_r22_bloom_join" -> ((s, d) => Relational.bloomJoin(s, d)),
    "q_r23_grouped_quantiles" -> ((s, d) => Relational.groupedQuantiles(s, d)),
    // deflate compression-ratio quality gate (Gopher-style); rows-only —
    // deflate sizes aren't SQL-expressible, monotonicity spec-pinned
    "q_t13_compress_ratio" -> ((s, d) => TextAnalysis.compressionRatio(s, d)),
    // BPE vocabulary induction: 8 merge rounds over the word census,
    // whole iterative training hash-checked via unrolled-CTE oracle
    "q_t14_bpe_train" -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    // BPE inference: tokenize the corpus with the trained merges
    // (broadcast vocab join); per-doc subword counts + fertility
    "q_t15_bpe_apply" -> ((s, d) => TextAnalysis.bpeApply(s, d)),
    // corpus drift gate: TVD + chi-square between corpus halves
    "q_v3_drift" -> ((s, d) => Validation.drift(s, d)),
    // event funnel: cascading min-aggregates, O(users) joins
    "q_a14_funnel" -> ((s, d) => DashboardQueries.funnel(s, d)),
    "q_a15_retention" -> ((s, d) => DashboardQueries.retention(s, d)),
    "q_a16_transitions" -> ((s, d) => DashboardQueries.transitions(s, d)),
    "q_a17_peak_concurrency" -> ((s, d) => DashboardQueries.peakConcurrency(s, d)),
    // ANN recall eval: IVF top-3 vs brute-force top-5 ground truth
    "q_y10_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    // SpaceSaving summary maintained across micro-batches; rows-only
    // (merge-order-dependent estimates), bounds spec-pinned vs exact
    "q_stream_hh" -> ((s, d) => graft.streaming.StreamingJobs.heavyHitterReplay(s, d)),
    // PageRank over the near-dup graph: iterative graph analytics, three
    // damped rounds, decimal-exact contributions (unrolled-CTE oracle)
    "q_c15_pagerank" -> ((s, d) => Dedup.pageRank(s, d)),
    // canonical doc per near-dup cluster: keep the best-quality member
    // (x3c graph -> c10 components -> t2 quality, composed + hash-checked)
    "q_c16_canonical" -> ((s, d) => Dedup.canonicalPerCluster(s, d)),
    // perceptual-hash near-dup over media blobs (pigeonhole-lossless
    // 4x12 banding; oracle = all-pairs hamming, the x3c pattern)
    "q_m6_phash_neardup" -> ((s, d) => Multimodal.phashNearDups(s, d)),
    "q_m7_chunk_dedup" -> ((s, d) => Multimodal.chunkDedup(s, d)),
    "q_a18_ohlc" -> ((s, d) => DashboardQueries.ohlcCandles(s, d)),
    "q_c21_dataset_card" -> ((s, d) => Curation.datasetCard(s, d)),
    "q_t18_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    "q_v6_outlier_days" -> ((s, d) => Validation.outlierDays(s, d)),
    // greedy sequence packing into fixed-capacity training examples
    // (capacity-reset recurrence; parallel across bounded shards)
    "q_c17_seq_pack" -> ((s, d) => Curation.seqPack(s, d)),
    // distributed GD training of a linear quality probe (3 unrolled
    // rounds, one scan-agg each; driver-scalar weights, PageRank pattern)
    "q_t16_probe_train" -> ((s, d) => TextAnalysis.probeTrain(s, d)),
    // probe inference: score + keep/drop decision for every doc with the
    // q_t16-trained weights (scan-speed projection, O(d) model literals)
    "q_t17_probe_apply" -> ((s, d) => TextAnalysis.probeApply(s, d)),
    // MMR diverse top-k selection (greedy, k corpus scans, driver state)
    "q_y11_mmr_select" -> ((s, d) => Similarity.mmrSelect(s, d)),
    // dataset version diff: digest-only manifest compare across versions
    "q_v4_version_diff" -> ((s, d) => Validation.versionDiff(s, d)),
    "q_v5_freshness" -> ((s, d) => Validation.freshness(s, d)),
    // distributed suffix array by prefix doubling (7 fixed rounds) — the
    // exact-substring-dedup substrate; ranks via range-sort dense rank,
    // no global window
    "q_x6_suffix_array" -> ((s, d) => Dedup.suffixArray(s, d)),
    // per-doc longest repeated token span: adjacent-SA-class LCP (exact
    // Lee et al. substring-dedup signal, never all-pairs)
    "q_x7_repeated_span" -> ((s, d) => Dedup.repeatedSpans(s, d)),
    // embedding-space coverage of a selected subset: per-vector max cosine
    // to the broadcast selection, binned (facility-location objective)
    "q_y12_coverage" -> ((s, d) => Similarity.coverage(s, d)),
    "q_y13_int8_search" -> ((s, d) => Similarity.int8Search(s, d)),
    "q_y14_silhouette" -> ((s, d) => Similarity.silhouette(s, d)),
    // longest verbatim shared run per (bench, train) pair: diagonal
    // gram-chaining, the strict end of the decontamination ladder
    "q_c18_contig_contam" -> ((s, d) => Curation.contigContam(s, d)),
    "q_c19_temperature_mix" -> ((s, d) => Curation.temperatureMix(s, d)),
    "q_c20_quality_deciles" -> ((s, d) => Curation.qualityDeciles(s, d)),
    "q_g1_triangles" -> ((s, d) => Graph.triangles(s, d)),
    "q_g2_also_bought" -> ((s, d) => Graph.alsoBought(s, d)),
    "q_g3_label_prop" -> ((s, d) => Graph.labelProp(s, d)),
    "q_g4_kcore" -> ((s, d) => Graph.kcore(s, d)),
    "q_g5_bfs" -> ((s, d) => Graph.bfs(s, d)),
    "q_x9_edit_verify" -> ((s, d) => Dedup.editVerify(s, d)),
    // MinHash estimator calibration: signature agreement vs exact Jaccard
    "q_x10_minhash_accuracy" -> ((s, d) => Dedup.minhashAccuracy(s, d)),
    "q_x11_containment" -> ((s, d) => Dedup.containment(s, d)),
    "q_x12_simjoin" -> ((s, d) => Dedup.simJoin(s, d)),
    "q_x13_sorted_neighborhood" -> ((s, d) => Dedup.sortedNeighborhood(s, d)),
    "q_v7_table_stats" -> ((s, d) => Validation.tableStats(s, d)),
    "q_x14_sn_recall" -> ((s, d) => Dedup.snRecall(s, d)),
    "q_t19_keywords" -> ((s, d) => TextAnalysis.keywords(s, d)),
    "q_c22_leakfree_split" -> ((s, d) => Dedup.leakFreeSplit(s, d)),
    "q_y15_probe_sweep" -> ((s, d) => Similarity.probeSweep(s, d)),
    "q_y16_power_iter" -> ((s, d) => Similarity.powerIteration(s, d)),
    "q_y17_ivfpq_search" -> ((s, d) => Similarity.ivfPqSearch(s, d)),
    // exact-substring dedup ACTION: cut non-canonical 16-token dup spans,
    // union ranges per doc, digest the cleaned text
    "q_x8_dedup_cut" -> ((s, d) => Dedup.dedupCut(s, d)),
    // incremental dedup-index maintenance: delta batch signed alone,
    // probed against the persisted base band index (no base re-sign)
    "q_x15_incremental_lsh" -> ((s, d) => Dedup.incrementalLsh(s, d)),
    // incremental IVF refresh: delta assigned to base-trained centroids,
    // per-cell drift report (full chain hash-checked)
    "q_y18_centroid_refresh" -> ((s, d) => Similarity.centroidRefresh(s, d)),
    // collocation extraction: PMI-lift association over the bigram census
    "q_t20_collocations" -> ((s, d) => TextAnalysis.collocations(s, d)),
    // token-budget-constrained quality-first selection per source
    "q_c23_token_budget" -> ((s, d) => Curation.tokenBudget(s, d)),
    // functional-dependency audit over the denormalized order-customer view
    "q_v8_fd_audit" -> ((s, d) => Validation.fdAudit(s, d)),
    // HITS hubs/authorities on the bipartite customer-part purchase graph
    "q_g6_hits" -> ((s, d) => Graph.hits(s, d)),
    // lambda/kappa handoff: batch candles to a window-aligned cutoff union
    // streamed candles from it, hash-checked vs the cutoff-blind oracle
    "q_stream_backfill" -> ((s, d) => graft.streaming.StreamingJobs.backfillReplay(s, d)),
    // 1-bit sign-code ANN: hamming shortlist at 8 B/vector, exact rescore
    "q_y19_binary_search" -> ((s, d) => Similarity.binarySearch(s, d)),
    // referential-integrity audit: orphan FKs across all 7 schema edges
    "q_v9_ref_integrity" -> ((s, d) => Validation.refIntegrity(s, d)),
    // recall@5 vs hamming-shortlist size: the y19 tuning table
    "q_y20_hamming_recall" -> ((s, d) => Similarity.hammingRecall(s, d)),
    // cross-source duplication matrix: where the dup mass lives
    "q_c24_cross_source_dups" -> ((s, d) => Curation.crossSourceDups(s, d)),
    // CBO join-cardinality estimate vs exact truth per schema edge
    "q_v10_join_cardinality" -> ((s, d) => Validation.joinCardinality(s, d)),
    // shuffle-key skew diagnostics: hot keys + simulated-partition imbalance
    "q_v11_skew_report" -> ((s, d) => Validation.skewReport(s, d)),
    // mergeable integer-exact log-histogram percentiles per event type
    "q_a20_log_histogram" -> ((s, d) => DashboardQueries.logHistogram(s, d)),
    // personalized PageRank: restart-walk proximity to a brand seed set
    "q_g7_ppr" -> ((s, d) => Graph.ppr(s, d)),
    // watermark tuning table: drop counts + lateness percentiles vs delay
    "q_p11_late_audit" -> ((s, d) => CdcParser.lateAudit(s, d)),
    // the real watermark dropping real late rows, vs the boundary-free oracle
    "q_stream_late" -> ((s, d) => graft.streaming.StreamingJobs.lateWindowReplay(s, d)),
    // k-means|| oversampled seeding: parallel init for billion-vector k-means
    "q_y21_kmeanspp_init" -> ((s, d) => Similarity.kmeansParallelInit(s, d)),
    // cross-video duplicate detection via per-frame perceptual hashes
    "q_m8_video_dedup" -> ((s, d) => Multimodal.videoFrameDedup(s, d)),
    // fixed-point EWMA anomaly bands over the per-minute value series
    "q_a21_ewma_bands" -> ((s, d) => DashboardQueries.ewmaBands(s, d)),
    // Matryoshka prefix-dimension recall ladder (8/16/32/64 dims)
    "q_y22_matryoshka" -> ((s, d) => Similarity.matryoshkaRecall(s, d)),
    // forward-compat: v2 envelopes with unknown fields parse as v1, proven
    "q_p12_forward_compat" -> ((s, d) => CdcParser.forwardCompatParse(s, d)),
    // kill-and-resume from checkpoint: restart is invisible, hash-proven
    "q_stream_resume" -> ((s, d) => graft.streaming.StreamingJobs.resumeReplay(s, d)),
    // two-source union into one stateful agg, min-watermark coordination
    "q_stream_union" -> ((s, d) => graft.streaming.StreamingJobs.unionReplay(s, d)),
    // Bloom-filter dedup (DCLM BFF): 80%-gram-seen probe vs the index set
    "q_x16_bloom_dedup" -> ((s, d) => Dedup.bloomDedup(s, d)),
    // DSIR importance selection: target-likeness ratio over hashed unigrams
    "q_c25_dsir_select" -> ((s, d) => Curation.dsirSelect(s, d)),
    // embedding OOD pruning: diagonal-Mahalanobis top-K outliers
    "q_y23_ood_mahalanobis" -> ((s, d) => Similarity.oodMahalanobis(s, d)),
    // audio VAD segmentation over the blob: energy islands per file
    "q_m9_vad_segments" -> ((s, d) => Multimodal.vadSegments(s, d)),
    // forward as-of join: the native merge operator under time negation
    "q_r24_asof_forward" -> ((s, d) => Relational.asofJoinForward(s, d)),
    // D1-D4 through transformWithState + RocksDB, same oracle as d3d4
    "q_stream_tws" -> ((s, d) => graft.streaming.StreamingJobs.twsReplay(s, d)),
    // MERGE INTO clause semantics over a keyed full-outer join
    "q_r25_merge_upsert" -> ((s, d) => Relational.mergeUpsert(s, d)),
    // Simpson repeat-probability lexical-diversity gate (rational, no log)
    "q_t21_simpson_diversity" -> ((s, d) => TextAnalysis.simpsonDiversity(s, d)),
    // deterministic epoch shuffle: content-hash (shard, pos) training order
    "q_c26_epoch_shuffle" -> ((s, d) => Curation.epochShuffle(s, d)),
    // text-vs-embedding near-dup pair agreement calibration
    "q_m10_crossmodal_agree" -> ((s, d) => Multimodal.crossModalAgreement(s, d)),
    // MERGE maintained incrementally per micro-batch == one-shot MERGE
    "q_stream_merge" -> ((s, d) => graft.streaming.StreamingJobs.mergeReplay(s, d)),
    // v1 profile maintained incrementally: mergeable scalars + holistic NDV
    "q_stream_profile" -> ((s, d) => graft.streaming.StreamingJobs.profileReplay(s, d)),
    // Round 7 seventh wave
    // Gopher quality ruleset: six named rules, per-rule flags + keep
    "q_t22_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    // blob QC gate: byte-distribution stats, blob never crosses an exchange
    "q_m11_blob_qc" -> ((s, d) => Multimodal.blobQc(s, d)),
    // scene-change detection over 64-byte frames, integer cut rule
    "q_m12_scene_cuts" -> ((s, d) => Multimodal.sceneCuts(s, d)),
    // contrastive mining: per-anchor top-3 positives + hard negatives
    "q_y24_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q_y25_signlsh_recall" -> ((s, d) => Similarity.signLshRecall(s, d)),
    // moderate-tau near-dup on the IVF path (the q_y25-measured sign-LSH
    // recall collapse's production alternative) + its measured recall
    "q_y26_ivf_neardup" -> ((s, d) => Similarity.ivfNearDups(s, d)),
    "q_y27_ivf_recall" -> ((s, d) => Similarity.ivfNearDupRecall(s, d)),
    // bounded-window twins of the 9 queries whose brute-force oracles
    // outgrow DuckDB above the sf0.01 gate: same operators, fixed windows,
    // oracles evaluable at every scale (round-9 sf1 skip list closed)
    "q_a21w_ewma_window" -> ((s, d) => DashboardQueries.ewmaBandsW(s, d)),
    "q_c10w_clusters_window" -> ((s, d) => Dedup.dedupClustersW(s, d)),
    "q_c16w_canonical_window" -> ((s, d) => Dedup.canonicalPerClusterW(s, d)),
    "q_c22w_leakfree_window" -> ((s, d) => Dedup.leakFreeSplitW(s, d)),
    "q_c27w_incr_window" -> ((s, d) => Dedup.incrementalClustersW(s, d)),
    "q_g11w_modularity_window" -> ((s, d) => Graph.modularityW(s, d)),
    "q_x6w_suffix_window" -> ((s, d) => Dedup.suffixArrayW(s, d)),
    "q_x7w_spans_window" -> ((s, d) => Dedup.repeatedSpansW(s, d)),
    "q_x12w_simjoin_window" -> ((s, d) => Dedup.simJoinW(s, d)),
    // Benford first-digit audit (literal expectations, no runtime log)
    "q_v12_benford" -> ((s, d) => Validation.benford(s, d)),
    // incremental cluster-label maintenance == full recompute, hash-proven
    "q_c27_incremental_clusters" -> ((s, d) => Dedup.incrementalClusters(s, d)),
    // sliding-window distinct through CHAINED stateful operators
    // (window-expand -> stateful dedup -> windowed count), append mode
    "q_stream_sliding" -> ((s, d) => graft.streaming.StreamingJobs.slidingDistinctReplay(s, d)),
    // packing lineage: the c17 examples joined back to the doc catalog
    "q_c28_pack_lineage" -> ((s, d) => Curation.packLineage(s, d)),
    // log-bucketed degree distribution of the co-purchase graph
    "q_g9_degree_histogram" -> ((s, d) => Graph.degreeHistogram(s, d)),
    // paragraph-level exact dedup: keep-first unit removal + clean digest
    "q_x17_paragraph_dedup" -> ((s, d) => Dedup.paragraphDedup(s, d)),
    // two-stage retrieval: BM25 shortlist -> phrase-proximity rerank
    "q_t23_rerank" -> ((s, d) => TextAnalysis.rerank(s, d)),
    // dedup-threshold tuning curve on the bounded exact sample
    "q_c29_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    // ingest-latency SLO percentiles per op, mergeable log-histogram
    "q_p13_latency_histogram" -> ((s, d) => CdcParser.latencyHistogram(s, d)),
    // header-vs-detail value reconciliation per order status
    "q_v13_order_consistency" -> ((s, d) => Validation.orderConsistency(s, d)),
    // the p13 mergeable histogram maintained incrementally per micro-batch
    "q_stream_latency" -> ((s, d) => graft.streaming.StreamingJobs.latencyReplay(s, d)),
    // exact integer degree assortativity of the co-purchase graph
    "q_g10_assortativity" -> ((s, d) => Graph.assortativity(s, d)),
    // dow x hour seasonality heatmap with exact calendar arithmetic
    "q_a22_dow_hour_heatmap" -> ((s, d) => DashboardQueries.dowHourHeatmap(s, d)),
    // inter-arrival gap / silence detection per stream, rolled up per type
    "q_a23_event_gaps" -> ((s, d) => DashboardQueries.eventGaps(s, d)),
    // sentence segmentation stats, HOF projections at scan speed
    "q_t24_sentences" -> ((s, d) => TextAnalysis.sentenceStats(s, d)),
    // TPC-H Q3 shape: segment-filtered top-10 unshipped orders by revenue
    "q_r26_shipping_priority" -> ((s, d) => Relational.shippingPriority(s, d)),
    // TPC-H Q17 shape: correlated per-part avg decorrelated to a window
    "q_r27_small_qty_revenue" -> ((s, d) => Relational.smallQtyRevenue(s, d)),
    // LATERAL correlated top-k subquery (DomainJoin decorrelation surface)
    "q_r28_lateral_topk" -> ((s, d) => Relational.lateralTopOrders(s, d)),
    // TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS anti join
    "q_r29_sales_opportunity" -> ((s, d) => Relational.salesOpportunity(s, d)),
    // TPC-H Q4 shape: EXISTS with equi-key + date-inequality residual
    "q_r30_late_priority" -> ((s, d) => Relational.latePriorityAudit(s, d)),
    // end-to-end bucketed co-located join through bucketBy storage
    "q_st6_bucketed_join" -> ((s, d) => Tables.bucketedJoin(s, d)),
    // k-anonymity audit over the (nation, segment) quasi-identifier
    "q_v14_k_anonymity" -> ((s, d) => Validation.kAnonymity(s, d)),
    // Newman modularity of the co-purchase graph under the brand partition
    "q_g11_modularity" -> ((s, d) => Graph.modularity(s, d)),
    // TPC-H Q5 shape: star join, local-supplier residual condition
    "q_r31_local_supplier" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    // TPC-H Q6 shape: pure pushed-predicate scan-agg probe
    "q_r32_revenue_forecast" -> ((s, d) => Relational.revenueForecast(s, d)),
    // TPC-H Q10 shape: quarter returns, post-agg dimension enrichment
    "q_r33_returned_items" -> ((s, d) => Relational.returnedItemReport(s, d)),
    // TPC-H Q19 shape: disjunctive brand/size/quantity clauses
    "q_r34_disjunctive_rev" -> ((s, d) => Relational.disjunctiveRevenue(s, d)),
    // TPC-H Q7 shape: bilateral nation trade, dimension-filter semi-reduce
    "q_r35_volume_shipping" -> ((s, d) => Relational.volumeShipping(s, d)),
    // TPC-H Q8 shape: conditional-aggregate market-share ratio
    "q_r36_market_share" -> ((s, d) => Relational.marketShare(s, d)),
    // TPC-H Q18 shape: HAVING on the fact agg before any join
    "q_r37_large_volume" -> ((s, d) => Relational.largeVolumeCustomers(s, d)),
    // TPC-H Q9 shape: margin per supplier nation per year
    "q_r38_product_margin" -> ((s, d) => Relational.productMargin(s, d)),
    // TPC-H Q16 shape: distinct-supplier diversity per brand/size band
    "q_r39_supplier_diversity" -> ((s, d) => Relational.supplierDiversity(s, d)),
    // TPC-H Q21 shape: last-to-ship supplier on multi-supplier open orders
    "q_r40_waiting_suppliers" -> ((s, d) => Relational.waitingSuppliers(s, d)),
    // TPC-H Q2 shape: correlated min-cost supplier decorrelated to a window
    "q_r41_min_cost_supplier" -> ((s, d) => Relational.minCostSupplier(s, d)),
    // TPC-H Q11 shape: scalar-subquery total as a broadcast one-row frame
    "q_r42_important_parts" -> ((s, d) => Relational.importantParts(s, d)),
    // TPC-H Q12 shape: conditional priority counts per delay band
    "q_r43_delay_bands" -> ((s, d) => Relational.shippingDelayBands(s, d)),
    // TPC-H Q13 shape: left-outer order counts -> customer distribution
    "q_r44_order_count_dist" -> ((s, d) => Relational.orderCountDistribution(s, d)),
    // TPC-H Q14 shape: conditional-aggregate promo revenue ratio
    "q_r45_promo_revenue" -> ((s, d) => Relational.promoRevenue(s, d)),
    // TPC-H Q15 shape: view+MAX as agg + broadcast one-row rejoin
    "q_r46_top_supplier" -> ((s, d) => Relational.topSupplier(s, d)),
    // TPC-H Q20 shape: nested INs as semi-reducer + window share test
    "q_r47_dominant_suppliers" -> ((s, d) => Relational.dominantSuppliers(s, d)),
    // Zipf/hapax vocabulary audit: trigram freqs in exact log2 buckets
    "q_t25_zipf" -> ((s, d) => TextAnalysis.zipfAudit(s, d)),
    // per-partition ordering audit under the p11 arrival perturbation
    "q_p14_ordering_audit" -> ((s, d) => CdcParser.orderingAudit(s, d)),
    // multi-source landmark BFS: 4 landmarks in one vectorized traversal
    "q_g12_landmarks" -> ((s, d) => Graph.landmarkDistances(s, d)),
    // filtered ANN: pre-filter exact vs post-filter IVF, recall per query
    "q_y25_filtered_search" -> ((s, d) => Similarity.filteredSearch(s, d)),
    // y18's centroid refresh maintained incrementally per micro-batch
    "q_stream_centroids" -> ((s, d) => graft.streaming.StreamingJobs.centroidsReplay(s, d)),
    // exact water-filling token-budget allocation across sources
    "q_c30_waterfill" -> ((s, d) => Curation.waterfillAllocation(s, d)),
    // dynamic partition pruning through real partitioned storage
    "q_st7_dpp" -> ((s, d) => Tables.dppJoin(s, d)),
    // interleaved text+image sequence packing (text tokens + patch cost)
    "q_m13_multimodal_pack" -> ((s, d) => Multimodal.multimodalPack(s, d)),
    // 4 personalized PageRanks in one loop, seed as a key column
    "q_g13_ppr_multi" -> ((s, d) => Graph.pprMulti(s, d)),
    // c30's allocation maintained incrementally per micro-batch
    "q_stream_waterfill" -> ((s, d) => graft.streaming.StreamingJobs.waterfillReplay(s, d))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = Map(
    "q_a1_window_agg_5m" -> TradeAggregates.windowAgg5mSql,
    "q_p1_cdc_parse" -> CdcParser.cdcParseRoundtripSql,
    "q_p5_changed_rows" -> CdcParser.changedRowCountsSql,
    "q_a3_minute_rollup" -> DashboardQueries.minuteRollupSql,
    "q_a4_stat_panels" -> DashboardQueries.statPanelsSql,
    "q_a5_distinct_users" -> DashboardQueries.distinctUsersSql,
    "q_a6_liveness" -> DashboardQueries.livenessSql,
    "q_a7_price_timeseries" -> DashboardQueries.priceTimeseriesSql,
    "q_a8_bid_ask_by_user" -> DashboardQueries.bidAskByUserSql,
    "q_p6_recent_hour" -> DashboardQueries.recentHourCountSql,
    "q_o1_recent_top50" -> DashboardQueries.recentTop50Sql,
    "q_o2_recent_purchases" -> DashboardQueries.recentPurchases30Sql,
    "q_o3_minute_counts" -> DashboardQueries.minuteCountsSql,
    "q_r1_pricing_summary" -> Relational.pricingSummarySql,
    "q_r2_revenue_by_brand" -> Relational.revenueByBrandSql,
    "q_r3_top_customers" -> Relational.topCustomersSql,
    "q_r4_revenue_by_nation" -> Relational.revenueByNationSql,
    "q_r5_customers_no_orders" -> Relational.customersWithoutOrdersSql,
    "q_r6_running_totals" -> Relational.supplierRunningTotalsSql,
    "q_r7_asof_join" -> Relational.asofJoinSql,
    "q_r7b_asof_native" -> Relational.asofJoinSql,
    "q_r8_rollup" -> Relational.rollupSummarySql,
    "q_r9_setops" -> Relational.setOpsSql,
    "q_r10_pivot" -> Relational.pivotRevenueSql,
    "q_r11_unpivot" -> Relational.unpivotSummarySql,
    "q_r12_range_join" -> Relational.rangeJoinBinnedSql,
    "q_r13_cube" -> Relational.cubeSummarySql,
    "q_r14_outer_join" -> Relational.outerJoinNationsSql,
    "q_r15_semi_anti" -> Relational.semiAntiSuppliersSql,
    "q_r16_subqueries" -> Relational.subqueryRichCustomersSql,
    "q_a9_session_windows" -> TradeAggregates.sessionWindowsSql,
    "q_a10_exact_percentiles" -> DashboardQueries.exactPercentilesSql,
    "q_t5_top_terms" -> TextAnalysis.topTermsSql,
    "q_d1_large_trades" -> AnomalyDetection.largeTradesSql,
    "q_d2_price_spikes" -> AnomalyDetection.priceSpikesSql,
    "q_d3d4_alert_counts" -> AnomalyDetection.alertCountsSql,
    "q_s3_dedup_redelivery" -> Dedup.dedupRedeliverySql,
    "q_x1_dedup_exact" -> Dedup.dedupExactSql,
    "q_x2b_minhash_checked" -> Dedup.minhashLshPairsCheckedSql,
    "q_x3b_simhash30" -> Dedup.simhash30Sql,
    "q_x3c_simhash_neardup" -> Dedup.simhashNearDupsSql,
    "q_x4_jaccard_3gram" -> Dedup.jaccard3gramPairsSql,
    "q_y1_knn_bruteforce" -> Similarity.knnBruteForceSql,
    "q_y2_knn_ivf" -> Similarity.knnIvfSql,
    "q_y3_embed_neardup" -> Similarity.embeddingNearDupsSql,
    "q_y4b_signlsh_checked" -> Similarity.lshNearDupsCheckedSql,
    "q_t1_lang_id" -> TextAnalysis.langIdSql,
    "q_t2_quality" -> TextAnalysis.qualityScoreSql,
    "q_t3_token_counts" -> TextAnalysis.tokenCountsSql,
    "q_t4_fingerprint" -> TextAnalysis.fingerprintSql,
    "q_t6_normalize" -> TextAnalysis.normalizeSql,
    "q_t7_bigram_novelty" -> TextAnalysis.bigramNoveltySql,
    "q_c1_hash_sample" -> Curation.hashSampleSql,
    "q_c2_source_caps" -> Curation.sourceCapsSql,
    "q_c3_chunking" -> Curation.chunkSql,
    "q_c4_bigram_stats" -> Curation.bigramStatsSql,
    "q_c5_curation_pipeline" -> Curation.curationPipelineSql,
    "q_c6_decontaminate" -> Curation.decontaminateSql,
    "q_c7_pack_shards" -> Curation.packShardsSql,
    "q_c8_mix_rebalance" -> Curation.mixRebalanceSql,
    "q_sql_scalar_panels" -> SqlSurface.scalarPanelsSql,
    "q_sql_concurrent" -> SqlSurface.concurrentPanelsSql,
    "q_m1_media_metadata" -> Multimodal.mediaMetadataSql,
    "q_m2_extract_features" -> Multimodal.extractFeaturesSql,
    "q_m3_sample_frames" -> Multimodal.sampleFramesSql,
    "q_m4_resize" -> Multimodal.resizeSql,
    "q_m5_media_embed_join" -> Multimodal.mediaEmbeddingJoinSql,
    "q_r17_window_funcs" -> Relational.windowFunctionsSql,
    "q_r18_grouping_sets" -> Relational.groupingSetsSql,
    "q_c9_stratified_sample" -> Curation.stratifiedSampleSql,
    "q_t8_pii_redact" -> TextAnalysis.piiRedactSql,
    "q_y5_quantize_int8" -> Similarity.quantizeInt8Sql,
    "q_c10_dedup_clusters" -> Dedup.dedupClustersSql,
    "q_y6_ivf_build" -> Similarity.ivfBuildSql(),
    "q_y7_pq_build" -> Similarity.pqBuildSql(),
    "q_y8_pq_search" -> Similarity.pqSearchSql(),
    "q_c12_fuzzy_decontam" -> Curation.fuzzyDecontaminateSql,
    "q_t9_repetition" -> TextAnalysis.repetitionMetricsSql,
    "q_p7_snapshot_apply" -> CdcParser.snapshotApplySql,
    "q_a12_incremental_mv" -> DashboardQueries.incrementalMvMergeSql,
    "q_r19_recursive_rollup" -> Relational.recursiveSubtreeRollupSql,
    "q_x5_substring_dup" -> Dedup.substringDupStatsSql,
    "q_stream_a1" -> graft.streaming.StreamingJobs.fanOutReplaySql,
    "q_stream_raw" -> graft.streaming.StreamingJobs.fanOutRawSql,
    "q_stream_alerts" -> graft.streaming.StreamingJobs.fanOutAlertsSql,
    "q_stream_d3d4" -> operators.AnomalyDetection.streamAlertCountsSql,
    "q_t10_bm25" -> TextAnalysis.bm25Sql,
    "q_c11_weighted_sample" -> Curation.weightedSampleSql,
    "q_t11_batch_retrieve" -> TextAnalysis.batchRetrieveSql,
    "q_stream_dedup" -> graft.streaming.StreamingJobs.dedupReplaySql,
    "q_y9_semdedup" -> Similarity.semDedupSql(),
    "q_r20_salted_join" -> Relational.saltedSupplierRevenueSql,
    "q_stream_join" -> graft.streaming.StreamingJobs.tradeQuoteJoinSql,
    "q_stream_enrich" -> graft.streaming.StreamingJobs.enrichReplaySql,
    "q_src_roundtrip" -> graft.sources.Formats.roundTripSql,
    "q_stream_outer" -> graft.streaming.StreamingJobs.tradeQuoteOuterSql,
    "q_stream_ohlc" -> graft.streaming.StreamingJobs.ohlcReplaySql,
    "q_stream_ivm" -> graft.streaming.StreamingJobs.ivmJoinSql,
    "q_st5_zorder" -> Tables.zorderStatsSql,
    "q_v1_profile" -> Validation.profileSql,
    "q_v2_constraints" -> Validation.constraintsSql,
    "q_stream_sessions" -> graft.streaming.StreamingJobs.sessionReplaySql,
    "q_stream_w1" -> graft.streaming.StreamingJobs.windowAggReplaySql,
    "q_p8_scd2" -> CdcParser.scd2HistorySql,
    "q_p9_pit_lookup" -> CdcParser.pitLookupSql,
    "q_p10_drop_audit" -> CdcParser.dropAuditSql,
    "q_a19_sliding_distinct" -> DashboardQueries.slidingDistinctSql,
    "q_stream_scd2" -> graft.streaming.StreamingJobs.scd2ReplaySql,
    "q_t12_lm_score" -> TextAnalysis.lmScoreSql,
    "q_r21_sliding_window" -> Relational.slidingTimeWindowSql,
    "q_r22_bloom_join" -> Relational.bloomJoinSql,
    "q_r23_grouped_quantiles" -> Relational.groupedQuantilesSql,
    "q_t14_bpe_train" -> TextAnalysis.bpeTrainSql(),
    "q_t15_bpe_apply" -> TextAnalysis.bpeApplySql(),
    "q_v3_drift" -> Validation.driftSql,
    "q_a14_funnel" -> DashboardQueries.funnelSql,
    "q_a15_retention" -> DashboardQueries.retentionSql,
    "q_a16_transitions" -> DashboardQueries.transitionsSql,
    "q_a17_peak_concurrency" -> DashboardQueries.peakConcurrencySql,
    "q_y10_ann_recall" -> Similarity.annRecallSql,
    "q_c15_pagerank" -> Dedup.pageRankSql,
    "q_c16_canonical" -> Dedup.canonicalPerClusterSql,
    "q_m6_phash_neardup" -> Multimodal.phashNearDupsSql,
    "q_m7_chunk_dedup" -> Multimodal.chunkDedupSql,
    "q_a18_ohlc" -> DashboardQueries.ohlcCandlesSql,
    "q_c21_dataset_card" -> Curation.datasetCardSql,
    "q_t18_vocab_growth" -> TextAnalysis.vocabGrowthSql,
    "q_v6_outlier_days" -> Validation.outlierDaysSql,
    "q_c17_seq_pack" -> Curation.seqPackSql,
    "q_t16_probe_train" -> TextAnalysis.probeTrainSql,
    "q_t17_probe_apply" -> TextAnalysis.probeApplySql,
    "q_y11_mmr_select" -> Similarity.mmrSelectSql,
    "q_v4_version_diff" -> Validation.versionDiffSql,
    "q_v5_freshness" -> Validation.freshnessSql,
    "q_x6_suffix_array" -> Dedup.suffixArraySql,
    "q_x7_repeated_span" -> Dedup.repeatedSpansSql,
    "q_y12_coverage" -> Similarity.coverageSql,
    "q_y13_int8_search" -> Similarity.int8SearchSql,
    "q_y14_silhouette" -> Similarity.silhouetteSql,
    "q_c18_contig_contam" -> Curation.contigContamSql,
    "q_c19_temperature_mix" -> Curation.temperatureMixSql,
    "q_c20_quality_deciles" -> Curation.qualityDecilesSql,
    "q_g1_triangles" -> Graph.trianglesSql,
    "q_g2_also_bought" -> Graph.alsoBoughtSql,
    "q_g3_label_prop" -> Graph.labelPropSql,
    "q_g4_kcore" -> Graph.kcoreSql,
    "q_g5_bfs" -> Graph.bfsSql,
    "q_x9_edit_verify" -> Dedup.editVerifySql,
    "q_x10_minhash_accuracy" -> Dedup.minhashAccuracySql,
    "q_x11_containment" -> Dedup.containmentSql,
    "q_x12_simjoin" -> Dedup.simJoinSql,
    "q_x13_sorted_neighborhood" -> Dedup.sortedNeighborhoodSql,
    "q_v7_table_stats" -> Validation.tableStatsSql,
    "q_x14_sn_recall" -> Dedup.snRecallSql,
    "q_t19_keywords" -> TextAnalysis.keywordsSql,
    "q_c22_leakfree_split" -> Dedup.leakFreeSplitSql,
    "q_y15_probe_sweep" -> Similarity.probeSweepSql,
    "q_y16_power_iter" -> Similarity.powerIterationSql,
    "q_y17_ivfpq_search" -> Similarity.ivfPqSearchSql(),
    "q_x8_dedup_cut" -> Dedup.dedupCutSql,
    "q_x15_incremental_lsh" -> Dedup.incrementalLshSql,
    "q_y18_centroid_refresh" -> Similarity.centroidRefreshSql(),
    "q_t20_collocations" -> TextAnalysis.collocationsSql,
    "q_c23_token_budget" -> Curation.tokenBudgetSql,
    "q_v8_fd_audit" -> Validation.fdAuditSql,
    "q_g6_hits" -> Graph.hitsSql,
    "q_stream_backfill" -> graft.streaming.StreamingJobs.backfillReplaySql,
    "q_y19_binary_search" -> Similarity.binarySearchSql,
    "q_v9_ref_integrity" -> Validation.refIntegritySql,
    "q_y20_hamming_recall" -> Similarity.hammingRecallSql,
    "q_c24_cross_source_dups" -> Curation.crossSourceDupsSql,
    "q_v10_join_cardinality" -> Validation.joinCardinalitySql,
    "q_v11_skew_report" -> Validation.skewReportSql,
    "q_a20_log_histogram" -> DashboardQueries.logHistogramSql,
    "q_g7_ppr" -> Graph.pprSql,
    "q_p11_late_audit" -> CdcParser.lateAuditSql,
    "q_stream_late" -> graft.streaming.StreamingJobs.lateWindowReplaySql,
    "q_y21_kmeanspp_init" -> Similarity.kmeansParallelInitSql(),
    "q_m8_video_dedup" -> Multimodal.videoFrameDedupSql,
    "q_a21_ewma_bands" -> DashboardQueries.ewmaBandsSql,
    "q_y22_matryoshka" -> Similarity.matryoshkaRecallSql(),
    "q_p12_forward_compat" -> CdcParser.forwardCompatParseSql,
    "q_stream_resume" -> graft.streaming.StreamingJobs.resumeReplaySql,
    "q_stream_union" -> graft.streaming.StreamingJobs.unionReplaySql,
    "q_x16_bloom_dedup" -> Dedup.bloomDedupSql,
    "q_c25_dsir_select" -> Curation.dsirSelectSql,
    "q_y23_ood_mahalanobis" -> Similarity.oodMahalanobisSql,
    "q_m9_vad_segments" -> Multimodal.vadSegmentsSql,
    "q_r24_asof_forward" -> Relational.asofJoinForwardSql,
    "q_stream_tws" -> operators.AnomalyDetection.streamAlertCountsSql,
    "q_r25_merge_upsert" -> Relational.mergeUpsertSql,
    "q_t21_simpson_diversity" -> TextAnalysis.simpsonDiversitySql,
    "q_c26_epoch_shuffle" -> Curation.epochShuffleSql,
    "q_m10_crossmodal_agree" -> Multimodal.crossModalAgreementSql,
    "q_stream_merge" -> Relational.mergeUpsertSql,
    "q_stream_profile" -> Validation.profileSql,
    "q_t22_gopher_rules" -> TextAnalysis.gopherRulesSql,
    "q_m11_blob_qc" -> Multimodal.blobQcSql,
    "q_m12_scene_cuts" -> Multimodal.sceneCutsSql,
    "q_y24_hard_negatives" -> Similarity.hardNegativesSql,
    "q_y25_signlsh_recall" -> Similarity.signLshRecallSql,
    "q_y26_ivf_neardup" -> Similarity.ivfNearDupsSql(),
    "q_y27_ivf_recall" -> Similarity.ivfNearDupRecallSql(),
    "q_a21w_ewma_window" -> DashboardQueries.ewmaBandsWSql,
    "q_c10w_clusters_window" -> Dedup.dedupClustersWSql,
    "q_c16w_canonical_window" -> Dedup.canonicalPerClusterWSql,
    "q_c22w_leakfree_window" -> Dedup.leakFreeSplitWSql,
    "q_c27w_incr_window" -> Dedup.incrementalClustersWSql,
    "q_g11w_modularity_window" -> Graph.modularityWSql,
    "q_x6w_suffix_window" -> Dedup.suffixArrayWSql,
    "q_x7w_spans_window" -> Dedup.repeatedSpansWSql,
    "q_x12w_simjoin_window" -> Dedup.simJoinWSql,
    "q_v12_benford" -> Validation.benfordSql,
    "q_c27_incremental_clusters" -> Dedup.incrementalClustersSql,
    "q_stream_sliding" -> graft.streaming.StreamingJobs.slidingDistinctReplaySql,
    "q_c28_pack_lineage" -> Curation.packLineageSql,
    "q_g9_degree_histogram" -> Graph.degreeHistogramSql,
    "q_x17_paragraph_dedup" -> Dedup.paragraphDedupSql,
    "q_t23_rerank" -> TextAnalysis.rerankSql,
    "q_c29_threshold_sweep" -> Dedup.thresholdSweepSql,
    "q_p13_latency_histogram" -> CdcParser.latencyHistogramSql,
    "q_v13_order_consistency" -> Validation.orderConsistencySql,
    "q_stream_latency" -> graft.streaming.StreamingJobs.latencyReplaySql,
    "q_g10_assortativity" -> Graph.assortativitySql,
    "q_a22_dow_hour_heatmap" -> DashboardQueries.dowHourHeatmapSql,
    "q_a23_event_gaps" -> DashboardQueries.eventGapsSql,
    "q_t24_sentences" -> TextAnalysis.sentenceStatsSql,
    "q_r26_shipping_priority" -> Relational.shippingPrioritySql,
    "q_r27_small_qty_revenue" -> Relational.smallQtyRevenueSql,
    "q_r28_lateral_topk" -> Relational.lateralTopOrdersSql,
    "q_r29_sales_opportunity" -> Relational.salesOpportunitySql,
    "q_r30_late_priority" -> Relational.latePriorityAuditSql,
    "q_st6_bucketed_join" -> Tables.bucketedJoinSql,
    "q_v14_k_anonymity" -> Validation.kAnonymitySql,
    "q_g11_modularity" -> Graph.modularitySql,
    "q_r31_local_supplier" -> Relational.localSupplierVolumeSql,
    "q_r32_revenue_forecast" -> Relational.revenueForecastSql,
    "q_r33_returned_items" -> Relational.returnedItemReportSql,
    "q_r34_disjunctive_rev" -> Relational.disjunctiveRevenueSql,
    "q_r35_volume_shipping" -> Relational.volumeShippingSql,
    "q_r36_market_share" -> Relational.marketShareSql,
    "q_r37_large_volume" -> Relational.largeVolumeCustomersSql,
    "q_r38_product_margin" -> Relational.productMarginSql,
    "q_r39_supplier_diversity" -> Relational.supplierDiversitySql,
    "q_r40_waiting_suppliers" -> Relational.waitingSuppliersSql,
    "q_r41_min_cost_supplier" -> Relational.minCostSupplierSql,
    "q_r42_important_parts" -> Relational.importantPartsSql,
    "q_r43_delay_bands" -> Relational.shippingDelayBandsSql,
    "q_r44_order_count_dist" -> Relational.orderCountDistributionSql,
    "q_r45_promo_revenue" -> Relational.promoRevenueSql,
    "q_r46_top_supplier" -> Relational.topSupplierSql,
    "q_r47_dominant_suppliers" -> Relational.dominantSuppliersSql,
    "q_t25_zipf" -> TextAnalysis.zipfAuditSql,
    "q_p14_ordering_audit" -> CdcParser.orderingAuditSql,
    "q_g12_landmarks" -> Graph.landmarkDistancesSql,
    "q_y25_filtered_search" -> Similarity.filteredSearchSql,
    "q_stream_centroids" -> graft.streaming.StreamingJobs.centroidsReplaySql,
    "q_c30_waterfill" -> Curation.waterfillAllocationSql,
    "q_st7_dpp" -> Tables.dppJoinSql,
    "q_m13_multimodal_pack" -> Multimodal.multimodalPackSql,
    "q_g13_ppr_multi" -> Graph.pprMultiSql,
    "q_stream_waterfill" -> graft.streaming.StreamingJobs.waterfillReplaySql
  )
}
