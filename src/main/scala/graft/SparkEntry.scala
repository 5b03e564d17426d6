package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator/capability from SURVEY.md §2
  * (reference surface) or the extension brief (relational, events, dedup,
  * similarity, text analysis, multimodal). [[oracleSql]] carries a
  * result-equivalent DuckDB query for each (omitted only where no SQL
  * equivalent exists, e.g. HLL sketches).
  *
  * Determinism rules shared by both sides: total ORDER BY with unique
  * tiebreaks, floating aggregates rounded, temporal outputs formatted as
  * strings, cross-engine hashing only via md5 (identical in Spark/DuckDB).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * reference's one true query: per-document word count with
    * reference-exact tokenization (SURVEY.md §4.3). */
  def entry(spark: SparkSession): DataFrame =
    queries("wc_per_doc")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface: per-key word count pipeline (SURVEY §2.1) ----
    "wc_per_doc" -> ((s, dir) =>
      WordCount.perKey(Tables.documents(s, dir), col("doc_id"), col("text"))
        .withColumnRenamed("key", "doc_id")
        .orderBy("doc_id", "word")),
    "wc_global" -> ((s, dir) =>
      WordCount.global(Tables.documents(s, dir), col("text"))
        .orderBy("word")),
    "wc_top20" -> ((s, dir) =>
      WordCount.topK(Tables.documents(s, dir), col("text"), 20)),
    // The reference's ACTUAL source modality: a directory of text files,
    // per-FILE aggregation scope via input_file_name() provenance
    // (asio_deep/main.cpp:457-459 — reducers never merge across files).
    // Fixture corpus is committed at fixtures/corpus/perfile and includes
    // the tokenizer edge cases (punct deletion, tab-in-token, double
    // space, ASCII-only case) so the kernel semantics earn an oracle row.
    "wc_per_file" -> ((s, _) =>
      WordCount.perKey(
          Tables.textCorpus(s, PerFileCorpus),
          regexp_extract(col("file"), "[^/]+$", 0), col("line"))
        .withColumnRenamed("key", "file")
        .orderBy("file", "word")),

    // same per-file word count, but scanned through the graft-lines
    // DSv2 connector (the reference's FileProcessorInput contract —
    // ceil(lines/2000) per-file partitions — as a real Spark source),
    // so the connector SPI path itself earns an oracle row
    "wc_v2_source" -> ((s, _) =>
      WordCount.perKey(
          s.read.format("graft-lines").load(PerFileCorpus),
          regexp_extract(col("file"), "[^/]+$", 0), col("line"))
        .withColumnRenamed("key", "file")
        .orderBy("file", "word")),

    // ---- relational surface ----
    "q1_pricing"       -> (Relational.pricingSummary _),
    "q3_top_revenue"   -> (Relational.topRevenueOrders _),
    "q5_region_revenue" -> (Relational.regionRevenue _),
    "q7_volume_shipping" -> (Relational.volumeShipping _),
    "q8_market_share"   -> (Relational.marketShare _),
    "q13_custdist"      -> (Relational.customerDistribution _),
    "q15_top_supplier"  -> (Relational.topSupplier _),
    "q17_small_qty"     -> (Relational.smallQtyRevenue _),
    "q21_waiting_supplier" -> (Relational.waitingSuppliers _),
    "q22_idle_customers" -> (Relational.idleHighBalanceCustomers _),
    "q4_order_priority" -> (Relational.orderPriorityCount _),
    "q6_forecast_revenue" -> (Relational.forecastRevenue _),
    "q10_returned_items" -> (Relational.returnedItemCustomers _),
    "q14_promo_revenue" -> (Relational.promoRevenue _),
    "q18_large_orders"  -> (Relational.largeOrders _),
    "q19_disjunctive"   -> (Relational.disjunctiveRevenue _),
    "q11_important_parts" -> (Relational.importantParts _),
    "q2_min_cost_supp"  -> (Relational.minCostSupplier _),
    "q9_product_profit" -> (Relational.productTypeProfit _),
    "q12_priority_shipping" -> (Relational.priorityShippingMix _),
    "q16_supplier_cnt"  -> (Relational.supplierCountByPart _),
    "q20_promo_suppliers" -> (Relational.dominantShareSuppliers _),
    "q_brand_revenue"  -> (Relational.brandRevenue _),
    "q_semi_join"      -> (Relational.customersWithOpenOrders _),
    "q_anti_join"      -> (Relational.customersWithoutOrders _),
    "q_outer_join"     -> (Relational.customerOrderStats _),
    "q_window_rank"    -> (Relational.topOrdersPerCustomer _),
    "q_window_running" -> (Relational.runningCustomerSpend _),
    "q_window_lag"     -> (Relational.supplierShipmentDeltas _),
    "q_rollup"         -> (Relational.returnFlagRollup _),
    "q_cube"           -> (Relational.orderStatusCube _),
    "q_grouping_sets"  -> (Relational.customerGroupingSets _),
    "q_distinct"       -> (Relational.distinctFlagStatus _),
    "q_count_distinct" -> (Relational.distinctPartsPerFlag _),
    "q_approx_distinct" -> (Relational.approxDistinctUsers _),
    "q_approx_quantile" -> (Relational.approxQuantilePrices _),
    "q_sketch_cms"      -> (Relational.cmsTopWords _),
    "q_sketch_hll_merge" -> (Relational.hllMergeUsers _),
    "q_assoc_rules"     -> (Relational.associationRules _),
    "q_set_ops"        -> (Relational.nationSetOps _),
    "q_top_orders"     -> (Relational.topOrders _),
    "q_sql_scalar_subquery" -> (Relational.sqlAboveAvgBalance _),
    "q_pivot"          -> (Relational.returnFlagPivot _),
    "q_stats_moments"  -> (Relational.flagQtyPriceStats _),
    "q_quality_audit"  -> (Relational.qualityAudit _),
    "q_exact_quantile" -> (Relational.exactPercentiles _),

    // ---- events / time-series surface ----
    "q_events_hourly"   -> (EventsOps.hourlyTypeCounts _),
    "q_events_ohlc"     -> (EventsOps.ohlcResample _),
    "q_events_sliding"  -> (EventsOps.slidingTypeCounts _),
    "q_events_retention" -> (EventsOps.retentionCohorts _),
    "q_events_sessions" -> (EventsOps.userSessions _),
    "q_events_json"     -> (EventsOps.propsKeyHistogram _),
    "q_events_daily_share" -> (EventsOps.dailyTypeShare _),
    "q_events_funnel"   -> (EventsOps.funnelConversion _),
    "q_events_transitions" -> (EventsOps.typeTransitions _),
    "q_events_scd2"     -> (EventsOps.stateIntervals _),
    "q_events_rolling"  -> (EventsOps.rollingUserActivity _),
    "q_events_decay"    -> (EventsOps.decayedUserFeatures _),
    "q_events_anomaly"  -> (EventsOps.anomalousDays _),
    "q_events_resample" -> (EventsOps.resampleHourly _),
    "q_asof_join"  -> (EventsOps.asofPriorPurchase _),
    "q_range_join" -> (EventsOps.valueTierJoin _),
    "q_range_join_binned" -> (EventsOps.valueTierJoinBinned _),

    // ---- dedup surface (training-data pipeline brief) ----
    "q_dedup_exact_stats"   -> (Dedup.exactStats _),
    "q_dedup_exact_groups"  -> (Dedup.exactGroups _),
    "q_dedup_exact_planted" -> (Dedup.exactGroupsPlanted _),
    "q_dedup_minhash_lsh"   -> (Dedup.minhashLsh _),
    "q_dedup_source_matrix" -> (Dedup.sourceDupMatrix _),
    "q_dedup_lsh_sweep"     -> (Dedup.lshBandSweep _),
    "q_dedup_simhash"       -> (Dedup.simhashPairs _),
    "q_dedup_simhash_wide"  -> (Dedup.simhashPairsWide _),
    "q_dedup_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "q_dedup_containment" -> (Dedup.containmentPairs _),
    "q_dedup_winnow"        -> (Dedup.winnowPairs _),
    "q_dedup_cdc_chunks"    -> (Dedup.cdcChunkStats _),
    "q_dedup_cdc_inc"       -> (Dedup.cdcScreenIncremental _),
    "q_dedup_prefix_join"   -> (Dedup.prefixFilterJoin _),
    "q_dedup_recall"        -> (Dedup.lshRecallAudit _),
    "q_dedup_embedding"     -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),
    "q_dedup_keep_set"      -> (Dedup.dedupedCorpus _),
    "q_dedup_incremental"   -> (Dedup.incrementalMinhash _),
    "q_dedup_forget"        -> (Dedup.bandIndexForgetScreen _),
    "q_dedup_editdist"      -> (Dedup.editDistanceVerify _),
    "q_dedup_clusters"      -> (Dedup.nearDupComponents _),
    "q_dedup_cc_inc"        -> (Dedup.ccIncremental _),
    "q_dedup_keep_clustered" -> (Dedup.dedupedCorpusClustered _),
    "q_split_leakage_safe"  -> (Dedup.leakageSafeSplit _),

    // ---- similarity search surface ----
    "q_ann_brute_force" -> (SimSearch.bruteForceTopK _),
    "q_ann_bq_hamming"  -> (SimSearch.bqHammingTopK _),
    "q_ann_bq_recall"   -> (SimSearch.bqRecall _),
    "q_ann_bq_routed"   -> (SimSearch.bqRoutedTopK _),
    "q_ann_lsh_bucket"  -> (SimSearch.lshBucketedTopK _),
    "q_ann_topk_agg"    -> (SimSearch.topKViaAggregator _),
    "q_ann_multiprobe"  -> (SimSearch.lshMultiProbeTopK _),
    "q_ann_ivf_assign"  -> (SimSearch.ivfAssign _),
    "q_ann_ivf_routed"  -> (SimSearch.ivfRoutedTopK _),
    "q_ann_recall"      -> (SimSearch.annRecall _),
    "q_ann_mrl_recall"  -> (SimSearch.mrlRecall _),
    "q_dedup_semantic"  -> (SimSearch.semanticDedup _),
    "q_ann_kmeans"      -> (SimSearch.kmeansTrain _),
    "q_ann_kmeans_conv" -> (SimSearch.kmeansConvTop _),
    "q_ann_kmeans_routed" -> (SimSearch.kmeansRoutedTopK _),
    "q_ann_quantize_int8" -> (SimSearch.quantizeInt8Report _),
    "q_ann_pca"         -> (SimSearch.pcaPower _),
    "q_ann_pq"          -> (SimSearch.pqTopK _),
    "q_ann_pq_recall"   -> (SimSearch.pqRecall _),
    "q_ann_ivfadc"      -> (SimSearch.ivfAdcTopK _),
    "q_ann_ivfadc_res"  -> (SimSearch.ivfAdcResidualTopK _),
    "q_ann_opq"         -> (SimSearch.opqTopK _),
    "q_train_hard_negatives" -> (SimSearch.hardNegatives _),
    "q_train_triplets"  -> (SimSearch.tripletMine _),
    "q_train_hard_negatives_routed" -> (SimSearch.hardNegativesRouted _),
    "q_ann_ivfadc_refine" -> (SimSearch.ivfAdcRefineTopK _),
    "q_ann_index_merge"  -> (SimSearch.annIndexMergeServe _),
    "q_ann_index_forget" -> (SimSearch.annIndexForgetServe _),
    "q_decontaminate_semantic" -> (SimSearch.semanticDecontaminate _),
    "q_profile_embedding_drift" -> (SimSearch.embeddingDrift _),

    // ---- text-analysis surface ----
    "q_text_lang_id"     -> (TextAnalysis.langIdConfusion _),
    "q_text_quality"     -> (TextAnalysis.qualityBySource _),
    "q_text_token_stats" -> (TextAnalysis.tokenStats _),
    "q_text_fingerprint" -> (TextAnalysis.fingerprints _),
    "q_text_bigrams"     -> (TextAnalysis.bigramsTop20 _),
    "q_text_tfidf"       -> (TextAnalysis.tfidfTop _),
    "q_text_bm25"        -> (TextAnalysis.bm25Retrieve _),
    "q_sketch_heavy_hitters" -> (TextAnalysis.heavyHitters _),
    "q_sample_bottomk"   -> (TextAnalysis.bottomKSample _),
    "q_text_rrf_fusion"  -> (TextAnalysis.rrfFuse _),
    "q_text_rm3"         -> (TextAnalysis.rm3Retrieve _),
    "q_pipeline_retrieval" -> (TextAnalysis.hybridRetrieve _),
    "q_pipeline_retrieval_capped" -> (TextAnalysis.hybridRetrieveCapped _),
    "q_text_bm25_serve"  -> (TextAnalysis.bm25ServeInc _),
    "q_text_bm25_index_merge" -> (TextAnalysis.bm25IndexMergeServe _),
    "q_text_bm25_forget" -> (TextAnalysis.bm25IndexForgetServe _),
    "q_text_bm25_capped" -> (TextAnalysis.bm25CappedServe _),
    "q_text_bm25_cap_sweep" -> (TextAnalysis.bm25CapSweepAudit _),
    "q_text_retrieval_ndcg" -> (TextAnalysis.retrievalRankQuality _),
    "q_sketch_bottomk_union" -> (TextAnalysis.bottomKUnion _),
    "q_text_quality_filter" -> (TextAnalysis.qualityFiltered _),
    "q_sample_stratified" -> (TextAnalysis.stratifiedSample _),
    "q_sample_weighted"  -> (TextAnalysis.weightedSample _),
    "q_sample_token_budget" -> (TextAnalysis.tokenBudgetSample _),
    "q_mix_temperature"  -> (TextAnalysis.temperatureMix _),
    "q_mix_unimax"       -> (TextAnalysis.unimaxMix _),
    "q_mix_epochs"       -> (TextAnalysis.epochMix _),
    "q_mix_epochs_sweep" -> (TextAnalysis.epochSweep _),
    "q_text_pack_sweep"  -> (TextAnalysis.packSweep _),
    "q_dsir_resample"    -> (TextAnalysis.dsirResample _),
    "q_dsir_screen_inc"  -> (TextAnalysis.dsirScreenInc _),
    "q_pipeline_curation" -> (TextAnalysis.curationFunnel _),
    "q_pipeline_curation_inc" -> (TextAnalysis.curationFunnelInc _),
    "q_mix_doremi"       -> (TextAnalysis.doremiWeights _),
    "q_mix_doremi_draw"  -> (TextAnalysis.doremiMix _),
    "q_train_quality_lr" -> (TextAnalysis.qualityLrTrain _),
    "q_train_quality_lr_apply" -> (TextAnalysis.qualityLrApply _),
    "q_train_quality_lr_calibration" -> (TextAnalysis.qualityLrCalibration _),
    "q_merge_upsert"     -> (CorpusMerge.mergeSummary _),
    "q_merge_scd2"       -> (CorpusMerge.scd2History _),
    "q_merge_timetravel" -> (CorpusMerge.timeTravelCensus _),
    "q_merge_ivm"        -> (CorpusMerge.incrementalViewMaintenance _),
    "q_snapshot_diff"    -> (CorpusMerge.snapshotDiff _),
    "q_layout_compaction" -> (Layout.compactionAudit _),
    "q_zorder_values"    -> (Layout.zorderValues _),
    "q_zorder_pruning"   -> (Layout.zonemapPruning _),
    "q_zorder_pruning_files" -> (Layout.zonemapPruningFiles _),
    "q_layout_bloom_files" -> (Layout.bloomPruningFiles _),
    "q_layout_bloom_ingest" -> (Layout.bloomIngest _),
    "q_layout_bloom_forget" -> (Layout.bloomForget _),
    "q_hilbert_pruning"  -> (Layout.hilbertPruning _),
    "q_hilbert_pruning_files" -> (Layout.hilbertPruningFiles _),
    "q_zorder_ingest"    -> (Layout.zorderIngest _),
    "q_zorder_forget"    -> (Layout.zorderForget _),
    "q_hilbert_ingest"   -> (Layout.hilbertIngest _),
    "q_hilbert_forget"   -> (Layout.hilbertForget _),
    "q_export_shards"    -> (Layout.exportManifest _),
    "q_text_pack"        -> (TextAnalysis.packSequences _),
    "q_text_redact"      -> (TextAnalysis.piiRedactionStats _),
    "q_text_decontaminate" -> (TextAnalysis.decontaminate _),
    "q_text_repetition"  -> (TextAnalysis.repetitionStats _),
    "q_text_entropy"     -> (TextAnalysis.tokenEntropy _),
    "q_text_chunk"       -> (TextAnalysis.chunkSequences _),
    "q_text_lm_score"    -> (TextAnalysis.lmScore _),
    "q_text_ppl_buckets" -> (TextAnalysis.perplexityBuckets _),
    "q_corpus_composition" -> (TextAnalysis.corpusComposition _),
    "q_dedup_span_coverage" -> (TextAnalysis.dupSpanCoverage _),
    "q_text_boilerplate" -> (TextAnalysis.boilerplateStrip _),
    "q_text_boilerplate_apply" -> (TextAnalysis.boilerplateApply _),
    "q_dedup_span_apply" -> (TextAnalysis.dupSpanApply _),
    "q_dedup_span_maximal" -> (TextAnalysis.dupSpanApplyMaximal _),
    "q_dedup_span_inc" -> (TextAnalysis.dupSpanApplyIncremental _),
    "q_text_boilerplate_inc" -> (TextAnalysis.boilerplateApplyIncremental _),
    "q_text_collocations" -> (TextAnalysis.collocationsTop _),

    "q_text_bpe_step" -> (TextAnalysis.bpeMergeStep _),
    "q_text_bpe_train" -> (TextAnalysis.bpeTrain _),
    "q_text_unicode_norm" -> (TextAnalysis.unicodeNormCensus _),
    "q_text_bpe_apply" -> (TextAnalysis.bpeApply _),
    "q_sample_domain_cap" -> (TextAnalysis.domainCapSample _),
    "q_sample_kcenter" -> (SimSearch.kcenterSelectPruned _),
    "q_sample_kcenter_batch" -> (SimSearch.kcenterSelectBatch _),
    "q_sample_kcenter_weights" -> (SimSearch.kcenterWeights _),
    "q_sample_coreset_lw" -> (SimSearch.coresetLightweight _),
    "q_sample_coreset_train" -> (SimSearch.coresetTrain _),
    "q_window_ntile"  -> (TextAnalysis.curriculumStages _),

    // ---- profiling / governance surface ----
    "q_profile_columns"  -> (Profiling.columnProfile _),
    "q_profile_histogram" -> (Profiling.totalpriceHistogram _),
    "q_profile_eqdepth"  -> (Profiling.eqdepthHistogram _),
    "q_profile_skew"     -> (Profiling.keySkewProfile _),
    "q_profile_drift"    -> (Profiling.driftReport _),
    "q_profile_ks"       -> (Profiling.ksDrift _),
    "q_profile_constraints" -> (Profiling.constraintSuite _),
    "q_stats_bootstrap"  -> (Profiling.bootstrapCi _),
    "q_stats_bootstrap_diff" -> (Profiling.bootstrapDiffCi _),
    "q_dedup_keep_best"  -> (Dedup.dedupedCorpusBest _),

    // ---- graph surface (beside the CC loop in Dedup) ----
    "q_graph_pagerank" -> (Graph.pagerankTop _),
    "q_graph_pagerank_knn" -> (Graph.pagerankKnnTop _),
    "q_graph_pagerank_conv" -> (Graph.pagerankConvTop _),
    "q_graph_triangles" -> (Graph.triangleStats _),

    // ---- multimodal surface (binary payload columns) ----
    "q_multimodal_stats" -> (graft.multimodal.Multimodal.mimeStats _),
    "q_multimodal_dedup" -> (graft.multimodal.Multimodal.mediaDedupPlanted _),
    // both phash queries oracle-check against the committed expected-hash
    // fixture (DuckDB cannot decode PNG; the Spark side runs the real
    // JDK codec) — ImageHashSpec is the additional exact decode gate
    "q_multimodal_phash" -> (graft.multimodal.Multimodal.phashNearDupPlanted _),
    "q_multimodal_phash_pairs" -> (graft.multimodal.Multimodal.phashPairs _),
    "q_multimodal_audio_fp" -> (graft.multimodal.Multimodal.audioFpPairs _),
    "q_multimodal_audio_inc" -> (graft.multimodal.Multimodal.audioFpScreenInc _),
    "q_multimodal_phash_inc" -> (graft.multimodal.Multimodal.phashScreenInc _),
    "q_multimodal_video_fp" -> (graft.multimodal.Multimodal.videoFpPairs _),
    "q_multimodal_video_inc" -> (graft.multimodal.Multimodal.videoFpScreenInc _),

    // ---- scale-technique surface: the salted two-phase aggregation must
    // produce exactly the unsalted answer (salting redistributes partial
    // state, never changes the algebra) — the oracle is the plain GROUP BY
    "q_salted_agg" -> ((s, dir) =>
      ScaleTechniques.saltedSumCount(
          Tables.lineitem(s, dir), col("l_returnflag"), col("l_quantity"), 8)
        .select(col("key").as("l_returnflag"),
          round(col("total"), 2).as("sum_qty"), col("cnt"))
        .orderBy("l_returnflag")),

    // salted join: the skewed-fact-side pattern must produce exactly the
    // plain join's answer (salting only redistributes rows) — the oracle
    // is the unsalted join
    "q_salted_join" -> ((s, dir) => {
      val fact = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val dim = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      ScaleTechniques.saltedJoin(fact, dim, "partkey", 8)
        .groupBy("p_brand")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    // Bloom runtime-filter join: the bit-array prune is a row-local
    // superset filter, so the result must equal the plain join exactly —
    // which is what the oracle computes (no bloom on the DuckDB side)
    "q_join_dpp" -> (ScaleTechniques.dppRevenueByMonth _),
    "q_join_bloom_prune" -> ((s, dir) => {
      val dim = Tables.orders(s, dir)
        .filter(col("o_totalprice") > BloomDimPrice)
        .select(col("o_orderkey"), col("o_orderpriority"))
      ScaleTechniques.bloomPrunedJoin(
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          dim, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(countDistinct("o_orderkey").as("n_orders"),
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // ---- plugin surface: same per-file word count, but resolved and
    // composed through the OperatorRegistry (the dlopen analog), so the
    // registry path itself earns an oracle row ----
    "q_registry_pipeline" -> ((s, _) => {
      val corpus = Tables.textCorpus(s, PerFileCorpus)
        .select(regexp_extract(col("file"), "[^/]+$", 0).as("file"), col("line"))
      graft.plugins.OperatorRegistry.pipeline(
        Seq("input", "mapper", "counter", "ordered_sink"))(corpus)
    }),
  )

  /** Committed text-file fixture corpus for the per-file word-count
    * query; absolute so Verify (Spark) and the driver's DuckDB oracle
    * resolve the same files. */
  val PerFileCorpus = "/root/repo/fixtures/corpus/perfile"

  /** Dim-side predicate for the Bloom runtime-filter join: ~2–3% of
    * orders at every SF (o_totalprice is SF-invariant in distribution). */
  val BloomDimPrice = 480000

  /** DuckDB fragment for the reference-exact tokenizer (mirror of
    * `TextFunctions.tokenize`): strip ASCII punctuation, ASCII-lowercase,
    * split on single spaces, drop empties. */
  private val DuckTok =
    "list_filter(string_split(translate(regexp_replace(text, '[[:punct:]]', '', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), t -> t <> '')"

  /** DuckDB fragment: distinct word-3-gram shingles from `toks` (mirror of
    * `TextFunctions.wordNgrams(…, 3)` + `array_distinct`). */
  private val DuckShingles =
    "list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"

  /** DuckDB CTE chain mirroring `TextAnalysis.bpeMergesOf`: the shared
    * prefix of the two BPE-trainer oracles. `v` is the trainable
    * vocabulary with corpus frequencies, `s0` its character-level
    * delimiter segmentation, and each generated round `i` adds the
    * count (`p{i}`), deterministic argmax (`m{i}`), and literal-replace
    * merge (`s{i}`) CTEs — the same single-pass non-overlapping
    * `replace` semantics the Spark loop executes, so the two engines'
    * merge tables agree symbol-for-symbol. Generated, not hand-written,
    * so `TextAnalysis.BpeTrainRounds` stays the single knob. */
  private def duckBpeChain(rounds: Int): String = {
    val head =
      s"""WITH tok AS (SELECT unnest($DuckTok) AS word FROM documents),
         |v AS (SELECT word, count(*)::BIGINT AS n_w FROM tok
         |      WHERE regexp_matches(word, '^[a-z0-9]+$$') AND length(word) >= 2
         |      GROUP BY 1),
         |s0 AS (SELECT word, n_w,
         |         '|' || array_to_string(list_transform(range(1, length(word) + 1),
         |           i -> substr(word, i, 1)), '||') || '|' AS seg
         |       FROM v)""".stripMargin
    // each s_i LEFT-JOINs its merge row and coalesces to the previous
    // segmentation, so an exhausted merge chain (m_i empty on a tiny or
    // fully-merged vocabulary) degenerates s_i to s_{i-1} instead of
    // emptying every later CTE — mirroring the Spark side, which folds
    // only the merges the trainer actually learned
    val steps = (1 to rounds).map { i =>
      s""",
         |p$i AS (SELECT t[i] AS lhs, t[i + 1] AS rhs, n_w
         |       FROM (SELECT string_split(trim(seg, '|'), '||') AS t, n_w
         |             FROM s${i - 1}) q,
         |            unnest(range(1, len(t))) AS u(i)),
         |m$i AS (SELECT $i::BIGINT AS round, lhs, rhs, lhs || rhs AS merged,
         |         sum(n_w)::BIGINT AS freq
         |       FROM p$i GROUP BY lhs, rhs ORDER BY freq DESC, lhs, rhs LIMIT 1),
         |s$i AS (SELECT q.word, q.n_w,
         |         coalesce(replace(q.seg, '|' || m$i.lhs || '||' || m$i.rhs || '|',
         |                 '|' || m$i.lhs || m$i.rhs || '|'), q.seg) AS seg
         |       FROM s${i - 1} q LEFT JOIN m$i ON TRUE)""".stripMargin
    }
    head + steps.mkString
  }

  /** DuckDB CTE chain of the relational GD trainer (the shared
    * WITH…p3 prefix of the two quality-classifier oracles): features,
    * two unrolled fixed-point GD steps, and the per-doc probability
    * frame `p3 (doc_id, y, p)` under the trained weights. */
  private def duckLrChain: String =
    s"""WITH tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents),
         |lab AS (SELECT doc_id, toks,
         |          CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         |        FROM tok WHERE len(toks) >= 1),
         |grams AS (
         |  SELECT doc_id, y, unnest(toks) AS g FROM lab
         |  UNION ALL
         |  SELECT doc_id, y,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |  FROM lab),
         |feat AS (SELECT doc_id, y,
         |           CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
         |             % ${TextAnalysis.DsirBuckets} AS bucket,
         |           count(*)::BIGINT AS cnt
         |         FROM grams GROUP BY 1, 2, 3),
         |ng AS (SELECT doc_id, sum(cnt)::BIGINT AS n_g FROM feat GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS nn FROM ng),
         |f AS (SELECT feat.doc_id, feat.y, feat.bucket, feat.cnt, ng.n_g
         |      FROM feat JOIN ng USING (doc_id)
         |      UNION ALL
         |      SELECT doc_id, any_value(y), -1, sum(cnt)::BIGINT, sum(cnt)::BIGINT
         |      FROM feat GROUP BY doc_id),
         |g1 AS (SELECT bucket,
         |         sum(CAST(round((0.5 - y) * cnt / n_g / nn * 10000000000, 0)
         |           AS BIGINT))::BIGINT AS g_fp
         |       FROM f CROSS JOIN nn GROUP BY bucket),
         |w1 AS (SELECT bucket, -g_fp * ${TextAnalysis.QualityLrRate} AS w_fp FROM g1),
         |s2 AS (SELECT doc_id, any_value(y) AS y, any_value(n_g) AS n_g,
         |         sum(w_fp * cnt)::BIGINT AS num
         |       FROM f JOIN w1 USING (bucket) GROUP BY doc_id),
         |p2 AS (SELECT doc_id,
         |         round(1.0 / (1.0 + exp(-(num::DOUBLE / n_g / 10000000000.0)))
         |           - y, 9) AS r9
         |       FROM s2),
         |g2 AS (SELECT bucket,
         |         sum(CAST(round(r9 * cnt / n_g / nn * 10000000000, 0)
         |           AS BIGINT))::BIGINT AS g_fp
         |       FROM f JOIN p2 USING (doc_id) CROSS JOIN nn GROUP BY bucket),
         |w2 AS (SELECT w1.bucket, (w1.w_fp - coalesce(g2.g_fp, 0) * ${TextAnalysis.QualityLrRate})::BIGINT AS w_fp
         |       FROM w1 LEFT JOIN g2 USING (bucket)),
         |s3 AS (SELECT doc_id, any_value(y) AS y, any_value(n_g) AS n_g,
         |         sum(w_fp * cnt)::BIGINT AS num
         |       FROM f JOIN w2 USING (bucket) GROUP BY doc_id),
         |p3 AS (SELECT doc_id, y,
         |         1.0 / (1.0 + exp(-(num::DOUBLE / n_g / 10000000000.0))) AS p
         |       FROM s3)""".stripMargin

  /** DuckDB fragment: L2 norm of `embedding`, matching
    * `VectorFunctions.norm`'s sequential double fold exactly (a left fold
    * seeded with 0.0 equals DuckDB's `list_reduce` first-element seed,
    * since 0.0 + x == x in IEEE doubles). */
  private val DuckNorm =
    "sqrt(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))"

  /** DuckDB fragment: 8-bit sign bucket over the leading dimensions
    * (mirror of `VectorFunctions.signBucket(…, 8)`). */
  private val DuckBucket =
    "list_sum(list_transform(range(0, 8), d -> CASE WHEN embedding[d + 1] >= 0 THEN (1::BIGINT << d) ELSE 0 END))::BIGINT"

  /** DuckDB CTE chain mirroring `Dedup.cdcChunksOf` over corpus CTE
    * `$src` — emits `${p}chunks(doc_id, chars, clen, ch)`; single
    * source of truth for both CDC oracles. */
  private def duckCdcChunkCtes(src: String, p: String): String =
    s"""${p}nrm AS (SELECT doc_id, array_to_string($DuckTok, ' ') AS norm
       |        FROM $src),
       |${p}nn AS (SELECT doc_id, norm, length(norm)::BIGINT AS chars
       |       FROM ${p}nrm WHERE length(norm) >= ${Dedup.CdcK}),
       |${p}bounds AS (SELECT doc_id, i + ${Dedup.CdcK} AS start
       |           FROM ${p}nn, unnest(range(1, length(norm) - ${Dedup.CdcK - 1} + 1)) AS u(i)
       |           WHERE CAST('0x' || substr(md5(substr(norm, i, ${Dedup.CdcK})), 1, 8)
       |                   AS BIGINT) % ${Dedup.CdcDivisor} = 0),
       |${p}starts AS (SELECT doc_id, 1 AS start FROM ${p}nn
       |           UNION ALL SELECT doc_id, start FROM ${p}bounds),
       |${p}segs AS (SELECT s.doc_id, s.start,
       |           coalesce(lead(s.start) OVER (PARTITION BY s.doc_id
       |             ORDER BY s.start), chars + 1) - s.start AS clen,
       |           norm, chars
       |         FROM ${p}starts s JOIN ${p}nn USING (doc_id)),
       |${p}chunks AS (SELECT doc_id, chars, clen,
       |             md5(substr(norm, start, clen::INT)) AS ch
       |           FROM ${p}segs WHERE clen > 0)""".stripMargin

  /** DuckDB fragment: one 32-bit sign word of the binary-quantized
    * embedding starting at dimension `lo` (mirror of
    * `VectorFunctions.signWord(…, lo, 32)`). */
  private def duckSignWord(lo: Int): String =
    s"list_sum(list_transform(range(0, 32), d -> CASE WHEN " +
      s"embedding[d + ${lo + 1}] >= 0 THEN (1::BIGINT << d) " +
      s"ELSE 0::BIGINT END))::BIGINT"

  /** DuckDB fragment: sequential-fold dot product of `$a` and `$b`
    * (mirror of `VectorFunctions.dot`). */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)"

  /** DuckDB fragment: sqrt(Σx²) over an arbitrary DOUBLE-castable list
    * expression (the `embedding`-hardcoded [[DuckNorm]], generalized). */
  private def duckNormOf(e: String): String =
    s"sqrt(list_reduce(list_transform($e, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))"

  /** DuckDB fragment: fold-exact squared L2 between two list columns
    * (mirror of `VectorFunctions.l2sq`'s sequential double fold). */
  /** The IVF-PQ merged-index serve chain at frozen even-half artifacts
    * — shared by the add-path oracle (`q_ann_index_merge`,
    * indexPred = TRUE) and the retraction oracle
    * (`q_ann_index_forget`, indexPred excludes the erasure list from
    * the inverted-list rows; artifacts and probes untouched). */
  private def duckAnnMergeServe(indexPred: String): String =
    s"""WITH mv0 AS (SELECT vec_id, unnest(range(0, len(embedding))) AS d,
       |         unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
       |       FROM embeddings),
       |mv AS (SELECT vec_id, d, d // ${64 / SimSearch.PqM} AS sub, val FROM mv0),
       |msv AS (SELECT * FROM mv WHERE vec_id % 2 = 0),
       |mseeds AS (SELECT vec_id,
       |             (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS code_id
       |           FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
       |                 ORDER BY vec_id LIMIT ${SimSearch.PqK})),
       |mts AS (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
       |        ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR || '#kmtrain'), 1, 8) AS BIGINT),
       |                 vec_id
       |        LIMIT ${SimSearch.KmTrainPerCent * SimSearch.PqK}),
       |mtv AS (SELECT msv.* FROM msv JOIN mts USING (vec_id)),
       |mc0 AS (SELECT sub, code_id, d, val AS c FROM msv JOIN mseeds USING (vec_id)),
       |md1 AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |        FROM mtv JOIN mc0 USING (sub, d) GROUP BY 1, 2, 3),
       |ma1 AS (SELECT vec_id, sub, code_id FROM (
       |          SELECT vec_id, sub, code_id,
       |            row_number() OVER (PARTITION BY vec_id, sub
       |              ORDER BY d2, code_id) AS rnk
       |          FROM md1) WHERE rnk = 1),
       |mbook AS (SELECT sub, code_id, d, avg(val) AS c
       |          FROM mtv JOIN ma1 USING (vec_id, sub) GROUP BY 1, 2, 3),
       |menc AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |         FROM mv JOIN mbook USING (sub, d) GROUP BY 1, 2, 3),
       |mcodes AS (SELECT vec_id, sub, code_id FROM (
       |             SELECT vec_id, sub, code_id,
       |               row_number() OVER (PARTITION BY vec_id, sub
       |                 ORDER BY d2, code_id) AS rnk
       |             FROM menc) WHERE rnk = 1),
       |me AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
       |mcents AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
       |           FROM me WHERE vec_id % 2 = 0 AND vec_id >= ${SimSearch.IvfSeedBase}
       |           ORDER BY vec_id LIMIT ${SimSearch.IvfK}),
       |mrank AS (SELECT me.vec_id, mcents.cent_id,
       |            row_number() OVER (PARTITION BY me.vec_id
       |              ORDER BY round(${duckDot("me.embedding", "mcents.cent_emb")} / (me.nrm * mcents.cent_nrm), 6) DESC,
       |                       mcents.cent_id) AS rnk
       |          FROM me CROSS JOIN mcents),
       |massign AS (SELECT vec_id, cent_id FROM mrank WHERE rnk = 1),
       |mprobe AS (SELECT vec_id AS q_id, cent_id FROM mrank
       |           WHERE vec_id < ${SimSearch.NQueries}
       |             AND rnk <= ${SimSearch.IvfNProbe}),
       |mlut AS (SELECT mv.vec_id AS q_id, sub, code_id,
       |           sum((val - c) * (val - c)) AS sub_d2
       |         FROM mv JOIN mbook USING (sub, d)
       |         WHERE mv.vec_id < ${SimSearch.NQueries} GROUP BY 1, 2, 3),
       |mrouted AS (SELECT p.q_id, c.vec_id, c.sub, c.code_id
       |            FROM mcodes c JOIN massign a USING (vec_id)
       |            JOIN mprobe p USING (cent_id)
       |            WHERE c.vec_id <> p.q_id AND ($indexPred)),
       |madc AS (SELECT q_id, vec_id AS neighbor, round(sum(sub_d2), 6) AS adc_d2
       |         FROM mrouted JOIN mlut USING (q_id, sub, code_id) GROUP BY 1, 2),
       |mranked AS (SELECT q_id, neighbor, adc_d2,
       |              row_number() OVER (PARTITION BY q_id
       |                ORDER BY adc_d2, neighbor) AS "rank"
       |            FROM madc)
       |SELECT q_id, "rank", neighbor, adc_d2 FROM mranked
       |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin

  /** The lightweight-coreset scoring chain (WITH-body ending at `top`)
    * — shared by the draw oracle (`q_sample_coreset_lw`) and the
    * training-audit oracle (`q_sample_coreset_train`). */
  private def duckCoresetCtes: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |fx AS (SELECT unnest(range(0, len(embedding))) AS pos,
      |         unnest(list_transform(embedding,
      |           x -> round(x::DOUBLE * 1000000.0, 0)::BIGINT)) AS fxv
      |       FROM e),
      |dims AS (SELECT pos, sum(fxv)::BIGINT AS sfx, count(*)::BIGINT AS cnt
      |         FROM fx GROUP BY pos),
      |mu AS (SELECT list(sfx::DOUBLE / (cnt::DOUBLE * 1000000.0)
      |         ORDER BY pos) AS mu FROM dims),
      |sc AS (SELECT vec_id,
      |         round(list_reduce(list_transform(list_zip(embedding, mu.mu),
      |           p -> (p[1]::DOUBLE - p[2]::DOUBLE)
      |                * (p[1]::DOUBLE - p[2]::DOUBLE)),
      |           (x, y) -> x + y) * 1000000.0, 0)::BIGINT AS d2fx,
      |         (CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 8) AS BIGINT)
      |           + 0.5) / 4294967296.0 AS u
      |       FROM e CROSS JOIN mu),
      |tot AS (SELECT sum(d2fx)::BIGINT AS sumfx, count(*)::BIGINT AS n
      |        FROM sc),
      |qq AS (SELECT vec_id, d2fx,
      |         CASE WHEN sumfx = 0 THEN 1.0::DOUBLE / n::DOUBLE
      |              ELSE 0.5::DOUBLE / n::DOUBLE
      |                   + 0.5::DOUBLE * d2fx::DOUBLE / sumfx::DOUBLE
      |         END AS q,
      |         ln(u) / CASE WHEN sumfx = 0 THEN 1.0::DOUBLE / n::DOUBLE
      |              ELSE 0.5::DOUBLE / n::DOUBLE
      |                   + 0.5::DOUBLE * d2fx::DOUBLE / sumfx::DOUBLE
      |         END AS key
      |       FROM sc CROSS JOIN tot),
      |top AS (SELECT vec_id, d2fx, q,
      |          row_number() OVER (ORDER BY key DESC, vec_id) AS rnk
      |        FROM qq)""".stripMargin

  private def duckL2(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)), " +
      "(x, y) -> x + y)"

  /** Generated CTE chain mirroring `SimSearch.kcenterSelectOf`: seed at
    * the smallest vec_id, then per round the farthest-point argmax
    * (`c{i}`, 6dp-rounded min-distance, vec_id tie-break), its output
    * row (`s{i}`), and the incremental min-distance update (`dd{i}`) —
    * the same least(prev, d2-to-new-center) the Spark loop
    * materializes. */
  /** The WITH-body of the farthest-first chain (no final SELECT) —
    * shared by the selection oracle and the coreset-weights oracle. */
  private def duckKcenterCtes(k: Int): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         |s1 AS (SELECT 1::BIGINT AS round, vec_id, 0.0 AS radius FROM c1),
         |dd1 AS (SELECT e.vec_id, e.embedding,
         |          round(${duckL2("e.embedding", "c1.embedding")}, 6) AS min_d2
         |        FROM e, c1)""".stripMargin
    val steps = (2 to k).map { i =>
      s""",
         |c$i AS (SELECT vec_id, embedding, min_d2 FROM dd${i - 1}
         |       ORDER BY min_d2 DESC, vec_id LIMIT 1),
         |s$i AS (SELECT $i::BIGINT AS round, vec_id, min_d2 AS radius FROM c$i),
         |dd$i AS (SELECT d.vec_id, d.embedding,
         |           least(d.min_d2,
         |                 round(${duckL2("d.embedding", s"c$i.embedding")}, 6))
         |             AS min_d2
         |         FROM dd${i - 1} d, c$i)""".stripMargin
    }
    head + steps.mkString
  }

  private def duckKcenterOracle(k: Int): String =
    duckKcenterCtes(k) + "\nSELECT round, vec_id, radius FROM (" +
      (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ") +
      ") ORDER BY round"

  /** Generated CTE chain mirroring `SimSearch.kcenterSelectBatchOf`:
    * per pass, the T farthest candidates pivot into one row and the
    * greedy β = 1/4 admission cascade unrolls as columns — `f{i}` is
    * candidate i's effective distance² (its frontier distance, capped
    * by the distance to every EARLIER-ADMITTED candidate in the pass:
    * the CASE emits NULL for non-admitted, and `least` ignores NULLs
    * in both engines), `adm{i}` the admission verdict against
    * d1/4. State updates against all admitted centers at once. */
  private def duckKcenterBatchOracle(t: Int, passes: Int): String = {
    def l2(a: String, b: String) = s"round(${duckL2(a, b)}, 6)"
    val head =
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         |s0 AS (SELECT 0::BIGINT AS round, vec_id, 0.0 AS radius FROM c0),
         |st0 AS (SELECT e.vec_id, e.embedding,
         |          ${l2("e.embedding", "c0.embedding")} AS min_d2
         |        FROM e, c0)""".stripMargin
    val passSql = (1 to passes).map { p =>
      val pivot = (1 to t).map(i =>
        s"""any_value(CASE WHEN rn = $i THEN vec_id END) AS v$i,
           |           any_value(CASE WHEN rn = $i THEN embedding END) AS e$i,
           |           any_value(CASE WHEN rn = $i THEN min_d2 END) AS d$i""".stripMargin)
        .mkString(",\n           ")
      // admission cascade: one CTE per candidate beyond the first,
      // each reading the prior verdicts
      val cascade = (2 to t).map { i =>
        val caps = (2 until i).map(j =>
          s"CASE WHEN adm$j THEN ${l2(s"e$i", s"e$j")} END")
        val f = (Seq(s"d$i", l2(s"e$i", "e1")) ++ caps).mkString("least(", ", ", ")")
        val src = if (i == 2) s"p$p" else s"a${p}_${i - 1}"
        // MATERIALIZED: each cascade level references the previous one
        // multiple times — DuckDB's default CTE inlining would copy the
        // expression tree exponentially in t (OOM at t=16)
        s""",
           |a${p}_$i AS MATERIALIZED (SELECT *, $f AS f$i, ($f >= d1 / 4) AS adm$i FROM $src)""".stripMargin
      }.mkString
      val a = s"a${p}_$t"
      val outs = (s"SELECT $p::BIGINT AS round, v1 AS vec_id, d1 AS radius " +
        s"FROM $a WHERE v1 IS NOT NULL") +:
        (2 to t).map(i =>
          s"SELECT $p::BIGINT, v$i, f$i FROM $a WHERE coalesce(adm$i, false)")
      val caps = (2 to t).map(i =>
        s"CASE WHEN coalesce(a.adm$i, false) THEN ${l2("s.embedding", s"a.e$i")} END")
      val upd = (Seq("s.min_d2", l2("s.embedding", "a.e1")) ++ caps)
        .mkString("least(", ", ", ")")
      s""",
         |r$p AS MATERIALIZED (SELECT vec_id, embedding, min_d2,
         |         row_number() OVER (ORDER BY min_d2 DESC, vec_id) AS rn
         |       FROM st${p - 1}),
         |p$p AS MATERIALIZED (SELECT $pivot
         |       FROM r$p WHERE rn <= $t)$cascade,
         |out$p AS (${outs.mkString("\n          UNION ALL ")}),
         |st$p AS MATERIALIZED (SELECT s.vec_id, s.embedding, $upd AS min_d2
         |        FROM st${p - 1} s, $a a)""".stripMargin
    }.mkString
    head + passSql + "\nSELECT round, vec_id, radius FROM (SELECT * FROM s0 " +
      (1 to passes).map(p => s"UNION ALL SELECT * FROM out$p").mkString(" ") +
      ") ORDER BY round, vec_id"
  }

  /** Shared CTE chain replaying `SimSearch.kmeansAssignment`'s two Lloyd
    * iterations (seed pick → assign → re-center → assign → re-center),
    * ending at `c2`, the trained centroid frame in long (cent_id, d, c)
    * form. Used by both the `q_ann_kmeans` report oracle and the
    * `q_ann_kmeans_routed` serving oracle. */
  private def duckKmeansCtesOver(src: String, p: String = "",
      derivedK: Boolean = false): String = {
    // derivedK replays SimSearch.semDerivedK: K = greatest(KmK,
    // ceil-div(N, SemCellTarget)) in pure INTEGER arithmetic, computed
    // from count(*) so both engines derive the identical K at any SF
    val seedPick =
      if (derivedK)
        s"""(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM $src)
           |          WHERE rn <= (SELECT greatest(${SimSearch.KmK},
           |            (count(*) + ${SimSearch.SemCellTarget - 1}) // ${SimSearch.SemCellTarget})
           |            FROM $src)""".stripMargin
      else s"(SELECT vec_id FROM $src ORDER BY vec_id LIMIT ${SimSearch.KmK})"
    // SimSearch.trainIds: Lloyd runs on the KmTrainPerCent·K lowest
    // vec_ids by the content-hash uniform (the cap is a LIMIT, so when
    // N ≤ cap the "sample" is the population and the chain is the old
    // full-corpus train). Derived-K mirrors the cap arithmetic from
    // count(*); the seed pick and every downstream serve/report pass
    // stay over the full ${p}v.
    val trainCap =
      if (derivedK)
        s"""(SELECT ${SimSearch.KmTrainPerCent} * greatest(${SimSearch.KmK},
           |            (count(*) + ${SimSearch.SemCellTarget - 1}) // ${SimSearch.SemCellTarget})
           |            FROM $src)""".stripMargin
      else s"${SimSearch.KmTrainPerCent * SimSearch.KmK}"
    s"""${p}ts AS (SELECT vec_id FROM $src
      |        ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR || '#kmtrain'), 1, 8) AS BIGINT),
      |                 vec_id
      |        LIMIT $trainCap),
      |${p}v AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d,
      |        unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      |      FROM $src),
      |${p}tv AS (SELECT ${p}v.* FROM ${p}v JOIN ${p}ts USING (vec_id)),
      |${p}seed AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cent_id
      |         FROM $seedPick),
      |${p}c0 AS (SELECT cent_id, d, val AS c FROM ${p}v JOIN ${p}seed USING (vec_id)),
      |${p}d1 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
      |       FROM ${p}tv JOIN ${p}c0 USING (d) GROUP BY vec_id, cent_id),
      |${p}a1 AS (SELECT vec_id, cent_id FROM (
      |         SELECT vec_id, cent_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
      |         FROM ${p}d1) WHERE rnk = 1),
      |${p}c1 AS (SELECT cent_id, d, avg(val) AS c FROM ${p}tv JOIN ${p}a1 USING (vec_id)
      |       GROUP BY cent_id, d),
      |${p}d2t AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
      |        FROM ${p}tv JOIN ${p}c1 USING (d) GROUP BY vec_id, cent_id),
      |${p}a2 AS (SELECT vec_id, cent_id FROM (
      |         SELECT vec_id, cent_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
      |         FROM ${p}d2t) WHERE rnk = 1),
      |${p}c2 AS (SELECT cent_id, d, avg(val) AS c FROM ${p}tv JOIN ${p}a2 USING (vec_id)
      |       GROUP BY cent_id, d)""".stripMargin
  }

  /** Shared CTE chain replaying `SimSearch.kmeansTrainedCents` over the
    * full embeddings table (seed pick → two Lloyd re-centers → `c2`). */
  private val DuckKmeansCtes = duckKmeansCtesOver("embeddings")

  /** The SemDeDup clustering chain: same Lloyd unroll, K DERIVED from
    * the corpus count (`SimSearch.semDerivedK`) — the K∝N scale dial,
    * recomputed in SQL so the oracle clusters identically. */
  private val DuckKmeansDerivedCtes =
    duckKmeansCtesOver("embeddings", derivedK = true)

  /** CTE chain replaying `TextAnalysis.dsirModelInc` — the dense
    * 256-bucket log-ratio model fit on the EVEN-doc corpus, ending at
    * `model (bucket, lr_fp)`. Shared by the incremental DSIR screen
    * and the incremental curation funnel, whose DSIR stage scores
    * against this persisted artifact. */
  private def DuckDsirIncModelCtes: String =
    s"""tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents
       |            WHERE doc_id % 2 = 0),
       |tk AS (SELECT * FROM tok WHERE len(toks) >= 1),
       |grams AS (
       |  SELECT doc_id, lang = 'en' AS is_target, unnest(toks) AS g FROM tk
       |  UNION ALL
       |  SELECT doc_id, lang = 'en' AS is_target,
       |         unnest(list_transform(range(1, len(toks)),
       |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
       |  FROM tk),
       |db AS (SELECT doc_id, is_target,
       |         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
       |           % ${TextAnalysis.DsirBuckets} AS bucket,
       |         count(*)::BIGINT AS cnt
       |       FROM grams GROUP BY 1, 2, 3),
       |raw AS (SELECT bucket, sum(cnt)::BIGINT AS c_r FROM db GROUP BY 1),
       |tgt AS (SELECT bucket, sum(cnt)::BIGINT AS c_t FROM db
       |        WHERE is_target GROUP BY 1),
       |tot AS (SELECT (SELECT sum(c_r) FROM raw)::DOUBLE AS t_r,
       |               (SELECT sum(c_t) FROM tgt)::DOUBLE AS t_t),
       |buckets AS (SELECT unnest(range(0, ${TextAnalysis.DsirBuckets}))
       |              AS bucket),
       |model AS (SELECT bucket,
       |            CAST(round(round(ln((coalesce(c_t, 0) + 1.0)
       |                     / (t_t + ${TextAnalysis.DsirBuckets}))
       |                - ln((coalesce(c_r, 0) + 1.0)
       |                     / (t_r + ${TextAnalysis.DsirBuckets})), 6)
       |              * 1000000, 0) AS BIGINT) AS lr_fp
       |          FROM buckets LEFT JOIN raw USING (bucket)
       |          LEFT JOIN tgt USING (bucket) CROSS JOIN tot)""".stripMargin

  /** CTE chain replaying `SimSearch.pqTopKOf` through `ranked` (the ADC
    * ranking per query) — shared by the PQ serving oracle and the PQ
    * recall audit, so the audit measures the shipped chain verbatim. */
  private val DuckPqCtes =
    s"""v0 AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS d,
      |         unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
      |  FROM embeddings),
      |v AS (SELECT vec_id, d, d // ${64 / SimSearch.PqM} AS sub, val FROM v0),
      |pqts AS (SELECT vec_id FROM embeddings
      |         ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR || '#kmtrain'), 1, 8) AS BIGINT),
      |                  vec_id
      |         LIMIT ${SimSearch.KmTrainPerCent * SimSearch.PqK}),
      |pqtv AS (SELECT v.* FROM v JOIN pqts USING (vec_id)),
      |seeds AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS code_id
      |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT ${SimSearch.PqK})),
      |c0 AS (SELECT sub, code_id, d, val AS c FROM v JOIN seeds USING (vec_id)),
      |d1 AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
      |       FROM pqtv JOIN c0 USING (sub, d) GROUP BY 1, 2, 3),
      |a1 AS (SELECT vec_id, sub, code_id FROM (
      |         SELECT vec_id, sub, code_id,
      |           row_number() OVER (PARTITION BY vec_id, sub
      |             ORDER BY d2, code_id) AS rnk
      |         FROM d1) WHERE rnk = 1),
      |c1 AS (SELECT sub, code_id, d, avg(val) AS c
      |       FROM pqtv JOIN a1 USING (vec_id, sub) GROUP BY 1, 2, 3),
      |enc2 AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
      |         FROM v JOIN c1 USING (sub, d) GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, sub, code_id FROM (
      |            SELECT vec_id, sub, code_id,
      |              row_number() OVER (PARTITION BY vec_id, sub
      |                ORDER BY d2, code_id) AS rnk
      |            FROM enc2) WHERE rnk = 1),
      |lut AS (SELECT v.vec_id AS q_id, sub, code_id,
      |          sum((val - c) * (val - c)) AS sub_d2
      |        FROM v JOIN c1 USING (sub, d) WHERE v.vec_id < ${SimSearch.NQueries}
      |        GROUP BY 1, 2, 3),
      |adc AS (SELECT q_id, codes.vec_id AS neighbor,
      |          round(sum(sub_d2), 6) AS adc_d2
      |        FROM codes JOIN lut USING (sub, code_id)
      |        WHERE codes.vec_id <> q_id GROUP BY 1, 2),
      |ranked AS (SELECT q_id, neighbor, adc_d2,
      |             row_number() OVER (PARTITION BY q_id
      |               ORDER BY adc_d2, neighbor) AS "rank"
      |           FROM adc)""".stripMargin

  private val DuckPqSql =
    s"""WITH $DuckPqCtes
       |SELECT q_id, "rank", neighbor, adc_d2 FROM ranked
       |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin

  /** CTE chain replaying `SimSearch.ivfAdcTopKOf` (appended after
    * [[DuckPqCtes]], whose `codes`/`lut` it reuses): the seed-pick IVF
    * quantizer routes each query to its nprobe=2 nearest cells, the
    * routed candidates score via the shared ADC lookup table, ending at
    * `iranked`. Shared by the `q_ann_ivfadc` serving oracle and the
    * extended PQ recall audit. */
  private val DuckIvfAdcCtes =
    s"""ivfe AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
       |ivfc AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
       |         FROM ivfe WHERE vec_id >= ${SimSearch.IvfSeedBase}
       |           AND vec_id < ${SimSearch.IvfSeedBase + SimSearch.IvfK}),
       |icrank AS (
       |  SELECT ivfe.vec_id, ivfc.cent_id,
       |    row_number() OVER (PARTITION BY ivfe.vec_id
       |      ORDER BY round(${duckDot("ivfe.embedding", "ivfc.cent_emb")} / (ivfe.nrm * ivfc.cent_nrm), 6) DESC,
       |               ivfc.cent_id) AS rnk
       |  FROM ivfe CROSS JOIN ivfc),
       |iassign AS (SELECT vec_id, cent_id FROM icrank WHERE rnk = 1),
       |iprobe AS (SELECT vec_id AS q_id, cent_id FROM icrank
       |           WHERE vec_id < ${SimSearch.NQueries} AND rnk <= ${SimSearch.IvfNProbe}),
       |irouted AS (SELECT p.q_id, c.vec_id, c.sub, c.code_id
       |            FROM codes c
       |            JOIN iassign a USING (vec_id)
       |            JOIN iprobe p USING (cent_id)
       |            WHERE c.vec_id <> p.q_id),
       |iadc AS (SELECT q_id, vec_id AS neighbor, round(sum(sub_d2), 6) AS adc_d2
       |         FROM irouted JOIN lut USING (q_id, sub, code_id)
       |         GROUP BY 1, 2),
       |iranked AS (SELECT q_id, neighbor, adc_d2,
       |              row_number() OVER (PARTITION BY q_id
       |                ORDER BY adc_d2, neighbor) AS "rank"
       |            FROM iadc)""".stripMargin

  /** CTE chain replaying `SimSearch.ivfAdcResidualTopKOf` — the
    * residual-coding IVFADC (FAISS's default): PQ trains on and encodes
    * v − c(cell), the LUT is per (query, probed cell). Ends at
    * `rranked`; MUST be appended after [[DuckPqCtes]] (whose corpus
    * long form `v0`, seed pick `seeds`, and training sample `pqts` it
    * references — one definition, so a cast fix cannot silently
    * diverge) and
    * [[DuckIvfAdcCtes]] (whose routing CTEs `iassign`/`iprobe` it
    * reuses). */
  private val DuckIvfAdcResCtes =
    s"""cl AS (SELECT cent_id, unnest(range(0, len(cent_emb))) AS d,
       |         unnest(list_transform(cent_emb, x -> x::DOUBLE)) AS c
       |       FROM ivfc),
       |rv AS (SELECT v0.vec_id, a.cent_id, v0.d // ${64 / SimSearch.PqM} AS sub, v0.d,
       |         (v0.val - cl.c) AS val
       |       FROM v0 JOIN iassign a USING (vec_id)
       |       JOIN cl ON cl.cent_id = a.cent_id AND cl.d = v0.d),
       |rtv AS (SELECT rv.* FROM rv JOIN pqts USING (vec_id)),
       |rc0 AS (SELECT sub, code_id, d, val AS c FROM rv JOIN seeds USING (vec_id)),
       |rd1 AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |        FROM rtv JOIN rc0 USING (sub, d) GROUP BY 1, 2, 3),
       |ra1 AS (SELECT vec_id, sub, code_id FROM (
       |          SELECT vec_id, sub, code_id,
       |            row_number() OVER (PARTITION BY vec_id, sub
       |              ORDER BY d2, code_id) AS rnk
       |          FROM rd1) WHERE rnk = 1),
       |rc1 AS (SELECT sub, code_id, d, avg(val) AS c
       |        FROM rtv JOIN ra1 USING (vec_id, sub) GROUP BY 1, 2, 3),
       |renc AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |         FROM rv JOIN rc1 USING (sub, d) GROUP BY 1, 2, 3),
       |rcodes AS (SELECT vec_id, sub, code_id FROM (
       |             SELECT vec_id, sub, code_id,
       |               row_number() OVER (PARTITION BY vec_id, sub
       |                 ORDER BY d2, code_id) AS rnk
       |             FROM renc) WHERE rnk = 1),
       |rcodes2 AS (SELECT c.vec_id, c.sub, c.code_id, a.cent_id
       |            FROM rcodes c JOIN iassign a USING (vec_id)),
       |qres AS (SELECT v0.vec_id AS q_id, p.cent_id, v0.d // ${64 / SimSearch.PqM} AS sub,
       |           v0.d, (v0.val - cl.c) AS qv
       |         FROM v0
       |         JOIN iprobe p ON v0.vec_id = p.q_id
       |         JOIN cl ON cl.cent_id = p.cent_id AND cl.d = v0.d),
       |rlut AS (SELECT q_id, cent_id, sub, code_id,
       |           sum((qv - c) * (qv - c)) AS sub_d2
       |         FROM qres JOIN rc1 USING (sub, d) GROUP BY 1, 2, 3, 4),
       |rrouted AS (SELECT p.q_id, c.vec_id, c.cent_id, c.sub, c.code_id
       |            FROM rcodes2 c JOIN iprobe p USING (cent_id)
       |            WHERE c.vec_id <> p.q_id),
       |radc AS (SELECT q_id, vec_id AS neighbor, round(sum(sub_d2), 6) AS adc_d2
       |         FROM rrouted JOIN rlut USING (q_id, cent_id, sub, code_id)
       |         GROUP BY 1, 2),
       |rranked AS (SELECT q_id, neighbor, adc_d2,
       |              row_number() OVER (PARTITION BY q_id
       |                ORDER BY adc_d2, neighbor) AS "rank"
       |            FROM radc)""".stripMargin

  /** CTE chain replaying `SimSearch.opqTopK`: the PCA power-iteration
    * chain (the `q_ann_pca` oracle verbatim, p-prefixed), the Householder
    * direction u = w − ‖w‖·𝟙/√D built from the 6dp-ROUNDED loadings
    * (the exact frame the Spark side consumes), the rotated corpus
    * v′ = v − (2·uᵀv/uᵀu)·u with every element 6dp-rounded, then the PQ
    * train/encode/ADC chain over the rotated frame — [[DuckPqCtes]]'s
    * structure, o-prefixed. Every fold runs in array-index order
    * (list_reduce over ORDER BY d lists), matching the Spark side's
    * sequential `aggregate` folds. Self-contained (reads only
    * `embeddings`), so it appends cleanly to the recall audit's WITH
    * list with zero name collisions. Ends at `oranked`. */
  private val DuckOpqCtes =
    s"""pvl AS (
       |  SELECT vec_id, unnest(range(0, len(embedding))) AS d,
       |         unnest(list_transform(embedding,
       |           x -> round(x::DOUBLE * ${SimSearch.PcaScale}, 0)::BIGINT)) AS vi
       |  FROM embeddings),
       |psc AS (SELECT a.d AS d1, b.d AS d2, sum(a.vi * b.vi) AS s
       |        FROM pvl a JOIN pvl b USING (vec_id) GROUP BY 1, 2),
       |pw0 AS (SELECT DISTINCT d1 AS d, 0.125::DOUBLE AS x FROM psc),
       |pm1 AS (SELECT d1 AS d,
       |          list_reduce(list(s::DOUBLE * pw0.x ORDER BY d2), (a, b) -> a + b) AS x
       |        FROM psc JOIN pw0 ON psc.d2 = pw0.d GROUP BY d1),
       |pw1 AS (SELECT d, x / (SELECT sqrt(list_reduce(list(x * x ORDER BY d),
       |                         (a, b) -> a + b)) FROM pm1) AS x FROM pm1),
       |pm2 AS (SELECT d1 AS d,
       |          list_reduce(list(s::DOUBLE * pw1.x ORDER BY d2), (a, b) -> a + b) AS x
       |        FROM psc JOIN pw1 ON psc.d2 = pw1.d GROUP BY d1),
       |pw2 AS (SELECT d, x / (SELECT sqrt(list_reduce(list(x * x ORDER BY d),
       |                         (a, b) -> a + b)) FROM pm2) AS x FROM pm2),
       |pwa AS (SELECT list(round(x, 6) ORDER BY d) AS w_arr FROM pw2),
       |pou AS (SELECT list_transform(w_arr,
       |          x -> x - sqrt(list_reduce(list_transform(w_arr, y -> y * y),
       |                          (a, b) -> a + b))
       |               / sqrt(len(w_arr)::DOUBLE)) AS u_arr
       |        FROM pwa),
       |pouu AS (SELECT u_arr,
       |           list_reduce(list_transform(u_arr, x -> x * x), (a, b) -> a + b) AS uu
       |         FROM pou),
       |osv AS (SELECT e.vec_id,
       |          CASE WHEN uu > 1e-12 THEN
       |            2 * list_reduce(list_transform(list_zip(e.embedding, u_arr),
       |              q -> q[1]::DOUBLE * q[2]), (a, b) -> a + b) / uu
       |          ELSE 0 END AS f
       |        FROM embeddings e CROSS JOIN pouu),
       |orot AS (SELECT e.vec_id,
       |           list_transform(list_zip(e.embedding, u_arr),
       |             p -> round(p[1]::DOUBLE - p[2] * f, 6)) AS embedding
       |         FROM embeddings e JOIN osv USING (vec_id) CROSS JOIN pouu),
       |ovs AS (SELECT vec_id, d, d // ${64 / SimSearch.PqM} AS sub, val FROM (
       |          SELECT vec_id, unnest(range(0, len(embedding))) AS d,
       |                 unnest(embedding) AS val
       |          FROM orot)),
       |oseeds AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS code_id
       |           FROM (SELECT vec_id FROM orot ORDER BY vec_id LIMIT ${SimSearch.PqK})),
       |ots AS (SELECT vec_id FROM orot
       |        ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR || '#kmtrain'), 1, 8) AS BIGINT),
       |                 vec_id
       |        LIMIT ${SimSearch.KmTrainPerCent * SimSearch.PqK}),
       |otv AS (SELECT ovs.* FROM ovs JOIN ots USING (vec_id)),
       |oc0 AS (SELECT sub, code_id, d, val AS c FROM ovs JOIN oseeds USING (vec_id)),
       |od1 AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |        FROM otv JOIN oc0 USING (sub, d) GROUP BY 1, 2, 3),
       |oa1 AS (SELECT vec_id, sub, code_id FROM (
       |          SELECT vec_id, sub, code_id,
       |            row_number() OVER (PARTITION BY vec_id, sub
       |              ORDER BY d2, code_id) AS rnk
       |          FROM od1) WHERE rnk = 1),
       |oc1 AS (SELECT sub, code_id, d, avg(val) AS c
       |        FROM otv JOIN oa1 USING (vec_id, sub) GROUP BY 1, 2, 3),
       |oenc AS (SELECT vec_id, sub, code_id, sum((val - c) * (val - c)) AS d2
       |         FROM ovs JOIN oc1 USING (sub, d) GROUP BY 1, 2, 3),
       |ocodes AS (SELECT vec_id, sub, code_id FROM (
       |             SELECT vec_id, sub, code_id,
       |               row_number() OVER (PARTITION BY vec_id, sub
       |                 ORDER BY d2, code_id) AS rnk
       |             FROM oenc) WHERE rnk = 1),
       |olut AS (SELECT ovs.vec_id AS q_id, sub, code_id,
       |           sum((val - c) * (val - c)) AS sub_d2
       |         FROM ovs JOIN oc1 USING (sub, d)
       |         WHERE ovs.vec_id < ${SimSearch.NQueries} GROUP BY 1, 2, 3),
       |oadc AS (SELECT q_id, ocodes.vec_id AS neighbor,
       |           round(sum(sub_d2), 6) AS adc_d2
       |         FROM ocodes JOIN olut USING (sub, code_id)
       |         WHERE ocodes.vec_id <> q_id GROUP BY 1, 2),
       |oranked AS (SELECT q_id, neighbor, adc_d2,
       |              row_number() OVER (PARTITION BY q_id
       |                ORDER BY adc_d2, neighbor) AS "rank"
       |            FROM oadc)""".stripMargin

  /** The BPE-ish pretokenizer regex, shared verbatim with the Spark side
    * (`TextFunctions.BpeishPattern` is a Java/RE2-common subset). */
  private val TextFunctionsBpeish = graft.functions.TextFunctions.BpeishPattern

  /** Shared by `q_range_join` and `q_range_join_binned`: both plans must
    * produce this same answer. */
  private val RangeJoinOracle =
    """WITH tiers(lo, hi, tier) AS (
      |  VALUES (0.0, 50.0, 'low'), (50.0, 200.0, 'mid'), (200.0, 500.0, 'high'))
      |SELECT tier, count(*)::BIGINT AS n,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
      |FROM events JOIN tiers ON value >= lo AND value < hi
      |GROUP BY tier ORDER BY tier""".stripMargin

  /** DuckDB fragment: occurrences of `stop`-list tokens in `toks`
    * (mirror of `TextAnalysis.stopHits`), generated from the same Scala
    * stopword lists so the two engines can never drift. */
  private def duckStopHits(stop: Seq[String]): String =
    stop.mkString("len(list_filter(toks, t -> t IN ('", "', '", "')))")

  /** DuckDB fragment: the DoReMi chain (bigram-LM per-domain NLL in
    * fixed point → excess loss → multiplicative-weights alphas + boost
    * rates), ending in an `alphas` CTE — shared by `q_mix_doremi` and
    * the realized draw `q_mix_doremi_draw`. */
  private val DuckDoremiCtes =
    s"""WITH tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents),
       |dbig AS (SELECT doc_id, lang,
       |           unnest(list_slice(toks, 1, len(toks) - 1)) AS a,
       |           unnest(list_slice(toks, 2, len(toks))) AS b
       |         FROM tok WHERE len(toks) >= 2),
       |cab AS (SELECT a, b, count(*) AS c_ab FROM dbig GROUP BY 1, 2),
       |ca AS (SELECT a, count(*) AS c_a FROM dbig GROUP BY 1),
       |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM tok)),
       |terms AS (SELECT lang,
       |            CAST(round(round(ln((c_ab + 1)::DOUBLE
       |              / (c_a + v)::DOUBLE), 6) * 1000000, 0) AS BIGINT) AS ll_fp
       |          FROM dbig JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
       |dom AS (SELECT lang, count(*)::BIGINT AS n_bigrams,
       |          round(-(sum(ll_fp)::BIGINT::DOUBLE / count(*)) / 1000000.0, 6)
       |            AS nll
       |        FROM terms GROUP BY lang),
       |best AS (SELECT min(nll) AS best_nll FROM dom),
       |sizes AS (SELECT lang, count(*)::BIGINT AS n_docs
       |          FROM documents GROUP BY lang),
       |tot AS (SELECT sum(n_docs)::BIGINT AS n_total FROM sizes),
       |scored AS (SELECT d.lang, s.n_docs, d.n_bigrams, d.nll, t.n_total,
       |             round(greatest(d.nll - b.best_nll, 0.0), 6) AS excess,
       |             CAST(round(round((s.n_docs::DOUBLE / t.n_total)
       |               * exp(${TextAnalysis.DoremiEta}
       |                     * round(greatest(d.nll - b.best_nll, 0.0), 6)), 9)
       |               * 1000000000, 0) AS BIGINT) AS score_fp
       |           FROM dom d JOIN sizes s USING (lang)
       |           CROSS JOIN best b CROSS JOIN tot t),
       |z AS (SELECT sum(score_fp)::BIGINT AS z_fp,
       |        count(*)::BIGINT AS n_dom FROM scored),
       |alphas AS (SELECT s.lang, s.n_docs, s.n_bigrams, s.nll, s.excess,
       |             round((1.0 - ${TextAnalysis.DoremiEps})
       |                   * (s.score_fp::DOUBLE / z.z_fp)
       |                 + ${TextAnalysis.DoremiEps} / z.n_dom, 6) AS alpha,
       |             round((round((1.0 - ${TextAnalysis.DoremiEps})
       |                   * (s.score_fp::DOUBLE / z.z_fp)
       |                 + ${TextAnalysis.DoremiEps} / z.n_dom, 6))
       |                 * s.n_total / s.n_docs, 6) AS boost
       |           FROM scored s CROSS JOIN z)""".stripMargin

  /** DuckDB fragment: the MinHash candidate/estimate CTE chain (tok →
    * grams → signatures → bands → candidate pairs → agreement estimate),
    * shared by the pair report and the dedup-action oracle. */
  private val DuckMinhashCtes =
    s"""tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |grams AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
         |            i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS gs
         |          FROM tok WHERE len(toks) >= 3),
         |xs AS (SELECT doc_id, list_transform(gs,
         |         g -> CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)) AS xs
         |       FROM grams),
         |sig AS (SELECT doc_id, list_transform(range(0, 32),
         |          i -> list_min(list_transform(xs,
         |            x -> ((2 * i + 1) * x + (i * 40503 + 7)) % 2147483647))) AS sigs
         |        FROM xs),
         |band AS (SELECT doc_id, sigs, b.band,
         |           array_to_string(list_transform(
         |             list_slice(sigs, band * 4 + 1, band * 4 + 4), v -> v::VARCHAR), ',') AS band_sig
         |         FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM band x JOIN band y
         |           ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |est AS (SELECT doc_a, doc_b,
         |          round(list_sum(list_transform(range(1, 33),
         |            i -> CASE WHEN sa.sigs[i] = sb.sigs[i] THEN 1 ELSE 0 END)) / 32.0, 4) AS est_jaccard
         |        FROM cand JOIN sig sa ON sa.doc_id = doc_a
         |                  JOIN sig sb ON sb.doc_id = doc_b)""".stripMargin

  /** DuckDB-dialect equivalents over the same tables (registered by the
    * driver under their bare names). Column names/aliases must match the
    * Spark output exactly — the compare sorts columns by name. */
  def oracleSql: Map[String, String] = Map(
    "wc_per_doc" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(translate(regexp_replace(text, '[[:punct:]]', '', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT doc_id, word, count(*) AS cnt FROM tok
        |GROUP BY doc_id, word ORDER BY doc_id, word""".stripMargin,
    "wc_global" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(translate(regexp_replace(text, '[[:punct:]]', '', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM tok GROUP BY word ORDER BY word""".stripMargin,
    "wc_top20" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(translate(regexp_replace(text, '[[:punct:]]', '', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), t -> t <> '')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM tok GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 20""".stripMargin,

    // glob '*' (not '*.txt'): the Spark sides read EVERY regular file in
    // the dir (spark.read.text / the v2 connector's listFiles), so the
    // oracle must too — a stray non-.txt fixture would otherwise diverge
    // the engines in a way that looks like a connector bug
    "wc_per_file" ->
      s"""WITH lines AS (
         |  SELECT regexp_extract(filename, '[^/]+$$') AS file,
         |         unnest(string_split(content, chr(10))) AS text
         |  FROM read_text('$PerFileCorpus/*')),
         |tok AS (SELECT file, unnest($DuckTok) AS word FROM lines)
         |SELECT file, word, count(*) AS cnt FROM tok
         |GROUP BY file, word ORDER BY file, word""".stripMargin,

    // identical oracle to wc_per_file: the v2 connector must read the
    // same corpus byte-identically
    "wc_v2_source" ->
      s"""WITH lines AS (
         |  SELECT regexp_extract(filename, '[^/]+$$') AS file,
         |         unnest(string_split(content, chr(10))) AS text
         |  FROM read_text('$PerFileCorpus/*')),
         |tok AS (SELECT file, unnest($DuckTok) AS word FROM lines)
         |SELECT file, word, count(*) AS cnt FROM tok
         |GROUP BY file, word ORDER BY file, word""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*)::BIGINT AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_registry_pipeline" ->
      s"""WITH lines AS (
         |  SELECT regexp_extract(filename, '[^/]+$$') AS file,
         |         unnest(string_split(content, chr(10))) AS text
         |  FROM read_text('$PerFileCorpus/*')),
         |tok AS (SELECT file, unnest($DuckTok) AS word FROM lines)
         |SELECT file, word, count(*) AS cnt FROM tok
         |GROUP BY file, word ORDER BY file, word""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_brand_revenue" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q13_custdist" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*)::BIGINT AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |  AND c_custkey = o_custkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """WITH vols AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM part, lineitem, orders, customer, supplier,
        |       nation n1, region, nation n2
        |  WHERE p_partkey = l_partkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_suppkey = l_suppkey
        |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |    AND s_nationkey = n2.n_nationkey
        |    AND r_name = 'EUROPE' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE), 4) AS mkt_share,
        |  round(CAST(sum(vol) AS DOUBLE), 2) AS total_volume
        |FROM vols GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  round(CAST(total_rev AS DOUBLE), 2) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // the correlated-subquery form of Q17: the hash-match against the
    // windowed Spark plan machine-checks the decorrelation rewrite
    // DECIMAL(18,4) accumulation mirrors the Spark side exactly (both
    // engines sum exact decimals, THEN divide in double) — a raw DOUBLE
    // sum could land a ulp across a .005 rounding boundary at other SFs
    "q17_small_qty" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND CAST(l_quantity AS BIGINT) * 5 *
        |      (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |    < (SELECT CAST(sum(l_quantity) AS BIGINT) FROM lineitem l2
        |       WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    // the correlated-EXISTS form of Q4: the hash-match proves the
    // left-semi rewrite equivalent
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey
        |  AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT round(100.0 *
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |  4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate <  TIMESTAMP '1996-10-01'""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |       o_totalprice, total_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q19_disjunctive" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // the double-correlated EXISTS/NOT EXISTS form of Q21: the hash-match
    // proves the per-order-aggregate rewrite equivalent
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*)::BIGINT AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS totacctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
        |      (SELECT count(*) FROM customer WHERE c_acctbal > 0)
        |    > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer
        |       WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q11_important_parts" ->
      """WITH vals AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS val_d
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, round(CAST(val_d AS DOUBLE), 2) AS value
        |FROM vals
        |WHERE val_d * 10000 > (SELECT sum(val_d) FROM vals) * 7
        |ORDER BY value DESC, l_partkey""".stripMargin,
    // Q2-shaped: the offer relation derives from lineitem (no partsupp
    // table in the data); min runs on RAW quotients — identical IEEE
    // doubles in both engines — and rounds only at output, so rounding
    // cannot flip the argmin
    "q2_min_cost_supp" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS unit_cost_raw
        |  FROM lineitem GROUP BY 1, 2),
        |euro AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier, nation, region
        |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE'),
        |sliced AS (
        |  SELECT o.*, e.s_name, e.s_acctbal, e.n_name, p.p_partkey, p.p_name
        |  FROM offers o
        |  JOIN part p ON o.l_partkey = p.p_partkey
        |  JOIN euro e ON o.l_suppkey = e.s_suppkey
        |  WHERE p.p_size = 7 AND p.p_type = 'STANDARD'),
        |best AS (
        |  SELECT l_partkey, min(unit_cost_raw) AS best_cost
        |  FROM sliced GROUP BY 1)
        |SELECT s.s_acctbal, s.s_name, s.n_name, s.p_partkey, s.p_name,
        |       round(s.unit_cost_raw, 4) AS unit_cost
        |FROM sliced s JOIN best b
        |  ON s.l_partkey = b.l_partkey AND s.unit_cost_raw = b.best_cost
        |ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, s.p_partkey
        |LIMIT 100""".stripMargin,
    // Q9-shaped: p_retailprice/10 is the documented unit-cost proxy for
    // the missing ps_supplycost; DECIMAL accumulation mirrors Spark
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity / 10 AS DECIMAL(18,4))) AS DOUBLE), 2) AS profit
        |FROM lineitem, part, supplier, nation, orders
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |  AND p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    // Q12-shaped: ship year stands in for the absent l_shipmode
    "q12_priority_shipping" ->
      """SELECT year(l_shipdate) AS ship_year,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1999-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q16-shaped: negative balance stands in for the absent complaint
    // comment; NOT IN is null-safe here (s_suppkey is never null)
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20-shaped: dominant shipped share stands in for the absent
    // ps_availqty test; exact DECIMAL with the fraction multiplied out
    "q20_promo_suppliers" ->
      """WITH reds AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,4))) AS q_sp
        |  FROM lineitem JOIN reds ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |totals AS (SELECT l_partkey, sum(q_sp) AS t_p FROM shipped GROUP BY 1)
        |SELECT s_name, round(s_acctbal, 2) AS acctbal, n_name
        |FROM supplier, nation, region
        |WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND EXISTS (SELECT 1 FROM shipped sh JOIN totals t
        |              ON sh.l_partkey = t.l_partkey
        |              WHERE sh.l_suppkey = s_suppkey AND 5 * sh.q_sp > t.t_p)
        |ORDER BY s_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(sum(coalesce(o_totalprice, 0)), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, rank_in_cust, o_orderkey, price FROM (
        |  SELECT o_custkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust,
        |    o_orderkey, round(o_totalprice, 2) AS price
        |  FROM orders) t
        |WHERE rank_in_cust <= 3 ORDER BY o_custkey, rank_in_cust""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(l_extendedprice - lag(l_extendedprice, 1, 0.0)
        |    OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber), 2) AS price_delta
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY orderstatus, orderpriority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nationkey,
        |       count(*) AS n,
        |       round(CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(28,10)), 2)::DOUBLE AS avg_bal
        |FROM customer GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        |ORDER BY segment, nationkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT 'both' AS tag, nationkey
        |  FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s) t1
        |UNION ALL
        |SELECT 'customer_only' AS tag, nationkey
        |  FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s) t2
        |UNION ALL
        |SELECT 'supplier_only' AS tag, nationkey
        |  FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c) t3
        |ORDER BY tag, nationkey""".stripMargin,
    "q_top_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,

    "q_sql_scalar_subquery" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       round(CAST(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS VARCHAR) AS DECIMAL(28,10)), 2)::DOUBLE AS avg_bal
        |FROM customer
        |WHERE c_acctbal >
        |      (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |       FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_pivot" ->
      """SELECT l_linestatus,
        |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // the five sufficient moments are summed in DECIMAL (exact,
    // associative), then the closed-form corr/stddev run in DOUBLE over
    // bit-identical inputs — the only way a floating statistic can
    // hash-match across engines (engine-native corr() accumulates in
    // partition order). DuckDB needs DECIMAL(19,4) factors so the
    // product type is DECIMAL(38,8) (hugeint-backed) — at (18,4) its
    // multiply overflows the int64 storage; the values are exact either
    // way, matching Spark's DECIMAL(37,8) products bit-for-bit
    "q_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*)::BIGINT AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price,
        |  round(sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * (n - 1))), 6) AS stddev_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // both engines compute the same interpolated exact quantile
    // (sort-based, rank = p*(n-1)); rounding absorbs the last-ulp
    // difference of the interpolation arithmetic
    "q_exact_quantile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |       count(*)::BIGINT AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // planted rows generated from Relational.AuditPlanted (single source
    // of truth); "constraint" needs quoting — reserved in DuckDB
    "q_quality_audit" -> {
      val planted = Relational.AuditPlanted
        .map { case (k, q, f) =>
          s"($k, CAST($q AS DOUBLE), ${f.map("'" + _ + "'").getOrElse("NULL")})" }
        .mkString(", ")
      s"""WITH planted(l_orderkey, l_quantity, l_returnflag) AS (VALUES $planted),
         |li AS (SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
         |       UNION ALL SELECT * FROM planted),
         |row_local AS (SELECT count(*)::BIGINT AS n_checked,
         |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS v_range,
         |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null
         |  FROM li),
         |orphan AS (SELECT count(*)::BIGINT AS v_ri FROM li
         |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)),
         |dup AS (SELECT count(*)::BIGINT AS n_keys,
         |    sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS v_dup
         |  FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1))
         |SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS "constraint",
         |       v_ri AS n_violations, n_checked FROM row_local, orphan
         |UNION ALL SELECT 'lineitem.l_quantity > 0', v_range, n_checked FROM row_local
         |UNION ALL SELECT 'lineitem.l_returnflag NOT NULL', v_null, n_checked FROM row_local
         |UNION ALL SELECT 'orders.o_orderkey UNIQUE', v_dup, n_keys FROM dup
         |ORDER BY "constraint"""".stripMargin
    },

    "q_events_sliding" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |w AS (SELECT event_type,
        |        (us - (us % 900000000)) - k * 900000000 AS win_us
        |      FROM ev CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks)
        |SELECT strftime(make_timestamp(win_us), '%Y-%m-%d %H:%M') AS win_start,
        |       event_type, count(*)::BIGINT AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |       (day - cohort_day)::BIGINT AS day_n,
        |       count(DISTINCT user_id)::BIGINT AS n_users
        |FROM ud JOIN first USING (user_id)
        |WHERE day - cohort_day <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |       event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // OHLC: open/close are struct-min/max SELECTIONS on the unique
    // (ts, event_id) key — exact stored doubles, no rounding needed;
    // only the summed total rounds (the hourly precedent)
    "q_events_ohlc" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
        |       event_type,
        |       (min({'t': ts, 'i': event_id, 'v': value})).v AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       (max({'t': ts, 'i': event_id, 'v': value})).v AS close,
        |       count(*)::BIGINT AS volume,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, session_seq, count(*) AS n_events,
        |         round(sum(value), 2) AS session_value
        |  FROM numbered GROUP BY user_id, session_seq)
        |SELECT user_id, max(session_seq) AS n_sessions,
        |       round(avg(n_events), 2) AS avg_events_per_session,
        |       round(sum(session_value), 2) AS total_value
        |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_events_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,
    "q_events_daily_share" ->
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |         event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |       round(n / (sum(n) OVER (PARTITION BY day)), 4) AS share
        |FROM daily ORDER BY day, event_type""".stripMargin,

    // min-time-chained funnel: a step counts only at-or-after the user's
    // arrival at the previous step (same epoch-exact ts comparisons)
    "q_events_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t GROUP BY 1)
        |SELECT 1::BIGINT AS step, 'view' AS event_type,
        |       (SELECT count(*) FROM v)::BIGINT AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p)
        |ORDER BY step""".stripMargin,

    // Replays EventsOps.decayedUserFeaturesOf: exact integer-micro
    // deltas, per-term DECIMAL quantization before the sum (absorbs
    // libm-pow ulps and makes partials order-independent), 4dp report.
    "q_events_decay" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         |tm AS (SELECT max(ts_us) AS t_max FROM ev),
         |w AS (SELECT user_id,
         |        CAST(pow(2.0, (ts_us - t_max)::DOUBLE / ${EventsOps.DecayHalfLifeUs}.0)
         |          AS DECIMAL(18,6)) AS wq,
         |        CAST(pow(2.0, (ts_us - t_max)::DOUBLE / ${EventsOps.DecayHalfLifeUs}.0)
         |          * value AS DECIMAL(28,6)) AS wvq
         |      FROM ev CROSS JOIN tm)
         |SELECT user_id, count(*)::BIGINT AS n_events,
         |       round(CAST(sum(wq) AS DOUBLE), 4) AS decayed_count,
         |       round(CAST(sum(wvq) AS DOUBLE), 4) AS decayed_value
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_rolling" ->
      s"""SELECT event_id, user_id,
         |  count(*) OVER w AS n_1h,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE), 2) AS sum_1h
         |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
         |  RANGE BETWEEN ${EventsOps.RollingHorizonUs} PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,

    "q_events_transitions" ->
      """WITH seq AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*)::BIGINT AS n
        |FROM seq WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_scd2" ->
      """WITH iv AS (
        |  SELECT event_type, ts,
        |         lead(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS valid_to
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_intervals,
        |       sum(epoch_us(valid_to) - epoch_us(ts))::BIGINT AS dwell_us
        |FROM iv WHERE valid_to IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, max(event_id) AS p_event FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, p.p_event,
        |       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    // ONE oracle string for both range-join plans: the binned equi-join
    // must reproduce the NLJ answer exactly, so a single definition keeps
    // the equivalence check honest if tiers or rounding ever change
    "q_range_join" -> RangeJoinOracle,
    "q_range_join_binned" -> RangeJoinOracle,

    // the sketch value is engine-specific; the oracle checks the exact
    // count and that Spark's HLL landed within its accuracy envelope
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
        |       true AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_quantile" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows, true AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // merged-sketch estimate stays Spark-side; the oracle checks the
    // shard count, the exact distinct, and the envelope verdict
    "q_sketch_hll_merge" ->
      """SELECT event_type,
        |       count(DISTINCT CAST(ts AS DATE))::BIGINT AS n_days,
        |       count(DISTINCT user_id)::BIGINT AS exact_users,
        |       true AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the CMS hashes are md5-derived, so DuckDB rebuilds the IDENTICAL
    // sketch — estimates compare bit-for-bit, no envelope needed
    "q_sketch_cms" ->
      s"""WITH tok AS (SELECT unnest($DuckTok) AS word FROM documents),
         |occ AS (SELECT word, count(*)::BIGINT AS cnt FROM tok GROUP BY word),
         |js AS (SELECT unnest(range(0, ${Relational.CmsDepth})) AS j),
         |contrib AS (SELECT j,
         |    CAST('0x' || substr(md5(j::VARCHAR || '#' || word), 1, 8) AS BIGINT)
         |      % ${Relational.CmsWidth} AS bucket, cnt
         |  FROM occ CROSS JOIN js),
         |sketch AS (SELECT j, bucket, sum(cnt)::BIGINT AS bucket_total
         |           FROM contrib GROUP BY j, bucket),
         |top AS (SELECT word, cnt FROM occ ORDER BY cnt DESC, word LIMIT 20),
         |probes AS (SELECT word, cnt, j,
         |    CAST('0x' || substr(md5(j::VARCHAR || '#' || word), 1, 8) AS BIGINT)
         |      % ${Relational.CmsWidth} AS bucket
         |  FROM top CROSS JOIN js)
         |SELECT word, cnt AS exact_cnt, min(bucket_total)::BIGINT AS cms_est,
         |       (min(bucket_total) >= cnt) AS never_underestimates
         |FROM probes JOIN sketch USING (j, bucket)
         |GROUP BY word, cnt ORDER BY exact_cnt DESC, word""".stripMargin,

    "q_salted_join" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*)::BIGINT AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // bloom prune is semantically invisible: the oracle is the plain join
    // DPP: the oracle pins the join's algebra over the unpartitioned
    // original — the partition layout is the Spark-side I/O mechanism
    // the suite separately asserts (dynamicpruning in the executed plan)
    "q_join_dpp" ->
      """WITH dim AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
        |             FROM orders
        |             WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
        |                                   AND TIMESTAMP '1995-03-31')
        |SELECT ship_month,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*)::BIGINT AS n_items
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |             l_extendedprice, l_discount
        |      FROM lineitem) f JOIN dim USING (ship_month)
        |GROUP BY ship_month ORDER BY ship_month""".stripMargin,

    "q_join_bloom_prune" ->
      s"""SELECT o_orderpriority,
         |       count(DISTINCT o_orderkey)::BIGINT AS n_orders,
         |       count(*)::BIGINT AS n_items,
         |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > $BloomDimPrice
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_dedup_exact_stats" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |       count(DISTINCT md5(text))::BIGINT AS n_distinct,
        |       (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dupes
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_dedup_exact_groups" ->
      """SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_docs,
        |       min(doc_id) AS keep_doc
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY text_md5""".stripMargin,
    "q_dedup_exact_planted" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_docs,
        |       min(doc_id) AS keep_doc
        |FROM doubled GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY text_md5""".stripMargin,

    "q_dedup_minhash_lsh" ->
      s"""WITH $DuckMinhashCtes
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // operating-point sweep: per (bands, rows) split of the SAME 32
    // signatures, candidate volume + exact-truth recall in integer
    // basis points; config CTEs generated from LshSweepConfigs so the
    // two engines can never sweep different grids
    "q_dedup_lsh_sweep" ->
      s"""WITH $DuckMinhashCtes,
         |posting AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM grams),
         |sizes AS (SELECT doc_id, count(*) AS n FROM posting GROUP BY doc_id),
         |inter2 AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |           FROM posting x JOIN posting y
         |             ON x.g = y.g AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2),
         |truth2 AS (SELECT doc_a, doc_b
         |           FROM inter2 JOIN sizes na ON na.doc_id = doc_a
         |                       JOIN sizes nb ON nb.doc_id = doc_b
         |           WHERE inter * 2 >= na.n + nb.n - inter),
         |${graft.operators.Dedup.LshSweepConfigs.map { case (b, r) =>
           s"""band_$b AS (SELECT doc_id, sigs, b.band,
              |  array_to_string(list_transform(
              |    list_slice(sigs, band * $r + 1, band * $r + $r), v -> v::VARCHAR), ',') AS band_sig
              |  FROM sig CROSS JOIN (SELECT unnest(range(0, $b)) AS band) b),
              |cands_$b AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
              |    round(list_sum(list_transform(range(1, 33),
              |      i -> CASE WHEN x.sigs[i] = y.sigs[i] THEN 1 ELSE 0 END)) / 32.0, 4) AS est
              |  FROM band_$b x JOIN band_$b y
              |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
              |stats_$b AS (SELECT ${b}::BIGINT AS bands, ${r}::BIGINT AS rows_per_band,
              |    count(*)::BIGINT AS n_candidates,
              |    sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
              |    (SELECT count(*) FROM truth2)::BIGINT AS n_true,
              |    (SELECT count(*) FROM cands_$b c JOIN truth2 t
              |       ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)::BIGINT AS n_caught
              |  FROM cands_$b)""".stripMargin
         }.mkString(",\n")}
         |SELECT bands, rows_per_band, n_candidates, n_kept, n_true, n_caught,
         |       CASE WHEN n_true > 0 THEN (n_caught * 10000) // n_true
         |            ELSE 0 END::BIGINT AS recall_bp
         |FROM (${graft.operators.Dedup.LshSweepConfigs.map { case (b, _) =>
           s"SELECT * FROM stats_$b" }.mkString(" UNION ALL ")})
         |ORDER BY bands""".stripMargin,

    // provenance matrix over the same pair CTEs: unordered source pair
    // per kept LSH pair, |sources|^2-bounded output
    "q_dedup_source_matrix" ->
      s"""WITH $DuckMinhashCtes,
         |p AS (SELECT * FROM est WHERE est_jaccard >= 0.5),
         |m AS (SELECT least(da.source, db.source) AS source_x,
         |        greatest(da.source, db.source) AS source_y,
         |        p.est_jaccard
         |      FROM p
         |      JOIN documents da ON da.doc_id = p.doc_a
         |      JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT source_x, source_y,
         |       (source_x <> source_y) AS cross_source,
         |       count(*)::BIGINT AS n_pairs,
         |       sum(round(est_jaccard * 10000)::BIGINT)::BIGINT AS jaccard_bp_sum
         |FROM m GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,

    // exact-verify stage over the LSH pairs: same pair set, Levenshtein
    // on the capped lowered prefix; 1.0 - dist/max_len stays in exact
    // binary arithmetic whenever max_len is a power of two
    "q_dedup_editdist" ->
      s"""WITH $DuckMinhashCtes,
         |pr AS (SELECT doc_a, doc_b, est_jaccard FROM est
         |       WHERE est_jaccard >= 0.5),
         |v AS (SELECT pr.doc_a, pr.doc_b, pr.est_jaccard,
         |        levenshtein(substr(lower(da.text), 1, ${Dedup.EditPrefix}),
         |                    substr(lower(db.text), 1, ${Dedup.EditPrefix})) AS edit_dist,
         |        greatest(length(substr(lower(da.text), 1, ${Dedup.EditPrefix})),
         |                 length(substr(lower(db.text), 1, ${Dedup.EditPrefix}))) AS max_len
         |      FROM pr JOIN documents da ON da.doc_id = pr.doc_a
         |              JOIN documents db ON db.doc_id = pr.doc_b)
         |SELECT doc_a, doc_b, est_jaccard, edit_dist,
         |       round(1.0 - edit_dist / max_len, 4) AS edit_sim,
         |       (1.0 - edit_dist / max_len) >= ${Dedup.EditSimThreshold} AS confirmed
         |FROM v ORDER BY doc_a, doc_b""".stripMargin,
    // DuckDB re-derives BOTH sides independently — exact Jaccard truth
    // from the posting self-join and the bit-exact minhash band
    // candidates — so the hash-match pins the measured recall itself
    "q_dedup_recall" ->
      s"""WITH $DuckMinhashCtes,
         |posting AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM grams),
         |sizes AS (SELECT doc_id, count(*) AS n FROM posting GROUP BY doc_id),
         |probes AS (SELECT doc_id FROM documents
         |           ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR || '#probe'), 1, 8) AS BIGINT),
         |                    doc_id
         |           LIMIT ${Dedup.RecallProbeDocs}),
         |inter2 AS (SELECT doc_a, doc_b, count(*) AS inter FROM (
         |             SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |               greatest(x.doc_id, y.doc_id) AS doc_b, x.g
         |             FROM (SELECT p.* FROM posting p JOIN probes USING (doc_id)) x
         |             JOIN posting y ON x.g = y.g AND x.doc_id <> y.doc_id)
         |           GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b,
         |            least((10 * inter) // (na.n + nb.n - inter), 9) AS decile
         |          FROM inter2 JOIN sizes na ON na.doc_id = doc_a
         |                      JOIN sizes nb ON nb.doc_id = doc_b
         |          WHERE inter * 2 >= na.n + nb.n - inter),
         |hits AS (SELECT t.decile,
         |           CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS h
         |         FROM truth t LEFT JOIN cand c
         |           ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
         |SELECT decile, count(*)::BIGINT AS n_true, sum(h)::BIGINT AS n_caught,
         |       round(sum(h) / count(*), 4) AS recall
         |FROM hits GROUP BY decile ORDER BY decile""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $DuckMinhashCtes,
         |cand2 AS (SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS dup_of
         |          FROM band x JOIN band y
         |            ON x.band = y.band AND x.band_sig = y.band_sig
         |           AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
         |est2 AS (SELECT new_doc, dup_of,
         |           round(list_sum(list_transform(range(1, 33),
         |             i -> CASE WHEN sa.sigs[i] = sb.sigs[i] THEN 1 ELSE 0 END)) / 32.0, 4) AS est_jaccard
         |         FROM cand2 JOIN sig sa ON sa.doc_id = dup_of
         |                    JOIN sig sb ON sb.doc_id = new_doc)
         |SELECT new_doc, dup_of, est_jaccard FROM est2
         |WHERE est_jaccard >= 0.5 ORDER BY new_doc, dup_of""".stripMargin,

    // erasure propagation through the band index: the incremental
    // screen with the forgotten ids excluded from the index side —
    // retracted ≡ rebuilt is one predicate on the doc-keyed rows
    "q_dedup_forget" ->
      s"""WITH $DuckMinhashCtes,
         |cand3 AS (SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS dup_of
         |          FROM band x JOIN band y
         |            ON x.band = y.band AND x.band_sig = y.band_sig
         |           AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
         |           AND y.doc_id % ${CorpusMerge.ForgetMod}
         |               <> ${CorpusMerge.ForgetRem}),
         |est3 AS (SELECT new_doc, dup_of,
         |           round(list_sum(list_transform(range(1, 33),
         |             i -> CASE WHEN sa.sigs[i] = sb.sigs[i] THEN 1 ELSE 0 END)) / 32.0, 4) AS est_jaccard
         |         FROM cand3 JOIN sig sa ON sa.doc_id = dup_of
         |                    JOIN sig sb ON sb.doc_id = new_doc)
         |SELECT new_doc, dup_of, est_jaccard FROM est3
         |WHERE est_jaccard >= 0.5 ORDER BY new_doc, dup_of""".stripMargin,

    "q_dedup_keep_set" ->
      s"""WITH $DuckMinhashCtes,
         |near_drop AS (SELECT DISTINCT doc_b AS doc_id FROM est
         |              WHERE est_jaccard >= 0.5),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |               GROUP BY md5(text))
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN exact_keep USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM near_drop)
         |ORDER BY d.doc_id""".stripMargin,

    // connected components by recursive CTE: reach(id, comp) holds every
    // component-id reachable from id over the undirected pair graph; the
    // min per id is the same canonical representative the Spark
    // min-label-propagation loop converges to
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $DuckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(comp)::BIGINT AS component
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // incremental CC: the oracle is the FULL-graph recompute restricted
    // to components containing an arriving (odd) doc, with the old-graph
    // labels recomputed over even-even edges for the status column —
    // proving the delta-graph merge reaches the same fixpoint
    "q_dedup_cc_inc" ->
      s"""WITH RECURSIVE $DuckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |full_lab AS (SELECT id, min(comp)::BIGINT AS component
         |             FROM reach GROUP BY id),
         |old_edges AS (SELECT src, dst FROM edges
         |              WHERE src % 2 = 0 AND dst % 2 = 0),
         |old_reach(id, comp) AS (
         |  SELECT src, src FROM old_edges
         |  UNION
         |  SELECT e.src, r.comp FROM old_edges e JOIN old_reach r
         |    ON e.dst = r.id),
         |old_lab AS (SELECT id, min(comp)::BIGINT AS component
         |            FROM old_reach GROUP BY id),
         |touched AS (SELECT DISTINCT component FROM full_lab
         |            WHERE id % 2 = 1)
         |SELECT f.id AS doc_id, f.component,
         |  CASE WHEN f.id % 2 = 1 THEN 'new'
         |       WHEN f.component <> coalesce(o.component, f.id)
         |         THEN 'relabeled'
         |       ELSE 'anchor' END AS status
         |FROM full_lab f LEFT JOIN old_lab o ON f.id = o.id
         |WHERE f.component IN (SELECT component FROM touched)
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_clustered" ->
      s"""WITH RECURSIVE $DuckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
         |near_drop AS (SELECT id AS doc_id FROM comps WHERE component <> id),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |               GROUP BY md5(text))
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN exact_keep USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM near_drop)
         |ORDER BY d.doc_id""".stripMargin,

    // keep-longest policy: the oracle ranks with a row_number window
    // (the naive spec), the Spark side uses a map-side-combinable
    // struct-argmax — same survivor per component by construction
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $DuckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
         |grp AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp,
         |               d.n_chars
         |        FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
         |ranked AS (SELECT doc_id, row_number() OVER
         |             (PARTITION BY grp ORDER BY n_chars DESC, doc_id) AS rn
         |           FROM grp),
         |kept AS (SELECT doc_id FROM ranked WHERE rn = 1)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN kept USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // split is a hash of the near-dup GROUP key, so no component can
    // straddle train/test; singletons group under their own doc_id
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $DuckMinhashCtes,
         |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
         |g AS (SELECT d.lang, coalesce(c.component, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN comps c ON d.doc_id = c.id)
         |SELECT CASE WHEN (CAST('0x' || substr(md5(grp::VARCHAR), 1, 8) AS BIGINT)
         |                  % 100) < ${graft.operators.Dedup.TrainBuckets}
         |            THEN 'train' ELSE 'test' END AS split,
         |       lang, count(*)::BIGINT AS n_docs,
         |       count(DISTINCT grp)::BIGINT AS n_groups
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // 64-bit signature carried as two 32-bit halves (mirror of
    // Dedup.simhashFrame: hi = md5 hex chars 1-8, lo = chars 9-16). The
    // oracle is BRUTE FORCE over all pairs — a stronger check than
    // mirroring the bands, because it verifies the banded Spark plan's
    // pigeonhole completeness (hamming <= 3 of 64 bits => one of the
    // 4x16-bit windows agrees), not just the same candidate set.
    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(list_distinct(toks), t -> md5(t)) AS ms
         |      FROM tok WHERE len(toks) > 0),
         |s AS (SELECT doc_id,
         |        list_sum(list_transform(range(0, 32), j -> CASE WHEN
         |          list_sum(list_transform(ms, m -> ((CAST('0x' || substr(m, 9, 8) AS BIGINT) >> j) & 1) * 2 - 1)) > 0
         |          THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sh_lo,
         |        list_sum(list_transform(range(0, 32), j -> CASE WHEN
         |          list_sum(list_transform(ms, m -> ((CAST('0x' || substr(m, 1, 8) AS BIGINT) >> j) & 1) * 2 - 1)) > 0
         |          THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sh_hi
         |      FROM h)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       (bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)))::BIGINT AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash_wide" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(list_distinct(toks), t -> md5(t)) AS ms
         |      FROM tok WHERE len(toks) > 0),
         |s AS (SELECT doc_id,
         |${(0 until 4).map(w =>
           s"""        list_sum(list_transform(range(0, 32), j -> CASE WHEN
              |          list_sum(list_transform(ms, m -> ((CAST('0x' || substr(m, ${8 * w + 1}, 8) AS BIGINT) >> j) & 1) * 2 - 1)) > 0
              |          THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sh_$w""".stripMargin)
           .mkString(",\n")}
         |      FROM h)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       (${(0 until 4).map(w => s"bit_count(xor(a.sh_$w, b.sh_$w))").mkString(" + ")})::BIGINT AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE ${(0 until 4).map(w => s"bit_count(xor(a.sh_$w, b.sh_$w))").mkString(" + ")} <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // planted corpus (bounded slice + char-truncated copies) and the
    // same df-capped kernel as the jaccard oracle; jaccard_missed is the
    // machine check that containment finds pairs the 0.5 screen misses
    "q_dedup_containment" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < ${Dedup.ContainmentPlantDocs}
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |         substr(text, 1, greatest(n_chars // 3, 40)) AS text
         |  FROM documents WHERE doc_id < ${Dedup.ContainmentPlantDocs}),
         |tok AS (SELECT doc_id, $DuckTok AS toks FROM corpus),
         |sh AS (SELECT doc_id, $DuckShingles AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |posting AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
         |dfs AS (SELECT g, count(*) AS df FROM posting GROUP BY g),
         |kept AS (SELECT doc_id, g, df FROM posting JOIN dfs USING (g)
         |         WHERE df <= 100),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM kept x JOIN kept y
         |            ON x.g = y.g AND x.doc_id < y.doc_id
         |          WHERE x.df >= 2 AND y.df >= 2
         |          GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b, na.n AS na, nb.n AS nb,
         |        round(inter / least(na.n, nb.n), 4) AS containment,
         |        round(inter / (na.n + nb.n - inter), 4) AS jaccard
         |      FROM inter JOIN sizes na ON na.doc_id = doc_a
         |                 JOIN sizes nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, na, nb, containment, jaccard,
         |       (jaccard < 0.5) AS jaccard_missed
         |FROM c WHERE containment >= ${Dedup.ContainmentThreshold}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // winnowing (MOSS): the packed (hash·2^28 + pos) window-min must
    // select the identical fingerprint sets in both engines — leftmost
    // minimal hash, truncated tail windows dropped
    "q_dedup_winnow" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < ${Dedup.ContainmentPlantDocs}
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |         substr(text, 1, greatest(n_chars // 3, 40)) AS text
         |  FROM documents WHERE doc_id < ${Dedup.ContainmentPlantDocs}),
         |nrm AS (SELECT doc_id, array_to_string($DuckTok, ' ') AS norm
         |        FROM corpus),
         |nn AS (SELECT doc_id, norm,
         |         length(norm) - ${Dedup.WinnowK - 1} AS m
         |       FROM nrm
         |       WHERE length(norm) >= ${Dedup.WinnowK + Dedup.WinnowW - 1}),
         |hs AS (SELECT doc_id, m, i - 1 AS pos,
         |         CAST('0x' || substr(md5(substr(norm, i, ${Dedup.WinnowK})), 1, 8)
         |           AS BIGINT) * ${1L << Dedup.WinnowPosBits} + (i - 1) AS key
         |       FROM nn, unnest(range(1, m + 1)) AS u(i)),
         |sel AS (SELECT doc_id, m, pos,
         |          min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN CURRENT ROW AND ${Dedup.WinnowW - 1} FOLLOWING)
         |            AS sel
         |        FROM hs),
         |fps AS (SELECT DISTINCT doc_id, sel >> ${Dedup.WinnowPosBits} AS fp
         |        FROM sel WHERE pos <= m - ${Dedup.WinnowW}),
         |dfs AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
         |kept AS (SELECT doc_id, fp FROM fps JOIN dfs USING (fp)
         |         WHERE df BETWEEN 2 AND ${Dedup.WinnowDfCap}),
         |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM fps GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            count(*)::BIGINT AS shared_fp
         |          FROM kept a JOIN kept b
         |            ON a.fp = b.fp AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2
         |          HAVING count(*) >= ${Dedup.WinnowMinShared})
         |SELECT * FROM (
         |  SELECT doc_a, doc_b, shared_fp, na.n AS na, nb.n AS nb,
         |         round(shared_fp / least(na.n, nb.n), 4) AS overlap
         |  FROM pairs JOIN sizes na ON na.doc_id = doc_a
         |             JOIN sizes nb ON nb.doc_id = doc_b) q
         |WHERE overlap >= ${Dedup.WinnowOverlapFloor}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // content-defined chunking: identical boundary rule (gram-hash mod),
    // identical segment closure and md5 chunk identity; the reassembly
    // audit column (sum of chunk lengths tiles the doc) is recomputed,
    // not trusted
    "q_dedup_cdc_chunks" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id < ${Dedup.ContainmentPlantDocs}
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |         substr(text, 1, greatest(n_chars // 3, 40)) AS text
         |  FROM documents WHERE doc_id < ${Dedup.ContainmentPlantDocs}),
         |${duckCdcChunkCtes("corpus", "")},
         |dfs AS (SELECT ch, count(DISTINCT doc_id) AS df FROM chunks GROUP BY ch)
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |       any_value(chars)::BIGINT AS chars,
         |       sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
         |       (sum(clen) = any_value(chars)) AS covered_ok
         |FROM chunks JOIN dfs USING (ch)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // incremental CDC screen: stored half chunked to its key set, the
    // re-delivered batch chunked and probed — identical kernel CTEs
    // via the shared generator
    "q_dedup_cdc_inc" ->
      s"""WITH stored AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |batch AS (SELECT doc_id + ${Dedup.CdcRedeliverShift} AS doc_id,
         |            'redelivered copy ' || text AS text
         |          FROM documents WHERE doc_id % 2 = 0),
         |${duckCdcChunkCtes("stored", "s_")},
         |${duckCdcChunkCtes("batch", "b_")},
         |idx AS (SELECT DISTINCT ch FROM s_chunks)
         |SELECT b.doc_id, count(*)::BIGINT AS n_chunks,
         |       sum(b.clen)::BIGINT AS chunk_chars,
         |       sum(CASE WHEN i.ch IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
         |       sum(CASE WHEN i.ch IS NULL THEN b.clen ELSE 0 END)::BIGINT AS new_chars
         |FROM b_chunks b LEFT JOIN idx i ON b.ch = i.ch
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |sh AS (SELECT doc_id, $DuckShingles AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |posting AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
         |dfs AS (SELECT g, count(*) AS df FROM posting GROUP BY g),
         |kept AS (SELECT doc_id, g, df FROM posting JOIN dfs USING (g)
         |         WHERE df <= 100),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM kept x JOIN kept y
         |            ON x.g = y.g AND x.doc_id < y.doc_id
         |          WHERE x.df >= 2 AND y.df >= 2
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        round(inter / (na.n + nb.n - inter), 4) AS jaccard
         |      FROM inter JOIN sizes na ON na.doc_id = doc_a
         |                 JOIN sizes nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,
    // The naive ALL-PAIRS computation, on purpose: the Spark side runs the
    // prefix-filtered plan, so the hash-match machine-checks that the
    // prefix cut is lossless at t = 0.5, not merely that the arithmetic
    // agrees.
    "q_dedup_prefix_join" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |sh AS (SELECT doc_id, $DuckShingles AS shingles
         |       FROM tok WHERE len(toks) >= 3),
         |posting AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM sh),
         |dfs AS (SELECT g, count(*) AS df FROM posting GROUP BY g),
         |kept AS (SELECT doc_id, g, df FROM posting JOIN dfs USING (g)
         |         WHERE df <= 100),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         |          FROM kept x JOIN kept y
         |            ON x.g = y.g AND x.doc_id < y.doc_id
         |          WHERE x.df >= 2 AND y.df >= 2
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        round(inter / (na.n + nb.n - inter), 4) AS jaccard
         |      FROM inter JOIN sizes na ON na.doc_id = doc_a
         |                 JOIN sizes nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT label, vec_id, embedding,
         |             $DuckBucket AS bucket, $DuckNorm AS nrm
         |           FROM embeddings),
         |pairs AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |            round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |          FROM e a JOIN e b ON a.label = b.label AND a.bucket = b.bucket
         |                           AND a.vec_id < b.vec_id),
         |ranked AS (SELECT label, vec_a, vec_b, cos,
         |             row_number() OVER (PARTITION BY label
         |               ORDER BY cos DESC, vec_a, vec_b) AS "rank"
         |           FROM pairs)
         |SELECT label, "rank", vec_a, vec_b, cos FROM ranked
         |WHERE "rank" <= 3 ORDER BY label, "rank"""".stripMargin,
    // FaceNet-style triplet mining: nearest same-label positive,
    // nearest different-label negative, margin from the two 6dp cosines
    "q_train_triplets" ->
      s"""WITH e AS (SELECT vec_id, embedding, label, $DuckNorm AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label,
         |        nrm AS q_nrm
         |      FROM e WHERE vec_id < ${SimSearch.NQueries}),
         |sc AS (SELECT q.q_id, q.q_label, e.vec_id, e.label,
         |         round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) AS cos
         |       FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |pos AS (SELECT q_id, vec_id AS positive, cos AS cos_pos FROM (
         |          SELECT q_id, vec_id, cos,
         |            row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, vec_id) AS rnk
         |          FROM sc WHERE label = q_label) WHERE rnk = 1),
         |neg AS (SELECT q_id, vec_id AS negative, cos AS cos_neg FROM (
         |          SELECT q_id, vec_id, cos,
         |            row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos DESC, vec_id) AS rnk
         |          FROM sc WHERE label <> q_label) WHERE rnk = 1)
         |SELECT q_id, positive, cos_pos, negative, cos_neg,
         |       round(cos_pos - cos_neg, 6) AS margin
         |FROM pos JOIN neg USING (q_id) ORDER BY q_id""".stripMargin,

    "q_ann_brute_force" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM e WHERE vec_id < 10),
         |pairs AS (SELECT q.q_id, e.vec_id AS neighbor,
         |            round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) AS cos
         |          FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 5 ORDER BY q_id, "rank"""".stripMargin,

    // binary quantization: sign words, popcount-of-xor Hamming
    // candidates, exact-cosine rerank — identical two-stage plan with
    // ties on (ham, vec_id) and ranks on (6dp cos, neighbor)
    "q_ann_bq_hamming" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${duckSignWord(0)} AS w_lo,
         |             ${duckSignWord(32)} AS w_hi,
         |             $DuckNorm AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, w_lo AS q_lo,
         |             w_hi AS q_hi, nrm AS q_nrm
         |      FROM e WHERE vec_id < ${graft.operators.SimSearch.NQueries}),
         |ham AS (SELECT q.q_id, e.vec_id,
         |          (bit_count(xor(e.w_lo, q.q_lo)) +
         |           bit_count(xor(e.w_hi, q.q_hi)))::BIGINT AS ham
         |        FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |cand AS (SELECT q_id, vec_id, ham FROM (
         |           SELECT q_id, vec_id, ham,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY ham, vec_id) AS crank FROM ham)
         |         WHERE crank <= ${graft.operators.SimSearch.BqCandidates}),
         |sc AS (SELECT c.q_id, c.vec_id AS neighbor, c.ham,
         |         round(${duckDot("q.q_emb", "e.embedding")} /
         |           (q.q_nrm * e.nrm), 6) AS cos
         |       FROM cand c JOIN e ON e.vec_id = c.vec_id
         |                   JOIN q ON q.q_id = c.q_id),
         |ranked AS (SELECT q_id, neighbor, ham, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank" FROM sc)
         |SELECT q_id, "rank", neighbor, ham, cos FROM ranked
         |WHERE "rank" <= ${graft.operators.SimSearch.K}
         |ORDER BY q_id, "rank"""".stripMargin,

    // IVF x BQ composition: the q_ann_ivf_routed routing CTEs feeding
    // the bq Hamming/rerank CTEs — each stage's SQL identical to its
    // standalone oracle
    "q_ann_bq_routed" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${duckSignWord(0)} AS w_lo,
         |             ${duckSignWord(32)} AS w_hi,
         |             $DuckNorm AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
         |          FROM e WHERE vec_id >= ${graft.operators.SimSearch.IvfSeedBase}
         |            AND vec_id < ${graft.operators.SimSearch.IvfSeedBase +
                                     graft.operators.SimSearch.IvfK}),
         |crank AS (
         |  SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${duckDot("e.embedding", "c.cent_emb")} / (e.nrm * c.cent_nrm), 6) DESC,
         |               c.cent_id) AS rnk
         |  FROM e CROSS JOIN cents c),
         |lists AS (SELECT e.vec_id, e.w_lo, e.w_hi, a.cent_id
         |          FROM e JOIN (SELECT vec_id, cent_id FROM crank WHERE rnk = 1) a
         |            USING (vec_id)),
         |qp AS (SELECT e.vec_id AS q_id, e.w_lo AS q_lo, e.w_hi AS q_hi, k.cent_id
         |       FROM e JOIN crank k USING (vec_id)
         |       WHERE e.vec_id < ${graft.operators.SimSearch.NQueries}
         |         AND k.rnk <= ${graft.operators.SimSearch.IvfNProbe}),
         |ham AS (SELECT qp.q_id, l.vec_id,
         |          (bit_count(xor(l.w_lo, qp.q_lo)) +
         |           bit_count(xor(l.w_hi, qp.q_hi)))::BIGINT AS ham
         |        FROM lists l JOIN qp USING (cent_id) WHERE l.vec_id <> qp.q_id),
         |cand AS (SELECT q_id, vec_id, ham FROM (
         |           SELECT q_id, vec_id, ham,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY ham, vec_id) AS crank2 FROM ham)
         |         WHERE crank2 <= ${graft.operators.SimSearch.BqCandidates}),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM e WHERE vec_id < ${graft.operators.SimSearch.NQueries}),
         |sc AS (SELECT c.q_id, c.vec_id AS neighbor, c.ham,
         |         round(${duckDot("q.q_emb", "e.embedding")} /
         |           (q.q_nrm * e.nrm), 6) AS cos
         |       FROM cand c JOIN e ON e.vec_id = c.vec_id
         |                   JOIN q ON q.q_id = c.q_id),
         |ranked AS (SELECT q_id, neighbor, ham, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank" FROM sc)
         |SELECT q_id, "rank", neighbor, ham, cos FROM ranked
         |WHERE "rank" <= ${graft.operators.SimSearch.K}
         |ORDER BY q_id, "rank"""".stripMargin,

    // BQ recall audit: both pool arms replayed from ONE shared word/ham
    // frame, scored against the exact top-K, monotone-in-pool pinned
    // Matryoshka dimension dial: per retained prefix width, recall@K of
    // the sliced cosine top-K against the full-dim exact top-K; every
    // cosine is the same sequential fold on list_slice prefixes, every
    // ranking pinned on (rounded cos, neighbor); mono_ok reported as
    // data (no monotonicity theorem for prefixes)
    "q_ann_mrl_recall" -> {
      import graft.operators.SimSearch.{K, MrlDims, NQueries}
      def arm(d: Int): String = {
        val qs = s"list_slice(q.q_emb, 1, $d)"
        val es = s"list_slice(e.embedding, 1, $d)"
        s"""m$d AS (SELECT q_id, neighbor FROM (
           |  SELECT q.q_id, e.vec_id AS neighbor,
           |    row_number() OVER (PARTITION BY q.q_id ORDER BY
           |      round(${duckDot(qs, es)} /
           |        (${duckNormOf(qs)} * ${duckNormOf(es)}), 6) DESC,
           |      e.vec_id) AS rnk
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
           |WHERE rnk <= $K)""".stripMargin
      }
      val armUnion = MrlDims.map(d =>
        s"SELECT ${d}::BIGINT AS dims, q_id, neighbor FROM m$d")
        .mkString("\n  UNION ALL\n  ")
      val monoCase = MrlDims.sliding(2).collect { case Seq(lo, hi) =>
        s"WHEN dims = $hi THEN hits >= (SELECT hits FROM recalls WHERE dims = $lo)"
      }.mkString("\n         ")
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM e WHERE vec_id < $NQueries),
         |${MrlDims.map(arm).mkString(",\n")},
         |exact AS (SELECT q_id, neighbor FROM (
         |  SELECT q.q_id, e.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      round(${duckDot("q.q_emb", "e.embedding")} /
         |        (q.q_nrm * e.nrm), 6) DESC, e.vec_id) AS rnk
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
         |WHERE rnk <= $K),
         |approx AS (
         |  $armUnion),
         |recalls AS (
         |  SELECT dims, coalesce(sum(hit), 0)::BIGINT AS hits
         |  FROM approx a LEFT JOIN (SELECT q_id, neighbor, 1 AS hit FROM exact) x
         |    USING (q_id, neighbor) GROUP BY dims)
         |SELECT dims, hits,
         |       round(hits::DOUBLE / ${K * NQueries}, 4) AS recall5,
         |       CASE $monoCase
         |         ELSE true END AS mono_ok
         |FROM recalls ORDER BY dims""".stripMargin
    },
    "q_ann_bq_recall" -> {
      import graft.operators.SimSearch.{BqCandidates, BqPoolSmall, K, NQueries}
      def arm(pool: Int): String =
        s"""r$pool AS (SELECT q_id, neighbor FROM (
           |  SELECT c.q_id, c.vec_id AS neighbor,
           |    row_number() OVER (PARTITION BY c.q_id ORDER BY
           |      round(${duckDot("q.q_emb", "e.embedding")} /
           |        (q.q_nrm * e.nrm), 6) DESC, c.vec_id) AS rnk
           |  FROM (SELECT q_id, vec_id FROM (
           |          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |            ORDER BY ham, vec_id) AS crank FROM ham)
           |        WHERE crank <= $pool) c
           |  JOIN e ON e.vec_id = c.vec_id JOIN q ON q.q_id = c.q_id)
           |WHERE rnk <= $K)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${duckSignWord(0)} AS w_lo,
         |             ${duckSignWord(32)} AS w_hi,
         |             $DuckNorm AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, w_lo AS q_lo,
         |             w_hi AS q_hi, nrm AS q_nrm
         |      FROM e WHERE vec_id < $NQueries),
         |ham AS (SELECT q.q_id, e.vec_id,
         |          (bit_count(xor(e.w_lo, q.q_lo)) +
         |           bit_count(xor(e.w_hi, q.q_hi)))::BIGINT AS ham
         |        FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |${arm(BqPoolSmall)},
         |${arm(BqCandidates)},
         |exact AS (SELECT q_id, neighbor FROM (
         |  SELECT q.q_id, e.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY
         |      round(${duckDot("q.q_emb", "e.embedding")} /
         |        (q.q_nrm * e.nrm), 6) DESC, e.vec_id) AS rnk
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
         |WHERE rnk <= $K),
         |approx AS (
         |  SELECT 'bq_pool$BqPoolSmall' AS method, q_id, neighbor FROM r$BqPoolSmall
         |  UNION ALL
         |  SELECT 'bq_pool$BqCandidates', q_id, neighbor FROM r$BqCandidates),
         |recalls AS (
         |  SELECT method, coalesce(sum(hit), 0)::BIGINT AS hits
         |  FROM approx a LEFT JOIN (SELECT q_id, neighbor, 1 AS hit FROM exact) x
         |    USING (q_id, neighbor) GROUP BY method)
         |SELECT method, hits,
         |       round(hits::DOUBLE / ${K * NQueries}, 4) AS recall5,
         |       CASE WHEN method = 'bq_pool$BqCandidates'
         |         THEN hits >= (SELECT hits FROM recalls
         |                       WHERE method = 'bq_pool$BqPoolSmall')
         |         ELSE true END AS mono_ok
         |FROM recalls ORDER BY method""".stripMargin
    },
    "q_multimodal_stats" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
        |  encode(text) AS content, md5(text) AS content_md5 FROM documents)
        |SELECT mime, count(*)::BIGINT AS n_media,
        |       sum(octet_length(content))::BIGINT AS total_bytes,
        |       round(avg(octet_length(content)), 2) AS avg_bytes,
        |       count(DISTINCT content_md5)::BIGINT AS n_distinct
        |FROM m GROUP BY mime ORDER BY mime""".stripMargin,

    "q_multimodal_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
        |  md5(text) AS content_md5 FROM documents),
        |doubled AS (SELECT * FROM m
        |            UNION ALL
        |            SELECT media_id + 1000000, mime, content_md5 FROM m)
        |SELECT content_md5, mime, count(*)::BIGINT AS n_copies,
        |       min(media_id) AS keep_media
        |FROM doubled GROUP BY content_md5, mime HAVING count(*) > 1
        |ORDER BY content_md5""".stripMargin,

    // The perceptual-hash pairing stage, oracle-checked: the Spark side
    // decodes the planted PNGs with the real JDK codec and hashes them
    // (Multimodal.phashPairs); DuckDB cannot decode PNG, so the oracle
    // replays only the post-decode relational stage — SimHash-style
    // 4×16-bit banding, pair join, hamming verify — over the COMMITTED
    // expected-hash fixture (Multimodal.PhashFixturePath, the sf0.01
    // vintage the driver verifies at). A drift in either the codec
    // arithmetic (hashes stop matching the fixture) or the banding plan
    // (pairs diverge) breaks the hash match. DISTINCT here ≡ the Spark
    // plan's first-matching-band filter: hamming is pair-determined.
    // The recall SUMMARY, oracle-checked against the same committed
    // expected-hash fixture (closing the last rows-only row on the
    // board): DuckDB replays the banded pairing AND the catalog/recall
    // arithmetic over the fixture, so the hash match pins codec drift,
    // pairing drift, and the summary aggregation itself. Like the pairs
    // oracle, the fixture is the sf0.01 vintage — the scale the
    // driver's gate verifies at.
    "q_multimodal_phash" ->
      s"""WITH h0 AS (SELECT media_id, ok, dhash
         |            FROM '${graft.multimodal.Multimodal.PhashFixturePath}'),
         |h AS (SELECT media_id, dhash FROM h0 WHERE ok),
         |banded AS (SELECT media_id, dhash, band,
         |             (dhash >> (band::INT * 16)) & 65535 AS band_sig
         |           FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |pairs0 AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |             bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
         |           FROM banded a JOIN banded b USING (band, band_sig)
         |           WHERE a.media_id < b.media_id),
         |pairs AS (SELECT DISTINCT id_a, id_b, hamming FROM pairs0
         |          WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}),
         |imgs AS (SELECT count(*)::BIGINT AS n_images,
         |           sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS n_undecodable,
         |           sum(CASE WHEN media_id >= ${graft.multimodal.Multimodal.PlantShift} THEN 1 ELSE 0 END)::BIGINT AS planted_expected
         |         FROM h0),
         |ps AS (SELECT count(*)::BIGINT AS n_pairs,
         |         sum(CASE WHEN id_b = id_a + ${graft.multimodal.Multimodal.PlantShift} THEN 1 ELSE 0 END)::BIGINT AS planted_found,
         |         max(CASE WHEN id_b = id_a + ${graft.multimodal.Multimodal.PlantShift} THEN hamming END)::BIGINT AS planted_max_hamming
         |       FROM pairs)
         |SELECT n_images, n_undecodable, planted_expected,
         |       planted_found, n_pairs, planted_max_hamming
         |FROM imgs CROSS JOIN ps""".stripMargin,

    // r10: DISTINCT-HASH grain (the id-grain output was quadratic on
    // the saturated hash space — 25.2M rows at sf1). Same fixture,
    // same banding/hamming kernel over distinct hashes, multiplicities
    // carried so sum(n_pairs) equals the id-grain count exactly.
    "q_multimodal_phash_pairs" ->
      s"""WITH h AS (SELECT media_id, dhash
         |           FROM '${graft.multimodal.Multimodal.PhashFixturePath}'
         |           WHERE ok),
         |g AS (SELECT dhash, count(*)::BIGINT AS n FROM h GROUP BY dhash),
         |banded AS (SELECT dhash, band,
         |             (dhash >> (band::INT * 16)) & 65535 AS band_sig
         |           FROM g CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |off AS (SELECT DISTINCT a.dhash AS h_a, b.dhash AS h_b,
         |          bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
         |        FROM banded a JOIN banded b USING (band, band_sig)
         |        WHERE a.dhash < b.dhash),
         |offn AS (SELECT h_a, h_b, hamming, ga.n AS n_a, gb.n AS n_b,
         |           ga.n * gb.n AS n_pairs
         |         FROM off JOIN g ga ON ga.dhash = off.h_a
         |         JOIN g gb ON gb.dhash = off.h_b
         |         WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}),
         |diag AS (SELECT dhash AS h_a, dhash AS h_b, 0::BIGINT AS hamming,
         |           n AS n_a, n AS n_b, (n * (n - 1)) // 2 AS n_pairs
         |         FROM g WHERE n >= 2)
         |SELECT h_a, h_b, hamming, n_a, n_b, n_pairs FROM offn
         |UNION ALL
         |SELECT h_a, h_b, hamming, n_a, n_b, n_pairs FROM diag
         |ORDER BY h_a, h_b""".stripMargin,

    // audio modality, same fixture discipline: the Spark side runs the
    // real WAV decode -> envelope fingerprint; the oracle replays the
    // banding/pairing over the committed expected-fingerprint fixture
    "q_multimodal_audio_fp" ->
      s"""WITH h AS (SELECT media_id, fp
         |           FROM '${graft.multimodal.Multimodal.AudioFpFixturePath}'
         |           WHERE ok),
         |banded AS (SELECT media_id, fp, band,
         |             (fp >> (band::INT * 16)) & 65535 AS band_sig
         |           FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |            bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         |          FROM banded a JOIN banded b USING (band, band_sig)
         |          WHERE a.media_id < b.media_id)
         |SELECT DISTINCT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}
         |ORDER BY id_a, id_b""".stripMargin,

    // audio incremental screen: the phash_inc probe SQL over the audio
    // fingerprint fixture
    "q_multimodal_audio_inc" ->
      s"""WITH h AS (SELECT media_id, fp
         |           FROM '${graft.multimodal.Multimodal.AudioFpFixturePath}'
         |           WHERE ok),
         |idx AS (SELECT media_id AS dup_of, fp AS h_b, band,
         |          (fp >> (band::INT * 16)) & 65535 AS band_sig
         |        FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |        WHERE media_id < ${graft.multimodal.Multimodal.PlantShift}),
         |pr AS (SELECT media_id AS new_id, fp AS h_a, band,
         |         (fp >> (band::INT * 16)) & 65535 AS band_sig
         |       FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |       WHERE media_id >= ${graft.multimodal.Multimodal.PlantShift}),
         |pairs AS (SELECT new_id, dup_of,
         |            bit_count(xor(h_a, h_b))::BIGINT AS hamming
         |          FROM pr JOIN idx USING (band, band_sig))
         |SELECT DISTINCT new_id, dup_of, hamming FROM pairs
         |WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}
         |ORDER BY new_id, dup_of""".stripMargin,

    // asymmetric incremental probe over the same committed hash
    // fixture: arriving planted edits (media_id >= PlantShift) against
    // the base catalog's banded index — DISTINCT where the Spark plan
    // uses the first-matching-band filter (same pair set by construction)
    "q_multimodal_phash_inc" ->
      s"""WITH h AS (SELECT media_id, dhash
         |           FROM '${graft.multimodal.Multimodal.PhashFixturePath}'
         |           WHERE ok),
         |idx AS (SELECT media_id AS dup_of, dhash AS h_b, band,
         |          (dhash >> (band::INT * 16)) & 65535 AS band_sig
         |        FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |        WHERE media_id < ${graft.multimodal.Multimodal.PlantShift}),
         |pr AS (SELECT media_id AS new_id, dhash AS h_a, band,
         |         (dhash >> (band::INT * 16)) & 65535 AS band_sig
         |       FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |       WHERE media_id >= ${graft.multimodal.Multimodal.PlantShift}),
         |pairs AS (SELECT new_id, dup_of,
         |            bit_count(xor(h_a, h_b))::BIGINT AS hamming
         |          FROM pr JOIN idx USING (band, band_sig))
         |SELECT DISTINCT new_id, dup_of, hamming FROM pairs
         |WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}
         |ORDER BY new_id, dup_of""".stripMargin,

    // video modality, same fixture discipline as phash/audio: the
    // Spark side runs the real Y4M demux -> frame-sampled majority
    // fingerprint; the oracle replays the banding/pairing over the
    // committed expected-fingerprint fixture
    "q_multimodal_video_fp" ->
      s"""WITH h AS (SELECT media_id, fp
         |           FROM '${graft.multimodal.Multimodal.VideoFpFixturePath}'
         |           WHERE ok),
         |banded AS (SELECT media_id, fp, band,
         |             (fp >> (band::INT * 16)) & 65535 AS band_sig
         |           FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |            bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         |          FROM banded a JOIN banded b USING (band, band_sig)
         |          WHERE a.media_id < b.media_id)
         |SELECT DISTINCT id_a, id_b, hamming FROM pairs
         |WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}
         |ORDER BY id_a, id_b""".stripMargin,

    // video incremental screen: the phash_inc probe SQL over the video
    // fingerprint fixture
    "q_multimodal_video_inc" ->
      s"""WITH h AS (SELECT media_id, fp
         |           FROM '${graft.multimodal.Multimodal.VideoFpFixturePath}'
         |           WHERE ok),
         |idx AS (SELECT media_id AS dup_of, fp AS h_b, band,
         |          (fp >> (band::INT * 16)) & 65535 AS band_sig
         |        FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |        WHERE media_id < ${graft.multimodal.Multimodal.PlantShift}),
         |pr AS (SELECT media_id AS new_id, fp AS h_a, band,
         |         (fp >> (band::INT * 16)) & 65535 AS band_sig
         |       FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
         |       WHERE media_id >= ${graft.multimodal.Multimodal.PlantShift}),
         |pairs AS (SELECT new_id, dup_of,
         |            bit_count(xor(h_a, h_b))::BIGINT AS hamming
         |          FROM pr JOIN idx USING (band, band_sig))
         |SELECT DISTINCT new_id, dup_of, hamming FROM pairs
         |WHERE hamming <= ${graft.multimodal.Multimodal.DHashMaxHamming}
         |ORDER BY new_id, dup_of""".stripMargin,

    "q_ann_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckBucket AS bucket,
         |             $DuckNorm AS nrm
         |           FROM embeddings),
         |probes AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |             unnest(list_prepend(bucket,
         |               list_transform(range(0, 8), i -> xor(bucket, 1::BIGINT << i)))) AS bucket
         |           FROM e WHERE vec_id < 10),
         |pairs AS (SELECT p.q_id, e.vec_id AS neighbor,
         |            round(${duckDot("p.q_emb", "e.embedding")} / (p.q_nrm * e.nrm), 6) AS cos
         |          FROM e JOIN probes p USING (bucket) WHERE e.vec_id <> p.q_id),
         |ranked AS (SELECT q_id, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    "q_ann_ivf_assign" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
         |          FROM e WHERE vec_id >= 100 AND vec_id < 108),
         |scored AS (SELECT e.vec_id, c.cent_id,
         |             round(${duckDot("e.embedding", "c.cent_emb")} / (e.nrm * c.cent_nrm), 6) AS cos
         |           FROM e CROSS JOIN cents c),
         |best AS (SELECT vec_id, cent_id, cos,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY cos DESC, cent_id) AS rnk
         |         FROM scored)
         |SELECT cent_id, count(*)::BIGINT AS n_vectors,
         |       min(cos) AS min_cos, max(cos) AS max_cos
         |FROM best WHERE rnk = 1 GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    "q_text_lang_id" ->
      s"""WITH t AS (SELECT lang, $DuckTok AS toks FROM documents),
         |scored AS (SELECT lang,
         |             ${duckStopHits(TextAnalysis.StopEn)} AS s_en,
         |             ${duckStopHits(TextAnalysis.StopDe)} AS s_de,
         |             ${duckStopHits(TextAnalysis.StopFr)} AS s_fr
         |           FROM t)
         |SELECT lang,
         |       CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |            WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted,
         |       count(*)::BIGINT AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q_text_quality" ->
      s"""WITH d AS (
         |  SELECT source, $DuckTok AS toks,
         |         regexp_extract_all(text, '\\S+') AS ws, text
         |  FROM documents),
         |per_doc AS (
         |  SELECT source,
         |    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / length(text) AS punct_ratio,
         |    ${duckStopHits(TextAnalysis.StopEn)} / len(toks) AS stop_ratio,
         |    length(regexp_replace(text, '\\s+', '', 'g')) / len(ws) AS mean_tok_len
         |  FROM d)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       round(avg(punct_ratio), 4) AS avg_punct_ratio,
         |       round(avg(stop_ratio), 4) AS avg_stop_ratio,
         |       round(avg(mean_tok_len), 4) AS avg_tok_len
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,
    "q_text_token_stats" ->
      s"""WITH per_doc AS (
         |  SELECT lang,
         |         len(regexp_extract_all(text, '\\S+')) AS n_ws,
         |         len(regexp_extract_all(text, '${TextFunctionsBpeish}')) AS n_bpe
         |  FROM documents)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(n_ws)::BIGINT AS ws_tokens,
         |       sum(n_bpe)::BIGINT AS bpe_tokens,
         |       round(avg(n_bpe / n_ws), 4) AS avg_bpe_per_ws
         |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |             WHERE doc_id < 100)
         |SELECT doc_id,
         |       list_reduce(list_prepend(0::BIGINT,
         |         list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
         |         (acc, h) -> (acc * 31 + h) % ${TextAnalysis.FpMod})::BIGINT AS fp
         |FROM tok ORDER BY doc_id""".stripMargin,
    "q_text_bigrams" ->
      s"""WITH tok AS (SELECT $DuckTok AS toks FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
         |       FROM tok WHERE len(toks) >= 2)
         |SELECT bigram, count(*)::BIGINT AS cnt FROM bg
         |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "q_text_quality_filter" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, source, $DuckTok AS toks,
         |         regexp_extract_all(text, '\\S+') AS ws, text
         |  FROM documents)
         |SELECT doc_id, lang, source FROM d
         |WHERE length(regexp_replace(text, '[^[:punct:]]', '', 'g')) / length(text) < 0.1
         |  AND ${duckStopHits(TextAnalysis.StopEn)} / len(toks) >= 0.05
         |  AND len(ws) BETWEEN 10 AND 500
         |ORDER BY doc_id""".stripMargin,
    "q_text_decontaminate" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |                UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |tok AS (SELECT doc_id, $DuckTok AS toks FROM corpus),
         |grams AS (SELECT doc_id,
         |            unnest(list_distinct(list_transform(
         |              range(1, len(toks) - ${TextAnalysis.DecontamN - 2}),
         |              i -> array_to_string(list_slice(toks, i, i + ${TextAnalysis.DecontamN - 1}), ' ')))) AS g
         |          FROM tok),
         |ev AS (SELECT doc_id AS eval_doc, g FROM grams
         |       WHERE doc_id % ${TextAnalysis.EvalMod} = 0 AND doc_id < 1000000),
         |tr AS (SELECT doc_id, g FROM grams
         |       WHERE NOT (doc_id % ${TextAnalysis.EvalMod} = 0 AND doc_id < 1000000)),
         |hits AS (SELECT DISTINCT tr.doc_id, ev.eval_doc FROM tr JOIN ev USING (g))
         |SELECT doc_id, count(*)::BIGINT AS n_eval_docs
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |d AS (SELECT doc_id, len(toks)::BIGINT AS n_toks,
         |        len(list_distinct(toks))::BIGINT AS n_dist, toks
         |      FROM tok WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |       FROM d),
         |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         |r AS (SELECT doc_id, max(c)::BIGINT AS top_c, sum(c)::BIGINT AS nb
         |      FROM bc GROUP BY doc_id)
         |SELECT d.doc_id, d.n_toks,
         |       round((d.n_toks - d.n_dist) / d.n_toks::DOUBLE, 4) AS dup_token_frac,
         |       round(r.top_c / r.nb::DOUBLE, 4) AS top_bigram_frac,
         |       (round(r.top_c / r.nb::DOUBLE, 4) > ${TextAnalysis.TopBigramMax}) AS flag_repetitive
         |FROM d JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_text_entropy" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS w FROM tok),
         |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY doc_id, w)
         |SELECT doc_id, sum(c)::BIGINT AS n_toks,
         |       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same zip-of-slices bigram frame and add-one-smoothed conditional
    // as the Spark side; DuckDB's lockstep multi-unnest IS the zip
    "q_text_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents),
         |dbig AS (SELECT doc_id, lang,
         |           unnest(list_slice(toks, 1, len(toks) - 1)) AS a,
         |           unnest(list_slice(toks, 2, len(toks))) AS b
         |         FROM tok WHERE len(toks) >= 2),
         |cab AS (SELECT a, b, count(*) AS c_ab FROM dbig GROUP BY 1, 2),
         |ca AS (SELECT a, count(*) AS c_a FROM dbig GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM tok)),
         |terms AS (SELECT doc_id, lang,
         |            ln((c_ab + 1)::DOUBLE / (c_a + v)::DOUBLE) AS ll
         |          FROM dbig JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v)
         |SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
         |       round(avg(ll), 4) AS avg_ll
         |FROM terms GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    // CCNet perplexity terciles: ntile(3) per language over the
    // 4dp-rounded LM score (doc_id tiebreak — total order), per-bucket
    // mean from exact fixed-point sums
    "q_text_ppl_buckets" ->
      s"""WITH tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents),
         |dbig AS (SELECT doc_id, lang,
         |           unnest(list_slice(toks, 1, len(toks) - 1)) AS a,
         |           unnest(list_slice(toks, 2, len(toks))) AS b
         |         FROM tok WHERE len(toks) >= 2),
         |cab AS (SELECT a, b, count(*) AS c_ab FROM dbig GROUP BY 1, 2),
         |ca AS (SELECT a, count(*) AS c_a FROM dbig GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM tok)),
         |terms AS (SELECT doc_id, lang,
         |            ln((c_ab + 1)::DOUBLE / (c_a + v)::DOUBLE) AS ll
         |          FROM dbig JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
         |scored AS (SELECT doc_id, lang, round(avg(ll), 4) AS avg_ll
         |           FROM terms GROUP BY 1, 2),
         |tiered AS (SELECT lang, avg_ll,
         |             ntile(3) OVER (PARTITION BY lang
         |               ORDER BY avg_ll DESC, doc_id) AS t
         |           FROM scored)
         |SELECT lang,
         |       CASE t WHEN 1 THEN '1_head' WHEN 2 THEN '2_middle'
         |              ELSE '3_tail' END AS bucket,
         |       count(*)::BIGINT AS n_docs,
         |       (sum(CAST(round(avg_ll * 10000, 0) AS BIGINT))::BIGINT / 10000.0)
         |         / count(*) AS mean_ll
         |FROM tiered GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "q_text_chunk" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |d AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |ch AS (SELECT doc_id,
         |         unnest(range(0, ((len(toks) - 1) // ${TextAnalysis.ChunkStride}) + 1)) AS chunk_idx,
         |         unnest(list_transform(range(0, ((len(toks) - 1) // ${TextAnalysis.ChunkStride}) + 1),
         |           i -> list_slice(toks, i * ${TextAnalysis.ChunkStride} + 1,
         |                           i * ${TextAnalysis.ChunkStride} + ${TextAnalysis.ChunkSize}))) AS chunk
         |       FROM d)
         |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
         |       len(chunk)::BIGINT AS chunk_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_corpus_composition" ->
      s"""WITH d AS (SELECT source, lang, n_chars,
         |             len($DuckTok)::BIGINT AS n_toks FROM documents),
         |cells AS (SELECT source, lang, count(*)::BIGINT AS n_docs,
         |            sum(n_toks)::BIGINT AS total_tokens,
         |            round(avg(n_chars), 2) AS avg_chars
         |          FROM d GROUP BY source, lang),
         |tot AS (SELECT count(*) AS tot_docs, sum(n_toks) AS tot_toks FROM d)
         |SELECT source, lang, n_docs, total_tokens, avg_chars,
         |       round(n_docs / tot_docs::DOUBLE, 4) AS doc_share,
         |       round(total_tokens / tot_toks::DOUBLE, 4) AS token_share
         |FROM cells CROSS JOIN tot ORDER BY source, lang""".stripMargin,

    "q_dedup_span_coverage" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' '))) AS g
         |       FROM base),
         |shared AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM gr JOIN shared USING (g))),
         |c AS (SELECT doc_id, count(*)::BIGINT AS dup_positions FROM cov GROUP BY doc_id)
         |SELECT b.doc_id, len(b.toks)::BIGINT AS n_toks,
         |       coalesce(c.dup_positions, 0)::BIGINT AS dup_positions,
         |       round(coalesce(c.dup_positions, 0) / len(b.toks)::DOUBLE, 4) AS dup_span_frac
         |FROM base b LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Replays TextAnalysis.boilerplateStrip: the crawl view (footers
    // from the SAME Scala list, so the planted text can never drift),
    // span grams thresholded at BoilerMinDf docs, coverage union,
    // per-source governance report.
    "q_text_boilerplate" ->
      s"""WITH f(source, footer) AS (VALUES ${
            TextAnalysis.BoilerFooters.map { case (s, t) => s"('$s', '$t')" }.mkString(", ")}),
         |crawl AS (SELECT d.doc_id, d.source,
         |            CASE WHEN f.footer IS NULL THEN d.text
         |                 ELSE d.text || ' ' || f.footer END AS text
         |          FROM documents d LEFT JOIN f USING (source)),
         |tok AS (SELECT doc_id, source, $DuckTok AS toks FROM crawl),
         |base AS (SELECT doc_id, source, toks FROM tok WHERE len(toks) >= 1),
         |gr AS (SELECT doc_id, source,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base),
         |boiler AS (SELECT g FROM gr GROUP BY g
         |           HAVING count(DISTINCT doc_id) >= ${TextAnalysis.BoilerMinDf}),
         |hits AS (SELECT doc_id, source, p, g FROM gr JOIN boiler USING (g)),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM hits)),
         |rem AS (SELECT doc_id, count(*)::BIGINT AS removed FROM cov GROUP BY doc_id),
         |bg AS (SELECT source, count(DISTINCT g)::BIGINT AS boiler_grams
         |       FROM hits GROUP BY source),
         |agg AS (SELECT b.source, count(*)::BIGINT AS n_docs,
         |          sum(len(b.toks))::BIGINT AS tokens_total,
         |          sum(coalesce(rem.removed, 0))::BIGINT AS tokens_removed
         |        FROM base b LEFT JOIN rem USING (doc_id) GROUP BY b.source)
         |SELECT agg.source, n_docs, tokens_total,
         |       coalesce(bg.boiler_grams, 0)::BIGINT AS boiler_grams,
         |       tokens_removed,
         |       round(tokens_removed / tokens_total::DOUBLE, 4) AS removed_frac
         |FROM agg LEFT JOIN bg USING (source) ORDER BY agg.source""".stripMargin,

    // The Lee-et-al exact-substring dedup ACTION: the boilerplate-apply
    // machinery at df >= 2 over the PLAIN corpus (no crawl view) — every
    // rebuilt text md5-matched.
    "q_dedup_span_apply" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base),
         |boiler AS (SELECT g FROM gr GROUP BY g
         |           HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM gr JOIN boiler USING (g))),
         |toks2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS t,
         |            unnest(toks) AS tok FROM base),
         |kept AS (SELECT * FROM toks2 ANTI JOIN cov USING (doc_id, t))
         |SELECT doc_id, count(*)::BIGINT AS n_kept,
         |       md5(string_agg(tok, ' ' ORDER BY t)) AS cleaned_md5
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Variable-length exact-substring dedup at the Lee-et-al 50-token
    // threshold: adjacent duplicated gram starts merge into maximal
    // runs (gaps-and-islands on p − row_number), only runs covering
    // >= SpanDedupMinLen tokens are stripped, rebuilt texts md5-pinned.
    "q_dedup_span_maximal" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base),
         |shared AS (SELECT g FROM gr GROUP BY g
         |           HAVING count(DISTINCT doc_id) >= 2),
         |st AS (SELECT doc_id, p,
         |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
         |       FROM gr JOIN shared USING (g)),
         |runs AS (SELECT doc_id, min(p) AS rs,
         |           max(p) + ${TextAnalysis.SpanN - 1} AS re
         |         FROM st GROUP BY doc_id, island
         |         HAVING max(p) + ${TextAnalysis.SpanN - 1} - min(p) + 1
         |                >= ${TextAnalysis.SpanDedupMinLen}),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(rs, re + 1)) AS t FROM runs)),
         |nr AS (SELECT doc_id, count(*)::BIGINT AS runs_stripped
         |       FROM runs GROUP BY doc_id),
         |toks2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS t,
         |            unnest(toks) AS tok FROM base),
         |kept AS (SELECT * FROM toks2 ANTI JOIN cov USING (doc_id, t)),
         |reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |          md5(string_agg(tok, ' ' ORDER BY t)) AS cleaned_md5
         |        FROM kept GROUP BY doc_id)
         |SELECT reb.doc_id, coalesce(nr.runs_stripped, 0)::BIGINT AS runs_stripped,
         |       n_kept, cleaned_md5
         |FROM reb LEFT JOIN nr USING (doc_id) ORDER BY reb.doc_id""".stripMargin,

    // The INCREMENTAL screen: odd docs (the arriving batch) rebuilt
    // against the gram-df index of the even docs (the existing corpus)
    // — a span goes when the index already holds its gram (df >= 1:
    // the arriving doc is the +1 that meets the df>=2 batch criterion).
    // Same md5-rebuild discipline as q_dedup_span_apply.
    "q_dedup_span_inc" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |idx AS (SELECT g, count(DISTINCT doc_id) AS df_docs FROM (
         |          SELECT doc_id,
         |            unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |              i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |          FROM base WHERE doc_id % 2 = 0) GROUP BY g),
         |dup AS (SELECT g FROM idx WHERE df_docs >= 1),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base WHERE doc_id % 2 = 1),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM gr JOIN dup USING (g))),
         |toks2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS t,
         |            unnest(toks) AS tok FROM base WHERE doc_id % 2 = 1),
         |kept AS (SELECT * FROM toks2 ANTI JOIN cov USING (doc_id, t))
         |SELECT doc_id, count(*)::BIGINT AS n_kept,
         |       md5(string_agg(tok, ' ' ORDER BY t)) AS cleaned_md5
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The incremental BOILERPLATE screen: the q_dedup_span_inc shape at
    // the BoilerMinDf dial over the planted crawl view — the index side
    // must hold a template span in >= BoilerMinDf-1 pages for the
    // arriving page (the +1) to shed it.
    "q_text_boilerplate_inc" ->
      s"""WITH f(source, footer) AS (VALUES ${
            TextAnalysis.BoilerFooters.map { case (s, t) => s"('$s', '$t')" }.mkString(", ")}),
         |crawl AS (SELECT d.doc_id, d.source,
         |            CASE WHEN f.footer IS NULL THEN d.text
         |                 ELSE d.text || ' ' || f.footer END AS text
         |          FROM documents d LEFT JOIN f USING (source)),
         |tok AS (SELECT doc_id, $DuckTok AS toks FROM crawl),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |idx AS (SELECT g, count(DISTINCT doc_id) AS df_docs FROM (
         |          SELECT doc_id,
         |            unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |              i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |          FROM base WHERE doc_id % 2 = 0) GROUP BY g),
         |dup AS (SELECT g FROM idx WHERE df_docs >= ${TextAnalysis.BoilerMinDf - 1}),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base WHERE doc_id % 2 = 1),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM gr JOIN dup USING (g))),
         |toks2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS t,
         |            unnest(toks) AS tok FROM base WHERE doc_id % 2 = 1),
         |kept AS (SELECT * FROM toks2 ANTI JOIN cov USING (doc_id, t))
         |SELECT doc_id, count(*)::BIGINT AS n_kept,
         |       md5(string_agg(tok, ' ' ORDER BY t)) AS cleaned_md5
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The APPLY action: the oracle md5-hashes every cleaned text, so
    // both engines must drop the exact same token positions and rebuild
    // the exact same surviving sequence.
    "q_text_boilerplate_apply" ->
      s"""WITH f(source, footer) AS (VALUES ${
            TextAnalysis.BoilerFooters.map { case (s, t) => s"('$s', '$t')" }.mkString(", ")}),
         |crawl AS (SELECT d.doc_id, d.source,
         |            CASE WHEN f.footer IS NULL THEN d.text
         |                 ELSE d.text || ' ' || f.footer END AS text
         |          FROM documents d LEFT JOIN f USING (source)),
         |tok AS (SELECT doc_id, $DuckTok AS toks FROM crawl),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |gr AS (SELECT doc_id,
         |         unnest(range(1, len(toks) - ${TextAnalysis.SpanN - 2})) AS p,
         |         unnest(list_transform(range(1, len(toks) - ${TextAnalysis.SpanN - 2}),
         |           i -> md5(array_to_string(list_slice(toks, i, i + ${TextAnalysis.SpanN - 1}), ' ')))) AS g
         |       FROM base),
         |boiler AS (SELECT g FROM gr GROUP BY g
         |           HAVING count(DISTINCT doc_id) >= ${TextAnalysis.BoilerMinDf}),
         |cov AS (SELECT DISTINCT doc_id, t FROM (
         |          SELECT doc_id, unnest(range(p, p + ${TextAnalysis.SpanN})) AS t
         |          FROM gr JOIN boiler USING (g))),
         |toks2 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS t,
         |            unnest(toks) AS tok FROM base),
         |kept AS (SELECT * FROM toks2 ANTI JOIN cov USING (doc_id, t))
         |SELECT doc_id, count(*)::BIGINT AS n_kept,
         |       md5(string_agg(tok, ' ' ORDER BY t)) AS cleaned_md5
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ann_kmeans" ->
      s"""WITH $DuckKmeansCtes,
         |d3 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |       FROM v JOIN c2 USING (d) GROUP BY vec_id, cent_id),
         |a3 AS (SELECT vec_id, cent_id, d2 FROM (
         |         SELECT vec_id, cent_id, d2,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |         FROM d3) WHERE rnk = 1)
         |SELECT cent_id, count(*)::BIGINT AS n_vectors,
         |       round(avg(sqrt(d2)), 4) AS mean_dist
         |FROM a3 GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    // delta-stopped Lloyd: the identical BIGINT fixed-point recursion —
    // assign by exact integer squared-L2, recenter by floor division,
    // stop when the L1 centroid delta drops under the tolerance — so
    // the stop round itself is part of the hash match (the
    // q_graph_pagerank_conv discipline). Support CTEs MATERIALIZED:
    // plain CTEs re-inline per recursion step.
    "q_ann_kmeans_conv" -> {
      val (off, sc) = (SimSearch.KmFpOff, SimSearch.KmFpScale)
      val (tol, cap) = (SimSearch.KmConvTol, SimSearch.KmConvMaxRounds)
      s"""WITH RECURSIVE ts AS MATERIALIZED (
         |  SELECT vec_id FROM embeddings
         |  ORDER BY CAST('0x' || substr(md5(vec_id::VARCHAR || '#kmtrain'), 1, 8) AS BIGINT),
         |           vec_id
         |  LIMIT ${SimSearch.KmTrainPerCent * SimSearch.KmK}),
         |fv AS MATERIALIZED (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d,
         |         unnest(list_transform(embedding,
         |           x -> CAST(floor((x::DOUBLE + $off) * $sc.0) AS BIGINT))) AS vs
         |  FROM embeddings),
         |tv AS MATERIALIZED (SELECT fv.* FROM fv JOIN ts USING (vec_id)),
         |seed AS MATERIALIZED (
         |  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cent_id
         |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT ${SimSearch.KmK})),
         |km(iter, cent_id, d, c, dl) AS (
         |  SELECT 0, cent_id, d, vs, $tol::BIGINT FROM fv JOIN seed USING (vec_id)
         |  UNION ALL
         |  SELECT cur.iter + 1, nc.cent_id, nc.d, nc.c, abs(nc.c - cur.c)
         |  FROM km cur
         |  JOIN (SELECT a.cent_id, t.d, sum(t.vs) // count(*) AS c
         |        FROM (SELECT vec_id, cent_id FROM (
         |                SELECT vec_id, cent_id,
         |                  row_number() OVER (PARTITION BY vec_id
         |                    ORDER BY d2, cent_id) AS rnk
         |                FROM (SELECT t2.vec_id, k2.cent_id,
         |                        sum((t2.vs - k2.c) * (t2.vs - k2.c)) AS d2
         |                      FROM tv t2 JOIN km k2 USING (d)
         |                      GROUP BY t2.vec_id, k2.cent_id))
         |              WHERE rnk = 1) a
         |        JOIN tv t USING (vec_id)
         |        GROUP BY a.cent_id, t.d) nc
         |    ON nc.cent_id = cur.cent_id AND nc.d = cur.d
         |  WHERE (SELECT sum(dl) FROM km) >= $tol AND cur.iter < $cap
         |),
         |fin AS (SELECT cent_id, d, c FROM km
         |        WHERE iter = (SELECT max(iter) FROM km)),
         |fa AS (SELECT vec_id, cent_id FROM (
         |         SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY d2, cent_id) AS rnk
         |         FROM (SELECT t.vec_id, k.cent_id,
         |                 sum((t.vs - k.c) * (t.vs - k.c)) AS d2
         |               FROM tv t JOIN fin k USING (d)
         |               GROUP BY t.vec_id, k.cent_id))
         |       WHERE rnk = 1),
         |cs AS (SELECT cent_id, sum(c)::BIGINT AS c_sum FROM fin GROUP BY cent_id)
         |SELECT fa.cent_id, count(*)::BIGINT AS n_members, cs.c_sum,
         |       (SELECT max(iter) FROM km)::BIGINT AS rounds
         |FROM fa JOIN cs USING (cent_id)
         |GROUP BY fa.cent_id, cs.c_sum ORDER BY fa.cent_id""".stripMargin
    },

    "q_ann_kmeans_routed" ->
      s"""WITH $DuckKmeansCtes,
         |cl AS (SELECT cent_id, list(c ORDER BY d) AS cent_emb,
         |         ${duckNormOf("list(c ORDER BY d)")} AS cent_nrm
         |       FROM c2 GROUP BY cent_id),
         |e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |crank AS (
         |  SELECT e.vec_id, cl.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${duckDot("e.embedding", "cl.cent_emb")} / (e.nrm * cl.cent_nrm), 6) DESC,
         |               cl.cent_id) AS rnk
         |  FROM e CROSS JOIN cl),
         |assign AS (SELECT vec_id, cent_id FROM crank WHERE rnk = 1),
         |cand AS (SELECT e.vec_id, e.embedding, e.nrm, a.cent_id
         |         FROM e JOIN assign a USING (vec_id)),
         |qc AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, e.nrm AS q_nrm, k.cent_id
         |       FROM e JOIN crank k USING (vec_id)
         |       WHERE e.vec_id < 10 AND k.rnk <= 2),
         |pairs AS (SELECT qc.q_id, c.vec_id AS neighbor,
         |            round(${duckDot("qc.q_emb", "c.embedding")} / (qc.q_nrm * c.nrm), 6) AS cos
         |          FROM cand c JOIN qc USING (cent_id) WHERE c.vec_id <> qc.q_id),
         |ranked AS (SELECT q_id, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.pcaPowerOf step for step: fixed-point BIGINT
    // scatter (exact integer sums — no float drift), then two power
    // steps whose every float fold runs in explicit dimension order
    // (list(... ORDER BY d), sequential list_reduce = Spark's
    // aggregate over array_sort(collect_list), 0.0 seed ≡ first-element
    // seed in IEEE), so loadings are bit-identical across engines.
    "q_ann_pca" ->
      """WITH vl AS (
        |  SELECT vec_id, unnest(range(0, len(embedding))) AS d,
        |         unnest(list_transform(embedding,
        |           x -> round(x::DOUBLE * 1000000, 0)::BIGINT)) AS vi
        |  FROM embeddings),
        |sc AS (SELECT a.d AS d1, b.d AS d2, sum(a.vi * b.vi) AS s
        |       FROM vl a JOIN vl b USING (vec_id) GROUP BY 1, 2),
        |w0 AS (SELECT DISTINCT d1 AS d, 0.125::DOUBLE AS x FROM sc),
        |m1 AS (SELECT d1 AS d,
        |         list_reduce(list(s::DOUBLE * w0.x ORDER BY d2), (a, b) -> a + b) AS x
        |       FROM sc JOIN w0 ON sc.d2 = w0.d GROUP BY d1),
        |w1 AS (SELECT d, x / (SELECT sqrt(list_reduce(list(x * x ORDER BY d),
        |                        (a, b) -> a + b)) FROM m1) AS x FROM m1),
        |m2 AS (SELECT d1 AS d,
        |         list_reduce(list(s::DOUBLE * w1.x ORDER BY d2), (a, b) -> a + b) AS x
        |       FROM sc JOIN w1 ON sc.d2 = w1.d GROUP BY d1),
        |w2 AS (SELECT d, x / (SELECT sqrt(list_reduce(list(x * x ORDER BY d),
        |                        (a, b) -> a + b)) FROM m2) AS x FROM m2),
        |m3 AS (SELECT d1 AS d,
        |         list_reduce(list(s::DOUBLE * w2.x ORDER BY d2), (a, b) -> a + b) AS x
        |       FROM sc JOIN w2 ON sc.d2 = w2.d GROUP BY d1),
        |lam AS (SELECT sqrt(list_reduce(list(x * x ORDER BY d),
        |                      (a, b) -> a + b)) AS lambda FROM m3),
        |tr AS (SELECT sum(s) AS t FROM sc WHERE d1 = d2)
        |SELECT w2.d, round(w2.x, 6) AS loading,
        |       round(lam.lambda / tr.t, 6) AS eigval_frac
        |FROM w2 CROSS JOIN lam CROSS JOIN tr ORDER BY w2.d""".stripMargin,

    // Replays SimSearch.embeddingDrift: quantizer trained on the even
    // (reference) snapshot via the shared kmeans chain, both snapshots
    // assigned to the FROZEN centroids, smoothed PSI per cluster. The
    // planted +0.3 shift on vec_id%10<3 of the odd snapshot is mirrored
    // structurally (CASE outside the lambda, all-double math).
    "q_profile_embedding_drift" ->
      s"""WITH refsnap AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         |cursnap AS (SELECT vec_id,
         |              CASE WHEN vec_id % 10 < 3
         |                THEN list_transform(embedding, x -> x::DOUBLE + ${SimSearch.DriftShift}::DOUBLE)
         |                ELSE list_transform(embedding, x -> x::DOUBLE) END AS embedding
         |            FROM embeddings WHERE vec_id % 2 = 1),
         |${duckKmeansCtesOver("refsnap")},
         |vcur AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d,
         |           unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
         |         FROM cursnap),
         |dref AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |         FROM v JOIN c2 USING (d) GROUP BY 1, 2),
         |aref AS (SELECT vec_id, cent_id FROM (
         |           SELECT vec_id, cent_id,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |           FROM dref) WHERE rnk = 1),
         |dcur AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |         FROM vcur JOIN c2 USING (d) GROUP BY 1, 2),
         |acur AS (SELECT vec_id, cent_id FROM (
         |           SELECT vec_id, cent_id,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |           FROM dcur) WHERE rnk = 1),
         |spine AS (SELECT DISTINCT cent_id FROM c2),
         |cnt AS (SELECT s.cent_id,
         |          coalesce(r.n, 0)::BIGINT AS n_ref,
         |          coalesce(u.n, 0)::BIGINT AS n_cur
         |        FROM spine s
         |        LEFT JOIN (SELECT cent_id, count(*)::BIGINT AS n FROM aref GROUP BY 1) r USING (cent_id)
         |        LEFT JOIN (SELECT cent_id, count(*)::BIGINT AS n FROM acur GROUP BY 1) u USING (cent_id)),
         |tot AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur,
         |          count(*)::BIGINT AS k FROM cnt),
         |p AS (SELECT cent_id, n_ref, n_cur,
         |        (n_ref + 0.5::DOUBLE) / (t_ref + 0.5::DOUBLE * k) AS p_ref,
         |        (n_cur + 0.5::DOUBLE) / (t_cur + 0.5::DOUBLE * k) AS p_cur
         |      FROM cnt CROSS JOIN tot)
         |SELECT cent_id, n_ref, n_cur,
         |       round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
         |       round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
         |FROM p ORDER BY cent_id""".stripMargin,

    // Replays SimSearch.pqTopKOf: per-subspace codebooks (seed = first
    // 16 vectors' subvectors, one Lloyd refine), corpus encoding, then
    // ADC — every engine-side float sum feeds a 6dp round before any
    // rank, and ranks tie-break on the unique neighbor id.
    "q_ann_pq" -> DuckPqSql,

    // IVF-PQ delta-merge serve: the oracle re-derives the serve from a
    // full re-assign/re-encode of the WHOLE corpus at the FROZEN
    // snapshot-trained artifacts (codebook + coarse cells from the
    // even-id half only), so the hash match IS merged ≡ rebuilt for
    // the add path — assignment, encoding and list maintenance
    "q_ann_index_merge" -> duckAnnMergeServe("TRUE"),

    // index retraction: the SAME frozen-artifact chain with the
    // erasure list excluded from the inverted lists — retracted ≡
    // rebuilt-on-kept as one hash match
    "q_ann_index_forget" -> duckAnnMergeServe(
      s"c.vec_id % ${CorpusMerge.ForgetMod} <> ${CorpusMerge.ForgetRem}"),

    // The PQ recall audit: both compressed-domain serving chains (flat
    // ADC `ranked`, IVF-routed `iranked` — each verbatim its serving
    // oracle) intersected with the exact L2 top-3 per query.
    "q_ann_pq_recall" ->
      s"""WITH $DuckPqCtes,
         |$DuckIvfAdcCtes,
         |$DuckIvfAdcResCtes,
         |$DuckOpqCtes,
         |exact AS (SELECT q.vec_id AS q_id, e.vec_id AS neighbor,
         |            round(list_reduce(list_transform(
         |              list_zip(q.embedding, e.embedding),
         |              p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)),
         |              (a, b) -> a + b), 6) AS d2
         |          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |          WHERE q.vec_id < ${SimSearch.NQueries}),
         |exact3 AS (SELECT q_id, neighbor FROM (
         |             SELECT q_id, neighbor,
         |               row_number() OVER (PARTITION BY q_id
         |                 ORDER BY d2, neighbor) AS rnk
         |             FROM exact) WHERE rnk <= 3),
         |ra AS (SELECT 'pq_adc' AS method, q_id, neighbor
         |       FROM ranked WHERE "rank" <= 3
         |       UNION ALL
         |       SELECT 'ivfadc_np${SimSearch.IvfNProbe}' AS method, q_id, neighbor
         |       FROM iranked WHERE "rank" <= 3
         |       UNION ALL
         |       SELECT 'ivfadc_res_np${SimSearch.IvfNProbe}' AS method, q_id, neighbor
         |       FROM rranked WHERE "rank" <= 3
         |       UNION ALL
         |       SELECT 'opq_adc' AS method, q_id, neighbor
         |       FROM oranked WHERE "rank" <= 3),
         |hits AS (SELECT method, q_id, count(*)::BIGINT AS hits
         |         FROM exact3 JOIN ra USING (q_id, neighbor) GROUP BY 1, 2),
         |qs AS (SELECT DISTINCT vec_id AS q_id FROM embeddings WHERE vec_id < ${SimSearch.NQueries}),
         |ms AS (SELECT 'pq_adc' AS method UNION ALL SELECT 'ivfadc_np${SimSearch.IvfNProbe}'
         |       UNION ALL SELECT 'ivfadc_res_np${SimSearch.IvfNProbe}'
         |       UNION ALL SELECT 'opq_adc')
         |SELECT method, q_id, coalesce(hits, 0)::BIGINT AS hits,
         |       round(coalesce(hits, 0) / 3.0, 4) AS recall
         |FROM ms CROSS JOIN qs LEFT JOIN hits USING (method, q_id)
         |ORDER BY method, q_id""".stripMargin,

    // Replays SimSearch.opqTopK: Householder rotation from the PCA
    // loadings (OPQ's pre-transform), then the PQ chain over the rotated
    // corpus — Ge et al. 2013's rotate-then-quantize, single-reflection
    // parametric variant.
    "q_ann_opq" ->
      s"""WITH $DuckOpqCtes
         |SELECT q_id, "rank", neighbor, adc_d2 FROM oranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.ivfAdcTopKOf: the seed-pick IVF router composed
    // with the shared PQ code/LUT chain — FAISS's IVFADC (plain codes).
    "q_ann_ivfadc" ->
      s"""WITH $DuckPqCtes,
         |$DuckIvfAdcCtes
         |SELECT q_id, "rank", neighbor, adc_d2 FROM iranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.ivfAdcRefineTopKOf: the ADC top-HnShortlist per
    // query (iadc, shared verbatim with the serving oracle) re-ranked on
    // fold-exact squared L2 — FAISS IndexRefineFlat over the routed chain.
    "q_ann_ivfadc_refine" ->
      s"""WITH $DuckPqCtes,
         |$DuckIvfAdcCtes,
         |fshort AS (SELECT q_id, neighbor FROM (
         |             SELECT q_id, neighbor,
         |               row_number() OVER (PARTITION BY q_id
         |                 ORDER BY adc_d2, neighbor) AS srnk
         |             FROM iadc) WHERE srnk <= ${SimSearch.HnShortlist}),
         |fex AS (SELECT s.q_id, s.neighbor,
         |          round(list_reduce(list_transform(
         |            list_zip(q.embedding, n.embedding),
         |            p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)),
         |            (a, b) -> a + b), 6) AS d2
         |        FROM fshort s
         |        JOIN embeddings q ON q.vec_id = s.q_id
         |        JOIN embeddings n ON n.vec_id = s.neighbor),
         |frk AS (SELECT q_id, neighbor, d2,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY d2, neighbor) AS "rank"
         |        FROM fex)
         |SELECT q_id, "rank", neighbor, d2 FROM frk
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.ivfAdcResidualTopKOf: PQ over v − c(cell) with
    // the per-(query, probed cell) LUT — FAISS's default residual coding.
    "q_ann_ivfadc_res" ->
      s"""WITH $DuckPqCtes,
         |$DuckIvfAdcCtes,
         |$DuckIvfAdcResCtes
         |SELECT q_id, "rank", neighbor, adc_d2 FROM rranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.semanticDecontaminate: FIXED-cardinality
    // broadcast eval set (every 50th vec_id below EvalIdCap), one
    // corpus scan, worst eval witness per flagged vector.
    "q_decontaminate_semantic" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |ev AS (SELECT vec_id AS eval_id, embedding AS eval_emb, nrm AS eval_nrm
         |       FROM e WHERE vec_id % 50 = 0 AND vec_id < ${SimSearch.EvalIdCap}),
         |sc AS (SELECT e.vec_id, ev.eval_id,
         |         round(${duckDot("e.embedding", "ev.eval_emb")} / (e.nrm * ev.eval_nrm), 6) AS cos
         |       FROM e CROSS JOIN ev
         |       WHERE NOT (e.vec_id % 50 = 0 AND e.vec_id < ${SimSearch.EvalIdCap})),
         |fl AS (SELECT * FROM sc WHERE cos >= ${SimSearch.SemTau}),
         |rk AS (SELECT vec_id, eval_id, cos,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos DESC, eval_id) AS rnk
         |       FROM fl)
         |SELECT vec_id, eval_id, cos FROM rk WHERE rnk = 1
         |ORDER BY vec_id""".stripMargin,

    // Replays SimSearch.hardNegativesOf: the SemDeDup τ-pair set (the
    // same trained-quantizer chain as q_dedup_semantic) excluded from
    // an exact cosine ranking — positives must never serve as negatives.
    "q_train_hard_negatives" ->
      s"""WITH $DuckKmeansDerivedCtes,
         |d3 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |       FROM v JOIN c2 USING (d) GROUP BY vec_id, cent_id),
         |a3 AS (SELECT vec_id, cent_id FROM (
         |         SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |         FROM d3) WHERE rnk = 1),
         |e2 AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |m AS (SELECT e2.vec_id, e2.embedding, e2.nrm, a.cent_id
         |      FROM e2 JOIN a3 a USING (vec_id)),
         |cp AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor
         |       FROM m a JOIN m b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
         |       WHERE round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= ${SimSearch.SemTau}),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM e2 WHERE vec_id < 10),
         |sc AS (SELECT qv.q_id, e2.vec_id AS neighbor,
         |         round(${duckDot("qv.q_emb", "e2.embedding")} / (qv.q_nrm * e2.nrm), 6) AS cos
         |       FROM e2 CROSS JOIN qv WHERE e2.vec_id <> qv.q_id),
         |neg AS (SELECT sc.* FROM sc ANTI JOIN cp USING (q_id, neighbor)),
         |rk AS (SELECT q_id, neighbor, cos,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY cos DESC, neighbor) AS "rank"
         |       FROM neg)
         |SELECT q_id, "rank", neighbor, cos FROM rk
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // Replays SimSearch.hardNegativesRoutedOf: the trained SERVING
    // quantizer (h-prefixed chain, fixed nlist = KmK — an index
    // parameter) routes each query to its nprobe cells, while the
    // EXCLUSION set comes from the derived-K SemDeDup clustering
    // (s-prefixed chain — the K∝N dial, same as q_dedup_semantic);
    // cell-local candidates score by inner-product ADC over the shared
    // PQ codebook divided by stored exact norms (approximated cosine),
    // the τ-pair dup set anti-joins out, the top-`HnShortlist` ADC
    // survivors re-rank on exact cosine, top-3 per query.
    "q_train_hard_negatives_routed" ->
      s"""WITH $DuckPqCtes,
         |${duckKmeansCtesOver("embeddings", "h")},
         |hd3 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |        FROM hv JOIN hc2 USING (d) GROUP BY vec_id, cent_id),
         |hrnk AS (SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |         FROM hd3),
         |ha3 AS (SELECT vec_id, cent_id FROM hrnk WHERE rnk = 1),
         |hprobe AS (SELECT vec_id AS q_id, cent_id FROM hrnk
         |           WHERE vec_id < ${SimSearch.NQueries} AND rnk <= ${SimSearch.IvfNProbe}),
         |he AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |${duckKmeansCtesOver("embeddings", "s", derivedK = true)},
         |sd3 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |        FROM sv JOIN sc2 USING (d) GROUP BY vec_id, cent_id),
         |sa3 AS (SELECT vec_id, cent_id FROM (
         |          SELECT vec_id, cent_id,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |          FROM sd3) WHERE rnk = 1),
         |hm AS (SELECT he.vec_id, he.embedding, he.nrm, a.cent_id
         |       FROM he JOIN sa3 a USING (vec_id)),
         |hcp AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor
         |        FROM hm a JOIN hm b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
         |        WHERE round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= ${SimSearch.SemTau}),
         |hiplut AS (SELECT v.vec_id AS q_id, sub, code_id, sum(val * c) AS sub_ip
         |           FROM v JOIN c1 USING (sub, d)
         |           WHERE v.vec_id < ${SimSearch.NQueries} GROUP BY 1, 2, 3),
         |hcodes AS (SELECT c.vec_id, c.sub, c.code_id, a.cent_id
         |           FROM codes c JOIN ha3 a USING (vec_id)),
         |hrouted AS (SELECT p.q_id, c.vec_id, c.sub, c.code_id
         |            FROM hcodes c JOIN hprobe p USING (cent_id)
         |            WHERE c.vec_id <> p.q_id),
         |hip AS (SELECT q_id, vec_id AS neighbor, sum(sub_ip) AS ip
         |        FROM hrouted JOIN hiplut USING (q_id, sub, code_id)
         |        GROUP BY 1, 2),
         |hacos AS (SELECT q_id, neighbor,
         |            round(ip / (qn.nrm * cn.nrm), 6) AS acos
         |          FROM hip JOIN he qn ON qn.vec_id = hip.q_id
         |          JOIN he cn ON cn.vec_id = hip.neighbor),
         |hneg AS (SELECT a.* FROM hacos a ANTI JOIN hcp USING (q_id, neighbor)),
         |hshort AS (SELECT q_id, neighbor FROM (
         |             SELECT q_id, neighbor,
         |               row_number() OVER (PARTITION BY q_id
         |                 ORDER BY acos DESC, neighbor) AS srnk
         |             FROM hneg) WHERE srnk <= ${SimSearch.HnShortlist}),
         |hex AS (SELECT s.q_id, s.neighbor,
         |          round(${duckDot("qe.embedding", "ne.embedding")} / (qe.nrm * ne.nrm), 6) AS cos
         |        FROM hshort s JOIN he qe ON qe.vec_id = s.q_id
         |        JOIN he ne ON ne.vec_id = s.neighbor),
         |hrk AS (SELECT q_id, neighbor, cos,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, neighbor) AS "rank"
         |        FROM hex)
         |SELECT q_id, "rank", neighbor, cos FROM hrk
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH $DuckKmeansDerivedCtes,
         |d3 AS (SELECT vec_id, cent_id, sum((val - c) * (val - c)) AS d2
         |       FROM v JOIN c2 USING (d) GROUP BY vec_id, cent_id),
         |a3 AS (SELECT vec_id, cent_id FROM (
         |         SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rnk
         |         FROM d3) WHERE rnk = 1),
         |e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |m AS (SELECT e.vec_id, e.embedding, e.nrm, a.cent_id
         |      FROM e JOIN a3 a USING (vec_id)),
         |pairs AS (SELECT b.vec_id, a.cent_id, a.vec_id AS dup_of,
         |            round(${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |          FROM m a JOIN m b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
         |thr AS (SELECT * FROM pairs WHERE cos >= ${SimSearch.SemTau}),
         |w AS (SELECT vec_id, cent_id, dup_of, cos,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, dup_of) AS rnk
         |      FROM thr)
         |SELECT vec_id, cent_id, dup_of, cos FROM w WHERE rnk = 1
         |ORDER BY vec_id""".stripMargin,

    "q_ann_quantize_int8" ->
      """WITH vl AS (SELECT vec_id, label,
        |              unnest(list_transform(embedding, x -> x::DOUBLE)) AS v
        |            FROM embeddings),
        |s AS (SELECT vec_id, label, max(abs(v)) / 127.0 AS scale
        |      FROM vl GROUP BY vec_id, label),
        |c AS (SELECT vec_id, label, scale,
        |        CASE WHEN scale > 0 THEN round(v / scale) ELSE 0.0 END AS q, v
        |      FROM vl JOIN s USING (vec_id, label)),
        |pv AS (SELECT vec_id, label, scale,
        |         avg((v - q * scale) * (v - q * scale)) AS mse,
        |         max(abs(q)) AS max_code
        |       FROM c GROUP BY vec_id, label, scale)
        |SELECT label, count(*)::BIGINT AS n_vectors,
        |       round(avg(CASE WHEN scale > 0 THEN mse / (scale * scale) ELSE 0.0 END), 4) AS nmse,
        |       (max(max_code) <= 127.0) AS codes_in_range
        |FROM pv GROUP BY label ORDER BY label""".stripMargin,

    "q_text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT doc_id, word,
         |             round(tf * ln(n::DOUBLE / df), 4) AS score
         |           FROM tf JOIN df USING (word) CROSS JOIN n
         |           WHERE doc_id < 10),
         |ranked AS (SELECT doc_id, word, score,
         |             row_number() OVER (PARTITION BY doc_id
         |               ORDER BY score DESC, word) AS "rank"
         |           FROM scored)
         |SELECT doc_id, "rank", word, score FROM ranked
         |WHERE "rank" <= 3 ORDER BY doc_id, "rank"""".stripMargin,

    // BM25 constants interpolated from TextAnalysis so a parameter change
    // cannot silently desync the oracle (the q_ann_pq_recall lesson)
    "q_text_bm25" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |n1 AS (SELECT count(*) AS n FROM documents),
         |qscored AS (SELECT doc_id AS query_id, word,
         |              round(tf * ln(n1.n::DOUBLE / df.df), 4) AS tscore
         |            FROM tf JOIN df USING (word) CROSS JOIN n1
         |            WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |qterms AS (SELECT query_id, word FROM (
         |             SELECT query_id, word,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY tscore DESC, word) AS trank
         |             FROM qscored) WHERE trank <= 3),
         |scored AS (SELECT q.query_id, tf.doc_id,
         |             round(sum(
         |               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |               * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |               / (tf.tf + ${TextAnalysis.Bm25K1}
         |                  * (1.0 - ${TextAnalysis.Bm25B}
         |                     + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |             ), 4) AS score
         |           FROM tf
         |           JOIN qterms q USING (word)
         |           JOIN dl ON dl.doc_id = tf.doc_id
         |           JOIN df ON df.word = tf.word
         |           CROSS JOIN stats s
         |           GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY score DESC, doc_id) AS "rank"
         |           FROM scored)
         |SELECT query_id, "rank", doc_id, score FROM ranked
         |WHERE "rank" <= ${TextAnalysis.Bm25TopK}
         |ORDER BY query_id, "rank"""".stripMargin,

    // RM3: the bm25 chain extended — feedback docs carry their scores
    // as exact 4dp fixed-point integers, each relevance-model
    // contribution is one rounded division of exact BIGINTs, and the
    // interpolated weights re-enter the same Okapi sum
    "q_text_rm3" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |n1 AS (SELECT count(*) AS n FROM documents),
         |qscored AS (SELECT doc_id AS query_id, word,
         |              round(tf * ln(n1.n::DOUBLE / df.df), 4) AS tscore
         |            FROM tf JOIN df USING (word) CROSS JOIN n1
         |            WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |qterms AS (SELECT query_id, word FROM (
         |             SELECT query_id, word,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY tscore DESC, word) AS trank
         |             FROM qscored) WHERE trank <= 3),
         |scored1 AS (SELECT q.query_id, tf.doc_id,
         |              round(sum(
         |                ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |                * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |                / (tf.tf + ${TextAnalysis.Bm25K1}
         |                   * (1.0 - ${TextAnalysis.Bm25B}
         |                      + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |              ), 4) AS score
         |            FROM tf
         |            JOIN qterms q USING (word)
         |            JOIN dl ON dl.doc_id = tf.doc_id
         |            JOIN df ON df.word = tf.word
         |            CROSS JOIN stats s
         |            GROUP BY 1, 2),
         |fb AS (SELECT query_id, doc_id,
         |         round(score * 10000, 0)::BIGINT AS s4
         |       FROM (SELECT query_id, doc_id, score,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY score DESC, doc_id) AS frank
         |             FROM scored1)
         |       WHERE frank <= ${TextAnalysis.Rm3FbDocs}),
         |rm1 AS (SELECT fb.query_id, tf.word,
         |          sum(round((tf.tf * fb.s4)::DOUBLE * 1000000.0::DOUBLE
         |                / dl.dl::DOUBLE, 0)::BIGINT)::BIGINT AS wfx
         |        FROM tf JOIN fb ON fb.doc_id = tf.doc_id
         |        JOIN dl ON dl.doc_id = tf.doc_id
         |        GROUP BY 1, 2),
         |expt AS (SELECT query_id, word, wfx FROM (
         |           SELECT query_id, word, wfx,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY wfx DESC, word) AS erank
         |           FROM rm1) WHERE erank <= ${TextAnalysis.Rm3FbTerms}),
         |expn AS (SELECT e.query_id, e.word,
         |           e.wfx::DOUBLE / s.sumwfx::DOUBLE AS pw
         |         FROM expt e JOIN (SELECT query_id,
         |             sum(wfx)::BIGINT AS sumwfx FROM expt GROUP BY 1) s
         |           USING (query_id)),
         |nq AS (SELECT query_id, count(*)::BIGINT AS n_q
         |       FROM qterms GROUP BY 1),
         |orig AS (SELECT q.query_id, q.word,
         |           1.0::DOUBLE / nq.n_q::DOUBLE AS ow
         |         FROM qterms q JOIN nq USING (query_id)),
         |terms AS (SELECT coalesce(o.query_id, x.query_id) AS query_id,
         |            coalesce(o.word, x.word) AS word,
         |            ${TextAnalysis.Rm3Lambda}::DOUBLE
         |              * coalesce(o.ow, 0.0::DOUBLE)
         |            + ${1.0 - TextAnalysis.Rm3Lambda}::DOUBLE
         |              * coalesce(x.pw, 0.0::DOUBLE) AS qweight
         |          FROM orig o FULL OUTER JOIN expn x
         |            ON o.query_id = x.query_id AND o.word = x.word),
         |scored2 AS (SELECT q.query_id, tf.doc_id,
         |              round(sum(q.qweight *
         |                (ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |                 * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |                 / (tf.tf + ${TextAnalysis.Bm25K1}
         |                    * (1.0 - ${TextAnalysis.Bm25B}
         |                       + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl)))
         |              ), 4) AS score
         |            FROM tf
         |            JOIN terms q USING (word)
         |            JOIN dl ON dl.doc_id = tf.doc_id
         |            JOIN df ON df.word = tf.word
         |            CROSS JOIN stats s
         |            GROUP BY 1, 2),
         |ranked2 AS (SELECT query_id, doc_id, score,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS "rank"
         |            FROM scored2)
         |SELECT query_id, "rank"::BIGINT AS "rank", doc_id, score FROM ranked2
         |WHERE "rank" <= ${TextAnalysis.Bm25TopK}
         |ORDER BY query_id, "rank"""".stripMargin,

    // the oracle is the EXACT group-by over the same planted stream —
    // the sketch phase may only shape the candidate set, never the
    // answer. Plant rates are ::DOUBLE so the ceil() boundary arithmetic
    // is the same IEEE multiply in both engines.
    "q_sketch_heavy_hitters" ->
      s"""WITH tok AS (SELECT $DuckTok AS toks FROM documents),
         |org AS (SELECT unnest(list_transform(range(1, len(toks)),
         |          i -> toks[i] || ' ' || toks[i + 1])) AS item
         |        FROM tok WHERE len(toks) >= 2),
         |n_org AS (SELECT count(*) AS n FROM org),
         |rates(item, rate) AS (VALUES ${TextAnalysis.HhPlantRates.map {
           case (i, r) => s"('$i', ${r}::DOUBLE)" }.mkString(", ")}),
         |planted AS (SELECT r.item
         |            FROM rates r CROSS JOIN n_org,
         |                 unnest(range(1, 1 + ceil(r.rate * n_org.n)::BIGINT))),
         |stream AS (SELECT item FROM org UNION ALL SELECT item FROM planted),
         |c AS (SELECT item, count(*)::BIGINT AS cnt FROM stream GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n_total FROM stream)
         |SELECT item, cnt, n_total FROM c CROSS JOIN tot
         |WHERE cnt * ${TextAnalysis.HhK} > n_total
         |ORDER BY cnt DESC, item""".stripMargin,

    // coordinated bottom-k sketch algebra: the oracle replays both
    // sides' samples, the merged union sketch and both estimators with
    // window/limit SQL — every hash is an exact double (13 hex / 2^52),
    // so estimates divide identical bits in both engines
    "q_sketch_bottomk_union" ->
      s"""WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 13)
         |              AS BIGINT) AS hl
         |            FROM documents WHERE doc_id % 2 = 0),
         |hb AS (SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 13)
         |         AS BIGINT) AS hl
         |       FROM documents WHERE doc_id % 3 = 0),
         |sa AS (SELECT hl, hl::DOUBLE / 4503599627370496.0 AS h FROM ha
         |       ORDER BY h, hl LIMIT ${TextAnalysis.BkuK}),
         |sb AS (SELECT hl, hl::DOUBLE / 4503599627370496.0 AS h FROM hb
         |       ORDER BY h, hl LIMIT ${TextAnalysis.BkuK}),
         |pa AS (SELECT count(*)::BIGINT AS m_a,
         |         round((count(*) - 1)::DOUBLE / max(h), 4) AS est_a FROM sa),
         |pb AS (SELECT count(*)::BIGINT AS m_b,
         |         round((count(*) - 1)::DOUBLE / max(h), 4) AS est_b FROM sb),
         |u AS (SELECT DISTINCT hl, h
         |      FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
         |      ORDER BY h, hl LIMIT ${TextAnalysis.BkuK}),
         |us AS (SELECT count(*)::BIGINT AS mu, max(h) AS hku FROM u),
         |sh AS (SELECT count(*)::BIGINT AS n_shared FROM u
         |       WHERE hl IN (SELECT hl FROM sa)
         |         AND hl IN (SELECT hl FROM sb)),
         |ea AS (SELECT count(*)::BIGINT AS exact_a FROM ha),
         |eb AS (SELECT count(*)::BIGINT AS exact_b FROM hb),
         |ei AS (SELECT count(*)::BIGINT AS exact_inter
         |       FROM ha JOIN hb USING (hl))
         |SELECT ${TextAnalysis.BkuK}::BIGINT AS k,
         |       m_a, est_a, exact_a, m_b, est_b, exact_b,
         |       round((mu - 1)::DOUBLE / hku, 4) AS est_union,
         |       (exact_a + exact_b - exact_inter) AS exact_union,
         |       round(n_shared::DOUBLE / mu, 4) AS jaccard_est,
         |       round(exact_inter::DOUBLE
         |         / (exact_a + exact_b - exact_inter), 4) AS jaccard_exact,
         |       round(n_shared::DOUBLE / mu
         |         * ((mu - 1)::DOUBLE / hku), 4) AS est_inter,
         |       exact_inter
         |FROM pa, pb, us, sh, ea, eb, ei""".stripMargin,

    // serving screen: odd probe docs (query = their distinct tokens)
    // against the index built from the EVEN corpus half — index-side
    // CTEs aggregate only doc_id % 2 = 0
    // merged-index serve ≡ full-rebuild serve: the oracle rebuilds the
    // index over the WHOLE corpus (snapshot ∪ batch), so the hash match
    // pins the delta-merge's df/dl/avgdl maintenance exactly
    "q_text_bm25_index_merge" ->
      s"""WITH etok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM etok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |qtok AS (SELECT doc_id AS query_id, $DuckTok AS toks
         |         FROM documents WHERE doc_id % 2 = 1 AND doc_id < 10),
         |q AS (SELECT DISTINCT query_id, unnest(toks) AS word FROM qtok)
         |SELECT q.query_id, tf.doc_id,
         |       round(sum(
         |         ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |         * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |         / (tf.tf + ${TextAnalysis.Bm25K1}
         |            * (1.0 - ${TextAnalysis.Bm25B}
         |               + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |       ), 4) AS score
         |FROM q
         |JOIN tf ON tf.word = q.word
         |JOIN df ON df.word = q.word
         |JOIN dl ON dl.doc_id = tf.doc_id
         |CROSS JOIN stats s
         |GROUP BY 1, 2
         |ORDER BY q.query_id, tf.doc_id""".stripMargin,

    "q_text_bm25_serve" ->
      s"""WITH etok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |              WHERE doc_id % 2 = 0),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM etok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |qtok AS (SELECT doc_id AS query_id, $DuckTok AS toks
         |         FROM documents WHERE doc_id % 2 = 1 AND doc_id < 10),
         |q AS (SELECT DISTINCT query_id, unnest(toks) AS word FROM qtok)
         |SELECT q.query_id, tf.doc_id,
         |       round(sum(
         |         ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |         * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |         / (tf.tf + ${TextAnalysis.Bm25K1}
         |            * (1.0 - ${TextAnalysis.Bm25B}
         |               + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |       ), 4) AS score
         |FROM q
         |JOIN tf ON tf.word = q.word
         |JOIN df ON df.word = q.word
         |JOIN dl ON dl.doc_id = tf.doc_id
         |CROSS JOIN stats s
         |GROUP BY 1, 2
         |ORDER BY q.query_id, tf.doc_id""".stripMargin,

    // index retraction: the oracle serves against the FULL REBUILD
    // over corpus ∖ forget, so the hash match IS retracted ≡ rebuilt —
    // probes stay the standard odd docs (doc 3 queries with its own
    // erased text and must no longer find itself)
    "q_text_bm25_forget" ->
      s"""WITH etok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |              WHERE doc_id % ${CorpusMerge.ForgetMod}
         |                    <> ${CorpusMerge.ForgetRem}),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM etok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |qtok AS (SELECT doc_id AS query_id, $DuckTok AS toks
         |         FROM documents WHERE doc_id % 2 = 1 AND doc_id < 10),
         |q AS (SELECT DISTINCT query_id, unnest(toks) AS word FROM qtok)
         |SELECT q.query_id, tf.doc_id,
         |       round(sum(
         |         ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |         * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |         / (tf.tf + ${TextAnalysis.Bm25K1}
         |            * (1.0 - ${TextAnalysis.Bm25B}
         |               + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |       ), 4) AS score
         |FROM q
         |JOIN tf ON tf.word = q.word
         |JOIN df ON df.word = q.word
         |JOIN dl ON dl.doc_id = tf.doc_id
         |CROSS JOIN stats s
         |GROUP BY 1, 2
         |ORDER BY q.query_id, tf.doc_id""".stripMargin,

    // capped serve: same snapshot/probe split, but the index keeps only
    // each term's top-CapK postings by (6dp-rounded impact, doc_id) —
    // the oracle rebuilds the identical capped index, so the gate pins
    // the impact arithmetic, the per-term cut and the capped serve
    "q_text_bm25_capped" ->
      s"""WITH etok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |              WHERE doc_id % 2 = 0),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM etok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |imp AS (SELECT tf.doc_id, tf.word,
         |          round(
         |            ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |            * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |            / (tf.tf + ${TextAnalysis.Bm25K1}
         |               * (1.0 - ${TextAnalysis.Bm25B}
         |                  + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl)), 6)
         |            AS impact
         |        FROM tf
         |        JOIN df USING (word)
         |        JOIN dl ON dl.doc_id = tf.doc_id
         |        CROSS JOIN stats s),
         |capped AS (SELECT doc_id, word,
         |             CAST(round(impact * 1000000, 0) AS BIGINT) AS impact_fp
         |           FROM (
         |             SELECT doc_id, word, impact,
         |               row_number() OVER (PARTITION BY word
         |                 ORDER BY impact DESC, doc_id) AS irnk
         |             FROM imp) WHERE irnk <= ${TextAnalysis.Bm25CapK}),
         |qtok AS (SELECT doc_id AS query_id, $DuckTok AS toks
         |         FROM documents WHERE doc_id % 2 = 1 AND doc_id < 10),
         |q AS (SELECT DISTINCT query_id, unnest(toks) AS word FROM qtok)
         |SELECT q.query_id, c.doc_id,
         |       ((sum(c.impact_fp) + 50) // 100)::DOUBLE / 10000.0 AS score
         |FROM q JOIN capped c ON c.word = q.word
         |GROUP BY 1, 2
         |ORDER BY q.query_id, c.doc_id""".stripMargin,

    // cap-dial calibration sweep: per candidate cap, recall@10 of the
    // capped serve against the uncapped ranking (ground truth for the
    // dial); the oracle rebuilds the ranked impact frame once and
    // replays every arm from it, exactly as the Spark side does
    "q_text_bm25_cap_sweep" ->
      s"""WITH etok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |              WHERE doc_id % 2 = 0),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM etok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |imp AS (SELECT tf.doc_id, tf.word,
         |          round(
         |            ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |            * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |            / (tf.tf + ${TextAnalysis.Bm25K1}
         |               * (1.0 - ${TextAnalysis.Bm25B}
         |                  + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl)), 6)
         |            AS impact
         |        FROM tf
         |        JOIN df USING (word)
         |        JOIN dl ON dl.doc_id = tf.doc_id
         |        CROSS JOIN stats s),
         |rk AS (SELECT doc_id, word,
         |         CAST(round(impact * 1000000, 0) AS BIGINT) AS impact_fp,
         |         row_number() OVER (PARTITION BY word
         |           ORDER BY impact DESC, doc_id) AS irnk
         |       FROM imp),
         |qtok AS (SELECT doc_id AS query_id, $DuckTok AS toks
         |         FROM documents WHERE doc_id % 2 = 1 AND doc_id < 10),
         |nq AS (SELECT count(*)::BIGINT AS n_queries FROM qtok),
         |q AS (SELECT DISTINCT query_id, unnest(toks) AS word FROM qtok),
         |fullsc AS (SELECT q.query_id, rk.doc_id,
         |             ((sum(rk.impact_fp) + 50) // 100)::DOUBLE / 10000.0 AS score
         |           FROM q JOIN rk ON rk.word = q.word GROUP BY 1, 2),
         |fulltop AS (SELECT query_id, doc_id FROM (
         |              SELECT query_id, doc_id,
         |                row_number() OVER (PARTITION BY query_id
         |                  ORDER BY score DESC, doc_id) AS rnk
         |              FROM fullsc) WHERE rnk <= 10),
         |caps AS (SELECT unnest([${TextAnalysis.Bm25CapSweep.mkString(", ")}]) AS cap),
         |csc AS (SELECT c.cap, q.query_id, rk.doc_id,
         |          ((sum(rk.impact_fp) + 50) // 100)::DOUBLE / 10000.0 AS score
         |        FROM caps c
         |        CROSS JOIN q
         |        JOIN rk ON rk.word = q.word AND rk.irnk <= c.cap
         |        GROUP BY 1, 2, 3),
         |ctop AS (SELECT cap, query_id, doc_id FROM (
         |           SELECT cap, query_id, doc_id,
         |             row_number() OVER (PARTITION BY cap, query_id
         |               ORDER BY score DESC, doc_id) AS rnk
         |           FROM csc) WHERE rnk <= 10),
         |hits AS (SELECT cap, count(*)::BIGINT AS hits10
         |         FROM ctop JOIN fulltop USING (query_id, doc_id) GROUP BY 1),
         |arms AS (SELECT c.cap, coalesce(h.hits10, 0)::BIGINT AS hits10
         |         FROM caps c LEFT JOIN hits h USING (cap)
         |         UNION ALL
         |         SELECT 0 AS cap, (SELECT count(*) FROM fulltop)::BIGINT)
         |SELECT cap, (SELECT n_queries FROM nq) AS n_queries, hits10,
         |  CASE WHEN cap = 0 THEN 1.0
         |       ELSE round(hits10::DOUBLE
         |              / ((SELECT n_queries FROM nq) * 10.0), 4) END AS recall10
         |FROM arms ORDER BY cap""".stripMargin,

    // RRF fuses RANKS, not scores: once each ranker's (rounded score,
    // doc_id) ranking is pinned, the fusion is integer arithmetic —
    // 1/(60+rank) sums of two terms, rounded — so the oracle replays
    // both rankers (BM25 + Dirichlet query-likelihood) over the same
    // postings CTEs and fuses identically
    "q_text_rrf_fusion" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |ctf AS (SELECT word, sum(tf) AS ctf FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         |            sum(dl)::DOUBLE AS c_total FROM dl),
         |n1 AS (SELECT count(*) AS n FROM documents),
         |qscored AS (SELECT doc_id AS query_id, word,
         |              round(tf * ln(n1.n::DOUBLE / df.df), 4) AS tscore
         |            FROM tf JOIN df USING (word) CROSS JOIN n1
         |            WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |qterms AS (SELECT query_id, word FROM (
         |             SELECT query_id, word,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY tscore DESC, word) AS trank
         |             FROM qscored) WHERE trank <= 3),
         |hits AS (SELECT q.query_id, tf.doc_id, tf.word, tf.tf
         |         FROM tf JOIN qterms q USING (word)),
         |cands AS (SELECT DISTINCT query_id, doc_id FROM hits),
         |bm AS (SELECT h.query_id, h.doc_id,
         |         round(sum(
         |           ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |           * h.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |           / (h.tf + ${TextAnalysis.Bm25K1}
         |              * (1.0 - ${TextAnalysis.Bm25B}
         |                 + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |         ), 4) AS score
         |       FROM hits h
         |       JOIN dl ON dl.doc_id = h.doc_id
         |       JOIN df ON df.word = h.word
         |       CROSS JOIN stats s
         |       GROUP BY 1, 2),
         |bm_r AS (SELECT query_id, doc_id, rank_bm25 FROM (
         |           SELECT query_id, doc_id,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY score DESC, doc_id) AS rank_bm25
         |           FROM bm) WHERE rank_bm25 <= ${TextAnalysis.RrfDepth}),
         |grid AS (SELECT c.query_id, c.doc_id, q.word,
         |           coalesce(tf.tf, 0) AS tf
         |         FROM cands c
         |         JOIN qterms q USING (query_id)
         |         LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.word = q.word),
         |lm AS (SELECT g.query_id, g.doc_id,
         |         round(sum(
         |           ln((g.tf + ${TextAnalysis.LmMu} * ctf.ctf / s.c_total)
         |              / (dl.dl + ${TextAnalysis.LmMu}))
         |         ), 4) AS score
         |       FROM grid g
         |       JOIN ctf ON ctf.word = g.word
         |       JOIN dl ON dl.doc_id = g.doc_id
         |       CROSS JOIN stats s
         |       GROUP BY 1, 2),
         |lm_r AS (SELECT query_id, doc_id, rank_lm FROM (
         |           SELECT query_id, doc_id,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY score DESC, doc_id) AS rank_lm
         |           FROM lm) WHERE rank_lm <= ${TextAnalysis.RrfDepth}),
         |fused AS (SELECT coalesce(b.query_id, l.query_id) AS query_id,
         |            coalesce(b.doc_id, l.doc_id) AS doc_id,
         |            coalesce(b.rank_bm25, 0)::BIGINT AS rank_bm25,
         |            coalesce(l.rank_lm, 0)::BIGINT AS rank_lm,
         |            round(coalesce(1.0::DOUBLE / (b.rank_bm25 + ${TextAnalysis.RrfK}), 0.0)
         |              + coalesce(1.0::DOUBLE / (l.rank_lm + ${TextAnalysis.RrfK}), 0.0), 6)
         |              AS rrf
         |          FROM bm_r b
         |          FULL OUTER JOIN lm_r l
         |            ON b.query_id = l.query_id AND b.doc_id = l.doc_id),
         |ranked AS (SELECT query_id, doc_id, rrf, rank_bm25, rank_lm,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY rrf DESC, doc_id) AS "rank"
         |           FROM fused)
         |SELECT query_id, "rank", doc_id, rrf, rank_bm25, rank_lm
         |FROM ranked WHERE "rank" <= ${TextAnalysis.Bm25TopK}
         |ORDER BY query_id, "rank"""".stripMargin,

    // hybrid lexical+vector retrieval: BM25 serve (full-corpus index,
    // self excluded) full-outer-fused with exact embedding cosine by
    // reciprocal rank — rank arithmetic only, both rankings pinned on
    // (rounded score, doc_id)
    "q_pipeline_retrieval" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS word
         |      FROM tok WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |bm AS (SELECT q.query_id, tf.doc_id,
         |         round(sum(
         |           ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |           * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |           / (tf.tf + ${TextAnalysis.Bm25K1}
         |              * (1.0 - ${TextAnalysis.Bm25B}
         |                 + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |         ), 4) AS score
         |       FROM q
         |       JOIN tf ON tf.word = q.word
         |       JOIN df ON df.word = q.word
         |       JOIN dl ON dl.doc_id = tf.doc_id
         |       CROSS JOIN stats s
         |       WHERE tf.doc_id <> q.query_id
         |       GROUP BY 1, 2),
         |lex_r AS (SELECT query_id, doc_id, rank_lex FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS rank_lex
         |            FROM bm) WHERE rank_lex <= ${TextAnalysis.RrfDepth}),
         |e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM e WHERE vec_id < ${TextAnalysis.Bm25NQueries}),
         |cosine AS (SELECT qv.query_id, e.vec_id AS doc_id,
         |             round(${duckDot("qv.q_emb", "e.embedding")}
         |               / (qv.q_nrm * e.nrm), 6) AS cos
         |           FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |vec_r AS (SELECT query_id, doc_id, rank_vec FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, doc_id) AS rank_vec
         |            FROM cosine) WHERE rank_vec <= ${TextAnalysis.RrfDepth}),
         |fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |            coalesce(l.doc_id, v.doc_id) AS doc_id,
         |            coalesce(l.rank_lex, 0)::BIGINT AS rank_lex,
         |            coalesce(v.rank_vec, 0)::BIGINT AS rank_vec,
         |            round(coalesce(1.0::DOUBLE / (l.rank_lex + ${TextAnalysis.RrfK}), 0.0)
         |              + coalesce(1.0::DOUBLE / (v.rank_vec + ${TextAnalysis.RrfK}), 0.0), 6)
         |              AS rrf
         |          FROM lex_r l
         |          FULL OUTER JOIN vec_r v
         |            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |ranked AS (SELECT query_id, doc_id, rrf, rank_lex, rank_vec,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY rrf DESC, doc_id) AS "rank"
         |           FROM fused)
         |SELECT query_id, "rank", doc_id, rank_lex, rank_vec, rrf
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin,
    // the capped hybrid: identical fusion SQL, but the lexical leg
    // rebuilds and serves the impact-ordered capped index — stored
    // impacts summed, per-term lists cut at CapK on (impact, doc_id)
    "q_pipeline_retrieval_capped" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |imp AS (SELECT tf.doc_id, tf.word,
         |          round(
         |            ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |            * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |            / (tf.tf + ${TextAnalysis.Bm25K1}
         |               * (1.0 - ${TextAnalysis.Bm25B}
         |                  + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl)), 6)
         |            AS impact
         |        FROM tf
         |        JOIN df USING (word)
         |        JOIN dl ON dl.doc_id = tf.doc_id
         |        CROSS JOIN stats s),
         |capped AS (SELECT doc_id, word,
         |             CAST(round(impact * 1000000, 0) AS BIGINT) AS impact_fp
         |           FROM (
         |             SELECT doc_id, word, impact,
         |               row_number() OVER (PARTITION BY word
         |                 ORDER BY impact DESC, doc_id) AS irnk
         |             FROM imp) WHERE irnk <= ${TextAnalysis.Bm25CapK}),
         |q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS word
         |      FROM tok WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |bm AS (SELECT q.query_id, c.doc_id,
         |         ((sum(c.impact_fp) + 50) // 100)::DOUBLE / 10000.0 AS score
         |       FROM q JOIN capped c ON c.word = q.word
         |       WHERE c.doc_id <> q.query_id
         |       GROUP BY 1, 2),
         |lex_r AS (SELECT query_id, doc_id, rank_lex FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS rank_lex
         |            FROM bm) WHERE rank_lex <= ${TextAnalysis.RrfDepth}),
         |e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM e WHERE vec_id < ${TextAnalysis.Bm25NQueries}),
         |cosine AS (SELECT qv.query_id, e.vec_id AS doc_id,
         |             round(${duckDot("qv.q_emb", "e.embedding")}
         |               / (qv.q_nrm * e.nrm), 6) AS cos
         |           FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |vec_r AS (SELECT query_id, doc_id, rank_vec FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, doc_id) AS rank_vec
         |            FROM cosine) WHERE rank_vec <= ${TextAnalysis.RrfDepth}),
         |fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |            coalesce(l.doc_id, v.doc_id) AS doc_id,
         |            coalesce(l.rank_lex, 0)::BIGINT AS rank_lex,
         |            coalesce(v.rank_vec, 0)::BIGINT AS rank_vec,
         |            round(coalesce(1.0::DOUBLE / (l.rank_lex + ${TextAnalysis.RrfK}), 0.0)
         |              + coalesce(1.0::DOUBLE / (v.rank_vec + ${TextAnalysis.RrfK}), 0.0), 6)
         |              AS rrf
         |          FROM lex_r l
         |          FULL OUTER JOIN vec_r v
         |            ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |ranked AS (SELECT query_id, doc_id, rrf, rank_lex, rank_vec,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY rrf DESC, doc_id) AS "rank"
         |           FROM fused)
         |SELECT query_id, "rank", doc_id, rank_lex, rank_vec, rrf
         |FROM ranked WHERE "rank" <= 5
         |ORDER BY query_id, "rank"""".stripMargin,

    // rank-quality audit: nDCG@10/MRR of bm25 vs hybrid vs capped
    // hybrid against the full hybrid as ground truth — discounts are
    // the precomputed fixed-point integers (interpolated literals, no
    // log2 at query time), every division integer until the final
    // power-of-ten divide, so both engines emit identical doubles
    "q_text_retrieval_ndcg" ->
      s"""WITH tok AS (SELECT doc_id, $DuckTok AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
         |q AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS word
         |      FROM tok WHERE doc_id < ${TextAnalysis.Bm25NQueries}),
         |bm AS (SELECT q.query_id, tf.doc_id,
         |         round(sum(
         |           ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |           * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |           / (tf.tf + ${TextAnalysis.Bm25K1}
         |              * (1.0 - ${TextAnalysis.Bm25B}
         |                 + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl))
         |         ), 4) AS score
         |       FROM q
         |       JOIN tf ON tf.word = q.word
         |       JOIN df ON df.word = q.word
         |       JOIN dl ON dl.doc_id = tf.doc_id
         |       CROSS JOIN stats s
         |       WHERE tf.doc_id <> q.query_id
         |       GROUP BY 1, 2),
         |lex_r AS (SELECT query_id, doc_id, rank_lex FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY score DESC, doc_id) AS rank_lex
         |            FROM bm) WHERE rank_lex <= ${TextAnalysis.RrfDepth}),
         |imp AS (SELECT tf.doc_id, tf.word,
         |          round(
         |            ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |            * tf.tf * (${TextAnalysis.Bm25K1} + 1.0)
         |            / (tf.tf + ${TextAnalysis.Bm25K1}
         |               * (1.0 - ${TextAnalysis.Bm25B}
         |                  + ${TextAnalysis.Bm25B} * dl.dl / s.avgdl)), 6)
         |            AS impact
         |        FROM tf
         |        JOIN df USING (word)
         |        JOIN dl ON dl.doc_id = tf.doc_id
         |        CROSS JOIN stats s),
         |capped AS (SELECT doc_id, word,
         |             CAST(round(impact * 1000000, 0) AS BIGINT) AS impact_fp
         |           FROM (
         |             SELECT doc_id, word, impact,
         |               row_number() OVER (PARTITION BY word
         |                 ORDER BY impact DESC, doc_id) AS irnk
         |             FROM imp) WHERE irnk <= ${TextAnalysis.Bm25CapK}),
         |bmc AS (SELECT q.query_id, c.doc_id,
         |          ((sum(c.impact_fp) + 50) // 100)::DOUBLE / 10000.0 AS score
         |        FROM q JOIN capped c ON c.word = q.word
         |        WHERE c.doc_id <> q.query_id
         |        GROUP BY 1, 2),
         |lexc_r AS (SELECT query_id, doc_id, rank_lex FROM (
         |             SELECT query_id, doc_id,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY score DESC, doc_id) AS rank_lex
         |             FROM bmc) WHERE rank_lex <= ${TextAnalysis.RrfDepth}),
         |e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
         |       FROM e WHERE vec_id < ${TextAnalysis.Bm25NQueries}),
         |cosine AS (SELECT qv.query_id, e.vec_id AS doc_id,
         |             round(${duckDot("qv.q_emb", "e.embedding")}
         |               / (qv.q_nrm * e.nrm), 6) AS cos
         |           FROM e CROSS JOIN qv WHERE e.vec_id <> qv.query_id),
         |vec_r AS (SELECT query_id, doc_id, rank_vec FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY cos DESC, doc_id) AS rank_vec
         |            FROM cosine) WHERE rank_vec <= ${TextAnalysis.RrfDepth}),
         |fused_f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |              coalesce(l.doc_id, v.doc_id) AS doc_id,
         |              round(coalesce(1.0::DOUBLE / (l.rank_lex + ${TextAnalysis.RrfK}), 0.0)
         |                + coalesce(1.0::DOUBLE / (v.rank_vec + ${TextAnalysis.RrfK}), 0.0), 6)
         |                AS rrf
         |            FROM lex_r l FULL OUTER JOIN vec_r v
         |              ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |ideal AS (SELECT query_id, doc_id, irank FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY rrf DESC, doc_id) AS irank
         |            FROM fused_f) WHERE irank <= ${TextAnalysis.NdcgDepth}),
         |fused_c AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
         |              coalesce(l.doc_id, v.doc_id) AS doc_id,
         |              round(coalesce(1.0::DOUBLE / (l.rank_lex + ${TextAnalysis.RrfK}), 0.0)
         |                + coalesce(1.0::DOUBLE / (v.rank_vec + ${TextAnalysis.RrfK}), 0.0), 6)
         |                AS rrf
         |            FROM lexc_r l FULL OUTER JOIN vec_r v
         |              ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |cap10 AS (SELECT query_id, doc_id, rnk FROM (
         |            SELECT query_id, doc_id,
         |              row_number() OVER (PARTITION BY query_id
         |                ORDER BY rrf DESC, doc_id) AS rnk
         |            FROM fused_c) WHERE rnk <= ${TextAnalysis.NdcgDepth}),
         |arms AS (SELECT 'bm25' AS system, query_id, doc_id, rank_lex AS rnk
         |           FROM lex_r WHERE rank_lex <= ${TextAnalysis.NdcgDepth}
         |         UNION ALL
         |         SELECT 'hybrid', query_id, doc_id, irank FROM ideal
         |         UNION ALL
         |         SELECT 'hybrid_capped', query_id, doc_id, rnk FROM cap10),
         |disc AS (SELECT [${TextAnalysis.NdcgDiscFp.mkString(", ")}] AS d),
         |idcg AS (SELECT query_id,
         |           sum((11 - irank) * (SELECT d FROM disc)[irank])::BIGINT
         |             AS idcg_fp
         |         FROM ideal GROUP BY 1),
         |top1 AS (SELECT query_id, doc_id FROM ideal WHERE irank = 1),
         |dcg AS (SELECT a.system, a.query_id,
         |          sum(coalesce(11 - i.irank, 0)
         |            * (SELECT d FROM disc)[a.rnk])::BIGINT AS dcg_fp
         |        FROM arms a LEFT JOIN ideal i
         |          ON i.query_id = a.query_id AND i.doc_id = a.doc_id
         |        GROUP BY 1, 2),
         |rr AS (SELECT a.system, a.query_id, 1000000 // a.rnk AS rr_fp
         |       FROM arms a JOIN top1 t1
         |         ON t1.query_id = a.query_id AND t1.doc_id = a.doc_id),
         |sys AS (SELECT * FROM (VALUES ('bm25'), ('hybrid'),
         |          ('hybrid_capped')) s(system)),
         |perq AS (SELECT s.system, i.query_id,
         |           (coalesce(d.dcg_fp, 0) * 10000) // i.idcg_fp AS ndcg_fp,
         |           coalesce(r.rr_fp, 0) AS rr_fp
         |         FROM sys s CROSS JOIN idcg i
         |         LEFT JOIN dcg d ON d.system = s.system AND d.query_id = i.query_id
         |         LEFT JOIN rr r ON r.system = s.system AND r.query_id = i.query_id)
         |SELECT system, count(*)::BIGINT AS n_queries,
         |       (sum(ndcg_fp)::BIGINT // count(*))::DOUBLE / 10000.0 AS ndcg10,
         |       (sum(rr_fp)::BIGINT // count(*))::DOUBLE / 1000000.0 AS mrr
         |FROM perq GROUP BY system ORDER BY system""".stripMargin,

    // 13 hex md5 digits = 2^52 denominator: the hash is EXACT in a
    // double in both engines, so kth_h and the estimator divide the
    // same bits; the id_sum pins sample membership, not just size
    "q_sample_bottomk" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |             CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 13)
         |               AS BIGINT)::DOUBLE / 4503599627370496.0 AS h
         |           FROM documents),
         |r AS (SELECT lang, doc_id, h,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY h, doc_id) AS rn
         |      FROM h),
         |bk AS (SELECT lang, count(*)::BIGINT AS n_sample,
         |         max(h) AS kth_h, sum(doc_id)::BIGINT AS id_sum
         |       FROM r WHERE rn <= ${TextAnalysis.BkK} GROUP BY 1),
         |ex AS (SELECT lang, count(*)::BIGINT AS n_exact
         |       FROM documents GROUP BY 1)
         |SELECT lang, n_exact, n_sample, round(kth_h, 6) AS kth_h,
         |       round((n_sample - 1)::DOUBLE / kth_h, 4) AS est_distinct,
         |       id_sum
         |FROM ex JOIN bk USING (lang) ORDER BY lang""".stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, source, count(*)::BIGINT AS n_sampled
        |FROM documents
        |WHERE (CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100)
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // UniMax waterfilling: saturation verdicts decided in
    // cross-multiplied BIGINT over the (cap, source)-sorted prefix —
    // only the displayed allocated/epochs divide, on identical integers
    "q_mix_unimax" ->
      s"""WITH caps AS (
         |  SELECT source,
         |         sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS n_tokens,
         |         (sum(len(regexp_extract_all(text, '\\S+'))) * ${TextAnalysis.UnimaxEpochCap})::BIGINT AS cap
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS t_tokens,
         |               count(*)::BIGINT AS d_cnt FROM caps),
         |ranked AS (
         |  SELECT c.*, t.d_cnt,
         |    (${TextAnalysis.UnimaxBudgetNum} * t.t_tokens) // ${TextAnalysis.UnimaxBudgetDen} AS budget,
         |    row_number() OVER (ORDER BY cap, source) AS rk,
         |    (sum(cap) OVER (ORDER BY cap, source
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS pre
         |  FROM caps c, tot t),
         |flags AS (
         |  SELECT *, cap * (d_cnt - rk + 1) + (pre - cap) <= budget AS sat
         |  FROM ranked),
         |satagg AS (
         |  SELECT coalesce(sum(CASE WHEN sat THEN cap END), 0)::BIGINT AS s_sat,
         |         (count(*) FILTER (WHERE sat))::BIGINT AS n_sat FROM flags)
         |SELECT source, n_tokens, cap,
         |  CASE WHEN sat THEN 1 ELSE 0 END AS saturated,
         |  round(CASE WHEN sat THEN CAST(cap AS DOUBLE)
         |        ELSE CAST(budget - s_sat AS DOUBLE) / (d_cnt - n_sat) END, 2)
         |    AS allocated,
         |  round(CASE WHEN sat THEN CAST(cap AS DOUBLE)
         |        ELSE CAST(budget - s_sat AS DOUBLE) / (d_cnt - n_sat) END
         |    / n_tokens, 6) AS epochs
         |FROM flags, satagg ORDER BY source""".stripMargin,

    // data-constrained epoching: identical literal decay table, slot
    // values in integer //, greedy rank ordered (value DESC, source,
    // epoch) with a running token cost against the 5/2 budget
    "q_mix_epochs" -> {
      val decays = TextAnalysis.EpochDecayPpm.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, ${d})" }.mkString(", ")
      s"""WITH census AS (
         |  SELECT source,
         |    sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS t_tokens FROM census),
         |dec(epoch, dec_ppm) AS (VALUES $decays),
         |cand AS (
         |  SELECT c.source, c.n_tokens, d.epoch::BIGINT AS epoch,
         |    ((c.n_tokens * d.dec_ppm) // 1000000)::BIGINT AS slot_value
         |  FROM census c, dec d),
         |ranked AS (
         |  SELECT *,
         |    (sum(n_tokens) OVER (ORDER BY slot_value DESC, source, epoch
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum,
         |    (${TextAnalysis.EpochBudgetNum} * (SELECT t_tokens FROM tot))
         |      // ${TextAnalysis.EpochBudgetDen} AS budget
         |  FROM cand),
         |kept AS (
         |  SELECT source, count(*)::BIGINT AS epochs_alloc,
         |    sum(n_tokens)::BIGINT AS tokens_alloc,
         |    sum(slot_value)::BIGINT AS effective_tokens
         |  FROM ranked WHERE cum <= budget GROUP BY source)
         |SELECT c.source, c.n_tokens AS unique_tokens,
         |  coalesce(k.epochs_alloc, 0)::BIGINT AS epochs_alloc,
         |  coalesce(k.tokens_alloc, 0)::BIGINT AS tokens_alloc,
         |  coalesce(k.effective_tokens, 0)::BIGINT AS effective_tokens
         |FROM census c LEFT JOIN kept k USING (source)
         |ORDER BY c.source""".stripMargin
    },

    // the budget-dial sweep: one ranked candidate frame, |budgets|
    // prefix filters — allocations monotone in the dial
    "q_mix_epochs_sweep" -> {
      val decays = TextAnalysis.EpochDecayPpm.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, ${d})" }.mkString(", ")
      val budgets = TextAnalysis.EpochSweepPct.map(p => s"($p)").mkString(", ")
      s"""WITH census AS (
         |  SELECT source,
         |    sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(n_tokens)::BIGINT AS t_tokens FROM census),
         |dec(epoch, dec_ppm) AS (VALUES $decays),
         |bud(budget_pct) AS (VALUES $budgets),
         |cand AS (
         |  SELECT c.source, c.n_tokens, d.epoch::BIGINT AS epoch,
         |    ((c.n_tokens * d.dec_ppm) // 1000000)::BIGINT AS slot_value
         |  FROM census c, dec d),
         |ranked AS (
         |  SELECT *,
         |    (sum(n_tokens) OVER (ORDER BY slot_value DESC, source, epoch
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         |  FROM cand),
         |kept AS (
         |  SELECT b.budget_pct::BIGINT AS budget_pct, r.source,
         |    count(*)::BIGINT AS epochs_alloc,
         |    sum(r.n_tokens)::BIGINT AS tokens_alloc
         |  FROM ranked r CROSS JOIN bud b
         |  WHERE r.cum <= (b.budget_pct * (SELECT t_tokens FROM tot)) // 100
         |  GROUP BY 1, 2)
         |SELECT b.budget_pct::BIGINT AS budget_pct, c.source,
         |  c.n_tokens AS unique_tokens,
         |  coalesce(k.epochs_alloc, 0)::BIGINT AS epochs_alloc,
         |  coalesce(k.tokens_alloc, 0)::BIGINT AS tokens_alloc
         |FROM census c CROSS JOIN bud b
         |LEFT JOIN kept k ON k.budget_pct = b.budget_pct AND k.source = c.source
         |ORDER BY 1, 2""".stripMargin
    },

    // context-length sweep: same sharded running-sum window as
    // q_text_pack, |capacities| row-local integer-division arms
    "q_text_pack_sweep" -> {
      val caps = TextAnalysis.PackSweepCaps.map(c => s"($c)").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, doc_id % ${TextAnalysis.PackShards} AS shard,
         |    len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT lang, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |  FROM d),
         |arms AS (
         |  SELECT lang, shard, n_tokens, cum, cap.capacity::BIGINT AS capacity
         |  FROM c, (VALUES $caps) cap(capacity)
         |  WHERE n_tokens > 0)
         |SELECT capacity, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS tokens,
         |  count(DISTINCT (lang, shard, (cum - n_tokens) // capacity))::BIGINT
         |    AS n_packs,
         |  sum(CASE WHEN ((cum - 1) // capacity) <> ((cum - n_tokens) // capacity)
         |      THEN 1 ELSE 0 END)::BIGINT AS straddled_docs,
         |  (sum(CASE WHEN ((cum - 1) // capacity) <> ((cum - n_tokens) // capacity)
         |       THEN 1 ELSE 0 END) * 1000000 // count(*))::BIGINT AS straddle_ppm
         |FROM arms GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // temperature mix: rates rounded to 6dp in BOTH engines before the
    // keep comparison, so no libm-pow ulp can flip a draw verdict
    "q_mix_temperature" ->
      s"""WITH counts AS (SELECT lang, count(*)::BIGINT AS n_docs
         |                FROM documents GROUP BY lang),
         |tot AS (SELECT sum(n_docs)::BIGINT AS n_total,
         |          sum(pow(n_docs::DOUBLE, ${TextAnalysis.MixAlpha})) AS z
         |        FROM counts),
         |rates AS (SELECT lang, n_docs, n_total,
         |            n_docs::DOUBLE / n_total AS p,
         |            pow(n_docs::DOUBLE, ${TextAnalysis.MixAlpha}) / z AS q,
         |            round(pow(n_docs::DOUBLE, ${TextAnalysis.MixAlpha}) / z
         |              * n_total::DOUBLE / n_docs, 6) AS rate
         |          FROM counts CROSS JOIN tot),
         |drawn AS (SELECT d.lang, count(*)::BIGINT AS docs_out
         |          FROM documents d
         |          JOIN rates r USING (lang)
         |          CROSS JOIN unnest(range(0, ceil(r.rate)::INT)) AS t(rep)
         |          WHERE (CAST('0x' || substr(md5(d.text || ':' || rep), 1, 8)
         |                   AS BIGINT)::DOUBLE + 0.5) / 4294967296.0
         |                < r.rate - rep
         |          GROUP BY d.lang),
         |mixed AS (SELECT r.lang, r.n_docs,
         |            round(r.p, 6) AS p_natural, round(r.q, 6) AS q_target,
         |            round(r.q / r.p, 6) AS boost, r.rate,
         |            coalesce(dr.docs_out, 0)::BIGINT AS docs_out
         |          FROM rates r LEFT JOIN drawn dr USING (lang))
         |SELECT lang, n_docs, p_natural, q_target, boost, rate, docs_out,
         |       round(docs_out::DOUBLE / (SELECT sum(docs_out) FROM mixed), 6)
         |         AS achieved_share
         |FROM mixed ORDER BY lang""".stripMargin,

    // DSIR: identical hashed-n-gram models in both engines (md5 bucket,
    // add-one smoothing over the interpolated bucket count), per-bucket
    // log-ratios rounded to 6dp BEFORE the weighted sum, weight + the
    // deterministic md5-Gumbel key rounded before ranking
    "q_dsir_resample" ->
      s"""WITH tok AS (SELECT doc_id, lang, $DuckTok AS toks FROM documents),
         |tk AS (SELECT * FROM tok WHERE len(toks) >= 1),
         |grams AS (
         |  SELECT doc_id, lang = 'en' AS is_target, unnest(toks) AS g FROM tk
         |  UNION ALL
         |  SELECT doc_id, lang = 'en' AS is_target,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |  FROM tk),
         |db AS (SELECT doc_id, is_target,
         |         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
         |           % ${TextAnalysis.DsirBuckets} AS bucket,
         |         count(*)::BIGINT AS cnt
         |       FROM grams GROUP BY 1, 2, 3),
         |raw AS (SELECT bucket, sum(cnt)::BIGINT AS c_r FROM db GROUP BY 1),
         |tgt AS (SELECT bucket, sum(cnt)::BIGINT AS c_t FROM db
         |        WHERE is_target GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c_r) FROM raw)::DOUBLE AS t_r,
         |               (SELECT sum(c_t) FROM tgt)::DOUBLE AS t_t),
         |ratio AS (SELECT bucket,
         |            CAST(round(round(ln((coalesce(c_t, 0) + 1.0)
         |                     / (t_t + ${TextAnalysis.DsirBuckets}))
         |                - ln((c_r + 1.0)
         |                     / (t_r + ${TextAnalysis.DsirBuckets})), 6)
         |              * 1000000, 0) AS BIGINT) AS lr_fp
         |          FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
         |scored AS (SELECT doc_id, sum(cnt * lr_fp)::BIGINT AS w_fp
         |           FROM db JOIN ratio USING (bucket) GROUP BY doc_id),
         |keyed AS (SELECT doc_id, w_fp,
         |            w_fp + CAST(round(round(-ln(-ln(
         |              ((CAST('0x' || substr(md5('dsir:' || doc_id), 1, 8)
         |                 AS BIGINT) % 1000000)::DOUBLE + 0.5) / 1000000.0)), 6)
         |              * 1000000, 0) AS BIGINT) AS key_fp
         |          FROM scored),
         |ranked AS (SELECT doc_id, w_fp, key_fp,
         |             row_number() OVER (ORDER BY key_fp DESC, doc_id) AS "rank"
         |           FROM keyed)
         |SELECT r.doc_id, d.lang, d.source,
         |       r.w_fp / 1000000.0 AS weight,
         |       r.key_fp / 1000000.0 AS key, r."rank"
         |FROM ranked r JOIN documents d USING (doc_id)
         |WHERE r."rank" <= ${TextAnalysis.DsirK}
         |ORDER BY r."rank"""".stripMargin,

    // trained quality classifier: the GD loop unrolled as CTEs (the
    // k-means oracle precedent) — nano-fixed-point weights, integer
    // score numerators, 9dp residuals, nano-rounded gradient terms, so
    // both engines train bit-identical weights; duckLrChain (the shared
    // WITH…p3 prefix) also serves the apply-screen oracle
    "q_train_quality_lr" ->
      (duckLrChain +
        """
          |SELECT y::INT AS label, (p >= 0.5)::INT AS pred,
          |       count(*)::BIGINT AS n_docs,
          |       sum(CAST(round(p * 1000000000, 0) AS BIGINT))::BIGINT
          |         / count(*) / 1000000000.0 AS mean_p
          |FROM p3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // apply screen: per-language keep census under the same trained
    // weights (p3 is per-doc probability; lang rides in from tok)
    // reliability diagram over the same trained-weights chain: ten
    // fixed-width probability bins, nano-fixed-point mean p, exact
    // integer observed rate
    "q_train_quality_lr_calibration" ->
      (duckLrChain +
        """
          |SELECT least(floor(p * 10), 9)::BIGINT AS bin,
          |       count(*)::BIGINT AS n_docs,
          |       sum(CAST(round(p * 1000000000, 0) AS BIGINT))::BIGINT
          |         / count(*) / 1000000000.0 AS mean_p,
          |       round(sum(y)::BIGINT / count(*), 4) AS obs_rate
          |FROM p3 GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_train_quality_lr_apply" ->
      (duckLrChain +
        """
          |SELECT t.lang, count(*)::BIGINT AS n_docs,
          |       sum((p >= 0.5)::INT)::BIGINT AS kept,
          |       round(sum((p >= 0.5)::INT)::BIGINT / count(*), 4) AS kept_frac,
          |       sum(CAST(round(p * 1000000000, 0) AS BIGINT))::BIGINT
          |         / count(*) / 1000000000.0 AS mean_p
          |FROM p3 JOIN tok t USING (doc_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // end-to-end curation funnel: every stage's predicate is the same
    // fragment its standalone oracle uses (quality screen, md5 keep-set,
    // 5-gram eval decontamination, DSIR fixed-point weights); the funnel
    // census mirrors the Spark explode (empty stages absent, not zero)
    "q_pipeline_curation" ->
      s"""WITH d AS (SELECT doc_id, lang, source, text, $DuckTok AS toks
         |           FROM documents),
         |qf AS (SELECT doc_id,
         |         (length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
         |            / length(text) < 0.1
         |          AND ${duckStopHits(TextAnalysis.StopEn)} / len(toks) >= 0.05
         |          AND len(regexp_extract_all(text, '\\S+')) BETWEEN 10 AND 500)
         |           AS q
         |       FROM d),
         |k AS (SELECT md5(text) AS h, min(doc_id) AS keep_doc
         |      FROM documents GROUP BY 1),
         |cg AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(
         |           range(1, len(toks) - ${TextAnalysis.DecontamN - 2}),
         |           i -> array_to_string(
         |                  list_slice(toks, i, i + ${TextAnalysis.DecontamN - 1}),
         |                  ' ')))) AS g
         |       FROM d),
         |ev AS (SELECT DISTINCT g FROM cg
         |       WHERE doc_id % ${TextAnalysis.EvalMod} = 0),
         |contam AS (SELECT DISTINCT doc_id FROM cg
         |           WHERE doc_id % ${TextAnalysis.EvalMod} <> 0
         |             AND g IN (SELECT g FROM ev)),
         |tk AS (SELECT doc_id, lang, toks FROM d WHERE len(toks) >= 1),
         |grams AS (
         |  SELECT doc_id, lang = 'en' AS is_target, unnest(toks) AS g FROM tk
         |  UNION ALL
         |  SELECT doc_id, lang = 'en' AS is_target,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |  FROM tk),
         |db AS (SELECT doc_id, is_target,
         |         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
         |           % ${TextAnalysis.DsirBuckets} AS bucket,
         |         count(*)::BIGINT AS cnt
         |       FROM grams GROUP BY 1, 2, 3),
         |raw AS (SELECT bucket, sum(cnt)::BIGINT AS c_r FROM db GROUP BY 1),
         |tgt AS (SELECT bucket, sum(cnt)::BIGINT AS c_t FROM db
         |        WHERE is_target GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c_r) FROM raw)::DOUBLE AS t_r,
         |               (SELECT sum(c_t) FROM tgt)::DOUBLE AS t_t),
         |ratio AS (SELECT bucket,
         |            CAST(round(round(ln((coalesce(c_t, 0) + 1.0)
         |                     / (t_t + ${TextAnalysis.DsirBuckets}))
         |                - ln((c_r + 1.0)
         |                     / (t_r + ${TextAnalysis.DsirBuckets})), 6)
         |              * 1000000, 0) AS BIGINT) AS lr_fp
         |          FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
         |scored AS (SELECT doc_id, sum(cnt * lr_fp)::BIGINT AS w_fp,
         |             sum(cnt)::BIGINT AS n_g
         |           FROM db JOIN ratio USING (bucket) GROUP BY doc_id),
         |f AS (SELECT d.doc_id, len(d.toks)::BIGINT AS n_toks, qf.q,
         |        (d.doc_id = k.keep_doc) AS keep,
         |        (d.doc_id % ${TextAnalysis.EvalMod} <> 0
         |           AND c.doc_id IS NULL) AS clean,
         |        coalesce(s.w_fp / 1000000.0 / s.n_g, -1e9) AS w
         |      FROM d JOIN qf ON d.doc_id = qf.doc_id
         |      JOIN k ON md5(d.text) = k.h
         |      LEFT JOIN contam c ON d.doc_id = c.doc_id
         |      LEFT JOIN scored s ON d.doc_id = s.doc_id),
         |stages AS (SELECT n_toks,
         |             unnest(list_filter(['1_input',
         |               CASE WHEN q THEN '2_quality' END,
         |               CASE WHEN q AND keep THEN '3_dedup' END,
         |               CASE WHEN q AND keep AND clean THEN '4_decontam' END,
         |               CASE WHEN q AND keep AND clean
         |                      AND w >= ${TextAnalysis.CurationMinWeight}
         |                    THEN '5_selected' END],
         |               x -> x IS NOT NULL)) AS stage
         |           FROM f)
         |SELECT stage, count(*)::BIGINT AS n_docs,
         |       sum(n_toks)::BIGINT AS n_tokens
         |FROM stages GROUP BY stage ORDER BY stage""".stripMargin,

    // incremental curation funnel: the odd-doc arriving batch censused
    // under the three artifacts persisted from the even-doc corpus —
    // hash index, eval-gram set, dense DSIR model (CTEs shared verbatim
    // with q_dsir_screen_inc). Stage predicates are q_pipeline_curation's
    // applied to the batch slice.
    "q_pipeline_curation_inc" ->
      s"""WITH $DuckDsirIncModelCtes,
         |bd AS (SELECT doc_id, text, $DuckTok AS toks FROM documents
         |       WHERE doc_id % 2 = 1),
         |cd AS (SELECT doc_id, text, $DuckTok AS toks FROM documents
         |       WHERE doc_id % 2 = 0),
         |qf AS (SELECT doc_id,
         |         (length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
         |            / length(text) < 0.1
         |          AND ${duckStopHits(TextAnalysis.StopEn)} / len(toks) >= 0.05
         |          AND len(regexp_extract_all(text, '\\S+')) BETWEEN 10 AND 500)
         |           AS q
         |       FROM bd),
         |hidx AS (SELECT DISTINCT md5(text) AS h FROM cd),
         |ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |         range(1, len(toks) - ${TextAnalysis.DecontamN - 2}),
         |         i -> array_to_string(
         |                list_slice(toks, i, i + ${TextAnalysis.DecontamN - 1}),
         |                ' ')))) AS g
         |       FROM cd WHERE doc_id % ${TextAnalysis.EvalMod} = 0),
         |bg AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         range(1, len(toks) - ${TextAnalysis.DecontamN - 2}),
         |         i -> array_to_string(
         |                list_slice(toks, i, i + ${TextAnalysis.DecontamN - 1}),
         |                ' ')))) AS g
         |       FROM bd),
         |contam AS (SELECT DISTINCT doc_id FROM bg
         |           WHERE g IN (SELECT g FROM ev)),
         |brows AS (SELECT doc_id,
         |            CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
         |              % ${TextAnalysis.DsirBuckets} AS bucket
         |          FROM (SELECT doc_id, unnest(toks) AS g
         |                FROM bd WHERE len(toks) >= 1
         |                UNION ALL
         |                SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |                  i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |                FROM bd WHERE len(toks) >= 1)),
         |scored AS (SELECT doc_id, sum(lr_fp)::BIGINT AS w_fp,
         |             count(*)::BIGINT AS n_g
         |           FROM brows JOIN model USING (bucket) GROUP BY doc_id),
         |f AS (SELECT bd.doc_id, len(bd.toks)::BIGINT AS n_toks, qf.q,
         |        (hi.h IS NULL) AS keep,
         |        (bd.doc_id % ${TextAnalysis.EvalMod} <> 0
         |           AND co.doc_id IS NULL) AS clean,
         |        coalesce(s.w_fp / 1000000.0 / s.n_g, -1e9) AS w
         |      FROM bd JOIN qf ON bd.doc_id = qf.doc_id
         |      LEFT JOIN hidx hi ON md5(bd.text) = hi.h
         |      LEFT JOIN contam co ON bd.doc_id = co.doc_id
         |      LEFT JOIN scored s ON bd.doc_id = s.doc_id),
         |stages AS (SELECT n_toks,
         |             unnest(list_filter(['1_input',
         |               CASE WHEN q THEN '2_quality' END,
         |               CASE WHEN q AND keep THEN '3_dedup' END,
         |               CASE WHEN q AND keep AND clean THEN '4_decontam' END,
         |               CASE WHEN q AND keep AND clean
         |                      AND w >= ${TextAnalysis.CurationMinWeight}
         |                    THEN '5_selected' END],
         |               x -> x IS NOT NULL)) AS stage
         |           FROM f)
         |SELECT stage, count(*)::BIGINT AS n_docs,
         |       sum(n_toks)::BIGINT AS n_tokens
         |FROM stages GROUP BY stage ORDER BY stage""".stripMargin,

    // incremental DSIR screen: model fit on even docs (DENSE over all
    // buckets — unseen arriving buckets get the smoothed OOV ratio),
    // odd docs scored by the same fixed-point sum
    "q_dsir_screen_inc" ->
      s"""WITH $DuckDsirIncModelCtes,
         |btok AS (SELECT doc_id, $DuckTok AS toks FROM documents
         |         WHERE doc_id % 2 = 1),
         |btk AS (SELECT * FROM btok WHERE len(toks) >= 1),
         |brows AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)
         |           % ${TextAnalysis.DsirBuckets} AS bucket
         |  FROM (SELECT doc_id, unnest(toks) AS g FROM btk
         |        UNION ALL
         |        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |          i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
         |        FROM btk))
         |SELECT doc_id, count(*)::BIGINT AS n_grams,
         |       sum(lr_fp)::BIGINT / 1000000.0 AS weight
         |FROM brows JOIN model USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DoReMi: same bigram-LM CTEs as q_text_lm_score; domain NLL and the
    // softmax normalizer both accumulate as FIXED-POINT longs (micro/nano
    // units), so no float sum order can flip a 6dp rounding
    "q_mix_doremi" ->
      s"""$DuckDoremiCtes
         |SELECT lang, n_docs, n_bigrams, nll, excess, alpha, boost
         |FROM alphas ORDER BY lang""".stripMargin,

    // the DoReMi alphas realized as the same replicate-and-thin draw the
    // temperature oracle uses; rate = boost, census pins target vs
    // achieved share
    "q_mix_doremi_draw" ->
      s"""$DuckDoremiCtes,
         |drawn AS (SELECT d.lang, count(*)::BIGINT AS docs_out
         |          FROM documents d
         |          JOIN alphas a USING (lang)
         |          CROSS JOIN unnest(range(0, ceil(a.boost)::INT)) AS t(rep)
         |          WHERE (CAST('0x' || substr(md5(d.text || ':' || rep), 1, 8)
         |                   AS BIGINT)::DOUBLE + 0.5) / 4294967296.0
         |                < a.boost - rep
         |          GROUP BY d.lang),
         |census AS (SELECT a.lang, a.n_docs, a.alpha, a.boost AS rate,
         |             coalesce(dr.docs_out, 0)::BIGINT AS docs_out
         |           FROM alphas a LEFT JOIN drawn dr USING (lang))
         |SELECT lang, n_docs, alpha, rate, docs_out,
         |       round(docs_out::DOUBLE / (SELECT sum(docs_out) FROM census), 6)
         |         AS achieved_share
         |FROM census ORDER BY lang""".stripMargin,

    // same whitespace tokenizer and md5 order as the Spark side; the
    // budget filter runs on the running sum, not per-row truncation
    "q_sample_token_budget" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |             len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens,
         |             md5(text) AS h
         |           FROM documents),
         |c AS (SELECT lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(n_tokens)::BIGINT AS tokens_used
         |FROM c WHERE cum <= ${TextAnalysis.BudgetTokens}
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Efraimidis–Spirakis A-Res with the same content-hash uniform; the
    // double sampling key stays internal to both engines (ordering only)
    "q_sample_weighted" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, n_chars,
         |    ln((CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) + 0.5)
         |       / 4294967296.0) / n_chars AS key
         |  FROM documents),
         |ranked AS (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rnk
         |  FROM scored)
         |SELECT lang, rnk, doc_id, n_chars FROM ranked
         |WHERE rnk <= ${TextAnalysis.WeightedK} ORDER BY lang, rnk""".stripMargin,

    // change batch rebuilt bit-for-bit from the snapshot + the planted
    // inserts (CorpusMerge.InsertedDocs is the single source of truth)
    // SCD Type-2 history: the three-version change log replayed, one
    // lead() window per key builds the validity intervals; a delete
    // closes without a successor, a later insert reopens (doc_id 0)
    "q_merge_scd2" -> {
      val ins = CorpusMerge.InsertedDocs
        .map { case (id, t, l, s) => s"($id, '$t')" }
        .mkString(", ")
      val tweaks = CorpusMerge.ThirdBatchTweaks
        .map { case (id, t, op) => s"($id, '$t', '$op')" }
        .mkString(", ")
      s"""WITH inserted(doc_id, text) AS (VALUES $ins),
         |tweaks(doc_id, text, op) AS (VALUES $tweaks),
         |v1 AS (SELECT doc_id, 1::BIGINT AS version, 'I' AS op, text
         |       FROM documents),
         |v2 AS (
         |  SELECT doc_id, 2::BIGINT AS version,
         |    CASE WHEN doc_id % 101 = 0 THEN 'D'
         |         WHEN doc_id % 97 = 0 THEN 'U' END AS op,
         |    text || ' [rev2]' AS text
         |  FROM documents WHERE doc_id % 101 = 0 OR doc_id % 97 = 0
         |  UNION ALL SELECT doc_id, 2::BIGINT, 'I', text FROM inserted),
         |v3 AS (
         |  SELECT doc_id, 3::BIGINT AS version, 'U' AS op,
         |    text || ' [rev3]' AS text
         |  FROM documents WHERE doc_id % 89 = 0
         |  UNION ALL SELECT doc_id, 3::BIGINT, op, text FROM tweaks),
         |log AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
         |        UNION ALL SELECT * FROM v3),
         |h AS (SELECT doc_id, version, op, text,
         |        lead(version) OVER (PARTITION BY doc_id ORDER BY version)
         |          AS next_v
         |      FROM log)
         |SELECT doc_id, version AS valid_from, next_v AS valid_to,
         |       (next_v IS NULL) AS is_current, md5(text) AS text_md5
         |FROM h WHERE op <> 'D' ORDER BY doc_id, valid_from""".stripMargin
    },

    // time-travel read over the SCD2 intervals: per AS-OF version, the
    // reconstructed corpus census (open intervals current forever)
    "q_merge_timetravel" -> {
      val ins = CorpusMerge.InsertedDocs
        .map { case (id, t, l, s) => s"($id, '$t')" }
        .mkString(", ")
      val tweaks = CorpusMerge.ThirdBatchTweaks
        .map { case (id, t, op) => s"($id, '$t', '$op')" }
        .mkString(", ")
      s"""WITH inserted(doc_id, text) AS (VALUES $ins),
         |tweaks(doc_id, text, op) AS (VALUES $tweaks),
         |v1 AS (SELECT doc_id, 1::BIGINT AS version, 'I' AS op, text
         |       FROM documents),
         |v2 AS (
         |  SELECT doc_id, 2::BIGINT AS version,
         |    CASE WHEN doc_id % 101 = 0 THEN 'D'
         |         WHEN doc_id % 97 = 0 THEN 'U' END AS op,
         |    text || ' [rev2]' AS text
         |  FROM documents WHERE doc_id % 101 = 0 OR doc_id % 97 = 0
         |  UNION ALL SELECT doc_id, 2::BIGINT, 'I', text FROM inserted),
         |v3 AS (
         |  SELECT doc_id, 3::BIGINT AS version, 'U' AS op,
         |    text || ' [rev3]' AS text
         |  FROM documents WHERE doc_id % 89 = 0
         |  UNION ALL SELECT doc_id, 3::BIGINT, op, text FROM tweaks),
         |log AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
         |        UNION ALL SELECT * FROM v3),
         |h AS (SELECT doc_id, version AS valid_from, op, text,
         |        lead(version) OVER (PARTITION BY doc_id ORDER BY version)
         |          AS valid_to
         |      FROM log),
         |iv AS (SELECT doc_id, valid_from, valid_to, md5(text) AS text_md5
         |       FROM h WHERE op <> 'D'),
         |x AS (SELECT iv.*, v.as_of
         |      FROM iv CROSS JOIN (VALUES (1::BIGINT), (2::BIGINT),
         |        (3::BIGINT)) v(as_of)
         |      WHERE valid_from <= as_of
         |        AND (valid_to IS NULL OR as_of < valid_to))
         |SELECT as_of, count(*)::BIGINT AS n_docs,
         |       count(DISTINCT text_md5)::BIGINT AS distinct_texts
         |FROM x GROUP BY as_of ORDER BY as_of""".stripMargin
    },

    "q_merge_upsert" -> {
      val ins = CorpusMerge.InsertedDocs
        .map { case (id, t, l, s) => s"($id, '$t', '$l', '$s')" }
        .mkString(", ")
      s"""WITH inserted(doc_id, text, lang, source) AS (VALUES $ins),
         |batch AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 101 = 0 THEN 'D'
         |         WHEN doc_id % 97 = 0 THEN 'U' END AS op,
         |    text || ' [rev2]' AS text, lang, source
         |  FROM documents WHERE doc_id % 101 = 0 OR doc_id % 97 = 0
         |  UNION ALL SELECT doc_id, 'I', text, lang, source FROM inserted),
         |merged AS (
         |  SELECT coalesce(s.doc_id, c.doc_id) AS doc_id,
         |    CASE WHEN c.op IN ('U', 'I') THEN c.text ELSE s.text END AS text,
         |    CASE WHEN c.op IN ('U', 'I') THEN c.source ELSE s.source END AS source
         |  FROM documents s FULL OUTER JOIN batch c ON s.doc_id = c.doc_id
         |  WHERE c.op IS NULL OR c.op <> 'D'),
         |actions AS (
         |  SELECT source,
         |    sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END)::BIGINT AS n_ins,
         |    sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END)::BIGINT AS n_upd,
         |    sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)::BIGINT AS n_del
         |  FROM batch GROUP BY source),
         |after AS (
         |  SELECT source, count(*)::BIGINT AS rows_after,
         |    sum(length(text))::BIGINT AS chars_after
         |  FROM merged GROUP BY source)
         |SELECT coalesce(a.source, b.source) AS source,
         |  coalesce(rows_after, 0) AS rows_after,
         |  coalesce(chars_after, 0) AS chars_after,
         |  coalesce(n_ins, 0) AS n_ins, coalesce(n_upd, 0) AS n_upd,
         |  coalesce(n_del, 0) AS n_del
         |FROM after a FULL OUTER JOIN actions b ON a.source = b.source
         |ORDER BY source""".stripMargin
    },

    // snapshot diff: replay the merge (same CTEs as q_merge_upsert),
    // then the full-outer md5 compare — diff(apply(S, delta), S) must
    // recover exactly the change batch
    "q_snapshot_diff" -> {
      val ins = CorpusMerge.InsertedDocs
        .map { case (id, t, l, s) => s"($id, '$t', '$l', '$s')" }
        .mkString(", ")
      s"""WITH inserted(doc_id, text, lang, source) AS (VALUES $ins),
         |batch AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 101 = 0 THEN 'D'
         |         WHEN doc_id % 97 = 0 THEN 'U' END AS op,
         |    text || ' [rev2]' AS text
         |  FROM documents WHERE doc_id % 101 = 0 OR doc_id % 97 = 0
         |  UNION ALL SELECT doc_id, 'I', text FROM inserted),
         |merged AS (
         |  SELECT coalesce(s.doc_id, c.doc_id) AS doc_id,
         |    CASE WHEN c.op IN ('U', 'I') THEN c.text ELSE s.text END AS text
         |  FROM documents s FULL OUTER JOIN batch c ON s.doc_id = c.doc_id
         |  WHERE c.op IS NULL OR c.op <> 'D'),
         |diff AS (
         |  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
         |    CASE WHEN b.doc_id IS NULL THEN 'I'
         |         WHEN a.doc_id IS NULL THEN 'D'
         |         WHEN b.old_md5 <> a.new_md5 THEN 'U' END AS op,
         |    b.old_md5, a.new_md5
         |  FROM (SELECT doc_id, md5(text) AS old_md5 FROM documents) b
         |  FULL OUTER JOIN (SELECT doc_id, md5(text) AS new_md5 FROM merged) a
         |    ON b.doc_id = a.doc_id)
         |SELECT doc_id, op, old_md5, new_md5 FROM diff
         |WHERE op IS NOT NULL ORDER BY doc_id""".stripMargin
    },

    // the bit-interleave terms are generated from the same Scala
    // constants as the Spark kernel (Layout.zValueSqlTerms)
    "q_export_shards" ->
      s"""WITH d AS (SELECT doc_id, text, md5(text) AS h FROM documents),
         |s AS (SELECT doc_id, text, h,
         |        CAST('0x' || substr(h, 1, 8) AS BIGINT) AS hx,
         |        CAST('0x' || substr(h, 1, 8) AS BIGINT) % ${Layout.ExportShards} AS shard
         |      FROM d)
         |SELECT shard, count(*)::BIGINT AS docs,
         |       sum(len($DuckTok))::BIGINT AS tokens,
         |       sum(length(text))::BIGINT AS chars,
         |       sum(hx)::BIGINT AS hash_sum,
         |       min(h) AS h_min, max(h) AS h_max
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    // compaction audit: the oracle re-derives BOTH layouts' file counts
    // relationally — fragmented = distinct content-hash shards,
    // compacted = distinct bins from the same size-ordered cumulative
    // packing arithmetic (BIGINT cross-multiplication, double-exact
    // division at these magnitudes) — and the content totals from the
    // source table; equality with the Spark side's REAL filesystem
    // listing + read-back pins the physical rewrite
    "q_layout_compaction" ->
      s"""WITH d AS (SELECT doc_id, text,
         |             CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS hx
         |           FROM documents),
         |s AS (SELECT *, hx % ${Layout.CompactFragments} AS shard FROM d),
         |sizes AS (SELECT shard, sum(length(text))::BIGINT AS chars
         |          FROM s GROUP BY shard),
         |tot AS (SELECT sum(chars)::BIGINT AS total_chars FROM sizes),
         |cum AS (SELECT shard,
         |          coalesce(sum(chars) OVER (ORDER BY shard
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |            AS cum_before
         |        FROM sizes),
         |bins AS (SELECT shard,
         |           floor(cum_before * ${Layout.CompactBins} / total_chars)::BIGINT
         |             AS bin
         |         FROM cum, tot),
         |totals AS (SELECT count(*)::BIGINT AS n_rows,
         |             sum(length(text))::BIGINT AS chars,
         |             sum(hx)::BIGINT AS hash_sum FROM s)
         |SELECT 'compacted' AS layout,
         |       (SELECT count(DISTINCT bin) FROM bins)::BIGINT AS n_files,
         |       n_rows, chars, hash_sum FROM totals
         |UNION ALL
         |SELECT 'fragmented',
         |       (SELECT count(DISTINCT shard) FROM s)::BIGINT,
         |       n_rows, chars, hash_sum FROM totals
         |ORDER BY layout""".stripMargin,
    // zone-map audit: both engines cut identical ntile blocks on the
    // unique (key, event_id) total order; box/extent tests are
    // integer/IEEE-exact
    "q_zorder_pruning" ->
      s"""WITH d AS (
         |  SELECT event_id, ts, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |z AS (SELECT event_id, ts, user_id, value,
         |        (${Layout.zValueSqlTerms("a", "b")}) AS zval FROM d),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    sum(CASE WHEN user_id BETWEEN ${Layout.ZoneBoxULo} AND ${Layout.ZoneBoxUHi}
         |             AND value BETWEEN ${Layout.ZoneBoxVLo} AND ${Layout.ZoneBoxVHi}
         |             THEN 1 ELSE 0 END)::BIGINT AS matched
         |  FROM (
         |    SELECT 'natural' AS layout,
         |      ntile(${Layout.ZoneBlocks}) OVER (ORDER BY ts, event_id) AS blk,
         |      user_id, value FROM z
         |    UNION ALL
         |    SELECT 'zorder' AS layout,
         |      ntile(${Layout.ZoneBlocks}) OVER (ORDER BY zval, event_id) AS blk,
         |      user_id, value FROM z)
         |  GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(matched)::BIGINT AS rows_matched,
         |  round(sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |            AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS read_fraction
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,
    // the FILE-level production twin: the Spark side reads REAL parquet
    // footers of the published z-prefix block layout; the oracle
    // re-buckets relationally with the identical shift arithmetic —
    // the hash match pins that footer statistics equal the exact
    // per-block extents and the skip test reads the same blocks
    "q_zorder_pruning_files" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |z AS (SELECT event_id, user_id, value,
         |        (${Layout.zValueSqlTerms("a", "b")}) AS zval FROM d),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM (
         |    SELECT 'zorder_files' AS layout,
         |      zval >> ${Layout.ZPrefixShift} AS blk, user_id, value FROM z
         |    UNION ALL
         |    SELECT 'hashed_files' AS layout,
         |      event_id % ${Layout.ZoneBlocks} AS blk, user_id, value FROM z)
         |  GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  round(sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |            AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS read_fraction,
         |  sum(n_rows)::BIGINT AS n_rows
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    // file-level Bloom index: shard assignment, all 4096 signature
    // words, candidacy (all k bits set) and hits re-derived
    // relationally — the hash match pins the filter arithmetic and
    // that the pruned physical read lost nothing
    "q_layout_bloom_files" ->
      s"""WITH frag AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
         |      % ${Layout.CompactFragments} AS shard
         |  FROM documents),
         |sizes AS (
         |  SELECT shard,
         |    1::BIGINT << length(bin(${Layout.BloomBitsPerKey} * count(*) - 1))::INT
         |      AS mbits
         |  FROM frag GROUP BY shard),
         |idx AS (
         |  SELECT shard, pos // ${Layout.BloomWordBits} AS word,
         |    bit_or(1::BIGINT << (pos % ${Layout.BloomWordBits})::INT) AS bits
         |  FROM (SELECT f.shard,
         |          CAST('0x' || substr(md5(doc_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM frag f JOIN sizes s USING (shard),
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))
         |  GROUP BY shard, word),
         |probes AS (
         |  SELECT doc_id AS probe_id, true AS expected FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0
         |  UNION ALL
         |  SELECT doc_id + ${Layout.BloomAbsentShift}, false FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0),
         |ppos AS (
         |  SELECT probe_id, expected, shard,
         |    pos // ${Layout.BloomWordBits} AS word,
         |    1::BIGINT << (pos % ${Layout.BloomWordBits})::INT AS bit
         |  FROM (SELECT probe_id, expected, s.shard,
         |          CAST('0x' || substr(md5(probe_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM probes CROSS JOIN sizes s,
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))),
         |cand AS (
         |  SELECT probe_id, expected, shard
         |  FROM ppos p JOIN idx i USING (shard, word)
         |  WHERE (i.bits & p.bit) <> 0
         |  GROUP BY probe_id, expected, shard
         |  HAVING count(*) = ${Layout.BloomHashes}),
         |candc AS (SELECT probe_id, count(*)::BIGINT AS files_candidate
         |          FROM cand GROUP BY probe_id),
         |hits AS (
         |  SELECT p.probe_id, count(DISTINCT f.shard)::BIGINT AS files_hit,
         |         count(*)::BIGINT AS rows_found
         |  FROM probes p JOIN frag f ON f.doc_id = p.probe_id
         |  GROUP BY p.probe_id)
         |SELECT p.probe_id, p.expected,
         |  (SELECT count(*) FROM sizes)::BIGINT AS files_total,
         |  coalesce(c.files_candidate, 0)::BIGINT AS files_candidate,
         |  coalesce(h.files_hit, 0)::BIGINT AS files_hit,
         |  (coalesce(c.files_candidate, 0) - coalesce(h.files_hit, 0))::BIGINT
         |    AS fp_files,
         |  coalesce(h.rows_found, 0)::BIGINT AS rows_found
         |FROM probes p
         |LEFT JOIN candc c USING (probe_id)
         |LEFT JOIN hits h USING (probe_id)
         |ORDER BY p.probe_id""".stripMargin,

    // bloom-index ADD path: base shards 0..63 plus the delta batch in
    // fresh shards 64..71 (same content-hash routing, shifted ids) —
    // the union manifest re-derived relationally end-to-end
    "q_layout_bloom_ingest" ->
      s"""WITH frag AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
         |      % ${Layout.CompactFragments} AS shard
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${Layout.BloomIngestShift},
         |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
         |      % ${Layout.BloomDeltaFiles} + ${Layout.CompactFragments}
         |  FROM documents
         |  WHERE doc_id % ${Layout.BloomIngestMod} = ${Layout.BloomIngestRem}),
         |sizes AS (
         |  SELECT shard,
         |    1::BIGINT << length(bin(${Layout.BloomBitsPerKey} * count(*) - 1))::INT
         |      AS mbits
         |  FROM frag GROUP BY shard),
         |idx AS (
         |  SELECT shard, pos // ${Layout.BloomWordBits} AS word,
         |    bit_or(1::BIGINT << (pos % ${Layout.BloomWordBits})::INT) AS bits
         |  FROM (SELECT f.shard,
         |          CAST('0x' || substr(md5(doc_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM frag f JOIN sizes s USING (shard),
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))
         |  GROUP BY shard, word),
         |probes AS (
         |  SELECT doc_id AS probe_id, true AS expected FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0
         |  UNION ALL
         |  SELECT doc_id + ${Layout.BloomAbsentShift}, false FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0),
         |ppos AS (
         |  SELECT probe_id, expected, shard,
         |    pos // ${Layout.BloomWordBits} AS word,
         |    1::BIGINT << (pos % ${Layout.BloomWordBits})::INT AS bit
         |  FROM (SELECT probe_id, expected, s.shard,
         |          CAST('0x' || substr(md5(probe_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM probes CROSS JOIN sizes s,
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))),
         |cand AS (
         |  SELECT probe_id, expected, shard
         |  FROM ppos p JOIN idx i USING (shard, word)
         |  WHERE (i.bits & p.bit) <> 0
         |  GROUP BY probe_id, expected, shard
         |  HAVING count(*) = ${Layout.BloomHashes}),
         |candc AS (SELECT probe_id, count(*)::BIGINT AS files_candidate
         |          FROM cand GROUP BY probe_id),
         |hits AS (
         |  SELECT p.probe_id, count(DISTINCT f.shard)::BIGINT AS files_hit,
         |         count(*)::BIGINT AS rows_found
         |  FROM probes p JOIN frag f ON f.doc_id = p.probe_id
         |  GROUP BY p.probe_id)
         |SELECT
         |  CASE WHEN p.probe_id >=
         |         ${Layout.BloomIngestShift + Layout.BloomAbsentShift}
         |       THEN 'absent_delta'
         |       WHEN p.probe_id >= ${Layout.BloomIngestShift} THEN 'delta'
         |       WHEN p.probe_id >= ${Layout.BloomAbsentShift} THEN 'absent_base'
         |       ELSE 'base' END AS probe_kind,
         |  p.probe_id, p.expected,
         |  (SELECT count(*) FROM sizes)::BIGINT AS files_total,
         |  coalesce(c.files_candidate, 0)::BIGINT AS files_candidate,
         |  coalesce(h.files_hit, 0)::BIGINT AS files_hit,
         |  (coalesce(c.files_candidate, 0) - coalesce(h.files_hit, 0))::BIGINT
         |    AS fp_files,
         |  coalesce(h.rows_found, 0)::BIGINT AS rows_found
         |FROM probes p
         |LEFT JOIN candc c USING (probe_id)
         |LEFT JOIN hits h USING (probe_id)
         |ORDER BY p.probe_id""".stripMargin,

    // bloom-index FORGET path: the oracle is REBUILD-ON-KEPT — shard
    // assignment, sizing, signatures, candidacy and hits re-derived
    // over `documents` minus the erasure list; the hash match proves
    // the incremental touched-files-only rewrite equals the rebuild
    // and that no forgotten id ever surfaces as a true hit
    "q_layout_bloom_forget" ->
      s"""WITH kept AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % ${graft.operators.CorpusMerge.ForgetMod}
         |    <> ${graft.operators.CorpusMerge.ForgetRem}),
         |frag AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
         |      % ${Layout.CompactFragments} AS shard
         |  FROM kept),
         |sizes AS (
         |  SELECT shard,
         |    1::BIGINT << length(bin(${Layout.BloomBitsPerKey} * count(*) - 1))::INT
         |      AS mbits
         |  FROM frag GROUP BY shard),
         |idx AS (
         |  SELECT shard, pos // ${Layout.BloomWordBits} AS word,
         |    bit_or(1::BIGINT << (pos % ${Layout.BloomWordBits})::INT) AS bits
         |  FROM (SELECT f.shard,
         |          CAST('0x' || substr(md5(doc_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM frag f JOIN sizes s USING (shard),
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))
         |  GROUP BY shard, word),
         |probes AS (
         |  SELECT doc_id AS probe_id, true AS expected FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0
         |  UNION ALL
         |  SELECT doc_id + ${Layout.BloomAbsentShift}, false FROM frag
         |  WHERE doc_id % ${Layout.BloomProbeMod} = 0
         |  UNION ALL
         |  SELECT doc_id, false FROM documents
         |  WHERE doc_id % ${graft.operators.CorpusMerge.ForgetMod}
         |    = ${graft.operators.CorpusMerge.ForgetRem}),
         |ppos AS (
         |  SELECT probe_id, expected, shard,
         |    pos // ${Layout.BloomWordBits} AS word,
         |    1::BIGINT << (pos % ${Layout.BloomWordBits})::INT AS bit
         |  FROM (SELECT probe_id, expected, s.shard,
         |          CAST('0x' || substr(md5(probe_id::VARCHAR || '#' || j::VARCHAR),
         |            1, 8) AS BIGINT) % s.mbits AS pos
         |        FROM probes CROSS JOIN sizes s,
         |             generate_series(0, ${Layout.BloomHashes - 1}) t(j))),
         |cand AS (
         |  SELECT probe_id, expected, shard
         |  FROM ppos p JOIN idx i USING (shard, word)
         |  WHERE (i.bits & p.bit) <> 0
         |  GROUP BY probe_id, expected, shard
         |  HAVING count(*) = ${Layout.BloomHashes}),
         |candc AS (SELECT probe_id, count(*)::BIGINT AS files_candidate
         |          FROM cand GROUP BY probe_id),
         |hits AS (
         |  SELECT p.probe_id, count(DISTINCT f.shard)::BIGINT AS files_hit,
         |         count(*)::BIGINT AS rows_found
         |  FROM probes p JOIN frag f ON f.doc_id = p.probe_id
         |  GROUP BY p.probe_id)
         |SELECT
         |  CASE WHEN p.probe_id % ${graft.operators.CorpusMerge.ForgetMod}
         |           = ${graft.operators.CorpusMerge.ForgetRem}
         |         AND p.probe_id < ${Layout.BloomAbsentShift} THEN 'erased'
         |       WHEN p.probe_id >= ${Layout.BloomAbsentShift} THEN 'absent'
         |       ELSE 'kept' END AS probe_kind,
         |  p.probe_id, p.expected,
         |  (SELECT count(*) FROM sizes)::BIGINT AS files_total,
         |  coalesce(c.files_candidate, 0)::BIGINT AS files_candidate,
         |  coalesce(h.files_hit, 0)::BIGINT AS files_hit,
         |  (coalesce(c.files_candidate, 0) - coalesce(h.files_hit, 0))::BIGINT
         |    AS fp_files,
         |  coalesce(h.rows_found, 0)::BIGINT AS rows_found
         |FROM probes p
         |LEFT JOIN candc c USING (probe_id)
         |LEFT JOIN hits h USING (probe_id)
         |ORDER BY p.probe_id""".stripMargin,

    // Hilbert vs Z bake-off: the 16 shared-text curve stages as a CTE
    // chain (LITERALLY the strings the Spark kernel selectExpr's), then
    // the same ntile block model and skip test as q_zorder_pruning
    "q_hilbert_pruning" -> {
      val inbox = s"user_id >= ${Layout.ZoneBoxULo} AND user_id <= ${Layout.ZoneBoxUHi} " +
        s"AND value >= ${Layout.ZoneBoxVLo} AND value <= ${Layout.ZoneBoxVHi}"
      s"""WITH d0 AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |src AS (
         |  SELECT event_id, user_id, value,
         |    (${Layout.zValueSqlTerms("a", "b")}) AS zval,
         |    a AS cx, b AS cy, 0::BIGINT AS hd
         |  FROM d0),
         |${Layout.hilbertCteSql("src", Seq("event_id", "user_id", "value", "zval"))},
         |arms AS (
         |  SELECT 'hilbert' AS layout,
         |    ntile(${Layout.ZoneBlocks}) OVER (ORDER BY hd, event_id) AS blk,
         |    user_id, value FROM ${Layout.HilbertLastCte}
         |  UNION ALL
         |  SELECT 'zorder',
         |    ntile(${Layout.ZoneBlocks}) OVER (ORDER BY zval, event_id),
         |    user_id, value FROM ${Layout.HilbertLastCte}),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    sum(CASE WHEN $inbox THEN 1 ELSE 0 END)::BIGINT AS matched
         |  FROM arms GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(matched)::BIGINT AS rows_matched,
         |  round(sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |            AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS read_fraction
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin
    },

    // the file-level bake-off: both curve layouts re-derived
    // relationally — prefix blocks over the shared-text hilbert walk
    // and the interleave terms, same extents arithmetic as the footers
    "q_hilbert_pruning_files" ->
      s"""WITH d0 AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |src AS (
         |  SELECT event_id, user_id, value,
         |    (${Layout.zValueSqlTerms("a", "b")}) AS zval,
         |    a AS cx, b AS cy, 0::BIGINT AS hd
         |  FROM d0),
         |${Layout.hilbertCteSql("src", Seq("event_id", "user_id", "value", "zval"))},
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM (
         |    SELECT 'hilbert_files' AS layout,
         |      hd >> ${Layout.ZPrefixShift} AS blk, user_id, value
         |    FROM ${Layout.HilbertLastCte}
         |    UNION ALL
         |    SELECT 'zorder_files', zval >> ${Layout.ZPrefixShift}, user_id, value
         |    FROM ${Layout.HilbertLastCte})
         |  GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  round(sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |            AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS read_fraction,
         |  sum(n_rows)::BIGINT AS n_rows
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    "q_zorder_values" ->
      s"""WITH d AS (
         |  SELECT event_id,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events)
         |SELECT event_id, (${Layout.zValueSqlTerms("a", "b")}) AS zval
         |FROM d ORDER BY zval DESC, event_id LIMIT 50""".stripMargin,

    // layout ingest: same frozen interleave routing, same mod-rule
    // batch; pre/post scored from the relational block extents the
    // footer audit is spec-pinned to equal
    "q_zorder_ingest" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |z AS (SELECT event_id, user_id, value,
         |        (${Layout.zValueSqlTerms("a", "b")}) >> ${Layout.ZPrefixShift}
         |          AS blk FROM d),
         |states AS (
         |  SELECT 'zorder_pre' AS layout, blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'zorder_post', blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'zorder_post', blk, user_id, value FROM z
         |  WHERE event_id % 97 = 0),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM states GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(n_rows)::BIGINT AS n_rows
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    // layout forget: REBUILD-ON-KEPT — the post arm re-derives the
    // whole layout relationally from the kept rows only, so the hash
    // match proves the incremental touched-blocks-only rewrite equals a
    // full relayout of the kept corpus (and that pruning survives)
    "q_zorder_forget" ->
      s"""WITH d AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |z AS (SELECT event_id, user_id, value,
         |        (${Layout.zValueSqlTerms("a", "b")}) >> ${Layout.ZPrefixShift}
         |          AS blk FROM d),
         |states AS (
         |  SELECT 'zorder_pre' AS layout, blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'zorder_post', blk, user_id, value FROM z
         |  WHERE NOT (event_id % ${CorpusMerge.ForgetMod} = ${CorpusMerge.ForgetRem})),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM states GROUP BY 1, 2),
         |t AS (SELECT count(DISTINCT blk)::BIGINT AS bt, count(*)::BIGINT AS re
         |      FROM z WHERE event_id % ${CorpusMerge.ForgetMod} = ${CorpusMerge.ForgetRem})
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(n_rows)::BIGINT AS n_rows,
         |  CASE WHEN layout = 'zorder_post' THEN (SELECT bt FROM t)
         |       ELSE 0 END AS blocks_touched,
         |  CASE WHEN layout = 'zorder_post' THEN (SELECT re FROM t)
         |       ELSE 0 END AS rows_erased
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    // Hilbert layout ingest: same frozen curve routing, same mod-rule
    // batch as q_zorder_ingest; pre/post from relational block extents
    "q_hilbert_ingest" ->
      s"""WITH d0 AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |src AS (
         |  SELECT event_id, user_id, value,
         |    a AS cx, b AS cy, 0::BIGINT AS hd
         |  FROM d0),
         |${Layout.hilbertCteSql("src", Seq("event_id", "user_id", "value"))},
         |z AS (SELECT event_id, user_id, value,
         |        hd >> ${Layout.ZPrefixShift} AS blk
         |      FROM ${Layout.HilbertLastCte}),
         |states AS (
         |  SELECT 'hilbert_pre' AS layout, blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'hilbert_post', blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'hilbert_post', blk, user_id, value FROM z
         |  WHERE event_id % 97 = 0),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM states GROUP BY 1, 2)
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(n_rows)::BIGINT AS n_rows
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    // Hilbert layout forget: the same rebuild-on-kept oracle as
    // q_zorder_forget with the frozen routing swapped — block id comes
    // from the shared-text Hilbert CTE chain's distance prefix
    "q_hilbert_forget" ->
      s"""WITH d0 AS (
         |  SELECT event_id, user_id, value,
         |    user_id % ${1L << Layout.ZBits} AS a,
         |    CAST(least(floor(value / 2.0), ${(1 << Layout.ZBits) - 1}) AS BIGINT) AS b
         |  FROM events),
         |src AS (
         |  SELECT event_id, user_id, value,
         |    a AS cx, b AS cy, 0::BIGINT AS hd
         |  FROM d0),
         |${Layout.hilbertCteSql("src", Seq("event_id", "user_id", "value"))},
         |z AS (SELECT event_id, user_id, value,
         |        hd >> ${Layout.ZPrefixShift} AS blk
         |      FROM ${Layout.HilbertLastCte}),
         |states AS (
         |  SELECT 'hilbert_pre' AS layout, blk, user_id, value FROM z
         |  UNION ALL
         |  SELECT 'hilbert_post', blk, user_id, value FROM z
         |  WHERE NOT (event_id % ${CorpusMerge.ForgetMod} = ${CorpusMerge.ForgetRem})),
         |blocks AS (
         |  SELECT layout, blk,
         |    min(user_id) AS min_u, max(user_id) AS max_u,
         |    min(value) AS min_v, max(value) AS max_v,
         |    count(*)::BIGINT AS n_rows
         |  FROM states GROUP BY 1, 2),
         |t AS (SELECT count(DISTINCT blk)::BIGINT AS bt, count(*)::BIGINT AS re
         |      FROM z WHERE event_id % ${CorpusMerge.ForgetMod} = ${CorpusMerge.ForgetRem})
         |SELECT layout, count(*)::BIGINT AS n_blocks,
         |  sum(CASE WHEN min_u <= ${Layout.ZoneBoxUHi} AND max_u >= ${Layout.ZoneBoxULo}
         |           AND min_v <= ${Layout.ZoneBoxVHi} AND max_v >= ${Layout.ZoneBoxVLo}
         |           THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
         |  sum(n_rows)::BIGINT AS n_rows,
         |  CASE WHEN layout = 'hilbert_post' THEN (SELECT bt FROM t)
         |       ELSE 0 END AS blocks_touched,
         |  CASE WHEN layout = 'hilbert_post' THEN (SELECT re FROM t)
         |       ELSE 0 END AS rows_erased
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin,

    // the IVM oracle is the FULL RECOMPUTE over the merged corpus —
    // equality proves the delta retract/apply algebra
    "q_merge_ivm" -> {
      val ins = CorpusMerge.InsertedDocs
        .map { case (id, t, l, s) => s"($id, '$t', '$l', '$s')" }
        .mkString(", ")
      s"""WITH inserted(doc_id, text, lang, source) AS (VALUES $ins),
         |batch AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 101 = 0 THEN 'D'
         |         WHEN doc_id % 97 = 0 THEN 'U' END AS op,
         |    text || ' [rev2]' AS text, lang, source
         |  FROM documents WHERE doc_id % 101 = 0 OR doc_id % 97 = 0
         |  UNION ALL SELECT doc_id, 'I', text, lang, source FROM inserted),
         |merged AS (
         |  SELECT CASE WHEN c.op IN ('U', 'I') THEN c.text ELSE s.text END AS text,
         |    CASE WHEN c.op IN ('U', 'I') THEN c.lang ELSE s.lang END AS lang,
         |    CASE WHEN c.op IN ('U', 'I') THEN c.source ELSE s.source END AS source
         |  FROM documents s FULL OUTER JOIN batch c ON s.doc_id = c.doc_id
         |  WHERE c.op IS NULL OR c.op <> 'D')
         |SELECT lang, source, count(*)::BIGINT AS n_docs,
         |       sum(length(text))::BIGINT AS total_chars
         |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_text_pack" ->
      s"""WITH d AS (SELECT doc_id, lang, doc_id % ${TextAnalysis.PackShards} AS shard,
         |             len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tokens
         |           FROM documents),
         |c AS (SELECT lang, shard, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d)
         |SELECT lang, shard, CAST(floor((cum - n_tokens) / ${TextAnalysis.PackCapacity}.0) AS BIGINT) AS bin,
         |       count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tokens
         |FROM c GROUP BY lang, shard, bin ORDER BY lang, shard, bin""".stripMargin,

    "q_text_redact" -> {
      val planted = TextAnalysis.PiiPlanted
        .map { case (id, src, text) => s"($id, '$src', '$text')" }
        .mkString(", ")
      s"""WITH planted(doc_id, source, text) AS (VALUES $planted),
         |all_docs AS (SELECT doc_id, source, text FROM documents
         |             UNION ALL SELECT * FROM planted),
         |per AS (SELECT source,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}'))::BIGINT AS n_phones,
         |  length(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'))::BIGINT AS len_redacted
         |FROM all_docs)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       sum(n_emails)::BIGINT AS emails_redacted,
         |       sum(n_phones)::BIGINT AS phones_redacted,
         |       sum(len_redacted)::BIGINT AS total_len_redacted
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    },

    "q_ann_topk_agg" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM e WHERE vec_id < 10),
         |pairs AS (SELECT q.q_id, e.vec_id AS neighbor,
         |            round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) AS cos
         |          FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 5 ORDER BY q_id, "rank"""".stripMargin,

    "q_ann_ivf_routed" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckNorm AS nrm FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
         |          FROM e WHERE vec_id >= 100 AND vec_id < 108),
         |crank AS (
         |  SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${duckDot("e.embedding", "c.cent_emb")} / (e.nrm * c.cent_nrm), 6) DESC,
         |               c.cent_id) AS rnk
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, cent_id FROM crank WHERE rnk = 1),
         |cand AS (SELECT e.vec_id, e.embedding, e.nrm, a.cent_id
         |         FROM e JOIN assign a USING (vec_id)),
         |qc AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, e.nrm AS q_nrm, k.cent_id
         |       FROM e JOIN crank k USING (vec_id)
         |       WHERE e.vec_id < 10 AND k.rnk <= 2),
         |pairs AS (SELECT qc.q_id, c.vec_id AS neighbor,
         |            round(${duckDot("qc.q_emb", "c.embedding")} / (qc.q_nrm * c.nrm), 6) AS cos
         |          FROM cand c JOIN qc USING (cent_id) WHERE c.vec_id <> qc.q_id),
         |ranked AS (SELECT q_id, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckBucket AS bucket,
         |             $DuckNorm AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket
         |      FROM e WHERE vec_id < 10),
         |exact3 AS (SELECT q_id, neighbor FROM (
         |  SELECT q.q_id, e.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) DESC,
         |               e.vec_id) AS rnk
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id) t WHERE rnk <= 3),
         |bucket3 AS (SELECT q_id, neighbor FROM (
         |  SELECT q.q_id, e.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) DESC,
         |               e.vec_id) AS rnk
         |  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.q_id) t WHERE rnk <= 3),
         |probes AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         |             unnest(list_prepend(bucket,
         |               list_transform(range(0, 8), i -> xor(bucket, 1::BIGINT << i)))) AS bucket
         |           FROM e WHERE vec_id < 10),
         |mp3 AS (SELECT q_id, neighbor FROM (
         |  SELECT p.q_id, e.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY round(${duckDot("p.q_emb", "e.embedding")} / (p.q_nrm * e.nrm), 6) DESC,
         |               e.vec_id) AS rnk
         |  FROM e JOIN probes p USING (bucket) WHERE e.vec_id <> p.q_id) t WHERE rnk <= 3),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
         |          FROM e WHERE vec_id >= 100 AND vec_id < 108),
         |crank AS (
         |  SELECT e.vec_id, c.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${duckDot("e.embedding", "c.cent_emb")} / (e.nrm * c.cent_nrm), 6) DESC,
         |               c.cent_id) AS rnk
         |  FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, cent_id FROM crank WHERE rnk = 1),
         |cand AS (SELECT e.vec_id, e.embedding, e.nrm, a.cent_id
         |         FROM e JOIN assign a USING (vec_id)),
         |qp AS (SELECT e.vec_id AS q_id, e.embedding AS q_emb, e.nrm AS q_nrm,
         |         k.cent_id, k.rnk AS probe_rnk
         |       FROM e JOIN crank k USING (vec_id) WHERE e.vec_id < 10),
         |ivf1 AS (SELECT q_id, neighbor FROM (
         |  SELECT p.q_id, c.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY round(${duckDot("p.q_emb", "c.embedding")} / (p.q_nrm * c.nrm), 6) DESC,
         |               c.vec_id) AS rnk
         |  FROM cand c JOIN qp p USING (cent_id)
         |  WHERE p.probe_rnk <= 1 AND c.vec_id <> p.q_id) t WHERE rnk <= 3),
         |ivf2 AS (SELECT q_id, neighbor FROM (
         |  SELECT p.q_id, c.vec_id AS neighbor,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY round(${duckDot("p.q_emb", "c.embedding")} / (p.q_nrm * c.nrm), 6) DESC,
         |               c.vec_id) AS rnk
         |  FROM cand c JOIN qp p USING (cent_id)
         |  WHERE p.probe_rnk <= 2 AND c.vec_id <> p.q_id) t WHERE rnk <= 3),
         |approx AS (SELECT 'ivf_nprobe1' AS method, q_id, neighbor FROM ivf1
         |           UNION ALL SELECT 'ivf_nprobe2', q_id, neighbor FROM ivf2
         |           UNION ALL SELECT 'lsh_bucket', q_id, neighbor FROM bucket3
         |           UNION ALL SELECT 'multiprobe', q_id, neighbor FROM mp3),
         |h AS (SELECT a.method,
         |        coalesce(sum(CASE WHEN x.q_id IS NOT NULL THEN 1 END), 0)::BIGINT AS hits
         |      FROM approx a LEFT JOIN exact3 x
         |        ON a.q_id = x.q_id AND a.neighbor = x.neighbor
         |      GROUP BY a.method),
         |hb AS (SELECT method, hits,
         |         CASE method WHEN 'ivf_nprobe2' THEN 'ivf_nprobe1'
         |                     WHEN 'multiprobe' THEN 'lsh_bucket' END AS base
         |       FROM h)
         |SELECT hb.method, hb.hits, round(hb.hits / 30.0, 4) AS recall3,
         |       coalesce(hb.hits >= b.hits, true) AS mono_ok
         |FROM hb LEFT JOIN h b ON hb.base = b.method
         |ORDER BY hb.method""".stripMargin,

    "q_ann_lsh_bucket" ->
      s"""WITH e AS (SELECT vec_id, embedding, $DuckBucket AS bucket,
         |             $DuckNorm AS nrm
         |           FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket
         |      FROM e WHERE vec_id < 10),
         |pairs AS (SELECT q.q_id, e.bucket, e.vec_id AS neighbor,
         |            round(${duckDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm), 6) AS cos
         |          FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, bucket, neighbor, cos,
         |             row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor) AS "rank"
         |           FROM pairs)
         |SELECT q_id, bucket, "rank", neighbor, cos FROM ranked
         |WHERE "rank" <= 3 ORDER BY q_id, "rank"""".stripMargin,

    // robust monitor: exact interpolated medians (quantile_cont ≡ Spark
    // `percentile`); float literals forced through double arithmetic so
    // both engines standardize with the identical constant
    "q_events_anomaly" ->
      s"""WITH daily AS (
         |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |         event_type, count(*)::BIGINT AS n
         |  FROM events GROUP BY 1, 2),
         |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
         |        FROM daily GROUP BY 1),
         |dev AS (SELECT d.day, d.event_type, d.n, m.med,
         |          abs(d.n - m.med) AS absdev
         |        FROM daily d JOIN med m USING (event_type)),
         |mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
         |        FROM dev GROUP BY 1),
         |scored AS (SELECT dev.day, dev.event_type, dev.n, dev.med, mad.mad,
         |             CASE WHEN mad.mad > 0
         |               THEN (dev.n - dev.med) / (${EventsOps.MadSigma} * mad.mad)
         |               ELSE 0.0 END AS z
         |           FROM dev JOIN mad USING (event_type))
         |SELECT day, event_type, n, round(med, 1) AS med, round(mad, 1) AS mad,
         |       round(z, 4) AS z,
         |       (abs(z) > ${EventsOps.AnomalyZ}
         |        OR (mad = 0 AND n <> med)) AS is_anomaly
         |FROM scored ORDER BY day, event_type""".stripMargin,

    // gap-fill/resample: the spine replays Spark's sequence(min..max
    // hour) with generate_series; ffill is the identical ignore-nulls
    // running last_value; averages are EventsOps.mean4 replayed — the
    // integer 10⁻⁴-unit sum over the count, rounded half away from zero
    // in integers, one DOUBLE division at the end; hours cross as strings
    "q_events_resample" ->
      """WITH agg AS (SELECT date_trunc('hour', ts) AS hour, event_type,
        |          count(*)::BIGINT AS n_obs,
        |          sum((value::DECIMAL(18,4) * 10000)::BIGINT)::BIGINT AS s4
        |        FROM events GROUP BY 1, 2),
        |obs AS (SELECT hour, event_type, n_obs,
        |          (CASE WHEN s4 < 0 THEN -1 ELSE 1 END *
        |           ((2 * abs(s4) + n_obs) // (2 * n_obs)))::DOUBLE / 10000 AS obs_avg
        |        FROM agg),
        |b AS (SELECT min(hour) AS lo, max(hour) AS hi FROM obs),
        |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |          FROM b),
        |types AS (SELECT DISTINCT event_type FROM obs),
        |grid AS (SELECT h.hour, t.event_type, o.n_obs, o.obs_avg
        |         FROM hours h CROSS JOIN types t
        |         LEFT JOIN obs o ON o.hour = h.hour AND o.event_type = t.event_type)
        |SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, event_type,
        |       coalesce(n_obs, 0)::BIGINT AS n_events,
        |       last_value(obs_avg IGNORE NULLS) OVER (
        |         PARTITION BY event_type ORDER BY hour
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
        |       n_obs IS NULL AS filled
        |FROM grid ORDER BY event_type, hour""".stripMargin,

    // unpivot → one grouped pass, exactly the Spark stack() plan's algebra;
    // values profile as strings (binary collation in both engines)
    "q_profile_columns" ->
      """WITH u AS (
        |  SELECT 'doc_id' AS col_name, doc_id::VARCHAR AS val FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'n_chars', n_chars::VARCHAR FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'text', text FROM documents)
        |SELECT col_name, count(*)::BIGINT AS n_rows,
        |       sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |       count(DISTINCT val)::BIGINT AS n_distinct,
        |       min(val) AS min_val, max(val) AS max_val,
        |       round(avg(length(val)), 2) AS avg_len
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    // join-key frequency skew report: top-k hot keys ranked after the
    // cut, key-space summary carried on every row
    "q_profile_skew" ->
      s"""WITH c AS (SELECT l_partkey, count(*)::BIGINT AS cnt
         |           FROM lineitem GROUP BY 1),
         |s AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS n_rows,
         |             max(cnt) AS max_cnt FROM c),
         |t AS (SELECT l_partkey, cnt FROM c
         |      ORDER BY cnt DESC, l_partkey LIMIT ${Profiling.SkewTopK})
         |SELECT row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rank,
         |       l_partkey, cnt, s.n_keys,
         |       round(cnt / s.n_rows, 6) AS share,
         |       round(cnt * s.n_keys / s.n_rows, 4) AS x_mean
         |FROM t CROSS JOIN s ORDER BY rank""".stripMargin,

    // PSI drift between the doc_id-parity snapshots; 0.5-per-bucket
    // additive smoothing over the fixed 10-bucket spine (empty buckets
    // included), natural log rounded at 6 decimals in both engines
    "q_profile_drift" ->
      s"""WITH d AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
         |             least(n_chars // 100, ${Profiling.DriftBuckets - 1}) AS bucket
         |           FROM documents),
         |counts AS (SELECT bucket,
         |             sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
         |             sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur
         |           FROM d GROUP BY bucket),
         |spine AS (SELECT unnest(range(0, ${Profiling.DriftBuckets})) AS bucket),
         |filled AS (SELECT s.bucket,
         |           coalesce(n_ref, 0)::BIGINT AS n_ref,
         |           coalesce(n_cur, 0)::BIGINT AS n_cur
         |         FROM spine s LEFT JOIN counts c ON c.bucket = s.bucket),
         |tot AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur FROM filled),
         |p AS (SELECT bucket, n_ref, n_cur,
         |        (n_ref + 0.5) / (t_ref + ${0.5 * Profiling.DriftBuckets}) AS p_ref,
         |        (n_cur + 0.5) / (t_cur + ${0.5 * Profiling.DriftBuckets}) AS p_cur
         |      FROM filled CROSS JOIN tot)
         |SELECT bucket, n_ref, n_cur,
         |       round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
         |       round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
         |FROM p ORDER BY bucket""".stripMargin,

    // two-sample KS on raw n_chars, same parity split: cumulative sums
    // over the distinct-value spine, sup row with a value tie-break,
    // rejection compared on the 6dp-rounded columns in both engines
    "q_profile_ks" ->
      """WITH d AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
        |             n_chars AS v
        |           FROM documents),
        |counts AS (SELECT v,
        |             sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
        |             sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur
        |           FROM d GROUP BY v),
        |tot AS (SELECT sum(n_ref)::BIGINT AS t_ref, sum(n_cur)::BIGINT AS t_cur
        |        FROM counts),
        |cum AS (SELECT v,
        |          sum(n_ref) OVER (ORDER BY v) AS c_ref,
        |          sum(n_cur) OVER (ORDER BY v) AS c_cur
        |        FROM counts),
        |g AS (SELECT v AS at_value, t_ref, t_cur,
        |        round(abs(c_ref / t_ref - c_cur / t_cur), 6) AS ks_stat,
        |        round(1.358 * sqrt((t_ref + t_cur) / (t_ref * t_cur * 1.0)), 6)
        |          AS crit_05
        |      FROM cum CROSS JOIN tot)
        |SELECT at_value, t_ref, t_cur, ks_stat, crit_05,
        |       ks_stat > crit_05 AS reject_05
        |FROM g ORDER BY ks_stat DESC, at_value LIMIT 1""".stripMargin,

    // Deequ-style constraint suite: the same planted defects (disjoint
    // CASE order matters — null wins over dangling-ref), the same one
    // LEFT join against the distinct customer keys, ppm in integer //
    "q_profile_constraints" ->
      s"""WITH planted AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % ${Profiling.PlantNullMod} = 0 THEN NULL
         |         WHEN o_orderkey % ${Profiling.PlantRefMod} = 0
         |           THEN o_custkey + 1000000000
         |         ELSE o_custkey END AS o_custkey,
         |    CASE WHEN o_orderkey % ${Profiling.PlantStatMod} = 0 THEN 'X'
         |         ELSE o_orderstatus END AS o_orderstatus,
         |    CASE WHEN o_orderkey % ${Profiling.PlantNegMod} = 0
         |         THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
         |    CASE WHEN o_orderkey % ${Profiling.PlantDateMod} = 0
         |         THEN TIMESTAMP '1970-01-06 00:00:00'
         |         ELSE o_orderdate END AS o_orderdate
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
         |  FROM orders WHERE o_orderkey % ${Profiling.PlantDupMod} = 0),
         |agg AS (
         |  SELECT count(*)::BIGINT AS n_rows,
         |    count(DISTINCT o_orderkey)::BIGINT AS key_ndv,
         |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_null,
         |    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
         |      ::BIGINT AS v_status,
         |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT AS v_neg,
         |    sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
         |          OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
         |        THEN 1 ELSE 0 END)::BIGINT AS v_date,
         |    sum(CASE WHEN p.o_custkey IS NOT NULL AND c.c_custkey IS NULL
         |        THEN 1 ELSE 0 END)::BIGINT AS v_ref
         |  FROM planted p LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
         |    ON p.o_custkey = c.c_custkey),
         |checks(check_name, target, n_checked, n_violations) AS (
         |  SELECT 'completeness',   'o_custkey',     n_rows, v_null FROM agg
         |  UNION ALL SELECT 'uniqueness', 'o_orderkey', n_rows, n_rows - key_ndv FROM agg
         |  UNION ALL SELECT 'set_membership', 'o_orderstatus', n_rows, v_status FROM agg
         |  UNION ALL SELECT 'non_negative', 'o_totalprice', n_rows, v_neg FROM agg
         |  UNION ALL SELECT 'freshness', 'o_orderdate', n_rows, v_date FROM agg
         |  UNION ALL SELECT 'ref_integrity', 'o_custkey', n_rows, v_ref FROM agg)
         |SELECT check_name, target, n_checked::BIGINT AS n_checked,
         |       n_violations::BIGINT AS n_violations,
         |       ((n_checked - n_violations) * 1000000 // n_checked)::BIGINT
         |         AS satisfied_ppm,
         |       n_violations = 0 AS passed
         |FROM checks ORDER BY check_name""".stripMargin,

    // Poisson bootstrap: identical md5 ppm uniform, identical literal
    // cumulative thresholds, replicate means in integer ppm — the CI is
    // the (min, max) = (1st, Bth) order statistics of the B means
    "q_stats_bootstrap" -> {
      val thr = Profiling.PoissonCumPpm
        .map(t => s"(CASE WHEN u_ppm >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH reps AS (
         |  SELECT lang, b,
         |    (sum(w * n_chars) * 1000000 // sum(w))::BIGINT AS mean_ppm
         |  FROM (
         |    SELECT lang, n_chars, b, ($thr)::BIGINT AS w
         |    FROM (
         |      SELECT lang, n_chars, b,
         |        CAST('0x' || substr(md5(doc_id::VARCHAR || '#' || b::VARCHAR), 1, 8)
         |          AS BIGINT) % 1000000 AS u_ppm
         |      FROM documents, generate_series(0, ${Profiling.BootstrapB - 1}) t(b)))
         |  GROUP BY lang, b),
         |ci AS (SELECT lang, min(mean_ppm)::BIGINT AS ci_lo_ppm,
         |              max(mean_ppm)::BIGINT AS ci_hi_ppm
         |       FROM reps GROUP BY lang),
         |point AS (SELECT lang, count(*)::BIGINT AS n_docs,
         |            (sum(n_chars) * 1000000 // count(*))::BIGINT AS mean_ppm
         |          FROM documents GROUP BY lang)
         |SELECT p.lang, p.n_docs, p.mean_ppm, c.ci_lo_ppm, c.ci_hi_ppm,
         |       (c.ci_hi_ppm - c.ci_lo_ppm)::BIGINT AS ci_width_ppm
         |FROM point p JOIN ci c USING (lang) ORDER BY lang""".stripMargin
    },

    // snapshot mean-difference bootstrap: same split as the drift
    // monitors, same planted regression, independent draws per
    // snapshot, CI = (1,B) order stats of the replicate differences
    "q_stats_bootstrap_diff" -> {
      val thr = Profiling.PoissonCumPpm
        .map(t => s"(CASE WHEN u_ppm >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val langs = Profiling.DiffPlantLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH docs AS (
         |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
         |    lang, doc_id,
         |    n_chars + CASE WHEN doc_id % 2 <> 0 AND lang IN ($langs)
         |      THEN ${Profiling.DiffPlantShift} ELSE 0 END AS m
         |  FROM documents),
         |reps AS (
         |  SELECT snap, lang, b,
         |    (sum(w * m) * 1000000 // sum(w))::BIGINT AS mean_ppm
         |  FROM (
         |    SELECT snap, lang, b, m, ($thr)::BIGINT AS w
         |    FROM (
         |      SELECT snap, lang, m, b,
         |        CAST('0x' || substr(md5(doc_id::VARCHAR || '#' || b::VARCHAR), 1, 8)
         |          AS BIGINT) % 1000000 AS u_ppm
         |      FROM docs, generate_series(0, ${Profiling.BootstrapB - 1}) t(b)))
         |  GROUP BY snap, lang, b),
         |diffs AS (
         |  SELECT r.lang, min(r.mean_ppm - c.mean_ppm)::BIGINT AS ci_lo_ppm,
         |         max(r.mean_ppm - c.mean_ppm)::BIGINT AS ci_hi_ppm
         |  FROM reps r JOIN reps c ON r.lang = c.lang AND r.b = c.b
         |    AND r.snap = 'ref' AND c.snap = 'cur'
         |  GROUP BY r.lang),
         |point AS (
         |  SELECT lang,
         |    sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref,
         |    sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END)::BIGINT AS n_cur,
         |    ((sum(CASE WHEN snap = 'ref' THEN m ELSE 0 END) * 1000000)
         |       // sum(CASE WHEN snap = 'ref' THEN 1 ELSE 0 END)
         |     - (sum(CASE WHEN snap = 'cur' THEN m ELSE 0 END) * 1000000)
         |       // sum(CASE WHEN snap = 'cur' THEN 1 ELSE 0 END))::BIGINT
         |      AS diff_ppm
         |  FROM docs GROUP BY lang)
         |SELECT p.lang, p.n_ref, p.n_cur, p.diff_ppm,
         |       d.ci_lo_ppm, d.ci_hi_ppm,
         |       NOT (d.ci_lo_ppm <= 0 AND d.ci_hi_ppm >= 0) AS significant
         |FROM point p JOIN diffs d USING (lang) ORDER BY p.lang""".stripMargin
    },

    // exact interpolated quartile boundaries (quantile_cont ≡ Spark
    // `percentile`); value==boundary only when the boundary IS a data
    // point (interpolation weight 0), so bucketing never hinges on a
    // floating last-ulp
    "q_profile_eqdepth" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |                  quantile_cont(o_totalprice, 0.5)  AS q2,
        |                  quantile_cont(o_totalprice, 0.75) AS q3
        |           FROM orders)
        |SELECT CASE WHEN o_totalprice <= b.q1 THEN 0
        |            WHEN o_totalprice <= b.q2 THEN 1
        |            WHEN o_totalprice <= b.q3 THEN 2
        |            ELSE 3 END::BIGINT AS quartile,
        |       count(*)::BIGINT AS n,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM orders CROSS JOIN b
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // BPE inner step: adjacent char pairs over the distinct-word frame,
    // weighted by word frequency — substr windows mirror the Spark
    // transform(sequence(...)) lambda exactly
    "q_text_bpe_step" ->
      s"""WITH tok AS (SELECT $DuckTok AS toks FROM documents),
         |w AS (SELECT unnest(toks) AS word FROM tok),
         |v AS (SELECT word, count(*)::BIGINT AS n_w FROM w
         |      GROUP BY 1 HAVING length(word) >= 2),
         |pairs AS (SELECT n_w, unnest(list_transform(range(1, length(word)),
         |            i -> substr(word, i, 2))) AS pair
         |          FROM v)
         |SELECT pair, sum(n_w)::BIGINT AS freq FROM pairs
         |GROUP BY pair ORDER BY freq DESC, pair LIMIT ${TextAnalysis.BpeTopK}""".stripMargin,

    // iterated trainer: the full generated count→argmax→merge chain —
    // every learned merge (order, symbols, weighted frequency) must
    // agree with the Spark loop's collected table round-for-round
    "q_text_bpe_train" ->
      (duckBpeChain(TextAnalysis.BpeTrainRounds) +
        "\nSELECT round, lhs, rhs, merged, freq FROM (" +
        (1 to TextAnalysis.BpeTrainRounds)
          .map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ") +
        ") ORDER BY round"),

    // tokenizer application: final segmentations from the same chain,
    // joined back to the document word stream for the per-language
    // compression census
    "q_text_bpe_apply" ->
      (duckBpeChain(TextAnalysis.BpeTrainRounds) +
        s""",
           |vt AS (SELECT word, len(string_split(trim(seg, '|'), '||'))::BIGINT AS n_t
           |       FROM s${TextAnalysis.BpeTrainRounds}),
           |dw AS (SELECT doc_id, lang, unnest(toks) AS word
           |       FROM (SELECT doc_id, lang, $DuckTok AS toks FROM documents) q)
           |SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
           |       count(*)::BIGINT AS n_words,
           |       sum(length(word))::BIGINT AS n_chars,
           |       sum(n_t)::BIGINT AS bpe_tokens,
           |       round(sum(length(word))::DOUBLE / sum(n_t), 4) AS compression
           |FROM dw JOIN vt USING (word)
           |WHERE regexp_matches(word, '^[a-z0-9]+$$') AND length(word) >= 2
           |GROUP BY lang ORDER BY lang""".stripMargin),

    // k-center greedy: the generated farthest-first chain — both
    // engines must select the identical center sequence and radii
    "q_sample_kcenter" -> duckKcenterOracle(SimSearch.KCenterK),

    // coreset weights: the selected centers' Voronoi masses — the
    // k-center chain replayed, then one argmin assignment pass with
    // (rounded d2, center) tie-break; weights must sum to N
    "q_sample_kcenter_weights" -> {
      val k = SimSearch.KCenterK
      duckKcenterCtes(k) +
        s""",
           |cents AS (${(1 to k).map(i =>
              s"SELECT vec_id AS center, embedding AS c_emb FROM c$i")
              .mkString("\n          UNION ALL ")}),
           |asg AS (SELECT vec_id, center, d2 FROM (
           |  SELECT e.vec_id, cents.center,
           |    round(${duckL2("e.embedding", "cents.c_emb")}, 6) AS d2,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY round(${duckL2("e.embedding", "cents.c_emb")}, 6),
           |        cents.center) AS rnk
           |  FROM e CROSS JOIN cents) WHERE rnk = 1)
           |SELECT center, count(*)::BIGINT AS weight, max(d2) AS max_d2
           |FROM asg GROUP BY center ORDER BY center""".stripMargin
    },

    // batch farthest-first: the over-sampled variant — T candidates per
    // pass, driver-greedy β=1/4 admission replayed as an unrolled
    // column cascade; both engines must admit the identical centers
    "q_sample_kcenter_batch" ->
      duckKcenterBatchOracle(SimSearch.KCenterBatchT, SimSearch.KCenterBatchPasses),

    // lightweight coreset: the mean from exact per-dim fixed-point
    // sums, fixed-point d², q from exact totals, A-Res ln(u)/q draw
    // over the md5 uniforms — every double derives from exact BIGINTs
    // by the identical expression in both engines
    "q_sample_coreset_lw" ->
      s"""$duckCoresetCtes
         |SELECT rnk::BIGINT AS rnk, vec_id,
         |       round(1.0::DOUBLE / (${SimSearch.CoresetM}.0::DOUBLE * q), 6)
         |         AS weight,
         |       round(d2fx::DOUBLE / 1000000.0, 6) AS d2
         |FROM top WHERE rnk <= ${SimSearch.CoresetM} ORDER BY rnk""".stripMargin,

    // coreset TRAINING audit: the drawn coreset's weighted Lloyd step
    // (exact fixed-point weighted recenters) then the full corpus
    // scored against the coreset-trained centroids
    "q_sample_coreset_train" ->
      s"""$duckCoresetCtes,
         |cse AS (SELECT t.rnk, t.vec_id, e.embedding,
         |          round(round(1.0::DOUBLE
         |              / (${SimSearch.CoresetM}.0::DOUBLE * t.q), 6)
         |            * 1000000.0, 0)::BIGINT AS wfx
         |        FROM top t JOIN e USING (vec_id)
         |        WHERE t.rnk <= ${SimSearch.CoresetM}),
         |seeds AS (SELECT rnk AS cid, embedding AS c_emb FROM cse
         |          WHERE rnk <= ${SimSearch.CoresetTrainK}),
         |a1 AS (SELECT vec_id, wfx, embedding, cid FROM (
         |         SELECT c.vec_id, c.wfx, c.embedding, s.cid,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY round(${duckL2("c.embedding", "s.c_emb")}, 6),
         |               s.cid) AS r
         |         FROM cse c CROSS JOIN seeds s) WHERE r = 1),
         |lf AS (SELECT cid, wfx,
         |         unnest(range(0, len(embedding))) AS pos,
         |         unnest(list_transform(embedding,
         |           x -> round(x::DOUBLE * 1000000.0, 0)::BIGINT)) AS xfx
         |       FROM a1),
         |cl AS (SELECT cid, pos, sum(wfx * xfx)::BIGINT AS swx,
         |         sum(wfx)::BIGINT AS sw
         |       FROM lf GROUP BY 1, 2),
         |cents AS (SELECT cid,
         |            list(swx::DOUBLE / (sw::DOUBLE * 1000000.0)
         |              ORDER BY pos) AS c_emb
         |          FROM cl GROUP BY cid),
         |asg AS (SELECT vec_id, cid, d2 FROM (
         |          SELECT e.vec_id, c.cid,
         |            round(${duckL2("e.embedding", "c.c_emb")}, 6) AS d2,
         |            row_number() OVER (PARTITION BY e.vec_id
         |              ORDER BY round(${duckL2("e.embedding", "c.c_emb")}, 6),
         |                c.cid) AS r
         |          FROM e CROSS JOIN cents c) WHERE r = 1),
         |agg AS (SELECT cid, count(*)::BIGINT AS n_corpus,
         |          sum(round(d2 * 1000000.0, 0)::BIGINT)::BIGINT AS sse_fx
         |        FROM asg GROUP BY cid),
         |cm AS (SELECT cid, count(*)::BIGINT AS n_coreset,
         |         sum(wfx)::BIGINT AS mass_fx
         |       FROM a1 GROUP BY cid)
         |SELECT a.cid, cm.n_coreset,
         |       round(cm.mass_fx::DOUBLE / 1000000.0, 4) AS coreset_mass,
         |       a.n_corpus,
         |       round(a.sse_fx::DOUBLE / 1000000.0, 4) AS corpus_sse
         |FROM agg a JOIN cm USING (cid) ORDER BY a.cid""".stripMargin,

    // NFC census: DuckDB's nfc_normalize implements the same Unicode
    // canonical composition as the native graft_nfc kernel; chr(769) is
    // U+0301, the planted combining acute
    "q_text_unicode_norm" ->
      s"""WITH q AS (SELECT lang,
         |             CASE WHEN doc_id % ${TextAnalysis.NfcPlantMod} = 0
         |                  THEN text || ' cafe' || chr(769) ELSE text END AS t2
         |           FROM documents)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum((nfc_normalize(t2) <> t2)::INT)::BIGINT AS changed,
         |       sum(length(t2) - length(nfc_normalize(t2)))::BIGINT AS chars_removed
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_domain_cap" ->
      s"""SELECT source, rk, doc_id, lang FROM (
         |  SELECT source, doc_id, lang,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY md5(text), doc_id) AS rk
         |  FROM documents) q
         |WHERE rk <= ${TextAnalysis.DomainCapK} ORDER BY source, rk""".stripMargin,

    "q_profile_histogram" ->
      s"""SELECT floor(o_totalprice / ${Profiling.HistWidth})::BIGINT AS bucket,
         |       count(*)::BIGINT AS n,
         |       round(min(o_totalprice), 2) AS lo,
         |       round(max(o_totalprice), 2) AS hi,
         |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // unrolled power iteration, one CTE pair per step (the same
    // fixed-iteration replay discipline as the CC and k-means oracles);
    // (1.0::DOUBLE - d) forces the double subtraction Spark performs —
    // DuckDB's bare (1 - 0.85) is exact DECIMAL and lands on a different
    // double
    "q_graph_pagerank" -> {
      val d = Graph.Damping
      val steps = (1 to Graph.PrIters).map { k =>
        val (prev, inf, cur) = (s"r${k - 1}", s"i$k", s"r$k")
        s"""$inf AS (SELECT e.dst, sum($prev.r / $prev.deg) AS inflow
           |      FROM e JOIN $prev ON e.src = $prev.node GROUP BY 1),
           |$cur AS (SELECT $prev.node, $prev.deg,
           |           (1.0::DOUBLE - $d) / n.n + $d * coalesce($inf.inflow, 0.0) AS r
           |         FROM $prev CROSS JOIN n
           |         LEFT JOIN $inf ON $prev.node = $inf.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |           WHERE a.l_partkey <> b.l_partkey),
         |d AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM d),
         |r0 AS (SELECT d.src AS node, d.deg, 1.0 / n.n AS r FROM d CROSS JOIN n),
         |$steps
         |SELECT node, deg, round(r${Graph.PrIters}.r * n.n, 4) AS norm_rank
         |FROM r${Graph.PrIters} CROSS JOIN n
         |ORDER BY norm_rank DESC, node LIMIT ${Graph.PrTopK}""".stripMargin
    },

    // mutual-kNN PageRank: the weighted pair build, the per-src top-m
    // rank cut, the transpose intersection, then the SAME unrolled
    // power iteration as q_graph_pagerank over the sparsified edges
    "q_graph_pagerank_knn" -> {
      val d = Graph.Damping
      val steps = (1 to Graph.PrIters).map { k =>
        val (prev, inf, cur) = (s"r${k - 1}", s"i$k", s"r$k")
        s"""$inf AS (SELECT e.dst, sum($prev.r / $prev.deg) AS inflow
           |      FROM e JOIN $prev ON e.src = $prev.node GROUP BY 1),
           |$cur AS (SELECT $prev.node, $prev.deg,
           |           (1.0::DOUBLE - $d) / n.n + $d * coalesce($inf.inflow, 0.0) AS r
           |         FROM $prev CROSS JOIN n
           |         LEFT JOIN $inf ON $prev.node = $inf.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |               FROM lineitem),
         |w AS (SELECT a.p AS src, b.p AS dst, count(*)::BIGINT AS w
         |      FROM items a JOIN items b USING (ok)
         |      WHERE a.p <> b.p GROUP BY 1, 2),
         |topm AS (SELECT src, dst FROM (
         |           SELECT src, dst,
         |             row_number() OVER (PARTITION BY src
         |               ORDER BY w DESC, dst) AS rnk
         |           FROM w) WHERE rnk <= ${Graph.KnnM}),
         |e AS (SELECT t.src, t.dst FROM topm t
         |      JOIN topm r ON r.src = t.dst AND r.dst = t.src),
         |d AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM d),
         |r0 AS (SELECT d.src AS node, d.deg, 1.0 / n.n AS r FROM d CROSS JOIN n),
         |$steps
         |SELECT node, deg, round(r${Graph.PrIters}.r * n.n, 4) AS norm_rank
         |FROM r${Graph.PrIters} CROSS JOIN n
         |ORDER BY norm_rank DESC, node LIMIT ${Graph.PrTopK}""".stripMargin
    },

    // DELTA-STOPPED PageRank: the recursion stops ITSELF — the recursive
    // term's gate tests the working table's L1 delta against the same
    // integer tolerance the Spark loop tests, so the stop round (emitted
    // as a column) is part of the hash match. All arithmetic is BIGINT
    // fixed-point (floor divisions mirrored exactly: // here, div in
    // Spark — identical on positives), so no float ulp can desync the
    // round count. Every support CTE is MATERIALIZED: DuckDB re-inlines
    // plain CTEs per reference, and the recursive term references the
    // edge frame every round (the q_sample_kcenter_batch lesson).
    "q_graph_pagerank_conv" -> {
      val (prec, tol, cap) = (Graph.PrPrec, Graph.PrTol, Graph.PrMaxRounds)
      s"""WITH RECURSIVE items AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |w AS MATERIALIZED (
         |  SELECT a.p AS src, b.p AS dst, count(*)::BIGINT AS w
         |  FROM items a JOIN items b USING (ok)
         |  WHERE a.p <> b.p GROUP BY 1, 2),
         |topm AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rnk
         |    FROM w) WHERE rnk <= ${Graph.KnnM}),
         |e AS MATERIALIZED (SELECT t.src, t.dst FROM topm t
         |  JOIN topm r ON r.src = t.dst AND r.dst = t.src),
         |d AS MATERIALIZED (
         |  SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM d),
         |pr(iter, node, r, dl) AS (
         |  SELECT 0, d.node, (SELECT $prec // n FROM nn), $prec::BIGINT FROM d
         |  UNION ALL
         |  SELECT c.iter + 1, c.node,
         |         (SELECT $prec // n FROM nn) * 3 // 20
         |           + 17 * coalesce(i.inflow, 0) // 20,
         |         abs(((SELECT $prec // n FROM nn) * 3 // 20
         |           + 17 * coalesce(i.inflow, 0) // 20) - c.r)
         |  FROM pr c
         |  LEFT JOIN (SELECT e.dst AS nd, sum(p2.r // g.deg)::BIGINT AS inflow
         |             FROM pr p2 JOIN e ON p2.node = e.src
         |             JOIN d g ON g.node = p2.node
         |             GROUP BY e.dst) i ON i.nd = c.node
         |  WHERE (SELECT sum(dl) FROM pr) >= $tol AND c.iter < $cap
         |)
         |SELECT p.node, d.deg, p.r AS fp_rank, p.iter AS rounds
         |FROM pr p JOIN d ON d.node = p.node
         |WHERE p.iter = (SELECT max(iter) FROM pr)
         |ORDER BY fp_rank DESC, p.node LIMIT ${Graph.PrTopK}""".stripMargin
    },

    // 2-itemset association rules: the support floor applies BEFORE the
    // supports join (a-priori pruning), both rule directions from each
    // undirected pair, ordered by the rounded lift with a unique tiebreak
    "q_assoc_rules" ->
      s"""WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
         |                 FROM lineitem),
         |n AS (SELECT count(DISTINCT ok) AS n_baskets FROM baskets),
         |s AS (SELECT item, count(*)::BIGINT AS supp FROM baskets GROUP BY 1),
         |p AS (SELECT a.item AS ia, b.item AS ib, count(*)::BIGINT AS supp_ab
         |      FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
         |      GROUP BY 1, 2 HAVING count(*) >= ${Relational.RuleMinSupport}),
         |d AS (SELECT ia AS antecedent, ib AS consequent, supp_ab FROM p
         |      UNION ALL SELECT ib, ia, supp_ab FROM p)
         |SELECT d.antecedent, d.consequent, d.supp_ab,
         |       sa.supp AS supp_a, sb.supp AS supp_b,
         |       round(d.supp_ab / sa.supp, 4) AS confidence,
         |       round(d.supp_ab * n.n_baskets / (sa.supp * sb.supp), 4) AS lift
         |FROM d JOIN s sa ON sa.item = d.antecedent
         |       JOIN s sb ON sb.item = d.consequent
         |CROSS JOIN n
         |ORDER BY lift DESC, antecedent, consequent
         |LIMIT ${Relational.RuleTopK}""".stripMargin,

    // degree-ordered triangle enumeration over the support-floored
    // co-purchase graph; each triangle found once at its lowest
    // (deg, id) corner, then credited to all three
    // items dedupes (order, part) first so the support floor counts
    // DISTINCT co-occurring orders, mirroring recurringEdges
    "q_graph_triangles" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ew AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
         |              count(*) AS w
         |            FROM items a JOIN items b
         |              ON a.l_orderkey = b.l_orderkey
         |            WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM ew WHERE w >= ${Graph.TriMinSupport}),
         |d AS (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         |o AS (SELECT e.src AS u, e.dst AS v FROM e
         |      JOIN d du ON du.node = e.src JOIN d dv ON dv.node = e.dst
         |      WHERE du.deg < dv.deg
         |         OR (du.deg = dv.deg AND e.src < e.dst)),
         |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |      FROM o e1 JOIN o e2 ON e1.v = e2.u
         |      JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v),
         |n AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
         |      UNION ALL SELECT c FROM t),
         |pc AS (SELECT node, count(*)::BIGINT AS triangles FROM n GROUP BY 1)
         |SELECT pc.node, d.deg, pc.triangles,
         |       round(pc.triangles * 2.0 / (d.deg * (d.deg - 1)), 4) AS clustering
         |FROM pc JOIN d ON d.node = pc.node
         |ORDER BY triangles DESC, pc.node LIMIT ${Graph.TriTopK}""".stripMargin,

    // one shared window (total order on n_chars, doc_id) feeds ntile,
    // percent_rank and cume_dist; aggregation collapses to the stage grid
    "q_window_ntile" ->
      s"""WITH r AS (SELECT lang, n_chars,
         |    ntile(${TextAnalysis.CurriculumStages})
         |      OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS stage,
         |    percent_rank()
         |      OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr,
         |    cume_dist()
         |      OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cd
         |  FROM documents)
         |SELECT lang, stage, count(*) AS docs,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |       round(avg(n_chars), 2) AS avg_chars,
         |       round(max(pr), 4) AS max_pct_rank,
         |       round(max(cd), 4) AS max_cume_dist
         |FROM r GROUP BY lang, stage ORDER BY lang, stage""".stripMargin,

    // Church–Hanks PMI with a frequency floor; every factor an
    // integer-valued double, assembled in the same literal shape as the
    // Spark expression so ln sees identical arguments
    "q_text_collocations" ->
      s"""WITH tok AS (SELECT $DuckTok AS toks FROM documents),
         |tot AS (SELECT sum(len(toks))::DOUBLE AS n_tok,
         |               sum(greatest(len(toks) - 1, 0))::DOUBLE AS n_big
         |        FROM tok),
         |uni AS (SELECT unnest(toks) AS word FROM tok),
         |u AS (SELECT word, count(*)::BIGINT AS n_w FROM uni GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
         |       FROM tok WHERE len(toks) >= 2),
         |p AS (SELECT bigram, count(*)::BIGINT AS n_ab FROM bg GROUP BY 1
         |      HAVING count(*) >= ${TextAnalysis.CollocMinCount}),
         |s AS (SELECT p.bigram, p.n_ab, ua.n_w AS n_a, ub.n_w AS n_b
         |      FROM p JOIN u ua ON split_part(p.bigram, ' ', 1) = ua.word
         |             JOIN u ub ON split_part(p.bigram, ' ', 2) = ub.word)
         |SELECT bigram, n_ab, n_a, n_b,
         |       round(ln(n_ab::DOUBLE * t.n_tok * t.n_tok /
         |                (t.n_big * n_a * n_b)), 4) AS pmi
         |FROM s CROSS JOIN tot t
         |ORDER BY pmi DESC, bigram LIMIT ${TextAnalysis.CollocTopK}""".stripMargin,
  )
}
