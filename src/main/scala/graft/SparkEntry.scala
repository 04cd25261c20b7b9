package graft

import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in CoreQueries (engine operators O1–O11) and TextVecQueries
  * (training-data ops over documents/embeddings); each has a DuckDB oracle
  * unless the op is not SQL-expressible (then the driver records a
  * rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.backfillFlagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_rolling_time"   -> (CoreQueries.rollingTime _),
    "q02_rolling_strict" -> (CoreQueries.rollingStrict _),
    "q03_rolling_rows"   -> (CoreQueries.rollingRows _),
    "q04_nunique"        -> (CoreQueries.rollingNunique _),
    "q05_lag_ffill"      -> (CoreQueries.lagFfill _),
    "q06_asof"           -> (CoreQueries.asofBackward _),
    "q07_asof_strict_tol"-> (CoreQueries.asofStrictTol _),
    "q08_asof_merge"     -> (CoreQueries.asofMerge _),
    "q09_sessionize"     -> (CoreQueries.sessionizeRows _),
    "q10_session_agg"    -> (CoreQueries.sessionAgg _),
    "q11_backfill"       -> (CoreQueries.backfillFlagship _),
    "q12_salted_agg"     -> (CoreQueries.saltedAgg _),
    "q13_topk"           -> (CoreQueries.topkPerGroup _),
    "q14_join_agg"       -> (CoreQueries.joinAgg _),
    "q15_json"           -> (CoreQueries.jsonAgg _),
    "q16_text_stats"     -> (TextVecQueries.textStats _),
    "q17_dedup_exact"    -> (TextVecQueries.dedupExact _),
    "q18_ngram_jaccard"  -> (TextVecQueries.ngramJaccard _),
    "q19_minhash_lsh"    -> (TextVecQueries.minhashLsh _),
    "q20_simhash"        -> (TextVecQueries.simhashPairs _),
    "q21_ann_cosine"     -> (TextVecQueries.annCosine _),
    "q22_dedup_embed"    -> (TextVecQueries.dedupEmbed _),
    "q23_ann_ivf"        -> (TextVecQueries.annIvf _),
    "q24_media"          -> (TextVecQueries.mediaFeatures _),
    // Name and oracle are frozen (the harness hashes both); runs the merge path.
    "q25_asof_native"    -> (CoreQueries.asofMerge _),
    "q26_chunked_rolling"-> (CoreQueries.chunkedRolling _),
    "q27_lead"           -> (CoreQueries.leadOffsets _),
    "q28_chunked_nunique"-> (CoreQueries.chunkedNunique _),
    "q29_range_join"     -> (CoreQueries.rangeJoinSessions _),
    "q30_anti_join"      -> (CoreQueries.antiJoinNoPurchase _),
    "q31_semi_join"      -> (CoreQueries.semiJoinPurchase _),
    "q32_setops"         -> (CoreQueries.setOps _),
    "q33_lineage_resume" -> (CoreQueries.lineageResume _),
    "q34_rollup"         -> (CoreQueries.rollupAgg _),
    "q35_media_stats"    -> (TextVecQueries.mediaStats _),
    "q36_lineitem_agg"   -> (CoreQueries.lineitemPricing _),
    "q37_part_supp_rev"  -> (CoreQueries.partSupplierRevenue _),
    "q38_supp_by_region" -> (CoreQueries.supplierByRegion _),
    "q39_train_test"     -> (CoreQueries.trainTestSplit _),
    "q40_cube"           -> (CoreQueries.cubeAgg _),
    "q41_streaming_rolling" -> (SourceStreamQueries.streamingRolling _),
    "q42_approx_nunique"    -> (CoreQueries.approxNunique _),
    "q43_csv_json"          -> (SourceStreamQueries.csvJsonSource _),
    "q44_feature_profile"   -> (FeatureStatsQueries.featureProfile _),
    "q45_drift_iv"          -> (FeatureStatsQueries.driftReport _),
    "q46_streaming_sessions"-> (SourceStreamQueries.streamingSessions _),
    "q47_feature_iv"        -> (FeatureStatsQueries.featureIv _),
    "q48_outlier_bounds"    -> (FeatureStatsQueries.outlierReport _),
    "q49_asof_drift"        -> (FeatureStatsQueries.asofDrift _),
    "q50_media_decode"      -> (TextVecQueries.mediaDecode _),
    "q51_outlier_approx"    -> (FeatureStatsQueries.outlierApprox _),
    "q52_corpus_curate"     -> (TextVecQueries.corpusCurate _),
    "q53_corpus_mix"        -> (TextVecQueries.corpusMix _),
    "q54_seq_pack"          -> (TextVecQueries.seqPack _),
    "q55_decontam"          -> (TextVecQueries.decontam _),
    "q56_repetition"        -> (TextVecQueries.repetition _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_rolling_time"   -> CoreQueries.rollingTimeSql,
    "q02_rolling_strict" -> CoreQueries.rollingStrictSql,
    "q03_rolling_rows"   -> CoreQueries.rollingRowsSql,
    "q04_nunique"        -> CoreQueries.rollingNuniqueSql,
    "q05_lag_ffill"      -> CoreQueries.lagFfillSql,
    "q06_asof"           -> CoreQueries.asofBackwardSql,
    "q07_asof_strict_tol"-> CoreQueries.asofStrictTolSql,
    "q08_asof_merge"     -> CoreQueries.asofBackwardSql,
    "q09_sessionize"     -> CoreQueries.sessionizeRowsSql,
    "q10_session_agg"    -> CoreQueries.sessionAggSql,
    "q11_backfill"       -> CoreQueries.backfillFlagshipSql,
    "q12_salted_agg"     -> CoreQueries.saltedAggSql,
    "q13_topk"           -> CoreQueries.topkPerGroupSql,
    "q14_join_agg"       -> CoreQueries.joinAggSql,
    "q15_json"           -> CoreQueries.jsonAggSql,
    "q16_text_stats"     -> TextVecQueries.textStatsSql,
    "q17_dedup_exact"    -> TextVecQueries.dedupExactSql,
    "q18_ngram_jaccard"  -> TextVecQueries.ngramJaccardSql,
    "q19_minhash_lsh"    -> TextVecQueries.minhashLshSql,
    "q20_simhash"        -> TextVecQueries.simhashPairsSql,
    // q23_ann_ivf / q24_media: approximate / stub-decode — not
    // DuckDB-expressible → rows-only checks by design.
    "q21_ann_cosine"     -> TextVecQueries.annCosineSql,
    "q22_dedup_embed"    -> TextVecQueries.dedupEmbedSql,
    "q25_asof_native"    -> CoreQueries.asofBackwardSql,
    // q26/q28: chunking is result-invariant → the plain window SQL is the
    // oracle (q28 reuses q04's count(DISTINCT) OVER shape exactly).
    "q26_chunked_rolling"-> CoreQueries.chunkedRollingSql,
    "q27_lead"           -> CoreQueries.leadOffsetsSql,
    "q28_chunked_nunique"-> CoreQueries.rollingNuniqueSql,
    "q29_range_join"     -> CoreQueries.rangeJoinSessionsSql,
    "q30_anti_join"      -> CoreQueries.antiJoinNoPurchaseSql,
    "q31_semi_join"      -> CoreQueries.semiJoinPurchaseSql,
    "q32_setops"         -> CoreQueries.setOpsSql,
    "q33_lineage_resume" -> CoreQueries.lineageResumeSql,
    "q34_rollup"         -> CoreQueries.rollupAggSql,
    "q35_media_stats"    -> TextVecQueries.mediaStatsSql,
    "q36_lineitem_agg"   -> CoreQueries.lineitemPricingSql,
    "q37_part_supp_rev"  -> CoreQueries.partSupplierRevenueSql,
    "q38_supp_by_region" -> CoreQueries.supplierByRegionSql,
    "q39_train_test"     -> CoreQueries.trainTestSplitSql,
    "q40_cube"           -> CoreQueries.cubeAggSql,
    // q41: the streaming mode's oracle IS the batch window SQL (parity by
    // design); q42 is approximate by design → rows-only.
    // q51: GK sketch (merge-order-dependent) — rows-only with an in-query
    // rank law.
    "q41_streaming_rolling" -> SourceStreamQueries.streamingRollingSql,
    "q43_csv_json"          -> SourceStreamQueries.csvJsonSourceSql,
    "q44_feature_profile"   -> FeatureStatsQueries.featureProfileSql,
    "q45_drift_iv"          -> FeatureStatsQueries.driftReportSql,
    "q46_streaming_sessions"-> SourceStreamQueries.streamingSessionsSql,
    "q47_feature_iv"        -> FeatureStatsQueries.featureIvSql,
    "q48_outlier_bounds"    -> FeatureStatsQueries.outlierReportSql,
    "q49_asof_drift"        -> FeatureStatsQueries.asofDriftSql,
    "q50_media_decode"      -> TextVecQueries.mediaDecodeSql,
    "q52_corpus_curate"     -> TextVecQueries.corpusCurateSql,
    "q53_corpus_mix"        -> TextVecQueries.corpusMixSql,
    "q54_seq_pack"          -> TextVecQueries.seqPackSql,
    "q55_decontam"          -> TextVecQueries.decontamSql,
    "q56_repetition"        -> TextVecQueries.repetitionSql,
  )
}
