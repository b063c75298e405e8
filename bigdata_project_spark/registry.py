"""Query registry: the single source of truth behind ``__spark_entry__``.

Each plans/operators module contributes named queries (PySpark builders)
and their DuckDB oracle SQL. The driver cross-checks every pair at sf=0.01
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- doubles are rounded with identical per-row arithmetic (same op order →
  identical IEEE results → identical rounding);
- aggregate sums go through DECIMAL so Spark's partition-parallel
  summation and DuckDB's sequential one are both exact;
- timestamps are emitted as formatted strings, session TZ pinned to UTC.

The pairs live in one table, kept in name order: name → (builder, oracle).
An oracle is either SQL or an :data:`OracleBuilder` for SQL that embeds
fixture-derived literals (the BPE merge table, the PCA weights). Builders
run DuckDB, so only :func:`oracles` calls them, never :func:`queries`.
The order in which the correctness check takes the names is chosen by
``__spark_entry__.queries()``, not here.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
# sf_dir → oracle SQL for that fixture (None: DRIVER_CHECK_SF_DIR), or
# None when the fixture cannot yield one.
OracleBuilder = Callable[["str | None"], "str | None"]

# The driver cross-checks queries vs oracles at exactly this fixture;
# fixture-pinned oracle builders target it by default.
DRIVER_CHECK_SF_DIR = "/root/testdata/sf0.01"


@cache
def _table() -> dict[str, tuple[QueryFn, str | OracleBuilder]]:
    """Built on first use: ``operators.bpe`` imports DRIVER_CHECK_SF_DIR
    from this module at import time, so importing the query modules at
    module level would be an import cycle."""
    from bigdata_project_spark.multimodal import binary_ops
    from bigdata_project_spark.operators import (
        bloom,
        bpe,
        bucketing,
        cdc,
        chunking,
        corpus_quality,
        dedup_cluster,
        embedding_stats,
        funnel,
        graph,
        ivf,
        layout_scan,
        ordering,
        packing,
        pca,
        pq,
        profiling,
        semdedup,
        similarity,
        sketches,
        skew,
        spatial_join,
        stats,
        text_analysis,
        text_dedup,
        text_signals,
        timeseries,
        zorder,
    )
    from bigdata_project_spark.plans import (
        analytics,
        asof_range,
        bronze_merge,
        clean_corpus,
        event_windows,
        gold,
        holidays_json,
        incremental,
        silver_distances,
        silver_ine,
        silver_od,
        silver_people_day,
        starjoins,
        starjoins2,
    )
    from bigdata_project_spark.streaming import stateful, windows

    return {
        "agg_approx_distinct": (analytics.query_approx_distinct, analytics.ORACLE_APPROX_DISTINCT),
        "agg_approx_quantiles": (analytics.query_approx_quantiles, analytics.ORACLE_APPROX_QUANTILES),
        "agg_best_supplier": (starjoins2.query_best_supplier, starjoins2.ORACLE_BEST_SUPPLIER),
        "agg_bracket_revenue": (starjoins.query_bracket_revenue, starjoins.ORACLE_BRACKET_REVENUE),
        "agg_cube_summary": (analytics.query_cube_summary, analytics.ORACLE_CUBE_SUMMARY),
        "agg_customer_distribution": (starjoins2.query_customer_distribution, starjoins2.ORACLE_CUSTOMER_DISTRIBUTION),
        "agg_distinct_counts": (analytics.query_distinct_counts, analytics.ORACLE_DISTINCT_COUNTS),
        "agg_dominant_suppliers": (starjoins2.query_dominant_suppliers, starjoins2.ORACLE_DOMINANT_SUPPLIERS),
        "agg_dormant_customers": (starjoins2.query_dormant_customers, starjoins2.ORACLE_DORMANT_CUSTOMERS),
        "agg_forecast_revenue": (starjoins2.query_forecast_revenue, starjoins2.ORACLE_FORECAST_REVENUE),
        "agg_grouping_sets": (analytics.query_grouping_sets, analytics.ORACLE_GROUPING_SETS),
        "agg_large_orders": (starjoins.query_large_orders, starjoins.ORACLE_LARGE_ORDERS),
        "agg_late_by_class": (starjoins2.query_late_by_class, starjoins2.ORACLE_LATE_BY_CLASS),
        "agg_market_share": (starjoins.query_market_share, starjoins.ORACLE_MARKET_SHARE),
        "agg_nation_profit": (starjoins2.query_nation_profit, starjoins2.ORACLE_NATION_PROFIT),
        "agg_order_priority": (starjoins.query_order_priority, starjoins.ORACLE_ORDER_PRIORITY),
        "agg_percentiles": (asof_range.query_percentiles_by_type, asof_range.ORACLE_PERCENTILES),
        "agg_pivot_status": (analytics.query_pivot_status, analytics.ORACLE_PIVOT_STATUS),
        "agg_pricing_summary": (analytics.query_pricing_summary, analytics.ORACLE_PRICING_SUMMARY),
        "agg_promo_revenue": (starjoins.query_promo_revenue, starjoins.ORACLE_PROMO_REVENUE),
        "agg_region_revenue": (starjoins.query_region_revenue, starjoins.ORACLE_REGION_REVENUE),
        "agg_retention_cohort": (funnel.query_retention_cohort, funnel.ORACLE_RETENTION_COHORT),
        "agg_returned_items": (starjoins.query_returned_items, starjoins.ORACLE_RETURNED_ITEMS),
        "agg_rollup_summary": (analytics.query_rollup_summary, analytics.ORACLE_ROLLUP_SUMMARY),
        "agg_shipping_priority": (starjoins.query_shipping_priority, starjoins.ORACLE_SHIPPING_PRIORITY),
        "agg_small_qty_revenue": (starjoins2.query_small_quantity_revenue, starjoins2.ORACLE_SMALL_QUANTITY_REVENUE),
        "agg_supplier_part_counts": (starjoins2.query_supplier_part_counts, starjoins2.ORACLE_SUPPLIER_PART_COUNTS),
        "agg_top_customers": (analytics.query_top_customers, analytics.ORACLE_TOP_CUSTOMERS),
        "agg_top_supplier": (starjoins2.query_top_supplier, starjoins2.ORACLE_TOP_SUPPLIER),
        "agg_unpivot_measures": (analytics.query_unpivot_measures, analytics.ORACLE_UNPIVOT_MEASURES),
        "agg_volume_shipping": (starjoins.query_volume_shipping, starjoins.ORACLE_VOLUME_SHIPPING),
        "agg_waiting_suppliers": (starjoins2.query_waiting_suppliers, starjoins2.ORACLE_WAITING_SUPPLIERS),
        "bronze_holidays_json": (holidays_json.query, holidays_json.ORACLE),
        "bronze_incremental_batches": (incremental.query_bronze_incremental_batches, incremental.ORACLE_BRONZE_INCREMENTAL),
        "bronze_merge_all_columns": (bronze_merge.query_merge_all_columns, bronze_merge.ORACLE_MERGE_ALL),
        "bronze_merge_keyed": (bronze_merge.query_merge_keyed, bronze_merge.ORACLE_MERGE_KEYED),
        "cdc_snapshot_diff": (cdc.query_cdc_snapshot_diff, cdc.ORACLE_CDC_SNAPSHOT_DIFF),
        "cogroup_activity": (analytics.query_cogroup_activity, analytics.ORACLE_COGROUP_ACTIVITY),
        "dedup_cluster_cc": (dedup_cluster.query_dedup_cluster_cc, dedup_cluster.ORACLE_DEDUP_CLUSTER_CC),
        "dedup_embedding_cosine": (similarity.query_dedup_embedding, similarity.ORACLE_DEDUP_EMBEDDING),
        "dedup_exact": (text_dedup.query_dedup_exact, text_dedup.ORACLE_DEDUP_EXACT),
        "dedup_fuzzy_lev": (text_dedup.query_dedup_fuzzy_lev, text_dedup.ORACLE_DEDUP_FUZZY_LEV),
        "dedup_incremental_lsh": (text_dedup.query_dedup_incremental_lsh, text_dedup.ORACLE_DEDUP_INCREMENTAL_LSH),
        "dedup_minhash_lsh": (text_dedup.query_dedup_minhash_lsh, text_dedup.ORACLE_DEDUP_MINHASH_LSH),
        "dedup_minhash_recall": (text_dedup.query_dedup_minhash_recall, text_dedup.ORACLE_DEDUP_MINHASH_RECALL),
        "dedup_ngram_jaccard": (text_dedup.query_dedup_ngram_jaccard, text_dedup.ORACLE_DEDUP_NGRAM_JACCARD),
        "dedup_paragraph": (text_dedup.query_dedup_paragraph, text_dedup.ORACLE_DEDUP_PARAGRAPH),
        "dedup_semantic": (semdedup.query_dedup_semantic, semdedup.ORACLE_DEDUP_SEMANTIC),
        "dedup_simhash": (text_dedup.query_dedup_simhash, text_dedup.ORACLE_DEDUP_SIMHASH),
        "dedup_simhash_pairs": (text_dedup.query_dedup_simhash_pairs, text_dedup.ORACLE_DEDUP_SIMHASH_PAIRS),
        "dedup_span_removal": (text_dedup.query_dedup_span_removal, text_dedup.ORACLE_DEDUP_SPAN_REMOVAL),
        "dedup_url_canonical": (text_signals.query_dedup_url_canonical, text_signals.ORACLE_DEDUP_URL_CANONICAL),
        "emb_gram_blas": (graph.query_emb_gram_blas, graph.ORACLE_EMB_GRAM_BLAS),
        "emb_int8_quantize": (embedding_stats.query_emb_int8_quantize, embedding_stats.ORACLE_EMB_INT8_QUANTIZE),
        "emb_label_centroids": (embedding_stats.query_emb_label_centroids, embedding_stats.ORACLE_EMB_LABEL_CENTROIDS),
        "emb_pca_project": (pca.query_emb_pca_project, pca.oracle_emb_pca_sql),
        "events_anomaly_zscore": (timeseries.query_events_anomaly_zscore, timeseries.ORACLE_EVENTS_ANOMALY_ZSCORE),
        "events_dau_wau": (funnel.query_events_dau_wau, funnel.ORACLE_EVENTS_DAU_WAU),
        "events_funnel": (funnel.query_events_funnel, funnel.ORACLE_EVENTS_FUNNEL),
        "events_json_props": (analytics.query_json_props, analytics.ORACLE_JSON_PROPS),
        "events_sessionize": (event_windows.query_sessionize, event_windows.ORACLE_SESSIONIZE),
        "events_sliding_10m_5m": (event_windows.query_sliding_10m_5m, event_windows.ORACLE_SLIDING_10M_5M),
        "events_time_rollup": (event_windows.query_time_rollup, event_windows.ORACLE_TIME_ROLLUP),
        "events_transitions": (funnel.query_events_transitions, funnel.ORACLE_EVENTS_TRANSITIONS),
        "events_tumbling_1h": (event_windows.query_tumbling_1h, event_windows.ORACLE_TUMBLING_1H),
        "events_variant_props": (analytics.query_variant_props, analytics.ORACLE_VARIANT_PROPS),
        "feature_binning": (profiling.query_feature_binning, profiling.ORACLE_FEATURE_BINNING),
        "feature_binning_equidepth": (profiling.query_feature_binning_equidepth, profiling.ORACLE_FEATURE_BINNING_EQUIDEPTH),
        "feature_corr_matrix": (stats.query_feature_corr_matrix, stats.ORACLE_FEATURE_CORR_MATRIX),
        "gold_income_mobility": (gold.query_gold_income_mobility, gold.ORACLE_GOLD_INCOME_MOBILITY),
        "gold_od_daily": (gold.query_gold_od_daily, gold.ORACLE_GOLD_OD_DAILY),
        "gold_overnights_seasonality": (gold.query_gold_overnights_seasonality, gold.ORACLE_GOLD_OVERNIGHTS_SEASONALITY),
        "graph_bfs_distance": (graph.query_graph_bfs_distance, graph.ORACLE_GRAPH_BFS_DISTANCE),
        "graph_pagerank": (graph.query_graph_pagerank, graph.ORACLE_GRAPH_PAGERANK),
        "graph_triangles": (graph.query_graph_triangles, graph.ORACLE_GRAPH_TRIANGLES),
        "join_asof": (asof_range.query_asof_click_before_purchase, asof_range.ORACLE_ASOF),
        "join_asof_forward": (asof_range.query_asof_next_purchase, asof_range.ORACLE_ASOF_FORWARD),
        "join_bloom_prefilter": (bloom.query_join_bloom_prefilter, bloom.ORACLE_JOIN_BLOOM_PREFILTER),
        "join_interval_clicks": (event_windows.query_interval_join_clicks, event_windows.ORACLE_INTERVAL_JOIN_CLICKS),
        "join_range_bands": (asof_range.query_range_join_value_bands, asof_range.ORACLE_RANGE_JOIN),
        "join_semi_anti": (analytics.query_semi_anti_join, analytics.ORACLE_SEMI_ANTI_JOIN),
        "layout_bucketed_join": (bucketing.query_bucketed_join_revenue, bucketing.ORACLE_BUCKETED_JOIN),
        "layout_partition_pruning": (layout_scan.query_layout_partition_pruning, layout_scan.ORACLE_LAYOUT_PARTITION_PRUNING),
        "layout_zorder_extents": (zorder.query_zorder_extents, zorder.ORACLE_ZORDER_EXTENTS),
        "ml_group_ols": (stats.query_ml_group_ols, stats.ORACLE_ML_GROUP_OLS),
        "multimodal_binary_meta": (binary_ops.query_binary_meta, binary_ops.ORACLE_BINARY_META),
        "multimodal_dedup_binary": (binary_ops.query_multimodal_dedup_binary, binary_ops.ORACLE_MULTIMODAL_DEDUP_BINARY),
        "multimodal_features": (binary_ops.query_features, binary_ops.ORACLE_FEATURES),
        "multimodal_frame_sample": (binary_ops.query_frame_sample, binary_ops.ORACLE_FRAME_SAMPLE),
        "pipeline_chunk_docs": (chunking.query_pipeline_chunk_docs, chunking.ORACLE_PIPELINE_CHUNK_DOCS),
        "pipeline_clean_corpus": (clean_corpus.query_clean_corpus, clean_corpus.ORACLE_CLEAN_CORPUS),
        "pipeline_dedup_canonical": (dedup_cluster.query_dedup_canonical, dedup_cluster.ORACLE_DEDUP_CANONICAL),
        "pipeline_domain_mixture": (packing.query_domain_mixture, packing.ORACLE_DOMAIN_MIXTURE),
        "pipeline_domain_reweight": (packing.query_domain_reweight, packing.ORACLE_DOMAIN_REWEIGHT),
        "pipeline_global_shuffle": (ordering.query_global_shuffle, ordering.ORACLE_GLOBAL_SHUFFLE),
        "pipeline_mixture_temperature": (packing.query_mixture_temperature, packing.ORACLE_MIXTURE_TEMPERATURE),
        "pipeline_pack_masked": (packing.query_pack_sequences_masked, packing.ORACLE_PACK_SEQUENCES_MASKED),
        "pipeline_pack_sequences": (packing.query_pack_sequences, packing.ORACLE_PACK_SEQUENCES),
        "pipeline_quality_funnel": (corpus_quality.query_pipeline_quality_funnel, corpus_quality.ORACLE_PIPELINE_QUALITY_FUNNEL),
        "pipeline_sample_stratified": (text_signals.query_sample_stratified, text_signals.ORACLE_SAMPLE_STRATIFIED),
        "pipeline_shard_manifest": (packing.query_shard_manifest, packing.ORACLE_SHARD_MANIFEST),
        "pipeline_train_val_split": (clean_corpus.query_train_val_split, clean_corpus.ORACLE_TRAIN_VAL_SPLIT),
        "profile_columns": (profiling.query_profile_columns, profiling.ORACLE_PROFILE_COLUMNS),
        "scd2_event_type": (profiling.query_scd2_event_type, profiling.ORACLE_SCD2_EVENT_TYPE),
        "set_ops": (analytics.query_set_ops, analytics.ORACLE_SET_OPS),
        "silver_distances": (silver_distances.query_distances, silver_distances.ORACLE_DISTANCES),
        "silver_ine_empresas": (silver_ine.query_ine_empresas, silver_ine.ORACLE_INE_EMPRESAS),
        "silver_ine_poblacion": (silver_ine.query_ine_poblacion, silver_ine.ORACLE_INE_POBLACION),
        "silver_ine_renta": (silver_ine.query_ine_renta, silver_ine.ORACLE_INE_RENTA),
        "silver_od": (silver_od.query, silver_od.ORACLE),
        "silver_overnights": (silver_people_day.query_overnights, silver_people_day.ORACLE_OVERNIGHTS),
        "silver_people_day": (silver_people_day.query, silver_people_day.ORACLE),
        "silver_zones": (silver_distances.query_zones, silver_distances.ORACLE_ZONES),
        "silver_zones_geom": (silver_distances.query_zones_geom, silver_distances.ORACLE_ZONES_WKT),
        "silver_zones_wkt": (silver_distances.query_zones_wkt, silver_distances.ORACLE_ZONES_WKT),
        "sim_ann_lsh_buckets": (similarity.query_ann_lsh_buckets, similarity.ORACLE_ANN_LSH),
        "sim_ann_recall_at_k": (ivf.query_ann_recall_at_k, ivf.ORACLE_ANN_RECALL_AT_K),
        "sim_cosine_topk": (similarity.query_cosine_topk, similarity.ORACLE_COSINE_TOPK),
        "sim_ivf_kmeans_topk": (ivf.query_ivf_kmeans_topk, ivf.ORACLE_IVF_KMEANS_TOPK),
        "sim_ivfpq_topk": (pq.query_ivfpq_topk, pq.ORACLE_IVFPQ_TOPK),
        "sim_knn_join": (similarity.query_sim_knn_join, similarity.ORACLE_SIM_KNN_JOIN),
        "sim_neardup_pairs": (similarity.query_neardup_pairs, similarity.ORACLE_NEARDUP_PAIRS),
        "sim_pq_adc_topk": (pq.query_pq_adc_topk, pq.ORACLE_PQ_ADC_TOPK),
        "sketch_cms_topk": (sketches.query_cms_heavy_hitters, sketches.ORACLE_CMS_HEAVY_HITTERS),
        "sketch_hll_rollup": (sketches.query_sketch_hll_rollup, sketches.ORACLE_SKETCH_HLL_ROLLUP),
        "skew_salted_agg": (skew.query_skew_salted_agg, skew.ORACLE_SKEW_SALTED_AGG),
        "skew_salted_join": (skew.query_skew_salted_join, skew.ORACLE_SKEW_SALTED_JOIN),
        "source_orc_roundtrip": (layout_scan.query_source_orc_roundtrip, layout_scan.ORACLE_SOURCE_ORC_ROUNDTRIP),
        "source_text_logs": (layout_scan.query_source_text_logs, layout_scan.ORACLE_SOURCE_TEXT_LOGS),
        "spatial_point_in_zone": (spatial_join.query_point_in_zone, spatial_join.ORACLE_POINT_IN_ZONE),
        "stream_dedup": (windows.query_stream_dedup, windows.ORACLE_STREAM_DEDUP),
        "stream_hll_users": (stateful.query_stream_hll_users, sketches.ORACLE_STREAM_HLL_USERS),
        "stream_interval_join": (windows.query_stream_interval_join, event_windows.ORACLE_INTERVAL_JOIN_CLICKS),
        "stream_sessionize": (windows.query_stream_sessionize, windows.ORACLE_STREAM_SESSIONIZE),
        "stream_static_enrich": (windows.query_stream_static_enrich, windows.ORACLE_STREAM_STATIC_ENRICH),
        "stream_transitions": (stateful.query_stream_transitions, funnel.ORACLE_EVENTS_TRANSITIONS),
        "stream_tumbling": (windows.query_stream_tumbling, event_windows.ORACLE_TUMBLING_1H),
        "stream_upsert_sink": (windows.query_stream_upsert_sink, windows.ORACLE_STREAM_UPSERT),
        "text_bigram_lm": (text_signals.query_text_bigram_lm, text_signals.ORACLE_TEXT_BIGRAM_LM),
        "text_bigram_perplexity": (corpus_quality.query_text_bigram_perplexity, corpus_quality.ORACLE_TEXT_BIGRAM_PERPLEXITY),
        "text_bpe_encode": (bpe.query_bpe_encode, bpe.oracle_bpe_encode_sql),
        "text_bpe_merges": (bpe.query_bpe_merges, bpe.oracle_bpe_merges_sql),
        "text_char_entropy": (corpus_quality.query_text_char_entropy, corpus_quality.ORACLE_TEXT_CHAR_ENTROPY),
        "text_decontaminate": (text_signals.query_text_decontaminate, text_signals.ORACLE_TEXT_DECONTAMINATE),
        "text_dup_spans": (text_dedup.query_text_dup_spans, text_dedup.ORACLE_TEXT_DUP_SPANS),
        "text_dup_spans_lcp": (text_dedup.query_text_dup_spans_lcp, text_dedup.ORACLE_TEXT_DUP_SPANS_LCP),
        "text_fingerprint": (text_analysis.query_fingerprint, text_analysis.ORACLE_FINGERPRINT),
        "text_hashing_features": (text_analysis.query_hashing_features, text_analysis.ORACLE_HASHING_FEATURES),
        "text_inverted_index": (text_analysis.query_text_inverted_index, text_analysis.ORACLE_TEXT_INVERTED_INDEX),
        "text_lang_id": (text_analysis.query_lang_id, text_analysis.ORACLE_LANG_ID),
        "text_ngram_novelty": (text_analysis.query_text_ngram_novelty, text_analysis.ORACLE_TEXT_NGRAM_NOVELTY),
        "text_oov_rate": (corpus_quality.query_text_oov_rate, corpus_quality.ORACLE_TEXT_OOV_RATE),
        "text_pii_redact": (text_signals.query_text_pii_redact, text_signals.ORACLE_TEXT_PII_REDACT),
        "text_quality_linear": (text_analysis.query_text_quality_linear, text_analysis.ORACLE_TEXT_QUALITY_LINEAR),
        "text_quality_score": (text_analysis.query_quality_score, text_analysis.ORACLE_QUALITY_SCORE),
        "text_repetition": (text_signals.query_text_repetition, text_signals.ORACLE_TEXT_REPETITION),
        "text_source_overlap": (text_signals.query_text_source_overlap, text_signals.ORACLE_TEXT_SOURCE_OVERLAP),
        "text_tfidf": (text_analysis.query_tfidf, text_analysis.ORACLE_TFIDF),
        "text_token_stats": (text_analysis.query_token_stats, text_analysis.ORACLE_TOKEN_STATS),
        "text_url_domains": (text_signals.query_text_url_domains, text_signals.ORACLE_TEXT_URL_DOMAINS),
        "text_vocab_topk": (text_analysis.query_vocab_topk, text_analysis.ORACLE_VOCAB_TOPK),
        "ts_ewma_hourly": (timeseries.query_ts_ewma_hourly, timeseries.ORACLE_TS_EWMA_HOURLY),
        "ts_gapfill_ffill": (timeseries.query_ts_gapfill_ffill, timeseries.ORACLE_TS_GAPFILL_FFILL),
        "ts_ohlc_hourly": (timeseries.query_ts_ohlc_hourly, timeseries.ORACLE_TS_OHLC_HOURLY),
        "win_lead_lag": (analytics.query_lead_lag_delta, analytics.ORACLE_LEAD_LAG),
        "win_range_7d": (event_windows.query_win_range_7d, event_windows.ORACLE_WIN_RANGE_7D),
        "win_rank_family": (analytics.query_rank_family, analytics.ORACLE_RANK_FAMILY),
        "win_running_total": (analytics.query_running_total, analytics.ORACLE_RUNNING_TOTAL),
        "win_topk_per_group": (analytics.query_topk_per_group, analytics.ORACLE_TOPK_PER_GROUP),
    }


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _table().items()}


def oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Oracle SQL per query. With ``sf_dir``, fixture-pinned oracles are
    built for that directory, falling back to DRIVER_CHECK_SF_DIR when
    the builder yields nothing there; without it (the ``__spark_entry__``
    call path) every string targets DRIVER_CHECK_SF_DIR. A name whose
    builder yields nothing for either fixture has no oracle."""
    out: dict[str, str] = {}
    for name, (_, oracle) in _table().items():
        sql = oracle
        if callable(oracle):
            sql = oracle(sf_dir) if sf_dir is not None else None
            if sql is None:
                sql = oracle(None)
        if sql is not None:
            out[name] = sql
    return out
