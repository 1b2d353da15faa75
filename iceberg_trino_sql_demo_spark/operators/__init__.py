"""Operator registry.

Every operator module registers named queries via ``register`` below; the
driver contract (__spark_entry__.py) aggregates ``QUERIES`` and ``ORACLE``.

A query is a ``(spark, sf_dir) -> DataFrame`` callable.  When the operator
is SQL-expressible, the matching entry in ``ORACLE`` is ANSI SQL that DuckDB
runs over the same parquet tables; the driver hash-compares both results
(order-insensitive), so computed columns must be aliased identically on both
sides and floating aggregates must be made deterministic (see
functions.trino.decimal_sum).

Each ``QUERIES`` call builds its plan afresh; nothing carries over from
one registered query to the next.  The frames an operator persists (and
dedup's local checkpoints) are released when the next registered query
starts or when ``release_caches()`` is called (operators/pins.py).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from iceberg_trino_sql_demo_spark.operators import pins

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
#: names excluded from bench.py timing (correctness scenarios that spend
#: their time building scratch tables, not executing the measured query)
NO_BENCH: set[str] = set()


def _scoped(fn: QueryFn) -> QueryFn:
    """The registry entry point: release the previous query's
    intermediates (operators/pins.py), then build this query."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        pins.release()
        return fn(spark, sf_dir)

    return wrapper


def register(
    name: str, oracle: str | None = None, bench: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional DuckDB oracle SQL) to the registry.

    ``QUERIES[name]`` scopes the query's intermediates to its invocation
    (see ``_scoped``); the decorated function itself stays a plain
    builder that operators may call directly without releasing anything.
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = _scoped(fn)
        if oracle is not None:
            ORACLE[name] = oracle
        if not bench:
            NO_BENCH.add(name)
        return fn

    return deco


#: Registry order IS the correctness driver's evaluation order, and the
#: driver samples a fixed-size prefix (50 queries in rounds 1-2) under a
#: time budget.  Names listed here are moved to the FRONT of the registry
#: after all modules load, in this order; everything else keeps its module
#: registration order behind them.
#:
#: Composition (regenerated each round from the CORRECTNESS history —
#: round-13 rebuild): new-this-round queries first, then ALL names
#: ordered by the round each was last driver-sampled, oldest first, so
#: the driver's fixed-size window always re-checks the stalest
#: coverage.  Queries below the window are re-verified every round by
#: the pytest oracle-parity sweep.
_DRIVER_PRIORITY: list[str] = [
    # -- regenerated r13: least-recently-driver-sampled first
    # (from CORRECTNESS_r01..r12; new r13 queries lead)
    "ice_register_iceberg_avro",
    "ice_time_travel",
    "ice_update_row",
    "ice_views_mv",
    "ice_zero_copy_clone",
    "q16_supplier_variety",
    "q20_promotable_suppliers",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "rollup_order_priority",
    "text_bigram_familiarity",
    "training_pack_sequences",
    "trino_dialect_select",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "concat_datefmt",
    "contamination_ngram",
    "cube_returnflag_status",
    "customer_in_list",
    "customer_pipeline",
    "dedup_cdc_chunks",
    "dedup_cdc_scrub",
    "dedup_cluster_components",
    "dedup_embedding_cosine",
    "dedup_embedding_prefiltered",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_shingle_jaccard",
    "dedup_simhash",
    "doc_pack_greedy",
    "events_user_triangles_capped",
    "federation_agg",
    "ice_deletion_vector",
    "ice_merge_branch",
    "interval_cutoff",
    "kmeans_iteration_stats",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_resize",
    "nation_volume",
    "orderdate_range",
    "orders_cumulative_revenue",
    "orders_exists_late_lineitem",
    "part_brand_max_price",
    "pivot_segment_by_region",
    "pricing_summary",
    "q10_returned_items",
    "q12_priority_shipping",
    "q14_promo_revenue_share",
    "q18_large_volume_customer",
    "q19_brand_discounts",
    "q3_unshipped_revenue",
    "sample_hash_bucket",
    "set_ops_customers",
    "text_fingerprint",
    "text_langid",
    "text_perplexity_unigram",
    "text_quality",
    "text_token_bpe",
    "text_token_stats",
    "top_acctbal_desc",
    "vocab_top_terms",
    "ann_knn_join",
    "ann_knn_join_lsh",
    "ann_topk_sq8",
    "basket_part_pairs",
    "dedup_exact_normalized",
    "dedup_incremental_minhash",
    "dedup_span_exact",
    "dedup_span_scrub",
    "events_asof_attribution",
    "events_gap_fill_locf",
    "events_hourly_distinct_users",
    "events_hypertable_rollup",
    "events_ohlc_hourly",
    "events_range_join_1h",
    "events_salted_skew_join",
    "events_sessionization",
    "events_sliding_1h_30m",
    "events_stream_dedup_watermarked",
    "events_stream_ohlc",
    "events_topk_users_per_window",
    "events_trailing_24h",
    "events_tumbling_hourly",
    "events_variant_extract",
    "federation_jdbc_agg",
    "grouping_sets_flag_status",
    "ice_bloom_point_lookup",
    "ice_merge_full_sync",
    "ice_mv_incremental",
    "ice_register_iceberg",
    "ice_rename_column",
    "ice_stream_to_incremental_mv",
    "ice_tags_pinned_read",
    "ice_zorder_optimize",
    "lineitem_measures_unpivot",
    "lineitem_price_quantiles",
    "lineitem_price_quantiles_approx",
    "orders_avg_basket_by_priority",
    "pii_scrub_stats",
    "q11_important_share",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q21_sole_late_supplier",
    "q22_idle_balance_customers",
    "q5_local_supplier_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "source_dsir_weights",
    "source_mixture_sample",
    "ann_filtered_topk",
    "ann_range_search",
    "ann_topk_ivfpq",
    "ann_topk_pq",
    "contamination_bloom_prefilter",
    "customer_balance_quartiles",
    "dedup_cross_source_matrix",
    "dedup_embedding_prefiltered_multiprobe",
    "dedup_keep_list",
    "dedup_minhash_calibration",
    "dedup_ngram_containment",
    "dedup_semantic_clusters",
    "doc_chunk_overlap",
    "embedding_outlier_filter",
    "events_anomaly_zscore",
    "events_ema_per_user",
    "events_funnel_steps",
    "events_retention_cohorts",
    "ice_add_files",
    "ice_branch_diff",
    "ice_cdc_replica_apply",
    "ice_cherrypick",
    "ice_dynamic_overwrite",
    "ice_forget_user",
    "ice_merge_multi_clause",
    "ice_python_datasource",
    "ice_register_iceberg_v3",
    "ice_runtime_filter_join",
    "ice_wap_publish",
    "left_join_shape",
    "multimodal_ahash_near_dup",
    "multimodal_audio_windows",
    "multimodal_payload_dedup",
    "orders_ndv_profile",
    "pii_scrub_text",
    "quality_filter_gopher",
    "source_quality_profile",
    "source_temperature_resample",
    "split_leakage_safe",
    "text_bpe_merge_candidates",
    "text_inverted_index",
    "text_oov_rate",
    "text_quality_classifier",
    "text_repetition_ratio",
    "text_tfidf_top_terms",
    "training_corpus_select",
    "trino_dialect_tier3",
    "trino_dialect_tier4",
    "url_normalize_dedup",
    "window_rank_per_nation",
    "ice_register_iceberg_orc",
    "events_heavy_hitters_cms",
    "events_kmv_set_sketch",
    "events_ndv_hll_sketch",
    "events_pattern_sequence",
    "events_rolling_ndv_sketch",
    "events_stream_chained_agg",
    "events_stream_full_outer",
    "events_stream_left_join",
    "events_stream_ndv_sketch",
    "events_stream_static_enrich",
    "events_user_triangles",
    "dedup_edit_distance",
    "dedup_edit_distance_passjoin",
    "dedup_quality_keeper",
    "dedup_substring_windows",
    "events_pagerank_iter",
    "events_stateful_user_totals",
    "events_stream_dedup",
    "events_stream_interval_join",
    "events_stream_sessionization",
    "events_stream_tumbling",
    "ice_add_column_default",
    "ice_branch_dml",
    "ice_branch_retention",
    "ice_branches_ff",
    "ice_ctas_roundtrip",
    "ice_equality_delete",
    "ice_equality_rewrite",
    "ice_expire_orphans",
    "ice_insert_values",
    "ice_merge_upsert",
    "ice_meta_join",
    "ice_mor_delete",
    "ice_optimize_roundtrip",
    "ice_optimize_where_mtime",
    "ice_partition_evolution",
    "ice_properties_show_create",
    "ice_rename_table",
    "ice_rollback",
    "ice_row_lineage",
    "ice_schema_types",
    "ice_show_stats_minmax",
    "ice_snapshot_operations",
    "ice_sql_pruned_select",
    "ice_sql_roundtrip",
    "ice_stream_cdc_full",
    "ice_stream_cdc_to_replica",
    "ice_stream_table_changes",
    "ice_table_changes",
]


def load_all() -> None:
    """Import every operator module so registration side effects run.

    After import, the registry is reordered: ``_DRIVER_PRIORITY`` names
    first (driver-sample window), remaining modules' registration order
    behind them (cheap/fast modules first, the heavy dedup/ANN block next,
    wall-clock-bound streaming replays last).
    """
    from iceberg_trino_sql_demo_spark.operators import (  # noqa: F401
        multimodal,
        table_format_ops,
        relational,
        text,
        pipeline,
        windows_ops,
        joins_ops,
        similarity,
        dedup,
        streaming_queries,
    )

    front = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    ordered = front + [n for n in QUERIES if n not in set(front)]
    reordered_q = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered_q)
    reordered_o = {n: ORACLE[n] for n in ordered if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(reordered_o)


def release_caches() -> None:
    """Free every operator-held persisted frame and local checkpoint, and
    the scenario source-row cache, NOW.

    A registered query's intermediates otherwise live until the next
    registered query starts; this returns a session that is done with
    that work to an unpinned state.  A result backed by a local
    checkpoint (``dedup_keep_list``) is readable only until the next
    registered query starts or this is called; after that, rebuild it."""
    from iceberg_trino_sql_demo_spark.operators import table_format_ops

    pins.release()
    table_format_ops._SRC_CACHE.clear()
