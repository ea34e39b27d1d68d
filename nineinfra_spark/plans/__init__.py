"""Query plan library: every SURVEY.md §2 operator as a named query.

Each module registers queries into the shared registry; importing
this package loads them all. ``registry.queries()`` /
``registry.oracles()`` back ``__spark_entry__.py``.
"""

from nineinfra_spark.plans import registry


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from nineinfra_spark.plans import (  # noqa: F401
        aggregates,
        curate,
        dq,
        ext_dedup,
        ext_hybrid,
        ext_multimodal,
        ext_similarity,
        ext_text,
        functions_scalar,
        graph,
        introspect,
        joins,
        setops,
        sortlimit,
        sources_sinks,
        streaming_queries,
        tpch,
        tpch_sql,
        udfs,
        windows,
    )


_load_all()

#: Verification-priority prefix: the driver's CORRECTNESS gate checks
#: a bounded window (exactly 50) of queries in export order, so the
#: queries that most need a fresh driver-green differential row are
#: pinned first — r17 composition (verdict item 3): every query whose
#: PLAN changed in the r17 optimization session first (standing "plan
#: changes take a window slot" rule; `dedup_incremental_batch` joined
#: them when the LSH band joins moved to operators/lsh.py, displacing
#: the last r12-cohort fill row), then the 13 r16 plan-changed
#: queries that carried only builder-side verification, then the
#: staged debt (`agg_cms_heavy_hitters`, `events_rolling_active_users`
#: — displaced in r16 — plus `text_trigram_lm_score`,
#: `catalog_merge_timetravel`), then r12-cohort fill (the oldest
#: artifact stamps, alphabetical). ZERO new registrations: the
#: registry stays at rotation steady state (250 = 5 windows x 50).
#: The 17 r12-stamped rows that did not fit lead the r18 window
#: (enumerated in the trailing comment; derivation pinned by
#: tests/test_window_rotation.py).
_VERIFY_FIRST = [
    # plan-changed in r17 — re-stamp first (standing rule)
    "bloom_skipping_read",
    "dq_bloom_fill_audit",
    "zorder_skipping_read",
    "stream_zorder_maintenance",
    "mm_phash_neardup_64",
    "dedup_minhash_pairs",
    "dedup_minhash_df_capped",
    "agg_weighted_median",
    "dedup_embedding_clusters",
    "dedup_connected_clusters",
    "dedup_incremental_batch",
    # plan-changed in r16, builder-verified only (r16 verdict item 5)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q12_priority_lines",
    "q18_large_volume_customers",
    "fn_math",
    "mm_phash_neardup",
    "mm_wav_decode_stats",
    "ann_lsh_buckets",
    "graph_triangle_count",
    "graph_link_prediction",
    # staged r17 debt (r16 verdict item 3: displaced rows + deferred)
    "agg_cms_heavy_hitters",
    "events_rolling_active_users",
    "text_trigram_lm_score",
    "catalog_merge_timetravel",
    # r12-cohort fill (oldest artifact stamps, alphabetical)
    "agg_histogram_bins",
    "agg_hll_union_rollup",
    "catalog_delete_update",
    "catalog_merge_upsert",
    "catalog_partsupp_bucketed",
    "emb_dim_stats",
    "events_retention_cohorts",
    "fn_explode_outer",
    "fn_url_normalize",
    "fn_variant_json",
    "mm_ppm_decode_stats",
    "pair_contrastive_negatives",
    "q6_forecast_revenue",
    "sample_cap_per_group",
    "sql_lateral_topn",
    "src_binaryfile_scan",
    "src_csv_malformed_modes",
    "src_jdbc_roundtrip",
    "src_parquet_schema_merge",
    "src_python_datasource",
    "stream_dedup_index",
    "stream_dedup_watermark",
    # deferred to r18 (latest stamp r12 — artifact-derived; pinned by
    # tests/test_window_rotation.py):
    # stream_rollup_maintenance
    # stream_session_window
    # stream_stateful_counts
    # stream_static_join
    # stream_stream_join
    # stream_upsert_snapshot
    # text_blocklist_filter
    # text_chunk_windows
    # text_idf_keywords
    # text_snapshot_drift
    # udf_scalar_python
    # window_first_last_nth
    # window_lag_lead
    # window_moving_frame
    # window_range_frame
    # window_ranking
    # window_running_agg
]


registry.set_order(_VERIFY_FIRST)

queries = registry.queries
oracles = registry.oracles

__all__ = ["registry", "queries", "oracles"]
