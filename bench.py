"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
JSON to stdout, in order:

1. one short line per query AS IT FINISHES —
   ``{"q":"q1_pricing_summary","sec":1.1}`` — the driver-parseable
   per-query channel (r16 verdict item 1: the single full-map line
   outgrew the driver's 2000-char stdout tail back in r8, leaving
   PERF per-query-blind);
2. the full map, one compact line (values at 2 decimals) —

    {"metric": "headline_total_wall", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

3. as the FINAL line, a <200-char summary with the same metric/value
   fields plus ``calib_sec`` (the full 4-decimal map is also written
   beside this script so no artifact truncation can lose the
   per-query numbers: ``BENCH_FULL.json`` on 32 cores, the core count
   of the committed stamps, else ``BENCH_FULL_c<N>.json`` — see
   :func:`full_artifact_name`).

``calib_sec`` is an UNTIMED fixed-work single-thread host-speed probe
(Python + JVM legs, ~2 s nominal, run before and after the timed
region and stamped into ``BENCH_FULL.json`` as ``calib``): dividing
two runs' values band-normalizes their walls, making "the host was
1.3x slower" a measurement instead of an inference (r16 verdict
item 2).

Each query is forced end-to-end with a ``noop``-format write (full
execution of every partition, no driver-side collect). After one
warm-up pass (JVM/codegen startup not attributed to the plan), the
query is timed ``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and the
reported figure is the MEDIAN — this VM's wall times drift up to
~1.6× run-to-run, and a median of 3 suppresses that noise enough for
round-over-round deltas to mean something. The emitted JSON carries
``"timing": "median_of_<N>"`` so readers know the method.

Also emits q9/q11/q16/q20 (the synthetic-partsupp queries) since r6.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


# Headline set: the TPC-H spine + one representative per operator family.
# Extend as new families land (keep this list in sync with SURVEY.md §2).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_priority_lines",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_potential_promotion",
    "q21_waiting_suppliers",
    "q22_inactive_customers",
    "window_ranking",
    "join_asof_backward",
    "dedup_exact_content",
    "dedup_minhash_pairs",
    "text_decontaminate",
    "dedup_connected_clusters",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "mm_decode_features",
    "text_quality_stats",
    "fn_math",
    "sink_partitioned_pruning",
    "stream_tumbling_window",
    # r6 continuation: curation/profiling/layout representatives
    "dedup_semantic_cells",
    "text_pack_sequences",
    "sample_mixture_lang",
    "scd2_intervals",
    "agg_histogram_bins",
    "fn_zorder_values",
    # r6 continuation 3: segment dedup, incremental dedup, binned range join
    "dedup_paragraph_exact",
    "dedup_incremental_batch",
    "join_interval_bucketed",
    "agg_bloom_membership",
    "stream_dedup_index",
    "pipeline_curate_corpus",
    "dedup_minhash_df_capped",
    "stream_rollup_maintenance",
    # r7: newest heavy surfaces — CDC apply, fused lexical+vector
    # retrieval, two-stage PQ search, rolling distinct, cohort
    # retention, BPE pair ranking
    "stream_upsert_snapshot",
    "hybrid_search_rrf",
    "ann_pq_rerank_topk",
    "events_rolling_active_users",
    "events_retention_cohorts",
    "text_bpe_pair_counts",
    # r8: media ingest + decode, row-level mutation, vector dedup,
    # VARIANT paths, correlated LATERAL, custom connector
    "mm_ppm_decode_stats",
    "src_binaryfile_scan",
    "catalog_delete_update",
    "dedup_embedding_clusters",
    "fn_variant_json",
    "sql_lateral_topn",
    "src_python_datasource",
    # r8 new surfaces: partition-scoped mutation, trigram LM gate,
    # integer-exact PageRank
    "catalog_delete_partition_scoped",
    "text_trigram_lm_score",
    "graph_pagerank_fixed",
    "mm_wav_decode_stats",
    # r9: fact-scale bucketed RANGE frame, stdlib Avro connector
    "window_range_frame_bucketed",
    "src_avro_roundtrip",
    # r9 continuation: degree-ordered triangles, exact-substring spans,
    # hashed quality classifier, ordered funnel
    "graph_triangle_count",
    "dedup_duplicate_spans",
    "text_hash_classifier",
    "events_funnel_conversion",
    "ann_prefix_rerank_topk",
    "text_vocab_stats",
    "join_asof_nearest",
    "mm_phash_neardup",
    "mm_phash_neardup_64",
    "graph_link_prediction",
    "search_bm25_topk",
    "agg_bitmap_distinct_rollup",
    "ts_gap_fill_interpolate",
    "agg_ab_ttest",
    "agg_unpivot_melt",
    "stream_bitmap_distinct",
    "catalog_rls_view",
    "fn_try_safe",
    "sample_balanced_classes",
    "events_funnel_latency",
    "sink_python_datasource",
    "events_rfm_segments",
    "part_revenue_abc",
    "agg_winsorized_stats",
    "dq_volume_freshness",
    "agg_gini_concentration",
    "emb_centroid_drift",
    # r11: tokenizer APPLICATION (the encode half of the BPE loop),
    # embedding-norm outlier gate, deadline funnel, last-touch
    # attribution
    "text_bpe_apply",
    "emb_norm_outliers",
    "events_funnel_windowed",
    "events_attribution_lastclick",
    # r11 second batch: leakage-guarded split, weighted median,
    # 3-step journey mining
    "split_leakage_guard",
    "agg_weighted_median",
    "events_path_3gram",
    # r12: z-layout file-skipping read proof, corpus mixture drift gate
    "zorder_skipping_read",
    "text_snapshot_drift",
    # r13: versioned-table CDC audit diff
    "catalog_snapshot_diff",
    # r14: bloom point-lookup skipping + index-health gate, curation
    # audit ledger, streaming z-layout maintainer
    "bloom_skipping_read",
    "dq_bloom_fill_audit",
    "curate_rejection_ledger",
    "stream_zorder_maintenance",
]


def _force(df) -> None:
    """Execute the full plan on every partition without collecting."""
    df.write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> dict:
    """Fixed-work, single-thread calibration probe (UNTIMED — never
    part of the headline value). Measures how fast THIS host runs a
    deterministic CPU-bound loop in Python and in the JVM, so that
    cross-run wall-clock comparisons can be band-normalized
    mechanically (r16 verdict: a 22% headline swing on untouched code
    was adjudicated as host band from circumstantial evidence only —
    the 1-min loadavg stamp cannot see VM steal or frequency). The
    workload is fixed and input-independent, so the ratio of two
    runs' ``calib_sec`` IS the host-speed ratio."""
    # Python leg: ~1 s nominal of pure-Python integer work.
    t0 = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc = (acc * 1103515245 + i) & 0x7FFFFFFF
    py_sec = time.perf_counter() - t0
    # JVM leg: ~1 s nominal, ONE partition so exactly one core runs it.
    # bit_xor, not sum: summing uniform 64-bit hashes overflows a long
    # under ANSI mode; xor is overflow-free and equally cheap next to
    # the per-row hashing that IS the workload. One untimed small pass
    # first so codegen/JIT of this exact expression is not charged to
    # the probe (measured: cold 0.88 s vs hot 0.25 s for the same
    # work — JIT noise would swamp the band signal).
    def _jvm_leg(n: int):
        return (
            spark.range(0, n, 1, 1)
            .selectExpr("bit_xor(xxhash64(id)) as h")
            .collect()
        )

    _jvm_leg(5_000_000)  # untimed JIT warm-up
    t0 = time.perf_counter()
    _jvm_leg(200_000_000)
    jvm_sec = time.perf_counter() - t0
    return {
        "py_sec": round(py_sec, 4),
        "jvm_sec": round(jvm_sec, 4),
        "acc": acc,  # deterministic checksum: 0 work = visible lie
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # Host-band audit fields (r11 verdict): this VM's wall times swing
    # up to ~1.6× with host contention, and the diagnosis ("uniform
    # per-query inflation = host band, not plan regression") was only
    # recorded in prose. Stamp the 1-min load average at start AND end
    # of the run so a slow stamp is mechanically attributable.
    started_utc = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    load_start = round(os.getloadavg()[0], 2)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from nineinfra_spark.engine import Engine

    engine = Engine().open()
    spark = engine.spark

    from nineinfra_spark.plans import registry

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    available = set(registry.names())

    # Untimed corpus warm-up: read the big tables end-to-end once so a
    # cold OS page cache is paid here, never inside a timed sample —
    # without this, a one-off cache miss on lineitem can masquerade as
    # a 5× per-query regression (BENCH_r07's q6 reading).
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            _force(spark.read.parquet(path))

    # Untimed host-speed probe (after the JVM is warm, before any
    # timed sample): see _calibrate. Run once more at the end so a
    # mid-run band shift is visible too.
    calib_start = _calibrate(spark)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in available:
            continue
        fn = registry.get(name).fn
        _force(fn(spark, sf_dir))  # warm-up: JVM JIT, codegen, file listing
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)
        # Per-query channel the driver can parse from a bounded stdout
        # tail (r16 verdict item 1: the full map outgrew the 2000-char
        # tail in r8 and the driver has been per-query-blind since).
        # One short line per query, streamed as results land.
        print(
            json.dumps({"q": name, "sec": timings[name]}, separators=(",", ":")),
            flush=True,
        )

    calib_end = _calibrate(spark)

    result = {
        "metric": "headline_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "timing": f"median_of_{n_runs}",
        "queries": timings,
        "sf": sf,
        "started_utc": started_utc,
        "host_load_1m": {
            "start": load_start,
            "end": round(os.getloadavg()[0], 2),
        },
        "calib": {"start": calib_start, "end": calib_end},
    }
    # Full per-query map: one compact JSON line for humans + a file
    # copy (the driver's artifact keeps only a bounded tail of stdout,
    # and the full line outgrew it in r8 — BENCH_r08 parsed:null; the
    # per-query lines streamed above are the driver's channel).
    compact = dict(result)
    compact["queries"] = {k: round(v, 2) for k, v in timings.items()}
    print(json.dumps(compact, separators=(",", ":")), flush=True)
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), full_artifact_name()
        )
        with open(full_path, "w") as f:
            json.dump(result, f, indent=1)
    except OSError:
        pass
    # LAST line is a short (<200 char) summary guaranteed to fit in
    # any tail window the driver keeps: same metric/value contract,
    # full map referenced by file.
    summary = {
        "metric": "headline_total_wall",
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "timing": result["timing"],
        # host-speed stamp (see _calibrate): py+jvm single-thread
        # seconds at run start — divide two runs' values to band-
        # normalize their walls
        "calib_sec": round(
            calib_start["py_sec"] + calib_start["jvm_sec"], 3
        ),
        "full": full_artifact_name(),
    }
    print(json.dumps(summary), flush=True)
    engine.close()
    return 0


def full_artifact_name() -> str:
    """File name of the full per-query map, keyed by the core count
    the engine runs on (``$SPARK_GRAFT_CPUS``, else the host's), so a
    run on another core count never overwrites the 32-core map."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    return "BENCH_FULL.json" if cpus == "32" else f"BENCH_FULL_c{cpus}.json"


if __name__ == "__main__":
    sys.exit(main())
