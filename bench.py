"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: first the full per-query map
{"metric": "per_query_seconds", "queries": {...}, "sf": ...}, then a
compact summary {"metric": "total_query_seconds", "value": N, ...} as
the LAST line — the driver tail-captures ~2000 bytes of stdout, so the
final line must stay small (asserted ≤1900 bytes below).

Each query is executed as a full action (count of the result) under the
registry's plan-cached surface (all_queries — r10). Per query: one
ALWAYS-UNTIMED warm invocation (plan compilation, codegen, JIT, and —
critically — first-touch materialization of any shared persisted
frame the query leans on, see ebike_spark/artifacts.py), then
EBIKE_BENCH_RUNS timed invocations (default 2), reporting the min. The
warm pass is unconditional so the per-query numbers measure the query,
not its position in the window:
r10's artifact showed 3 rows regress >2x with zero code change purely
because a WINDOW_PREFIX reorder moved a shared frame's first-touch cost
onto them (VERDICT-r10 task 1). Queries declared eager (io_*, stream_*
and driver-side loops) stay uncached (side effects must re-run) but
still get the untimed warm pass. Set EBIKE_BENCH_COLD=1 to skip the
warm pass and time truly cold.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ebike_spark.plans.registry import all_queries  # noqa: E402
from ebike_spark.session import get_spark  # noqa: E402

# Headline set: the relational core + the heavier pipeline operators.
BENCH_QUERIES = [
    "q01_scan_filter_topk",
    "q02_group_agg",
    "q03_join_agg",
    "q04_left_join_agg",
    "q05_join_chain",
    "q06_selective_sum",
    "q07_count_distinct",
    "q09_window_rank",
    "q11_cte_having",
    "q13_stat_aggs",
    "ev_tumbling_window",
    "ev_sessionize",
    "ev_asof_join",
    "ev_funnel",
    "ev_funnel_sliding",
    "ev_retention",
    "dedup_exact",
    "dedup_prefix_hash",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_quality",
    "text_char_diversity",
    "text_fingerprint",
    "mm_feature_extract",
    "dedup_cluster",
    "text_tfidf_top_terms",
    "text_chunk_windows",
    "text_decontaminate",
    "text_repetition",
    "sample_deterministic",
    "asof_generic_events_orders",
    "q20_window_frames",
    "q21_cube",
    "fn_agg_extras",
    "embed_cluster_assign",
    "ann_range_search",
    "embed_pq_encode",
    "ann_pq_adc_topk",
    "corpus_domain_cap",
    "text_heuristic_filter",
    "ev_anomaly_zscore",
    "dedup_containment",
    "dedup_incremental",
    "text_quality_percentile",
    "ann_knn_join",
    "q23_scalar_corr_avg",
    "q24_multi_exists",
    "q25_promo_revenue",
    "q26_top_supplier",
    "q27_supplier_cnt",
    "q28_disjunctive_pred",
    "q29_dormant_customers",
    "ev_gapfill_locf",
    "ev_hierarchical_rollup",
    "ev_concurrency",
    "ev_scd2_intervals",
    "sample_weighted",
    "dq_expectations",
    "profile_columns",
    "corpus_split_assign",
    "ev_path_transitions",
    "corpus_training_manifest",
    "ev_attribution_last_touch",
    "ev_cohort_matrix",
    "ev_rfm_segments",
    "text_bigram_pmi",
    "ev_ewma_spike",
    "mm_ppm_decode_stats",
    "ev_funnel_latency",
    "text_novelty_score",
    "text_novelty_incremental",
    "ev_pareto_share",
    "ev_attribution_touchpoints",
    "ev_attribution_time_decay",
    "corpus_token_budget_plan",
    "ev_seasonality_profile",
    "corpus_dedup_survivor",
    "ev_interarrival_histogram",
    "text_crossdup_mass",
    "ev_attribution_linear",
    "ev_attribution_position",
    "ev_anomaly_mad",
    "ev_cohort_ltv",
    "fn_window",
    "text_ttr_profile",
    "ev_active_users_hll",
    "ev_new_vs_returning",
    "ev_stickiness_weekly",
    "corpus_gate_waterfall",
    "ev_forecast_snaive_backtest",
    "text_doc_keywords",
    "q30_lateral_topk",
    "embed_pca_audit",
    "corpus_bloom_decontaminate",
    "text_heavy_hitters_cms",
    "ev_markov_sessions",
    "ev_user_paths_topk",
    "fn_maps",
    "mm_wav_decode_stats",
    "ev_survival_hazard",
    "ev_ab_test_ztest",
    "io_schema_evolution",
    "q31_recursive_spine",
    "q32_recursive_reach",
    "ann_filtered_topk",
    "embed_drift_by_dim",
    "corpus_manifest_diff",
    "ev_trend_theil_sen",
    "io_csv_malformed",
    "io_compact_small_files",
    "fn_structs",
    "ev_lifecycle_stages",
    "fn_datetime_arith",
    "fn_nullsafe",
    "corpus_dup_rate_by_source",
    "fn_regex_extended",
    "embed_norm_histogram",
    "ev_error_budget_burn",
    "fn_null_ordering",
    "q31b_sequence_spine",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_zipf_fit",
    "io_zstd_roundtrip",
    "text_fuzzy_variants",
    "ev_pagerank_states",
    "ev_sssp_bellman_ford",
    "text_bpe_learn_merges",
    "text_bpe_encode",
    "dedup_ppjoin",
    "io_zorder_layout",
    # r12: the production-regime embedding dedup (the benched twin of
    # the oracle-regime dedup_embedding_cosine — VERDICT-r11 task 4)
    # and the driver-branch-free connected components
    "dedup_embedding_cosine_prod",
    "dedup_cluster_distributed",
    "ev_sssp_broadcast",
    # r13: cross-snapshot incremental dedup at both layers — timed
    # runs probe the persisted band/bucket index (built once in the
    # warm pass)
    "dedup_lsh_incremental",
    "dedup_embedding_incremental",
]


# Host-speed canary (VERDICT-r6 task 8): a fixed CPU-bound job whose
# cost is independent of the repo's queries. This microVM host has
# measured up to 4x run-to-run drift; the canary lets round-over-
# round totals be read against host speed instead of forensically
# reconstructed. Best of 2 after warmup. Module-level so per-row
# instruments (tools/row_probe.py) IMPORT the bench's canary instead
# of copying it — a drifted copy would invalidate exactly the
# regression-vs-host-window calls those tools exist to make.
def host_canary(spark) -> float:
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id % 97)").collect()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ebike_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # Warmup: spin up executors/codegen on a trivial job.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    canary_start = host_canary(spark)

    # Per-query: one UNTIMED warm invocation, then `runs` timed ones
    # (min). The warm pass is unconditional (unless EBIKE_BENCH_COLD=1)
    # so per-query rows are order-independent: whichever query first
    # touches a shared persisted frame pays its materialization in the
    # warm pass, never in a timed one. Default 2 timed runs — with the
    # warm pass that is the same 3 invocations/query as the old
    # (broken) cold-first-min-of-3 loop, so bench wall-clock is flat.
    runs = max(1, int(os.environ.get("EBIKE_BENCH_RUNS", "2")))
    cold = os.environ.get("EBIKE_BENCH_COLD", "") == "1"
    if cold:
        # a second invocation is warm by definition — COLD forces a
        # single timed run so the reported number is truly cold
        # regardless of EBIKE_BENCH_RUNS (ADVICE-r11)
        runs = 1
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = registry[name]
        if not cold:
            fn(spark, sf_dir).count()  # untimed warm pass
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # Second canary AFTER the query loop: the host swings up to 6×
    # WITHIN a run (measured r13 — BENCH_NOTES "io_zorder_layout
    # pinned"), so a start-only canary can't qualify rows timed ~40
    # min later. canary_seconds stays the headline (min of the two =
    # quietest observed host speed); start/end expose the window.
    canary_end = host_canary(spark)
    canary = min(canary_start, canary_end)
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    # The driver captures only the LAST ~2000 bytes of stdout; with 80+
    # benched queries the full per-query map no longer fits on one line
    # (round 5's metric line overflowed and parsed as null). Emit the
    # per-query map on its own EARLIER line for humans/tools, and END
    # with a compact summary line that always fits the tail capture.
    print(
        json.dumps(
            {
                "metric": "per_query_seconds",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    summary = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "canary_seconds": canary,
        "canary_start": canary_start,
        "canary_end": canary_end,
        "sf": sf_val,
    }
    line = json.dumps(summary)
    assert len(line) <= 1900, f"summary line too long: {len(line)}"
    print(line)

    # ALSO persist the per-query map to a file (VERDICT-r13 task 2):
    # the driver's PERF per_query/scaling blocks came back empty in
    # r12 AND r13 because only the ~2000-byte stdout tail survives —
    # the 137-entry per-query line never fits it. A committed artifact
    # per run makes round-over-round per-row comparison machine-
    # readable without touching the timing loop or the stdout
    # contract (both unchanged above). Failure to write must never
    # fail the bench (read-only checkouts).
    perq_path = os.environ.get(
        "EBIKE_BENCH_PERQ_OUT", os.path.join(_REPO, "BENCH_PERQ.json")
    )
    try:
        try:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "") or 0)
        except ValueError:
            cpus = 0  # session.py's _cpus() tolerates non-numeric too
        payload = json.dumps(
            {
                "queries": timings,
                "total_seconds": total,
                "n_queries": len(timings),
                "cpus": cpus or spark.sparkContext.defaultParallelism,
                "sf": sf_val,
                "sf_dir": sf_dir,
                "canary_seconds": canary,
                "canary_start": canary_start,
                "canary_end": canary_end,
                "runs_per_query": runs,
                "cold": cold,
            },
            indent=1,
            sort_keys=True,
        )
        with open(perq_path, "w") as f:
            f.write(payload + "\n")  # serialized first: no partial file
    except Exception:
        pass


if __name__ == "__main__":
    main()
