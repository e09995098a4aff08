"""Central query registry.

Every implemented operator registers a named ``QuerySpec`` pairing a
Spark DataFrame builder with (where SQL-expressible) an ANSI-SQL oracle
string DuckDB can run on the same parquet tables. The driver (and our
own tests) execute both sides and compare row-count + schema +
order-insensitive value hash. Column names are aliased identically on
both sides — the compare sorts columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ebike_spark.artifacts import memo

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Re-runs its work or side effects on every call of ``fn``: it writes
    # files (io_*), times its own micro-batch harness (stream_*), or runs
    # Spark jobs while building (driver-side loops, collected scalars).
    # all_queries() never plan-caches such a query: a cached frame would
    # make the bench's timed run skip that work. A query not declared
    # eager must build without starting a job once its session
    # artifacts are warm (test_plan_cached_queries_build_without_jobs).
    eager: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def sf_bound(sf_dir: str, table: dict, default):
    """Per-fixture verdict bound: measured bounds keyed by the fixture
    directory's basename ('sf0.01'); unknown corpora fall back to the
    conservative default. ONE implementation — the sf-key
    normalization must not drift between the verdict queries that
    tightened their bounds in r10 (review r10)."""
    import os

    return table.get(os.path.basename(sf_dir.rstrip("/")), default)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    eager: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""), eager=eager
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    Import order is only the REGISTRATION order; the externally-checked
    emission order is controlled explicitly by WINDOW_PREFIX below."""
    import ebike_spark.operators.dedup  # noqa: F401
    import ebike_spark.operators.similarity  # noqa: F401
    import ebike_spark.operators.clustering  # noqa: F401
    import ebike_spark.operators.text  # noqa: F401
    import ebike_spark.operators.multimodal  # noqa: F401
    import ebike_spark.operators.corpus  # noqa: F401
    import ebike_spark.operators.curation  # noqa: F401
    import ebike_spark.operators.joins  # noqa: F401
    import ebike_spark.sources.io  # noqa: F401
    # streaming.events itself imports plans.attribution at module level
    # (it reads that module's registered oracle at import time), so no
    # ordering constraint exists here
    import ebike_spark.streaming.events  # noqa: F401
    import ebike_spark.plans.analytics_late  # noqa: F401
    import ebike_spark.operators.semdedup  # noqa: F401
    import ebike_spark.sources.io_layout  # noqa: F401
    import ebike_spark.plans.tpch  # noqa: F401
    import ebike_spark.plans.analytics  # noqa: F401
    import ebike_spark.plans.arrays  # noqa: F401
    import ebike_spark.plans.functions_battery  # noqa: F401
    import ebike_spark.plans.tpch2  # noqa: F401
    import ebike_spark.operators.range_join  # noqa: F401
    import ebike_spark.operators.text_late  # noqa: F401
    import ebike_spark.plans.timeseries  # noqa: F401
    import ebike_spark.operators.profiling  # noqa: F401
    import ebike_spark.operators.kmeans  # noqa: F401
    import ebike_spark.operators.pca  # noqa: F401
    import ebike_spark.plans.graph  # noqa: F401


# The external correctness harness checks a bounded PREFIX (exactly 50
# rows each round so far — every CORRECTNESS_r*.json has 50 entries)
# of the order all_queries() emits. Every query is oracled identically
# regardless of position; the prefix only controls which rows get
# fresh external evidence this round, and entries past position 50 get
# none. The rotation rule is MECHANICAL and ENFORCED (VERDICT-r10
# task 3, tools/staleness.py validate_window + the unit test that
# calls it): the window must lead with every never-checked query plus
# MODIFIED_THIS_ROUND (a change without a fresh driver row would
# leave the old green as stale evidence for new code), and the fill
# to 50 may only draw from the OLDEST-checked rows on disk — no row
# outside the window may be staler than any fill row. Round 12: three
# new queries (dedup_embedding_cosine_prod, dedup_cluster_distributed,
# ev_sssp_broadcast — the literal-map SSSP's production broadcast twin)
# + fifteen modified (the local_df swap, the z-order guard, and the
# six aggregate-then-window rewrites — see MODIFIED_THIS_ROUND
# below), then the 22-row r7 remainder (text_doc_keywords moved to
# the modified head), then 10 of the 47 r8 rows (LLM-pipeline anchors
# first): 3 + 15 + 22 + 10 = 50. After the r12 driver run no query's
# latest external check is older than r8; the 34 remaining r8 rows
# lead r13's fill (47 - 10 fill - 3 checked via the r12 modified head:
# ann_knn_join, text_dup_spans, text_tfidf_top_terms — review r13).
#
# Queries whose CODE or ORACLE changed since the last driver run —
# validate_window requires them at the head of the window. Round 14
# (all Spark-side plan rewrites; no oracle text changed): the batch-1
# job/exchange fusions (text_repetition single-branch window form,
# the repartition(term) tf/df shapes, the upsample window max, the
# training-manifest digest aggregate, the bpe-encode trained-merges
# memo, the io_csv observe+fused audit, the io_compact shared file
# listing), the star-CC composed round's dropped intermediate
# distinct (dedup_cluster_distributed), and the ppjoin verify-join
# build-side hybrid (ADVICE-r13 item 2, corrected by the 50× A/B).
MODIFIED_THIS_ROUND: tuple[str, ...] = (
    "dedup_ppjoin",
    "dedup_cluster_distributed",
    "text_repetition",
    "text_tfidf_top_terms",
    "text_doc_keywords",
    "corpus_upsample_audit",
    "corpus_training_manifest",
    "text_bpe_encode",
    "io_csv_malformed",
    "io_compact_small_files",
    # batch 3: eval branch as exchange-free HOF grams + semi join
    "text_decontaminate",
)

WINDOW_PREFIX: tuple[str, ...] = (
    # --- modified in r14 (need evidence for the NEW code; nothing new
    # was registered this round — optimization rounds add no features)
    "dedup_ppjoin",
    "dedup_cluster_distributed",
    "text_repetition",
    "text_tfidf_top_terms",
    "text_doc_keywords",
    "corpus_upsample_audit",
    "corpus_training_manifest",
    "text_bpe_encode",
    "io_csv_malformed",
    "io_compact_small_files",
    "text_decontaminate",
    # --- fill from the oldest-checked tier: the 37 remaining r9 rows
    # (11 + 37 + 2 = 50) ---
    "corpus_shard_manifest",
    "corpus_split_assign",
    "ev_attribution_last_touch",
    "ev_attribution_time_decay",
    "ev_attribution_touchpoints",
    "ev_cohort_matrix",
    "ev_concurrency",
    "ev_ewma_spike",
    "ev_funnel_latency",
    "ev_funnel_sliding",
    "ev_funnel_windowed",
    "ev_pivot",
    "ev_rate_moving",
    "ev_retention",
    "ev_rfm_segments",
    "ev_rollup",
    "ev_scd2_intervals",
    "ev_seasonality_profile",
    "ev_session_stats",
    "ev_sessionize",
    "ev_sliding_window",
    "ev_topk_per_group",
    "ev_tumbling_window",
    "ev_value_histogram",
    "mm_ppm_decode_stats",
    "q01_scan_filter_topk",
    "q02_group_agg",
    "q03_join_agg",
    "range_join_event_windows",
    "stream_attribution_last_touch",
    "stream_gap_alerts",
    "stream_interval_join",
    "stream_stateful_running_counts",
    "text_bigram_pmi",
    "text_bigram_top",
    "text_bpe_token_count",
    "text_char_diversity",
    # --- plus the alphabetically-first 2 of the next-oldest (r10)
    # tier (the only builder discretion the rotation rule leaves is
    # splitting same-round ties; the 22 remaining r10 rows lead the
    # round-15 fill) ---
    "ann_lsh_topk",
    "dedup_prefix_hash",
)


def _window_ordered() -> dict[str, QuerySpec]:
    _load_all()
    unknown = [n for n in WINDOW_PREFIX if n not in REGISTRY]
    if unknown:
        raise KeyError(f"WINDOW_PREFIX names not in registry: {unknown}")
    rest = [n for n in REGISTRY if n not in set(WINDOW_PREFIX)]
    return {n: REGISTRY[n] for n in (*WINDOW_PREFIX, *rest)}


def all_queries() -> dict[str, QueryFn]:
    """Every registered query in window order. A query not declared
    eager is plan-cached: its frame is memoized per (session, sf_dir) in
    the session store, so re-invoking it returns the SAME DataFrame
    instead of rebuilding and re-analyzing an identical plan, as real
    engines cache compiled plans keyed by statement text. Measured r10:
    plan construction + analysis is ~25-30% of the sub-second battery
    rows at sf0.1, pure driver-side overhead a resident engine pays
    once. Unit tests bypass the cache by calling REGISTRY[name].fn."""

    def plan_cached(spec: QuerySpec) -> QueryFn:
        return lambda spark, sf_dir: memo(
            spark, ("plan", spec.name, sf_dir), lambda: spec.fn(spark, sf_dir)
        )

    return {
        name: spec.fn if spec.eager else plan_cached(spec)
        for name, spec in _window_ordered().items()
    }


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _window_ordered().items() if spec.oracle is not None
    }
