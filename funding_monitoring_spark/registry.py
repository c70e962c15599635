"""Query + oracle registry: the single source of truth mapping
SURVEY.md §2 operator IDs to (PySpark query, DuckDB oracle SQL) pairs.

Each entry is registered with @query(name, sql) where sql is the
ANSI-SQL twin DuckDB runs on the same parquet views. Column names are
aliased identically on both sides (the driver hashes values after
sorting columns by name). Entries whose semantics are not
SQL-expressible register with sql=None → rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


#: Driver-verification priority. The per-round differential driver
#: checks only the FIRST 50 entries of queries(), so this order decides
#: which queries get an external correctness row in a round. Rotation
#: rule: never-external queries first (registration order), then every
#: other query by the round of its most recent external row, oldest
#: first (ties by registration order); take 50. Queries registered
#: after the window froze queue for the next one and ship with a local
#: row from tools/local_correctness.py. The list is GENERATED by
#: `python tools/window_plan.py`; tests/test_registry_window.py pins it
#: to the rule at a fixed artifact round.
_PRIORITY: list[str] = [
    # r15 window (max_round=14): the 38 oldest last-r9 rows, then the
    # 12 oldest last-r10 rows.
    "sort_limit",
    "topk_per_group",
    "union_append",
    "jsonl_file_source",
    "tsv_file_source",
    "cdc_materialize",
    "event_transition_matrix",
    "cap_per_source",
    "snapshot_bloom_pruned_read_str",
    "paged_backfill",
    "main_dag_parity",
    "multimodal_png_variants_roundtrip",
    "multimodal_wav_roundtrip",
    "multimodal_flac_roundtrip",
    "multimodal_avi_framesample",
    "multimodal_jpeg420_roundtrip",
    "multimodal_jpeg_progressive_roundtrip",
    "multimodal_mp3_frame_scan",
    "hash_sample_documents",
    "stratified_sample_by_lang",
    "ann_cosine_topk",
    "ann_cosine_topk_lsh",
    "ann_cosine_topk_scale",
    "ann_cosine_topk_ivf",
    "embedding_near_dup",
    "ann_cosine_topk_ivf_kmeans",
    "asof_join_backward",
    "sessionize_events",
    "session_window_agg",
    "interval_join_attribution",
    "asof_join_forward",
    "window_distribution_suite",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_profit_by_nation_year",
    "tpch_q11_important_parts",
    "tpch_q16_supplier_variety",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "event_type_correlation",
    "reservoir_sample_by_source",
    "dataset_mixture_plan",
    "bpe_train_merges",
    "bpe_pair_counts",
    "ohlc_bars",
    "cohort_retention",
    "event_funnel",
    "triangle_count",
    "zorder_cluster_keys",
    "frequent_tokens_sketch",
    "rolling_beta",
]


def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    tail = {k: v for k, v in d.items() if k not in head}
    return {**head, **tail}


def queries() -> dict[str, QueryFn]:
    _load_all()
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLES)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (import = register)."""
    global _LOADED
    if _LOADED:
        return
    from funding_monitoring_spark import suites  # noqa: F401

    _LOADED = True
