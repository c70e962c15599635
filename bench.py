"""Benchmark harness: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Stdout layout (truncation-proof — the
compact summary is both the FIRST and the LAST line, so a capture
that keeps only the head or the tail of stdout still parses):

    {"metric": "suite_wall_sec", "value": N, "unit": "sec", "queries": {...}, ...}
    {... full detail: "queries": {"q1": sec, ...}, "notes": ...}
    {"metric": "suite_wall_sec", "value": N, "unit": "sec", "queries": {...}, ...}

The summary line carries a bounded ``queries`` dict (slowest queries
first, as many as fit the line-length budget) so a tail-truncating
capture still gets per-query timings for round-over-round and scaling
comparisons; ``n_queries_reported``/``n_queries`` says how many were
cut. The FULL per-query map (every timed query, plus overflow and
notes) stays on the middle detail line.

``value`` is the headline-set wall; the default run then also times
every non-headline registered query so each round's artifact tracks
the all-registry wall too (``all_registry_wall_sec`` = headline +
overflow; headliners are not re-run).

Each query is forced with the ``noop`` write sink — full evaluation
of every output column (``count()`` would let Catalyst prune
projection-only work), no driver-side result transfer. Usage:

    python bench.py               # headline set
    python bench.py --all         # every registered query
    python bench.py q1 q2 ...     # named subset
    python bench.py --repeat 2    # N full passes; per-query best-of-N,
                                  # wall_runs + spread in the artifact

Every run stamps a contention probe (loadavg + a fixed
single-threaded calibration loop) into the summary so a contended
box can never masquerade as a code regression.

Streaming queries (``stream_*`` and any other query that runs a
Structured Streaming query) get a per-tick breakdown on the detail
line, read from Spark's own ``StreamingQueryProgress`` reports by a
``StreamingQueryListener``: ``notes[<query>]`` holds ``n_ticks`` and,
one entry per micro-batch in batch order, ``trigger_ms``
(triggerExecution), ``add_batch_ms`` (addBatch: the sink's work),
``query_planning_ms`` (queryPlanning), ``source_ms`` (latestOffset +
getBatch) and ``commit_ms`` (walCommit + commitOffsets).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Replay streaming headliners over 2 micro-batches instead of 4: the
# stream_* wall cost is per-tick machinery (checkpoint + state-store
# commit), not data volume, and the bench measures throughput, not
# replay length. Oracles scale with the same knob, so correctness runs
# (tests, driver) are untouched — they keep the 4-chunk default.
os.environ.setdefault("SPARK_GRAFT_STREAM_CHUNKS", "2")

# The headline set: every reference-surface pipeline plus the
# scale-relevant training-data extensions. Chosen to exercise scan,
# filter, window agg, broadcast join, shuffle agg, dedup (exact +
# approximate), similarity search, and text analysis.
HEADLINE = [
    "funding_stats",
    "futures_snapshot",
    "spot_pairs_snapshot",
    "lending_pipeline",
    "upsert_merge",
    "topk_per_group",
    "broadcast_join_dim",
    "semi_join_universe",
    "group_min",
    "asof_join_backward",
    "sessionize_events",
    "interval_join_attribution",
    "exact_dedup",
    "minhash_lsh_dedup",
    "dedup_clusters",
    "simhash_near_dup",
    "ann_cosine_topk",
    "ann_cosine_topk_ivf",
    "text_quality",
    "token_count",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q4_order_priority",
    "tpch_q12_priority_classes",
    "tpch_q14_promo_effect",
    "tpch_q18_large_volume_customers",
    "tpch_q19_discounted_revenue",
    "tpch_q22_dormant_customers",
    "window_functions_suite",
    "tpch_q7_nation_volume",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "pivot_status_by_priority",
    "cube_revenue",
    "embedding_centroids",
    "stream_funding_pipeline",
    "stream_stream_join_attribution",
    "repetition_filter",
    "tfidf_top_terms",
    "test_set_contamination",
    "cdc_materialize",
    "event_transition_matrix",
    "winsorized_stats",
    "pagerank_trading_graph",
    "hopping_window_rollup",
    "trailing_time_features",
    "tpch_q8_market_share",
    "term_posting_lists",
    "ngram_novelty",
    "embedding_quantize_int8",
    "sequence_packing_plan",
    "expectation_audit",
    "jsonl_quarantine",
    "multimodal_bmp_roundtrip",
    # new in round 3
    "multimodal_png_roundtrip",
    "sequence_packing_sharded",
    "salted_join_agg",
    "dedup_clusters_star",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_profit_by_nation_year",
    "tpch_q11_important_parts",
    "tpch_q16_supplier_variety",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "embedding_covariance",
    "window_distribution_suite",
    "cap_per_source",
    "asof_join_forward",
    "grouping_sets_revenue",
    "multimodal_wav_roundtrip",
    "multimodal_avi_framesample",
    "jsonl_file_source",
    "tsv_file_source",
    # new in round 4
    "main_dag_parity",
    "truncate_bulk_load",
    "doc_chunking",
    "funding_rate_anomaly",
    "snapshot_diff_ticks",
    "heavy_hitter_users",
    "event_type_correlation",
    "reservoir_sample_by_source",
    "bpe_pair_counts",
    "bpe_train_merges",
    "stream_anomaly_alerts",
    "ohlc_bars",
    "cohort_retention",
    "event_funnel",
    "triangle_count",
    "scd2_history",
    "gap_fill_hourly",
    "zorder_cluster_keys",
    "frequent_tokens_sketch",
    "rolling_beta",
    "source_divergence_kl",
    "rollup_cascade",
    "stream_ohlc_bars",
    "token_id_encoding",
    "packed_training_batches",
    "quality_filter_ablation",
    "unigram_logprob_score",
    "funnel_latency_quantiles",
    "vocab_coverage_curve",
    "missing_ticks_report",
    "stream_heavy_hitters",
    "incremental_dedup",
    "robust_anomaly_mad",
    "embedding_top_component",
    "trend_regression",
    "skew_diagnostics",
    "stream_window_distinct_users",
    "table_profile",
    "ks_two_sample",
    "weekly_churn",
    "multi_touch_attribution",
    "simhash_distance_histogram",
    "dedup_savings_report",
    "hourly_activity_heatmap",
    "value_histogram",
    # new in round 5
    "ann_recall_report",
    "near_dup_recall_report",
    "pruned_time_range_stats",
    "pruned_daily_rollup",
    "bucketed_join_revenue",
    "store_compaction_report",
    "schema_evolution_read",
    # new in round 6
    "stream_append_compaction",
    "hll_sketch_merge_rollup",
    "semantic_dedup_clusters",
    "stream_sketch_rollup",
    "grouped_split_leakage_report",
    "file_provenance_report",
    "span_dedup_cleaned_docs",
    # new in round 7
    "multimodal_jpeg_roundtrip",
    "multimodal_mjpg_framesample",
    "multimodal_resize_real",
    "ann_index_incremental",
    "snapshot_bloom_pruned_read",
    "bloom_prefilter_join",
    "incremental_minhash_dedup",
    "multimodal_adpcm_roundtrip",
    "snapshot_version_cdc",
    "multimodal_gif_roundtrip",
    "hashed_ngram_quality_score",
    "merge_on_read_snapshot",
    "stream_merge_on_read",
    "image_dhash_index",
    "snapshot_metadata_count",
    # new in round 12
    "substring_dedup_spans",
    "substring_dedup_cleaned_docs",
    "incremental_substring_dedup",
    "charset_detection_scan",
]


def _calibrate(rounds: int = 3) -> dict[str, float]:
    """Fixed single-threaded CPU probe: time a constant pure-Python
    loop a few times. On an idle box the min and max agree within a
    few percent; under contention the spread (and the absolute
    number) inflates — giving every BENCH artifact its own error bar
    so a contended run can never masquerade as a code regression
    (r10's +9% driver delta was pure box noise: four runs on
    identical code spanned 201-273 s)."""
    samples = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        x = 0
        for i in range(5_000_000):
            x += i
        samples.append(time.perf_counter() - t0)
    lo, hi = min(samples), max(samples)
    return {
        "calib_min_sec": round(lo, 4),
        "calib_max_sec": round(hi, 4),
        "calib_spread_pct": round(100.0 * (hi - lo) / lo, 1),
    }


#: notes field -> the durationMs phases it sums
TICK_PHASES = {
    "trigger_ms": ("triggerExecution",),
    "add_batch_ms": ("addBatch",),
    "query_planning_ms": ("queryPlanning",),
    "source_ms": ("latestOffset", "getBatch"),
    "commit_ms": ("walCommit", "commitOffsets"),
}


class TickLog(StreamingQueryListener):
    """Keeps every StreamingQueryProgress report; ``take`` returns those
    of the query runs started since the previous call, once each of
    them has reported termination."""

    def __init__(self) -> None:
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list = []
        self.cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self.cond:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self.cond:
            self.progress.append(event.progress)

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.terminated.add(str(event.runId))
            self.cond.notify_all()

    def take(self, timeout: float = 60.0) -> list:
        with self.cond:
            ids = self.started
            self.cond.wait_for(lambda: ids <= self.terminated, timeout)
            mine = [p for p in self.progress if str(p.runId) in ids]
            self.started, self.progress = set(), []
        return sorted(mine, key=lambda p: p.timestamp)


def _tick_notes(ticks: list) -> dict[str, object]:
    """Per-tick Spark phases of one query's micro-batches."""
    out: dict[str, object] = {"n_ticks": len(ticks)}
    for field, phases in TICK_PHASES.items():
        out[field] = [
            sum(t.durationMs.get(k, 0) for k in phases) for t in ticks
        ]
    return out


def main() -> None:
    from funding_monitoring_spark import registry
    from funding_monitoring_spark.operators.cachescope import (
        release_scoped_caches,
    )
    from funding_monitoring_spark.session import get_spark

    args = sys.argv[1:]
    repeat = 1
    if "--repeat" in args:
        at = args.index("--repeat")
        repeat = max(1, int(args[at + 1]))
        del args[at : at + 2]
    all_queries = registry.queries()
    overflow: list[str] = []
    if "--all" in args:
        names = sorted(all_queries)
    elif args:
        names = args
    else:
        names = [n for n in HEADLINE if n in all_queries]
        # default runs ALSO time the non-headline remainder, so every
        # per-round BENCH artifact carries BOTH walls (headline +
        # all-registry) and a regression in a non-headline query is
        # visible round-over-round, not only in ad-hoc --all runs
        overflow = sorted(n for n in all_queries if n not in set(names))

    spark = get_spark(app_name="fm_spark_bench")
    # Warm the JVM once so per-query numbers measure the query, not
    # session startup: parquet footer reading, whole-stage codegen,
    # the shuffle + broadcast machinery (first use of each costs
    # ~1-2s that would otherwise land on whichever query runs first).
    from pyspark.sql import functions as _F

    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    warm = region.groupBy("r_name").count().join(
        _F.broadcast(region.select("r_name")), "r_name"
    )
    warm.write.format("noop").mode("overwrite").save()

    # Warm the Structured Streaming machinery the same way (offset/
    # commit logs, state-store provider, micro-batch planner): a
    # 1-row availableNow replay costs ~2 s once; without it the first
    # stream_* query in the suite absorbs that startup and reads 2-3x
    # slower than identical later runs. Fixture chunking (shared per
    # session, suites/streaming_suite._replay) is NOT pre-paid here —
    # it stays inside the first streaming query's measured time.
    import tempfile as _tf

    _wdir = _tf.mkdtemp(prefix="fm_bench_warm_")
    _wdf = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1))], "v long, ts timestamp"
    )
    _wdf.coalesce(1).write.parquet(os.path.join(_wdir, "in"))
    (
        spark.readStream.schema(_wdf.schema)
        .parquet(os.path.join(_wdir, "in"))
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark()  # state-store provider init
        .writeStream.foreachBatch(lambda b, i: b.count())
        .option(
            "checkpointLocation", os.path.join(_wdir, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    tick_log = TickLog()
    spark.streams.addListener(tick_log)

    load_start = os.getloadavg()[0]
    calib = _calibrate()

    timings: dict[str, float] = {}
    notes: dict[str, object] = {}
    errors: dict[str, str] = {}
    wall_runs: list[float] = []
    run_timings: list[dict[str, float]] = []
    # Contention hygiene (VERDICT r13 item 7, additions-only): when a
    # single-pass run's calibration probe — at start OR re-probed after
    # pass 1 — crosses the 25% contended threshold, run ONE extra pass
    # and report best-of-2, so a contended box yields two walls instead
    # of one worthless number. Explicit --repeat N is left untouched.
    passes_planned = repeat
    auto_repeat = False
    calib_mid: dict[str, float] | None = None
    run = 0
    while run < passes_planned:
        this_run: dict[str, float] = {}
        t_suite = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            # Per-query guard: an environment-sensitive query
            # (optional codec, missing fixture) must cost one entry,
            # not the whole artifact — without it the headline wall
            # itself is lost.
            try:
                df = all_queries[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — recorded
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                tick_log.take()
                release_scoped_caches()
                continue
            this_run[name] = round(time.perf_counter() - t0, 3)
            # query-scoped persists release once the result is
            # materialized (outside the timed span) — a full-registry
            # run leaves no session-lifetime cached partitions
            release_scoped_caches()
            ticks = tick_log.take()
            if ticks and run == 0:
                notes[name] = _tick_notes(ticks)
        wall_runs.append(round(time.perf_counter() - t_suite, 3))
        run_timings.append(this_run)
        run += 1
        if run == passes_planned and repeat == 1 and not auto_repeat:
            calib_mid = _calibrate()
            if max(
                calib["calib_spread_pct"], calib_mid["calib_spread_pct"]
            ) > 25.0:
                auto_repeat = True
                passes_planned += 1
    # per-query best-of-N: the least contention-polluted sample.
    # A query that errored in one pass but succeeded in another is a
    # timing, not an error — drop its stale error record so the
    # n_errors/n_queries totals never double-count a flaky query.
    for name in names:
        samples = [r[name] for r in run_timings if name in r]
        if samples:
            timings[name] = min(samples)
            errors.pop(name, None)
    wall = min(wall_runs)

    overflow_timings: dict[str, float] = {}
    t_over = time.perf_counter()
    for name in overflow:
        t0 = time.perf_counter()
        try:
            df = all_queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            overflow_timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — recorded, not hidden
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        release_scoped_caches()
        ticks = tick_log.take()
        if ticks and name in overflow_timings:
            notes[name] = _tick_notes(ticks)
    overflow_wall = round(time.perf_counter() - t_over, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Compact summary — printed as the FIRST stdout line AND repeated
    # as the LAST, so a capture window that keeps only the head or
    # only the tail of stdout (BENCH_r03-r06 artifacts were truncated
    # to a 2000-char tail, losing the headline metric inside the big
    # per-query dict) always preserves the parseable one-liner.
    contention = {
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        **calib,
    }
    if calib_mid is not None:
        # the post-pass-1 re-probe (auto best-of-2 trigger), stamped
        # with its own keys so calib_* keeps its start-of-run meaning
        contention.update(
            {k.replace("calib_", "calib2_"): v for k, v in calib_mid.items()}
        )
    if auto_repeat:
        contention["auto_repeat"] = True
    # contended stamp (VERDICT r12 item 6): a calibration spread
    # above 25% means another workload was stealing cycles DURING
    # this run — the wall numbers are measurements of the box, not
    # the code, and README/COVERAGE must not quote them. 25% sits
    # well above the clean-box band (2-12% observed r10-r13) and
    # well below every contaminated run we have adjudicated (42%,
    # 46.8%). Any probe (start or mid-run) over threshold marks the
    # artifact; an auto-repeated run carries both walls regardless.
    contention["contended"] = (
        max(
            calib.get("calib_spread_pct", 0.0),
            (calib_mid or {}).get("calib_spread_pct", 0.0),
        )
        > 25.0
    )
    summary = {
        "metric": "suite_wall_sec",
        "value": wall,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        **contention,
    }
    if len(wall_runs) > 1:
        summary["wall_runs"] = wall_runs
        summary["wall_spread_pct"] = round(
            100.0 * (max(wall_runs) - min(wall_runs)) / min(wall_runs), 1
        )
    if overflow:
        summary["all_registry_wall_sec"] = round(wall + overflow_wall, 3)
        summary["n_overflow"] = len(overflow_timings)
    # Per-query timings IN the parseable one-liner (VERDICT r13 item 1:
    # two rounds of PERF had per_query == {} because the driver parses
    # only a bounded stdout tail and the per-query map lived on the
    # giant middle detail line). The summary line carries as many
    # per-query entries as fit a hard line-length budget — slowest
    # first, across headline AND overflow, best-of-N — so per-query
    # round-over-round and 32-vs-8-core scaling comparisons work from
    # the tail alone. n_queries_reported records the cut (guide: no
    # silent caps); the complete map stays on the detail line below.
    _LINE_BUDGET = 1900  # driver keeps a 2000-char stdout tail
    all_timings = dict(timings)
    all_timings.update(overflow_timings)
    base_len = len(json.dumps(summary, separators=(",", ":")))
    reported: dict[str, float] = {}
    used = base_len + len(',"queries":{}') + len(',"n_queries_reported":288')
    for qname, qsec in sorted(all_timings.items(), key=lambda kv: (-kv[1], kv[0])):
        cost = len(json.dumps({qname: round(qsec, 2)}, separators=(",", ":")))
        if used + cost > _LINE_BUDGET:
            break
        reported[qname] = round(qsec, 2)
        used += cost
    summary["queries"] = reported
    summary["n_queries_reported"] = len(reported)
    summary_line = json.dumps(summary, separators=(",", ":"))
    print(summary_line, flush=True)

    out = {
        "metric": "suite_wall_sec",
        "value": wall,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "contention_probe": contention,
    }
    if len(wall_runs) > 1:
        out["wall_runs"] = wall_runs
        out["wall_spread_pct"] = summary["wall_spread_pct"]
        out["query_runs"] = run_timings
    if overflow:
        out["all_registry_wall_sec"] = round(wall + overflow_wall, 3)
        out["overflow_queries"] = overflow_timings
    if errors:
        out["errors"] = errors
    out["notes"] = notes
    print(json.dumps(out), flush=True)
    print(summary_line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
