"""Full main-DAG orchestration parity (SURVEY.md §3; reference
dags/kucoin_main_dag.py:59-64).

The reference's scheduler graph is

    create_tables
        >> [update_active_futures, update_active_spot_pairs,
            append_new_lending_data]
        >> update_funding_data
        >> update_funding_stats

i.e. a DDL root, a 3-wide extract fan-out, then the funding upsert
(which reads the symbol universe from the futures table written by the
fan-out — the one real data dependency between tasks,
funding_rates_etl.py:23-30) and the stats snapshot over the funding
store. ``run_main_dag`` reproduces that graph as ONE driver program:
each task materializes its table store exactly as its reference task
does (full-replace snapshots for futures/spot, PK-upsert for lending
and funding, overwrite for stats), and the run returns a
per-stage summary frame (stage, n_rows, checksum) whose values depend
transitively on every stage — the externally-checkable artifact of the
whole dependency graph.

Scale notes: orchestration is driver-side by nature (it IS the DAG
runner — Airflow's role in the reference); all data movement stays
declarative per stage. The only driver-side values are the six
per-stage summary scalars. The funding upsert replays the reference's
paged, boundary-overlapping ingestion as two page batches so the
cross-batch PK merge (K1/K2) is genuinely exercised in the composed
run, not just in isolation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funding_monitoring_spark.operators.cachescope import scoped_persist
from funding_monitoring_spark.operators.upsert import dedupe_batch, upsert
from funding_monitoring_spark.pipeline.funding_stats import (
    funding_stats_from_rates,
    rates_from_events,
)
from funding_monitoring_spark.sources.tables import (
    FIXTURE_TABLE_NAMES,
    load_table,
    register_temp_views,
)
from funding_monitoring_spark.streaming.sinks import atomic_overwrite

#: checksum rounding — 4 digits leaves ~1e5 margin over double
#: summation-order noise on the fixture sums
CHECK_ROUND = 4

SUMMARY_SCHEMA = "stage string, n_rows long, checksum double"


def _summarize(df: DataFrame, checksum_col: str | None):
    """One driver-side scalar pair per stage: row count + rounded sum."""
    aggs = [F.count("*").alias("n")]
    if checksum_col is not None:
        aggs.append(
            F.round(F.sum(checksum_col), CHECK_ROUND).alias("chk")
        )
    row = df.agg(*aggs).first()
    return int(row["n"]), (
        float(row["chk"]) if checksum_col is not None else None
    )


def funding_rates_for_symbols(
    events: DataFrame, futures_store: DataFrame
) -> DataFrame:
    """The funding task's input: the rates stream restricted to the
    symbol universe READ FROM the futures table the fan-out just wrote
    (funding_rates_etl.py:23-30 queries `symbol FROM kucoin_active_
    futures`). The '-TM' suffix the futures snapshot appends is
    stripped to recover the rates key — a broadcast semi-join, the
    store never shuffles."""
    symbols = (
        futures_store.select(
            F.regexp_replace("symbol", "-TM$", "").alias("symbol")
        )
        .dropDuplicates(["symbol"])
    )
    rates = rates_from_events(events)
    return rates.join(F.broadcast(symbols), on="symbol", how="left_semi")


def run_main_dag(
    spark: SparkSession, sf_dir: str, base_dir: str
) -> list[tuple]:
    """Execute the six tasks in dependency order, materializing each
    store under ``base_dir``; returns the per-stage summary rows."""
    from funding_monitoring_spark.suites.pipeline_parity import (
        q_futures_snapshot,
        q_lending_pipeline,
        q_spot_pairs_snapshot,
    )

    summaries: list[tuple] = []

    # -- task 1: create_tables (DDL root, K6) --------------------------
    register_temp_views(spark, sf_dir)
    summaries.append(("create_tables", len(FIXTURE_TABLE_NAMES), None))

    # -- tasks 2-4: the 3-wide extract fan-out -------------------------
    # The scheduler graph declares these three extracts PARALLEL
    # (`>> [update_active_futures, update_active_spot_pairs,
    # append_new_lending_data] >>`), and they are data-independent, so
    # run them as concurrent driver jobs (guide §2.6: actions are only
    # sequential because driver code calls them sequentially; the next
    # job's tasks back-fill executors freed by the current job's tail).
    # Each task writes its own store and summarizes it; the summary
    # rows are appended in the fixed declared order, so the result
    # frame is identical to the sequential run.
    futures_path = os.path.join(base_dir, "kucoin_active_futures")
    spot_path = os.path.join(base_dir, "kucoin_active_spot_pairs")
    lending_path = os.path.join(base_dir, "kucoin_lending_rates")

    def _futures_task():
        atomic_overwrite(q_futures_snapshot(spark, sf_dir), futures_path)
        return _summarize(spark.read.parquet(futures_path), "tick_size")

    def _spot_task():
        atomic_overwrite(q_spot_pairs_snapshot(spark, sf_dir), spot_path)
        return _summarize(
            spark.read.parquet(spot_path), "spot_unit_volume24h"
        )

    def _lending_task():
        # the reference upserts on (created_at, loan_duration_days),
        # the incoming row winning (lending_data_etl.py:76-91)
        lending = q_lending_pipeline(spark, sf_dir)
        if os.path.exists(lending_path):
            lending = upsert(
                spark.read.parquet(lending_path),
                lending,
                ["created_at", "loan_duration_days"],
            )
        atomic_overwrite(lending, lending_path)
        return _summarize(
            spark.read.parquet(lending_path), "annualized_interest_rate"
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_f = pool.submit(_futures_task)
        fut_s = pool.submit(_spot_task)
        fut_l = pool.submit(_lending_task)
        summaries.append(("update_active_futures", *fut_f.result()))
        summaries.append(("update_active_spot_pairs", *fut_s.result()))
        summaries.append(("append_new_lending_data", *fut_l.result()))

    # -- task 5: update_funding_data (PK upsert, K1/K2) ----------------
    # Reference ingestion is paged with an inclusive boundary cursor
    # (funding_rates_etl.py:43-66): replayed here as two overlapping
    # page batches — older half first, then the newer window reaching
    # 2 days back over the boundary — merged by PK (symbol,
    # funding_time) with event_id as the revision order. The result is
    # exactly the deduped full scan: no boundary row lost or doubled.
    events = load_table(spark, sf_dir, "events")
    # The slim (symbol, funding_time, funding_rate, event_id) frame
    # feeds THREE downstream consumers — the split-point aggregate and
    # both page filters — each of which would otherwise replay the
    # events scan + semi-join (guide §2.4/§5: three full passes over
    # the source for one logical input). Persist once; the scope
    # registry releases it after the summary materializes.
    rates = scoped_persist(
        funding_rates_for_symbols(
            events, spark.read.parquet(futures_path)
        )
    )
    split = rates.agg(
        (F.max("funding_time") - F.expr("INTERVAL 15 DAYS")).alias("s")
    )
    rates_s = rates.crossJoin(F.broadcast(split))
    key_cols, order_cols = ["symbol", "funding_time"], ["event_id"]
    page1 = dedupe_batch(
        rates_s.filter(F.col("funding_time") < F.col("s")).drop("s"),
        key_cols,
        order_cols,
    )
    page2 = dedupe_batch(
        rates_s.filter(
            F.col("funding_time") >= F.col("s") - F.expr("INTERVAL 2 DAYS")
        ).drop("s"),
        key_cols,
        order_cols,
    )
    funding_path = os.path.join(base_dir, "kucoin_funding_rates")
    atomic_overwrite(page1, funding_path)
    merged = upsert(
        spark.read.parquet(funding_path),
        page2,
        key_cols,
        order_cols=order_cols,
    )
    atomic_overwrite(merged, funding_path)
    n, chk = _summarize(
        spark.read.parquet(funding_path), "funding_rate"
    )
    summaries.append(("update_funding_data", n, chk))

    # -- task 6: update_funding_stats (flagship snapshot, K4) ----------
    stats = funding_stats_from_rates(spark.read.parquet(funding_path))
    stats_path = os.path.join(base_dir, "kucoin_funding_stats")
    atomic_overwrite(stats, stats_path)
    n, chk = _summarize(spark.read.parquet(stats_path), "funding_8h")
    summaries.append(("update_funding_stats", n, chk))

    return summaries


def main_dag_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the DAG in a throwaway temp dir and return the summary
    frame. The dir is removed once the summaries are computed (they
    are plain Python scalars by then, so the returned frame has no
    lazy dependency on the deleted files)."""
    import shutil
    import tempfile

    base_dir = tempfile.mkdtemp(prefix="main_dag_parity_")
    try:
        rows = run_main_dag(spark, sf_dir, base_dir)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return spark.createDataFrame(rows, SUMMARY_SCHEMA)
