"""Main-DAG orchestration parity (pipeline/main_dag.py): the six
reference tasks (kucoin_main_dag.py:59-64) run as one driver program,
materialize their table stores, and the per-stage summary is
internally consistent with the stores left on disk."""

from __future__ import annotations

import os

from funding_monitoring_spark.pipeline.main_dag import (
    main_dag_summary,
    run_main_dag,
)

STORES = (
    "kucoin_active_futures",
    "kucoin_active_spot_pairs",
    "kucoin_lending_rates",
    "kucoin_funding_rates",
    "kucoin_funding_stats",
)


def test_main_dag_materializes_every_store(spark, sf_dir, tmp_path):
    base = str(tmp_path / "warehouse")
    os.makedirs(base)
    rows = run_main_dag(spark, sf_dir, base)
    stages = [r[0] for r in rows]
    assert stages == [
        "create_tables",
        "update_active_futures",
        "update_active_spot_pairs",
        "append_new_lending_data",
        "update_funding_data",
        "update_funding_stats",
    ]
    for store in STORES:
        assert spark.read.parquet(os.path.join(base, store)).count() > 0
    by_stage = {r[0]: r for r in rows}
    # summary counts agree with the stores the run left behind
    for stage, store in [
        ("update_active_futures", "kucoin_active_futures"),
        ("update_funding_data", "kucoin_funding_rates"),
        ("update_funding_stats", "kucoin_funding_stats"),
    ]:
        assert by_stage[stage][1] == spark.read.parquet(
            os.path.join(base, store)
        ).count()
    # the funding upsert restricted the store to the futures universe:
    # every stored symbol appears among the futures symbols (sans -TM)
    funding_syms = {
        r["symbol"]
        for r in spark.read.parquet(
            os.path.join(base, "kucoin_funding_rates")
        )
        .select("symbol")
        .distinct()
        .collect()
    }
    futures_syms = {
        r["symbol"].removesuffix("-TM")
        for r in spark.read.parquet(
            os.path.join(base, "kucoin_active_futures")
        )
        .select("symbol")
        .distinct()
        .collect()
    }
    assert funding_syms <= futures_syms
    # stats flow from the funding store: one row per stored symbol
    assert by_stage["update_funding_stats"][1] == len(funding_syms)


def test_main_dag_summary_cleans_up_temp_dir(spark, sf_dir, tmp_path):
    """The registered query variant computes summaries eagerly, so the
    returned frame survives the temp warehouse's removal."""
    df = main_dag_summary(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 6
    assert all(r["n_rows"] > 0 for r in rows)


def test_main_dag_rerun_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the DAG over the same warehouse reproduces identical
    summaries for every stage (the reference's retry safety): the
    snapshots are replaced and the lending and funding stores are
    upserted on their primary keys."""
    base = str(tmp_path / "warehouse")
    os.makedirs(base)
    first = {r[0]: r for r in run_main_dag(spark, sf_dir, base)}
    second = {r[0]: r for r in run_main_dag(spark, sf_dir, base)}
    assert first == second


def test_main_dag_rerun_stores_each_lending_key_once(spark, sf_dir, tmp_path):
    """The lending task upserts on (created_at, loan_duration_days)
    (reference lending_data_etl.py:76-91), so a second run into the
    same warehouse leaves one row per key."""
    base = str(tmp_path / "warehouse")
    os.makedirs(base)
    run_main_dag(spark, sf_dir, base)
    run_main_dag(spark, sf_dir, base)
    lending = spark.read.parquet(os.path.join(base, "kucoin_lending_rates"))
    keys = lending.groupBy("created_at", "loan_duration_days").count()
    assert lending.count() > 0
    assert keys.filter("count > 1").count() == 0
