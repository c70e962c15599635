"""Physical-plan inspection: the feedback loop for scale tuning.

`.explain("formatted")` prints; these return strings/structures so
plan properties can be asserted programmatically — the engine's
plan-quality gates (tests/test_plans.py) are built on them. The
properties that matter at 100 TB: are filters pushed to the scan, is
the read schema pruned, do dims broadcast, how many exchanges does a
pipeline need.

The module also holds the helpers that read the same plan/session
state to shape a frame: ``scan_size_bytes`` (Catalyst's size
estimate), ``spread_to_parallelism`` (partition-count probe) and
``conf_override`` (a scoped session conf).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def plan_string(df: DataFrame, mode: str = "simple") -> str:
    """The query execution plan as a string (mode: simple | extended |
    formatted | codegen | cost)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def scan_size_bytes(df: DataFrame) -> int:
    """Catalyst's file-size-based estimate of the frame's source scan
    (no job, any filesystem). Unknown/huge estimates return as-is —
    the caller treats big as 'persist', the at-scale-safe default."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — estimate only; default to big
        return 1 << 62


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin an UNDER-partitioned frame across the session's
    default parallelism; a frame that already has that many
    partitions is returned as is. A single-file parquet source
    arrives as ONE partition, which would run every derived stage on
    one core. Pass a projection of a scan: its partition count costs
    no job, while on an aggregate's output ``getNumPartitions`` runs
    the shuffle (AQE sizes it) only for the repartition to run it
    again."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


@contextmanager
def conf_override(
    spark: SparkSession, key: str, value: str
) -> Iterator[None]:
    """Set a session conf for the duration of the block, then restore
    its previous value — or unset it if it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _full_plan_string(df: DataFrame) -> str:
    """plan_string with scan metadata untruncated (PushedFilters /
    ReadSchema are cut at spark.sql.maxMetadataStringLength=100 by
    default, which hides columns from the audits below)."""
    with conf_override(
        df.sparkSession, "spark.sql.maxMetadataStringLength", "100000"
    ):
        # .alias() yields a fresh Dataset (the SubqueryAlias optimizes
        # away) so the plan — and the scan's metadata string, which is
        # memoized per physical plan — is rebuilt under the raised limit
        return plan_string(df.alias("__plan_audit"))


def count_exchanges(df: DataFrame) -> int:
    """Number of hashpartitioning shuffle exchanges in the plan. The
    shuffle audit: every one is a full repartition of its input — at
    100 TB, count them and justify each."""
    return len(re.findall(r"Exchange hashpartitioning", plan_string(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into parquet scans (empty list = nothing pushed —
    a red flag for any selective query)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", _full_plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each scan (column-pruning audit:
    a scan reading all columns for a 2-column projection is wrong)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", _full_plan_string(df)):
        out.append(set(re.findall(r"(\w+):", m.group(1))))
    return out
