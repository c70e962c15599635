"""Store maintenance: small-file compaction.

Streaming sinks that APPEND per micro-batch (the lending store's
``batch_id=N`` directories, streaming/pipelines.py) fragment over
ticks: at a 5-minute cadence a table collects ~288 small files/day,
and at 100 TB the scan cost of a fragmented store is dominated by
file-open/footer overhead, not bytes. ``compact_store`` rewrites a
parquet store into size-targeted files — content-identical, atomic
(temp dir + swap, same policy as streaming/sinks.atomic_overwrite),
partition-layout-preserving — and returns a before/after report.

Scale notes: sizing uses the store's actual on-disk bytes (driver-side
``os.walk`` over the directory listing — metadata only, no data moves
through the driver); the rewrite itself is one distributed
repartition+write. Running it concurrently with a writer is the
caller's coordination problem, exactly as with any overwrite sink.
"""

from __future__ import annotations

import math
import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funding_monitoring_spark.plans.inspect import conf_override
from funding_monitoring_spark.streaming.sinks import atomic_overwrite


def store_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet store directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


#: directory name Spark/Hive writers use for NULL partition values
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_dir_bytes(
    path: str, partition_col: str
) -> dict[str | None, int]:
    """{partition value -> data bytes} for a directory-partitioned
    store (``<path>/<col>=<value>/...``). Metadata-only walk.

    Directory names are URI-unescaped (writers percent-encode spaces,
    ':' etc.), and the ``__HIVE_DEFAULT_PARTITION__`` sentinel maps to
    key ``None`` — so the returned keys compare equal to the COLUMN
    values a reader sees, not the escaped on-disk spelling."""
    out: dict[str | None, int] = {}
    prefix = f"{partition_col}="
    for entry in os.listdir(os.path.realpath(path)):
        if not entry.startswith(prefix):
            continue
        raw = entry[len(prefix):]
        value = (
            None
            if raw == HIVE_DEFAULT_PARTITION
            else urllib.parse.unquote(raw)
        )
        _, b = store_file_stats(os.path.join(path, entry))
        out[value] = b
    return out


def compact_store(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite the parquet store at ``path`` into size-targeted
    files. Flat store: ceil(total_bytes / target_bytes) files. With
    ``partition_cols`` (one directory-partition column — pass the
    store's existing column to preserve its pruning layout), each
    partition directory is planned into k_v = ceil(bytes_v / target)
    file groups via a GLOBAL file index: partition value v owns the
    dense index range [offset_v, offset_v + k_v) (offset = cumulative
    sum of k over sorted values), each row hashes into its value's
    range, and the frame range-partitions on that index — equal
    indices never split across tasks, so a partition can never
    produce MORE than k_v files, and a plain repartition(n, pcol,
    salt)'s failure mode (hash-colliding a hot partition's salts into
    one task/file) is gone.

    Exactness contract (range partitioning balances ROWS, so two
    low-weight groups of the same small partition may share a task
    and bin-pack): per partition, file count is in
    [ceil(rows_v / max_records), k_v], where max_records =
    ceil(1.2 · max_v(rows_v / k_v)) is the writer's per-file row cap.
    For the HOT partition — the one that attains that max — the lower
    bound is ceil(k_hot / 1.2): a hot 10 GB date splits across ~k
    tasks/files and can never funnel through one, which is the
    guarantee compaction exists to provide; partitions much smaller
    than the row-balance step may legitimately pack into fewer,
    correctly sized files. Atomic: readers see the old store until
    the swap. Returns {files_before, files_after, bytes,
    n_files_target}.
    """
    from pyspark.sql import functions as F

    files_before, total = store_file_stats(path)
    df = spark.read.parquet(path)
    if partition_cols:
        if len(partition_cols) != 1:
            raise ValueError(
                "compact_store supports exactly one directory-"
                f"partition column, got {partition_cols!r}"
            )
        pcol = partition_cols[0]
        sizes = partition_dir_bytes(path, pcol)
        k_by_value = {
            v: max(1, math.ceil(b / target_bytes))
            for v, b in sizes.items()
        }
        rows_map = []
        offset = 0
        # None (the NULL partition) sorts first; order only needs to
        # be deterministic for the offsets to be stable
        for v in sorted(k_by_value, key=lambda x: (x is not None, x)):
            rows_map.append((v, k_by_value[v], offset))
            offset += k_by_value[v]
        n_target = offset or 1
        kmap = spark.createDataFrame(
            rows_map, "__pval string, __k int, __off int"
        )
        data_cols = [c for c in df.columns if c != pcol]
        # eqNullSafe: the NULL partition (__HIVE_DEFAULT_PARTITION__
        # on disk, None in kmap) must match too, not fall through
        indexed = (
            df.join(
                F.broadcast(kmap),
                df[pcol].cast("string").eqNullSafe(F.col("__pval")),
                "left",
            )
            .withColumn(
                "__fidx",
                F.coalesce(F.col("__off"), F.lit(0))
                + F.pmod(
                    F.xxhash64(*[F.col(c) for c in data_cols]),
                    F.coalesce(F.col("__k"), F.lit(1)),
                ),
            )
            .drop("__pval", "__k", "__off")
        )
        out = indexed.repartitionByRange(n_target, "__fidx").drop(
            "__fidx"
        )
        # backstop: cap files at the largest per-(partition, index)
        # group's row count, so a range-sampling miss that merges two
        # index groups into one task still splits on write — and no
        # partition is ever split FINER than its k_v (a global
        # bytes/row average would split small partitions with
        # atypically small rows). The count scans only the partition
        # column → answered from directory metadata, no data read.
        counts = {
            r["__p"]: r["n"]
            for r in df.groupBy(
                df[pcol].cast("string").alias("__p")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # 20% slack: hash skew puts some index groups slightly above
        # the exact n_v/k_v mean; without slack those groups would
        # each shed a sliver file. A merged DOUBLE group (the
        # sampling-miss case this backstop exists for) still exceeds
        # the slacked cap and splits.
        max_records = max(
            (
                math.ceil(1.2 * n / k_by_value.get(v, 1))
                for v, n in counts.items()
            ),
            default=None,
        )
        # Range boundaries come from sampling; a tiny partition's
        # index underrepresented in the sample would merge into a
        # neighbor's range bucket. Raise the per-partition sample for
        # the rewrite so every dense index value is seen (n_target is
        # small — the sample stays driver-cheap); the maxRecordsPerFile
        # backstop still catches any residual miss. The conf is read
        # when the exchange EXECUTES, inside the write.
        with conf_override(
            spark,
            "spark.sql.execution.rangeExchange.sampleSizePerPartition",
            "1000",
        ):
            atomic_overwrite(
                out,
                path,
                partition_by=[pcol],
                writer_options=(
                    {"maxRecordsPerFile": max_records}
                    if max_records
                    else None
                ),
            )
    else:
        n_target = max(1, math.ceil(total / target_bytes))
        atomic_overwrite(df.repartition(n_target), path)
    files_after, _ = store_file_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
        "n_files_target": n_target,
    }


def merge_additive_rollup(
    stored: DataFrame,
    delta: DataFrame,
    keys: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """Fold a delta's partial aggregates into a stored rollup —
    incremental view maintenance for DECOMPOSABLE aggregates: counts
    and sums merge by summing, min/max by min/max, and derived stats
    (avg = sum/count) belong at read time, never in the store. The
    merge is one union + re-aggregate over the (tiny) rollup frames,
    so maintaining a daily rollup costs the DELTA's aggregation, not
    a rescan of the table — at 100 TB the difference between a
    pipeline that processes the day and one that reprocesses history.

    Not every aggregate decomposes: COUNT(DISTINCT) and exact
    percentiles need either the raw data or a mergeable sketch — use
    the HLL / KMV / Count-Min / GK operators for those (same merge
    shape, sketch-typed state).

    ``merges`` maps each value column to its merge function:
    'sum' (counts merge as sums of counts), 'min', or 'max'."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = {c: h for c, h in merges.items() if h not in fns}
    if bad:
        raise ValueError(
            f"non-decomposable merge spec {bad}: only sum/min/max "
            "merge; distinct-style aggregates need a sketch"
        )
    aggs = [fns[h](c).alias(c) for c, h in merges.items()]
    return stored.unionByName(delta).groupBy(*keys).agg(*aggs)
