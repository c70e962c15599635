"""foreachBatch sinks: last-write-wins parquet upsert and atomic
snapshot overwrite.

The reference's sinks are Postgres `INSERT ... ON CONFLICT DO UPDATE`
(K1/K2, funding_rates_etl.py:100-111) and TRUNCATE-reload / to_sql
replace (K3/K4, active_futures_etl.py:90-104, funding_stats_etl.py:128).
Spark Structured Streaming's contract for custom sinks is foreachBatch:
at-least-once batch delivery + an idempotent writer = effectively-once
(the analogue of the reference's retries + PK-upsert, SURVEY.md §2.9).

Both writers here are idempotent: replaying a batch recomputes the same
merge (last-write-wins is deterministic) and the overwrite is atomic
(write to a temp dir, swap). On a lakehouse the upsert is Delta/Iceberg
`MERGE INTO`; this parquet implementation keeps the engine
storage-agnostic.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from funding_monitoring_spark.operators.upsert import (
    cdc_materialize,
    dedupe_batch,
    upsert,
)


def atomic_overwrite(
    df: DataFrame,
    path: str,
    extra_files: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
    writer_options: dict | None = None,
) -> None:
    """Materialize df into `path`, atomically: write a sibling
    versioned data dir, then swap a symlink over `path` with a single
    ``os.replace`` — readers racing the swap resolve either the old or
    the new version, never a missing path, and a crash at any point
    leaves `path` valid (rename(2) atomically replaces the link).
    The input may itself read from `path` (the merge case) — it is
    fully written out before the swap.

    extra_files: optional {name: content} sidecar metadata committed
    atomically WITH the data — written into the versioned dir before
    the swap, so readers never observe data without its metadata (or
    vice versa). Names must start with ``_`` so Spark's file index
    ignores them (same convention as ``_SUCCESS``).

    Crash recovery: an interrupted write strands only unreferenced
    ``.__v_*`` / ``.__ln_*`` siblings; the next successful overwrite
    garbage-collects every version except the current one and its
    immediate predecessor — the predecessor survives one more tick so
    a reader that resolved the link just before the swap can finish
    its scan (snapshot-isolation grace, the local-FS analogue of
    retained table versions). On an object store the swap is a
    manifest/metadata commit (Delta/Iceberg), same idempotence
    contract.
    """
    path = os.path.abspath(path)
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    token = uuid.uuid4().hex[:8]
    data = f"{path}.__v_{token}"
    writer = df.write.mode("overwrite")
    if partition_by:
        # preserve a partitioned store's pruning layout across rewrites
        writer = writer.partitionBy(*partition_by)
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    writer.parquet(data)
    for name, content in (extra_files or {}).items():
        if not name.startswith("_"):  # must be Spark-invisible
            raise ValueError(
                f"extra_files name {name!r} must start with '_' so "
                "Spark's file index ignores it (like _SUCCESS)"
            )
        with open(os.path.join(data, name), "w") as fh:
            fh.write(content)

    prev = os.readlink(path) if os.path.islink(path) else None
    if os.path.exists(path) and not os.path.islink(path):
        # legacy real-directory store (pre-symlink layout): one
        # non-atomic migration rename, after which swaps are atomic
        prev = f"{os.path.basename(path)}.__v_legacy_{token}"
        os.rename(path, os.path.join(parent, prev))
    link_tmp = f"{path}.__ln_{token}"
    os.symlink(os.path.basename(data), link_tmp)
    os.replace(link_tmp, path)  # the atomic commit point

    current = os.readlink(path)
    base = os.path.basename(path)
    for entry in os.listdir(parent):
        stale_version = (
            entry.startswith(f"{base}.__v_")
            and entry not in (current, prev)
        )
        stale_link = entry.startswith(f"{base}.__ln_")
        stale_old = entry.startswith(f"{base}.__old_")  # pre-rewrite era
        if stale_version or stale_old:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        elif stale_link:
            try:
                os.unlink(os.path.join(parent, entry))
            except OSError:
                pass


def upsert_writer(
    store_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    on_batch_complete: Callable[[DataFrame], None] | None = None,
    seq_col: str | None = None,
    check_empty: bool = True,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: dedupe the batch on key_cols (max order_cols
    wins), then order-aware merge into the parquet store — order_cols
    decide cross-batch conflicts too (max wins, tie to the incoming
    row), so a late re-emission of an older state (e.g. after streaming
    state eviction) cannot regress a stored row.

    seq_col: when set, each batch's rows gain a column holding the
    MICRO-BATCH id before the merge — the right order key for
    cumulative per-key state whose emissions are monotone in batch
    order but NOT in any data column (a stateful fold that ingests a
    late-but-valid event emits newer state with an OLDER max event
    time; merging on event time would wrongly reject it, and per-key
    counters reset on state eviction). Callers put seq_col in
    order_cols. Replays re-run under their original batch id
    (checkpoint offsets), so retries merge idempotently.

    on_batch_complete: hook called with the post-merge store DataFrame
    (used by the funding pipeline to recompute its per-tick snapshot).
    check_empty: probe each micro-batch for emptiness and skip the
    merge + hook when it carries no rows — availableNow runs one final
    EMPTY batch per stateful upstream operator (watermark dedup,
    session windows) purely to advance the watermark, and an empty
    merge is a no-op on an initialized store. The probe is one tiny
    job per batch; a caller whose upstream is STATELESS (every batch
    carries rows by construction) passes False to skip it.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # A stateful upstream (watermark dedup, session windows) makes
        # availableNow run one final batch with NO input rows purely to
        # advance the watermark and evict state; an already-initialized
        # store is unchanged by an empty merge, so skip the two jobs.
        if check_empty and os.path.exists(store_path) and batch_df.isEmpty():
            return
        batch = batch_df
        if seq_col is not None:
            batch = batch.withColumn(seq_col, F.lit(batch_id))
        # the deduped batch is scanned three times by the ordered merge
        # (broadcast key build, semi-join probe, union arm); without a
        # persist each scan replays the source-read + dedupe shuffle
        batch = dedupe_batch(batch, key_cols, order_cols).persist()
        try:
            if os.path.exists(store_path):
                existing = spark.read.parquet(store_path)
                merged = upsert(
                    existing, batch, key_cols, order_cols=order_cols
                )
            else:
                merged = batch
            atomic_overwrite(merged, store_path)
        finally:
            batch.unpersist()
        if on_batch_complete is not None:
            on_batch_complete(spark.read.parquet(store_path))

    return write


def delta_append_writer(
    store_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for MERGE-ON-READ stores: each micro-batch
    writes ONLY its own (within-batch deduped) rows into an
    idempotent ``batch_id=N`` partition directory — a retried batch
    overwrites the same directory with the same rows — and conflict
    resolution is deferred to read_merged_store. Per-tick cost is
    O(batch), never O(store): the upsert_writer shape re-reads and
    atomically rewrites the WHOLE store every tick, which at 100 TB
    (or a 16k-row hopping store at sf0.1) makes tick cost grow with
    history; windowed rollups whose emissions per key are monotone in
    batch order don't need the store materialized per tick, only
    converged at read time (exactly what the suite oracles compare).
    This is the Delta/Iceberg merge-on-read shape with parquet
    partition dirs as the delta log."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # stateful upstreams make availableNow run one final EMPTY
        # batch purely to advance the watermark — nothing to append
        if batch_df.isEmpty():
            return
        batch = transform(batch_df) if transform is not None else batch_df
        batch = dedupe_batch(batch, key_cols, order_cols)
        batch.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    return write


def read_merged_store(
    spark,
    store_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Reader half of delta_append_writer: resolve cross-batch
    conflicts with the SAME total order the sequential upsert fold
    used — max (order_cols, batch_id) wins per key, so the merged
    frame is row-identical to a store that had been per-tick-merged
    with upsert(order_cols=..., tie to the newer batch). One max_by
    aggregation (map-side partials), no window shuffle.

    A store whose every micro-batch was empty (delta_append_writer
    skips empty batches, so the directory is never created) raises a
    clear error naming the store rather than Spark's generic
    path-not-found."""
    import os
    import re as _re

    # the friendly missing-store guard only applies to schemeless
    # (local-filesystem) paths: an hdfs://, s3a://, ... store URI
    # goes straight to spark.read, which resolves it through the
    # Hadoop filesystem layer (an os.path probe would false-negative
    # on a store that exists remotely).
    has_scheme = _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", store_path)
    if not has_scheme and not os.path.isdir(store_path):
        raise FileNotFoundError(
            f"merged store {store_path!r} does not exist — no "
            "micro-batch ever wrote a delta (delta_append_writer "
            "skips empty batches); run the stream first or check "
            "the store path"
        )
    df = spark.read.parquet(store_path)
    return dedupe_batch(
        df, key_cols, [*order_cols, "batch_id"]
    ).drop("batch_id")


def cdc_writer(
    store_path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    run_id: str = "default",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch CDC compactor: per batch, the max-order change per
    key wins (operators/upsert.cdc_materialize, one map-side-combinable
    max_by aggregation); the store then merges it with
    per-key change-count accumulation. Tombstones are KEPT in the
    store — a delete is a row like any other, so a later re-insert of
    the key still accumulates its full change history; readers filter
    tombstones out (streaming/pipelines.py cdc dispatch).

    Cross-batch conflicts are order-aware: a stored row with a HIGHER
    order key keeps its values against a stale re-emission (the
    incoming row still bumps n_changes — it IS a change arrival).

    Effectively-once: unlike the last-write-wins merges, count
    accumulation is NOT naturally idempotent, so the writer records
    the last applied batch_id in a ``_applied_batch`` marker committed
    atomically WITH the store (written inside the versioned dir before
    the symlink swap — atomic_overwrite's extra_files) and skips a
    replayed batch. A crash before the swap leaves the old store with
    its old marker (replay re-applies onto the old state — correct); a
    crash after the swap leaves the new store with its new marker
    (replay is skipped — correct). There is no window where data and
    marker disagree.

    run_id namespaces the marker by streaming-query identity (callers
    pass the checkpoint location): a FRESH checkpoint restarts batch
    ids at 0, and without the namespace a store that outlived its
    checkpoint would silently skip every batch of the new query. A
    marker whose run_id differs never suppresses a batch.

    Scale shape: every join broadcasts the (tiny) batch against the
    (huge) store — anti-join for untouched keys, semi-join to fetch
    the contested keys' prior state — so the store never shuffles.
    """
    marker = os.path.join(store_path, "_applied_batch")
    legacy_marker = store_path + ".__applied_batch"  # pre-atomic layout

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(marker):
            with open(marker) as fh:
                applied_run, applied_id = fh.read().splitlines()
            if applied_run == run_id and int(applied_id) >= batch_id:
                return  # replay of an already-applied batch
        elif os.path.exists(legacy_marker):
            # Pre-atomic layout left only the sidecar marker. It is
            # run_id-less (one query per store back then), so honor it
            # under a same-run assumption: a batch replayed across the
            # layout upgrade must not re-apply and double-count.
            with open(legacy_marker) as fh:
                if int(fh.read().strip() or -1) >= batch_id:
                    return  # replay across the layout upgrade
        spark = batch_df.sparkSession
        order_key = F.struct(*[F.col(c) for c in order_cols])
        value_cols = [c for c in batch_df.columns if c not in key_cols]
        # tombstones stay in the store, so no change row is a delete
        latest = cdc_materialize(batch_df, key_cols, order_cols, F.lit(False))
        if os.path.exists(store_path):
            store = spark.read.parquet(store_path)
            batch_keys = F.broadcast(
                latest.select(*key_cols).dropDuplicates(list(key_cols))
            )
            survivors = store.join(
                batch_keys, on=list(key_cols), how="left_anti"
            )
            prev = store.join(
                batch_keys, on=list(key_cols), how="left_semi"
            ).select(
                *key_cols,
                *[F.col(c).alias(f"__prev_{c}") for c in value_cols],
                F.col("n_changes").alias("__prev_changes"),
            )
            new_wins = F.col("__prev_changes").isNull() | (
                order_key
                >= F.struct(*[F.col(f"__prev_{c}") for c in order_cols])
            )
            merged = latest.join(
                F.broadcast(prev), on=list(key_cols), how="left"
            ).select(
                *key_cols,
                *[
                    F.when(new_wins, F.col(c))
                    .otherwise(F.col(f"__prev_{c}"))
                    .alias(c)
                    for c in value_cols
                ],
                (
                    F.coalesce(F.col("__prev_changes"), F.lit(0))
                    + F.col("n_changes")
                ).alias("n_changes"),
            )
            out = survivors.unionByName(merged)
        else:
            out = latest
        atomic_overwrite(
            out,
            store_path,
            extra_files={"_applied_batch": f"{run_id}\n{batch_id}"},
        )
        if os.path.exists(legacy_marker):
            os.unlink(legacy_marker)

    return write
