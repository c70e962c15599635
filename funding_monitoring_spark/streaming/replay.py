"""Replay a static table as a micro-batch file stream.

The reference's source is a REST poll every 5 minutes (one JSON batch
per tick, dags/kucoin_main_dag.py:28); the streaming analogue is a file
source where each arriving file is one tick's batch. This module writes
a static DataFrame as N single-file parquet chunks in event-time order
(so watermarks advance monotonically, as they would against a live
feed) and opens a `readStream` over them with one file per trigger.

Harness-only (replaying fixtures, not a production path), but scale-
shaped anyway: chunk assignment is `repartitionByRange` on
(ts, tiebreak) — a sampled range shuffle, every partition written in
parallel by its own task — not a single-partition global window, so
the writer neither funnels the table through one task nor emits
`WindowExec: No Partition Defined` warnings.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def write_time_ordered_chunks(
    df: DataFrame,
    out_dir: str,
    n_chunks: int,
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> T.StructType:
    """Write df as n_chunks single-file parquet chunks of exactly
    ceil(total/n_chunks) rows (NTILE semantics — the streaming suite's
    batch oracles mirror this split), assigned in (ts, tiebreak)
    order; chunk file mtimes increase with the chunk index so the file
    source processes them in order — watermarks advance monotonically,
    as against a live feed. Returns the schema (readStream requires an
    explicit one)."""
    os.makedirs(out_dir, exist_ok=True)
    ranged = (
        df.repartitionByRange(n_chunks, F.col(ts_col), F.col(tiebreak_col))
        .sortWithinPartitions(ts_col, tiebreak_col)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # zipWithIndex-style exact global rank: per-partition counts (one
    # light pass over the cached frame) -> cumulative offsets joined
    # back broadcast, + a PARTITIONED row_number. Chunks are exactly
    # ceil(total/n_chunks) rows (NTILE semantics, which the streaming
    # suite's batch oracles mirror); no single-partition window.
    counts = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    per_chunk = max(1, -(-total // n_chunks))  # ceil div
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    mapping = spark.createDataFrame(
        offsets or [(0, 0)], "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(ts_col, tiebreak_col)
    chunked = (
        ranged.withColumn("__local", F.row_number().over(w))
        .join(F.broadcast(mapping), "__pid")
        .withColumn(
            "__chunk",
            F.floor(
                (F.col("__off") + F.col("__local") - 1) / per_chunk
            ).cast("int"),
        )
        .drop("__pid", "__local", "__off")
        # co-locate each chunk in one task so every chunk is one file
        .repartition(n_chunks, "__chunk")
        .sortWithinPartitions(ts_col, tiebreak_col)
    )
    stage = tempfile.mkdtemp(prefix="fm_chunks_stage_")
    chunked.write.partitionBy("__chunk").mode("overwrite").parquet(stage)
    ranged.unpersist()

    chunk_dirs = sorted(
        glob.glob(os.path.join(stage, "__chunk=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    base_mtime = 1_000_000_000  # fixed epoch base: deterministic ordering
    for i, d in enumerate(chunk_dirs):
        parts = glob.glob(os.path.join(d, "part-*.parquet"))
        # one range partition == one task == one file (no file splits
        # configured); fail loudly rather than silently dropping data
        assert len(parts) == 1, f"expected 1 part in {d}, got {len(parts)}"
        dest = os.path.join(out_dir, f"chunk-{i:04d}.parquet")
        shutil.move(parts[0], dest)
        os.utime(dest, (base_mtime + i * 60, base_mtime + i * 60))
    if not chunk_dirs:  # empty input: one empty chunk so the stream starts
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(stage)
        [part_file] = glob.glob(os.path.join(stage, "part-*.parquet"))
        dest = os.path.join(out_dir, "chunk-0000.parquet")
        shutil.move(part_file, dest)
        os.utime(dest, (base_mtime, base_mtime))
    shutil.rmtree(stage, ignore_errors=True)
    return df.schema


def stream_from_chunks(
    spark: SparkSession,
    chunks_dir: str,
    schema: T.StructType,
) -> DataFrame:
    """File-source stream over a chunk directory, read one chunk file
    per micro-batch: one reference tick per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
    )
