"""The streaming pipelines: the reference's 5-minute-tick DAG semantics
as Structured Streaming jobs (SURVEY.md §2.9).

| reference behavior | here |
|---|---|
| 5-min schedule (kucoin_main_dag.py:28) | `trigger(processingTime='5 minutes')` (tests: `availableNow`) |
| dedup on (symbol, funding_time) (funding_rates_etl.py:93-95) | per-batch dedupe + `dropDuplicatesWithinWatermark` for exact re-sends |
| PK upsert, re-arrival updates value (funding_rates_etl.py:105-108) | last-write-wins foreachBatch merge (sinks.upsert_writer) |
| 5-min bucketing of created_at (lending_data_etl.py:54-60) | tumbling `F.window(ts, interval)` + watermark |
| stats recomputed per tick over stored table (funding_stats_etl.py) | stream-static recompute inside foreachBatch |
| retries + idempotent load (kucoin_main_dag.py:12-13) | checkpoint + idempotent sinks = effectively-once |
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funding_monitoring_spark.functions.scalars import ceil_to_interval
from funding_monitoring_spark.pipeline.funding_stats import (
    ROUND,
    funding_stats_from_rates,
    rates_from_events,
)
from funding_monitoring_spark.plans.inspect import conf_override
from funding_monitoring_spark.streaming.replay import stream_from_chunks
from funding_monitoring_spark.streaming.sinks import (
    atomic_overwrite,
    cdc_writer,
    delta_append_writer,
    read_merged_store,
    upsert_writer,
)

#: duplicate horizon: duplicates only arise between adjacent ticks
#: (SURVEY.md §7 "What's hard" #5) → 2× the 5-min trigger interval
WATERMARK_DELAY_SECONDS = 600
WATERMARK_DELAY = "10 minutes"
TRIGGER_INTERVAL = "5 minutes"  # the reference cadence

RATE_KEYS = ["symbol", "funding_time"]
RATE_ORDER = ["event_id"]


def _run(
    writer_query,
    available_now: bool,
    checkpoint: str,
    trigger_interval: str = TRIGGER_INTERVAL,
):
    """Start ``writer_query`` on ``checkpoint``; every pipeline starts
    its query here. availableNow replays what is present, waits for the
    query to end and returns it, finished (its ``recentProgress`` holds
    Spark's per-tick report); the processingTime cadence returns the
    running query for the caller to stop."""
    w = writer_query.option("checkpointLocation", checkpoint)
    if not available_now:
        return w.trigger(processingTime=trigger_interval).start()
    q = w.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    except BaseException:
        q.stop()
        raise
    return q


def streaming_upsert_rates(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
    trigger_interval: str = TRIGGER_INTERVAL,
):
    """Funding-rate ingestion (reference funding_rates_etl main loop):
    events stream → rates shape → exact-resend suppression within the
    watermark → per-batch dedupe + last-write-wins upsert into the
    parquet store. Effectively-once under restart (checkpoint +
    idempotent merge).

    available_now=True replays everything present and terminates (the
    test/backfill mode). available_now=False is the reference's live
    cadence — a processingTime trigger that keeps polling the source
    dir; the returned StreamingQuery handle lets the caller stop it.
    """
    src = stream_from_chunks(spark, chunks_dir, schema)
    rates = (
        rates_from_events(src)
        .withWatermark("funding_time", watermark)
        .dropDuplicatesWithinWatermark()
    )
    writer = rates.writeStream.foreachBatch(
        upsert_writer(store_path, RATE_KEYS, RATE_ORDER)
    )
    return _run(writer, available_now, checkpoint, trigger_interval)


def streaming_tumbling_rollup(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    interval: str = TRIGGER_INTERVAL,
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
):
    """Tumbling-window rollup (the C10 5-minute bucketing as a true
    streaming window agg): per (window, event_type) count + sum, update
    mode; each batch's updated windows are last-write-wins-upserted by
    window key, so the store converges to the complete per-window
    values. Late rows beyond the watermark are dropped once the
    watermark has propagated (one micro-batch after the advancing
    data — standard Spark behavior); documented stream-vs-batch
    divergence: the reference's Postgres upsert would accept them."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", interval).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND).alias("sum_value"),
        )
    )

    def flatten(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )

    writer = agg.writeStream.outputMode("update").foreachBatch(
        # update mode re-emits the complete aggregate each time a
        # window changes; the latest emission per key wins — resolved
        # at READ time (merge-on-read deltas), so each tick writes
        # O(batch) rows instead of rewriting the whole store
        delta_append_writer(
            store_path,
            key_cols=["window_start", "event_type"],
            order_cols=["n_events"],
            transform=flatten,
        )
    )
    return _run(writer, available_now, checkpoint)


def streaming_ohlc_bars(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    interval: str = "1 hour",
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
):
    """Hourly OHLC candlesticks as a streaming window aggregate: the
    batch bars query's five aggregates (min_by/max_by open/close over
    the total (ts, event_id) order, high/low/count) run incrementally
    in tumbling-window state — Spark's agg state composes min_by
    across micro-batches, so a bar whose ticks span batches converges
    to exactly the batch value. Update mode; each re-emission of a
    changed bar is last-write-wins-upserted by (symbol, bar_ts)."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", interval).alias("w"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )

    def flatten(batch: DataFrame) -> DataFrame:
        return batch.select(
            "symbol",
            F.col("w.start").alias("bar_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )

    writer = agg.writeStream.outputMode("update").foreachBatch(
        delta_append_writer(
            store_path,
            key_cols=["symbol", "bar_ts"],
            order_cols=["n_ticks"],
            transform=flatten,
        )
    )
    return _run(writer, available_now, checkpoint)


def streaming_window_distinct_users(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    interval: str = "1 hour",
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
):
    """Exact DISTINCT-count over streaming windows — the aggregation
    Spark forbids directly (no countDistinct in streaming) — via the
    chained-stateful decomposition: a stateful dropDuplicates on
    (window bucket, user) feeds a windowed count in APPEND mode
    (Spark ≥3.4 allows stacked stateful operators under one watermark
    in append). Each window emits exactly once when the watermark
    passes its end, so bounded replays need the same far-future
    sentinel flush as session windows. Dedup state here is the full
    (window, user) key set; a production deployment bounds it with
    dropDuplicatesWithinWatermark exactly as the ingestion pipeline
    does."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    # the dedup bucket MUST be derived from the same interval as the
    # count windows: a fixed date_trunc('hour') bucket under a
    # non-hour interval would collapse users per hour while counting
    # per interval — silently wrong distinct counts
    bucketed = (
        src.withWatermark("ts", watermark)
        .withColumn(
            "wstart", F.window(F.col("ts"), interval).getField("start")
        )
    )
    dedup = bucketed.dropDuplicates(["wstart", "user_id"])
    agg = dedup.groupBy(F.window("ts", interval).alias("w")).agg(
        F.count(F.lit(1)).alias("n_users")
    )

    def flatten(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users",
        )

    writer = agg.writeStream.outputMode("append").foreachBatch(
        # append mode emits each window exactly once; the delta sink
        # makes the tick O(batch) and stays idempotent under retry
        delta_append_writer(
            store_path,
            key_cols=["window_start"],
            order_cols=["n_users"],
            transform=flatten,
        )
    )
    return _run(writer, available_now, checkpoint)


def streaming_heavy_hitters(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Per-(type, user) activity counts maintained incrementally:
    update-mode streaming aggregation (Spark's agg state composes
    counts across micro-batches), each changed count last-write-wins
    upserted by its key. Ranking happens at READ time over the
    converged store — the stream maintains the (small) count table,
    not the top-k, so a rank change never needs a retraction. No
    watermark: running totals over the whole feed are the point
    (state is bounded by the distinct key space, same as the batch
    shuffle)."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    counts = src.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    writer = counts.writeStream.outputMode("update").foreachBatch(
        delta_append_writer(
            store_path,
            key_cols=["event_type", "user_id"],
            order_cols=["n"],
        )
    )
    return _run(writer, available_now, checkpoint)


def streaming_hopping_rollup(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    window: str = "10 minutes",
    slide: str = TRIGGER_INTERVAL,
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
    trigger_interval: str = TRIGGER_INTERVAL,
):
    """Hopping-window rollup: the overlapping-window twin of
    streaming_tumbling_rollup — each event contributes to
    window/slide windows, Spark maintains state per open window, and
    update-mode emissions upsert by (window_start, event_type). The
    converged store equals the batch hopping aggregation
    (suites/window_suite.py hopping_window_rollup shares the oracle).
    State cost scales with open windows × keys, bounded by the
    watermark — the overlap factor multiplies state, not shuffle."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND).alias("sum_value"),
        )
    )

    def flatten(batch: DataFrame) -> DataFrame:
        return batch.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )

    writer = agg.writeStream.outputMode("update").foreachBatch(
        delta_append_writer(
            store_path,
            key_cols=["window_start", "event_type"],
            order_cols=["n_events"],
            transform=flatten,
        )
    )
    return _run(writer, available_now, checkpoint, trigger_interval)


def streaming_funding_pipeline(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_dir: str,
    checkpoint: str,
    lookback_days: int = 21,
    available_now: bool = True,
):
    """The whole reference main DAG per tick (SURVEY.md §3.1-3.2):
    ingest+upsert funding rates into ``store_dir/funding_rates``, then
    recompute the funding-stats snapshot ``store_dir/funding_stats``
    over the full stored history (stream-static recompute — matches
    the reference's per-tick overwrite, funding_stats_etl.py:128)."""
    rates_path = os.path.join(store_dir, "funding_rates")
    stats_path = os.path.join(store_dir, "funding_stats")

    def recompute_stats(store: DataFrame) -> None:
        atomic_overwrite(
            funding_stats_from_rates(store, lookback_days), stats_path
        )

    # No in-stream dropDuplicatesWithinWatermark here: the LWW merge
    # below already suppresses exact resends idempotently (same key +
    # same order key -> same stored row), so the stateful dedup would
    # only duplicate that guarantee while adding a state-store shuffle
    # per tick AND an extra end-of-replay micro-batch (availableNow
    # runs one final empty batch per stateful operator purely to
    # advance the watermark and evict state). The watermark-dedup
    # ingestion shape itself is demonstrated by streaming_upsert_rates
    # above, which keeps it.
    src = stream_from_chunks(spark, chunks_dir, schema)
    rates = rates_from_events(src)
    writer = rates.writeStream.foreachBatch(
        upsert_writer(
            rates_path,
            RATE_KEYS,
            RATE_ORDER,
            on_batch_complete=recompute_stats,
            # stateless upstream: availableNow never emits an empty
            # flush batch here, so skip the per-batch emptiness probe
            check_empty=False,
        )
    )
    return _run(writer, available_now, checkpoint)


def streaming_media_ingest(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming MULTIMODAL ingestion: binary media payloads arrive
    as a file stream (the shape of a crawl dropping WARC/media
    batches into object storage) and each micro-batch runs the real
    audio codec in Arrow-batched mapInPandas, appending its features
    idempotently (per-batch partition overwrite, the lending-append
    discipline — a retried batch rewrites its own rows). The
    converged feature store equals the batch decode of the whole
    corpus, so the WAV oracle applies verbatim; per-payload decode
    stays embarrassingly parallel inside each tick."""
    from funding_monitoring_spark.operators.multimodal import (
        decode_wav_features,
    )

    src = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        feats = decode_wav_features(
            batch.select(
                F.col("event_id").alias("media_id"), "payload"
            )
        )
        feats.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = src.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


def streaming_lending_append(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """The standalone lending DAG as a stream (SURVEY.md §3.3): per
    tick, cast + group-min rate per term (A1/C14), stamp every row
    with the tick's ceil-to-next-5-min bucket (C10, anchored at the
    batch's max event time for determinism), and APPEND — this table
    accumulates (kucoin_lending_dag.py bulk_load, not truncate).

    Idempotent append: each micro-batch overwrites its own
    ``batch_id=N`` partition directory, so a retried batch rewrites
    the same rows instead of duplicating them (the append analogue of
    the last-write-wins merge)."""
    src = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        anchor = batch.agg(F.max("ts").alias("anchor"))
        grouped = (
            batch.groupBy(
                (F.col("user_id") % 4).cast("int").alias("loan_duration_days")
            )
            .agg(
                F.min(
                    F.col("value").cast("string").cast("double")
                ).alias("daily_interest_rate")
            )
            .crossJoin(F.broadcast(anchor))
        )
        out = grouped.select(
            ceil_to_interval(F.col("anchor")).alias("created_at"),
            "daily_interest_rate",
            "loan_duration_days",
            F.round(F.col("daily_interest_rate") * 365, ROUND).alias(
                "annualized_interest_rate"
            ),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = src.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


def streaming_drawdown_stateful(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    buckets: int | None = None,
):
    """Per-symbol maximum drawdown maintained ACROSS micro-batches —
    path-dependent state (running peak + worst trough ratio) that no
    built-in streaming aggregate expresses, the second
    applyInPandasWithState operator next to the EWMA. State is
    BUCKETED like the EWMA's (symbols hash into ``buckets`` groups,
    per-group parallel arrays): the operator's protocol cost is per
    key GROUP, so per-symbol grouping would pay O(live keys) Arrow +
    state round trips per micro-batch — see streaming_ewma_stateful.
    Per symbol the state is (run_max, max_dd, n); within a batch rows
    fold in (funding_time, event_id) order, and chunks replay in that
    order, so the streamed state equals the batch running-max window
    computation exactly — every division v/run_max happens on the
    same operands in the same order on both engines, so raw doubles
    hash (no rounding needed; the min is order-independent). Points
    where run_max <= 0 are excluded (drawdown requires a positive
    peak); a key with no positive peak reports NULL max_drawdown."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    import numpy as np  # noqa: PLC0415 — worker-side import parity
    import pandas as pd  # noqa: PLC0415 — worker-side import parity

    if buckets is None:
        buckets = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))

    src = stream_from_chunks(spark, chunks_dir, schema)
    rates = rates_from_events(src).withColumn(
        "__bucket", F.pmod(F.xxhash64("symbol"), F.lit(buckets))
    )

    def update(key, pdfs, state):
        frames = [p for p in pdfs if len(p)]
        if state.exists:
            syms, peaks, dds, ns = (list(x) for x in state.get)
        else:
            syms, peaks, dds, ns = [], [], [], []
        if not frames:
            state.update((syms, peaks, dds, ns))
            return
        rows = pd.concat(frames)
        order = np.lexsort(
            (rows["event_id"].to_numpy(), rows["funding_time"].to_numpy())
        )
        sym = rows["symbol"].to_numpy()[order]
        so = np.argsort(sym, kind="stable")
        sym = sym[so]
        vals = rows["funding_rate"].to_numpy(np.float64)[order][so]
        uniq, starts = np.unique(sym, return_index=True)
        ends = np.append(starts[1:], len(sym))
        pos = {s: i for i, s in enumerate(syms)}
        out = {"symbol": [], "max_drawdown": [], "peak": [], "n": []}
        for u, s0, s1 in zip(uniq.tolist(), starts.tolist(), ends.tolist()):
            i = pos.get(u)
            if i is None:
                i = len(syms)
                syms.append(u)
                peaks.append(float("-inf"))
                dds.append(0.0)
                ns.append(0)
            run_max, max_dd = peaks[i], dds[i]
            for v in vals[s0:s1].tolist():
                if v > run_max:
                    run_max = v
                # drawdown only folds from a POSITIVE peak (zero peak
                # divides by zero, negative peak flips the sign —
                # funding rates go negative); same CASE guard in the
                # batch twin and both oracles
                if run_max > 0:
                    dd = v / run_max - 1.0
                    if dd < max_dd:
                        max_dd = dd
            peaks[i], dds[i] = run_max, max_dd
            ns[i] += s1 - s0
            out["symbol"].append(u)
            # no positive peak yet -> the statistic is undefined
            out["max_drawdown"].append(max_dd if run_max > 0 else None)
            out["peak"].append(run_max)
            out["n"].append(ns[i])
        state.update((syms, peaks, dds, ns))
        yield pd.DataFrame(out)

    out = rates.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "symbol string, max_drawdown double, peak double, n long"
        ),
        stateStructType=(
            "symbols array<string>, run_max array<double>, "
            "max_dd array<double>, ns array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = out.writeStream.outputMode("update").foreachBatch(
        upsert_writer(store_path, ["symbol"], ["n"])
    )
    return _run(writer, available_now, checkpoint)


def streaming_snapshot_commits(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Stream ingestion INTO the versioned snapshot store: every
    micro-batch appends its rows as one snapshot commit
    (sources/snapshots.snapshot_commit_writer), so the store doubles
    as the stream's transaction log — any historical tick boundary is
    a readable version, downstream jobs consume the appends
    incrementally via read_snapshot_changes, and a redelivered batch
    is skipped by manifest batch_id instead of double-committed
    (effectively-once, the same contract as the upsert sinks but with
    time travel for free)."""
    from funding_monitoring_spark.sources.snapshots import (
        snapshot_commit_writer,
    )

    src = stream_from_chunks(spark, chunks_dir, schema)
    writer = src.writeStream.foreachBatch(
        snapshot_commit_writer(store_path)
    )
    return _run(writer, available_now, checkpoint)


def streaming_contract_ledger(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    rules: list[dict],
    available_now: bool = True,
):
    """Per-micro-batch data-contract validation: every tick runs
    check_constraints over ITS rows and appends (batch_id, rule,
    n_violations, passed) to a ledger store — the gate a streaming
    ingest needs (alert the tick that violated, not the day after).

    Only row-predicate rules belong here: their counts are ADDITIVE
    across batches, so the summed ledger equals the batch-mode report
    over the full input — which is exactly what the oracle checks.
    Cross-row rules (unique, foreign_key) are NOT additive per batch
    (a duplicate spanning two ticks is invisible to both); run those
    against the accumulated store, not the stream — fail loudly here
    rather than under-count silently.

    Idempotent append: each batch overwrites its own ``batch_id=N``
    partition, so a redelivered batch rewrites the same ledger rows
    instead of double-counting them."""
    from funding_monitoring_spark.operators.quality import (
        check_constraints,
    )

    bad = [r["rule"] for r in rules if r["kind"] != "pred"]
    if bad:
        raise ValueError(
            f"streaming contracts must be row-predicate rules; "
            f"{bad} are not additive across micro-batches"
        )
    src = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        report = check_constraints(batch, rules)
        report.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = src.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


#: session gap for the streaming sessionization pipeline — the single
#: canonical value; both session suites import it
SESSION_GAP_SECONDS = 8 * 3600


def streaming_session_windows(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    gap_seconds: int = SESSION_GAP_SECONDS,
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
):
    """Stateful merging session windows over the stream: Spark's
    session_window aggregation (append mode), written through the
    idempotent upsert sink keyed on (user_id, session_start).

    Streaming session windows support APPEND mode only (Spark emits a
    session exactly once, when the watermark passes its end — merging
    windows cannot re-emit safely). A bounded replay therefore needs a
    flush: callers append a far-future sentinel event whose arrival
    advances the watermark past every real session's end (the standard
    close-of-stream technique; the suite query filters the sentinel's
    own session back out). The foreachBatch upsert keeps the sink
    idempotent under batch retry even though each session arrives only
    once."""
    src = stream_from_chunks(spark, chunks_dir, schema)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{gap_seconds} seconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), ROUND).alias("sum_value"),
        )
    )

    def flatten(batch: DataFrame) -> DataFrame:
        return batch.select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )

    writer = agg.writeStream.outputMode("append").foreachBatch(
        delta_append_writer(
            store_path,
            key_cols=["user_id", "session_start"],
            order_cols=["n_events"],
            transform=flatten,
        )
    )
    return _run(writer, available_now, checkpoint)


#: click→purchase attribution horizon for the stream-stream join
ATTRIBUTION_HORIZON = "60 minutes"


def streaming_click_attribution(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    watermark: str = WATERMARK_DELAY,
):
    """Stream-stream event-time range join (beyond the reference
    surface — its DAG only ever joins a stream to a static snapshot):
    a clicks stream inner-joined to a purchases stream on user_id with
    purchase_ts in [click_ts, click_ts + horizon].

    Both sides carry watermarks; Spark derives each side's state
    retention from the range condition (clicks must be held for
    horizon + watermark, purchases only for the watermark), so join
    state is bounded no matter how long the streams run — the property
    that makes this viable on an unbounded 100 TB feed.

    Matches append idempotently (per-batch partition overwrite, same
    contract as the lending append sink); empty batches write nothing,
    so a retried empty batch is a no-op."""
    clicks = (
        stream_from_chunks(spark, chunks_dir, schema)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream_from_chunks(spark, chunks_dir, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""user_id = p_user_id
                AND purchase_ts >= click_ts
                AND purchase_ts <= click_ts + INTERVAL {ATTRIBUTION_HORIZON}"""
        ),
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            batch.write.mode("overwrite").parquet(
                os.path.join(store_path, f"batch_id={batch_id}")
            )

    writer = joined.writeStream.foreachBatch(on_batch)
    q = _run(writer, available_now, checkpoint)
    if available_now and not os.path.exists(store_path):
        # zero matches in every batch: materialize an empty store
        # with the join schema so readers get an empty frame, not
        # a path-not-found error
        spark.createDataFrame([], joined.schema).write.mode(
            "overwrite"
        ).parquet(store_path)
    return q


#: EWMA smoothing factor — 0.25 is exactly representable in binary, so
#: the recursive fold is bit-identical across Python, Spark, and DuckDB
EWMA_ALPHA = 0.25


def _bucket_ttl_tools(ttl_ms: int):
    """ONE definition of the bucketed-TTL eviction rule + timer clamp
    shared by every bucketed stateful pipeline (so the semantics
    cannot drift between them), returned as NESTED functions so the
    worker-side update closures capture them BY VALUE — a
    module-level helper would pickle by reference and require this
    package on executor PYTHONPATHs, which the driver contract does
    not guarantee.

    keep(last_ms, wm, touched, key): Spark's per-key event-time-
    timeout rule per symbol — a key WITH data in the triggering batch
    keeps its state regardless of its deadline; an idle key drops
    once the watermark passes (newest event + TTL).

    arm(state, min_last_ms, wm): bucket timer = the earliest symbol
    deadline, clamped past the watermark (Spark rejects event-time
    timers at/behind it); a clamped symbol is simply evicted at the
    next firing — same observable store."""

    def keep(last_ms, wm, touched, key):
        return key in touched or last_ms + ttl_ms > wm

    def arm(state, min_last_ms, wm):
        state.setTimeoutTimestamp(max(min_last_ms + ttl_ms, wm + 1))

    return keep, arm


def streaming_ewma_stateful(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    alpha: float = EWMA_ALPHA,
    available_now: bool = True,
    state_ttl_ms: int | None = None,
    watermark: str = WATERMARK_DELAY,
    buckets: int | None = None,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-symbol exponentially-weighted moving average maintained
    ACROSS micro-batches, the sanctioned Spark pattern for
    aggregations that aren't built-in-expressible (recursive,
    order-dependent).

    State is BUCKETED, not per-key: symbols hash into ``buckets``
    groups (default 2x the state partitioning) and each group's state
    holds parallel arrays (symbols, ewmas, ns, last_ms). Rationale:
    applyInPandasWithState pays a fixed Arrow + state round trip PER
    KEY GROUP (~10 ms measured), so per-symbol grouping costs
    O(live keys) protocol overhead per micro-batch — 7,500 keys at
    sf0.1 made the protocol 90% of the wall, and a real deployment
    with millions of keys would be protocol-bound outright. Bucketing
    makes invocations O(buckets) while the per-symbol fold runs
    vectorized inside the bucket; state size and semantics are
    unchanged (the fold below is per-symbol in the same order).

    Within a batch rows fold in (funding_time, event_id) order per
    symbol; chunks replay in the same order, so the streamed state
    equals one batch fold over the full history — the oracle (DuckDB
    list_reduce over the ordered value list) checks that exactly,
    bit-for-bit (alpha and 1-alpha are binary-exact).

    ``state_ttl_ms`` bounds per-key state under an OPEN key universe:
    when set, the stream declares a watermark with ``watermark`` delay
    (default the module-wide 10 minutes — NOT zero: event-time
    timeouts require a watermark, and a zero-delay watermark would
    silently drop every cross-batch out-of-order event before it
    reached the fold, changing results far beyond "idle keys get
    evicted"). Per-key event-time-timeout semantics are reproduced
    inside the bucket: each symbol's deadline is (its newest event +
    TTL); a symbol idle past the deadline is dropped from the bucket
    arrays when its bucket next runs — on data (only no-data symbols
    are dropped, matching Spark's rule that a key with data in the
    triggering batch keeps its state) or on the bucket's event-time
    timeout, armed at the min deadline across its symbols. A later
    event restarts the evicted symbol's fold from scratch. Events
    later than the delay are dropped pre-update, the standard
    watermark contract. Default None keeps the reference semantics
    (state = full history, no watermark, nothing dropped) for the
    bounded ~O(100)-symbol universe the reference implies; eviction
    is deterministic (watermark-driven, not wall-clock), so replays
    stay reproducible."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    import numpy as np  # noqa: PLC0415 — worker-side import parity
    import pandas as pd  # noqa: PLC0415 — worker-side import parity

    if buckets is None:
        buckets = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    ttl_on = state_ttl_ms is not None

    src = stream_from_chunks(spark, chunks_dir, schema)
    rates = rates_from_events(src)
    if ttl_on:
        rates = rates.withWatermark("funding_time", watermark)
    rates = rates.withColumn(
        "__bucket", F.pmod(F.xxhash64("symbol"), F.lit(buckets))
    )

    ttl_keep, ttl_arm = _bucket_ttl_tools(state_ttl_ms or 0)

    def _evict(syms, ewmas, ns, lasts, wm, touched):
        keep = [
            i
            for i in range(len(syms))
            if ttl_keep(lasts[i], wm, touched, syms[i])
        ]
        return (
            [syms[i] for i in keep],
            [ewmas[i] for i in keep],
            [ns[i] for i in keep],
            [lasts[i] for i in keep],
        )

    def _arm(state, lasts, wm):
        ttl_arm(state, min(lasts), wm)

    def update(key, pdfs, state):
        if ttl_on and state.hasTimedOut:
            wm = state.getCurrentWatermarkMs()
            syms, ewmas, ns, lasts = state.get
            syms, ewmas, ns, lasts = _evict(
                list(syms), list(ewmas), list(ns), list(lasts), wm, ()
            )
            if not syms:
                state.remove()
                return
            state.update((syms, ewmas, ns, lasts))
            _arm(state, lasts, wm)
            return
        frames = [p for p in pdfs if len(p)]
        if state.exists:
            syms, ewmas, ns, lasts = (list(x) for x in state.get)
        else:
            syms, ewmas, ns, lasts = [], [], [], []
        if not frames:
            state.update((syms, ewmas, ns, lasts))
            if ttl_on and lasts:
                _arm(state, lasts, state.getCurrentWatermarkMs())
            return
        rows = pd.concat(frames)
        ft = rows["funding_time"].to_numpy()
        order = np.lexsort((rows["event_id"].to_numpy(), ft))
        # stable re-sort by symbol keeps (funding_time, event_id)
        # order within each symbol — the fold order the oracle pins
        sym = rows["symbol"].to_numpy()[order]
        so = np.argsort(sym, kind="stable")
        sym = sym[so]
        vals = rows["funding_rate"].to_numpy(np.float64)[order][so]
        ms = ft[order][so].astype("datetime64[ms]").astype("int64")
        uniq, starts = np.unique(sym, return_index=True)
        ends = np.append(starts[1:], len(sym))
        pos = {s: i for i, s in enumerate(syms)}
        out_sym, out_ewma, out_n, out_last = [], [], [], []
        for u, s0, s1 in zip(uniq.tolist(), starts.tolist(), ends.tolist()):
            v = vals[s0:s1]
            i = pos.get(u)
            if i is None:
                i = len(syms)
                syms.append(u)
                ewmas.append(0.0)
                ns.append(0)
                lasts.append(0)
            # plain sequential fold — semantically exact (NaN inputs
            # poison the state, same as the list_reduce oracle);
            # per-batch slices are small, so ewm machinery wouldn't
            # amortize (and its NaN handling diverges from the fold)
            e, j = ewmas[i], 0
            if ns[i] == 0:
                e, j = float(v[0]), 1
            for x in v[j:].tolist():
                e = e * (1 - alpha) + x * alpha
            ewmas[i] = e
            ns[i] += s1 - s0
            lasts[i] = int(ms[s1 - 1])
            out_sym.append(u)
            out_ewma.append(e)
            out_n.append(ns[i])
            out_last.append(lasts[i])
        if ttl_on:
            wm = state.getCurrentWatermarkMs()
            syms, ewmas, ns, lasts = _evict(
                syms, ewmas, ns, lasts, wm, set(out_sym)
            )
            state.update((syms, ewmas, ns, lasts))
            _arm(state, lasts, wm)
        else:
            state.update((syms, ewmas, ns, lasts))
        out = {"symbol": out_sym, "ewma": out_ewma, "n": out_n}
        if ttl_on:
            out["last_ts"] = out_last
        yield pd.DataFrame(out)

    # Without TTL, per-key n grows monotonically, so ordering the
    # store merge by n doubles as recency and guards against stale
    # re-emissions. WITH TTL neither data column is monotone: an
    # evicted key legitimately RESTARTS at n=1 (max-n would pin the
    # stale pre-eviction row forever), and a late-but-valid event
    # folded under a nonzero watermark delay emits NEWER state with
    # an OLDER max event time (max-last_ts would reject it — a real
    # bug the disorder regression test caught). The only monotone
    # key for cumulative state is EMISSION order, so the TTL variant
    # merges on the micro-batch id (upsert_writer seq_col).
    out = rates.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "symbol string, ewma double, n long"
            + (", last_ts long" if ttl_on else "")
        ),
        stateStructType=(
            "symbols array<string>, ewmas array<double>, "
            "ns array<long>, last_ms array<long>"
        ),
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_on
            else GroupStateTimeout.NoTimeout
        ),
    )
    writer = out.writeStream.outputMode("update").foreachBatch(
        upsert_writer(
            store_path,
            key_cols=["symbol"],
            order_cols=["__merge_seq"] if ttl_on else ["n"],
            seq_col="__merge_seq" if ttl_on else None,
        )
    )
    return _run(writer, available_now, checkpoint)


#: trailing-baseline parameters for the streaming anomaly scorer —
#: shared with the batch twin's oracle (suites/streaming_suite.py)
ANOMALY_BASELINE_N = 20
ANOMALY_MIN_OBS = 10
ANOMALY_THRESHOLD = 2.0


def streaming_anomaly_alerts(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    state_ttl_ms: int | None = None,
    watermark: str = WATERMARK_DELAY,
    buckets: int | None = None,
):
    """Streaming twin of operators/anomaly.rolling_zscore: per-symbol
    rolling z-score alerting with the trailing-20 baseline carried
    ACROSS micro-batches via applyInPandasWithState. State is
    BUCKETED like the EWMA's (symbols hash into ``buckets`` groups;
    per-group state = parallel arrays of symbols, flattened trailing
    buffers + per-symbol lengths, last-event ms): the operator's
    protocol cost is per key GROUP, so per-symbol grouping pays
    O(live keys) Arrow + state round trips per micro-batch — see
    streaming_ewma_stateful for the measured rationale.

    ``state_ttl_ms`` (None = reference semantics, keep history
    forever, no watermark) reproduces per-key event-time-timeout
    eviction inside the bucket: each symbol's deadline is (its newest
    event + TTL); an idle symbol's 20-double baseline is dropped from
    the bucket arrays when the bucket next runs — on data (only
    no-data symbols drop, matching Spark's rule that a key with data
    in the triggering batch keeps its state) or on the bucket's
    event-time timeout, armed at the min deadline across its symbols
    — so an open key universe (the key is (user, event_type),
    unbounded at 100 TB) cannot grow state without bound. The
    watermark uses the ``watermark`` delay (default 10 minutes, NOT
    zero: a zero-delay watermark would drop every cross-batch
    out-of-order event before scoring, not just evict idle keys), so
    eviction effectively lands TTL + delay after a key's last event
    and only events later than the delay are dropped. A returning key
    rebuilds its baseline from min_obs, exactly like a brand-new key;
    eviction is watermark-driven and therefore replay-deterministic.

    Each observation is scored against strictly-prior history, so a
    score is immutable the moment it is emitted — append output mode,
    and the converged store equals the batch window computation over
    the whole feed (the oracle). Within a batch rows fold in
    (ts, event_id) order per symbol; chunks replay time-ordered, so
    cross-batch order matches the batch frame exactly. Rounding
    matches the batch twin (avg 6, z 4; the alert decision reads the
    ROUNDED score) so stream, batch, and oracle agree bit-for-bit
    after rounding.

    Scale: state is a bounded 20-double ring per key — O(keys) total,
    no growth with history; per-batch cost is one Arrow round trip
    per BUCKET (protocol O(buckets), not O(keys))."""
    import math

    import numpy as np  # noqa: PLC0415 — worker-side import parity
    import pandas as pd  # noqa: PLC0415 — worker-side import parity

    from pyspark.sql.streaming.state import GroupStateTimeout

    n, min_obs, thr = ANOMALY_BASELINE_N, ANOMALY_MIN_OBS, ANOMALY_THRESHOLD
    if buckets is None:
        buckets = 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    ttl_on = state_ttl_ms is not None

    src = stream_from_chunks(spark, chunks_dir, schema)
    obs = src.select(
        F.concat_ws("-", F.col("user_id"), F.col("event_type")).alias(
            "symbol"
        ),
        "ts",
        "event_id",
        "value",
    )
    if ttl_on:
        obs = obs.withWatermark("ts", watermark)
    obs = obs.withColumn(
        "__bucket", F.pmod(F.xxhash64("symbol"), F.lit(buckets))
    )

    def _unpack(state):
        # state arrays -> {symbol: (buf list, last_ms)}
        if not state.exists:
            return {}
        syms, flat, lens, lasts = state.get
        bufs, at = {}, 0
        for s, ln, last in zip(syms, lens, lasts):
            bufs[s] = (list(flat[at : at + ln]), last)
            at += ln
        return bufs

    def _pack(state, bufs):
        if not bufs:
            state.remove()
            return False
        syms = list(bufs)
        state.update(
            (
                syms,
                [x for s in syms for x in bufs[s][0]],
                [len(bufs[s][0]) for s in syms],
                [bufs[s][1] for s in syms],
            )
        )
        return True

    ttl_keep, ttl_arm = _bucket_ttl_tools(state_ttl_ms or 0)

    def _evict(bufs, wm, touched):
        return {
            s: v
            for s, v in bufs.items()
            if ttl_keep(v[1], wm, touched, s)
        }

    def _arm(state, bufs, wm):
        ttl_arm(state, min(v[1] for v in bufs.values()), wm)

    def update(key, pdfs, state):
        if ttl_on and state.hasTimedOut:
            wm = state.getCurrentWatermarkMs()
            bufs = _evict(_unpack(state), wm, ())
            if _pack(state, bufs):
                _arm(state, bufs, wm)
            return
        # drop empty Arrow slices before concat (their all-NA dtypes
        # would poison the concat result dtype under pandas >= 2.1)
        frames = [p for p in pdfs if len(p)]
        bufs = _unpack(state)
        if not frames:
            if _pack(state, bufs) and ttl_on:
                _arm(state, bufs, state.getCurrentWatermarkMs())
            return
        rows = pd.concat(frames)
        ts = rows["ts"].to_numpy()
        order = np.lexsort((rows["event_id"].to_numpy(), ts))
        sym = rows["symbol"].to_numpy()[order]
        so = np.argsort(sym, kind="stable")
        sym = sym[so]
        eids = rows["event_id"].to_numpy()[order][so]
        vals = rows["value"].to_numpy(np.float64)[order][so]
        ms = ts[order][so].astype("datetime64[ms]").astype("int64")
        uniq, starts = np.unique(sym, return_index=True)
        ends = np.append(starts[1:], len(sym))
        out = {
            "symbol": [],
            "event_id": [],
            "baseline_n": [],
            "baseline_avg": [],
            "zscore": [],
            "is_anomaly": [],
        }
        for u, s0, s1 in zip(uniq.tolist(), starts.tolist(), ends.tolist()):
            buf, _last = bufs.get(u, ([], 0))
            for eid, v in zip(eids[s0:s1].tolist(), vals[s0:s1].tolist()):
                m = len(buf)
                avg_raw = sum(buf) / m if m else None
                z = None
                if m >= min_obs:
                    var = sum((x - avg_raw) ** 2 for x in buf) / (m - 1)
                    if var > 0:
                        # + 0.0 canonicalizes -0.0, like the batch twin
                        z = round((v - avg_raw) / math.sqrt(var), 4) + 0.0
                out["symbol"].append(u)
                out["event_id"].append(int(eid))
                out["baseline_n"].append(m)
                out["baseline_avg"].append(
                    round(avg_raw, 6) if m else None
                )
                out["zscore"].append(z)
                out["is_anomaly"].append(
                    1 if z is not None and abs(z) > thr else 0
                )
                buf.append(v)
                if len(buf) > n:
                    buf.pop(0)
            bufs[u] = (buf, int(ms[s1 - 1]))
        if ttl_on:
            wm = state.getCurrentWatermarkMs()
            bufs = _evict(bufs, wm, set(uniq.tolist()))
            if _pack(state, bufs):
                _arm(state, bufs, wm)
        else:
            _pack(state, bufs)
        yield pd.DataFrame(out)

    scored = obs.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType=(
            "symbol string, event_id long, baseline_n long, "
            "baseline_avg double, zscore double, is_anomaly int"
        ),
        stateStructType=(
            "symbols array<string>, flat array<double>, "
            "lens array<long>, last_ms array<long>"
        ),
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_on
            else GroupStateTimeout.NoTimeout
        ),
    )

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        # idempotent append: a retried batch rewrites its own partition
        batch.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = scored.writeStream.outputMode("append").foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


def streaming_cm_rollup(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 16,
    available_now: bool = True,
):
    """Count-Min cells maintained across ticks — the ADDITIVE sibling
    of streaming_sketch_rollup's register-max HLL merge: each
    micro-batch sketches ONLY its own rows into a d x w grid
    (operators/sketches.cm_sketch, constant memory) and the live grid
    is the cell-wise SUM across batches.

    Addition is not idempotent, so effectively-once cannot lean on the
    merge operator the way HLL's max can; it comes from the LEDGER
    layout instead (same pattern as streaming_contract_ledger): every
    batch overwrites its own ``batch_id=N`` partition, so a
    redelivered batch rewrites identical cell rows rather than
    double-counting into an accumulator. The store stays
    O(batches x depth x width) tiny rows, and reading the grid is one
    partial-aggregated groupBy over it."""
    from funding_monitoring_spark.operators.sketches import cm_sketch

    src = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cells = cm_sketch(
            batch.select(F.col("user_id").alias("f")),
            F.col("f"),
            depth=depth,
            width=width,
        )
        cells.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = src.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


def streaming_late_audit(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    delay_minutes: int = 2,
    available_now: bool = True,
):
    """Watermark observability: per micro-batch, how many rows arrived
    LATER than a watermark of ``delay_minutes`` would tolerate — the
    number you need to TUNE a watermark delay (every stateful pipeline
    here takes one) instead of guessing it. The pipeline does not drop
    anything; it measures what a given delay WOULD drop.

    The watermark each batch is judged against derives from the ledger
    itself, not from mutable driver state: W_prev(N) = max(max_ts over
    ledger rows with batch_id < N) - delay, exactly Spark's global
    watermark rule (max event time seen, minus delay, applied next
    batch). Each batch overwrites its own batch_id=N partition with
    (n_rows, late_n, max_ts), so a redelivered batch recomputes the
    same W_prev from the same prior rows and rewrites identical values
    — effectively-once with no extra bookkeeping."""
    src_df = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        w_prev = None
        if os.path.exists(store_path):
            prior = (
                spark.read.parquet(store_path)
                .filter(F.col("batch_id") < batch_id)
                .agg(F.max("max_ts").alias("m"))
                .collect()[0]
                .m
            )
            w_prev = prior
        agg = [
            F.count(F.lit(1)).alias("n_rows"),
            F.max("ts").alias("max_ts"),
        ]
        if w_prev is not None:
            late = F.sum(
                (
                    F.col("ts")
                    < F.lit(w_prev)
                    - F.expr(f"INTERVAL {delay_minutes} MINUTES")
                ).cast("long")
            ).alias("late_n")
        else:
            late = F.lit(0).cast("long").alias("late_n")
        row = batch.agg(*agg, late)
        row.write.mode("overwrite").parquet(
            os.path.join(store_path, f"batch_id={batch_id}")
        )

    writer = src_df.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint)


def streaming_sketch_rollup(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    lg_config_k: int = 12,
    trigger_interval: str = TRIGGER_INTERVAL,
):
    """Incremental distinct-user sketches maintained across ticks —
    the streaming half of the mergeable-sketch rollup
    (suites/batch_ops.hll_sketch_merge_rollup): each micro-batch
    sketches ONLY its own rows (hll_sketch_agg, constant memory) and
    merges register-wise into the stored per-week sketch
    (hll_union_agg over store ∪ batch, atomic overwrite). The store
    stays O(weeks) bytes no matter how many rows stream through.

    No batch-id bookkeeping: HLL union is register-wise MAX —
    idempotent and commutative — so a replayed batch re-merges to the
    identical store, which is a stronger effectively-once argument
    than any sink-side guard. The converged store's estimates equal a
    batch sketch over the whole feed within estimator tolerance (the
    union path materializes HLL_8 vs the direct sketch's HLL_4), which
    the registry query pins as flags against the exact counts."""
    src = stream_from_chunks(spark, chunks_dir, schema)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        b = batch.groupBy(
            F.date_trunc("week", "ts").alias("week")
        ).agg(
            F.hll_sketch_agg("user_id", F.lit(lg_config_k)).alias("sk")
        )
        if os.path.exists(store_path):
            merged = (
                spark.read.parquet(store_path)
                .unionByName(b)
                .groupBy("week")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = b
        atomic_overwrite(merged, store_path)

    writer = src.writeStream.foreachBatch(on_batch)
    return _run(writer, available_now, checkpoint, trigger_interval)


def streaming_cdc_materialize(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
    trigger_interval: str = TRIGGER_INTERVAL,
):
    """The event feed as a CDC log, compacted incrementally: each
    micro-batch folds its per-key winners into the current-state store
    (operators/upsert.cdc_materialize semantics, change counts
    accumulated across batches, tombstones retained). The converged
    store equals the batch compaction of the whole feed — the
    stream/batch equivalence the registry oracle checks."""
    src = stream_from_chunks(spark, chunks_dir, schema).select(
        "user_id", "value", "ts", "event_type", "event_id"
    )
    writer = src.writeStream.foreachBatch(
        cdc_writer(
            store_path, ["user_id"], ["ts", "event_id"], run_id=checkpoint
        )
    )
    return _run(writer, available_now, checkpoint, trigger_interval)


#: state/shuffle partition count for replay-scale streams. Stateful
#: operators pin their state-store partitioning at the FIRST batch
#: (it cannot be AQE-coalesced later), and every micro-batch commits
#: one state file per partition — so this is a capacity setting sized
#: to expected keys-per-batch: 32 partitions on fixture-sized batches
#: spent 2.5× the whole pipeline's runtime on empty state commits
#: (measured 19.4s → 7.6s at sf0.1). A deployment ingesting real
#: volume sizes this up, per stream, the same way.
REPLAY_STATE_PARTITIONS = 8


def _parquet(spark: SparkSession, store: str) -> DataFrame:
    return spark.read.parquet(store)


def _ledger(spark: SparkSession, store: str) -> DataFrame:
    """A store of ``batch_id=N`` partitions, read as one frame."""
    return spark.read.parquet(store).drop("batch_id")


def _merged(key_cols: list[str], order_cols: list[str]):
    return lambda spark, store: read_merged_store(
        spark, store, key_cols, order_cols
    )


def _funding_stats(spark: SparkSession, store: str) -> DataFrame:
    return spark.read.parquet(os.path.join(store, "funding_stats"))


def _cm_grid(spark: SparkSession, store: str) -> DataFrame:
    return (
        spark.read.parquet(store)
        .groupBy("cm_row", "cm_bucket")
        .agg(F.sum("n").alias("n"))
    )


def _cdc_view(spark: SparkSession, store: str) -> DataFrame:
    # tombstoned keys stay in the store for history accumulation; the
    # materialized view filters them out
    return (
        spark.read.parquet(store)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("value").alias("current_value"),
            F.col("ts").alias("updated_at"),
            "n_changes",
        )
    )


_WINDOW_ROLLUP = _merged(["window_start", "event_type"], ["n_events"])

#: replayable pipelines: name -> (entry function, store subdirectory,
#: store reader)
_PIPELINES = {
    "upsert_rates": (streaming_upsert_rates, "funding_rates", _parquet),
    "tumbling_rollup": (streaming_tumbling_rollup, "rollup", _WINDOW_ROLLUP),
    "funding_pipeline": (streaming_funding_pipeline, "store", _funding_stats),
    "media_ingest": (streaming_media_ingest, "media_features", _ledger),
    "lending_append": (streaming_lending_append, "lending", _ledger),
    "session_windows": (
        streaming_session_windows,
        "sessions",
        _merged(["user_id", "session_start"], ["n_events"]),
    ),
    "click_attribution": (streaming_click_attribution, "attribution", _ledger),
    "drawdown_stateful": (streaming_drawdown_stateful, "drawdown", _parquet),
    "ewma_stateful": (streaming_ewma_stateful, "ewma", _parquet),
    "window_distinct_users": (
        streaming_window_distinct_users,
        "wdu",
        _merged(["window_start"], ["n_users"]),
    ),
    "heavy_hitters": (
        streaming_heavy_hitters,
        "hitters",
        _merged(["event_type", "user_id"], ["n"]),
    ),
    "ohlc_bars": (
        streaming_ohlc_bars,
        "ohlc",
        _merged(["symbol", "bar_ts"], ["n_ticks"]),
    ),
    "anomaly_alerts": (streaming_anomaly_alerts, "anomaly", _ledger),
    "hopping_rollup": (streaming_hopping_rollup, "hopping", _WINDOW_ROLLUP),
    "late_audit": (streaming_late_audit, "late_ledger", _parquet),
    "cm_rollup": (streaming_cm_rollup, "cm_cells", _cm_grid),
    "sketch_rollup": (streaming_sketch_rollup, "sketches", _parquet),
    "cdc_materialize": (streaming_cdc_materialize, "cdc_state", _cdc_view),
}


def replay_pipeline_from_chunks(
    spark: SparkSession,
    chunks_dir: str,
    schema,
    workdir: str,
    pipeline: str,
) -> DataFrame:
    """Run the named pipeline to completion (availableNow) over an
    ALREADY-chunked replay input at REPLAY_STATE_PARTITIONS and return
    its store as a DataFrame. Chunks are immutable once written, so
    callers replaying the same fixture through several pipelines chunk
    once and share the directory (suites/streaming_suite._replay); each
    run still gets its own checkpoint and store under `workdir`."""
    if pipeline not in _PIPELINES:
        raise ValueError(f"unknown pipeline {pipeline!r}")
    run, subdir, read = _PIPELINES[pipeline]
    store = os.path.join(workdir, subdir)
    with conf_override(
        spark, "spark.sql.shuffle.partitions", str(REPLAY_STATE_PARTITIONS)
    ):
        run(spark, chunks_dir, schema, store, os.path.join(workdir, "checkpoint"))
        return read(spark, store)
