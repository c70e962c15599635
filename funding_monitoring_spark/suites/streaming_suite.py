"""Streaming queries with batch oracles — the strongest statement
Structured Streaming makes is stream/batch equivalence, so each
pipeline is driven to completion over a chunked replay of `events`
(4 micro-batches in event-time order) and its final store is compared
against the equivalent batch SQL in DuckDB.

Determinism: chunks are assigned in (ts, event_id) order, so a key's
last arrival is its max event_id and every window fills monotonically
— the streamed result is exactly the batch result. (Out-of-order /
late-data behavior is covered by crafted unit tests in
tests/test_streaming.py, where stream and batch legitimately diverge.)
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from funding_monitoring_spark.pipeline.funding_stats import (
    ROUND,
    funding_stats_oracle_sql,
)
from funding_monitoring_spark.registry import query
from funding_monitoring_spark.suites.temporal_suite import (
    session_window_oracle_sql,
)
from funding_monitoring_spark.sources.tables import load_table
from funding_monitoring_spark.streaming.pipelines import (
    replay_pipeline_from_chunks,
)
from funding_monitoring_spark.streaming.replay import (
    write_time_ordered_chunks,
)

#: replay micro-batch count. Every batch oracle below is parameterized
#: by the SAME constant (the NTILE tiling), so overriding it keeps
#: stream and oracle consistent — bench.py sets 2 to halve the
#: per-tick fixed costs (checkpoint + state-store commits) it pays per
#: streaming headliner; tests and the grading driver keep the default.
N_CHUNKS = int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "4"))

#: batch twin of the upserted rates store: winner per (symbol,
#: funding_time) is the last arrival = max event_id under the
#: time-ordered chunking
_DEDUPED_RATES = """
    SELECT CAST(user_id AS VARCHAR) || '-' || event_type AS symbol,
           ts AS funding_time,
           max_by(value, event_id) AS funding_rate,
           MAX(event_id) AS event_id
    FROM events
    GROUP BY 1, 2
"""


def _workdir() -> str:
    return tempfile.mkdtemp(prefix="fm_stream_")


#: chunked-replay input cache, keyed by (fixture, chunk count,
#: variant). Chunk files are immutable once written, so the dozen
#: streaming queries replaying the SAME fixture share one chunking
#: pass per session (~5 s at sf0.1 each, before this: every query
#: re-chunked into a fresh tempdir); each run still gets its own
#: store + checkpoint via _workdir(). `variant` isolates inputs that
#: differ from the raw events table (sentinel-flushed unions).
_CHUNK_CACHE: dict[tuple[str, int, str], tuple[str, object]] = {}


def _chunked_events(spark, sf_dir, variant="", events=None):
    key = (os.path.abspath(sf_dir), N_CHUNKS, variant)
    if key not in _CHUNK_CACHE:
        if events is None:
            events = load_table(spark, sf_dir, "events")
        cdir = os.path.join(
            tempfile.mkdtemp(prefix="fm_chunks_"), "chunks"
        )
        schema = write_time_ordered_chunks(events, cdir, N_CHUNKS)
        _CHUNK_CACHE[key] = (cdir, schema)
    return _CHUNK_CACHE[key]


def _replay(spark, sf_dir, pipeline, variant="", events=None):
    cdir, schema = _chunked_events(spark, sf_dir, variant, events)
    return replay_pipeline_from_chunks(
        spark, cdir, schema, _workdir(), pipeline
    )


@query(
    "stream_upsert_rates",
    f"SELECT * FROM ({_DEDUPED_RATES})",
)
def q_stream_upsert_rates(spark, sf_dir):
    """Watermarked dedup + last-write-wins upsert ingestion, replayed
    over 4 micro-batches; final store == batch dedup of the source."""
    return _replay(spark, sf_dir, "upsert_rates")


@query(
    "stream_tumbling_rollup",
    f"""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
           time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE
               AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), {ROUND}) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_tumbling_rollup(spark, sf_dir):
    """5-minute tumbling-window streaming aggregation (update mode,
    upsert-by-window sink); converged store == batch window agg."""
    return _replay(spark, sf_dir, "tumbling_rollup")


@query(
    "stream_lending_append",
    f"""
    WITH ordered AS (
        -- exact batch twin of the chunker: rows split into {N_CHUNKS}
        -- equal tiles in (ts, event_id) order; NTILE matches
        -- write_time_ordered_chunks whenever row count is divisible
        -- by {N_CHUNKS} (true for every fixture sf)
        SELECT *, NTILE({N_CHUNKS}) OVER (ORDER BY ts, event_id) AS tile
        FROM events
    ),
    tiles AS (SELECT tile, MAX(ts) AS anchor FROM ordered GROUP BY tile),
    mins AS (
        SELECT tile, CAST(user_id % 4 AS INT) AS loan_duration_days,
               MIN(CAST(CAST(value AS VARCHAR) AS DOUBLE))
                   AS daily_interest_rate
        FROM ordered GROUP BY tile, user_id % 4
    )
    SELECT make_timestamp((CAST(FLOOR(epoch(t.anchor) / 300) AS BIGINT) + 1)
                          * 300 * 1000000) AS created_at,
           m.daily_interest_rate,
           m.loan_duration_days,
           ROUND(m.daily_interest_rate * 365, {ROUND})
               AS annualized_interest_rate
    FROM mins m JOIN tiles t USING (tile)
    """,
)
def q_stream_lending_append(spark, sf_dir):
    """The lending DAG as a stream: per-tick group-min + ceil-5-min
    bucket, idempotently APPENDED (accumulating table); the store ==
    the batch per-tile computation."""
    return _replay(spark, sf_dir, "lending_append")


@query(
    "stream_ewma_stateful",
    """
    SELECT CAST(user_id AS STRING) || '-' || event_type AS symbol,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, x) -> acc * 0.75 + x * 0.25) AS ewma,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_stream_ewma_stateful(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-symbol
    EWMA carried across micro-batches; the converged state equals the
    batch fold over the ordered history, bit-for-bit (alpha=0.25 is
    binary-exact — no rounding needed)."""
    # applyInPandasWithState pays a per-KEY-GROUP Arrow+state round
    # trip, so the pipeline BUCKETS symbols (2x state partitions) and
    # keeps per-symbol state in per-bucket arrays — protocol cost
    # O(buckets), not O(keys). With that gone, the replay default of
    # 8 state partitions wins again (before bucketing, 32 partitions
    # were needed to spread 7,500 per-key round trips: 2 parts 98s /
    # 8 parts 32s / 32 parts 18s at sf0.1; bucketed: 5.4s at 8).
    return _replay(spark, sf_dir, "ewma_stateful")


@query(
    "stream_anomaly_alerts",
    """
    WITH obs AS (
        SELECT CAST(user_id AS VARCHAR) || '-' || event_type AS symbol,
               ts, event_id, value
        FROM events
    ),
    scored AS (
        SELECT symbol, event_id,
               COUNT(value) OVER w AS baseline_n,
               ROUND(AVG(value) OVER w, 6) AS baseline_avg,
               CASE WHEN COUNT(value) OVER w >= 10
                         AND STDDEV_SAMP(value) OVER w > 0
                    THEN ROUND((value - AVG(value) OVER w)
                               / STDDEV_SAMP(value) OVER w, 4) + 0.0
               END AS zscore
        FROM obs
        WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT symbol, event_id, baseline_n, baseline_avg, zscore,
           COALESCE(CAST(ABS(zscore) > 2.0 AS INT), 0) AS is_anomaly
    FROM scored
    """,
)
def q_stream_anomaly_alerts(spark, sf_dir):
    """funding_rate_anomaly as a stream: per-symbol trailing-20
    z-score baseline carried across micro-batches in bounded state
    (applyInPandasWithState, 20 doubles per key), scores emitted
    append-only as observations arrive. The converged store equals
    the batch window computation — scores are functions of strictly
    prior history, so nothing is ever revised."""
    # same shape as ewma_stateful: bucketed state, so protocol cost
    # is O(buckets) and the replay default partitioning suffices
    return _replay(spark, sf_dir, "anomaly_alerts")


@query(
    "stream_funding_pipeline",
    funding_stats_oracle_sql(
        rates_cte=f"""
    SELECT *, (SELECT MAX(funding_time) FROM
               ({_DEDUPED_RATES})) AS anchor
    FROM ({_DEDUPED_RATES})
"""
    ),
)
def q_stream_funding_pipeline(spark, sf_dir):
    """The full reference DAG as a stream: ingest+upsert rates, then
    per-tick snapshot recompute of funding stats; the final snapshot ==
    the batch flagship query over the deduplicated store."""
    return _replay(spark, sf_dir, "funding_pipeline")


@query(
    "stream_stream_join_attribution",
    """
    SELECT a.user_id,
           a.event_id AS click_id,
           a.ts AS click_ts,
           b.event_id AS purchase_id,
           b.ts AS purchase_ts,
           b.value AS purchase_value
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Stream-stream range join: clicks ⋈ purchases within a 60-minute
    attribution horizon, both sides watermarked (bounded join state);
    the appended match set == the batch range join."""
    return _replay(spark, sf_dir, "click_attribution")


# the SAME oracle text as the batch session_window_agg query — gap and
# boundary rule can never drift between the twins
@query("stream_session_windows", session_window_oracle_sql())
def q_stream_session_windows(spark, sf_dir):
    """Merging session windows maintained as streaming state across
    micro-batches (append mode — Spark emits each session once its end
    passes the watermark). A far-future sentinel event flushes the
    final sessions at end-of-replay (close-of-stream technique); its
    own one-event session is filtered back out. Store == the batch
    lag-based sessionization."""
    from pyspark.sql import functions as F

    from datetime import timedelta

    from funding_monitoring_spark.streaming.pipelines import (
        SESSION_GAP_SECONDS,
        WATERMARK_DELAY_SECONDS,
    )

    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(F.max("ts").alias("m")).first()
    # the sentinel must push the watermark (= max event time - delay)
    # past every real session's end (= last event + gap): derive the
    # margin from the same constants the pipeline runs with
    flush_ts = bounds["m"] + timedelta(
        seconds=SESSION_GAP_SECONDS + 2 * WATERMARK_DELAY_SECONDS + 60
    )
    sentinel = events.sparkSession.createDataFrame(
        [(-1, flush_ts, -1, "sentinel", 0.0, None)], events.schema
    )
    out = _replay(
        spark,
        sf_dir,
        "session_windows",
        variant="session_sentinel",
        events=events.unionByName(sentinel),
    )
    return out.filter(F.col("user_id") >= 0)


from funding_monitoring_spark.suites.behavior_suite import CDC_ORACLE_SQL


@query("stream_cdc_materialize", CDC_ORACLE_SQL)
def q_stream_cdc_materialize(spark, sf_dir):
    """CDC log compaction as a stream: per-batch max_by winners folded
    into the state store with accumulated change counts and retained
    tombstones (sinks.cdc_writer); the converged store must equal the
    batch compaction — the SAME oracle SQL as `cdc_materialize`."""
    return _replay(spark, sf_dir, "cdc_materialize")


from funding_monitoring_spark.suites.window_suite import HOPPING_ORACLE_SQL


@query("stream_hopping_rollup", HOPPING_ORACLE_SQL)
def q_stream_hopping_rollup(spark, sf_dir):
    """Hopping (overlapping) windows as a STREAM: 10-minute windows
    sliding every 5, update-mode state per open window, upserted by
    (window_start, event_type); converged store == the batch hopping
    aggregation — same oracle as `hopping_window_rollup`."""
    return _replay(spark, sf_dir, "hopping_rollup")


#: streaming OHLC shares the batch bars oracle exactly — window start
#: == date_trunc('hour') for hour-aligned tumbling windows
STREAM_OHLC_ORACLE = """
    WITH r AS (
        SELECT event_type AS symbol, date_trunc('hour', ts) AS bar_ts,
               value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT symbol, bar_ts,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n_ticks
    FROM r GROUP BY symbol, bar_ts
"""


@query("stream_ohlc_bars", STREAM_OHLC_ORACLE)
def q_stream_ohlc_bars(spark, sf_dir):
    """ohlc_bars as a stream: the five candlestick aggregates run
    incrementally in tumbling-window state (min_by/max_by compose
    across micro-batches), each changed bar re-emitted in update mode
    and last-write-wins-upserted by (symbol, bar) — the store
    converges to exactly the batch bars, which is the shared oracle."""
    return _replay(spark, sf_dir, "ohlc_bars")


@query(
    "stream_heavy_hitters",
    """
    WITH counts AS (
        SELECT event_type, user_id, COUNT(*) AS n
        FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
        SELECT event_type, user_id, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, user_id ASC) AS rnk
        FROM counts
    )
    SELECT event_type, user_id, n, rnk FROM ranked WHERE rnk <= 10
    """,
)
def q_stream_heavy_hitters(spark, sf_dir):
    """heavy_hitter_users as a stream: the per-(type, user) counts
    accumulate incrementally in update-mode aggregation state and
    upsert into the store; the top-10 ranking runs at read time over
    the converged count table, so a rank change never needs a
    retraction. Shares the batch heavy-hitters oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    store = _replay(spark, sf_dir, "heavy_hitters")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    return (
        store.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("event_type", "user_id", "n", "rnk")
    )


@query(
    "stream_window_distinct_users",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
               AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_window_distinct_users(spark, sf_dir):
    """Exact hourly DISTINCT users as a stream — the aggregation
    streaming Spark forbids directly, decomposed into chained stateful
    operators (dropDuplicates on (window, user) → windowed count,
    append mode). Windows emit once when the watermark passes their
    end, so the replay appends the far-future sentinel flush and
    filters its own window back out."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from funding_monitoring_spark.streaming.pipelines import (
        WATERMARK_DELAY_SECONDS,
    )

    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(F.max("ts").alias("m")).first()
    flush_ts = bounds["m"] + timedelta(
        seconds=3600 + 2 * WATERMARK_DELAY_SECONDS + 60
    )
    sentinel = events.sparkSession.createDataFrame(
        [(-1, flush_ts, -1, "sentinel", 0.0, None)], events.schema
    )
    out = _replay(
        spark,
        sf_dir,
        "window_distinct_users",
        variant="wdu_sentinel",
        events=events.unionByName(sentinel),
    )
    return out.filter(F.col("window_start") < F.lit(flush_ts))


@query(
    "stream_append_compaction",
    f"""
    WITH ordered AS (
        SELECT *, NTILE({N_CHUNKS}) OVER (ORDER BY ts, event_id) AS tile
        FROM events
    ),
    tiles AS (SELECT tile, MAX(ts) AS anchor FROM ordered GROUP BY tile),
    mins AS (
        SELECT tile, CAST(user_id % 4 AS INT) AS loan_duration_days,
               MIN(CAST(CAST(value AS VARCHAR) AS DOUBLE))
                   AS daily_interest_rate
        FROM ordered GROUP BY tile, user_id % 4
    ),
    lending AS (
        SELECT m.loan_duration_days,
               ROUND(m.daily_interest_rate * 365, {ROUND})
                   AS annualized_interest_rate
        FROM mins m JOIN tiles t USING (tile)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT loan_duration_days) AS BIGINT)
               AS n_durations,
           ROUND(SUM(annualized_interest_rate), {ROUND})
               AS sum_annualized,
           CAST(1 AS INT) AS fragmented_before,
           CAST(1 AS INT) AS compacted_to_target
    FROM lending
    """,
)
def q_stream_append_compaction(spark, sf_dir):
    """The maintenance loop a per-tick append sink needs: run the
    lending pipeline's N append ticks (each micro-batch writes its
    own small files — the reference's 288-files/day fragmentation
    story, operators/maintenance.py), then compact the store with
    operators/maintenance.compact_store, then read it back. The
    oracle recomputes the lending content from the raw table, so any
    row the rewrite loses or duplicates breaks the hash; the
    file-count claims travel as flag columns the oracle pins to 1
    (`fragmented_before`: the tick appends really produced more files
    than the compaction target; `compacted_to_target`: the rewrite
    landed exactly n_files_target). Tick append, compaction sizing,
    and content identity all checked in ONE external row."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.operators.maintenance import (
        compact_store,
    )
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_lending_append,
    )

    cdir, schema = _chunked_events(spark, sf_dir)
    workdir = _workdir()
    store = os.path.join(workdir, "lending")
    streaming_lending_append(
        spark, cdir, schema, store, os.path.join(workdir, "checkpoint")
    )
    report = compact_store(spark, store)
    compacted = spark.read.parquet(store).drop("batch_id")
    return compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("loan_duration_days").alias("n_durations"),
        F.round(F.sum("annualized_interest_rate"), ROUND).alias(
            "sum_annualized"
        ),
        F.lit(
            1 if report["files_before"] > report["n_files_target"] else 0
        ).cast("int").alias("fragmented_before"),
        F.lit(
            1 if report["files_after"] == report["n_files_target"] else 0
        ).cast("int").alias("compacted_to_target"),
    )


@query(
    "stream_merge_on_read",
    """
    WITH ranked AS (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (
                   PARTITION BY user_id, event_type) AS n_changes
        FROM events
    )
    SELECT user_id, event_type, value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1
    """,
)
def q_stream_merge_on_read(spark, sf_dir):
    """Streaming MERGE-ON-READ: every replay tick APPENDS its rows as
    one snapshot commit (the cheapest possible streaming write — no
    per-tick merge, no store rewrite, effectively-once by manifest
    batch_id), and current per-key state materializes READER-side
    with one max_by last-write-wins aggregation over the whole delta
    log (operators/upsert.cdc_materialize). The write-cheap twin of
    stream_upsert_rates' merge-per-tick sink: ingestion cost is
    O(batch) instead of O(store) per tick, and the full log stays
    time-travelable; the reader pays the merge, which OPTIMIZE /
    compaction amortizes at 100 TB. The oracle recomputes the LWW
    winner and change count per (user, type) straight from the raw
    table, so a lost tick, duplicated batch, or mis-ordered merge
    breaks the hash."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.operators.upsert import (
        cdc_materialize,
    )
    from funding_monitoring_spark.sources.snapshots import (
        read_snapshot,
    )
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_snapshot_commits,
    )

    cdir, schema = _chunked_events(spark, sf_dir)
    workdir = _workdir()
    store = os.path.join(workdir, "morstore")
    streaming_snapshot_commits(
        spark, cdir, schema, store, os.path.join(workdir, "checkpoint")
    )
    merged = cdc_materialize(
        read_snapshot(spark, store),
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
        delete_pred=F.lit(False),
    )
    return merged.select("user_id", "event_type", "value", "n_changes")


@query(
    "stream_snapshot_commits",
    f"""
    WITH ordered AS (
        SELECT *, NTILE({N_CHUNKS}) OVER (ORDER BY ts, event_id) AS tile
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(value), {ROUND}) AS sum_value,
           CAST(SUM(CASE WHEN tile > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows_delta,
           ROUND(SUM(CASE WHEN tile > 1 THEN value ELSE 0 END),
                 {ROUND}) AS sum_value_delta,
           CAST(1 AS INT) AS versions_equal_ticks
    FROM ordered
    """,
)
def q_stream_snapshot_commits(spark, sf_dir):
    """Streaming ingestion into the versioned snapshot store: each of
    the N replay ticks appends as ONE snapshot commit (manifest
    batch_id skips redelivered batches — effectively-once), so the
    store is simultaneously the stream's transaction log and a
    time-travel table. The row checks all three consumption paths at
    once: the LATEST read (full content), the INCREMENTAL read of
    everything after the first tick's version (read_snapshot_changes
    — a delta that leaks tick-1 files in or drops a later tick breaks
    the hash, tiles 2..N in the oracle), and that versions map 1:1 to
    ticks (flag pinned to 1)."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.sources.snapshots import (
        list_versions,
        read_snapshot,
        read_snapshot_changes,
    )
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_snapshot_commits,
    )

    cdir, schema = _chunked_events(spark, sf_dir)
    workdir = _workdir()
    store = os.path.join(workdir, "snapstore")
    streaming_snapshot_commits(
        spark, cdir, schema, store, os.path.join(workdir, "checkpoint")
    )
    versions = list_versions(store)
    latest = read_snapshot(spark, store).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), ROUND).alias("sum_value"),
    )
    delta = read_snapshot_changes(
        spark, store, from_version=versions[0]
    ).agg(
        F.count(F.lit(1)).alias("n_rows_delta"),
        F.round(F.sum("value"), ROUND).alias("sum_value_delta"),
    )
    return latest.crossJoin(delta).withColumn(
        "versions_equal_ticks",
        F.lit(1 if len(versions) == N_CHUNKS else 0).cast("int"),
    )


@query(
    "stream_sketch_rollup",
    """
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS within_bound
    FROM events GROUP BY 1
    """,
)
def q_stream_sketch_rollup(spark, sf_dir):
    """The mergeable-sketch rollup as a STREAM: every micro-batch
    sketches its own rows and register-max-merges into the stored
    per-week HLL sketch (streaming/pipelines.streaming_sketch_rollup)
    — the store stays O(weeks) bytes under unbounded input, and the
    merge is idempotent under batch replay with no bookkeeping. The
    converged store's estimates are checked against the exact weekly
    distinct counts (3-sigma flag pinned to 1), the same hashable
    surface as the batch twin hll_sketch_merge_rollup."""
    from pyspark.sql import functions as F

    store = _replay(spark, sf_dir, "sketch_rollup")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        store.join(exact, "week")
        .select(
            "week",
            "exact_users",
            (
                F.abs(
                    F.hll_sketch_estimate("sk") - F.col("exact_users")
                )
                <= F.greatest(F.lit(1.0), 0.05 * F.col("exact_users"))
            )
            .cast("int")
            .alias("within_bound"),
        )
    )


@query(
    "stream_contract_ledger",
    f"""
    WITH checks AS (
        SELECT 'not_null(user_id)' AS rule,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations
        FROM events
        UNION ALL
        SELECT 'range(value,[0.0,80.0])',
               CAST(SUM(CASE WHEN value IS NULL
                              OR value < 0.0 OR value > 80.0
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'accepted_values(event_type)',
               CAST(SUM(CASE WHEN event_type IS NULL
                              OR event_type NOT IN
                                 ('click', 'view', 'purchase', 'signup')
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
    )
    SELECT rule, n_violations,
           CAST({N_CHUNKS} AS BIGINT) AS n_batches,
           CAST(n_violations = 0 AS INT) AS passed
    FROM checks
    """,
)
def q_stream_contract_ledger(spark, sf_dir):
    """Data contracts ON THE STREAM: every replay tick validates its
    own rows (operators/quality.check_constraints — the row-predicate
    rules fuse into one scan per batch) and appends to a per-batch
    violations ledger. Row-predicate counts are additive across
    batches, so the summed ledger must equal the batch-mode report
    over the whole table — the oracle recomputes exactly that, and
    n_batches pins that every tick wrote its ledger rows. Rules are
    chosen so some pass and some fail on the fixture ('error' events
    and values above 80 exist); non-additive rules (unique/FK) are
    rejected loudly by the pipeline rather than silently
    under-counted."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
    )
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_contract_ledger,
    )

    rules = [
        not_null("user_id"),
        in_range("value", 0.0, 80.0),
        accepted_values(
            "event_type", ["click", "view", "purchase", "signup"]
        ),
    ]
    cdir, schema = _chunked_events(spark, sf_dir)
    workdir = _workdir()
    store = os.path.join(workdir, "ledger")
    streaming_contract_ledger(
        spark, cdir, schema, store,
        os.path.join(workdir, "checkpoint"), rules,
    )
    return (
        spark.read.parquet(store)
        .groupBy("rule")
        .agg(
            F.sum("n_violations").alias("n_violations"),
            F.count(F.lit(1)).alias("n_batches"),
        )
        .withColumn(
            "passed", (F.col("n_violations") == 0).cast("int")
        )
    )


@query(
    "stream_max_drawdown",
    """
    WITH r AS (
        SELECT CAST(user_id AS VARCHAR) || '-' || event_type AS symbol,
               value,
               MAX(value) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_max
        FROM events
    )
    SELECT symbol,
           MIN(CASE WHEN run_max > 0
                    THEN value / run_max - 1.0 END) AS max_drawdown,
           MAX(run_max) AS peak,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r GROUP BY symbol
    """,
)
def q_stream_max_drawdown(spark, sf_dir):
    """Per-symbol maximum drawdown maintained ACROSS micro-batches
    (applyInPandasWithState, state = running peak + worst trough):
    path-dependent monitoring state no built-in streaming aggregate
    expresses — the risk twin of the batch max_drawdown_by_type. The
    converged store equals the batch running-max computation
    BIT-FOR-BIT: rows fold in (funding_time, event_id) order within
    and across replayed chunks, so every v/run_max division sees the
    same operands on both engines and the raw doubles hash with no
    rounding."""
    return _replay(spark, sf_dir, "drawdown_stateful")


# -- streaming Count-Min rollup ------------------------------------------

from funding_monitoring_spark.suites.analytics_suite import (
    _sql_cm_bucket,
)

_SCM_W = 16
_SCM_D = 4
_SCM_ROWS = ", ".join(str(j) for j in range(_SCM_D))


def _scm_bucket_case(fp_sql: str) -> str:
    return (
        "CASE j.j "
        + " ".join(
            f"WHEN {j} THEN {_sql_cm_bucket(fp_sql, j, _SCM_W)}"
            for j in range(_SCM_D)
        )
        + " END"
    )


@query(
    "stream_count_min_rollup",
    f"""
    WITH cells AS (
        SELECT j.j AS cm_row,
               {_scm_bucket_case("e.user_id")} AS cm_bucket,
               COUNT(*) AS n
        FROM events e, (SELECT unnest([{_SCM_ROWS}]) AS j) j
        GROUP BY 1, 2
    ),
    top20 AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM events GROUP BY 1
        ORDER BY exact_n DESC, user_id LIMIT 20
    ),
    probes AS (
        SELECT t.user_id, t.exact_n, j.j AS cm_row,
               {_scm_bucket_case("t.user_id")} AS cm_bucket
        FROM top20 t, (SELECT unnest([{_SCM_ROWS}]) AS j) j
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(c.n) AS BIGINT) AS cm_n,
           CAST(MIN(c.n) - p.exact_n AS BIGINT) AS overcount
    FROM probes p JOIN cells c USING (cm_row, cm_bucket)
    GROUP BY 1, 2
    """,
)
def q_stream_count_min_rollup(spark, sf_dir):
    """The Count-Min grid as a STREAM: each micro-batch sketches its
    own rows and the live grid is the cell-wise sum across batches
    (streaming/pipelines.streaming_cm_rollup). Addition is not
    idempotent — unlike the HLL rollup's register max — so
    effectively-once comes from the batch-id ledger layout: a
    redelivered batch rewrites its own partition instead of
    double-counting. The converged grid is therefore EXACTLY the
    batch-mode grid, and the per-user point estimates against the
    exact top-20 activity counts hash against the same oracle the
    batch twin (count_min_freq_report) uses — streamed approximation
    error stays an oracle-tracked number."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.operators.sketches import (
        cm_estimate,
    )

    grid = _replay(spark, sf_dir, "cm_rollup")
    events = load_table(spark, sf_dir, "events")
    top20 = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id"))
        .limit(20)
    )
    est = cm_estimate(
        grid,
        top20,
        F.col("user_id"),
        ["user_id", "exact_n"],
        depth=_SCM_D,
        width=_SCM_W,
    )
    return est.select(
        "user_id",
        "exact_n",
        "cm_n",
        (F.col("cm_n") - F.col("exact_n")).alias("overcount"),
    )


# -- streaming late-event audit ------------------------------------------

_LATE_DELAY_MIN = 2
_LATE_CACHE: dict = {}

from funding_monitoring_spark.operators.sampling import (  # noqa: E402
    key_hash as _skey_hash,
)
from funding_monitoring_spark.operators.sampling import (  # noqa: E402
    oracle_hash_expr as _s_oracle_hash,
)

#: jitter decorrelated from event time: event_id increments with ts,
#: so a modular jitter is locally monotone (arrival order == ts order,
#: zero late rows); the LCG hash breaks the correlation
_LATE_H = _s_oracle_hash("event_id", 11)


def _late_audit_chunks(spark, sf_dir):
    """Chunk the events in ARRIVAL order — true event time plus a
    deterministic per-row jitter — so the replay carries genuine
    bounded disorder (a small-ts row can arrive a batch after
    larger-ts rows), which time-ordered chunks never exhibit."""
    key = (os.path.abspath(sf_dir), N_CHUNKS)
    if key not in _LATE_CACHE:
        events = load_table(spark, sf_dir, "events").withColumn(
            "arrival",
            F.timestamp_add(
                "MINUTE",
                F.pmod(_skey_hash(F.col("event_id"), 11), F.lit(97)),
                F.col("ts"),
            ),
        )
        cdir = os.path.join(
            tempfile.mkdtemp(prefix="fm_late_"), "chunks"
        )
        schema = write_time_ordered_chunks(
            events, cdir, N_CHUNKS, ts_col="arrival"
        )
        _LATE_CACHE[key] = (cdir, schema)
    return _LATE_CACHE[key]


@query(
    "stream_late_event_audit",
    f"""
    WITH ordered AS (
        SELECT ts, event_id,
               ts + INTERVAL 1 MINUTE * (({_LATE_H}) % 97) AS arrival
        FROM events
    ),
    tiled AS (
        SELECT *, NTILE({N_CHUNKS}) OVER (ORDER BY arrival, event_id)
                      AS tile
        FROM ordered
    ),
    wm AS (SELECT tile, MAX(ts) AS mx FROM tiled GROUP BY tile),
    cum AS (
        SELECT tile,
               MAX(mx) OVER (ORDER BY tile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
        FROM wm
    )
    SELECT CAST(t.tile - 1 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN c.prev_max IS NOT NULL
                     AND t.ts < c.prev_max
                         - INTERVAL {_LATE_DELAY_MIN} MINUTE
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS late_n,
           MAX(t.ts) AS max_ts
    FROM tiled t JOIN cum c USING (tile)
    GROUP BY 1
    """,
)
def q_stream_late_event_audit(spark, sf_dir):
    """Watermark observability on a genuinely-disordered replay: per
    micro-batch, how many rows a {delay}-minute watermark would have
    dropped (streaming/pipelines.streaming_late_audit) — the number
    that turns watermark-delay tuning from a guess into a measurement.
    The judged-against watermark derives from the ledger itself
    (max prior max_ts - delay, Spark's own global-watermark rule), so
    a redelivered batch recomputes identical rows; the oracle
    reconstructs every batch's count from the NTILE arrival-order twin
    of the chunker. Late rows EXIST here by construction: the chunks
    are cut in arrival order (event time + bounded jitter), unlike the
    time-ordered replays every other stream query uses."""
    cdir, schema = _late_audit_chunks(spark, sf_dir)
    ledger = replay_pipeline_from_chunks(
        spark, cdir, schema, _workdir(), "late_audit"
    )
    return ledger.select(
        F.col("batch_id").cast("bigint").alias("batch_id"),
        "n_rows",
        "late_n",
        "max_ts",
    )


@query(
    "stream_media_ingest",
    """
    WITH shape AS (
        SELECT doc_id AS media_id,
               CAST(50 + doc_id % 64 AS INT) AS n_samples,
               CAST(1 + doc_id % 2 AS INT) AS channels
        FROM documents
    ),
    amps AS (
        SELECT media_id, n_samples, channels,
               list_transform(
                   range(0, n_samples * channels),
                   j -> (media_id * 13 + j) * 97 % 65536 - 32768
               ) AS a
        FROM shape
    )
    SELECT media_id, n_samples, channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(list_sum(a) AS BIGINT) AS sum_amplitude,
           CAST(list_min(a) AS INT) AS min_amplitude,
           CAST(list_max(a) AS INT) AS max_amplitude
    FROM amps
    """,
)
def q_stream_media_ingest(spark, sf_dir):
    """Streaming multimodal ingestion — binary WAV payloads arriving
    as a file stream (a crawl dropping media batches into object
    storage), each micro-batch decoded with the REAL codec in
    Arrow-batched mapInPandas and appended idempotently (per-batch
    partition overwrite). The converged feature store equals the
    batch decode of the whole corpus, so the oracle is the WAV
    roundtrip oracle verbatim — the streaming x multimodal
    composition the suite previously only demonstrated separately."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.operators.multimodal import (
        synthesize_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_wav_media(docs).select(
        F.timestamp_seconds(
            F.lit(1_000_000_000) + F.col("media_id")
        ).alias("ts"),
        F.col("media_id").alias("event_id"),
        "payload",
    )
    return _replay(
        spark, sf_dir, "media_ingest",
        variant="media_wav", events=media,
    )
