"""Streaming-layer unit tests: the edge semantics the oracle queries
can't show (they use in-order replays where stream == batch):

- last-write-wins across micro-batches (the K1 upsert contract)
- exact re-sends suppressed within the watermark
- late rows beyond the watermark dropped by the windowed aggregation
- checkpointed restart: only new files processed, store still correct
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from funding_monitoring_spark.streaming.pipelines import (
    streaming_tumbling_rollup,
    streaming_upsert_rates,
)
from funding_monitoring_spark.streaming.replay import stream_from_chunks

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def _write_chunk(df, chunks_dir: str, idx: int) -> None:
    """One parquet file per micro-batch, mtime-ordered."""
    os.makedirs(chunks_dir, exist_ok=True)
    stage = f"{chunks_dir}.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    [part] = glob.glob(os.path.join(stage, "part-*.parquet"))
    dest = os.path.join(chunks_dir, f"chunk-{idx:04d}.parquet")
    shutil.move(part, dest)
    shutil.rmtree(stage, ignore_errors=True)
    os.utime(dest, (1_000_000_000 + idx * 60,) * 2)


def _events(spark, rows):
    """rows: (event_id, ts, user_id, event_type, value)."""
    return spark.createDataFrame(
        [(*r, "{}") for r in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _run_upsert(spark, tmp, batches, watermark="10 minutes"):
    chunks = os.path.join(tmp, "chunks")
    schema = None
    for i, rows in enumerate(batches):
        df = _events(spark, rows)
        schema = df.schema
        _write_chunk(df, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_upsert_rates(
        spark,
        chunks,
        schema,
        store,
        os.path.join(tmp, "ckpt"),
        watermark=watermark,
    )
    return {
        (r.symbol, r.funding_time): (r.funding_rate, r.event_id)
        for r in spark.read.parquet(store).collect()
    }


def test_revision_in_later_batch_wins(spark, tmp_path):
    """A re-arriving key UPDATES the stored value (reference
    funding_rates_etl.py:105-108 ON CONFLICT DO UPDATE)."""
    state = _run_upsert(
        spark,
        str(tmp_path),
        [
            [(1, _ts(0), 7, "funding", 0.01), (2, _ts(5), 7, "funding", 0.02)],
            [(3, _ts(0), 7, "funding", 0.99)],  # revision of key (7-funding, t0)
        ],
    )
    assert state[("7-funding", _ts(0))] == (0.99, 3)
    assert state[("7-funding", _ts(5))] == (0.02, 2)


def test_revision_within_batch_max_order_wins(spark, tmp_path):
    """Within one micro-batch the max-order row wins (deterministic
    replacement for pandas keep-first on API order)."""
    state = _run_upsert(
        spark,
        str(tmp_path),
        [
            [
                (10, _ts(0), 7, "funding", 0.50),
                (11, _ts(0), 7, "funding", 0.60),
            ]
        ],
    )
    assert state[("7-funding", _ts(0))] == (0.60, 11)


def test_stale_reemission_cannot_regress_store(spark, tmp_path):
    """A later batch carrying an OLDER order key (e.g. a replayed /
    state-evicted re-emission) must NOT overwrite the newer stored row:
    the cross-batch merge compares order_cols, it is not blind
    batch-wins (ADVICE r1)."""
    state = _run_upsert(
        spark,
        str(tmp_path),
        [
            [(9, _ts(0), 7, "funding", 0.42)],
            [(3, _ts(0), 7, "funding", 0.01)],  # stale: event_id 3 < 9
        ],
    )
    assert state[("7-funding", _ts(0))] == (0.42, 9)


def test_exact_resend_suppressed_and_idempotent(spark, tmp_path):
    """The same full row re-arriving in the next tick must not change
    the store (dropDuplicatesWithinWatermark + idempotent merge)."""
    row = (1, _ts(0), 7, "funding", 0.01)
    state = _run_upsert(spark, str(tmp_path), [[row], [row]])
    assert state == {("7-funding", _ts(0)): (0.01, 1)}


def test_processing_time_trigger_live_appends(spark, tmp_path):
    """The continuous mode (trigger(processingTime=...), the
    reference's 5-minute cadence): a live query picks up chunks
    appended AFTER start, and the store converges to the same state an
    availableNow replay would produce. Runs at a 1-second trigger so
    the test exercises the real code path without the real cadence."""
    import time

    from funding_monitoring_spark.streaming.pipelines import (
        streaming_upsert_rates as run_live,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(spark, [(1, _ts(0), 7, "funding", 0.01)])
    _write_chunk(b0, chunks, 0)
    store = os.path.join(tmp, "store")
    q = run_live(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        available_now=False,
        trigger_interval="1 second",
    )
    try:

        def store_state():
            if not os.path.exists(store):
                return {}
            try:
                return {
                    (r.symbol, r.funding_time): (r.funding_rate, r.event_id)
                    for r in spark.read.parquet(store).collect()
                }
            except Exception:
                # polling observer racing the atomic store swap: the
                # version we resolved was GC'd mid-read — poll again
                return {}

        def wait_for(pred, timeout=120):
            deadline = time.time() + timeout
            while time.time() < deadline:
                if pred():
                    return True
                if q.exception() is not None:
                    raise AssertionError(f"query died: {q.exception()}")
                time.sleep(0.5)
            return False

        assert wait_for(lambda: ("7-funding", _ts(0)) in store_state())
        # live append while the query runs: the next trigger must ingest it
        b1 = _events(spark, [(2, _ts(5), 8, "funding", 0.02)])
        _write_chunk(b1, chunks, 1)
        # assert through the poll predicate — a direct read after
        # wait_for can race the atomic store swap and see {}
        assert wait_for(
            lambda: store_state().get(("7-funding", _ts(0))) == (0.01, 1)
            and store_state().get(("8-funding", _ts(5))) == (0.02, 2)
        )
    finally:
        q.stop()


def test_rollup_drops_late_beyond_watermark(spark, tmp_path):
    """A row arriving after the watermark passed its window is dropped
    by the streaming agg — the documented stream-vs-batch divergence.

    The watermark advances at the END of the batch that carries the
    advancing event time, so the drop takes effect one micro-batch
    later (standard Spark propagation): batch0 advances event time to
    t+60 → batch1 runs with watermark t+50 and evicts window [0,5) →
    batch2's late row for that window is dropped."""
    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(
        spark,
        [
            (1, _ts(0), 1, "a", 1.0),
            (2, _ts(60), 1, "a", 1.0),  # advances watermark to t+50
        ],
    )
    b1 = _events(spark, [(3, _ts(61), 1, "a", 1.0)])
    b2 = _events(spark, [(4, _ts(1), 1, "a", 100.0)])  # late: [0,5) evicted
    _write_chunk(b0, chunks, 0)
    _write_chunk(b1, chunks, 1)
    _write_chunk(b2, chunks, 2)
    store = os.path.join(tmp, "store")
    streaming_tumbling_rollup(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        watermark="10 minutes",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in _merged(
            spark, store, ["window_start", "event_type"], ["n_events"]
        ).collect()
    }
    # the late event_id=4 (value 100.0) must NOT appear in window [0,5)
    assert got[(_ts(0), "a")] == (1, 1.0)
    assert got[(_ts(60), "a")] == (2, 2.0)


def test_checkpoint_restart_processes_only_new_chunks(spark, tmp_path):
    """Restarting with the same checkpoint ingests only unseen files;
    the store ends correct (effectively-once)."""
    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    ckpt = os.path.join(tmp, "ckpt")
    store = os.path.join(tmp, "store")
    b1 = _events(spark, [(1, _ts(0), 7, "funding", 0.01)])
    _write_chunk(b1, chunks, 0)
    q = streaming_upsert_rates(spark, chunks, b1.schema, store, ckpt)
    # an availableNow run returns only once its query has ended
    assert not q.isActive
    assert spark.streams.active == []
    assert q.lastProgress is not None
    first = spark.read.parquet(store).collect()
    assert len(first) == 1

    b2 = _events(spark, [(2, _ts(5), 7, "funding", 0.02)])
    _write_chunk(b2, chunks, 1)
    streaming_upsert_rates(spark, chunks, b1.schema, store, ckpt)
    state = {
        (r.symbol, r.funding_time): r.funding_rate
        for r in spark.read.parquet(store).collect()
    }
    assert state == {
        ("7-funding", _ts(0)): 0.01,
        ("7-funding", _ts(5)): 0.02,
    }


def test_stream_source_is_unbounded_plan(spark, tmp_path):
    """stream_from_chunks yields a genuine streaming DataFrame (file
    source, not a batch read)."""
    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    df = _events(spark, [(1, _ts(0), 7, "funding", 0.01)])
    _write_chunk(df, chunks, 0)
    src = stream_from_chunks(spark, chunks, df.schema)
    assert src.isStreaming


def _merged(spark, store, keys, order):
    from funding_monitoring_spark.streaming.sinks import read_merged_store

    return read_merged_store(spark, store, keys, order)


def _poll_merged(spark, store, keys, order, row_fn):
    if not os.path.exists(store):
        return {}
    try:
        return {
            k: v
            for k, v in (
                row_fn(r) for r in _merged(spark, store, keys, order).collect()
            )
        }
    except Exception:
        # polling observer racing a partition-dir write — poll again
        return {}


def _poll_store(spark, store, row_fn):
    if not os.path.exists(store):
        return {}
    try:
        return {k: v for k, v in (row_fn(r) for r in spark.read.parquet(store).collect())}
    except Exception:
        # polling observer racing the atomic store swap — poll again
        return {}


def _wait_for(q, pred, timeout=120):
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        if q.exception() is not None:
            raise AssertionError(f"query died: {q.exception()}")
        time.sleep(0.5)
    return False


def test_processing_time_trigger_live_cdc(spark, tmp_path):
    """Live-trigger twin of the availableNow CDC oracle (VERDICT r2
    item 7): a processingTime query compacts chunks appended after
    start, accumulates n_changes across live batches, and its
    run_id-namespaced marker keeps replays suppressed."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_cdc_materialize,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(spark, [(1, _ts(0), 7, "funding", 1.0)])
    _write_chunk(b0, chunks, 0)
    store = os.path.join(tmp, "store")
    q = streaming_cdc_materialize(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        available_now=False,
        trigger_interval="1 second",
    )
    try:
        rows = lambda: _poll_store(  # noqa: E731
            spark, store, lambda r: (r.user_id, (r.value, r.n_changes))
        )
        assert _wait_for(q, lambda: 7 in rows())
        # two live appends for the same key: value converges to the
        # max-order write, n_changes counts BOTH arrivals
        _write_chunk(
            _events(spark, [(2, _ts(5), 7, "funding", 2.0)]), chunks, 1
        )
        _write_chunk(
            _events(spark, [(3, _ts(10), 7, "funding", 3.0)]), chunks, 2
        )
        assert _wait_for(q, lambda: rows().get(7, (0, 0))[1] == 3)
        assert rows()[7][0] == 3.0
    finally:
        q.stop()


def test_processing_time_trigger_live_hopping(spark, tmp_path):
    """Live-trigger twin of the availableNow hopping-window oracle:
    update-mode emissions upsert the (window_start, event_type) store
    while the query runs; an event appended later lands in ALL the
    overlapping windows it belongs to."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_hopping_rollup,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(spark, [(1, _ts(6), 7, "funding", 1.0)])
    _write_chunk(b0, chunks, 0)
    store = os.path.join(tmp, "store")
    q = streaming_hopping_rollup(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        window="10 minutes",
        slide="5 minutes",
        available_now=False,
        trigger_interval="1 second",
    )
    try:
        rows = lambda: _poll_merged(  # noqa: E731
            spark,
            store,
            ["window_start", "event_type"],
            ["n_events"],
            lambda r: (
                (r.window_start, r.event_type),
                (r.n_events, r.sum_value),
            ),
        )
        # ts=6min belongs to the [0,10) and [5,15) windows
        assert _wait_for(
            q, lambda: rows().get((_ts(0), "funding")) == (1, 1.0)
        )
        assert rows()[(_ts(5), "funding")] == (1, 1.0)
        # live append at ts=7min: both open windows must update
        _write_chunk(
            _events(spark, [(2, _ts(7), 8, "funding", 2.0)]), chunks, 1
        )
        assert _wait_for(
            q, lambda: rows().get((_ts(0), "funding")) == (2, 3.0)
        )
        assert rows()[(_ts(5), "funding")] == (2, 3.0)
    finally:
        q.stop()


def test_anomaly_alerts_restart_keeps_state_and_appends_once(
    spark, tmp_path
):
    """The streaming anomaly scorer across a restart: the trailing
    baseline carried in state must survive the checkpoint (rows in the
    second run are scored against history from the first), and the
    idempotent batch-partition sink must not duplicate scores."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_anomaly_alerts,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    ckpt = os.path.join(tmp, "ckpt")
    store = os.path.join(tmp, "store")
    # run 1: 11 observations for one symbol → rows 0..10 land;
    # row 10 is the first scored one (10 prior obs)
    rows1 = [(i, _ts(i), 7, "funding", float(5 + (i % 2))) for i in range(11)]
    b1 = _events(spark, rows1)
    _write_chunk(b1, chunks, 0)
    streaming_anomaly_alerts(spark, chunks, b1.schema, store, ckpt)
    out1 = {r.event_id: r for r in spark.read.parquet(store).collect()}
    assert len(out1) == 11
    assert out1[9].zscore is None  # only 9 prior observations
    assert out1[10].zscore is not None and out1[10].baseline_n == 10

    # run 2 (same checkpoint): a spike — scored against the carried
    # baseline, so it must flag, and run 1's rows must not duplicate
    b2 = _events(spark, [(11, _ts(11), 7, "funding", 50.0)])
    _write_chunk(b2, chunks, 1)
    streaming_anomaly_alerts(spark, chunks, b1.schema, store, ckpt)
    out2 = [r for r in spark.read.parquet(store).collect()]
    assert len(out2) == 12  # no duplicates from the replayed run
    spike = {r.event_id: r for r in out2}[11]
    assert spike.baseline_n == 11  # state survived the restart
    assert spike.is_anomaly == 1 and spike.zscore > 2


def test_ohlc_late_within_watermark_updates_bar(spark, tmp_path):
    """A late tick still inside the watermark must REVISE its bar
    (min_by recomputes the open in aggregation state), and the
    update-mode re-emission must overwrite the previously-upserted
    bar rather than duplicate it."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_ohlc_bars,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    # bar [0,60min): first batch has ticks at t=5 and t=10
    b0 = _events(
        spark,
        [(1, _ts(5), 1, "a", 10.0), (2, _ts(10), 1, "a", 30.0)],
    )
    # late tick at t=1 — EARLIER than the current open, within the
    # 10-minute watermark → must become the new open
    b1 = _events(spark, [(3, _ts(1), 1, "a", 20.0)])
    _write_chunk(b0, chunks, 0)
    _write_chunk(b1, chunks, 1)
    store = os.path.join(tmp, "store")
    streaming_ohlc_bars(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        interval="1 hour",
    )
    rows = _merged(spark, store, ["symbol", "bar_ts"], ["n_ticks"]).collect()
    assert len(rows) == 1  # one bar, not a duplicate per emission
    bar = rows[0]
    assert bar.open == 20.0  # revised by the late tick
    assert bar.close == 30.0
    assert bar.high == 30.0 and bar.low == 10.0
    assert bar.n_ticks == 3


def test_heavy_hitters_restart_accumulates_counts_once(spark, tmp_path):
    """Count state must survive a checkpoint restart (run 2's rows
    increment run 1's totals) and a replayed run must not double-count
    (idempotent upsert by key)."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_heavy_hitters,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    ckpt = os.path.join(tmp, "ckpt")
    store = os.path.join(tmp, "store")
    b0 = _events(
        spark,
        [(i, _ts(i), 7, "a", 1.0) for i in range(3)]
        + [(10, _ts(10), 8, "a", 1.0)],
    )
    _write_chunk(b0, chunks, 0)
    streaming_heavy_hitters(spark, chunks, b0.schema, store, ckpt)
    got = {
        (r.event_type, r.user_id): r.n
        for r in _merged(
            spark, store, ["event_type", "user_id"], ["n"]
        ).collect()
    }
    assert got == {("a", 7): 3, ("a", 8): 1}

    # restart with two more events for user 7
    b1 = _events(
        spark, [(20, _ts(20), 7, "a", 1.0), (21, _ts(21), 7, "a", 1.0)]
    )
    _write_chunk(b1, chunks, 1)
    streaming_heavy_hitters(spark, chunks, b0.schema, store, ckpt)
    got = {
        (r.event_type, r.user_id): r.n
        for r in _merged(
            spark, store, ["event_type", "user_id"], ["n"]
        ).collect()
    }
    # 3 + 2, not 3 + 2 + (re-applied 3) — state carried, not replayed
    assert got == {("a", 7): 5, ("a", 8): 1}


def test_window_distinct_users_dedups_across_batches(spark, tmp_path):
    """The chained-stateful distinct count must count a user once per
    window even when their events arrive in DIFFERENT micro-batches
    (the dedup state is cross-batch), and must still count the same
    user again in a different window."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_window_distinct_users,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    # window [0,60min): users 7 (twice, split across batches) and 8
    b0 = _events(
        spark,
        [(1, _ts(1), 7, "a", 1.0), (2, _ts(2), 8, "a", 1.0)],
    )
    b1 = _events(spark, [(3, _ts(30), 7, "a", 1.0)])  # dup user, same window
    # window [60,120min): user 7 again — a NEW distinct occurrence
    b2 = _events(spark, [(4, _ts(65), 7, "a", 1.0)])
    # sentinel far in the future flushes both windows past the watermark
    b3 = _events(spark, [(9, _ts(600), -1, "sentinel", 0.0)])
    for i, b in enumerate((b0, b1, b2, b3)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_window_distinct_users(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        interval="1 hour",
        watermark="10 minutes",
    )
    got = {
        r.window_start: r.n_users
        for r in _merged(
            spark, store, ["window_start"], ["n_users"]
        ).collect()
        if r.window_start < _ts(600)
    }
    assert got == {_ts(0): 2, _ts(60): 1}


def test_window_distinct_users_non_hour_interval(spark, tmp_path):
    """The dedup bucket must derive from the SAME interval as the
    count windows. With 30-minute windows, a user active in
    [0,30min) and again in [30,60min) is two distinct occurrences;
    the old fixed date_trunc('hour') bucket would collapse them into
    one and silently drop the second window."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_window_distinct_users,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(
        spark,
        [(1, _ts(1), 7, "a", 1.0), (2, _ts(5), 7, "a", 1.0)],
    )
    b1 = _events(spark, [(3, _ts(31), 7, "a", 1.0)])
    b2 = _events(spark, [(9, _ts(600), -1, "sentinel", 0.0)])
    for i, b in enumerate((b0, b1, b2)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_window_distinct_users(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        interval="30 minutes",
        watermark="10 minutes",
    )
    got = {
        r.window_start: r.n_users
        for r in _merged(
            spark, store, ["window_start"], ["n_users"]
        ).collect()
        if r.window_start < _ts(600)
    }
    assert got == {_ts(0): 1, _ts(30): 1}


def test_anomaly_alerts_state_ttl_evicts_idle_key(spark, tmp_path):
    """With state_ttl_ms set, a key idle past the TTL has its baseline
    EVICTED once the watermark passes its deadline (a returning event
    is scored like a brand-new key, baseline_n == 0); a key active
    within the TTL keeps its baseline. Eviction is event-time-driven,
    so the replay is deterministic."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_anomaly_alerts,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    # b0: key 7 builds 3 observations; key 8 one observation
    b0 = _events(
        spark,
        [(i, _ts(i), 7, "funding", float(i)) for i in range(3)]
        + [(10, _ts(2), 8, "funding", 1.0)],
    )
    # b1: key 8 stays active at minute 10 (re-arms its deadline to 25)
    b1 = _events(spark, [(11, _ts(10), 8, "funding", 2.0)])
    # b2: watermark jumps to minute 60 via key 8 (deadline → 75)
    b2 = _events(spark, [(12, _ts(60), 8, "funding", 3.0)])
    # b3: key 8 only. Timeouts fire for keys with NO data in the
    # batch: key 7 (deadline minute 17 < watermark 60) is evicted
    # here; key 8 has data, keeps state
    b3 = _events(spark, [(13, _ts(61), 8, "funding", 4.0)])
    # b4: key 7 returns — must restart with an EMPTY baseline; key 8
    # continues its 4-observation history
    b4 = _events(
        spark,
        [(14, _ts(62), 7, "funding", 9.0), (15, _ts(62), 8, "funding", 9.0)],
    )
    for i, b in enumerate((b0, b1, b2, b3, b4)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_anomaly_alerts(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        state_ttl_ms=15 * 60 * 1000,
    )
    got = {r.event_id: r for r in spark.read.parquet(store).collect()}
    # within b0/b1 the baseline accumulates normally
    assert got[2].baseline_n == 2
    assert got[11].baseline_n == 1  # key 8 kept state from b0
    # key 8 stays under its re-armed deadline throughout
    assert got[12].baseline_n == 2
    assert got[13].baseline_n == 3
    # key 7 idled past the TTL → evicted in b3 → restarts from scratch
    assert got[14].baseline_n == 0
    # the active key was untouched by the eviction
    assert got[15].baseline_n == 4


def test_anomaly_ttl_keeps_late_but_valid_events(spark, tmp_path):
    """Turning TTL on must NOT silently change late-data semantics: a
    cross-batch out-of-order event within the watermark delay is still
    scored (a zero-delay watermark — the old hardcoded behavior —
    would drop every such event before the stateful update)."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_anomaly_alerts,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    # b0 advances event time to minute 30 → watermark = 30 - 10 = 20
    b0 = _events(
        spark,
        [(i, _ts(i), 8, "funding", float(i)) for i in range(3)]
        + [(3, _ts(30), 8, "funding", 3.0)],
    )
    # b1: minute 25 — OLDER than b0's max (out-of-order across
    # batches) but newer than the watermark → must be scored
    b1 = _events(spark, [(4, _ts(25), 7, "funding", 1.0)])
    for i, b in enumerate((b0, b1)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_anomaly_alerts(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        state_ttl_ms=60 * 60 * 1000,
        watermark="10 minutes",
    )
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert 4 in got, "late-but-valid event was dropped under TTL"


def test_ewma_state_ttl_restarts_fold(spark, tmp_path):
    """EWMA stateful pipeline with TTL: an evicted key's fold restarts
    from scratch instead of continuing the carried state — and the
    restarted row REPLACES the stale pre-eviction store row even
    though its n is SMALLER (the TTL variant merges on micro-batch
    order, the only key monotone in emission; max-n would pin the
    evicted history forever, and max-event-time would reject
    late-but-valid folds)."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_ewma_stateful,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    mk = lambda eid, m, sym, v: (eid, _ts(m), 7, sym, v)
    b0 = _events(spark, [mk(1, 0, "fr-A", 4.0), mk(2, 1, "fr-A", 8.0)])
    # advance the watermark far past A's deadline via another symbol
    b1 = _events(spark, [mk(3, 60, "fr-B", 1.0)])
    # b2: fr-B only — fr-A has NO data this batch, its deadline
    # (minute 16) is behind the watermark (60), so it is evicted here
    b2 = _events(spark, [mk(4, 61, "fr-B", 1.0)])
    # A returns with ONE event — fewer than its evicted history
    b3 = _events(spark, [mk(5, 62, "fr-A", 2.0)])
    for i, b in enumerate((b0, b1, b2, b3)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_ewma_stateful(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        state_ttl_ms=15 * 60 * 1000,
    )
    got = {r.symbol: r for r in spark.read.parquet(store).collect()}
    # restarted fold: n reset to 1, ewma = the single new value —
    # NOT n=3 / a continued fold from the evicted (4.0, 8.0) history
    assert got["7-fr-A"].n == 1
    assert got["7-fr-A"].ewma == 2.0
    assert got["7-fr-B"].n == 2


def test_sketch_rollup_merge_idempotent(spark, tmp_path):
    """HLL merges are register-wise max, so re-merging an
    already-ingested batch must leave the store's estimates unchanged
    — the no-bookkeeping effectively-once argument the sketch-rollup
    pipeline relies on under batch replay."""
    from pyspark.sql import functions as F

    from funding_monitoring_spark.streaming.pipelines import (
        streaming_sketch_rollup,
    )
    from funding_monitoring_spark.streaming.sinks import atomic_overwrite

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    b0 = _events(
        spark, [(i, _ts(i), i % 7, "funding", 1.0) for i in range(20)]
    )
    b1 = _events(
        spark,
        [(100 + i, _ts(30 + i), i % 5, "funding", 1.0) for i in range(10)],
    )
    for i, b in enumerate((b0, b1)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_sketch_rollup(
        spark, chunks, b0.schema, store, os.path.join(tmp, "ckpt")
    )

    def estimates():
        return {
            r.week: r.est
            for r in spark.read.parquet(store)
            .select(
                "week", F.hll_sketch_estimate("sk").alias("est")
            )
            .collect()
        }

    before = estimates()
    # replay batch 0's merge verbatim — the retry scenario
    replay = b0.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = (
        spark.read.parquet(store)
        .unionByName(replay)
        .groupBy("week")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )
    atomic_overwrite(merged, store)
    assert estimates() == before


def test_ewma_ttl_keeps_late_but_valid_events(spark, tmp_path):
    """The EWMA fold under TTL must include cross-batch out-of-order
    events within the watermark delay (the old zero-delay watermark
    dropped them before the fold — a semantic change far beyond 'idle
    keys evicted'). The late row folds at ARRIVAL order, so we assert
    inclusion (n counts it), not time-order parity."""
    from funding_monitoring_spark.streaming.pipelines import (
        streaming_ewma_stateful,
    )

    tmp = str(tmp_path)
    chunks = os.path.join(tmp, "chunks")
    mk = lambda eid, m, v: (eid, _ts(m), 7, "fr-A", v)
    # b0 advances event time to minute 30 -> watermark = 20
    b0 = _events(spark, [mk(1, 0, 4.0), mk(2, 30, 8.0)])
    # b1: minute 25 — older than b0's max, newer than the watermark
    b1 = _events(spark, [mk(3, 25, 2.0)])
    for i, b in enumerate((b0, b1)):
        _write_chunk(b, chunks, i)
    store = os.path.join(tmp, "store")
    streaming_ewma_stateful(
        spark,
        chunks,
        b0.schema,
        store,
        os.path.join(tmp, "ckpt"),
        state_ttl_ms=60 * 60 * 1000,
        watermark="10 minutes",
    )
    got = {r.symbol: r for r in spark.read.parquet(store).collect()}
    # all three events folded: 4.0 -> *0.75 + 8.0*0.25 = 5.0 -> *0.75
    # + 2.0*0.25 = 4.25 (arrival order; alpha=0.25 binary-exact)
    assert got["7-fr-A"].n == 3
    assert got["7-fr-A"].ewma == 4.25


def test_read_merged_store_missing_path_is_clear(spark, tmp_path):
    """A store whose every micro-batch was empty-skipped never exists
    on disk; the reader must name the store in a clear error instead
    of surfacing Spark's generic path-not-found."""
    import pytest

    from funding_monitoring_spark.streaming.sinks import read_merged_store

    missing = os.path.join(str(tmp_path), "never_written")
    with pytest.raises(FileNotFoundError, match="never_written"):
        read_merged_store(spark, missing, ["k"], ["ts"])


def test_read_merged_store_scheme_uri_skips_local_guard(spark):
    """A store URI with a filesystem scheme (hdfs://, s3a://, ...)
    must bypass the local os.path guard and resolve through Spark's
    Hadoop filesystem layer (ADVICE r12: the guard false-negatived on
    any non-local deployment path). file:// on a missing path still
    errors — but from Spark, not our FileNotFoundError."""
    import pytest

    from funding_monitoring_spark.streaming.sinks import read_merged_store

    with pytest.raises(Exception) as exc:
        read_merged_store(
            spark, "file:///nonexistent/store/path", ["k"], ["ts"]
        )
    assert not isinstance(exc.value, FileNotFoundError)
