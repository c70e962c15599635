"""The workloads. Each one generates its inputs from the seed,
hands the program only those files, calls its public functions, checks
the outputs and returns its metrics.

A workload's timed loop runs whole operations until ``seconds`` have
passed (at least ``MIN_TIMED``), after two untimed warm-up operations,
the first of them checked; ``funding_ticks`` instead times its checked
replay, whose first ticks warm the JVM up. Every operation is counted in
``attempted``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, eventlog, gen

LOOKBACK_DAYS = 21
#: timed operations per run, at least
MIN_TIMED = 3

#: per-layer metrics and their units; a workload that bypasses a layer
#: reports 0 for it
PER_LAYER = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.bytes_written": "bytes",
    "spark.driver_gap_s": "s",
    "spark.job_concurrency": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.source_ms": "ms",
    "streaming.overhead_ms": "ms",
    "sinks.merge_ms": "ms",
    "funding_stats.recompute_ms": "ms",
    "dedup.pairs_s": "s",
    "dedup.pairs": "count",
    "dedup.shuffle_bytes": "bytes",
    "components.s": "s",
    "components.jobs": "count",
}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: median wall time and CPU time of the workload's unit of work
    latency_ms: float | None = None
    cpu_ms: float | None = None
    #: traced runs: per-layer values
    layers: dict[str, float] = field(default_factory=dict)
    calls: list[eventlog.Call] = field(default_factory=list)


def note(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


def median(values) -> float:
    return float(statistics.median(values))


def now_ms() -> float:
    return time.time() * 1e3


def timed_calls(engine, name: str, seconds: float, fn) -> list[eventlog.Call]:
    """Run ``fn(0)`` untimed, then ``fn(i)``, i = 1, 2, ..., under job
    group ``name-i`` until ``seconds`` passed and at least ``MIN_TIMED``
    calls ran; returns the timed calls. The untimed call is the second
    after the cold one: it still runs 10-30% slower than the calls after
    it."""
    fn(0)
    calls = []
    end = time.perf_counter() + seconds
    while len(calls) < MIN_TIMED or time.perf_counter() < end:
        i = len(calls) + 1
        group = f"{name}-{i}"
        engine.set_group(group)
        t0, c0 = now_ms(), engine.cpu_s()
        fn(i)
        calls.append(
            eventlog.Call(group, t0, now_ms(), cpu_s=engine.cpu_s() - c0)
        )
    engine.clear_group()
    note(f"{name} call ms: " + " ".join(f"{c.wall_s * 1e3:.0f}" for c in calls))
    return calls


def read_store(path: str) -> pd.DataFrame:
    """A parquet store written by the program, read without Spark."""
    return pq.read_table(os.path.realpath(path)).to_pandas()


def noop(df) -> None:
    """Force a query in full without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# -- funding_ticks ------------------------------------------------------

TICK_SYMBOLS = 250
TICKS = 7
#: batch 0 is the backfill; ticks before this batch id warm the JVM up
STEADY_FROM = 4


class FundingTicks:
    """Closed-loop replay of the 5-minute tick cadence: one tick file per
    trigger through ``streaming_funding_pipeline`` (availableNow)."""

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.feed = gen.funding_tick_feed(
            seed, os.path.join(work, "feed"), TICK_SYMBOLS, TICKS
        )
        #: (replay index, progress, hook timings, CPU s) of every steady tick
        self.ticks: list = []

    def _replay(self, engine, tag: str, traced: bool):
        from funding_monitoring_spark.schemas import FIXTURE_TABLES
        from funding_monitoring_spark.streaming.pipelines import (
            streaming_funding_pipeline,
        )

        store = os.path.join(self.work, f"store-{tag}")
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        before = engine.progress.started_ids()
        if traced:
            hooks = self._traced_replay(engine, self.feed.dir, store, ckpt)
        else:
            streaming_funding_pipeline(
                engine.spark, self.feed.dir, FIXTURE_TABLES["events"], store, ckpt,
                lookback_days=LOOKBACK_DAYS,
            )
            hooks = {}
        ids = engine.progress.started_ids() - before
        progress = engine.progress.take(ids)
        paths = {
            "rates": os.path.join(store, "funding_rates"),
            "stats": os.path.join(store, "funding_stats"),
        }
        return paths, progress, hooks

    @staticmethod
    def _traced_replay(engine, feed_dir, store, ckpt):
        """The same composition as streaming_funding_pipeline, with the
        benchmark's own timers around the merge and the stats hook."""
        from funding_monitoring_spark.pipeline.funding_stats import (
            funding_stats_from_rates,
            rates_from_events,
        )
        from funding_monitoring_spark.schemas import FIXTURE_TABLES
        from funding_monitoring_spark.streaming.pipelines import (
            RATE_KEYS,
            RATE_ORDER,
        )
        from funding_monitoring_spark.streaming.replay import stream_from_chunks
        from funding_monitoring_spark.streaming.sinks import (
            atomic_overwrite,
            upsert_writer,
        )

        spark = engine.spark
        rates_path = os.path.join(store, "funding_rates")
        stats_path = os.path.join(store, "funding_stats")
        hooks: dict[int, dict[str, float]] = {}
        hook_ms = []

        def recompute(stored) -> None:
            t0 = time.perf_counter()
            atomic_overwrite(
                funding_stats_from_rates(stored, LOOKBACK_DAYS), stats_path
            )
            hook_ms.append((time.perf_counter() - t0) * 1e3)

        write = upsert_writer(
            rates_path, RATE_KEYS, RATE_ORDER,
            on_batch_complete=recompute, check_empty=False,
        )

        def timed_write(batch, batch_id: int) -> None:
            hook_ms.clear()
            t0 = time.perf_counter()
            write(batch, batch_id)
            total = (time.perf_counter() - t0) * 1e3
            hooks[batch_id] = {
                "recompute_ms": sum(hook_ms),
                "merge_ms": total - sum(hook_ms),
            }

        src = stream_from_chunks(spark, feed_dir, FIXTURE_TABLES["events"])
        q = (
            rates_from_events(src)
            .writeStream.foreachBatch(timed_write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return hooks

    def _check(self, paths) -> list[str]:
        sent = self.feed.sent
        store = read_store(paths["rates"])
        stats = read_store(paths["stats"])
        want = checks.expected_stats(checks.dedup_latest(sent), LOOKBACK_DAYS)
        return (
            checks.check_store(store, sent)
            + checks.check_stats(stats, want)
            + checks.check_guards(stats, want)
        )

    def run(self, engine, seconds: float, traced: bool) -> Outcome:
        out = Outcome()
        ticks = []
        end = time.perf_counter() + seconds
        while not out.calls or time.perf_counter() < end:
            i = len(out.calls)
            group = f"replay-{i}"
            engine.set_group(group)
            t0 = now_ms()
            paths, progress, hooks = self._replay(engine, str(i), traced)
            out.calls.append(eventlog.Call(group, t0, now_ms()))
            out.attempted += 1
            if i == 0:
                out.problems += self._check(paths)
            if len(progress) != TICKS + 1:
                out.problems.append(
                    f"replay ran {len(progress)} batches, expected {TICKS + 1}"
                )
            # a tick's CPU: between its progress report and the previous one
            for (_, c_prev), (p, c) in zip(progress, progress[1:]):
                if p.batchId >= STEADY_FROM:
                    ticks.append((i, p, hooks.get(p.batchId), c - c_prev))
            note(
                "tick ms: "
                + " ".join(
                    str(p.durationMs["triggerExecution"]) for p, _ in progress
                )
            )
        out.latency_ms = median(
            p.durationMs["triggerExecution"] for _, p, _, _ in ticks
        )
        out.cpu_ms = median(c for *_, c in ticks) * 1e3
        self.ticks = ticks
        if traced:
            d = [p.durationMs for _, p, _, _ in ticks]
            out.layers.update(
                {
                    "streaming.add_batch_ms": median(x["addBatch"] for x in d),
                    "streaming.commit_ms": median(
                        x["walCommit"] + x["commitOffsets"] for x in d
                    ),
                    "streaming.source_ms": median(
                        x["latestOffset"] + x["getBatch"] for x in d
                    ),
                    "streaming.overhead_ms": median(
                        x["triggerExecution"] - x["addBatch"] for x in d
                    ),
                    "sinks.merge_ms": median(h["merge_ms"] for _, _, h, _ in ticks),
                    "funding_stats.recompute_ms": median(
                        h["recompute_ms"] for _, _, h, _ in ticks
                    ),
                }
            )
        return out

    def layers_from_log(self, out: Outcome, jobs: list[eventlog.Job]) -> None:
        """Per steady tick: the jobs of that micro-batch, within its replay.
        Streaming jobs carry the query's own job group, so a replay's jobs
        are found by its time window."""
        per_tick = []
        for call in out.calls:
            call.jobs = [
                j for j in jobs if call.start_ms <= j.start_ms <= call.end_ms
            ]
            i = int(call.group.rsplit("-", 1)[1])
            by_batch = eventlog.jobs_by_batch(call.jobs)
            for j, p, _, _ in self.ticks:
                if j != i:
                    continue
                start = pd.Timestamp(p.timestamp).timestamp() * 1e3
                tick = eventlog.Call(
                    f"tick-{p.batchId}", start,
                    start + p.durationMs["triggerExecution"],
                    jobs=by_batch.get(p.batchId, []),
                )
                per_tick.append(eventlog.summarize(tick))
        out.layers.update(median_layers(per_tick))


def median_layers(rows: list[dict[str, float]]) -> dict[str, float]:
    return {f"spark.{k}": median(r[k] for r in rows) for k in rows[0]}


# -- main_dag -----------------------------------------------------------

DAG_USERS = 30
DAG_ROWS_PER_SERIES = 200


class MainDag:
    """``run_main_dag`` over a generated events table; the nine other
    fixture tables exist and are empty. Each call gets a fresh store."""

    def __init__(self, seed: int, work: str) -> None:
        from funding_monitoring_spark.schemas import FIXTURE_TABLES

        self.work = work
        self.sf_dir = os.path.join(work, "tables")
        events = gen.dag_events(seed, DAG_USERS, DAG_ROWS_PER_SERIES)
        gen.write_dag_tables(events, self.sf_dir, FIXTURE_TABLES)
        self.want = checks.expected_dag(events, LOOKBACK_DAYS)

    def _call(self, engine, tag: str) -> list[str]:
        from funding_monitoring_spark.operators.cachescope import (
            release_scoped_caches,
        )
        from funding_monitoring_spark.pipeline.main_dag import run_main_dag

        summary = run_main_dag(
            engine.spark, self.sf_dir, os.path.join(self.work, f"dag-{tag}")
        )
        release_scoped_caches()
        return checks.check_dag(summary, self.want)

    def run(self, engine, seconds: float, traced: bool) -> Outcome:
        out = Outcome(attempted=1)
        out.problems += self._call(engine, "warm")
        out.calls = timed_calls(
            engine, "dag", seconds,
            lambda i: out.problems.extend(self._call(engine, str(i))),
        )
        out.attempted += 1 + len(out.calls)
        out.latency_ms = median(c.wall_s for c in out.calls) * 1e3
        out.cpu_ms = median(c.cpu_s for c in out.calls) * 1e3
        return out

    def layers_from_log(self, out: Outcome, jobs) -> None:
        eventlog.assign(jobs, out.calls)
        out.layers.update(
            median_layers([eventlog.summarize(c) for c in out.calls])
        )


# -- near_dup_clusters --------------------------------------------------

CORPUS_DOCS = 5_000
CORPUS_FILES = 8


class NearDupClusters:
    """``minhash_lsh_pairs`` -> ``dedup_cluster_assignment`` over a corpus
    with planted near-duplicate families."""

    def __init__(self, seed: int, work: str) -> None:
        import numpy as np
        import pyarrow as pa

        self.corpus = gen.near_dup_corpus(seed, CORPUS_DOCS)
        #: (pairs call, components call) of every run after the checked one
        self.phases: list = []
        self.n_pairs = 0
        self.path = os.path.join(work, "docs")
        os.makedirs(self.path)
        parts = np.array_split(np.arange(len(self.corpus.docs)), CORPUS_FILES)
        for k, rows in enumerate(parts):
            pq.write_table(
                pa.Table.from_pandas(
                    self.corpus.docs.iloc[rows], preserve_index=False
                ),
                os.path.join(self.path, f"part-{k}.parquet"),
            )

    def _pipeline(self, engine, tag: str):
        """Pairs, materialized (``localCheckpoint``) under job group
        ``pairs-<tag>``, then the lazy cluster assignment over them, whose
        jobs run under ``components-<tag>``. Returns the pairs, the
        clusters and the pairs phase's wall window."""
        from funding_monitoring_spark.operators.components import (
            dedup_cluster_assignment,
        )
        from funding_monitoring_spark.operators.dedup import minhash_lsh_pairs

        docs = engine.spark.read.parquet(self.path)
        engine.set_group(f"pairs-{tag}")
        t0 = now_ms()
        pairs = minhash_lsh_pairs(docs).localCheckpoint()
        t1 = now_ms()
        engine.set_group(f"components-{tag}")
        return pairs, dedup_cluster_assignment(docs, pairs), (t0, t1)

    def run(self, engine, seconds: float, traced: bool) -> Outcome:
        from funding_monitoring_spark.operators.cachescope import (
            release_scoped_caches,
        )

        out = Outcome(attempted=1)
        pairs, clusters, _ = self._pipeline(engine, "warm")
        got_pairs = pairs.toPandas()
        got_clusters = clusters.select(
            "doc_id", "cluster_id", "is_canonical"
        ).toPandas()
        engine.clear_group()
        release_scoped_caches()
        out.problems += checks.check_near_dups(
            self.corpus.docs, self.corpus.families, got_pairs, got_clusters
        )
        note("checked run done")
        # the hashing is seeded, so every run finds the same pairs
        self.n_pairs = len(got_pairs)
        docs_pd = self.corpus.docs
        recall, bound, n = checks.planted_recall(
            dict(zip(docs_pd["doc_id"], map(checks.shingles, docs_pd["text"]))),
            self.corpus.families,
            list(zip(got_pairs["id_a"], got_pairs["id_b"])),
        )
        note(
            f"{len(got_pairs)} pairs; recall {recall:.4f} on {n} planted "
            f"pairs, bound {bound:.4f}"
        )

        self.phases = []

        def call(i: int) -> None:
            _, clusters, (t0, t1) = self._pipeline(engine, str(i))
            noop(clusters)
            release_scoped_caches()
            self.phases.append(
                (
                    eventlog.Call(f"pairs-{i}", t0, t1),
                    eventlog.Call(f"components-{i}", t1, now_ms()),
                )
            )

        out.calls = timed_calls(engine, "dedup", seconds, call)
        del self.phases[0]  # the untimed call's
        out.attempted += 1 + len(out.calls)
        out.latency_ms = median(c.wall_s for c in out.calls) * 1e3
        out.cpu_ms = median(c.cpu_s for c in out.calls) * 1e3
        return out

    def layers_from_log(self, out: Outcome, jobs) -> None:
        pairs_calls = [p for p, _ in self.phases]
        comp_calls = [c for _, c in self.phases]
        eventlog.assign(jobs, pairs_calls + comp_calls)
        for call, (p, c) in zip(out.calls, self.phases):
            call.jobs = p.jobs + c.jobs
        out.layers.update(
            median_layers([eventlog.summarize(c) for c in out.calls])
        )
        out.layers.update(
            {
                "dedup.pairs_s": median(p.wall_s for p in pairs_calls),
                "dedup.pairs": self.n_pairs,
                "dedup.shuffle_bytes": median(
                    eventlog.summarize(p)["shuffle_bytes"] for p in pairs_calls
                ),
                "components.s": median(c.wall_s for c in comp_calls),
                "components.jobs": median(len(c.jobs) for c in comp_calls),
            }
        )


WORKLOADS = {
    "funding_ticks": FundingTicks,
    "main_dag": MainDag,
    "near_dup_clusters": NearDupClusters,
}
