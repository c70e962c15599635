"""Seeded input generators. Everything here is NumPy + pyarrow: no Spark,
so the inputs exist before the engine starts and do not depend on it.

Funding rates are quantized to 1e-6, like exchange funding rates, so
derived statistics land on rounding half-boundaries of the 6-digit
outputs (the checks must then compare within half a unit, not by
re-rounding their own values).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: reference instant the generated time series are laid out around (UTC)
EPOCH = pd.Timestamp("2026-01-01T00:00:00Z")
#: tick cadence of the reference monitor, seconds
TICK_S = 300

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def quantized_rates(rng: np.random.Generator, n: int) -> np.ndarray:
    """Funding rates on the 1e-6 grid: integer micro-units / 1e6."""
    micro = np.rint(rng.normal(100.0, 250.0, n)).astype(np.int64)
    return micro / 1e6


def events_table(events: pd.DataFrame) -> pa.Table:
    """The fixture ``events`` table from (event_id, ts, user_id,
    event_type, value) columns."""
    return pa.table(
        {
            "event_id": pa.array(events["event_id"], pa.int64()),
            "ts": pa.array(
                pd.DatetimeIndex(events["ts"]).as_unit("us"),
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array(events["user_id"], pa.int64()),
            "event_type": pa.array(events["event_type"], pa.string()),
            "value": pa.array(events["value"], pa.float64()),
            "props": pa.array(["{}"] * len(events), pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


# -- funding_ticks -----------------------------------------------------


#: backfill cadences, seconds, and their shares: hot symbols fund at the
#: tick cadence, the rest hourly, two-hourly or at the exchanges' 8-hour
#: period, so histories span from a day to months
CADENCES_S = np.array([TICK_S, 3_600, 7_200, 28_800])
CADENCE_SHARES = [0.3, 0.2, 0.25, 0.25]
DAY_S = 86_400


def series_ends(
    rng: np.random.Generator, n: int, ended_share: float
) -> np.ndarray:
    """Seconds from the global end to each series' last row: 0 for live
    series, 0.5-25 days earlier (whole minutes) for an ``ended_share`` of
    them, so some end inside the 21-day lookback and some before it."""
    early = rng.integers(DAY_S // 120, 25 * DAY_S // 60, n) * 60
    return np.where(rng.random(n) < ended_share, -early, 0)


def laid_out(lengths: np.ndarray, cadence_s: np.ndarray, end_s: np.ndarray):
    """Series index and time offset (seconds from the global end) of every
    row: series k holds lengths[k] rows cadence_s[k] apart, its newest at
    end_s[k]; rows come oldest first within a series."""
    series = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.cumsum(lengths) - lengths
    age = np.repeat(starts + lengths - 1, lengths) - np.arange(len(series))
    return series, np.repeat(end_s, lengths) - age * np.repeat(cadence_s, lengths)


@dataclass
class TickFeed:
    #: directory of the tick files, oldest first by mtime
    dir: str
    #: every row sent, in send order (symbol, funding_time, rate, event_id)
    sent: pd.DataFrame


def funding_tick_feed(
    seed: int,
    out_dir: str,
    n_symbols: int,
    n_ticks: int,
    history: tuple[int, int] = (200, 340),
    resend_share: float = 0.10,
    revise_share: float = 0.05,
    delisted_share: float = 0.10,
) -> TickFeed:
    """A backfill file, then ``n_ticks`` tick files.

    The backfill holds history[0]..history[1]-1 rows per symbol at a
    per-symbol cadence (``CADENCES_S``): some symbols fill the 270-row
    window inside the 21-day lookback, some hold 270 rows only when the
    lookback is ignored, some far fewer. Live symbols' histories end at
    EPOCH; a ``delisted_share`` of symbols ends 0.5-25 days earlier and
    gets no ticks, so the global anchor is not every symbol's newest row.
    Each tick carries one new funding per live symbol, plus exact re-sends
    of a share of the previous tick's rows and higher-event_id revisions
    of another share.

    File mtimes increase with the file index: the file source takes the
    oldest file first, one file per trigger."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    lengths = rng.integers(history[0], history[1], n_symbols)
    cadence = rng.choice(CADENCES_S, n_symbols, p=CADENCE_SHARES)
    end_s = series_ends(rng, n_symbols, delisted_share)
    live = np.flatnonzero(end_s == 0).astype(np.int64)
    next_id = 1

    sym_b, offset_s = laid_out(lengths, cadence, end_s)
    ids_b = np.arange(next_id, next_id + len(sym_b))
    next_id += len(sym_b)
    frames = [
        pd.DataFrame(
            {
                "user_id": sym_b.astype(np.int64),
                "ts": EPOCH + pd.to_timedelta(offset_s, unit="s"),
                "value": quantized_rates(rng, len(sym_b)),
                "event_id": ids_b,
            }
        )
    ]
    # newest row per live symbol = the "previous tick" the first tick re-sends
    prev = frames[0].groupby("user_id", sort=False).tail(1)
    prev = prev[prev["user_id"].isin(live)]

    for j in range(1, n_ticks + 1):
        new = pd.DataFrame(
            {
                "user_id": live,
                "ts": EPOCH + pd.Timedelta(seconds=j * TICK_S),
                "value": quantized_rates(rng, len(live)),
                "event_id": np.arange(next_id, next_id + len(live)),
            }
        )
        next_id += len(live)
        pick = rng.permutation(len(prev))
        n_re = int(len(prev) * resend_share)
        n_rev = int(len(prev) * revise_share)
        resend = prev.iloc[pick[:n_re]]
        revise = prev.iloc[pick[n_re : n_re + n_rev]].assign(
            value=quantized_rates(rng, n_rev),
            event_id=np.arange(next_id, next_id + n_rev),
        )
        next_id += n_rev
        tick = pd.concat([new, resend, revise], ignore_index=True)
        frames.append(tick.sample(frac=1.0, random_state=rng.integers(2**31)))
        prev = new

    for i, f in enumerate(frames):
        path = os.path.join(out_dir, f"tick-{i:04d}.parquet")
        pq.write_table(events_table(f.assign(event_type="perp")), path)
        os.utime(path, (1_000_000_000 + 60 * i,) * 2)

    sent = pd.concat(frames, ignore_index=True)
    sent = pd.DataFrame(
        {
            "symbol": sent["user_id"].astype(str) + "-perp",
            "funding_time": pd.DatetimeIndex(sent["ts"]),
            "funding_rate": sent["value"].to_numpy(),
            "event_id": sent["event_id"].to_numpy(),
        }
    )
    return TickFeed(dir=out_dir, sent=sent)


# -- main_dag ----------------------------------------------------------

_TYPES = {
    "IntegerType": pa.int32(),
    "LongType": pa.int64(),
    "DoubleType": pa.float64(),
    "FloatType": pa.float32(),
    "StringType": pa.string(),
    "TimestampType": pa.timestamp("us", tz="UTC"),
}


def _arrow_type(spark_type) -> pa.DataType:
    name = type(spark_type).__name__
    if name == "ArrayType":
        return pa.list_(_arrow_type(spark_type.elementType))
    return _TYPES[name]


def empty_table(struct_type) -> pa.Table:
    """An empty parquet-ready table with the fixture table's columns."""
    schema = pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in struct_type.fields]
    )
    return schema.empty_table()


def dag_events(
    seed: int, n_users: int, rows_per_series: int, ended_share: float = 0.25
) -> pd.DataFrame:
    """The events table of the main DAG: ``n_users`` users x 3 event
    types, rows_per_series/4..2*rows_per_series rows per series at a
    per-series cadence (``CADENCES_S``), so histories reach from hours to
    months back from EPOCH + 30 days, across the DAG's 15-day page split
    and its 2-day overlap and past the 21-day lookback. An
    ``ended_share`` of series ends 0.5-25 days before the others. A share
    of keys is revised (same (user, type, ts), higher event_id) so the
    funding upsert has duplicates to resolve."""
    rng = np.random.default_rng([seed, 3])
    types = np.array(["purchase", "view", "error"])
    n_series = n_users * len(types)
    lengths = rng.integers(rows_per_series // 4, rows_per_series * 2, n_series)
    cadence = rng.choice(CADENCES_S, n_series, p=CADENCE_SHARES)
    series, offset_s = laid_out(
        lengths, cadence, series_ends(rng, n_series, ended_share)
    )
    ts = EPOCH + pd.Timedelta(days=30) + pd.to_timedelta(offset_s, unit="s")
    base = pd.DataFrame(
        {"series": series, "ts": ts, "value": quantized_rates(rng, len(series))}
    )
    revised = base.sample(frac=0.05, random_state=rng.integers(2**31))
    revised = revised.assign(value=quantized_rates(rng, len(revised)))
    # revisions are sent after every original, so they carry higher ids
    base["event_id"] = rng.permutation(len(base)).astype(np.int64) + 1
    revised["event_id"] = np.arange(
        len(base) + 1, len(base) + len(revised) + 1, dtype=np.int64
    )
    ev = pd.concat([base, revised], ignore_index=True)
    return pd.DataFrame(
        {
            "event_id": ev["event_id"].to_numpy(),
            "ts": pd.DatetimeIndex(ev["ts"]),
            "user_id": (ev["series"] // len(types)).to_numpy(np.int64),
            "event_type": types[ev["series"] % len(types)],
            "value": ev["value"].to_numpy(),
        }
    )


def write_dag_tables(events: pd.DataFrame, sf_dir: str, fixture_tables) -> None:
    """events.parquet plus the nine other fixture tables, empty."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, struct in fixture_tables.items():
        table = events_table(events) if name == "events" else empty_table(struct)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# -- near_dup_clusters -------------------------------------------------


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text
    #: planted families: lists of doc ids generated from one base text
    families: list[list[int]]


def near_dup_corpus(
    seed: int,
    n_docs: int,
    family_share: float = 0.45,
    vocab: int = 20_000,
    length: tuple[int, int] = (30, 80),
) -> Corpus:
    """Random-token documents; ``family_share`` of them belong to
    planted families of 2-6 near-duplicates. A family member is the
    family's base text with a few tokens substituted, inserted or
    deleted, so within-family 3-shingle Jaccard spreads over ~0.3-1."""
    rng = np.random.default_rng([seed, 4])
    words = np.array([f"w{i}" for i in range(vocab)])
    texts: list[str] = []
    families: list[list[int]] = []
    n_family_docs = int(n_docs * family_share)
    while len(texts) < n_family_docs:
        size = int(rng.integers(2, 7))
        base = list(rng.integers(0, vocab, rng.integers(*length)))
        members = []
        for _ in range(size):
            toks = list(base)
            for _ in range(int(rng.integers(0, 4))):
                pos = int(rng.integers(0, len(toks)))
                op = rng.integers(0, 3)
                if op == 0:
                    toks[pos] = int(rng.integers(0, vocab))
                elif op == 1:
                    toks.insert(pos, int(rng.integers(0, vocab)))
                elif len(toks) > 3:
                    del toks[pos]
            members.append(len(texts))
            texts.append(" ".join(words[toks]))
        families.append(members)
    while len(texts) < n_docs:
        texts.append(" ".join(words[rng.integers(0, vocab, rng.integers(*length))]))
    # shuffle ids so family members are not adjacent
    perm = rng.permutation(len(texts))
    docs = pd.DataFrame(
        {"doc_id": perm.astype(np.int64), "text": texts}
    ).sort_values("doc_id", ignore_index=True)
    families = [[int(perm[m]) for m in fam] for fam in families]
    return Corpus(docs=docs, families=families)
